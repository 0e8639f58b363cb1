package perfbench

import java.time.LocalDateTime

import org.scalatest.funsuite.AnyFunSuite

import graft.model.Schemas

/** The generator is the benchmark's input: one seed must always give the
  * same rows, distinct seeds must never share an id, and the rows must carry
  * the dirty values the Gold rules exist for.
  */
class GenSpec extends AnyFunSuite {
  private val batch = Gen.Batch(0L, 3000, Bench.Y2023, Bench.TwoYears)
  private def col(name: String) = Schemas.crashColumns.indexOf(name)

  test("the same seed gives identical raw data") {
    val a = Gen.rows(42L, batch)
    val b = Gen.rows(42L, batch)
    assert(a.keySet == Set("crashes", "vehicles", "people"))
    a.foreach { case (entity, rows) => assert(rows == b(entity), entity) }
    assert(a("crashes").size == batch.n)
    assert(a("crashes").head.length == Schemas.crashColumns.size)
    assert(a("vehicles").head.length == Schemas.vehicleColumns.size)
    assert(a("people").head.length == Schemas.peopleColumns.size)
  }

  test("different seeds give disjoint ids") {
    def ids(seed: Long) = Gen.rows(seed, batch).values.flatten.map(_.getString(0)).toSet
    assert((ids(1L) intersect ids(2L)).isEmpty)
  }

  test("rows carry the dirty values every cleaner rule acts on") {
    val crashes = Gen.rows(7L, batch)("crashes")
    def values(name: String) = crashes.map(r => Option(r.getString(col(name))))
    val coords = crashes.map(r => (Option(r.getString(col("latitude"))), Option(r.getString(col("longitude")))))
    assert(values("crash_date").contains(None), "null dates")
    assert(values("crash_date").flatten.exists(_.contains(".")), "dates with millis")
    assert(values("crash_date").flatten.forall(d => scala.util.Try(LocalDateTime.parse(d)).isSuccess))
    assert(coords.contains((None, None)), "null coordinates")
    assert(coords.contains((Some("0"), Some("0"))), "(0,0) coordinates")
    assert(coords.exists { case (lat, _) => lat.exists(_.toDouble < 41.6) && lat.exists(_ != "0") },
      "out-of-bbox coordinates")
    assert(values("weather_condition").flatten.contains("FOG/SMOKE/HAZE"), "off-whitelist weather")
    assert(values("weather_condition").contains(None), "null categories")
    assert(values("num_units").flatten.contains("11"), "num_units above the cap")
    assert(values("posted_speed_limit").flatten.contains("99"), "speed above the cap")
    assert(values("hit_and_run_i").flatten.toSet.intersect(Set("yes", "t", "1")).nonEmpty, "boolean variants")
    val ids = crashes.map(_.getString(0))
    assert(ids.distinct.size < ids.size, "within-batch duplicate ids")
    val withVehicles = Gen.rows(7L, batch)("vehicles").map(_.getString(0)).toSet
    assert(ids.exists(id => !withVehicles(id)), "crashes without vehicles")
    assert(withVehicles.exists(id => !ids.contains(id)), "orphan vehicles")
  }

  test("republished ids replace the first rows of a batch") {
    val repub = Seq("r1", "r2")
    val rows = Gen.rows(3L, batch.copy(n = 10, republish = repub))("crashes")
    assert(rows.take(2).map(_.getString(0)) == repub)
    assert(!rows.drop(2).map(_.getString(0)).exists(repub.contains))
  }

  test("timestamps print the way Spark casts them to strings") {
    assert(Bench.sparkTimestampString(LocalDateTime.parse("2024-01-25T22:00:00")) == "2024-01-25 22:00:00")
    assert(Bench.sparkTimestampString(LocalDateTime.parse("2024-01-25T22:00:00.120")) == "2024-01-25 22:00:00.12")
  }
}
