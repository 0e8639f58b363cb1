package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.model.Schemas

/** Seeded crash-domain generator: the three Bronze entities of FIXTURES.md
  * A1-A3 as all-string rows (the Socrata convention), with the dirty values
  * every cleaner rule acts on — off-whitelist categories, nulls, null dates,
  * null / (0,0) / out-of-bbox coordinates, boolean spelling variants, capped
  * numerics, within-batch duplicate ids, orphan children and crashes without
  * vehicles or people.
  *
  * Every value is a hash of (seed, row, column), so one seed always gives the
  * same rows in the same order. Ids start with the seed, so two seeds never
  * share an id.
  */
object Gen {

  /** Crash rows `first until first + n`, dated uniformly in
    * `(fromSec, fromSec + spanSec)` (epoch seconds, UTC). The batch's first
    * rows take the `republish` ids: they re-publish existing crashes with new
    * content.
    */
  final case class Batch(first: Long, n: Int, fromSec: Long, spanSec: Long,
      republish: Seq[String] = Nil)

  /** splitmix64 finalizer over (seed, row, column): uniform 64-bit value. */
  private def h(seed: Long, row: Long, salt: Int): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + row * 0xBF58476D1CE4E5B9L + salt * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def u(seed: Long, row: Long, salt: Int, m: Int): Int =
    java.lang.Math.floorMod(h(seed, row, salt), m.toLong).toInt

  private def pick(seed: Long, row: Long, salt: Int, values: IndexedSeq[String]): String =
    values(u(seed, row, salt, values.size))

  def crashId(seed: Long, row: Long): String = f"$seed%08x-${h(seed, row, 0)}%016x${h(seed, row, 1)}%016x"

  /** Logical row behind row `i`: one row in seventy repeats the previous one. */
  private def logical(seed: Long, b: Batch, i: Long): Long =
    if (i > b.first && u(seed, i, 2, 70) == 0) i - 1 else i

  private def idOf(seed: Long, b: Batch, i: Long): String =
    if (i - b.first < b.republish.size) b.republish((i - b.first).toInt)
    else crashId(seed, logical(seed, b, i))

  private val second = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(ZoneOffset.UTC)
  private val milli = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS").withZone(ZoneOffset.UTC)

  private val yn = IndexedSeq("Y", "N", "N", "N", "N", "N", null, "yes", "1", "0", "t", "no")
  private val crashTypes = IndexedSeq("NO INJURY / DRIVE AWAY", "NO INJURY / DRIVE AWAY",
    "INJURY AND / OR TOW DUE TO CRASH", "no injury / drive away", "OTHER TYPE", null)
  private val speeds = IndexedSeq("15", "20", "25", "30", "30", "30", "35", "40", "45", "55", "99", null)
  private val weather = IndexedSeq("CLEAR", "CLEAR", "CLEAR", "RAIN", "CLOUDY/OVERCAST", "SNOW",
    "SLEET/HAIL", "FOG/SMOKE/HAZE", "FREEZING RAIN/DRIZZLE", "UNKNOWN", "clear", null)
  private val units = IndexedSeq("1", "2", "2", "2", "3", "4", "11", null)
  private val injuries = IndexedSeq("0", "0", "0", "0.0", "1", "1.0", "2", "5", null)
  private val devices = IndexedSeq("NO CONTROLS", "NO CONTROLS", "TRAFFIC SIGNAL",
    "STOP SIGN/FLASHER", "UNKNOWN", "YIELD", "RAILROAD CROSSING GATE", null)
  private val zoneTypes = IndexedSeq(null, null, null, "CONSTRUCTION", "MAINTENANCE")
  private val lighting = IndexedSeq("DAYLIGHT", "DAYLIGHT", "DARKNESS, LIGHTED ROAD", "DARKNESS",
    "DAWN", "DUSK", "UNKNOWN", "STROBE", null)
  private val defects = IndexedSeq("NO DEFECTS", "NO DEFECTS", "UNKNOWN", "RUT, HOLES", "WORN SURFACE", null)
  private val surfaces = IndexedSeq("DRY", "DRY", "WET", "SNOW OR SLUSH", "ICE", "UNKNOWN",
    "SAND, MUD, DIRT", null)
  private val directions = IndexedSeq("N", "S", "E", "W", null)
  private val trafficways = IndexedSeq("NOT DIVIDED", "DIVIDED - W/MEDIAN (NOT RAISED)", "ONE-WAY",
    "PARKING LOT", "FOUR WAY", null)

  /** Crash row `i` of batch `b`, in [[Schemas.crashColumns]] order. */
  def crashRow(seed: Long, b: Batch, i: Long): Row = {
    val l = logical(seed, b, i)
    // a repeated row differs from its original at most in crash_type, which
    // no Gold rule filters on
    val typeRow = if (l != i && u(seed, i, 3, 2) == 0) i else l
    val ms = if (u(seed, l, 4, 3) == 0) 1 + u(seed, l, 5, 999) else 0
    val at = Instant.ofEpochSecond(b.fromSec + 1 + u(seed, l, 6, (b.spanSec - 2).toInt), ms * 1000000L)
    val date = if (u(seed, l, 7, 200) == 0) null else if (ms == 0) second.format(at) else milli.format(at)
    val utc = at.atZone(ZoneOffset.UTC)
    val geo = u(seed, l, 8, 1000)
    val (lat, lng) =
      if (geo < 10) (null, null)
      else if (geo < 15) ("0", "0")
      else if (geo < 20) ("40.71", "-74.01")
      else (f"${41.645 + u(seed, l, 9, 37000) / 100000.0}%.5f", f"${-87.935 + u(seed, l, 10, 40000) / 100000.0}%.5f")
    def orNull(salt: Int, perMille: Int, v: => String) = if (u(seed, l, salt, 1000) < perMille) null else v
    Row(
      idOf(seed, b, i), date, pick(seed, typeRow, 11, crashTypes), pick(seed, l, 12, speeds),
      pick(seed, l, 13, weather), orNull(14, 300, (1 + u(seed, l, 15, 6)).toString),
      pick(seed, l, 16, yn), orNull(17, 10, (111 + u(seed, l, 18, 2400)).toString),
      pick(seed, l, 19, units), pick(seed, l, 20, injuries),
      orNull(21, 10, utc.getHour.toString), orNull(22, 5, (utc.getDayOfWeek.getValue % 7 + 1).toString),
      lat, lng, pick(seed, l, 23, devices), pick(seed, l, 24, yn), pick(seed, l, 25, zoneTypes),
      pick(seed, l, 26, yn), pick(seed, l, 27, lighting), pick(seed, l, 28, defects),
      pick(seed, l, 29, surfaces), pick(seed, l, 30, directions), pick(seed, l, 31, trafficways),
      pick(seed, l, 32, yn))
  }

  /** Children of crash row `i`: none for one crash in twenty, else 1..max;
    * one child in a hundred is an orphan whose crash never appears.
    */
  private def children(seed: Long, b: Batch, i: Long, salt: Int, max: Int): Seq[(String, Long)] = {
    val n = if (u(seed, i, salt, 20) == 0) 0 else 1 + u(seed, i, salt + 1, max)
    (0 until n).map { c =>
      val key = i * 8 + c
      val owner = if (u(seed, key, salt + 2, 100) == 0) crashId(seed, i + (1L << 40)) else idOf(seed, b, i)
      (owner, key)
    }
  }

  private val vehicleTypes = IndexedSeq("DRIVER", "DRIVER", "PARKED", "PEDESTRIAN", null)
  private val makes = IndexedSeq("TOYOTA", "FORD", "CHEVROLET", "HONDA", "NISSAN", "UNKNOWN", null)
  private val models = IndexedSeq("CAMRY", "F150", "MALIBU", "CIVIC", "ALTIMA", "OTHER", null)
  private val travel = IndexedSeq("N", "S", "E", "W", "UNKNOWN")
  private val maneuvers = IndexedSeq("STRAIGHT AHEAD", "TURNING LEFT", "PARKED", "BACKING", null)
  private val contacts = IndexedSeq("FRONT", "REAR", "SIDE-LEFT", "SIDE-RIGHT", null)
  private val vDefects = IndexedSeq("NONE", "NONE", "UNKNOWN", "BRAKES", null)
  private val uses = IndexedSeq("PERSONAL", "PERSONAL", "TAXI/FOR HIRE", "COMMERCIAL", null)
  private val towed = IndexedSeq("Y", "N", "N", null)

  def vehicleRows(seed: Long, b: Batch, i: Long): Seq[Row] =
    children(seed, b, i, 40, 3).zipWithIndex.map { case ((owner, k), c) =>
      Row(owner, (c + 1).toString, (7000000L + k).toString, pick(seed, k, 43, vehicleTypes),
        pick(seed, k, 44, makes), pick(seed, k, 45, models),
        if (u(seed, k, 46, 20) == 0) null else (1995 + u(seed, k, 47, 30)).toString,
        pick(seed, k, 48, travel), pick(seed, k, 49, maneuvers), pick(seed, k, 50, contacts),
        pick(seed, k, 51, vDefects), pick(seed, k, 52, uses), pick(seed, k, 53, towed))
    }

  private val personTypes = IndexedSeq("DRIVER", "DRIVER", "PASSENGER", "PEDESTRIAN", "BICYCLE", null)
  private val sexes = IndexedSeq("M", "F", "X", null)
  private val seats = IndexedSeq("1", "2", "3", null, null)
  private val injuryClasses = IndexedSeq("NO INDICATION OF INJURY", "NO INDICATION OF INJURY",
    "NONINCAPACITATING INJURY", "REPORTED, NOT EVIDENT", "FATAL", null)
  private val equipment = IndexedSeq("SAFETY BELT USED", "USAGE UNKNOWN", "NONE PRESENT", null)
  private val airbags = IndexedSeq("DID NOT DEPLOY", "DEPLOYED, FRONT", "NOT APPLICABLE", null)
  private val ejections = IndexedSeq("NONE", "NONE", "TOTALLY EJECTED", null)

  def personRows(seed: Long, b: Batch, i: Long): Seq[Row] =
    children(seed, b, i, 60, 4).map { case (owner, k) =>
      Row(owner, s"P$k", pick(seed, k, 63, personTypes),
        if (u(seed, k, 64, 12) == 0) null else (16 + u(seed, k, 65, 80)).toString,
        pick(seed, k, 66, sexes), pick(seed, k, 67, seats), pick(seed, k, 68, injuryClasses),
        pick(seed, k, 69, equipment), pick(seed, k, 70, airbags), pick(seed, k, 71, ejections))
    }

  /** The batch's rows by entity: crashes, vehicles, people. */
  def rows(seed: Long, b: Batch): Map[String, Seq[Row]] = {
    val idx = b.first until b.first + b.n
    Map("crashes" -> idx.map(crashRow(seed, b, _)), "vehicles" -> idx.flatMap(vehicleRows(seed, b, _)),
      "people" -> idx.flatMap(personRows(seed, b, _)))
  }

  val schemas: Map[String, StructType] = Map("crashes" -> Schemas.bronzeCrashes,
    "vehicles" -> Schemas.bronzeVehicles, "people" -> Schemas.bronzePeople)
}
