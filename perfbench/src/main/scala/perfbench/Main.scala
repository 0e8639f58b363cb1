package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.{Instant, LocalDate, LocalDateTime}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{GraftSession, Pipeline}
import graft.analytics.Dashboard
import graft.ingest.Ingest
import graft.ml.Scoring
import graft.model.{JobSpec, Schemas}

/** The pipeline benchmark: one workload per invocation, closed loop, one
  * client thread, on a `GraftSession.local(cores)` session.
  *
  *   --workload incremental|dashboard --seed N --seconds S --trace 0|1
  *   --cores C --work DIR --out FILE [--crashes N] [--batches L]
  *
  * Prints every metric on stderr and, as its last stdout line, the result
  * object after the `PERFBENCH_RESULT ` marker. Exits 1 on any failed
  * operation or output check.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, work: String, out: String, crashes: Int, batches: Int)

  val workloads = Seq("incremental", "dashboard")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("cores").toInt, need("work"), need("out"),
      need("crashes").toInt, need("batches").toInt)
    require(workloads.contains(o.workload), s"unknown workload ${o.workload}")
    val bench = new Bench(o)
    val ok = try bench.run() finally bench.stop()
    System.exit(if (ok) 0 else 1)
  }
}

final class Bench(o: Main.Opts) {
  import Bench._

  private val started = System.nanoTime()
  private val spark = GraftSession.local(o.cores)
  private val sessionS = (System.nanoTime() - started) / 1e9
  private val counters = new TaskCounters(spark.sparkContext)
  spark.sparkContext.addSparkListener(counters)
  private val tracer = new Tracer(counters)

  private var attempted = 0L
  private var failed = 0L
  private val errors = mutable.ArrayBuffer.empty[String]
  private val checkFailures = mutable.ArrayBuffer.empty[String]
  private var checks = 0
  private val setupPhases = mutable.LinkedHashMap.empty[String, Double]
  private val opWall, opCpu, stored = mutable.ArrayBuffer.empty[Double]
  private val tracedWall, plainWall = mutable.ArrayBuffer.empty[Double]
  private val layerSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val setupLayers = mutable.LinkedHashMap.empty[String, Double]

  private val work = o.work
  private val snap = s"$work/snap"
  private val now = LocalDate.parse("2025-01-01")

  def stop(): Unit = spark.stop()

  // ---- bookkeeping --------------------------------------------------------

  private def check(name: String, ok: Boolean, detail: => String): Unit = {
    checks += 1
    if (!ok) { checkFailures += s"$name: $detail"; System.err.println(s"[perfbench] CHECK FAILED $name: $detail") }
  }

  /** One attempted operation: a throw is counted by name and never timed. */
  private def attempt[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$name: $e"
        System.err.println(s"[perfbench] FAILED $name: $e")
        e.printStackTrace()
        None
    }
  }

  private final case class Timed[T](value: T, wallS: Double, work: Counters)

  private def timed[T](body: => T): Timed[T] = {
    val c0 = counters.read()
    val t0 = System.nanoTime()
    val v = body
    val wall = (System.nanoTime() - t0) / 1e9
    Timed(v, wall, counters.read() - c0)
  }

  private def phase[T](name: String)(body: => T): T = {
    val t = timed(body)
    setupPhases(name) = setupPhases.getOrElse(name, 0.0) + t.wallS
    t.value
  }

  private def sample(name: String, v: Double): Unit =
    layerSamples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  // ---- inputs -------------------------------------------------------------

  private final case class Landed(raw: Map[String, DataFrame], crashes: Seq[Row])

  /** Writes a batch's three entities as string parquet (the landed raw data
    * a backfill starts from) and reads them back.
    */
  private def land(name: String, b: Gen.Batch): Landed = {
    val dir = s"$work/raw/$name"
    val rows = Gen.rows(o.seed, b)
    val raw = rows.map { case (a, rs) =>
      frame(a, rs).write.parquet(s"$dir/$a")
      a -> spark.read.schema(Gen.schemas(a)).parquet(s"$dir/$a")
    }
    Landed(raw, rows("crashes"))
  }

  /** A micro-run's pages, handed to the pipeline in memory as fetched. */
  private def pages(b: Gen.Batch): Landed = {
    val rows = Gen.rows(o.seed, b)
    Landed(rows.map { case (a, rs) => a -> frame(a, rs) }, rows("crashes"))
  }

  private def frame(entity: String, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Gen.schemas(entity))

  /** Distinct ids the Gold rules keep, computed apart from the program: a
    * parseable date, and coordinates that are null or inside the Chicago box
    * and not (0,0).
    */
  private def survivors(crashes: Seq[Row]): Set[String] = crashes.filter { r =>
    val date = Option(r.getString(DateCol))
    val lat = Option(r.getString(LatCol)).map(_.toDouble)
    val lng = Option(r.getString(LngCol)).map(_.toDouble)
    val coords = (lat, lng) match {
      case (Some(a), Some(g)) => !(a == 0.0 && g == 0.0) && a >= 41.6 && a <= 42.1 && g >= -88.0 && g <= -87.5
      case _ => true
    }
    date.exists(d => scala.util.Try(LocalDateTime.parse(d)).isSuccess) && coords
  }.map(_.getString(IdCol)).toSet

  private def maxDate(crashes: Seq[Row]): String =
    sparkTimestampString(crashes.flatMap(r => Option(r.getString(DateCol))).map(LocalDateTime.parse).max)

  // ---- pipeline runs ------------------------------------------------------

  private def runPipeline(job: JobSpec, raw: Map[String, DataFrame], base: String, corr: String,
      traced: Boolean): Pipeline.RunResult =
    if (traced) Replica.run(spark, job, raw, base, corr, now, tracer)
    else Pipeline.run(spark, job, raw, base, corr, now)

  /** Order-free content hash of a Gold table. */
  private def goldHash(base: String): String = {
    val g = spark.read.parquet(s"$base/gold")
    val r = g.agg(count(lit(1)), sum(xxhash64(g.columns.sorted.map(col): _*).cast("decimal(38,0)")))
      .first()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  private def bucketBytes(base: String): Map[String, Long] = {
    val g = Paths.get(s"$base/gold")
    if (!Files.isDirectory(g)) Map.empty
    else list(g).filter(p => Files.isDirectory(p)).map(p => p.getFileName.toString -> bytes(p)).toMap
  }

  /** Per-layer numbers of one traced pipeline run, from its spans plus what
    * it left on disk.
    */
  private def pipelineLayers(op: Int, base: String, corr: String, res: Pipeline.RunResult,
      before: Map[String, Long], filesBefore: Long): Map[String, Double] = {
    val spans = tracer.ofOp(op)
    def s(n: String) = spans.find(_.name == n).get
    val (ing, rb, sil, cl, up, root) = (s("ingest"), s("ingest.read_bronze"), s("silver"),
      s("gold.clean"), s("gold.upsert"), s("pipeline"))
    val bronzeDirs = list(Paths.get(s"$base/crashes")).flatMap(y => list(y))
      .filter(_.getFileName.toString == s"corr=$corr") ++
      Seq("vehicles", "people").map(a => Paths.get(s"$base/$a/corr=$corr"))
    val touched = spark.read.option("header", "true").csv(s"$base/silver/corr=$corr")
      .select(pmod(xxhash64(col("crash_record_id")), lit(64L)).as("b")).distinct()
      .collect().map(r => s"${graft.gold.GoldWriter.bucketCol}=${r.getLong(0)}").toSet
    val beforeTotal = before.values.sum
    Map(
      "ingest.wall_s" -> ing.wallS, "ingest.cpu_s" -> ing.work.cpuS,
      "ingest.jobs" -> ing.work.jobs.toDouble, "ingest.tasks" -> ing.work.tasks.toDouble,
      "ingest.input_mb" -> ing.work.inputB / MB, "ingest.bronze_mb" -> bronzeDirs.map(bytes).sum / MB,
      "ingest.rows_landed" -> ing.work.outputRecords.toDouble, "ingest.read_bronze_s" -> rb.wallS,
      "silver.wall_s" -> sil.wallS, "silver.cpu_s" -> sil.work.cpuS,
      "silver.jobs" -> sil.work.jobs.toDouble, "silver.tasks" -> sil.work.tasks.toDouble,
      "silver.shuffle_mb" -> sil.work.shuffleWriteB / MB, "silver.spill_mb" -> sil.work.spillB / MB,
      "silver.csv_mb" -> bytes(Paths.get(s"$base/silver/corr=$corr")) / MB,
      "silver.rows" -> sil.work.outputRecords.toDouble,
      "gold.clean_s" -> cl.wallS, "gold.clean_jobs" -> cl.work.jobs.toDouble,
      "gold.upsert_s" -> up.wallS, "gold.upsert_cpu_s" -> up.work.cpuS,
      "gold.upsert_jobs" -> up.work.jobs.toDouble, "gold.upsert_input_mb" -> up.work.inputB / MB,
      "gold.conflict_scan_fraction" ->
        (if (beforeTotal == 0) 0.0 else before.filter(kv => touched(kv._1)).values.sum.toDouble / beforeTotal),
      "gold.insert_ratio" -> res.report.insertedRows.toDouble / math.max(1L, res.silverRows),
      "gold.files_added" -> (parquetFiles(s"$base/gold") - filesBefore).toDouble,
      "gold.table_files" -> parquetFiles(s"$base/gold").toDouble,
      "pipeline.self_s" -> tracer.selfS(root), "pipeline.jobs_per_run" -> root.work.jobs.toDouble)
  }

  /** One pipeline operation, timed; traced ones run through the replica and
    * add their per-layer samples.
    */
  private def pipelineOp(name: String, job: JobSpec, raw: Map[String, DataFrame], base: String,
      corr: String, traced: Boolean): Option[Timed[Pipeline.RunResult]] = {
    val before = if (traced) bucketBytes(base) else Map.empty[String, Long]
    val filesBefore = if (traced) parquetFiles(s"$base/gold") else 0L
    val op = if (traced) tracer.newOp() else 0
    attempt(name)(timed(runPipeline(job, raw, base, corr, traced))).map { t =>
      (if (traced) tracedWall else plainWall) += t.wallS
      if (traced) pipelineLayers(op, base, corr, t.value, before, filesBefore).foreach { case (k, v) => sample(k, v) }
      t
    }
  }

  private def storedBytesPerCrash(base: String, goldRows: Long): Double =
    Seq("crashes", "vehicles", "people", "silver", "gold")
      .map(d => bytes(Paths.get(s"$base/$d"))).sum.toDouble / math.max(1L, goldRows)

  // ---- dashboard ----------------------------------------------------------

  private var model: PipelineModel = _

  /** The page: every public Dashboard query function on the Gold table, plus
    * scoring the reference's default 5,000-row cap. Each panel collects its
    * rows as the dashboard would render them.
    */
  private def panels(base: String): Seq[(String, () => Array[Row])] = {
    lazy val gold = spark.read.parquet(s"$base/gold")
    def rows(df: => DataFrame) = () => df.collect()
    Seq(
      "load" -> (() => { gold.createOrReplaceTempView("gold"); Array(Row(gold.columns.length)) }),
      "rate_by_weather" -> rows(Dashboard.rateBy(gold, "weather_condition")),
      "rate_by_speed_bin" -> rows(Dashboard.rateBySpeedBin(gold)),
      "hourly_with_class" -> rows(Dashboard.hourlyWithClass(gold)),
      "by_day_name" -> rows(Dashboard.byDayName(gold)),
      "hour_day_pivot" -> rows(Dashboard.hourDayPivot(gold)),
      "top_k_beats" -> rows(Dashboard.topK(gold, "beat_of_occurrence", 10)),
      "correlation_matrix" -> rows(Dashboard.correlationMatrix(gold)),
      "quality_metrics" -> rows(Dashboard.qualityMetrics(gold)),
      "run_history" -> rows(Dashboard.runHistory(gold)),
      "geo_sample" -> rows(Dashboard.geoSample(gold, 2000)),
      "describe_injuries" -> rows(Dashboard.describeColumn(gold, "injuries_total")),
      "catalog" -> rows(Dashboard.catalog(spark)),
      "preview" -> rows(Dashboard.preview(gold, "2024-06-01", "2024-06-30", 100)),
      "describe_path" -> rows(Dashboard.describePath(spark, s"$base/gold")),
      "report" -> (() => Array(Row(Dashboard.writeReport(spark, gold, s"$work/report.html",
        "2025-01-01T00:00:00Z")))),
      "ml_score" -> (() => {
        val m = Scoring.metrics(Scoring.score(model, gold.orderBy("crash_record_id").limit(5000)))
        Array(Row(m.tn, m.fp, m.fn, m.tp))
      }))
  }

  /** Per panel, the (wall, task CPU) seconds of every load. */
  private val panelSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, Double)]]
  private var referencePage: Map[String, Seq[String]] = Map.empty

  /** One page load; None if a panel failed. */
  private def page(traced: Boolean): Option[(Double, Counters, Map[String, Array[Row]], Int)] = {
    val c0 = counters.read()
    val t0 = System.nanoTime()
    val out = mutable.LinkedHashMap.empty[String, Array[Row]]
    var ok = true
    val op = if (traced) tracer.newOp() else 0
    panels(snap).foreach { case (name, fn) =>
      if (ok) {
        val spanName = if (name == "ml_score") "ml.score" else s"dash.$name"
        attempt(s"panel $name")(timed(if (traced) tracer.span(spanName)(fn()) else fn())) match {
          case Some(t) =>
            out(name) = t.value
            panelSamples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ((t.wallS, t.work.cpuS))
          case None => ok = false
        }
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (ok) Some((wall, counters.read() - c0, out.toMap, op)) else None
  }

  private def checkPage(res: Map[String, Array[Row]], goldRows: Long): Unit = {
    val digest = res.map { case (k, v) => k -> v.toSeq.map(_.toString) }
    if (referencePage.isEmpty) {
      referencePage = digest
      check("rateBy total", res("rate_by_weather").map(_.getAs[Long]("n")).sum == goldRows,
        s"rateBy n sums to ${res("rate_by_weather").map(_.getAs[Long]("n")).sum}, Gold has $goldRows")
      val pivot = res("hour_day_pivot").map(r => (1 to 7).map(d => r.getAs[Long](d.toString)).sum).sum
      check("hourDayPivot total", pivot == goldRows, s"pivot cells sum to $pivot, Gold has $goldRows")
      val q = res("quality_metrics").head
      check("qualityMetrics rows", q.getAs[Long]("rows") == goldRows,
        s"qualityMetrics rows ${q.getAs[Long]("rows")}, Gold has $goldRows")
      check("qualityMetrics duplicate keys", q.getAs[Long]("duplicate_keys") == 0L,
        s"${q.getAs[Long]("duplicate_keys")} duplicate keys")
    } else {
      val diff = digest.keys.filter(k => digest(k) != referencePage(k))
      check("page results identical", diff.isEmpty, s"panels differ from the first load: ${diff.mkString(", ")}")
    }
  }

  // ---- set-up -------------------------------------------------------------

  private val backfillJob = JobSpec.parse(jobJson("backfill",
    """"date_range": {"field": "crash_date", "start": "2023-01-01T00:00:00", "end": "2025-01-01T00:00:00"},"""))
  private val streamingJob = JobSpec.parse(jobJson("streaming", ""))

  private var main: Landed = _
  private var expectedRows = 0L
  private var snapRows = 0L
  private var backfill: Timed[Pipeline.RunResult] = _
  private final case class MicroBatch(raw: Map[String, DataFrame], newIds: Set[String], watermark: String)
  private var micro: Seq[MicroBatch] = Nil

  /** Generates and lands the seed's data, backfills it into the Gold
    * snapshot the workloads start from (the process's first pipeline run,
    * timed as `backfill_s`), then prepares what the workload needs.
    */
  private def setup(): Unit = {
    phase("generate") {
      main = land("main", Gen.Batch(0L, o.crashes, Y2023, TwoYears))
      expectedRows = survivors(main.crashes).size.toLong
    }
    backfill = phase("backfill")(timed(Pipeline.run(spark, backfillJob, main.raw, snap, "backfill", now)))
    snapRows = backfill.value.report.totalRows
    checkBackfill("backfill", backfill.value)
    // streaming runs continue from the newest landed crash
    Ingest.saveWatermark(s"$snap/watermarks/last.txt", maxDate(main.crashes), "streaming")
    stored += storedBytesPerCrash(snap, snapRows)
    if (o.workload == "incremental") phase("generate") {
      val ids = spark.read.parquet(s"$snap/gold").select("crash_record_id")
        .orderBy(xxhash64(col("crash_record_id"), lit(o.seed))).limit(RepublishPerRun * o.batches)
        .collect().map(_.getString(0)).toSeq
      micro = (0 until o.batches).map { k =>
        val repub = ids.slice(RepublishPerRun * k, RepublishPerRun * (k + 1))
        val l = pages(Gen.Batch((2L << 36) + k * 1000L, CrashesPerRun, Y2025 + k * SixHours,
          SixHours, repub))
        MicroBatch(l.raw, survivors(l.crashes) -- repub, maxDate(l.crashes))
      }
    }
    if (o.workload == "dashboard" || o.trace) phase("train") {
      val gold = spark.read.parquet(s"$snap/gold").cache()
      model = Scoring.train(gold)
      gold.unpersist()
    }
  }

  private def checkBackfill(what: String, r: Pipeline.RunResult): Unit = {
    check(s"$what Gold rows", r.report.totalRows == expectedRows && r.report.insertedRows == expectedRows,
      s"Gold has ${r.report.totalRows} rows (${r.report.insertedRows} inserted), expected $expectedRows")
    check(s"$what integrity", r.report.duplicateKeys == 0 && r.report.nullKeys == 0,
      s"${r.report.duplicateKeys} duplicate keys, ${r.report.nullKeys} null keys")
  }

  /** Traced runs only. The traced replica backfills the same data; its Gold
    * must hash like Pipeline.run's, and replaying its corr_id must insert
    * nothing. Its spans, and one traced page, give the per-layer numbers of
    * layers the workload's own operations do not reach.
    */
  private def tracedSetup(): Unit = {
    val base = s"$work/replica"
    val op = tracer.newOp()
    val r = Replica.run(spark, backfillJob, main.raw, base, "backfill", now, tracer)
    checkBackfill("replica backfill", r)
    check("replica Gold hash", goldHash(base) == goldHash(snap),
      s"replica ${goldHash(base)} vs Pipeline.run ${goldHash(snap)}")
    pipelineLayers(op, base, "backfill", r, Map.empty, 0L).foreach { case (k, v) => setupLayers(k) = v }
    val again = Pipeline.run(spark, backfillJob, main.raw, base, "backfill", now)
    check("backfill replay inserts nothing",
      again.report.insertedRows == 0 && again.report.totalRows == r.report.totalRows,
      s"replaying the corr_id inserted ${again.report.insertedRows} rows")
    deleteTree(Paths.get(base))
    setupLayers("ml.train_s") = setupPhases("train")
    page(traced = true).foreach { case (wall, c, res, op) =>
      checkPage(res, snapRows)
      dashLayers(wall, c, tracer.ofOp(op)).foreach { case (k, v) => setupLayers(k) = v }
    }
  }

  private def dashLayers(wall: Double, c: Counters, spans: Seq[Span]): Map[String, Double] =
    spans.map(s => s"${s.name}_ms" -> s.wallS * 1000).toMap ++ Map("dash.page_s" -> wall,
      "dash.jobs_per_page" -> c.jobs.toDouble, "dash.input_mb_per_page" -> c.inputB / MB)

  // ---- workloads ----------------------------------------------------------

  /** Sequences of streaming micro-runs, each from a fresh copy of the
    * snapshot. Traced runs make at least two sequences and trace every other
    * micro-run, alternating which, so traced and untraced runs sit at the
    * same positions.
    */
  private def incremental(deadline: Long): Unit = {
    var s = 0
    var last = 0L
    while (s < (if (o.trace) 2 else 1) || System.nanoTime() + last < deadline) {
      val t0 = System.nanoTime()
      val base = s"$work/seq-$s"
      copyTree(Paths.get(snap), Paths.get(base))
      var ok = true
      micro.zipWithIndex.foreach { case (b, k) =>
        if (ok) {
          val traced = o.trace && (k + s) % 2 == 0
          pipelineOp(s"micro-run $k", streamingJob, b.raw, base, s"inc-$k", traced) match {
            case Some(t) =>
              opWall += t.wallS; opCpu += t.work.cpuS
              val r = t.value.report
              check(s"micro-run $k inserts its new ids", r.insertedRows == b.newIds.size,
                s"inserted ${r.insertedRows}, expected ${b.newIds.size}")
              check(s"micro-run $k integrity", r.duplicateKeys == 0 && r.nullKeys == 0,
                s"${r.duplicateKeys} duplicate keys, ${r.nullKeys} null keys")
              check(s"micro-run $k watermark", t.value.watermark.contains(b.watermark),
                s"watermark ${t.value.watermark}, expected ${b.watermark}")
            case None => ok = false
          }
        }
      }
      if (ok) {
        val inc = spark.read.parquet(s"$base/gold").where(col("corr_id").startsWith("inc-"))
          .select("corr_id", "crash_record_id").collect()
          .groupBy(_.getString(0)).map { case (c, rs) => c -> rs.map(_.getString(1)).toSet }
        val expected = micro.zipWithIndex.map { case (b, k) => s"inc-$k" -> b.newIds }.toMap
          .filter(_._2.nonEmpty)
        check("micro-runs insert exactly their new ids", inc == expected,
          "Gold rows of the micro-runs differ from their new, rule-surviving ids")
        val last = micro.size - 1
        val again = Pipeline.run(spark, streamingJob, micro(last).raw, base, s"inc-$last", now)
        check("micro-run replay inserts nothing", again.report.insertedRows == 0,
          s"replaying inc-$last inserted ${again.report.insertedRows} rows")
      }
      deleteTree(Paths.get(base))
      s += 1
      last = System.nanoTime() - t0
    }
  }

  /** Page loads against the snapshot, at least two; traced runs trace every
    * other page.
    */
  private def dashboard(deadline: Long): Unit = {
    var i = 0
    var last = 0L
    while (i < 2 || System.nanoTime() + last < deadline) {
      val t0 = System.nanoTime()
      val traced = o.trace && i % 2 == 1
      page(traced).foreach { case (wall, c, res, op) =>
        opWall += wall; opCpu += c.cpuS
        (if (traced) tracedWall else plainWall) += wall
        checkPage(res, snapRows)
        if (traced) dashLayers(wall, c, tracer.ofOp(op)).foreach { case (k, v) => sample(k, v) }
      }
      i += 1
      last = System.nanoTime() - t0
    }
  }

  // ---- result -------------------------------------------------------------

  /** An operation's best-of-run cost: the fastest micro-run, or a page made
    * of each panel's fastest load. Interference from other processes only
    * ever slows an operation down, so the minimum is the steadiest estimate.
    */
  private def best(of: ((Double, Double)) => Double): Double =
    if (opWall.isEmpty) Double.NaN
    else if (o.workload == "dashboard") panelSamples.values.map(_.map(of).min).sum
    else opWall.zip(opCpu).map(of).min

  def run(): Boolean = {
    val setupT = timed(setup())
    val setupS = sessionS + setupT.wallS
    if (o.trace) tracedSetup()
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    o.workload match {
      case "incremental" => incremental(deadline)
      case "dashboard" => dashboard(deadline)
    }
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "op_cpu_s" -> (best(_._2), "s"),
      "backfill_cpu_s" -> (backfill.work.cpuS, "s"),
      "stored_bytes_per_crash" -> (quantile(stored, 0.5), "B"))
    val allPanels = panelSamples.values.flatten.map(_._1).toSeq
    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (o.trace) {
      val merged = setupLayers ++ layerSamples.map { case (k, v) => k -> quantile(v, 0.5) }
      layerNames.foreach { case (k, unit) => layers(k) = (merged.getOrElse(k, Double.NaN), unit) }
      layers("backfill.wall_s") = (backfill.wallS, "s")
      layers("op.wall_s") = (best(_._1), "s")
      layers("jvm.peak_rss_mb") = (peakRssMb(), "MB")
      layers("op.p50_s") = (quantile(opWall, 0.5), "s")
      layers("op.p90_s") = (quantile(opWall, 0.9), "s")
      layers("dash.panel_p50_ms") = (quantile(allPanels, 0.5) * 1000, "ms")
      layers("dash.panel_p95_ms") = (quantile(allPanels, 0.95) * 1000, "ms")
      layers("trace.overhead_pct") =
        ((quantile(tracedWall, 0.5) / quantile(plainWall, 0.5) - 1) * 100, "%")
    }
    val metrics = if (o.trace) layers else e2e
    val correct = checkFailures.isEmpty && opWall.nonEmpty
    (e2e ++ layers).foreach { case (k, (v, u)) => System.err.println(f"[perfbench] $k%-32s $v%14.4f $u") }
    System.err.println(f"[perfbench] ${o.workload} ops=${opWall.size} attempted=$attempted failed=$failed " +
      f"checks=$checks failed_checks=${checkFailures.size} error_rate=${failed.toDouble / math.max(1L, attempted)}%.4f")

    def obj(m: collection.Map[String, (Double, String)]) = JObject(m.toList.map { case (k, (v, u)) =>
      k -> JObject("value" -> (if (v.isNaN) JNull else JDouble(v)), "unit" -> JString(u)) })
    val result = JObject("correct" -> JBool(correct), "attempted" -> JLong(attempted),
      "failed" -> JLong(failed), "metrics" -> obj(metrics))
    val full = result merge JObject(
      "workload" -> JString(o.workload), "seed" -> JLong(o.seed), "trace" -> JBool(o.trace),
      "crashes" -> JLong(o.crashes), "cores" -> JLong(o.cores),
      "end_to_end" -> obj(e2e), "per_layer" -> obj(layers),
      "samples" -> JObject("ops" -> JLong(opWall.size), "panels" -> JLong(allPanels.size)),
      "op_wall_s" -> JArray(opWall.map(JDouble(_)).toList),
      "setup_phases_s" -> JObject(setupPhases.toList.map { case (k, v) => k -> JDouble(v) } :+
        ("session" -> JDouble(sessionS))),
      "errors" -> JArray(errors.map(JString(_)).toList),
      "failed_checks" -> JArray(checkFailures.map(JString(_)).toList),
      "checks" -> JLong(checks),
      "spans" -> JArray(tracer.spans.filter(_ != null).map(s => JObject("id" -> JLong(s.id),
        "parent" -> JLong(s.parent), "op" -> JLong(s.op), "name" -> JString(s.name),
        "wall_s" -> JDouble(s.wallS), "self_s" -> JDouble(tracer.selfS(s)),
        "jobs" -> JLong(s.work.jobs), "tasks" -> JLong(s.work.tasks), "cpu_s" -> JDouble(s.work.cpuS))).toList))
    Files.createDirectories(Paths.get(o.out).getParent)
    Files.write(Paths.get(o.out), JsonMethods.pretty(full).getBytes("UTF-8"))
    println("PERFBENCH_RESULT " + JsonMethods.compact(result))
    correct && failed == 0
  }
}

object Bench {
  val MB = 1024.0 * 1024.0
  val Y2023: Long = Instant.parse("2023-01-01T00:00:00Z").getEpochSecond
  val Y2025: Long = Instant.parse("2025-01-01T00:00:00Z").getEpochSecond
  val TwoYears: Long = Y2025 - Y2023
  val SixHours: Long = 6 * 3600L
  /** Crashes landed by one streaming micro-run, and how many of them re-publish Gold ids. */
  val CrashesPerRun = 500
  private def crashCol(name: String) = Schemas.crashColumns.indexOf(name)
  val IdCol = crashCol("crash_record_id")
  val DateCol = crashCol("crash_date")
  val LatCol = crashCol("latitude")
  val LngCol = crashCol("longitude")
  val RepublishPerRun = 50

  /** Per-layer metrics every traced run reports, with units. */
  val layerNames: Seq[(String, String)] = Seq(
    "ingest.wall_s" -> "s", "ingest.cpu_s" -> "s", "ingest.jobs" -> "count", "ingest.tasks" -> "count",
    "ingest.input_mb" -> "MB", "ingest.bronze_mb" -> "MB", "ingest.rows_landed" -> "count",
    "ingest.read_bronze_s" -> "s",
    "silver.wall_s" -> "s", "silver.cpu_s" -> "s", "silver.jobs" -> "count", "silver.tasks" -> "count",
    "silver.shuffle_mb" -> "MB", "silver.spill_mb" -> "MB", "silver.csv_mb" -> "MB", "silver.rows" -> "count",
    "gold.clean_s" -> "s", "gold.clean_jobs" -> "count",
    "gold.upsert_s" -> "s", "gold.upsert_cpu_s" -> "s", "gold.upsert_jobs" -> "count",
    "gold.upsert_input_mb" -> "MB", "gold.conflict_scan_fraction" -> "ratio", "gold.insert_ratio" -> "ratio",
    "gold.files_added" -> "count", "gold.table_files" -> "count",
    "pipeline.self_s" -> "s", "pipeline.jobs_per_run" -> "count",
    "dash.load_ms" -> "ms", "dash.rate_by_weather_ms" -> "ms", "dash.rate_by_speed_bin_ms" -> "ms",
    "dash.hourly_with_class_ms" -> "ms", "dash.by_day_name_ms" -> "ms", "dash.hour_day_pivot_ms" -> "ms",
    "dash.top_k_beats_ms" -> "ms", "dash.correlation_matrix_ms" -> "ms", "dash.quality_metrics_ms" -> "ms",
    "dash.run_history_ms" -> "ms", "dash.geo_sample_ms" -> "ms", "dash.describe_injuries_ms" -> "ms",
    "dash.catalog_ms" -> "ms", "dash.preview_ms" -> "ms",
    "dash.describe_path_ms" -> "ms", "dash.report_ms" -> "ms",
    "dash.jobs_per_page" -> "count", "dash.input_mb_per_page" -> "MB",
    "dash.page_s" -> "s", "ml.score_ms" -> "ms", "ml.train_s" -> "s")

  def jobJson(mode: String, range: String): String = {
    def sel(cols: Seq[String]) = cols.mkString(",")
    s"""{"mode": "$mode", "join_key": "crash_record_id", $range
       | "primary": {"id": "85ca-t3if", "alias": "crashes", "select": "${sel(Schemas.crashColumns)}"},
       | "enrich": [
       |   {"id": "68nd-m3ie", "alias": "vehicles", "select": "${sel(Schemas.vehicleColumns)}"},
       |   {"id": "u6pd-qa9d", "alias": "people", "select": "${sel(Schemas.peopleColumns)}"}]}""".stripMargin
  }

  /** A timestamp as Spark's `cast(timestamp as string)` writes it. */
  def sparkTimestampString(t: LocalDateTime): String = {
    val base = f"${t.toLocalDate} ${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
    if (t.getNano == 0) base else base + "." + f"${t.getNano}%09d".reverse.dropWhile(_ == '0').reverse
  }

  /** Linear-interpolated quantile (NaN for no samples). */
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)

  def list(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else { val s = Files.list(p); try s.iterator().asScala.toList finally s.close() }

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else { val s = Files.walk(p); try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close() }

  /** Bytes of the data files under `p` (checksum side files excluded). */
  def bytes(p: Path): Long = walk(p).filterNot(_.getFileName.toString.startsWith(".")).map(Files.size).sum

  def parquetFiles(dir: String): Long = walk(Paths.get(dir)).count(_.getFileName.toString.endsWith(".parquet"))

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
  }
}
