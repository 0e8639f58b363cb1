package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning — the ONE place engine
  * settings live. Bench, Verify, the tools, the pipeline benchmark and the
  * test suites all build their session here, so the tests check the engine
  * the mains ship.
  *
  * Scale design: on a real cluster these settings come from spark-submit; the
  * important ones we pin here are AQE (runtime re-planning: skew-join splitting,
  * partition coalescing), a shuffle-partition count matched to local cores
  * (overridable — at 100 TB this should be ~2-3x total executor cores), and UTC
  * so date semantics match the DuckDB oracle.
  */
object GraftSession {

  /** Local cores: the `SPARK_GRAFT_CPUS` deployment setting, else every core. */
  val defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // let AQE convert a sort-merge join back to the faster shuffled-hash
      // form when post-shuffle stats prove the per-partition build fits --
      // the corpus-scale joins hint("merge") for spill-safety and rely on
      // this for the small-scale fast path (forced SHUFFLE_HASH OOMs at the
      // 100x decade: SCALE.md session-8 notes)
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      // cached plans keep AQE re-optimization (coalescing, SMJ->BHJ): the
      // default false pins a cached join at the full shuffle-partition count
      // (merge's s2.cache() measured as 32 near-empty tasks per stage at r12)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // legacy NANOS parquet support belongs at session build, not inside a
      // table loader: Tables.events handles both the nanos-as-long and the
      // native MICROS fixture layouts, and a loader silently toggling a
      // session-global legacy flag would be a trap for any other NANOS
      // parquet read in the same session
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // zstd shuffle blocks measured ~2.2x smaller than lz4 on the vector/
      // posting exchanges (n7 42->19 MB) at no wall-time cost (r12
      // guide-§2.3 measurement)
      .config("spark.io.compression.codec", "zstd")
      // AQE coalescing's 1 MiB minimum partition floor under-parallelizes
      // CPU-dense work at low byte volume (r13 guide-§2.2 measurement: the
      // w14 range sort coalesced to ~6 partitions and wall rose 25% while
      // byte volume was 6.6 MB; at 256 KiB the sort spreads and both wall
      // AND cpu beat the pinned-width plan). Production-safe: at corpus
      // scale the advisory target dominates and the floor is irrelevant.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      // ObjectHashAggregate (collect_list/collect_set) falls back to
      // SORT-BASED aggregation after just 128 distinct keys by default,
      // which silently turns every per-doc/per-user list aggregation into a
      // full sort of its input — measured at the 100x doc decade as ALL of
      // d17's 1.7 GB spill and ~2x its aggregate-stage CPU. Every grouped
      // list in this engine is bounded by construction (doc length, a
      // user's calendar days), so the hash map's VALUES are small; 2M keys
      // per partition is the regime the partition sizing already assumes.
      //
      // CONTRACT for new queries: this setting is SESSION-GLOBAL, so every
      // collect_list/collect_set added to the engine must keep its
      // per-group values bounded by construction (cap, slice, or window the
      // group first) — an unbounded-values list agg would have lost its
      // sort-based spill fallback and can OOM an executor instead of
      // spilling. If you cannot bound the values, aggregate under a
      // dedicated session (or reset this conf around the call).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", (1 << 21).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body`, then releases the blocks it pinned (localCheckpoint and
    * cache storage). Every query call builds FRESH checkpoint RDDs, so a
    * long sweep that never releases them accumulates hundreds of dead
    * signature checkpoints in the block manager — measured at sf0.1 in the
    * 8g driver as broad >1.5x inflation of UNRELATED queries running after
    * the dedup family (storage squeezing execution memory). Only RDDs
    * pinned DURING `body` are released: a blanket unpersist would also
    * evict cross-query cached state, and localCheckpoint RDDs are
    * unrecoverable once unpersisted.
    */
  def releasingPinned[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val pinnedBefore = sc.getPersistentRDDs.keySet
    try body
    finally sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!pinnedBefore.contains(id)) rdd.unpersist(blocking = false)
    }
  }
}
