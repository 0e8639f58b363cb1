package graft.ext

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental near-dup deduplication against a persistent signature store —
  * the streaming form of the d2/d6 batch dedup: as document batches arrive,
  * each is (1) collapsed within itself (connected-components keep-first over
  * its own verified pairs), (2) probed against the signatures of everything
  * accepted so far, and (3) its survivors' signatures appended. A corpus
  * ingested batch-by-batch ends up deduplicated exactly as if d2/d6 had run
  * over the union, without ever rescanning accepted documents' text.
  *
  * Store layout (under `path`):
  *  - `bands/` — (doc_id, band, bkey) parquet, partitioned by `band`: a probe
  *    joins only on band keys, and partition pruning keeps each probe to the
  *    4 band directories;
  *  - `shingles/` — (doc_id, sh) parquet: the shingle sets needed to verify
  *    candidate pairs exactly (only CANDIDATE old docs are ever read: the
  *    probe semi-joins the store against a broadcast of candidate ids and
  *    counts shared postings — the store's shingle arrays never ride an
  *    exchange, the d2/d17 verify discipline of SCALE.md session-9).
  *
  * Scale: probe cost is O(new-batch signatures + band collisions +
  * candidate-doc postings); the store grows by accepted docs only. The
  * bucket cap bounds degenerate band keys exactly as in the batch path.
  */
object DedupStore {

  final case class IngestReport(accepted: Long, withinBatchDups: Long, storeDups: Long)

  import org.apache.spark.sql.types._

  // The store's on-disk contract. Reads pin these instead of inferring: a
  // foreign or corrupt file in bands/ or shingles/ must fail as "the store is
  // corrupt", not as a schema-merge/analysis error deep inside whatever
  // stream happened to touch it next. (`band` is the partition column.)
  private[ext] val bandSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("bkey", StringType),
    StructField("band", IntegerType)))
  private[ext] val shingleSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sh", ArrayType(StringType))))

  /** Data files already footer-swept, keyed by store directory. Driver-side,
    * name-bounded state, sound under the store's documented single-writer
    * assumption: once a file's footer passed the compatibility check it
    * cannot change (parquet files are immutable; compact swaps in NEW
    * names), so re-sweeping it buys nothing. The delta sweep keeps probe
    * validation at O(files appended since the last probe) instead of
    * O(total store files) per batch — the probe-cost contract.
    */
  private val sweptFiles = scala.collection.concurrent.TrieMap.empty[String, Set[String]]

  /** Read one store side with the declared schema, after a footer
    * compatibility sweep of every NOT-YET-SEEN data file (mergeSchema=true
    * over just those files). Without the sweep a pinned-schema read silently
    * null-fills columns a foreign parquet file lacks; with it, any alien,
    * mistyped, or truncated file surfaces here, eagerly, as a store-shaped
    * error naming the directory.
    */
  private def readStore(spark: SparkSession, path: String, side: String,
      declared: StructType, partitionCols: Set[String] = Set.empty): DataFrame = {
    val dir = s"$path/$side"
    val want = declared.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = {
        val it = fs.listFiles(p, true)
        val b = Seq.newBuilder[String]
        while (it.hasNext) {
          val n = it.next().getPath
          if (!n.getName.startsWith("_") && !n.getName.startsWith(".")) b += n.toString
        }
        b.result()
      }
      val seen = sweptFiles.getOrElse(dir, Set.empty)
      val fresh = files.filterNot(seen)
      if (fresh.nonEmpty) {
        // leaf-file read: no partition discovery, so check data columns only
        val dataCols = declared.filterNot(f => partitionCols(f.name))
        val inferred = spark.read.option("mergeSchema", "true").parquet(fresh: _*).schema
        // exact-set match, both directions: a missing/mistyped column is an
        // incompatible file, and an EXTRA column is a foreign file whose
        // rows the pinned read would otherwise silently null-fill
        // (mergeSchema unions disjoint schemas without conflict, so
        // presence alone is not enough)
        val bad = dataCols.filter(f =>
          inferred.find(_.name == f.name).forall(_.dataType != f.dataType))
        val extra = inferred.filterNot(f => declared.exists(_.name == f.name))
        require(bad.isEmpty && extra.isEmpty,
          s"missing/mistyped columns [${bad.map(_.name).mkString(", ")}], " +
            s"foreign columns [${extra.map(_.name).mkString(", ")}] " +
            s"(found: ${inferred.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")})")
        // reset to the CURRENT listing, not seen ++ files: names removed by
        // compact() would otherwise accrete forever in this driver-side set
        // over a long-lived ingest stream (compaction generations are the
        // common case this store exists for)
        sweptFiles.update(dir, files.toSet)
      }
      spark.read.schema(declared).parquet(dir)
    } catch {
      case scala.util.control.NonFatal(e) =>
        throw new IllegalStateException(
          s"dedup store corrupt at $dir — expected ($want); " +
            s"remove the offending file or rebuild the store: ${e.getMessage}", e)
    }
  }

  private def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Crash recovery for [[compact]]'s swap ([[graft.ops.FsCommit.recoverSwap]]
    * on each side). Called on every probe and compact, so a restarted stream
    * self-heals before reading.
    */
  private def recover(spark: SparkSession, path: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("bands", "shingles").foreach(side =>
      graft.ops.FsCommit.recoverSwap(fs, new org.apache.hadoop.fs.Path(s"$path/$side")))
  }

  /** Append a batch's signatures (callers pass only docs accepted as novel).
    *
    * Shingles are written BEFORE bands: the two appends are not atomic, and a
    * crash between them must not leave band rows whose candidates can never
    * verify (a visible band row always has its verify-side shingle set; an
    * orphaned shingle set is merely invisible until the checkpointed replay
    * re-appends the doc).
    */
  def append(sigs: DataFrame, path: String): Unit = {
    sigs.select("doc_id", "sh")
      .write.mode(SaveMode.Append).parquet(s"$path/shingles")
    MinHash.bands(sigs)
      .write.mode(SaveMode.Append).partitionBy("band").parquet(s"$path/bands")
  }

  /** Rewrite the store so each band partition holds one file (and the
    * shingle side `targetFiles`): every [[ingestBatch]] appends small files,
    * and after thousands of batches file listing would dominate probe cost.
    * Also collapses exact-duplicate rows a crash-replay may have accreted
    * (harmless for correctness, pure IO waste). Runs under the store's
    * single-writer assumption — call it from the ingest owner between
    * batches; the rename-aside swap ([[graft.ops.FsCommit.swapIn]]) is not
    * safe against a concurrent probe.
    */
  def compact(spark: SparkSession, path: String, targetFiles: Int = 8): Unit = {
    recover(spark, path)
    if (!exists(spark, s"$path/bands")) return
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // hash-repartition on band: each band value lands in exactly one task, so
    // the partitioned write emits one file per band directory
    readStore(spark, path, "bands", bandSchema, Set("band")).distinct()
      .repartition(col("band"))
      .write.mode(SaveMode.Overwrite).partitionBy("band").parquet(s"$path/.bands_compact")
    readStore(spark, path, "shingles", shingleSchema).distinct()
      .repartition(targetFiles)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/.shingles_compact")
    Seq("shingles", "bands").foreach(side => graft.ops.FsCommit.swapIn(fs,
      new org.apache.hadoop.fs.Path(s"$path/.${side}_compact"),
      new org.apache.hadoop.fs.Path(s"$path/$side")))
  }

  /** Map each incoming doc to the accepted doc it duplicates:
    * (doc_id, dup_of) — only rows with a verified store duplicate appear.
    * An id re-ingested after acceptance maps to itself, which is what makes
    * replays no-ops.
    */
  def probe(spark: SparkSession, sigs: DataFrame, path: String,
      threshold: Double = 0.8, maxBucket: Int = 1000,
      broadcastCandBound: Long = 4000000L): DataFrame = {
    // the posting-count verify drops zero-intersection pairs, which is only
    // equivalent to the payload-join form for positive thresholds (the same
    // guard minHashNearDupPairs/ngramJaccardPairs carry)
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    recover(spark, path)
    if (!exists(spark, s"$path/bands"))
      return sigs.sparkSession.emptyDataFrame
        .withColumn("doc_id", lit(null).cast("long"))
        .withColumn("dup_of", lit(null).cast("long"))
    val newBands = MinHash.bands(sigs)
    val storeBands = Similarity.capBuckets(
      readStore(spark, path, "bands", bandSchema, Set("band")), Seq("band", "bkey"), maxBucket)
    // Checkpoint + count: the materialized candidate count hands the planner a
    // broadcast decision at initial planning (the d2 discipline, SCALE.md
    // session-9) — candidates are bounded by batch size x bucket width, so
    // the common case is a broadcast id probe into the store scan.
    val cands = newBands.as("n")
      .join(storeBands.as("o"), expr("n.band = o.band AND n.bkey = o.bkey"))
      .select(col("n.doc_id").as("id"), col("o.doc_id").as("old_id"))
      .distinct()
      // lazy + count = ONE action (round-9): the count materializes the
      // checkpoint and returns the broadcast-decision cardinality
      .localCheckpoint(eager = false)
    val nCand = cands.count()
    val small = nCand <= broadcastCandBound
    // Verify WITHOUT exchanging the store's shingle arrays: at scale the
    // store side is the whole accepted-corpus history, and the r8-measured
    // cost of joining signature payloads by id is exactly what the d2/d17
    // rebuilds removed. Semi-join the store down to CANDIDATE old docs (ids
    // only), explode those docs' shingles, and count shared postings per
    // (new, old) pair — |a∩b| is exact because `sh` holds distinct shingles,
    // so the Jaccard predicate is bitwise the array_intersect form.
    val oldKeys = cands.select(col("old_id").as("doc_id"))
    val newKeys = cands.select(col("id").as("doc_id"))
    val oldPost = readStore(spark, path, "shingles", shingleSchema)
      .join(if (small) broadcast(oldKeys) else oldKeys.distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("old_id"), size(col("sh")).as("no"),
        explode(col("sh")).as("shingle"))
    val newPost = sigs.select(col("doc_id"), col("sh"))
      .join(if (small) broadcast(newKeys) else newKeys.distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("id"), size(col("sh")).as("n"),
        explode(col("sh")).as("shingle"))
    newPost
      .join(oldPost, Seq("shingle"))
      .groupBy("id", "old_id", "n", "no")
      .agg(count(lit(1)).as("inter"))
      .join(if (small) broadcast(cands) else cands, Seq("id", "old_id"), "left_semi")
      .where(expr(s"inter * 1.0 / (n + no - inter) >= $threshold"))
      .groupBy(col("id").as("doc_id"))
      .agg(min("old_id").as("dup_of"))
  }

  /** One incremental ingest step: within-batch collapse -> store probe ->
    * append survivors. Returns the acceptance accounting.
    */
  def ingestBatch(spark: SparkSession, docs: DataFrame, path: String,
      threshold: Double = 0.8, maxBucket: Int = 1000): IngestReport = {
    val sigs = MinHash.signatures(docs, Seq("doc_id"))
      .localCheckpoint(eager = false)

    // (1) within-batch: verified pairs -> CC families -> keep the min id
    val bands = Similarity.capBuckets(MinHash.bands(sigs), Seq("band", "bkey"), maxBucket)
    val pairs = bands.as("x")
      .join(bands.as("y"), expr("x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
      .join(sigs.select(col("doc_id").as("id_a"), col("sh").as("sha")), Seq("id_a"))
      .join(sigs.select(col("doc_id").as("id_b"), col("sh").as("shb")), Seq("id_b"))
      .where(expr(s"${MinHash.jaccardExpr("sha", "shb")} >= $threshold"))
      .select("id_a", "id_b")
    val labels = graft.ops.GraphOps.connectedComponents(pairs, "id_a", "id_b")
    val withinDups = labels.where(col("id") =!= col("label"))
      .select(col("id").as("doc_id"))
    val batchSurvivors = sigs.join(withinDups, Seq("doc_id"), "left_anti")
      .localCheckpoint(eager = false)

    // (2) probe survivors against the store
    val storeDups = probe(spark, batchSurvivors, path, threshold, maxBucket)
      .select("doc_id")
      .localCheckpoint(eager = false)

    // (3) append novel survivors
    val novel = batchSurvivors.join(storeDups, Seq("doc_id"), "left_anti")
      .localCheckpoint(eager = false)
    val nNovel = novel.count()
    if (nNovel > 0) append(novel, path)

    IngestReport(nNovel, withinDups.count(), storeDups.count())
  }
}
