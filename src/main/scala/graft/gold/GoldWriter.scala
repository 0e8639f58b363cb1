package graft.gold

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.silver.Transformer

/** Gold-table sink: first-write-wins idempotent upsert + integrity checks.
  *
  * DuckDB's `INSERT ... ON CONFLICT (crash_record_id) DO NOTHING`
  * (reference: cleaner/duckdb_writer.py:141-207) has no parquet equivalent,
  * so it is expressed as dedup-within-batch + left-anti against the existing
  * keys + append — semantically identical under the reference's own
  * single-writer assumption (one cleaner consumer, prefetch 1;
  * cleaner/cleaner.py:248). Replays of the same batch are no-ops, which is
  * what makes the at-least-once delivery safe (ST4). Gold has ONE layout:
  * parquet partitioned by a key bucket ([[upsertBucketed]]).
  *
  * WRITER CONCURRENCY (the contract, stated once and permanently): plain
  * [[upsertBucketed]] is SINGLE-WRITER per table path — the conflict check
  * (anti join) and the append are two steps, so two uncoordinated writers
  * racing the same keys can both observe "absent" and both insert. That
  * matches the reference deployment exactly (its PK-enforced DuckDB writer
  * sits behind a prefetch-1 queue consumer — one writer by construction).
  * Deployments that DO need concurrent upserts use [[lockedUpsertBucketed]]:
  * an advisory filesystem mutex (atomic exclusive-create of
  * `_graft_gold.lock`, stale-takeover on crash) serializes cooperating
  * writers on filesystems with atomic create-no-overwrite (local, HDFS).
  * Object stores without atomic exclusive-create need an external
  * coordinator (or a transactional table format) — that is a storage-layer
  * property no parquet-directory protocol can conjure, and pretending
  * otherwise would be the bug. The engine's transactional answer is
  * [[graft.ops.ManifestStore]]: manifest-resolved tables get lock-free
  * first-write-wins upserts (optimistic CAS publish) and crash-atomic
  * rewrites — use it when the table is born under this engine; the
  * path-based writer here remains for a plain parquet layout any external
  * reader can scan directly.
  *
  * Scale: the anti join ships only the key column of the touched buckets
  * (Catalyst prunes to one column, the file index to the touched partition
  * directories) and the incoming batch is tiny relative to the table, so
  * AQE plans it as a broadcast of the batch keys — no full-table shuffle
  * per upsert.
  */
object GoldWriter {

  final case class IntegrityReport(
      totalRows: Long,
      duplicateKeys: Long,
      nullKeys: Long,
      insertedRows: Long)

  /** The partition column of the bucketed Gold layout. Derived from the KEY
    * (not an attribute like crash_date), so a given key can only ever live in
    * one partition directory — which is what makes pruning the conflict scan
    * sound.
    */
  val bucketCol = "__key_bucket"

  /** Dedup the incoming batch (deterministic keep-first by full-row order),
    * skip keys already present, append the rest. Gold is laid out as parquet
    * partitioned by `__key_bucket = pmod(xxhash64(key), buckets)`; each batch
    * anti-joins only against the bucket directories its own keys hash to, so
    * per-batch conflict-scan IO is `(touched buckets / buckets) * table`,
    * independent of total table size for small batches — a flat layout's
    * full key-column scan per micro-batch would be the streaming loop's
    * scale ceiling (reference: cleaner/duckdb_writer.py:141-207).
    *
    * Integrity (A13/A14) is likewise scoped to the touched buckets: a
    * duplicate or null this batch could introduce necessarily lives in a
    * touched bucket (same key -> same bucket; nulls never pass the insert
    * filter). `totalRows` stays whole-table — a count(*) answered from
    * parquet footer metadata, no column scan.
    */
  def upsertBucketed(spark: SparkSession, batch: DataFrame, path: String,
      key: String = "crash_record_id", buckets: Int = 64): IntegrityReport = {
    val tiebreak = batch.columns.filter(_ != key).sorted.map(col).toSeq
    val deduped = Transformer
      .dedupKeepFirst(batch.where(col(key).isNotNull), key, tiebreak)
      .withColumn(bucketCol, pmod(xxhash64(col(key)), lit(buckets.toLong)).cast("int"))
      .cache()
    val touched = deduped.select(bucketCol).distinct().collect().map(_.getInt(0)).toSeq

    val exists = tableExists(spark, path)
    if (exists) requireBucketed(spark, path)
    val toInsert =
      if (exists)
        deduped.join(existingKeysScan(spark, path, key, touched), Seq(key), "left_anti")
      else deduped

    val inserted = toInsert.cache()
    val nInserted = inserted.count()
    if (nInserted > 0)
      inserted.write.mode(SaveMode.Append).partitionBy(bucketCol).parquet(path)
    inserted.unpersist()
    deduped.unpersist()

    // First micro-batch whose keys are all null: nothing was ever written,
    // so the report scans below would throw AnalysisException (and, in the
    // streaming sink, kill the query). Report an empty table instead.
    if (!exists && nInserted == 0L) return IntegrityReport(0L, 0L, 0L, 0L)

    val touchedKeys = existingKeysScan(spark, path, key, touched)
    val perKey = touchedKeys.groupBy(key).agg(count(lit(1)).as("cnt"))
    val r = perKey.agg(
      sum(when(col("cnt") > 1, 1).otherwise(0)).as("dups"),
      sum(when(col(key).isNull, col("cnt")).otherwise(0L)).as("nulls"))
      .collect()(0)
    IntegrityReport(
      spark.read.parquet(path).count(),
      Option(r.get(0)).map(_.toString.toLong).getOrElse(0L),
      Option(r.get(1)).map(_.toString.toLong).getOrElse(0L),
      nInserted)
  }

  /** The pruned conflict scan: key column of only the touched bucket
    * partitions. The `isin` on the partition column is resolved against the
    * file index (partition pruning), so untouched bucket directories are
    * never listed into the scan — GoldWriterSpec pins this via the scan's
    * numFiles metric.
    */
  private[graft] def existingKeysScan(spark: SparkSession, path: String,
      key: String, touched: Seq[Int]): DataFrame =
    spark.read.parquet(path)
      .where(col(bucketCol).isin(touched: _*))
      .select(key)

  /** Fail fast when the path holds a flat (unbucketed) parquet table written
    * outside this program: appending bucket directories beside it would
    * break the pruning invariant (a key could then live outside its bucket
    * directory, and the pruned conflict scan would miss it — duplicate keys
    * with no error). Layout is decided by the presence of the
    * `__key_bucket=N` partition directories, a listing-only probe.
    */
  private def requireBucketed(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.listStatus(p).exists(s =>
        s.isDirectory && s.getPath.getName.startsWith(s"$bucketCol=")))
      throw new IllegalStateException(
        s"Gold table at $path has a flat layout; GoldWriter.upsertBucketed " +
          "needs the bucketed (__key_bucket=N partitions) layout (mixing " +
          "layouts on one path breaks the bucket-pruned conflict scan and " +
          "can admit duplicate keys).")
  }

  /** The advisory writer mutex behind [[lockedUpsertBucketed]]: acquire via
    * exclusive-create of `<path parent>/<name>.lock`, run the body, release
    * in finally. Exclusive-create ([[graft.ops.FsCommit.createExclusive]])
    * is atomic on HDFS and on `file://`; on S3-like stores with no atomic
    * create this lock is advisory-best-effort and the idempotent-upsert
    * argument below is the real safety net. A lock older than `staleMs` is
    * presumed abandoned by a crashed writer and is broken (rename-aside +
    * retry) — safe because upserts are idempotent first-write-wins appends:
    * the worst a broken-then-raced stale writer can do is append rows a
    * replay would have appended anyway... except duplicates, which is why
    * `staleMs` should exceed any plausible upsert duration (default 10 min).
    * Each acquisition writes a per-acquisition UUID into the lock file and
    * the finally-release deletes ONLY if the content still matches: a
    * healthy writer that overran `staleMs` and had its lock broken must not
    * delete the contender's FRESH lock (which would admit a third writer).
    * Contention waits with bounded sleep up to `waitMs` — defaulted to the
    * SAME 10 minutes as `staleMs`, because a healthy competing upsert on a
    * large table legitimately runs for minutes — then fails loudly (a
    * genuinely stuck queue must page someone, not silently drop batches).
    */
  def withTableLock[T](spark: SparkSession, path: String,
      staleMs: Long = 600000L, waitMs: Long = 600000L)(body: => T): T = {
    val table = new org.apache.hadoop.fs.Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(
      table.getParent, s".${table.getName}._graft_gold.lock")
    val token = java.util.UUID.randomUUID().toString
    val tokenBytes = token.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // the local O_EXCL create does NOT create missing parent directories,
    // and that failure would read as "lock held" below — the very first
    // upsert into a fresh table root would spin for the full waitMs
    try fs.mkdirs(lock.getParent) catch { case _: java.io.IOException => () }
    def lockContent(): Option[String] =
      try {
        val in = fs.open(lock)
        try {
          val buf = new Array[Byte](64)
          var n = 0
          var r = in.read(buf, 0, buf.length)
          while (r > 0 && n < buf.length) { n += r; r = in.read(buf, n, buf.length - n) }
          Some(new String(buf, 0, n, java.nio.charset.StandardCharsets.UTF_8))
        } finally in.close()
      } catch { case _: java.io.IOException => None }
    val deadline = System.currentTimeMillis() + waitMs
    var held = false
    while (!held) {
      if (graft.ops.FsCommit.createExclusive(fs, lock, tokenBytes)) held = true
      else {
        val age = try System.currentTimeMillis() -
          fs.getFileStatus(lock).getModificationTime
        catch { case _: java.io.FileNotFoundException => 0L } // racer released; retry
        if (age > staleMs) {
          // break via atomic RENAME, not delete: two contenders that both
          // observed the stale lock would otherwise both delete — and the
          // slower delete could remove the faster breaker's FRESH lock,
          // admitting two concurrent writers. Rename succeeds for exactly
          // one breaker (the loser's rename fails and it just re-loops).
          val tomb = new org.apache.hadoop.fs.Path(lock.getParent,
            s"${lock.getName}.stale.${java.util.UUID.randomUUID()}")
          try { if (fs.rename(lock, tomb)) fs.delete(tomb, false) }
          catch { case _: java.io.IOException => () }
        }
        else if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(
            s"GoldWriter: could not acquire writer lock $lock within ${waitMs} ms " +
              "— another upsert holds it (or raise waitMs / check for a stuck writer)")
        else Thread.sleep(50L)
      }
    }
    try body finally {
      // release only if we still own the lock: if a contender broke it as
      // stale while the body overran, the current lock file is THEIRS
      if (lockContent().contains(token))
        try fs.delete(lock, false) catch { case _: java.io.IOException => () }
    }
  }

  /** [[upsertBucketed]] serialized through [[withTableLock]] — the
    * multi-writer entry: concurrent cooperating writers upserting
    * overlapping keys get first-write-wins with zero duplicate keys
    * (GoldWriterSpec pins the contended interleaving).
    */
  def lockedUpsertBucketed(spark: SparkSession, batch: DataFrame, path: String,
      key: String = "crash_record_id", buckets: Int = 64): IntegrityReport =
    withTableLock(spark, path)(upsertBucketed(spark, batch, path, key, buckets))

  /** Filesystem-agnostic existence probe (a java.io.File check would always
    * say "missing" on hdfs:// or s3a:// paths and silently break the
    * conflict skip).
    */
  def tableExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists { s =>
      s.getPath.getName.endsWith(".parquet") ||
        // bucketed layout: data lives under __key_bucket=N partition dirs
        (s.isDirectory && s.getPath.getName.startsWith(s"$bucketCol="))
    }
  }

  /** Post-write checks mirrored from the reference: duplicate-PK grouping and
    * null-PK count (reference: cleaner/duckdb_writer.py:228-288 A13/A14).
    * One aggregation pass over the key column only — this runs per
    * micro-batch in the streaming path, so it must not cost three full-table
    * scans.
    */
  def integrityCheck(spark: SparkSession, path: String, key: String,
      inserted: Long): IntegrityReport = {
    val perKey = spark.read.parquet(path)
      .select(key)
      .groupBy(key)
      .agg(count(lit(1)).as("cnt"))
    val r = perKey.agg(
      sum(col("cnt")).as("total"),
      sum(when(col("cnt") > 1, 1).otherwise(0)).as("dups"),
      sum(when(col(key).isNull, col("cnt")).otherwise(0L)).as("nulls"))
      .collect()(0)
    IntegrityReport(
      Option(r.get(0)).map(_.toString.toLong).getOrElse(0L),
      Option(r.get(1)).map(_.toString.toLong).getOrElse(0L),
      Option(r.get(2)).map(_.toString.toLong).getOrElse(0L),
      inserted)
  }
}
