package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-provided star schema
  * (`/root/testdata/sf*`; see TESTDATA.md). Plain parquet scans: Catalyst
  * handles column pruning and filter pushdown, so queries never need to
  * pre-trim these.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame   = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = t(s, d, "region")
  /** `events.ts` has shipped as both parquet TIMESTAMP(NANOS) (early fixture
    * generations; Spark's vectorized reader rejects it, so we read raw nanos
    * via `nanosAsLong` and truncate to micros — DuckDB's TIMESTAMP_NS cast)
    * and plain TIMESTAMP(MICROS) (current generation; reads as NTZ). Branch
    * on the scanned type so both layouts land on the same session-local
    * TimestampType column and oracle values agree either way.
    *
    * Requires `spark.sql.legacy.parquet.nanosAsLong=true` AT SESSION BUILD
    * (GraftSession sets it) for the NANOS layout — this loader deliberately
    * does NOT mutate session conf: a table loader silently toggling a
    * session-global legacy flag would change how every other NANOS parquet
    * in the session reads.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  /** The fixture parquet files are single-row-group (unsplittable), so a scan
    * is one task no matter the cluster size. The document/embedding operators
    * do heavy per-row work (shingling, md5 minhashing, 64-dim folds), so we
    * hash-repartition by key right after the scan to spread that work across
    * all cores — the same move a 100 TB pipeline makes when handed a few
    * giant unsplittable inputs. The cheap relational queries keep the plain
    * scan (a shuffle would cost more than it buys).
    */
  def documents(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    t(s, d, "documents").repartition(col("doc_id"))
  }
  def embeddings(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    t(s, d, "embeddings").repartition(col("vec_id"))
  }
}
