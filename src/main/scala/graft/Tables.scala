package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's TPC-H-ish parquet test tables (TESTDATA.md).
  *
  * One parquet file per table; filters/projections push down to the scan
  * (verify with `.explain("formatted")` → `PushedFilters`/`ReadSchema`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events' TIMESTAMP(NANOS) layout only reads as a raw long (see `events`)
    if (name == "events") spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/$name.parquet")
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** The events table's `ts` has shipped in two parquet layouts across
    * testdata generations: TIMESTAMP(NANOS) — which Spark's parquet
    * reader rejects, so `nanosAsLong` reads it as a raw long — and plain
    * TIMESTAMP(MICROS), which reads natively (as TIMESTAMP_NTZ under the
    * pandas metadata; all engine sessions pin UTC, so the NTZ→timestamp
    * cast is the identity instant DuckDB's `epoch(ts)` sees). Both
    * branches expose the same three columns: `ts_nanos` (exact integer
    * epoch nanos), `ts_sec` (exact integer epoch seconds, floored — the
    * oracle currency, matching `CAST(floor(epoch(ts)) AS BIGINT)`), and
    * `ts` as a proper TimestampType for Structured Streaming operators.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_nanos")
          .withColumn("ts_sec", expr("ts_nanos div 1000000000"))
          .withColumn("ts", expr("timestamp_micros(ts_nanos div 1000)"))
      case _ =>
        raw.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts_nanos", expr("unix_micros(ts) * 1000"))
          .withColumn("ts_sec", expr("unix_micros(ts) div 1000000"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

/** One verifiable query: a Spark implementation plus (optionally) the
  * equivalent ANSI SQL the driver runs in DuckDB over the same parquet
  * tables. `sql = None` → the driver records a weaker rows-only check.
  */
final case class OracleQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    sql: Option[String])

trait QueryModule {
  def queries: Seq[OracleQuery]
}
