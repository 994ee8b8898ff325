package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver-provided star schema (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. Keep reads lazy and
  * column-pruned: callers `select` what they need so Catalyst pushes
  * projection/predicates into the parquet scan — at 100 TB the scan is
  * the dominant cost and pruning is the first-order optimization.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Session settings every graft entry point needs. `nanosAsLong` because
    * the driver's events.parquet carries TIMESTAMP(NANOS) which Spark's
    * parquet reader otherwise rejects ([PARQUET_TYPE_ILLEGAL]); we convert
    * back to TimestampType in [[events]].
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")

  def region(s: SparkSession, d: String)    = t(s, d, "region")
  def nation(s: SparkSession, d: String)    = t(s, d, "nation")
  def customer(s: SparkSession, d: String)  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String)  = t(s, d, "supplier")
  def part(s: SparkSession, d: String)      = t(s, d, "part")
  def orders(s: SparkSession, d: String)    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String)  = t(s, d, "lineitem")
  /** `ts` arrives as INT64 nanos (see [[configure]]); rebuild a proper
    * TimestampType column. Integer `div` — a double division would lose
    * precision above 2^53 ns (~mid-1970s epoch nanos are ~1.7e18).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // timestamp[us] with no zone reads as TIMESTAMP_NTZ, which
        // session_window/approxQuantile reject; the session zone is
        // pinned to UTC in [[configure]], so this cast maps each naive
        // wall-clock to the same instant the nanos path produced.
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String) = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String) = t(s, d, "embeddings")
}
