package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetSchema

/** Harness parquet corpus loaders (TESTDATA.md: TPC-H-ish star schema +
  * events/documents/embeddings). One vectorized parquet scan per table;
  * column pruning + predicate pushdown are left to Catalyst (SURVEY §4.1).
  * Each read's schema comes from the table's parquet footer, read on the
  * driver ([[GraftParquetSchema]]): the same schema Spark would infer,
  * without the Spark job its inference starts, so building a query over
  * the corpus runs no job. The footer is opened on every read.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    GraftParquetSchema.read(spark, Seq(s"$dir/$name.parquet"))

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")

  /** events.parquet's `ts` encoding has varied across driver corpus
    * generations — TIMESTAMP(NANOS) (rejected by Spark's reader unless
    * spark.sql.legacy.parquet.nanosAsLong=true surfaces it as BIGINT
    * nanos) and plain timestamp[us] with isAdjustedToUTC=false (read as
    * TIMESTAMP_NTZ). Normalize every encoding to one downstream
    * contract: `ts` is TimestampType (LTZ) whose UTC clock reading
    * equals the file's stored value — the session runs in UTC
    * (build.sbt pins spark.sql.session.timeZone), so the NTZ→LTZ cast
    * is a pure reinterpretation, matching DuckDB's naive read of the
    * same file. Functions like unix_micros reject NTZ input, so
    * without this cast the whole x-family breaks on a µs corpus.
    *
    * `spark.sql.legacy.parquet.nanosAsLong=true` (which surfaces a
    * NANOS corpus as BIGINT instead of failing the read) is set by the
    * SESSION BUILDERS (Verify/Bench/SparkTestBase), not here — a
    * loader mutating shared session conf as a side effect surprises
    * concurrent users of the same session. A session built elsewhere
    * must carry that conf to read a NANOS-encoded corpus. */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = t(s, d, "events")
    df.schema("ts").dataType match {
      // NANOS corpus arrives as long; integer `div` truncates like
      // DuckDB's ns→µs read (double division would round and drift
      // timestamps by 1µs).
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Name-keyed loader that routes `events` through its NANOS-aware
    * reader — a bare `t(s, d, "events")` throws PARQUET_TYPE_ILLEGAL. */
  def load(s: SparkSession, d: String, name: String): DataFrame =
    if (name == "events") events(s, d) else t(s, d, name)
}
