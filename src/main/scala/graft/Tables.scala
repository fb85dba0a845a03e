package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Canonical access to the test corpus tables (TPC-H-ish star schema +
  * `events` / `documents` / `embeddings`).
  *
  * Every operator takes a plain `DataFrame`, so these helpers are just
  * conveniences for wiring `SparkEntry.queries`; production users point
  * the same operators at any parquet/CSV/JSON source.
  *
  * Reads are bare `spark.read.parquet` so Catalyst keeps full pushdown:
  * filters and column pruning reach the scan (verify via
  * `df.explain("formatted")` → `PushedFilters` / `ReadSchema`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  /** `events.ts` has shipped in two parquet encodings across corpus
    * generations: TIMESTAMP(NANOS) (rejected by Spark's vectorized
    * reader — read as raw nanos via the legacy `nanosAsLong` conf that
    * [[GraftSession]] sets, and divided down) and plain
    * TIMESTAMP(MICROS)/NTZ (read directly; cast to session-local
    * TimestampType so downstream window/session ops see one type).
    * Dispatch on the loaded schema so either corpus works. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val raw = apply(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
