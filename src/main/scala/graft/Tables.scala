package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Central table loaders. One place to keep scans pushdown-friendly:
  * every operator selects only the columns it needs so parquet column
  * pruning + predicate pushdown reach the scan (checked via
  * `.explain("formatted")` → ReadSchema/PushedFilters).
  *
  * Timeseries mapping (see SURVEY.md §3): the reference engine
  * (Pennsieve/pennsieve-streaming) models data as channels of
  * (timestamp µs UTC, value) samples indexed by time ranges
  * (reference: query/QuerySequencer.scala:68, query/WsClient.scala:191).
  * Here the `events` table plays that role: channel = event_type,
  * t = microseconds since epoch, v = value.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Canonical form of a directory for cache keys (the shared
    * intermediates and the layout marker caches): aliases of the same
    * directory — trailing slash, relative path, `..` segments — must
    * hit the SAME entry instead of retraining and pinning a duplicate
    * localCheckpoint for the session's lifetime.
    */
  def canonDir(dir: String): String =
    try new java.io.File(dir).getCanonicalPath
    catch { case scala.util.control.NonFatal(_) => dir }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Timeseries view of `events`: (channel, t µs, v, user_id).
    * µs conversion stays integer arithmetic ⇒ codegen'd, and the
    * underlying ts/event_type predicates still push down to parquet.
    */
  def ts(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    // events.ts arrives in whichever parquet encoding the writer chose;
    // normalize every case to µs-since-epoch without assuming one:
    //  - TIMESTAMP(NANOS) + spark.sql.legacy.parquet.nanosAsLong=true
    //    (set by our mains) reads as Long nanoseconds → truncate to µs
    //    like DuckDB's epoch_us. Integer division: `/` would go through
    //    double and lose precision on ~1.7e18 ns values (> 2^53).
    //  - TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as
    //    TIMESTAMP_NTZ under Spark's default NTZ inference → cast to
    //    TIMESTAMP first (exact under the UTC session zone every graft
    //    session pins) so unix_micros applies.
    //  - plain TIMESTAMP → unix_micros directly.
    val t = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case org.apache.spark.sql.types.TimestampNTZType => unix_micros(col("ts").cast("timestamp"))
      case _ => unix_micros(col("ts"))
    }
    ev.select(
      col("event_type").as("channel"),
      t.as("t"),
      col("value").as("v"),
      col("user_id"),
      col("event_id")
    )
  }
}
