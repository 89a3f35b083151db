package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

/** Schema-stable loaders for the driver-generated parquet tables.
  *
  * Plain `spark.read.parquet` so Catalyst keeps full pushdown freedom
  * (predicate pushdown, column pruning, partition coalescing via AQE).
  * At cluster scale the same loaders work unchanged against a
  * directory of many files.
  */
final class Tables(val spark: SparkSession, dir: String) {
  def table(name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region: DataFrame     = table("region")
  def nation: DataFrame     = table("nation")
  def customer: DataFrame   = table("customer")
  def supplier: DataFrame   = table("supplier")
  def part: DataFrame       = table("part")
  def orders: DataFrame     = table("orders")
  def lineitem: DataFrame   = table("lineitem")
  /** `events.ts` has shipped in three physical layouts across testdata
    * generations: parquet TIMESTAMP(NANOS) (read as raw nanos under the
    * `nanosAsLong` legacy flag — set at session construction by
    * GraftSession, NOT here: loaders are side-effect-free),
    * TIMESTAMP(MICROS) without UTC adjustment (Spark: TIMESTAMP_NTZ),
    * and plain TIMESTAMP. All three carry µs-precision instants, so the
    * loader branches on the OBSERVED type and surfaces one stable
    * `timestamp` column (session timezone is pinned UTC, making the
    * NTZ cast instant-preserving and DuckDB-identical).
    */
  def events: DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = table("events")
    val ts = raw.schema("ts").dataType match {
      case LongType         => expr("timestamp_micros(ts div 1000)")
      case TimestampNTZType =>
        // instant-preserving ONLY under a UTC session; this is a public
        // loader, so assert the precondition instead of silently
        // shifting every instant in a non-UTC session (ADVICE r8)
        require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
          "Tables.events: TIMESTAMP_NTZ ts requires spark.sql.session.timeZone=UTC " +
            s"(got ${spark.conf.get("spark.sql.session.timeZone")})")
        col("ts").cast("timestamp")
      case TimestampType    => col("ts")
      case other            => sys.error(
        s"Tables.events: unsupported physical type for ts: $other " +
          "(expected LONG nanos, TIMESTAMP_NTZ micros, or TIMESTAMP)")
    }
    raw.withColumn("ts", ts)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
  }
  def documents: DataFrame  = table("documents")
  def embeddings: DataFrame = table("embeddings")
}

object Tables {
  def apply(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)
}
