package graft.sources

import java.io.FileNotFoundException
import java.util.WeakHashMap

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.StructType

/** Schema-stable loaders for the driver-generated parquet tables.
  *
  * Each table is read as `spark.read.schema(s).parquet(path)`, so
  * Catalyst keeps full pushdown freedom (predicate pushdown, column
  * pruning, partition coalescing via AQE) while the read launches no
  * job. Without a schema, every read starts a one-task Spark job that
  * opens the parquet footers, and every registry query reads its
  * tables through a fresh `Tables`.
  *
  * `s` comes from a memo in the companion object. An entry belongs to
  * one (session, path) and records the values of the session's
  * `spark.sql.parquet.*` and `spark.sql.legacy.parquet.*` confs (they
  * shape inference: `nanosAsLong`, `inferTimestampNTZ.enabled`, …) and
  * a fingerprint of the path's recursive file listing (names, sizes,
  * modification times). A read whose confs or listing differ from the
  * entry's infers the schema again and replaces the entry, so a table
  * rewritten at the same path is seen with its new schema, and there
  * is never more than one entry per (session, path). Sessions are
  * held weakly: a session nothing else references drops its entries.
  * The listing costs one recursive file-system listing per read, the
  * same listing Spark's file index makes anyway. At cluster scale the
  * same loaders work unchanged against a directory of many files.
  */
final class Tables(val spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = Tables.read(spark, s"$dir/$name.parquet")

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

  /** An inferred schema and what it was inferred under. */
  private final case class Resolved(confs: Seq[(String, String)],
                                    listing: Seq[(String, Long, Long)],
                                    schema: StructType)

  // session → path → its one entry; guarded by its own monitor
  private val memo = new WeakHashMap[SparkSession, mutable.Map[String, Resolved]]()

  /** Read the parquet table at `path` with its memoised schema,
    * inferring (one Spark job) only on a miss. A path that cannot be
    * listed is read without a schema, so Spark reports it as usual.
    */
  private def read(spark: SparkSession, path: String): DataFrame =
    listing(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(files) =>
        val confs = spark.conf.getAll.toSeq.filter { case (k, _) =>
          k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
        }.sorted
        val hit = memo.synchronized(Option(memo.get(spark)).flatMap(_.get(path)))
          .filter(r => r.confs == confs && r.listing == files)
        val schema = hit.map(_.schema).getOrElse {
          // inferred outside the lock: a concurrent miss on the same
          // path infers twice, and either entry is valid for its listing
          val inferred = spark.read.parquet(path).schema
          memo.synchronized {
            memo.computeIfAbsent(spark, _ => mutable.Map.empty)(path) = Resolved(confs, files, inferred)
          }
          inferred
        }
        spark.read.schema(schema).parquet(path)
    }

  /** Every file under `path` as (name, size, mtime), sorted; `None`
    * when `path` does not exist.
    */
  private def listing(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val it = fs.listFiles(p, true)
      val files = Vector.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val s = it.next()
        files += ((s.getPath.toString, s.getLen, s.getModificationTime))
      }
      Some(files.result().sorted)
    } catch { case _: FileNotFoundException => None }
  }
}
