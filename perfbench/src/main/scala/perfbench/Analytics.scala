package perfbench

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded star schema with the column types and value domains of the
  * repository's TPC-H-like test tables: every column is an independent
  * uniform draw keyed by (seed, column, row), so a seed fixes every value
  * regardless of partitioning. */
final class StarSchema(spark: SparkSession, seed: Long, scale: Double) {
  private val Two53 = (1L << 53).toDouble

  private def u(salt: Int): Column =
    pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(1L << 53)).cast("double") / Two53

  private def int(salt: Int, lo: Long, hi: Long): Column =
    (lit(lo) + floor(u(salt) * (hi - lo + 1))).cast("long")

  private def cents(salt: Int, lo: Long, hi: Long): Column =
    int(salt, lo, hi).cast("double") / 100.0

  private def pick(salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), int(salt, 1, xs.size).cast("int"))

  private def day(salt: Int, from: String, days: Int): Column =
    (unix_timestamp(lit(from), "yyyy-MM-dd") + int(salt, 0, days) * 86400L)
      .cast("timestamp").cast("timestamp_ntz")

  private def rows(n: Long): DataFrame = spark.range(0, n, 1, 1).toDF()

  val customers: Long = math.round(150000 * scale)
  val suppliers: Long = math.round(10000 * scale) max 10
  val parts: Long = math.round(200000 * scale)
  val orders: Long = math.round(1500000 * scale)
  val lineitems: Long = 4 * orders
  val events: Long = math.round(1000000 * scale)

  def tables: Seq[(String, DataFrame)] = Seq(
    "region" -> rows(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name")),
    "nation" -> rows(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")),
    "customer" -> rows(customers).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      int(1, 0, 24).cast("int").as("c_nationkey"), cents(2, -99999, 999999).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")),
    "supplier" -> rows(suppliers).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      int(4, 0, 24).cast("int").as("s_nationkey"), cents(5, -99999, 999999).as("s_acctbal")),
    "part" -> rows(parts).select(col("id").as("p_partkey"),
      concat(pick(6, Seq("large", "hot", "blue", "old", "cold", "red", "small", "green")), lit(" "),
        pick(7, Seq("ring", "bolt", "plate", "gear", "widget", "nut", "screw", "valve"))).as("p_name"),
      concat(lit("Brand#"), int(8, 1, 25)).as("p_brand"),
      pick(9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      int(10, 1, 50).cast("int").as("p_size"),
      (lit(900.0) + (col("id") % 1000).cast("double") / 10.0).as("p_retailprice")),
    "orders" -> rows(orders).select(col("id").as("o_orderkey"),
      int(11, 0, customers - 1).as("o_custkey"), pick(12, Seq("F", "O", "P")).as("o_orderstatus"),
      cents(13, 100000, 50000000).as("o_totalprice"), day(14, "1995-01-01", 2403).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")),
    "lineitem" -> rows(lineitems).select(int(16, 0, orders - 1).as("l_orderkey"),
      int(17, 0, parts - 1).as("l_partkey"), int(18, 0, suppliers - 1).as("l_suppkey"),
      int(19, 1, 7).cast("int").as("l_linenumber"), int(20, 1, 50).cast("double").as("l_quantity"),
      cents(21, 90000, 10500000).as("l_extendedprice"), cents(22, 0, 10).as("l_discount"),
      cents(23, 0, 8).as("l_tax"), pick(24, Seq("A", "N", "R")).as("l_returnflag"),
      pick(25, Seq("F", "O")).as("l_linestatus"), day(26, "1995-01-02", 2498).as("l_shipdate")),
    "events" -> rows(events).select(col("id").as("event_id"),
      (unix_micros(lit("2024-01-01").cast("timestamp")) +
        floor((col("id").cast("double") + u(27)) * (30L * 86400L * 1000000L / events)))
        .cast("long").as("__us"),
      int(28, 0, customers / 10 - 1).as("user_id"),
      pick(29, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      cents(30, 0, 56021).as("value"), format_string("{\"k\": %d}", int(31, 0, 99)).as("props"))
      .select(col("event_id"), timestamp_micros(col("__us")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props")))

  /** Write every table as `<dir>/<name>.parquet` (one file each). */
  def write(dir: String): Unit =
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}

/** Registry queries over the seeded star schema, pass after pass.
  *
  * Small tables and many short plans: the time goes to the driver —
  * planning, job launch and scheduling — more than to tasks, so this is
  * where plan and job-count changes show and kernel changes do not. */
final class Analytics(spark: SparkSession, seed: Long, work: String) extends Workload {
  import Analytics._

  private val dir = s"$work/tables"
  private val registry = graft.SparkEntry.queries
  private val first = mutable.Map.empty[String, Int]
  private val rowsOut = mutable.Map.empty[String, Long]
  private var rounds = 0L

  def setup(): Unit = new StarSchema(spark, seed, Scale).write(dir)

  /** The first pass plans every query cold; the second still runs slow.
    * Later passes keep getting a little faster for as long as a run lasts:
    * the mix generates more classes than Spark's codegen cache holds
    * (`spark.codegen_compiles` counts the misses), so every pass compiles
    * and JIT-compiles new code. The loop's median absorbs that drift. */
  override def warmupRounds: Int = 2

  def round(tr: Tracer): Seq[Op] = {
    val order = new scala.util.Random(seed * 1000003L + rounds).shuffle(Mix)
    rounds += 1
    order.map { q =>
      val short = q.takeWhile(_ != '_')
      Main.timed(tr, q, 1) {
        val df = tr.span("operators", s"$short.call")(registry(q)(spark, dir))
        tr.span("operators", s"$short.plan")(df.queryExecution.executedPlan)
        val rows = tr.span("operators", s"$short.action")(df.collect()).toSeq
        rowsOut(q) = rows.length
        // every execution must return the first (warm-up) result
        digest(rows) == first.getOrElseUpdate(q, digest(rows))
      }
    }
  }

  def layers(rep: TraceReport, ops: Seq[Op]): Map[String, Double] = Map(
    "operators.rows_in" -> rep.tasks.map(_.inputRows.toDouble).sum / ops.size,
    "operators.rows_out" -> ops.map(o => rowsOut(o.name).toDouble).sum / ops.size)

  /** `graft.Verify` dumps each query's result and the oracle SQL; the
    * runner compares them with DuckDB through `tools/prevalidate.py`.
    * Verify stops the session when it is done, so this runs last. */
  def checks(): Seq[(String, Boolean, String)] = {
    graft.Verify.main(Array(dir, s"$work/results") ++ Mix)
    Nil
  }

  def facts: Map[String, Any] = Map("unit" -> "queries", "scale" -> Scale,
    "queries" -> Mix, "tables_dir" -> dir, "results_dir" -> s"$work/results")
}

object Analytics {
  /** Generated tables at 1/100 of TPC-H scale 1 (60k lineitem rows). */
  val Scale = 0.01

  /** Relational, temporal and statistical plans; q43 and q66 run the
    * HyperLogLog and Z-order kernels of `graft.functions` inside tasks. */
  val Mix: Seq[String] = Seq("q01_pricing_summary", "q03_topk_revenue", "q21_asof_join",
    "q22_sessionize", "q39_range_join", "q43_hll_distinct", "q66_zorder", "q162_welch_t")

  def digest(rows: Seq[Row]): Int = MurmurHash3.orderedHash(rows.map(_.toString))
}
