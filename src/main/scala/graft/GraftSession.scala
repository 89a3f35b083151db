package graft

import org.apache.spark.sql.SparkSession

/** Session factory: every graft session — library users, the
  * Verify/PlanAudit/PlanDump/Profile entry points and the test
  * session — is built through [[GraftSession.builder]], so they all
  * share one set of defaults. Callers add only what is their own
  * (warehouse dir, log level, listeners) and may override any default
  * with `.config(...)`.
  *
  * Defaults encode the 100 TB posture: AQE on (runtime re-planning,
  * skew-join splitting, partition coalescing), shuffle partitions
  * sized to the actual parallelism instead of the 200 default, UTC
  * session time, and the graft function registry (cosine_sim) loaded.
  *
  * Session defaults also size Spark's generated-code cache
  * (`spark.sql.codegen.cache.maxEntries`) at 2000 entries instead of
  * Spark's 100. A mix of eight registry queries already compiles
  * about 130 distinct classes, so with 100 entries every repeat pass
  * evicts and recompiles (Janino, then JIT) the same code. The cache
  * stays a bounded LRU. The setting is a static conf read once per
  * JVM, when `CodeGenerator`'s cache is first built: it only takes
  * effect if the JVM's first codegen runs in a session built through
  * this factory.
  */
object GraftSession {

  def builder(master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
              shufflePartitions: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet ships TIMESTAMP(NANOS); the vectorized reader
      // needs the legacy raw-long mode (Tables.events converts to µs)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // the generated-code working set of repeated query traffic stays
      // resident (see the object scaladoc for the first-codegen caveat)
      .config("spark.sql.codegen.cache.maxEntries", "2000")

  /** Build (or reuse) the session, register graft functions and
    * install the graft optimizer rules (range-join rewrite).
    */
  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    graft.functions.GraftFunctions.register(spark)
    graft.plans.RangeJoinRewrite.install(spark)
    spark
  }
}
