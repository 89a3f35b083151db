package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // extra args = run only these queries (local iteration; the driver
    // always calls with exactly two args → full run)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // defense at the source (r14, SURVEY §3; widened r18): a
        // DECIMAL column of ANY precision in a gated output is a
        // LATENT external-gate hash failure (trailing-zero
        // canonicalization — r17 proved the trap bites at (18,2) on
        // q247/q249 with exactly-equal values) — refuse loudly here
        // so the driver's own run shows a visible error instead of a
        // silent hash mismatch
        val wide = df.schema.fields.filter(_.dataType match {
          case _: org.apache.spark.sql.types.DecimalType => true
          case _ => false
        })
        if (wide.nonEmpty) throw new IllegalStateException(
          s"gated output carries DECIMAL column(s) " +
            wide.map(f => s"${f.name}: ${f.dataType.sql}").mkString(", ") +
            " — emit BIGINT or DOUBLE (SURVEY §3)")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
