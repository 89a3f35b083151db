package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

/** Smoke + shape checks for every SparkEntry query at sf0.001.
  * Value-level correctness is covered by the DuckDB oracle gate:
  * `graft.Verify` dumps every result and `tools/prevalidate.py`
  * compares it with DuckDB.
  */
class QueriesSpec extends AnyFunSuite {
  import SparkTestSession._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has matching oracle or declared rows-only") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries entry: $missing")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs and returns rows at sf0.001") {
      val df = fn(spark, sfDir)
      assert(df.columns.nonEmpty)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }
}
