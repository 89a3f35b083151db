package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.scalatest.funsuite.AnyFunSuite

/** Session defaults that every graft session inherits from
  * [[GraftSession.builder]]: the generated-code cache holds the working
  * set of repeated query traffic, and no entry point builds a session
  * around the factory.
  */
class GraftSessionSpec extends AnyFunSuite {
  import SparkTestSession._

  /** The benchmark's analytics mix: eight registry queries whose
    * generated code outgrows Spark's default 100-entry cache. */
  private val mix = Seq("q01_pricing_summary", "q03_topk_revenue", "q21_asof_join",
    "q22_sessionize", "q39_range_join", "q43_hll_distinct", "q66_zorder", "q162_welch_t")

  /** Janino compilations (codegen-cache misses) during `body`. */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a repeated registry query mix keeps its generated code resident") {
    // Build the session before touching CodeGenerator: its cache is
    // sized when the object initialises, from the conf active then.
    spark
    // Other suites in this JVM may already have filled the cache with
    // these queries' classes; empty it so the first pass starts cold.
    // The cache is private to CodeGenerator, hence the reflection.
    val cache = {
      val m = CodeGenerator.getClass.getDeclaredMethod("cache")
      m.setAccessible(true)
      m.invoke(CodeGenerator)
    }
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    def pass(): Unit = mix.foreach(q => SparkEntry.queries(q)(spark, sfDir).collect())
    val first = compiles(pass())
    val second = compiles(pass())
    assert(first > 100, s"first pass compiled $first classes, expected more than Spark's default cache of 100")
    // A repeat pass still compiles a stray class now and then (2 of 128
    // seen in a full tier-1 run, 0 when the suite runs alone), so allow
    // 5% of the first pass; a 100-entry cache recompiles about 75%.
    assert(second * 20 <= first,
      s"second pass recompiled $second of the $first classes the first pass compiled")
  }

  test("every session in src/main/scala is built through GraftSession.builder") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val files = Files.walk(root)
    val forks = try files.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "GraftSession.scala")
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains("SparkSession.builder()"))
      .map(root.relativize(_).toString).toList.sorted
    finally files.close()
    assert(forks.isEmpty, s"sessions built around GraftSession.builder (they miss its defaults): $forks")
  }
}
