package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.ArtifactIO
import graft.api.ArtifactIO.Frame

/** The commit protocol behind every prepared artifact's `save`: the
  * new artifact is written whole into a staging directory before the
  * old one is touched, so a save that fails midway leaves the previous
  * artifact loading intact and no staging directory behind.
  */
class ArtifactIOSpec extends AnyFunSuite {
  import SparkTestSession._

  test("a save whose second frame fails leaves the previous artifact intact and no staging dir") {
    import spark.implicits._
    val parent = java.nio.file.Files.createTempDirectory("graft_artifactio").toFile
    val dir = s"$parent/art"
    val old = Seq(1L, 2L, 3L).toDF("x")
    ArtifactIO.save(dir, "probe", Seq(Frame("a", old), Frame("b", old)), Seq("n" -> "3"))
    val fresh = Seq(7L, 8L).toDF("x")
    val failing = fresh.select(
      coalesce(assert_true(col("x") < 0L, lit("planted write failure")).cast("long"),
        col("x")).as("x"))
    val e = intercept[Exception] {
      ArtifactIO.save(dir, "probe", Seq(Frame("a", fresh), Frame("b", failing)), Seq("n" -> "2"))
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("planted write failure")),
      s"the save must fail on the planted frame, got: $e")
    val a = ArtifactIO.load(spark, dir, "probe")
    assert(a("n") == "3")
    assert(a.frame("a").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(a.frame("b").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(parent.list().toSeq == Seq("art"), "the failed save's staging dir must be gone")
    // a save that succeeds replaces the artifact and leaves no sibling
    ArtifactIO.save(dir, "probe", Seq(Frame("a", fresh), Frame("b", fresh)), Seq("n" -> "2"))
    val b = ArtifactIO.load(spark, dir, "probe")
    assert(b("n") == "2" && b.frame("b").as[Long].collect().sorted.toSeq == Seq(7L, 8L))
    assert(parent.list().toSeq == Seq("art"))
  }
}
