package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Ops

/** The q162 moment family shares one exact-moments census, one double
  * readout and one keyed body per whole-frame/by-group pair (see
  * `Ops.exactMoments`). These checks pin the members no other spec
  * covers: each keyed form replays its whole-frame form on every
  * segment, and a one-row side reports its count with null statistics
  * instead of dividing by zero.
  */
class MomentFamilySpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val (sideA, sideB) = {
    import spark.implicits._
    // s1/s2 carry real spread, s3 holds one row per side; stratum r
    // is on side a only in s1 (excluded and counted)
    val a = Seq(("s1", "p", 10.0), ("s1", "p", 14.5), ("s1", "q", 3.25),
      ("s1", "q", 8.0), ("s1", "q", 6.5), ("s1", "r", 2.0),
      ("s2", "p", 100.0), ("s2", "p", 90.0), ("s2", "q", 70.5), ("s2", "q", 71.0),
      ("s3", "p", 5.0)).toDF("g", "st", "v")
    val b = Seq(("s1", "p", 12.0), ("s1", "p", 19.0), ("s1", "q", 4.0),
      ("s1", "q", 9.75), ("s2", "p", 95.0), ("s2", "p", 99.5), ("s2", "q", 60.0),
      ("s2", "q", 66.25), ("s2", "q", 64.0), ("s3", "p", 6.0)).toDF("g", "st", "v")
    (a, b)
  }

  /** (member, keyed form keyed on `g`, whole-frame form). */
  private val twins: Seq[(String, (DataFrame, DataFrame) => DataFrame,
      (DataFrame, DataFrame) => DataFrame)] = Seq(
    ("msprtHorizon",
      (a, _) => Ops.msprtHorizonByGroup(a, "g", col("v"), delta = 5.0, tau2 = 100.0),
      (a, _) => Ops.msprtHorizon(a, col("v"), delta = 5.0, tau2 = 100.0)),
    ("postStratifiedZ",
      (a, b) => Ops.postStratifiedZByGroup(a, b, "g", "st", col("v")),
      (a, b) => Ops.postStratifiedZ(a, b, "st", col("v"))))

  for ((name, keyed, whole) <- twins)
    test(s"${name}ByGroup ≡ $name on each segment") {
      val bySeg = keyed(sideA, sideB).collect()
        .map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
      assert(bySeg.keySet == Set("s1", "s2", "s3"))
      for (s <- bySeg.keys) {
        val slice = whole(sideA.filter(col("g") === s), sideB.filter(col("g") === s))
          .collect().map(_.toSeq).toSeq
        assert(slice == Seq(bySeg(s)), s"$name segment $s")
      }
    }

  test("a one-row side reports its count with null statistics, with no ANSI error") {
    import spark.implicits._
    assert(spark.conf.get("spark.sql.ansi.enabled").toBoolean,
      "ANSI mode (Spark 4.1's default) is the case under test")
    val one = Seq(("s1", 7.0)).toDF("g", "v")
    val many = Seq(("s1", 1.0), ("s1", 4.0), ("s1", 9.0)).toDF("g", "v")
    // (member, output, expected counts, statistics that must be null)
    val cases: Seq[(String, DataFrame, Map[String, Long], Seq[String])] = Seq(
      ("msprtHorizon", Ops.msprtHorizon(one, col("v"), delta = 5.0, tau2 = 100.0),
        Map("n_src" -> 1L), Seq("sigma2", "horizon_n")),
      ("welchT", Ops.welchT(one, many, col("v")),
        Map("n_a" -> 1L, "n_b" -> 3L), Seq("t", "df")),
      ("mdeReadout", Ops.mdeReadout(one, many, col("v")),
        Map("n_a" -> 1L, "n_b" -> 3L), Seq("sd_a", "mde_abs", "mde_rel")),
      ("cohensDByGroup", Ops.cohensDByGroup(one, many, "g", col("v")),
        Map("n_a" -> 1L, "n_b" -> 3L), Seq("sd_pooled", "d", "g")),
      ("sampleSizeCurve", Ops.sampleSizeCurve(one, col("v"), Seq(1.0, 2.0)),
        Map("n_src" -> 1L), Seq("sigma2", "n_per_arm")))
    for ((name, out, counts, nulls) <- cases) {
      val rows = out.collect()
      assert(rows.nonEmpty, name)
      for (r <- rows) {
        counts.foreach { case (c, n) => assert(r.getAs[Long](c) == n, s"$name $c") }
        nulls.foreach(c => assert(r.isNullAt(r.fieldIndex(c)), s"$name $c must be null"))
      }
    }
  }

  test("src/main/scala takes exact moments and their readout only through the Ops helpers") {
    val main: Path = Paths.get("src/main/scala")
    val helpers = Set("momentSums")
    val Decl = """^\s*(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|implicit\s+|case\s+)*(def|class|object|trait)\s+(\w+)""".r.unanchored
    val Copy = """sum\(d \* d\)\.cast\(DecimalType\(38, 4\)\)|\bdef sxx\(""".r
    val files = Files.walk(main)
    val copies = try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList.flatMap { p =>
      var enclosing = ""
      Files.readAllLines(p).asScala.toList.zipWithIndex.flatMap { case (line, i) =>
        line match {
          case Decl("def", name) => enclosing = name
          case Decl(_, _) => enclosing = ""
          case _ =>
        }
        if (Copy.findFirstIn(line).isEmpty || helpers(enclosing)) None
        else Some(s"${main.relativize(p)}:${i + 1}: ${line.trim}")
      }
    } finally files.close()
    assert(copies.isEmpty,
      s"copies of the exact-moments census or readout (call Ops.exactMoments / MomentReadout):\n${copies.mkString("\n")}")
  }
}
