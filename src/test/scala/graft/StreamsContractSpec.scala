package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Ops._
import graft.operators.Multimodal.MediaRecord
import graft.operators.Similarity.PreparedIvfPq
import graft.streaming.Streams

/** The contract every artifact-serving stream shares (see the
  * [[graft.streaming.Streams]] object doc): each one refuses an
  * artifact that is not reliable before it starts, and the reliability
  * check and the absorbing-stream start each exist once.
  */
class StreamsContractSpec extends AnyFunSuite {
  import SparkTestSession._

  /** An artifact of type `A` with every field zero or null and every
    * Boolean, `reliable` among them, set to `reliable`. A stream must
    * refuse it before touching any of its frames.
    */
  private def artifact[A](reliable: Boolean)(implicit ct: ClassTag[A]): A = {
    val c = ct.runtimeClass.getDeclaredConstructors.maxBy(_.getParameterCount)
    c.setAccessible(true)
    c.newInstance(c.getParameterTypes.toSeq.map {
      case java.lang.Boolean.TYPE => Boolean.box(reliable)
      case java.lang.Integer.TYPE => Int.box(0)
      case java.lang.Long.TYPE => Long.box(0L)
      case java.lang.Double.TYPE => Double.box(0.0)
      case _ => null
    }: _*).asInstanceOf[A]
  }
  private def unreliable[A: ClassTag]: A = artifact[A](reliable = false)

  private val main: Path = Paths.get("src/main/scala")

  /** (stream, a call that hands it an unreliable artifact). */
  private lazy val refusals: Seq[(String, () => Any)] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = MemoryStream[(Long, String)].toDF().toDF("id", "text")
    val media = MemoryStream[MediaRecord].toDS()
    val dir = "never-used"
    Seq(
      "dedupAgainstCatalogStream" -> (() => Streams.dedupAgainstCatalogStream(
        rows, "id", "text", unreliable[PreparedCatalog], 0.5, _ => ())),
      "vecDedupAgainstCatalogStream" -> (() => Streams.vecDedupAgainstCatalogStream(
        rows, "id", "text", unreliable[PreparedVecCatalog], 0.5, _ => ())),
      "imageDedupStream" -> (() => Streams.imageDedupStream(
        media, unreliable[PreparedImageCatalog], _ => ())),
      "audioDedupStream" -> (() => Streams.audioDedupStream(
        media, unreliable[PreparedAudioCatalog], _ => ())),
      "videoDedupStream" -> (() => Streams.videoDedupStream(
        media, unreliable[PreparedVideoCatalog], _ => ())),
      "scd2Stream" -> (() => Streams.scd2Stream(rows, unreliable[PreparedScd2], dir, _ => ())),
      "seasonalScoreStream" -> (() => Streams.seasonalScoreStream(
        rows, unreliable[PreparedSeasonal], "ts", col("v"), (_, _) => ())),
      "dedupIngestStream" -> (() => Streams.dedupIngestStream(
        rows, "id", "text", unreliable[PreparedCatalog], 0.5, dir, (_, _) => ())),
      "vecDedupIngestStream" -> (() => Streams.vecDedupIngestStream(
        rows, "id", "text", unreliable[PreparedVecCatalog], 0.5, dir, (_, _) => ())),
      "imageDedupIngestStream" -> (() => Streams.imageDedupIngestStream(
        media, unreliable[PreparedImageCatalog], dir, (_, _) => ())),
      "audioDedupIngestStream" -> (() => Streams.audioDedupIngestStream(
        media, unreliable[PreparedAudioCatalog], dir, (_, _) => ())),
      "videoDedupIngestStream" -> (() => Streams.videoDedupIngestStream(
        media, unreliable[PreparedVideoCatalog], dir, (_, _) => ())),
      "ivfPqIngestStream" -> (() => Streams.ivfPqIngestStream(
        rows, "emb", unreliable[PreparedIvfPq], dir, _ => ())),
      "coocIngestStream" -> (() => Streams.coocIngestStream(
        rows, "basket", "item", unreliable[PreparedCooc], dir, _ => ())),
      "rollupIngestStream" -> (() => Streams.rollupIngestStream(
        rows, col("v"), unreliable[PreparedRollup], dir, _ => ())),
      "activesIngestStream" -> (() => Streams.activesIngestStream(
        rows, "unit", "ts", unreliable[PreparedActives], dir, _ => ())),
      "msprtStream" -> (() => Streams.msprtStream(rows, col("arm"), col("v"), "A", "B", 1.0,
        unreliable[PreparedMoments], dir, (_, _) => ())),
      "avciStream" -> (() => Streams.avciStream(rows, col("arm"), col("v"), "A", "B", 1.0,
        unreliable[PreparedMoments], dir, (_, _) => ())),
      "qteIngestStream" -> (() => Streams.qteIngestStream(rows, col("arm"), col("v"), "A", "B",
        unreliable[PreparedQuantiles], artifact[PreparedQuantiles](reliable = true), dir)(
        (_, _, _) => ())),
      "qteIngestStream" -> (() => Streams.qteIngestStream(rows, col("arm"), col("v"), "A", "B",
        artifact[PreparedQuantiles](reliable = true), unreliable[PreparedQuantiles], dir)(
        (_, _, _) => ())),
      "calibrationStream" -> (() => Streams.calibrationStream(rows, col("score"), col("label"),
        unreliable[PreparedCalibration], dir, (_, _) => ())),
      "kArmMonitorStream" -> (() => Streams.kArmMonitorStream(rows, col("arm"), col("v"),
        unreliable[PreparedMoments], dir, (_, _, _) => ())),
      "stripBoilerplateStream" -> (() => Streams.stripBoilerplateStream(
        rows, "id", "text", unreliable[PreparedBoilerplate], _ => ())),
      "dsirScoreStream" -> (() => Streams.dsirScoreStream(
        rows, "id", "text", unreliable[PreparedDsir], _ => ())),
      "editMatchStream" -> (() => Streams.editMatchStream(
        rows, "id", "text", unreliable[PreparedEditIndex], _ => ())),
      "lmScoreStream" -> (() => Streams.lmScoreStream(
        rows, "id", "text", unreliable[PreparedLm], _ => ())),
      "knLmScoreStream" -> (() => Streams.knLmScoreStream(
        rows, "id", "text", unreliable[PreparedKnLm], _ => ())),
      "capVocabStream" -> (() => Streams.capVocabStream(
        rows, "id", "text", unreliable[PreparedVocab], _ => ())),
      "ngramCoverageStream" -> (() => Streams.ngramCoverageStream(
        rows, "id", "text", unreliable[PreparedGramIndex], _ => ())),
      "bm25TopKStream" -> (() => Streams.bm25TopKStream(
        rows, "id", "text", unreliable[PreparedBm25])(_ => ())),
      "ivfPqTopKStream" -> (() => Streams.ivfPqTopKStream(
        rows, "id", "emb", unreliable[PreparedIvfPq])(_ => ())),
      "ivfPqTopKRerankStream" -> (() => Streams.ivfPqTopKRerankStream(
        rows, "id", "emb", unreliable[PreparedIvfPq], rows, "emb")(_ => ())))
  }

  test("every artifact-serving stream refuses an unreliable artifact, naming itself") {
    val wrong = refusals.flatMap { case (stream, start) =>
      scala.util.Try(start()) match {
        case scala.util.Failure(e: IllegalArgumentException)
            if e.getMessage.contains("reliable") && e.getMessage.contains(stream) => None
        case scala.util.Success(q: StreamingQuery) => q.stop(); Some(s"$stream: started")
        case other => Some(s"$stream: $other")
      }
    }
    assert(wrong.isEmpty, s"streams that did not refuse as required:\n${wrong.mkString("\n")}")
  }

  test("the refusal table covers every stream that checks reliability") {
    val src = new String(Files.readAllBytes(main.resolve("graft/streaming/Streams.scala")), "UTF-8")
    val checked = """requireReliable\("(\w+)"""".r.findAllMatchIn(src).map(_.group(1)).toSet
    assert(checked.size == 31, s"expected 31 checked streams, found ${checked.size}")
    assert(checked == refusals.map(_._1).toSet)
  }

  test("src/main/scala checks reliability and starts absorbing streams only through the Streams helpers") {
    val helpers = Set("requireReliable", "ingest")
    val Decl = """^\s*(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|implicit\s+|case\s+)*(def|class|object|trait)\s+(\w+)""".r.unanchored
    val Copy = """require\(\s*[\w.]+\.reliable\b|new\s+IngestLoop\b""".r
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
      s"copies of Streams.requireReliable / Streams.ingest (call the helper instead):\n${copies.mkString("\n")}")
  }
}
