package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One measured operation: a query or a pipeline pass. `units` is what
  * the workload's throughput counts; `parts` holds named sub-times (the
  * write and read halves of an ingest pass); `round` numbers the closed
  * loop's rounds, whose throughputs the report takes the median of. */
final case class Op(name: String, seconds: Double, units: Long, ok: Boolean,
                    parts: Map[String, Double] = Map.empty, round: Int = 0)

/** A benchmark workload: a closed loop of rounds with one client thread. */
trait Workload {
  /** Generate the seeded inputs and load them. Runs once per set-up. */
  def setup(): Unit
  /** Untimed rounds before the loop, so JIT compilation has settled. */
  def warmupRounds: Int = 1
  /** One round of the closed loop: the ops it ran, in order. */
  def round(tr: Tracer): Seq[Op]
  /** Workload-specific per-layer numbers, from the traced rounds. */
  def layers(rep: TraceReport, ops: Seq[Op]): Map[String, Double]
  /** Checks outside the per-op ones: name -> (passed, detail). Runs
    * after the loop, outside the timing. */
  def checks(): Seq[(String, Boolean, String)]
  /** Workload facts the report needs (sizes, traffic dimensions). */
  def facts: Map[String, Any]
  def teardown(): Unit = ()
}

object Main {
  /** Set-ups per run; `setup_s` reports their median plus the JVM start. */
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val slots = (cores - 1) max 1
    val jvmStart = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    def make(spark: SparkSession): Workload = name match {
      case "analytics" => new Analytics(spark, seed, work)
      case "ingest"    => new Ingest(spark, seed, work)
      case other       => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var spark: SparkSession = null
    var wl: Workload = null
    val setups = (1 to Setups).map { i =>
      val t0 = System.nanoTime()
      spark = session(slots)
      spark.sparkContext.setLogLevel("ERROR")
      wl = make(spark)
      wl.setup()
      val s = (System.nanoTime() - t0) / 1e9
      if (i < Setups) { wl.teardown(); spark.stop() }
      s
    }
    val tr = new Tracer(spark.sparkContext)
    // untimed rounds first: JIT compilation, codegen and caches settle
    val w0 = System.nanoTime()
    val warmOps = (1 to wl.warmupRounds).flatMap(_ => wl.round(tr))
    val warmup = (System.nanoTime() - w0) / 1e9

    /** Whole rounds, at least `minRounds`, for about `budget` seconds: a
      * round starts only while the loop would end nearer the budget with it
      * than without it, judged by the round before. `traceRound` decides
      * per round whether spans record; the JVM counters of those rounds
      * add up in `jvmTraced`. */
    var jvmTraced = JvmCounters.Zero
    def loop(budget: Double, minRounds: Int)(traceRound: Int => Boolean): Seq[Op] = {
      val ops = mutable.ArrayBuffer.empty[Op]
      val t0 = System.nanoTime()
      var r = 0
      var last = 0.0
      while (r < minRounds || (System.nanoTime() - t0) / 1e9 + last / 2 < budget) {
        tr.recording = traceRound(r)
        val (c0, r0) = (JvmCounters.now(), System.nanoTime())
        ops ++= wl.round(tr).map(_.copy(round = r))
        last = (System.nanoTime() - r0) / 1e9
        if (tr.recording) jvmTraced = jvmTraced + (JvmCounters.now() - c0)
        r += 1
      }
      tr.recording = false
      ops.toSeq
    }

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "cores" -> cores, "task_slots" -> slots, "jvm_start_s" -> jvmStart,
      "setup_s" -> setups, "warmup_s" -> warmup, "warmup_ops" -> warmOps)
    if (!traced) out("ops") = loop(seconds, 1)(_ => false)
    else {
      // rounds alternate untraced and traced, so both see the same JIT
      // state and host load; the traced rounds give the per-layer numbers
      tr.enable()
      val ops = loop(seconds, 2)(_ % 2 == 1)
      val traced = ops.filter(_.round % 2 == 1)
      val rep = tr.report()
      out("ops") = ops
      out("layers") = commonLayers(rep, traced, slots) ++ wl.layers(rep, traced) ++
        jvmTraced.perOp(traced.size) + ("trace.spans_per_op" -> rep.spans.size.toDouble / traced.size)
      writeSpans(rep, s"$work/spans.jsonl")
    }
    val c0 = System.nanoTime()
    out("checks") = wl.checks()
    out("checks_s") = (System.nanoTime() - c0) / 1e9
    out("facts") = wl.facts
    out("peak_rss_mb") = peakRssMb()
    wl.teardown()
    spark.stop()
    Files.writeString(Paths.get(s"$work/result.json"), Json(out))
  }

  /** `GraftSession.get()` with one task slot fewer than the cores: the
    * JVM's own threads (the driver, JIT compilers, GC) keep a core, so a
    * stage does not wait on a task whose core they, or a busy host, took. */
  def session(slots: Int): SparkSession = {
    val spark = graft.GraftSession.builder(s"local[$slots]", slots).getOrCreate()
    graft.functions.GraftFunctions.register(spark)
    graft.plans.RangeJoinRewrite.install(spark)
    spark
  }

  /** Listener counters, self times and operator call/plan/action times,
    * per operation; `operators.<name>.<kind>_s` are medians per span name. */
  def commonLayers(rep: TraceReport, ops: Seq[Op], slots: Int): Map[String, Double] = {
    val n = ops.size.toDouble
    val roots = rep.roots
    val tasks = rep.tasks
    val wall = roots.map(_.seconds).sum
    val busy = tasks.map(t => (t.finishMs - t.launchMs) / 1e3).sum
    def per(x: Double) = x / n
    val opSpans = rep.spans.filter(_.layer == "operators")
    val perName = opSpans.groupBy(_.name).map { case (name, ss) =>
      val Array(op, kind) = name.split('.')
      s"operators.$op.${kind}_s" -> median(ss.map(_.seconds))
    }
    perName ++ Seq("call", "plan", "action").map { kind =>
      s"operators.${kind}_s" -> per(opSpans.filter(_.name.endsWith(s".$kind")).map(_.seconds).sum)
    } ++ Map(
      "spark.jobs" -> per(roots.map(rep.jobsUnder).sum.toDouble),
      "spark.stages" -> per(roots.map(rep.stagesUnder).sum.toDouble),
      "spark.tasks" -> per(tasks.size.toDouble),
      "spark.driver_gap_s" -> per(roots.map(rep.driverGapSeconds).sum),
      "spark.task_busy_s" -> per(busy),
      "spark.task_cpu_s" -> per(tasks.map(_.cpuNs / 1e9).sum),
      "spark.gc_s" -> per(tasks.map(_.gcMs / 1e3).sum),
      "spark.shuffle_write_bytes" -> per(tasks.map(_.shuffleWrite.toDouble).sum),
      "spark.shuffle_read_bytes" -> per(tasks.map(_.shuffleRead.toDouble).sum),
      "spark.spill_bytes" -> per(tasks.map(_.spill.toDouble).sum),
      "spark.executor_utilisation" -> (if (wall > 0) busy / (wall * slots) else 0.0),
      "sources.input_rows" -> per(tasks.map(_.inputRows.toDouble).sum),
      "sources.input_bytes" -> per(tasks.map(_.inputBytes.toDouble).sum)) ++
      Seq("client", "operators", "data").map { layer =>
        s"$layer.self_s" -> per(rep.spans.filter(_.layer == layer).map(rep.selfSeconds).sum)
      }
  }

  private def writeSpans(rep: TraceReport, path: String): Unit = {
    val lines = rep.spans.map { s =>
      Json(mutable.LinkedHashMap[String, Any]("id" -> s.id, "name" -> s.name,
        "layer" -> s.layer, "parent" -> s.parent, "request" -> s.request,
        "start_ns" -> s.start, "end_ns" -> s.end, "jobs" -> rep.jobs.getOrElse(s.id, 0L)))
    }
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak resident set of this JVM (Linux `VmHWM`), in MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  /** Time `body` as one op inside a root span of a new request. */
  def timed(tr: Tracer, name: String, units: Long)(body: => Boolean): Op = {
    tr.newRequest()
    val t0 = System.nanoTime()
    val ok = try tr.span("client", name)(body) catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        false
    }
    Op(name, (System.nanoTime() - t0) / 1e9, units, ok)
  }
}

/** JVM-wide counters: Janino compilations of Spark's generated code (one
  * per codegen-cache miss), JIT compile time and classes loaded. One client
  * thread runs, so what a round adds to them is that round's. */
final case class JvmCounters(codegen: Long, jitMs: Long, classes: Long) {
  def +(o: JvmCounters) = JvmCounters(codegen + o.codegen, jitMs + o.jitMs, classes + o.classes)
  def -(o: JvmCounters) = JvmCounters(codegen - o.codegen, jitMs - o.jitMs, classes - o.classes)
  def perOp(ops: Int): Map[String, Double] = Map(
    "spark.codegen_compiles" -> codegen.toDouble / ops,
    "jvm.jit_compile_s" -> jitMs / 1e3 / ops,
    "jvm.classes_loaded" -> classes.toDouble / ops)
}

object JvmCounters {
  val Zero = JvmCounters(0, 0, 0)
  def now(): JvmCounters = JvmCounters(
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount)
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Op => apply(mutable.LinkedHashMap[String, Any]("name" -> o.name,
      "seconds" -> o.seconds, "units" -> o.units, "ok" -> o.ok, "parts" -> o.parts, "round" -> o.round))
    case (a, b, c) => apply(Seq(a, b, c))
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
