package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call into a layer. Times are nanoseconds of `System.nanoTime`. */
final case class Span(id: Long, name: String, layer: String, parent: Long,
                      request: Long, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** One finished task, attributed to the span whose job group launched it. */
final case class TaskRec(span: Long, launchMs: Long, finishMs: Long,
                         cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                         shuffleRead: Long, spill: Long, inputRows: Long,
                         inputBytes: Long)

/** Spark's public listener counters, keyed by the benchmark's job group.
  *
  * A span sets the job group `perfbench-<span id>` on the calling thread,
  * so every job it launches — the action, and any job an operator starts
  * eagerly inside the call (checkpoints, merge rounds, collects) — carries
  * that group in its properties. Stages take the group of the job that
  * submitted them and tasks the group of their stage, so each job, stage
  * and task is counted once, against the innermost span open at submit.
  */
final class Counters extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  val jobsBySpan = new ConcurrentHashMap[Long, AtomicLong]()
  val stagesBySpan = new ConcurrentHashMap[Long, AtomicLong]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  private val jobsStarted = new AtomicLong()
  private val jobsEnded = new AtomicLong()
  private val tasksStarted = new AtomicLong()
  private val tasksEnded = new AtomicLong()

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))
      .map(_.stripPrefix(Tracer.GroupPrefix).toLong).getOrElse(0L)

  private def bump(m: ConcurrentHashMap[Long, AtomicLong], span: Long): Unit =
    m.computeIfAbsent(span, _ => new AtomicLong()).incrementAndGet()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = spanOf(e.properties)
    e.stageInfos.foreach(s => stageSpan.putIfAbsent(s.stageId, span))
    bump(jobsBySpan, span)
    jobsStarted.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val span = spanOf(e.properties)
    stageSpan.put(e.stageInfo.stageId, span)
    bump(stagesBySpan, span)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = tasksStarted.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasksEnded.incrementAndGet()
    val span = Option(stageSpan.get(e.stageId)).map(_.longValue).getOrElse(0L)
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m == null) tasks.add(TaskRec(span, i.launchTime, i.finishTime, 0, 0, 0, 0, 0, 0, 0))
    else tasks.add(TaskRec(span, i.launchTime, i.finishTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.recordsRead, m.inputMetrics.bytesRead))
  }

  /** Wait until the asynchronous listener bus has delivered the end of
    * every job and task it announced, so the counters are complete. */
  def drain(timeoutMs: Long = 30000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var stable = 0
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      if (jobsEnded.get == jobsStarted.get && tasksEnded.get == tasksStarted.get) stable += 1
      else stable = 0
    }
  }
}

/** Span recorder. Not recording, `span` only runs its body: untraced runs
  * pay nothing, so the end-to-end numbers never include tracing. */
final class Tracer(sc: SparkContext) {
  /** Whether `span` records; set per round by the runner. */
  var recording = false
  private var nextId = 1L
  private var stack: List[Long] = Nil
  private var request = 0L
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = new Counters

  /** Register the listener; spans are recorded while `recording`. */
  def enable(): Unit = sc.addSparkListener(counters)

  /** Start a new request: spans opened from now on share its id. */
  def newRequest(): Unit = request += 1

  def span[T](layer: String, name: String)(body: => T): T =
    if (!recording) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setJobGroup(Tracer.GroupPrefix + id, name, interruptOnCancel = false)
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        stack = stack.tail
        spans += Span(id, name, layer, parent, request, start, end)
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p, "", interruptOnCancel = false)
          case None    => sc.clearJobGroup()
        }
      }
    }

  /** Every recorded span, with its counters. */
  def report(): TraceReport = {
    counters.drain()
    val sel = spans.toSeq
    val ids = sel.map(_.id).toSet
    TraceReport(sel,
      counters.tasks.asScala.filter(t => ids(t.span)).toSeq,
      ids.toSeq.map(i => i -> Option(counters.jobsBySpan.get(i)).map(_.get).getOrElse(0L)).toMap,
      ids.toSeq.map(i => i -> Option(counters.stagesBySpan.get(i)).map(_.get).getOrElse(0L)).toMap)
  }
}

object Tracer {
  val GroupPrefix = "perfbench-"
}

/** Per-layer numbers derived from the spans of the traced requests. */
final case class TraceReport(spans: Seq[Span], tasks: Seq[TaskRec],
                             jobs: Map[Long, Long], stages: Map[Long, Long]) {
  private val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent)
  private val byId: Map[Long, Span] = spans.map(s => s.id -> s).toMap

  /** A span's duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val covered = union(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
    s.seconds - covered / 1e9
  }

  /** The span and every span below it. */
  def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  def roots: Seq[Span] = spans.filter(s => !byId.contains(s.parent))

  def tasksUnder(s: Span): Seq[TaskRec] = {
    val ids = subtree(s).map(_.id).toSet
    tasks.filter(t => ids(t.span))
  }

  def jobsUnder(s: Span): Long = subtree(s).map(x => jobs.getOrElse(x.id, 0L)).sum
  def stagesUnder(s: Span): Long = subtree(s).map(x => stages.getOrElse(x.id, 0L)).sum

  /** Wall time inside `s` during which no task of its subtree ran. */
  def driverGapSeconds(s: Span): Double =
    (s.seconds - union(tasksUnder(s).map(t => (t.launchMs, t.finishMs))) / 1e3) max 0.0

  private def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0.0
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }
}
