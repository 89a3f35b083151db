package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-job profiling harness (r17 optimization round, guide §1):
  * runs the given queries through the noop sink with a listener that
  * prints one line per Spark JOB — duration, stage count, task count,
  * shuffle read/write and input bytes — so a multi-job query
  * (checkpoint loops, prepared-artifact materializations, driver
  * round-trips) shows WHERE its wall time goes, not just the total.
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.Profile [sfDir] q231_... [q...]"
  *
  * One warm-up run (untimed, listener off) then one profiled run per
  * query, same session — the numbers are for decomposition, not for
  * round-over-round comparison (`perfbench/` owns that).
  */
object Profile {
  private final class JobLog extends SparkListener {
    case class Job(start: Long, desc: String, nStages: Int)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    @volatile var enabled = false
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def onJobStart(js: SparkListenerJobStart): Unit = if (enabled) {
      // the final stage's name carries the action's call site
      // ("checkpoint at Ops.scala:112") — the decomposition label
      val desc = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(js.stageInfos.lastOption.map(_.name)).getOrElse("")
      jobs.put(js.jobId, Job(js.time, desc, js.stageInfos.size))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      val j = jobs.remove(je.jobId)
      if (j != null) {
        val dur = (je.time - j.start) / 1000.0
        lines.add(f"[job] ${je.jobId}%4d ${dur}%8.3fs  stages=${j.nStages}%-3d ${j.desc}")
      }
    }
    // slow stages get their own line: task count + time + shuffle
    // bytes + the stage's call-site name, the per-operator scent
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = if (enabled) {
      val si = sc.stageInfo
      val dur = (for (a <- si.completionTime; b <- si.submissionTime)
        yield (a - b) / 1000.0).getOrElse(-1.0)
      if (dur >= 0.25) {
        val m = si.taskMetrics
        lines.add(f"  [stage] ${si.stageId}%4d ${dur}%8.3fs tasks=${si.numTasks}%-4d " +
          f"shufR=${m.shuffleReadMetrics.totalBytesRead / 1048576.0}%8.1fMB " +
          f"shufW=${m.shuffleWriteMetrics.bytesWritten / 1048576.0}%8.1fMB  ${si.name}")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("q01_pricing_summary")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    names.foreach { name =>
      // warm-up (JIT + codegen), listener disabled
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[profile] warmup $name: $e") }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      log.enabled = true
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[profile] $name: $e") }
      val t = (System.nanoTime() - t0) / 1e9
      log.enabled = false
      println(s"\n================ $name  total ${f"$t%.3f"}s ================")
      log.lines.forEach(l => println(l))
      log.lines.clear()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }
    spark.stop()
  }
}
