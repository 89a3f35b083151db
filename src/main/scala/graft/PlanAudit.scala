package graft

/** Plan-shape audit tool (r13): prints each named gated query's join
  * operators and exchange count so a reviewer can see the physical
  * strategy (broadcast vs sort-merge, where the shuffles are)
  * without scrolling full explain output.
  *
  * Usage: `sbt "runMain graft.PlanAudit <sfDir> <query>..."` (plan
  * build only; checkpoint-iterative queries execute their loops).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    require(args.length > 1, "usage: PlanAudit <sfDir> <query>...")
    val sfDir = args.head
    val names = args.drop(1).toSeq
    val spark = GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      for (n <- names) {
        try {
          val plan = SparkEntry.queries(n)(spark, sfDir)
            .queryExecution.executedPlan.toString
          val joins = plan.linesIterator
            .filter(_.contains("Join")).map(_.trim.takeWhile(_ != '[').trim)
            .toSeq.groupBy(identity).view.mapValues(_.size).toMap
          val exchanges = plan.linesIterator.count(_.contains("Exchange"))
          val scans = plan.linesIterator.count(_.contains("FileScan"))
          println(s"##AUDIT## $n exchanges=$exchanges scans=$scans joins=" +
            joins.toSeq.sortBy(_._1).map { case (k, c) => s"$k:$c" }.mkString(","))
        } catch {
          case e: Throwable => println(s"##AUDIT## $n ERROR ${e.getMessage.take(120)}")
        }
      }
    } finally spark.stop()
  }
}
