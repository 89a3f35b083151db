package graft

/** Plan-review tool (SURVEY.md §7 step 6): prints the formatted
  * physical plan of the given queries so pushdown/broadcast/codegen
  * can be eyeballed.
  *
  *   sbt "runMain graft.PlanDump <sfDir> <query>..."
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length > 1, "usage: PlanDump <sfDir> <query>...")
    val sfDir = args.head
    val names = args.drop(1).toSeq
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n================ $name ================")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
