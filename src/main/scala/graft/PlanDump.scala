package graft

/** Plan-review tool (SURVEY.md §7 step 6): prints the formatted
  * physical plan of the given queries (default: bench headline set) so
  * pushdown/broadcast/codegen can be eyeballed each round.
  *
  *   sbt "runMain graft.PlanDump [sfDir] [query ...]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else Bench.headline
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n================ $name ================")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
