package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Salted-BSP skew probe (VERDICT r15 next #6): a synthetic power-law
  * graph — one celebrity source carrying ~a third of all edges — timed
  * through pageRank with and without hot-vertex salting at 1× and
  * 10×. The readout the salting exists for: unsalted, the celebrity's
  * edges land on ONE reducer task per iteration and the wall tracks
  * the hot task; salted k ways the same rows spread over k tasks.
  *
  * Usage: `sbt "runMain graft.SaltProbe [edges1x] [scales...]"`
  * (defaults: 2,000,000 edges at 1×; scales 1 and 10).
  */
object SaltProbe {
  def main(args: Array[String]): Unit = {
    val edges1x = args.headOption.map(_.toLong).getOrElse(2000000L)
    val scales = if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(1, 10)
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time(name: String)(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      println(f"[saltprobe] $name%-28s $sec%7.2f s")
      sec
    }

    for (scale <- scales) {
      val n = edges1x * scale
      val verts = 100000L * scale
      val dir = s"/tmp/graft_salt_probe_x$scale"
      spark.range(n).select(
          when(col("id") % 3 === 0, lit(1L))
            .otherwise(pmod(xxhash64(col("id")), lit(verts)) + 10L).as("s"),
          (pmod(xxhash64(col("id"), lit(7L)), lit(verts)) + 10L).as("d"))
        .write.mode("overwrite").parquet(dir)
      val g = spark.read.parquet(dir)
      val hotShare = g.filter(col("s") === 1L).count()
      println(s"[saltprobe] scale=${scale}x edges=$n celebrity-edges=$hotShare")
      // warm-up
      graft.api.Ops.pageRank(g, "s", "d", iters = 1)
        .write.format("noop").mode("overwrite").save()
      val plain = time(s"pagerank_plain_${scale}x")(
        graft.api.Ops.pageRank(g, "s", "d", iters = 3))
      val salted = time(s"pagerank_salted_${scale}x")(
        graft.api.Ops.pageRank(g, "s", "d", iters = 3,
          saltHotDegree = 100000L, saltK = 32))
      println(f"[saltprobe] scale=${scale}x salted/plain = ${salted / plain}%.3f")
      // the counterfactual regime: AQE's skew-join splitter OFF and
      // the per-vertex side too big to broadcast — the environment a
      // partition-preserving cluster plan can find itself in, and
      // the one manual salting exists for
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plainNo = time(s"pagerank_plain_noaqe_${scale}x")(
        graft.api.Ops.pageRank(g, "s", "d", iters = 3))
      val saltedNo = time(s"pagerank_salted_noaqe_${scale}x")(
        graft.api.Ops.pageRank(g, "s", "d", iters = 3,
          saltHotDegree = 100000L, saltK = 32))
      println(f"[saltprobe] scale=${scale}x NOAQE salted/plain = ${saltedNo / plainNo}%.3f")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
    spark.stop()
  }
}
