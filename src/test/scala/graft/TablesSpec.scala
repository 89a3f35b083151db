package graft

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Table resolution: each table's schema is inferred once per session
  * and reused while the table's files and the session's parquet confs
  * stay the same.
  */
class TablesSpec extends AnyFunSuite {
  import SparkTestSession._

  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def tmp(): String = Files.createTempDirectory("graft_tables").toString

  /** Spark jobs `body` starts on this thread. A fence job in its own
    * group is started last; once the listener has seen it, it has seen
    * every job before it.
    */
  private def jobsDuring(body: => Unit): Int = {
    val group = s"tables-spec-${UUID.randomUUID()}"
    val fence = s"$group-fence"
    val jobs = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`fence`) => fenced.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(fence, fence)
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, TimeUnit.SECONDS), "listener never saw the fence job")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("a warm table read launches no Spark job") {
    names.foreach(n => Tables(spark, sfDir).table(n).schema)
    val jobs = jobsDuring {
      names.foreach(n => Tables(spark, sfDir).table(n).queryExecution.optimizedPlan)
      Tables(spark, sfDir).events.queryExecution.optimizedPlan
    }
    assert(jobs == 0, s"$jobs jobs for ${names.size + 1} warm reads")
  }

  test("a memoised read has the inferred schema and the same optimized plan output") {
    names.foreach { n =>
      val path = s"$sfDir/$n.parquet"
      val memo = Tables(spark, sfDir).table(n)
      val plain = spark.read.parquet(path)
      assert(memo.schema == plain.schema, n)
      assert(memo.queryExecution.optimizedPlan.schema == plain.queryExecution.optimizedPlan.schema, n)
      assert(memo.count() == plain.count(), n)
    }
  }

  test("a table rewritten at the same path is read with its new schema") {
    val dir = tmp()
    spark.range(5).toDF("k").write.parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir).table("t").columns.toSeq == Seq("k"))
    spark.range(5).select(col("id").as("k"), (col("id") * 2).as("v"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables(spark, dir).table("t")
    assert(again.columns.toSeq == Seq("k", "v"))
    assert(again.where(col("v") === 8).count() == 1)
  }

  test("a missing table fails as a plain parquet read does") {
    val dir = tmp()
    val e = intercept[Exception](Tables(spark, dir).table("absent"))
    assert(e.getMessage.contains("absent.parquet"))
  }

  // (event_id, µs-precision instant), including one before the epoch
  private val instants = Seq(0L, 1600000000123456L, -1234567000L, 1700000000000001L)
    .zipWithIndex.map { case (m, i) => (i.toLong, m) }

  /** events as parquet INT64 TIMESTAMP(NANOS), which Spark cannot write. */
  private def nanosLayout(): String = {
    val dir = tmp()
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,true));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val conf = new Configuration()
    val out = HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet/part-00000.parquet"), conf)
    val writer = ExampleParquetWriter.builder(out).withType(schema).withConf(conf).build()
    val rows = new SimpleGroupFactory(schema)
    try instants.foreach { case (id, m) =>
      writer.write(rows.newGroup().append("event_id", id).append("ts", m * 1000)
        .append("user_id", id % 3).append("event_type", "click")
        .append("value", id * 0.5).append("props", "{}"))
    } finally writer.close()
    dir
  }

  /** events written by Spark, with `ts` computed from the µs column `m`. */
  private def sparkLayout(ts: Column): String = {
    val dir = tmp()
    spark.createDataFrame(instants).toDF("event_id", "m")
      .select(col("event_id"), ts.as("ts"), (col("event_id") % 3).as("user_id"),
        lit("click").as("event_type"), (col("event_id") * 0.5).as("value"), lit("{}").as("props"))
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    dir
  }

  test("all three events.ts layouts give the same instants through the memo") {
    val layouts = Seq(
      LongType -> nanosLayout(),
      TimestampNTZType -> sparkLayout(expr("cast(timestamp_micros(m) as timestamp_ntz)")),
      TimestampType -> sparkLayout(expr("timestamp_micros(m)")))
    layouts.foreach { case (physical, dir) =>
      assert(Tables(spark, dir).table("events").schema("ts").dataType == physical)
      def read(): Seq[(Long, Long)] = Tables(spark, dir).events
        .select(col("event_id"), expr("unix_micros(ts)")).orderBy("event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val cold = read()
      assert(jobsDuring(Tables(spark, dir).events.schema) == 0, physical)
      assert(cold == instants && read() == instants, physical)
    }
  }

  test("sessions with different nanosAsLong values do not share an entry") {
    val dir = nanosLayout()
    val asLong = spark.newSession()
    asLong.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val strict = spark.newSession()
    strict.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    assert(Tables(asLong, dir).table("events").schema("ts").dataType == LongType)
    // without nanosAsLong Spark refuses TIMESTAMP(NANOS); a shared entry
    // would hand this session the other's LongType instead
    val e = intercept[Exception](Tables(strict, dir).table("events"))
    assert(e.getMessage.contains("NANOS"), e.getMessage)
    // the refusal replaced nothing: the first session still reads its entry
    assert(jobsDuring(Tables(asLong, dir).table("events").schema) == 0)
    // and a conf flip within one session resolves the table again
    asLong.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    intercept[Exception](Tables(asLong, dir).table("events"))
  }

  test("concurrent reads of one table all see its schema") {
    val dir = tmp()
    spark.range(10).select(col("id").as("k"), lit("x").as("s")).write.parquet(s"$dir/c.parquet")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val reads = (1 to 16).map(_ => pool.submit(() => Tables(spark, dir).table("c").columns.toSeq))
      assert(reads.map(_.get(60, TimeUnit.SECONDS)).forall(_ == Seq("k", "s")))
    } finally pool.shutdown()
  }
}
