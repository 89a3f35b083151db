package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Temporal
import graft.sources.Tables
import graft.streaming.Streams
import graft.streaming.Streams.Event

/** Streaming ≡ batch equivalence (SURVEY.md §2 streaming rows): the
  * same events through the streaming pipelines must reproduce the
  * batch q22/q23 results.
  */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  private def eventSeq: Seq[Event] = {
    val t = Tables(spark, sfDir)
    t.events.select("event_id", "ts", "user_id", "event_type", "value")
      .collect()
      .map(r => Event(r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .toSeq
  }

  test("streaming window agg reproduces batch q23 buckets") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    stream.addData(eventSeq)
    val query = Streams.windowAgg(stream.toDF())
      .writeStream.format("memory").queryName("win_out").outputMode("complete").start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("win_out")
        .select(col("bucket_start"), col("event_type"), col("n_events"))
      val batch = Temporal.q23(Tables(spark, sfDir))
        .select(col("bucket_start"), col("event_type"), col("n_events"))
      assert(streamed.count() == batch.count())
      assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
        "streaming buckets differ from batch q23")
    } finally query.stop()
  }

  test("streaming dedup drops re-delivered events, keeps all distinct ones") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = eventSeq.take(500)
    val stream = MemoryStream[Event]
    // every event delivered twice (same micro-batch set) — the shape
    // of an at-least-once source re-delivering on retry
    stream.addData(events ++ events)
    val query = Streams.dedup(stream.toDF())
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      query.processAllAvailable()
      val out = spark.table("dedup_out")
      assert(out.count() == events.length,
        s"expected ${events.length} distinct events, got ${out.count()}")
      assert(out.select("event_id").distinct().count() == events.length)
    } finally query.stop()
  }

  test("streaming Avro decode produces the same rows as batch decode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.data.{AvroBinary, AvroSchemas}
    val region = Tables(spark, sfDir).region
    val schemaJson = AvroSchemas.toAvroSchema(region.schema, "region").toString
    val datums = AvroBinary.encode(region, "region").collect().map(_.getAs[Array[Byte]](0))
    val stream = MemoryStream[Array[Byte]]
    stream.addData(datums.toSeq)
    val query = Streams.decodeAvro(stream.toDF().withColumnRenamed("value", "avro_bin"),
        "avro_bin", schemaJson)
      .writeStream.format("memory").queryName("avro_out").outputMode("append").start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("avro_out")
      assert(streamed.count() == region.count())
      assert(streamed.except(region).isEmpty && region.except(streamed).isEmpty,
        "streaming avro decode diverged from the batch table")
    } finally query.stop()
  }

  test("framed Avro decode follows a mid-stream writer schema upgrade via the provider") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.data.AvroRegistry
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.avro.io.EncoderFactory
    val v1 = """{"type": "record", "name": "M", "fields": [{"name": "a", "type": "long"}]}"""
    val v2 =
      """{"type": "record", "name": "M", "fields": [
        |  {"name": "a", "type": "long"},
        |  {"name": "b", "type": "string", "default": "legacy"}]}""".stripMargin
    val provider = AvroRegistry.InMemoryProvider(Map(1 -> v1, 2 -> v2))
    def framed(id: Int, schemaJson: String)(fill: GenericRecord => Unit): Array[Byte] = {
      val sch = new Schema.Parser().parse(schemaJson)
      val rec = new GenericData.Record(sch)
      fill(rec)
      val bos = new java.io.ByteArrayOutputStream()
      val enc = EncoderFactory.get().binaryEncoder(bos, null)
      new GenericDatumWriter[GenericRecord](sch).write(rec, enc)
      enc.flush()
      AvroRegistry.frameHeader(id) ++ bos.toByteArray
    }
    val stream = MemoryStream[Array[Byte]]
    // the producer upgrades its writer schema between deliveries
    stream.addData(Seq(
      framed(1, v1)(_.put("a", 1L)),
      framed(1, v1)(_.put("a", 2L))))
    stream.addData(Seq(
      framed(2, v2) { r => r.put("a", 3L); r.put("b", "fresh") }))
    val query = Streams.decodeAvroFramed(
        stream.toDF().withColumnRenamed("value", "bin"), "bin", provider, readerSchemaJson = v2)
      .writeStream.format("memory").queryName("framed_out").outputMode("append").start()
    try {
      query.processAllAvailable()
      val got = spark.table("framed_out").orderBy("a").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got == Seq((1L, "legacy"), (2L, "legacy"), (3L, "fresh")),
        s"old-schema datums must resolve against the reader schema with defaults: $got")
    } finally query.stop()
  }

  test("kafkaAvroSource: verified option recipe; decodeKafkaAvro carries metadata, stream ≡ batch decode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.data.AvroRegistry
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.avro.io.EncoderFactory
    // the source recipe is a PURE option map — spec-checked without a
    // broker; kafkaAvroSource is one .load() over it + the decode half
    val cfg = Streams.KafkaSourceConfig("broker1:9092,broker2:9092", "events.avro",
      startingOffsets = "earliest", maxOffsetsPerTrigger = Some(1000L),
      extraOptions = Map("kafka.security.protocol" -> "PLAINTEXT"))
    assert(cfg.options == Map(
      "kafka.bootstrap.servers" -> "broker1:9092,broker2:9092",
      "subscribe" -> "events.avro",
      "startingOffsets" -> "earliest",
      "maxOffsetsPerTrigger" -> "1000",
      "kafka.security.protocol" -> "PLAINTEXT"))
    intercept[IllegalArgumentException](Streams.KafkaSourceConfig("", "t"))
    // kafka-SHAPED stand-in (same contract columns as the source),
    // with a mid-stream writer upgrade through the registry
    val v1 = """{"type": "record", "name": "K", "fields": [{"name": "a", "type": "long"}]}"""
    val v2 =
      """{"type": "record", "name": "K", "fields": [
        |  {"name": "a", "type": "long"},
        |  {"name": "b", "type": "string", "default": "legacy"}]}""".stripMargin
    val provider = AvroRegistry.InMemoryProvider(Map(1 -> v1, 2 -> v2))
    def framed(id: Int, schemaJson: String)(fill: GenericRecord => Unit): Array[Byte] = {
      val sch = new Schema.Parser().parse(schemaJson)
      val rec = new GenericData.Record(sch)
      fill(rec)
      val bos = new java.io.ByteArrayOutputStream()
      val enc = EncoderFactory.get().binaryEncoder(bos, null)
      new GenericDatumWriter[GenericRecord](sch).write(rec, enc)
      enc.flush()
      AvroRegistry.frameHeader(id) ++ bos.toByteArray
    }
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = Seq(
      (Array.empty[Byte], framed(1, v1)(_.put("a", 1L)), "events.avro", 0, 100L, ts0),
      (Array.empty[Byte], framed(1, v1)(_.put("a", 2L)), "events.avro", 1, 200L, ts0),
      (Array.empty[Byte], framed(2, v2) { r => r.put("a", 3L); r.put("b", "fresh") },
        "events.avro", 0, 101L, ts0))
    val cols = Seq("key", "value", "topic", "partition", "offset", "timestamp")
    val stream = MemoryStream[(Array[Byte], Array[Byte], String, Int, Long, java.sql.Timestamp)]
    stream.addData(rows)
    val query = Streams.decodeKafkaAvro(stream.toDF().toDF(cols: _*), provider, v2)
      .writeStream.format("memory").queryName("kafka_avro_out").outputMode("append").start()
    val streamGot = try {
      query.processAllAvailable()
      spark.table("kafka_avro_out").orderBy("a").collect().map(_.toSeq).toSeq
    } finally query.stop()
    // metadata rides beside the decoded fields, upgrade decodes
    assert(streamGot.map(s => (s(1), s(2), s(4), s(5))) == Seq(
      (0, 100L, 1L, "legacy"), (1, 200L, 2L, "legacy"), (0, 101L, 3L, "fresh")),
      s"got $streamGot")
    // decode parity with the BATCH path on the identical rows — the
    // composition adds configuration, never semantics
    val batchGot = AvroRegistry.decodeFramed(rows.toDF(cols: _*), "value", provider, v2,
        keepCols = Seq("topic", "partition", "offset", "timestamp"))
      .orderBy("a").collect().map(_.toSeq).toSeq
    assert(streamGot == batchGot, "stream decode ≡ batch decode")
    // fail fast on a frame missing the source contract
    val bad = intercept[IllegalArgumentException](
      Streams.decodeKafkaAvro(rows.toDF(cols: _*).drop("offset"), provider, v2))
    assert(bad.getMessage.contains("offset"))
  }

  test("streaming pack: per-shard offsets continue across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streams.{Doc, PackedDoc}
    val stream = MemoryStream[Doc]
    val batch1 = Seq(Doc(1, 700), Doc(2, 700), Doc(3, 700), Doc(4, 700))
    val batch2 = Seq(Doc(5, 700), Doc(6, 700))
    val query = Streams.packStream(stream.toDS(), budgetTokens = 1000L, shards = 2)
      .writeStream.format("memory").queryName("pack_out").outputMode("append").start()
    try {
      stream.addData(batch1); query.processAllAvailable()
      stream.addData(batch2); query.processAllAvailable()
      val got = spark.table("pack_out").as[PackedDoc].collect()
        .map(p => p.doc_id -> p).toMap
      assert(got.size == 6)
      // replay the same deterministic assignment driver-side
      def hash(id: Long): Long = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex.substring(0, 15), 16)
      }
      val offsets = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for (batch <- Seq(batch1, batch2); d <- batch.sortBy(_.doc_id)) {
        val shard = hash(d.doc_id) % 2
        val off = offsets(shard)
        val exp = got(d.doc_id)
        assert(exp.shard == shard && exp.start_offset == off && exp.pack_id == off / 1000L,
          s"doc ${d.doc_id}: got $exp, expected shard=$shard off=$off")
        offsets(shard) = off + d.n_tokens
      }
      // state carried across triggers: batch-2 docs never restart at 0
      // unless their shard was genuinely empty in batch 1
      val b1shards = batch1.map(d => hash(d.doc_id) % 2).toSet
      assert(batch2.forall(d =>
        !b1shards.contains(hash(d.doc_id) % 2) || got(d.doc_id).start_offset > 0))
    } finally query.stop()
  }

  test("streaming pack: one huge trigger streams through bounded per-shard chunks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streams.{Doc, PackedDoc}
    val stream = MemoryStream[Doc]
    // 500 docs in ONE trigger on ONE shard-ish key space, buffer
    // capped at 32: the catch-up-batch shape that used to buffer the
    // whole slice per shard
    val big = (1L to 500L).map(i => Doc(i, 10))
    val query = Streams.packStream(stream.toDS(), budgetTokens = 100L, shards = 2,
      maxBufferPerShard = 32)
      .writeStream.format("memory").queryName("pack_big").outputMode("append").start()
    try {
      stream.addData(big); query.processAllAvailable()
      val got = spark.table("pack_big").as[PackedDoc].collect()
      assert(got.length == 500, "every doc must be packed exactly once")
      // per shard: offsets are contiguous multiples of 10 covering
      // [0, 10*n) — chunking must not skip, repeat or overlap offsets
      for ((shard, rows) <- got.groupBy(_.shard)) {
        val offs = rows.map(_.start_offset).sorted.toSeq
        assert(offs == (0L until rows.length).map(_ * 10L).toSeq,
          s"shard $shard offsets not contiguous: ${offs.take(10)}...")
        assert(rows.forall(p => p.pack_id == p.start_offset / 100L))
      }
      // within each 32-doc chunk the ids pack in doc_id order
      for ((_, rows) <- got.groupBy(_.shard)) {
        val byOffset = rows.sortBy(_.start_offset).map(_.doc_id).toSeq
        val chunkSorted = byOffset.grouped(32).forall(c => c == c.sorted)
        assert(chunkSorted, "chunk-local doc_id ordering violated")
      }
    } finally query.stop()
  }

  test("stream-stream interval join reproduces batch q39 pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[Event]
    val errors = MemoryStream[Event]
    val all = eventSeq
    purchases.addData(all.filter(_.event_type == "purchase"))
    errors.addData(all.filter(_.event_type == "error"))
    val joined = Streams.intervalJoin(
      purchases.toDF().select("event_id", "ts"),
      errors.toDF().select("event_id", "ts"), toleranceSec = 300)
    val query = joined.writeStream.format("memory").queryName("ij_out")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("ij_out")
        .select(col("l_id").as("p_id"), col("r_id").as("e_id"))
      val batch = graft.operators.Extended.q39(Tables(spark, sfDir))
        .select(col("p_id"), col("e_id"))
      assert(streamed.count() == batch.count(),
        s"streamed=${streamed.count()} batch=${batch.count()}")
      assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
    } finally query.stop()
  }

  test("file sink + checkpoint: restart resumes exactly-once (no dups, no loss)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val all = eventSeq.sortBy(_.event_id)
    val (batch1, batch2) = all.splitAt(all.size / 2)
    val stream = MemoryStream[Event]

    def run(data: Seq[Event]): Unit = {
      stream.addData(data)
      val q = stream.toDF().writeStream.format("parquet")
        .option("path", dir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    run(batch1) // first query lifetime
    run(batch2) // restart from checkpoint — must process ONLY batch2

    val sunk = spark.read.parquet(dir)
    assert(sunk.count() == all.size,
      s"expected ${all.size} rows after restart, got ${sunk.count()}")
    assert(sunk.select("event_id").distinct().count() == all.size,
      "duplicate events after checkpoint recovery")
  }

  test("streaming sessionize emits exactly the closed batch q22 sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    stream.addData(eventSeq)
    val query = Streams.sessionize(stream.toDS())
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("sess_out")
        .select(col("user_id"), col("session_start"), col("n_events"))
      // batch sessions minus each user's final (still-open) session
      val batch = Temporal.q22(Tables(spark, sfDir))
      val lastSession = batch.groupBy(col("user_id").as("u"))
        .agg(max(col("session_id")).as("last_sid"))
      val closedBatch = batch
        .join(lastSession, col("user_id") === col("u") && col("session_id") === col("last_sid"), "left_anti")
        .select(col("user_id"), col("session_start"), col("n_events"))
      assert(streamed.count() == closedBatch.count())
      assert(streamed.except(closedBatch).isEmpty && closedBatch.except(streamed).isEmpty,
        "streaming sessions differ from closed batch q22 sessions")
    } finally query.stop()
  }

  test("hllDistinctStream: the running estimate equals the batch estimate EXACTLY after each trigger") {
    import spark.implicits._
    import graft.api.Ops._
    implicit val sqlCtx = spark.sqlContext
    val all = eventSeq
    val chunks = all.grouped(math.max(all.size / 4, 1)).toSeq // ≥ 4 triggers total
    val stateDir = java.nio.file.Files.createTempDirectory("graft_hll_state").toString
    val emitted = scala.collection.mutable.ArrayBuffer[Map[String, Long]]()
    def run(batches: Seq[Seq[Event]]): Unit = {
      val stream = MemoryStream[Event]
      val q = Streams.hllDistinctStream(
        stream.toDF(), Seq("event_type"), "user_id", stateDir,
        sink = b => emitted.synchronized {
          emitted += b.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        })
      try batches.foreach { data =>
        stream.addData(data)
        q.processAllAvailable() // one trigger per chunk
      } finally q.stop()
    }
    // run 1 processes MULTIPLE triggers (so pruning actually runs),
    // then TWO restarts follow — Spark renumbers batchIds from 0 on
    // each restart, which is exactly why snapshot ids come from the
    // helper's own monotonic counter (r10 review: max-batchId resume
    // picked a stale snapshot after the second restart)
    run(chunks.dropRight(2))
    run(Seq(chunks(chunks.size - 2)))
    run(Seq(chunks.last))
    def batchEst(rows: Seq[Event]): Map[String, Long] =
      rows.toDF().hllDistinct(Seq("event_type"), col("user_id"), "e")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // register max-merge IS the union sketch, so every emitted
    // estimate — across triggers AND restarts — is EXACTLY the batch
    // estimate over everything seen so far
    assert(emitted.size == chunks.size)
    val prefixes = chunks.inits.toSeq.reverse.drop(1) // chunks(0..i) per i
    prefixes.zipWithIndex.foreach { case (pre, i) =>
      assert(emitted(i) == batchEst(pre.flatten),
        s"estimate after trigger ${i + 1} must equal batch over the first ${i + 1} chunks")
    }
    // the state dir stays bounded: the current snapshot (+ at most
    // one transient predecessor), never one per trigger
    val snaps = new java.io.File(stateDir).list().count(_.startsWith("state_"))
    assert(snaps <= 2, s"state snapshots must be pruned, found $snaps")
  }

  test("quantileSketchStream: running estimates equal the batch sketch EXACTLY, across restarts") {
    import spark.implicits._
    import graft.api.Ops._
    implicit val sqlCtx = spark.sqlContext
    val all = eventSeq
    val chunks = all.grouped(math.max(all.size / 4, 1)).toSeq
    val stateDir = java.nio.file.Files.createTempDirectory("graft_qsk_state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_qsk_ckpt").toString
    val qs = Seq("p50" -> 0.5, "p95" -> 0.95)
    val emitted = scala.collection.mutable.ArrayBuffer[Map[String, (Double, Double)]]()
    // ONE MemoryStream across restarts + the shared checkpoint: the
    // restarted query resumes offsets AND batchIds monotonically —
    // the contract sum-merge requires
    val stream = MemoryStream[Event]
    def run(batches: Seq[Seq[Event]]): Unit = {
      val q = Streams.quantileSketchStream(
        stream.toDF(), Seq("event_type"), "value", bucketWidth = 0.5, qs,
        stateDir, ckpt,
        sink = b => emitted.synchronized {
          emitted += b.collect()
            .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
        })
      try batches.foreach { data =>
        stream.addData(data)
        q.processAllAvailable()
      } finally q.stop()
    }
    run(chunks.dropRight(2))
    run(Seq(chunks(chunks.size - 2))) // restart 1
    run(Seq(chunks.last))             // restart 2
    def batchSketch(rows: Seq[Event]): Map[String, (Double, Double)] =
      rows.toDF().quantileSketch(Seq("event_type"), col("value"), 0.5, qs)
        .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(emitted.size == chunks.size)
    val prefixes = chunks.inits.toSeq.reverse.drop(1)
    prefixes.zipWithIndex.foreach { case (pre, i) =>
      assert(emitted(i) == batchSketch(pre.flatten),
        s"estimates after trigger ${i + 1} must equal the batch sketch over the first ${i + 1} chunks")
    }
    // snapshots pruned to the current one (+ ≤1 transient)
    val snaps = new java.io.File(stateDir).list().count(_.startsWith("state_"))
    assert(snaps <= 2, s"state snapshots must be pruned, found $snaps")
    // missing checkpointLocation fails fast (sum-merge contract)
    assert(intercept[IllegalArgumentException] {
      Streams.quantileSketchStream(stream.toDF(), Seq("event_type"), "value",
        0.5, qs, stateDir, "", _ => ())
    }.getMessage.contains("checkpointLocation"))
    // resuming the stateDir under a DIFFERENT bucketWidth fails fast
    // at open — mixed-width registers would sum into structurally
    // valid, semantically corrupt state (r11 review)
    val widthClash = intercept[IllegalStateException] {
      Streams.quantileSketchStream(stream.toDF(), Seq("event_type"), "value",
        1.0, qs, stateDir, ckpt, _ => ())
    }
    assert(widthClash.getMessage.contains("parameters"), widthClash.getMessage)
    // a WIPED/SWAPPED checkpoint against the kept stateDir renumbers
    // batchIds from 0 — the stream must fail loudly instead of
    // silently treating all new data as replays (r11 review)
    val freshCkpt = java.nio.file.Files.createTempDirectory("graft_qsk_ckpt2").toString
    val stream2 = MemoryStream[Event]
    @volatile var streamErr: Throwable = null
    val q2 = Streams.quantileSketchStream(stream2.toDF(), Seq("event_type"), "value",
      0.5, qs, stateDir, freshCkpt, _ => ())
    try {
      stream2.addData(chunks.head)
      intercept[Exception] { q2.processAllAvailable() }
      streamErr = q2.exception.orNull
    } finally q2.stop()
    val errText = Option(streamErr).map(e =>
      e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")).getOrElse("")
    assert(errText.contains("do not match"),
      s"renumbered batchIds must fail loudly, got: $streamErr")
  }

  test("hllDistinctStream rejects a stateDir written under a different p") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stateDir = java.nio.file.Files.createTempDirectory("graft_hll_p").toString
    val stream = MemoryStream[Event]
    val q = Streams.hllDistinctStream(stream.toDF(), Seq("event_type"), "user_id",
      stateDir, _ => (), p = 12)
    try {
      stream.addData(eventSeq.take(50))
      q.processAllAvailable()
    } finally q.stop()
    val clash = intercept[IllegalStateException] {
      Streams.hllDistinctStream(stream.toDF(), Seq("event_type"), "user_id",
        stateDir, _ => (), p = 10)
    }
    assert(clash.getMessage.contains("parameters"), clash.getMessage)
    // an INCOMPATIBLE (pre-r11-style) snapshot dir is an ERROR at
    // open, never a silent skip — skipping it would resume with empty
    // registers and lose all absorbed state (r11 second review)
    val legacyDir = java.nio.file.Files.createTempDirectory("graft_hll_legacy")
    java.nio.file.Files.createDirectory(legacyDir.resolve("state_5"))
    val legacy = intercept[IllegalStateException] {
      Streams.hllDistinctStream(stream.toDF(), Seq("event_type"), "user_id",
        legacyDir.toString, _ => (), p = 12)
    }
    assert(legacy.getMessage.contains("incompatible"), legacy.getMessage)
  }

  test("heavyHittersStream: below-cap rankings equal the batch census after every trigger, across a restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = eventSeq
    val chunks = all.grouped(math.max(all.size / 3, 1)).toSeq
    val stateDir = java.nio.file.Files.createTempDirectory("graft_hh_state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_hh_ckpt").toString
    val emitted = scala.collection.mutable.ArrayBuffer[Set[(String, Long, Long, Long)]]()
    val stream = MemoryStream[Event]
    def run(batches: Seq[Seq[Event]]): Unit = {
      // cap 64 >> distinct user_ids per event_type → EXACT regime
      val q = Streams.heavyHittersStream(stream.toDF(), Seq("event_type"), "user_id",
        k = 3, cap = 64, stateDir, ckpt,
        sink = b => emitted.synchronized {
          emitted += b.collect()
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        })
      try batches.foreach { data =>
        stream.addData(data)
        q.processAllAvailable()
      } finally q.stop()
    }
    run(chunks.dropRight(1))
    run(Seq(chunks.last)) // restart from the shared checkpoint
    def batchTop(rows: Seq[Event]): Set[(String, Long, Long, Long)] = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("cnt").desc, col("user_id"))
      rows.toDF().groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .collect().map(r => (r.getString(0), r.getLong(3), r.getLong(1), r.getLong(2))).toSet
    }
    assert(emitted.size == chunks.size)
    val prefixes = chunks.inits.toSeq.reverse.drop(1)
    prefixes.zipWithIndex.foreach { case (pre, i) =>
      assert(emitted(i) == batchTop(pre.flatten),
        s"rankings after trigger ${i + 1} must equal the batch census over the first ${i + 1} chunks")
    }
    // above-cap: state stays <= cap rows per group by construction
    val tight = java.nio.file.Files.createTempDirectory("graft_hh_tight").toString
    val tightCk = java.nio.file.Files.createTempDirectory("graft_hh_tightck").toString
    val stream2 = MemoryStream[Event]
    var lastState = 0L
    val q2 = Streams.heavyHittersStream(stream2.toDF(), Seq("event_type"), "user_id",
      k = 2, cap = 4, tight, tightCk, _ => ())
    try {
      stream2.addData(all)
      q2.processAllAvailable()
      val snap = new java.io.File(tight).listFiles().filter(_.getName.startsWith("state_")).head
      lastState = spark.read.parquet(snap.toString)
        .groupBy(col("event_type")).count().agg(max("count")).head().getLong(0)
    } finally q2.stop()
    assert(lastState <= 4, s"collapsed state must hold <= cap rows per group, got $lastState")
  }

  test("heavyHittersStream fails loudly on a STALE stateDir backup (batchId gap)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stateDir = java.nio.file.Files.createTempDirectory("graft_hh_gap_state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_hh_gap_ckpt").toString
    val stream = MemoryStream[Event]
    val q1 = Streams.heavyHittersStream(stream.toDF(), Seq("event_type"), "user_id",
      k = 2, cap = 16, stateDir, ckpt, _ => ())
    try {
      stream.addData(eventSeq.take(30)); q1.processAllAvailable()
      stream.addData(eventSeq.slice(30, 60)); q1.processAllAvailable()
      stream.addData(eventSeq.slice(60, 90)); q1.processAllAvailable()
    } finally q1.stop()
    // simulate restoring the state side from an OLD backup: rewind the
    // snapshot's recorded batchId to 0 while the checkpoint has
    // committed through batch 2 — the gap batches will never be
    // redelivered, so silently merging forward loses them
    val dir = new java.io.File(stateDir)
    val snap = dir.listFiles().filter(_.getName.startsWith("state_")).head
    val parts = snap.getName.stripPrefix("state_").split("_", 3)
    assert(snap.renameTo(new java.io.File(dir, s"state_${parts(0)}_0_${parts(2)}")))
    val q2 = Streams.heavyHittersStream(stream.toDF(), Seq("event_type"), "user_id",
      k = 2, cap = 16, stateDir, ckpt, _ => ())
    try {
      stream.addData(eventSeq.slice(90, 120))
      intercept[Exception] { q2.processAllAvailable() }
      val err = Option(q2.exception.orNull).map(e =>
        e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")).getOrElse("")
      assert(err.contains("skips past"), s"a stale state backup must fail loudly: $err")
    } finally q2.stop()
    // reserved output names fail fast
    assert(intercept[IllegalArgumentException] {
      Streams.heavyHittersStream(stream.toDF().withColumnRenamed("event_type", "cnt"),
        Seq("cnt"), "user_id", 2, 16, stateDir, ckpt, _ => ())
    }.getMessage.contains("collides"))
  }

  test("quantileSketchStream fails loudly when the stateDir was wiped but the checkpoint kept") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stateDir = java.nio.file.Files.createTempDirectory("graft_qsk_wipe_state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_qsk_wipe_ckpt").toString
    val qs = Seq("p50" -> 0.5)
    val stream = MemoryStream[Event]
    val q1 = Streams.quantileSketchStream(stream.toDF(), Seq("event_type"), "value",
      0.5, qs, stateDir, ckpt, _ => ())
    try {
      stream.addData(eventSeq.take(40))
      q1.processAllAvailable()
      stream.addData(eventSeq.slice(40, 80))
      q1.processAllAvailable()
    } finally q1.stop()
    // wipe the state side only — batchIds continue from the kept
    // checkpoint, so the next trigger sees batchId > 0 with NO state:
    // re-seeding silently would forget everything absorbed so far
    val dir = new java.io.File(stateDir)
    dir.listFiles().foreach { f =>
      if (f.isDirectory) { f.listFiles().foreach(_.delete()); f.delete() } else f.delete()
    }
    val q2 = Streams.quantileSketchStream(stream.toDF(), Seq("event_type"), "value",
      0.5, qs, stateDir, ckpt, _ => ())
    try {
      stream.addData(eventSeq.slice(80, 120))
      intercept[Exception] { q2.processAllAvailable() }
      val err = Option(q2.exception.orNull).map(e =>
        e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")).getOrElse("")
      assert(err.contains("NO state snapshot"), s"wiped stateDir must fail loudly: $err")
    } finally q2.stop()
  }

  test("asofJoinStream enriches a trigger-split event stream equal to the batch as-of") {
    import spark.implicits._
    import graft.api.Ops._
    implicit val sqlCtx = spark.sqlContext
    val t = Tables(spark, sfDir)
    // reference: each user's clicks; stream: their purchases
    val reference = t.events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        col("event_id").as("click_id"), col("value").as("click_value")).cache()
    val purchases = t.events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val rows = purchases.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSeq
    val stream = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val got = scala.collection.mutable.ArrayBuffer[String]()
    val q = Streams.asofJoinStream(
      stream.toDF().toDF("event_id", "user_id", "ts"), reference,
      key = "user_id", leftTime = "ts", rightTime = "ts",
      carry = Seq("click_id", "click_value"),
      sink = b => got.synchronized { got ++= b.collect().map(_.toString) })
    try {
      stream.addData(rows.take(rows.size / 2))
      q.processAllAvailable()
      stream.addData(rows.drop(rows.size / 2))
      q.processAllAvailable()
    } finally q.stop()
    // the reference is static, so the trigger split cannot change a
    // single match: streamed rows ≡ the batch asofJoin
    val batch = purchases
      .asofJoin(reference, "user_id", "ts", "ts", Seq("click_id", "click_value"))
      .collect().map(_.toString).toSet
    assert(got.size == batch.size && got.toSet == batch,
      s"streamed ${got.size} enriched rows, batch ${batch.size}")
  }

  test("streaming bounded funnel equals the batch anchored funnel per step") {
    import spark.implicits._
    import graft.api.Ops._
    implicit val sqlCtx = spark.sqlContext
    val steps = Seq("signup", "view", "click", "purchase")
    val withinUs = 3600000000L // q105's one-hour bound
    // time-ordered feed split across two triggers (the documented
    // arrival-order contract); chains must survive the trigger split
    val ordered = eventSeq.sortBy(e => (e.ts.getTime, e.event_id))
    val (b1, b2) = ordered.splitAt(ordered.size / 2)
    val stream = MemoryStream[Event]
    val query = Streams.funnelStream(stream.toDS(), steps, withinUs)
      .writeStream.format("memory").queryName("funnel_out").outputMode("append").start()
    try {
      stream.addData(b1)
      query.processAllAvailable()
      stream.addData(b2)
      query.processAllAvailable()
      val streamed = spark.table("funnel_out")
        .groupBy(col("step")).agg(countDistinct(col("user_id")).as("n_users"))
        .collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
      val batch = Tables(spark, sfDir).events
        .funnel("user_id", "ts", "event_type", steps, withinUs = Some(withinUs))
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      // a (user, step) row emits at most once → countDistinct == count
      assert(spark.table("funnel_out").count() ==
        spark.table("funnel_out").distinct().count(), "reach rows must be unique")
      (1 to steps.size).foreach { s =>
        assert(streamed.getOrElse(s.toLong, 0L) == batch(s.toLong),
          s"step $s: streamed=${streamed.get(s.toLong)} batch=${batch(s.toLong)}")
      }
    } finally query.stop()
  }

  test("funnelStream maxLatenessUs: tolerated late events still advance, too-late events drop counted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, tUs: Long, typ: String) =
      Streams.Event(id, new java.sql.Timestamp(tUs / 1000), 1L, typ, 0.0)
    val steps = Seq("a", "b", "c")
    val acc = spark.sparkContext.longAccumulator("funnel_late_drops_test")
    val stream = MemoryStream[Streams.Event]
    val query = Streams.funnelStream(stream.toDS(), steps, withinUs = 100000000L,
      maxLatenessUs = Some(6000000L), lateDrops = Some(acc))
      .writeStream.format("memory").queryName("funnel_late_out").outputMode("append").start()
    try {
      // trigger 1: the anchor plus a high-water-mark raiser at t=10s
      stream.addData(Seq(ev(1, 1000000L, "a"), ev(2, 10000000L, "x")))
      query.processAllAvailable()
      // trigger 2: b@t=5s is 5s behind the 10s mark — within the 6s
      // tolerance, must still advance the chain; c@t=2s is 8s behind
      // — beyond tolerance, must be dropped AND counted
      stream.addData(Seq(ev(3, 5000000L, "b"), ev(4, 2000000L, "c")))
      query.processAllAvailable()
      val reached = spark.table("funnel_late_out")
        .collect().map(_.getInt(1)).toSet
      assert(reached == Set(1, 2),
        s"late-but-tolerated b must advance to step 2, too-late c must not reach 3 (got $reached)")
      assert(acc.value == 1L, s"exactly the too-late event must be counted (got ${acc.value})")
      // a fresh in-tolerance c (after b) completes the funnel
      stream.addData(Seq(ev(5, 11000000L, "c")))
      query.processAllAvailable()
      assert(spark.table("funnel_late_out").collect().map(_.getInt(1)).toSet == Set(1, 2, 3))
    } finally query.stop()
  }

  test("funnelStream releaseConvertedAfterUs: converted-idle state releases, mid-funnel state stays") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, uid: Long, tUs: Long, typ: String) =
      Streams.Event(id, new java.sql.Timestamp(tUs / 1000), uid, typ, 0.0)
    val steps = Seq("a", "b", "c")
    val stream = MemoryStream[Streams.Event]
    // event-time timeout requires a watermark on the input
    val query = Streams.funnelStream(
      stream.toDS().withWatermark("ts", "0 seconds"), steps,
      withinUs = 3600000000L, releaseConvertedAfterUs = Some(5000000L))
      .writeStream.format("memory").queryName("funnel_release_out")
      .outputMode("append").start()
    def stateRows: Long =
      query.lastProgress.stateOperators(0).numRowsTotal
    try {
      // users 1 and 3 fully convert (chains drain on completion);
      // user 2 stalls mid-funnel at step 1
      stream.addData(Seq(
        ev(1, 1L, 1000000L, "a"), ev(2, 1L, 2000000L, "b"), ev(3, 1L, 3000000L, "c"),
        ev(4, 3L, 1000000L, "a"), ev(5, 3L, 2000000L, "b"), ev(6, 3L, 3000000L, "c"),
        ev(7, 2L, 1000000L, "a")))
      query.processAllAvailable()
      val before = stateRows
      assert(before == 3L, s"users 1, 2, 3 should hold state (got $before)")
      // watermark advances past the converted users' release point
      // (3s + 5s); the watermark-advance no-data batch processes the
      // armed timeouts: converted-idle 1 and 3 release, mid-funnel 2
      // and non-participant 99 stay
      stream.addData(Seq(ev(8, 99L, 20000000L, "x")))
      query.processAllAvailable()
      val after = stateRows
      assert(after == 2L,
        s"converted users' state must release after the event-time timeout (got $after)")
      // reach rows are untouched by the release
      val reached = spark.table("funnel_release_out").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(reached == Set((1L, 1), (1L, 2), (1L, 3),
        (3L, 1), (3L, 2), (3L, 3), (2L, 1)),
        s"release must not change emitted rows (got $reached)")
      // a VERY-late full conversion arriving after the user's release
      // re-creates state and re-emits (the documented trade-off) —
      // and its re-armed timeout lands BEHIND the watermark, which
      // must clamp above it instead of crashing the query (r12
      // second review: setTimeoutTimestamp rejects a past timestamp)
      stream.addData(Seq(
        ev(9, 1L, 2500000L, "a"), ev(10, 1L, 2600000L, "b"), ev(11, 1L, 2700000L, "c")))
      query.processAllAvailable()
      assert(query.exception.isEmpty,
        s"late re-conversion must not crash the armed timeout: ${query.exception}")
      // and the re-created state releases again on the next tick
      stream.addData(Seq(ev(12, 99L, 22000000L, "x")))
      query.processAllAvailable()
      assert(stateRows == 2L,
        s"the re-created converted state must release again (got $stateRows)")
    } finally query.stop()
  }

  test("streaming image dedup (prepared hash catalog + foreachBatch) equals the batch operator") {
    import spark.implicits._
    import graft.operators.Multimodal
    import graft.operators.Multimodal.MediaRecord
    implicit val sqlCtx = spark.sqlContext
    val t = Tables(spark, sfDir)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_imgstream_ckpt").toString
    val catalog = Multimodal.attachMedia(t).filter(_.doc_id < 300)
    val prepared = graft.api.Ops.prepareImageCatalog(catalog, Some(ckpt))
    // unreliable prep refuses up front (the PreparedLm contract)
    val unreliable = graft.api.Ops.prepareImageCatalog(catalog)
    val stream0 = MemoryStream[MediaRecord]
    val e = intercept[IllegalArgumentException] {
      Streams.imageDedupStream(stream0.toDS(), unreliable, _ => ())
    }
    assert(e.getMessage.contains("reliable"))
    // increment: later docs (novel + natural near-dups of the catalog)
    val incRows = Multimodal.attachMedia(t)
      .filter(r => r.doc_id >= 300 && r.doc_id < 400).collect().toSeq
    val got = scala.collection.mutable.ArrayBuffer[String]()
    val stream = MemoryStream[MediaRecord]
    val q = Streams.imageDedupStream(stream.toDS(), prepared,
      batch => got.synchronized { got ++= batch.collect().map(_.toString) })
    try {
      stream.addData(incRows.take(incRows.size / 2))
      q.processAllAvailable()
      stream.addData(incRows.drop(incRows.size / 2))
      q.processAllAvailable()
    } finally q.stop()
    val batchKept = prepared.dedup(
      spark.createDataset(incRows)).collect().map(_.toString)
    assert(got.sorted.toSeq == batchKept.sorted.toSeq,
      s"streamed ${got.size} kept rows, batch ${batchKept.size}")
  }

  test("streaming audio dedup (prepared fingerprint catalog + foreachBatch) equals the batch operator") {
    import spark.implicits._
    import graft.operators.Multimodal
    import graft.operators.Multimodal.MediaRecord
    implicit val sqlCtx = spark.sqlContext
    val t = Tables(spark, sfDir)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_audstream_ckpt").toString
    val catalog = Multimodal.attachMedia(t).filter(_.doc_id < 300)
    val prepared = graft.api.Ops.prepareAudioCatalog(catalog, Some(ckpt))
    // unreliable prep refuses up front (the PreparedLm contract)
    val unreliable = graft.api.Ops.prepareAudioCatalog(catalog)
    val stream0 = MemoryStream[MediaRecord]
    val e = intercept[IllegalArgumentException] {
      Streams.audioDedupStream(stream0.toDS(), unreliable, _ => ())
    }
    assert(e.getMessage.contains("reliable"))
    val incRows = Multimodal.attachMedia(t)
      .filter(r => r.doc_id >= 300 && r.doc_id < 400).collect().toSeq
    val got = scala.collection.mutable.ArrayBuffer[String]()
    val stream = MemoryStream[MediaRecord]
    val q = Streams.audioDedupStream(stream.toDS(), prepared,
      batch => got.synchronized { got ++= batch.collect().map(_.toString) })
    try {
      stream.addData(incRows.take(incRows.size / 2))
      q.processAllAvailable()
      stream.addData(incRows.drop(incRows.size / 2))
      q.processAllAvailable()
    } finally q.stop()
    val batchKept = prepared.dedup(
      spark.createDataset(incRows)).collect().map(_.toString)
    assert(got.sorted.toSeq == batchKept.sorted.toSeq,
      s"streamed ${got.size} kept rows, batch ${batchKept.size}")
  }

  test("streaming video dedup (prepared frame-hash catalog + foreachBatch) equals the batch operator") {
    import spark.implicits._
    import graft.operators.Multimodal
    import graft.operators.Multimodal.MediaRecord
    implicit val sqlCtx = spark.sqlContext
    val t = Tables(spark, sfDir)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_vidstream_ckpt").toString
    val catalog = Multimodal.attachMedia(t).filter(_.doc_id < 300)
    val prepared = graft.api.Ops.prepareVideoCatalog(catalog, checkpointDir = Some(ckpt))
    val unreliable = graft.api.Ops.prepareVideoCatalog(catalog)
    val stream0 = MemoryStream[MediaRecord]
    val e = intercept[IllegalArgumentException] {
      Streams.videoDedupStream(stream0.toDS(), unreliable, _ => ())
    }
    assert(e.getMessage.contains("reliable"))
    val incRows = Multimodal.attachMedia(t)
      .filter(r => r.doc_id >= 300 && r.doc_id < 400).collect().toSeq
    val got = scala.collection.mutable.ArrayBuffer[String]()
    val stream = MemoryStream[MediaRecord]
    val q = Streams.videoDedupStream(stream.toDS(), prepared,
      batch => got.synchronized { got ++= batch.collect().map(_.toString) })
    try {
      stream.addData(incRows.take(incRows.size / 2))
      q.processAllAvailable()
      stream.addData(incRows.drop(incRows.size / 2))
      q.processAllAvailable()
    } finally q.stop()
    val batchKept = prepared.dedup(
      spark.createDataset(incRows)).collect().map(_.toString)
    assert(got.sorted.toSeq == batchKept.sorted.toSeq,
      s"streamed ${got.size} kept rows, batch ${batchKept.size}")
  }

  test("streaming SCD2 maintenance (foreachBatch absorb) equals the one-shot history") {
    import spark.implicits._
    import graft.operators.Relational
    implicit val sqlCtx = spark.sqlContext
    val t = Tables(spark, sfDir)
    val series = Relational.scd2Series(t)
    val attrs = Seq("c_name", "c_acctbal", "c_mktsegment")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_scd2stream_ckpt").toString
    val prepared = graft.api.Ops.prepareScd2(series.head, "snap_ts", "id", attrs, Some(ckpt))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, Double, String, java.sql.Timestamp)] =
      df.select(col("id"), col("c_name"), col("c_acctbal"),
        col("c_mktsegment"), col("snap_ts"))
        .as[(Long, String, Double, String, java.sql.Timestamp)].collect().toSeq
    def asExtracts(s: MemoryStream[(Long, String, Double, String, java.sql.Timestamp)]) =
      s.toDS().toDF("id", "c_name", "c_acctbal", "c_mktsegment", "snap_ts")
    // unreliable prep refuses up front
    val stream0 = MemoryStream[(Long, String, Double, String, java.sql.Timestamp)]
    val e = intercept[IllegalArgumentException] {
      Streams.scd2Stream(asExtracts(stream0),
        graft.api.Ops.prepareScd2(series.head, "snap_ts", "id", attrs), ckpt, _ => ())
    }
    assert(e.getMessage.contains("reliable"))
    val stream = MemoryStream[(Long, String, Double, String, java.sql.Timestamp)]
    @volatile var last: Option[graft.api.Ops.PreparedScd2] = None
    val ticks = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = Streams.scd2Stream(asExtracts(stream), prepared, ckpt,
      dim => { last = Some(dim); ticks.incrementAndGet(); () })
    try {
      // trigger 1: one complete extract
      stream.addData(rows(series(1)))
      q.processAllAvailable()
      assert(ticks.get == 1, "one absorbing trigger so far")
      import graft.api.Ops._
      val prefix = series.take(2).reduce(_ unionByName _)
        .scd2History("snap_ts", "id", attrs)
      assert(last.get.history.collect().map(_.toString).sorted.toSeq ==
        prefix.collect().map(_.toString).sorted.toSeq,
        "mid-stream history must equal the two-extract one-shot")
      // trigger 2 is a CATCH-UP batch: TWO complete extracts arrive
      // together and absorb in snapshot order within the trigger
      stream.addData(rows(series(2)) ++ rows(series(3)))
      q.processAllAvailable()
      assert(ticks.get == 2, "the catch-up batch is one trigger, one sink call")
    } finally q.stop()
    import graft.api.Ops._
    val oneShot = series.reduce(_ unionByName _).scd2History("snap_ts", "id", attrs)
    assert(last.get.history.collect().map(_.toString).sorted.toSeq ==
      oneShot.collect().map(_.toString).sorted.toSeq,
      "streamed SCD2 history must equal the one-shot builder over the full series")
    assert(last.get.reliable, "every stream absorb checkpoints reliably")
  }

  test("scd2Stream replay: a retried trigger re-absorbs from the pre-absorb dimension; batchId regression fails") {
    import graft.operators.Relational
    val t = Tables(spark, sfDir)
    val series = Relational.scd2Series(t)
    val attrs = Seq("c_name", "c_acctbal", "c_mktsegment")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_scd2loop_ckpt").toString
    val prepared = graft.api.Ops.prepareScd2(series.head, "snap_ts", "id", attrs, Some(ckpt))
    val sunk = scala.collection.mutable.ArrayBuffer[graft.api.Ops.PreparedScd2]()
    val loop = Streams.scd2Loop(prepared, ckpt, dim => sunk += dim)
    loop.handle(series(1), 0L)
    val first = sunk.last.history.collect().map(_.toString).sorted.toSeq
    // a foreachBatch RETRY re-absorbs the SAME extract from the
    // retained pre-absorb dimension instead of tripping the
    // snapshot-order guard — and rebuilds the identical history
    loop.handle(series(1), 0L)
    assert(sunk.size == 2, "the retry re-emits")
    assert(sunk.last.history.collect().map(_.toString).sorted.toSeq == first,
      "the retried absorb must rebuild the identical history")
    loop.handle(series(2), 1L)
    // a batchId BELOW the absorbed one is never a legitimate retry
    val e = intercept[IllegalStateException] { loop.handle(series(1), 0L) }
    assert(e.getMessage.contains("wiped"))
    // the surviving chain still equals the one-shot builder
    import graft.api.Ops._
    val oneShot = series.take(3).reduce(_ unionByName _)
      .scd2History("snap_ts", "id", attrs)
    assert(sunk.last.history.collect().map(_.toString).sorted.toSeq ==
      oneShot.collect().map(_.toString).sorted.toSeq)
  }

  test("streaming catalog dedup (prepared catalog + foreachBatch) equals the batch operator") {
    import spark.implicits._
    import graft.api.Ops._
    implicit val sqlCtx = spark.sqlContext
    val t = Tables(spark, sfDir)
    val catalog = t.documents.filter(col("doc_id") < 250).select("doc_id", "text")
    val incDf = t.documents.filter(col("doc_id") >= 250).select("doc_id", "text")
      .unionByName(t.documents.filter(col("doc_id") < 20)
        .select((col("doc_id") + 200000).as("doc_id"), col("text")))
    val incRows = incDf.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val ckpt = java.nio.file.Files.createTempDirectory("graft_catstream_ckpt").toString
    val prepared = graft.api.Ops.prepareCatalog(catalog, "doc_id", "text",
      checkpointDir = Some(ckpt))
    // unreliable prep refuses up front (r12 — the text catalog joined
    // the reliable-flag contract)
    val e = intercept[IllegalArgumentException] {
      Streams.dedupAgainstCatalogStream(
        MemoryStream[(Long, String)].toDF().toDF("doc_id", "text"),
        "doc_id", "text",
        graft.api.Ops.prepareCatalog(catalog, "doc_id", "text"), 0.5, _ => ())
    }
    assert(e.getMessage.contains("reliable"))
    val stream = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val q = Streams.dedupAgainstCatalogStream(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", prepared,
      threshold = 0.5,
      sink = b => got.synchronized { got ++= b.select("doc_id").collect().map(_.getLong(0)) })
    try {
      // two triggers: each row is judged against the CATALOG only, so
      // the trigger split must not change the kept set
      stream.addData(incRows.take(incRows.size / 2))
      q.processAllAvailable()
      stream.addData(incRows.drop(incRows.size / 2))
      q.processAllAvailable()
    } finally q.stop()
    val batchKept = incDf.dedupAgainstCatalog(catalog, "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.size == got.toSet.size, "a doc id surfaced in two triggers")
    assert(got.toSet == batchKept,
      s"streaming kept ${got.size} docs, batch kept ${batchKept.size}")
    assert(batchKept.nonEmpty && batchKept.size < incRows.size,
      "the corpus must exercise both kept and dropped rows")
  }

  test("streaming vector catalog dedup (prepared + foreachBatch) equals the batch operator") {
    import spark.implicits._
    import graft.api.Ops._
    implicit val sqlCtx = spark.sqlContext
    graft.functions.GraftFunctions.register(spark)
    val t = Tables(spark, sfDir)
    val base = t.embeddings.select(
      col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val incDf = base.filter(col("vec_id") < 30)
      .select((col("vec_id") + 200000).as("vec_id"),
        transform(col("emb"), v => v + lit(0.005)).as("emb"))
      .unionByName(base.filter(col("vec_id") >= 30 && col("vec_id") < 60)
        .select((col("vec_id") + 300000).as("vec_id"),
          transform(col("emb"), v => v * lit(-1.0)).as("emb")))
    val incRows = incDf.collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val ckDir = java.nio.file.Files.createTempDirectory("graft_vec_ck").toString
    val prepared = graft.api.Ops.prepareVecCatalog(base, "vec_id", "emb",
      dim = 64, checkpointDir = Some(ckDir))
    val stream = MemoryStream[(Long, Seq[Double])]
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val q = Streams.vecDedupAgainstCatalogStream(
      stream.toDF().toDF("vec_id", "emb"), "vec_id", "emb", prepared,
      threshold = 0.92,
      sink = b => got.synchronized { got ++= b.select("vec_id").collect().map(_.getLong(0)) })
    try {
      // each row is judged against the CATALOG only, so the trigger
      // split must not change the kept set
      stream.addData(incRows.take(incRows.size / 2))
      q.processAllAvailable()
      stream.addData(incRows.drop(incRows.size / 2))
      q.processAllAvailable()
    } finally q.stop()
    val batchKept = incDf.vecDedupAgainstCatalog(base, "vec_id", "emb",
      threshold = 0.92, dim = 64)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got.size == got.toSet.size, "a vec id surfaced in two triggers")
    assert(got.toSet == batchKept,
      s"streaming kept ${got.size} vectors, batch kept ${batchKept.size}")
    assert(batchKept.nonEmpty && batchKept.size < incRows.size,
      "the corpus must exercise both kept and dropped rows")
    // a localCheckpoint-only prep is rejected up front
    val unreliable = graft.api.Ops.prepareVecCatalog(base, "vec_id", "emb", dim = 64)
    val e = intercept[IllegalArgumentException] {
      Streams.vecDedupAgainstCatalogStream(
        stream.toDF().toDF("vec_id", "emb"), "vec_id", "emb", unreliable,
        threshold = 0.92, sink = _ => ())
    }
    assert(e.getMessage.contains("reliable"))
  }

  test("stripBoilerplateStream strips a doc stream against the frozen common set, equal to batch") {
    import spark.implicits._
    import graft.api.Ops._
    implicit val sqlCtx = spark.sqlContext
    // corpus: a universal banner + per-doc unique lines (q89's shape)
    val corpus = (1L to 40L).map(i => (i, s"SUBSCRIBE NOW\nunique line $i\nCOPYRIGHT"))
      .toDF("doc_id", "text")
    val ckDir = java.nio.file.Files.createTempDirectory("graft_bp_ck").toString
    val prepared = graft.api.Ops.prepareBoilerplate(corpus, "doc_id", "text",
      minDf = 5, checkpointDir = Some(ckDir))
    val incRows = (101L to 120L).map(i => (i, s"SUBSCRIBE NOW\nfresh $i\nCOPYRIGHT"))
    val stream = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long)]()
    val q = Streams.stripBoilerplateStream(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", prepared,
      sink = b => got.synchronized {
        got ++= b.collect().map(r =>
          (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      })
    try {
      stream.addData(incRows.take(10))
      q.processAllAvailable()
      stream.addData(incRows.drop(10))
      q.processAllAvailable()
    } finally q.stop()
    val batch = incRows.toDF("doc_id", "text")
      .stripBoilerplateAgainst(prepared, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got.size == got.toSet.size && got.toSet == batch,
      s"streaming stripped ${got.size} docs, batch ${batch.size}")
    assert(batch.forall(_._2.startsWith("fresh")), "banner/footer must strip on every doc")
    // a localCheckpoint-only prep is rejected up front
    val unreliable = graft.api.Ops.prepareBoilerplate(corpus, "doc_id", "text", minDf = 5)
    val e = intercept[IllegalArgumentException] {
      Streams.stripBoilerplateStream(
        stream.toDF().toDF("doc_id", "text"), "doc_id", "text", unreliable, sink = _ => ())
    }
    assert(e.getMessage.contains("reliable"))
  }

  test("bpeEncodeStream encodes a doc stream with the frozen merges, equal to batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Bpe
    // train on a reference corpus, encode an unseen stream (new words
    // still encode — unmatched merges leave characters intact)
    val corpus = Tables(spark, sfDir).documents
      .select(col("doc_id"), col("text")).limit(200)
    val prepared = Bpe.prepareBpe(corpus, "text", numMerges = 8)
    assert(prepared.merges.size == 8)
    val incRows = (1001L to 1020L).map(i => (i, s"the quick brown fox $i jumps"))
    val stream = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer[(Long, Seq[String], Long)]()
    val q = Streams.bpeEncodeStream(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", prepared,
      sink = b => got.synchronized {
        got ++= b.collect().map(r => (r.getLong(0), r.getSeq[String](1), r.getLong(2)))
      })
    try {
      stream.addData(incRows.take(10))
      q.processAllAvailable()
      stream.addData(incRows.drop(10))
      q.processAllAvailable()
    } finally q.stop()
    val batch = Bpe.encodeWith(incRows.toDF("doc_id", "text"), "doc_id", "text", prepared)
      .collect().map(r => (r.getLong(0), r.getSeq[String](1), r.getLong(2))).toSet
    assert(got.size == got.toSet.size && got.toSet == batch,
      s"streaming encoded ${got.size} docs, batch ${batch.size}")
    // the encode is a real regrouping: concatenating reproduces words
    assert(batch.forall { case (id, toks, n) =>
      n == toks.size && toks.mkString("") == s"the quick brown fox $id jumps".replace(" ", "")
    })
  }

  test("editMatchStream matches a value stream against the frozen catalog index, equal to batch") {
    import spark.implicits._
    import graft.api.Ops._
    implicit val sqlCtx = spark.sqlContext
    val catalog = Tables(spark, sfDir).customer
      .select(col("c_custkey"), col("c_name")).limit(500)
    val dirtyDf = catalog
      .select((col("c_custkey") + 1000000L).as("qid"),
        concat(expr("substring(c_name, 1, length(c_name) - 1)"), lit("x")).as("qname"))
    val dirtyRows = dirtyDf.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val ckDir = java.nio.file.Files.createTempDirectory("graft_edit_ck").toString
    val prepared = graft.api.Ops.prepareEditIndex(catalog, "c_custkey", "c_name",
      maxDistance = 1, checkpointDir = Some(ckDir))
    val stream = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long, Int)]()
    val q = Streams.editMatchStream(
      stream.toDF().toDF("qid", "qname"), "qid", "qname", prepared,
      sink = b => got.synchronized {
        got ++= b.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      })
    try {
      // matches are against the CATALOG only — the trigger split must
      // not change the match set
      stream.addData(dirtyRows.take(dirtyRows.size / 2))
      q.processAllAvailable()
      stream.addData(dirtyRows.drop(dirtyRows.size / 2))
      q.processAllAvailable()
    } finally q.stop()
    val batch = dirtyDf.editMatchesAgainst(prepared, "qid", "qname")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got.size == got.toSet.size, "a match surfaced in two triggers")
    assert(got.toSet == batch,
      s"streaming found ${got.size} matches, batch found ${batch.size}")
    assert(batch.nonEmpty, "the corrupted feed must produce matches")
    // a localCheckpoint-only prep is rejected up front
    val unreliable = graft.api.Ops.prepareEditIndex(catalog, "c_custkey", "c_name")
    val e = intercept[IllegalArgumentException] {
      Streams.editMatchStream(
        stream.toDF().toDF("qid", "qname"), "qid", "qname", unreliable, sink = _ => ())
    }
    assert(e.getMessage.contains("reliable"))
  }

  test("stateless curation ops (stripMarkup, redact, repetitionStats) apply to a stream and match batch") {
    import spark.implicits._
    import graft.api.Ops._
    implicit val sqlCtx = spark.sqlContext
    // stripMarkup + redact + repetition stats are pure column
    // expressions, so the SAME fluent calls run on a streaming frame
    // unchanged — the ingest-time shape of the scrub/quality stage
    // (no state, no watermark, survives any trigger size)
    val docs = Tables(spark, sfDir).documents
      .select(col("doc_id"), col("text")).limit(200)
      .collect().map(r => (r.getLong(0),
        "<div id=\"d\">" + r.getString(1) + "</div><script>var a=1;</script> mail me at u@ex.com")).toSeq
    val stream = MemoryStream[(Long, String)]
    stream.addData(docs)
    val streamDf = stream.toDF().toDF("doc_id", "text")
    def pipelineOf(df: org.apache.spark.sql.DataFrame) =
      df.stripMarkup("text").redact("text")
        .chunkTokens("doc_id", "text", chunkTokens = 32, overlap = 8)
        .withColumn("key", concat_ws(":", col("doc_id"), col("chunk_id")))
        .repetitionStats("key", "chunk_text")
    val query = pipelineOf(streamDf)
      .writeStream.format("memory").queryName("curate_out").outputMode("append").start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("curate_out")
      val batch = pipelineOf(docs.toDF("doc_id", "text"))
      assert(streamed.count() == batch.count() && streamed.count() > 0)
      assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
        "streaming redact+chunk+repetitionStats differ from batch")
    } finally query.stop()
  }

  test("stateless splitCorpus + normalizeUnicode apply to a stream and match batch") {
    import spark.implicits._
    import graft.api.Ops._
    implicit val sqlCtx = spark.sqlContext
    // both ops are pure map-side column work — the same fluent calls
    // run on the streaming frame unchanged (ingest-time shape: docs
    // get canonicalized and split-labeled as they arrive, and the
    // seeded-hash split means arrival order can never change a label)
    val docs = (1L to 300L).map(i => (i, s"doc $i cafe\u0301 body")).toSeq
    val stream = MemoryStream[(Long, String)]
    stream.addData(docs)
    def pipelineOf(df: org.apache.spark.sql.DataFrame) =
      df.normalizeUnicode("text")
        .splitCorpus("doc_id",
          Seq(("train", 9000L), ("val", 500L), ("test", 500L)), seed = 11L)
    val query = pipelineOf(stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("split_out").outputMode("append").start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("split_out")
      val batch = pipelineOf(docs.toDF("doc_id", "text"))
      assert(streamed.count() == 300)
      assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
        "streaming normalize+split differ from batch")
      assert(streamed.filter(col("text").contains("caf\u00e9")).count() == 300,
        "NFC must have composed the decomposed accent on the stream")
    } finally query.stop()
  }

  test("lmScoreStream scores triggers against the once-trained LM, matching batch") {
    import spark.implicits._
    import graft.api.Ops._
    implicit val sqlCtx = spark.sqlContext
    val corpus = (1L to 30L).map(i => (i, "the cat sat on the mat and the dog ran"))
      .toDF("doc_id", "text")
    // streaming requires a RELIABLY-checkpointed LM (ADVICE r7): the
    // default localCheckpoint census would not survive executor loss
    // across a long-lived job, so lmScoreStream rejects it up front
    val unreliable = graft.api.Ops.prepareLm(corpus, "text")
    val rejected = intercept[IllegalArgumentException] {
      Streams.lmScoreStream(corpus, "doc_id", "text", unreliable, _ => ())
    }
    assert(rejected.getMessage.contains("checkpointDir"))
    val ckDir = java.nio.file.Files.createTempDirectory("graft_lm_ck").toString
    val lm = graft.api.Ops.prepareLm(corpus, "text", checkpointDir = Some(ckDir))
    val incoming = (100L to 119L).map(i =>
      (i, if (i % 2 == 0) s"the cat sat on the mat" else s"zq xv jk wp qm zn")).toSeq
    val stream = MemoryStream[(Long, String)]
    stream.addData(incoming.take(10))
    val query = Streams.lmScoreStream(stream.toDF().toDF("doc_id", "text"),
      "doc_id", "text", lm,
      batch => batch.write.mode("append").saveAsTable("lm_out"))
    try {
      query.processAllAvailable()
      stream.addData(incoming.drop(10))
      query.processAllAvailable()
      val streamed = spark.table("lm_out")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
      val batch = incoming.toDF("doc_id", "text")
        .lmScoreAgainst(lm, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
      assert(streamed == batch, "per-trigger LM scores must equal the batch scorer")
      // in-distribution triggers out-score the gibberish ones
      val even = streamed.filter(_._1 % 2 == 0).values.map(_._2).min
      val odd = streamed.filter(_._1 % 2 == 1).values.map(_._2).max
      assert(even > odd, s"in-distribution must out-score gibberish: $even vs $odd")
    } finally {
      query.stop()
      spark.sql("DROP TABLE IF EXISTS lm_out")
    }
  }

  test("bm25TopKStream ranks query triggers against the frozen index, matching batch") {
    import spark.implicits._
    import graft.api.Ops._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "apple banana apple apple"),
      (2L, "apple banana cherry date"),
      (3L, "banana banana banana banana banana banana"),
      (4L, "cherry date elderberry fig"),
      (5L, "apple")).toDF("doc_id", "text")
    val unreliable = graft.api.Ops.prepareBm25(corpus, "doc_id", "text")
    val rejected = intercept[IllegalArgumentException] {
      Streams.bm25TopKStream(corpus.toDF("qid", "qtext"), "qid", "qtext", unreliable)(_ => ())
    }
    assert(rejected.getMessage.contains("checkpointDir"))
    val ckDir = java.nio.file.Files.createTempDirectory("graft_bm25_ck").toString
    val idx = graft.api.Ops.prepareBm25(corpus, "doc_id", "text",
      checkpointDir = Some(ckDir))
    val incoming = Seq((10L, "apple"), (20L, "banana cherry"), (30L, "fig"), (40L, "date"))
    val stream = MemoryStream[(Long, String)]
    stream.addData(incoming.take(2))
    val query = Streams.bm25TopKStream(stream.toDF().toDF("qid", "qtext"),
      "qid", "qtext", idx, k = 3)(
      batch => batch.write.mode("append").saveAsTable("bm25_out"))
    try {
      query.processAllAvailable()
      stream.addData(incoming.drop(2))
      query.processAllAvailable()
      val streamed = spark.table("bm25_out")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
      val batch = incoming.toDF("qid", "qtext")
        .bm25TopKAgainst(idx, "qid", "qtext", k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
      assert(streamed == batch,
        "per-trigger BM25 rankings must equal the batch scorer against the same index")
    } finally {
      query.stop()
      spark.sql("DROP TABLE IF EXISTS bm25_out")
    }
  }

  test("ivfPqTopKStream ranks embedding-query triggers against the frozen coded index, matching batch") {
    import spark.implicits._
    import graft.operators.Similarity
    implicit val sqlCtx = spark.sqlContext
    // tiny deterministic corpus: dim 8, two loose clusters
    def vec(seed: Int): Seq[Double] =
      (0 until 8).map(d => math.sin(seed * 7 + d * 3).abs + (if (seed % 2 == 0) 1.0 else 0.0))
    val corpus = (0L until 30L).map(i => (i, vec(i.toInt))).toDF("vec_id", "emb")
    val centroids = Seq((100L, vec(0)), (101L, vec(1)))
      .toDF("centroid_id", "cent_emb")
    val unreliable = Similarity.prepareIvfPqIndex(corpus, centroids,
      id = "vec_id", emb = "emb", centroidId = "centroid_id", centroidEmb = "cent_emb",
      dim = 8, m = 4, ks = 4)
    val rejected = intercept[IllegalArgumentException] {
      Streams.ivfPqTopKStream(corpus.toDF("qid", "qemb"), "qid", "qemb", unreliable)(_ => ())
    }
    assert(rejected.getMessage.contains("checkpointDir"))
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ivfpq_ck").toString
    val idx = Similarity.prepareIvfPqIndex(corpus, centroids,
      id = "vec_id", emb = "emb", centroidId = "centroid_id", centroidEmb = "cent_emb",
      dim = 8, m = 4, ks = 4, checkpointDir = Some(ckDir))
    val incoming = (50L until 54L).map(i => (i, vec(i.toInt)))
    val stream = MemoryStream[(Long, Seq[Double])]
    stream.addData(incoming.take(2))
    val query = Streams.ivfPqTopKStream(stream.toDF().toDF("qid", "qemb"),
      "qid", "qemb", idx, k = 5, nprobe = 2)(
      batch => batch.write.mode("append").saveAsTable("ivfpq_out"))
    try {
      query.processAllAvailable()
      stream.addData(incoming.drop(2))
      query.processAllAvailable()
      val streamed = spark.table("ivfpq_out")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
      val batch = idx.topK(incoming.toDF("qid", "qemb"), "qid", "qemb", k = 5, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
      assert(streamed == batch,
        "per-trigger IVF-PQ rankings must equal the batch search against the same index")
      assert(streamed.nonEmpty)
    } finally {
      query.stop()
      spark.sql("DROP TABLE IF EXISTS ivfpq_out")
    }
  }

  test("ivfPqTopKRerankStream: per-trigger re-ranked top-k equals batch topKRerank against the same index and vectors") {
    import spark.implicits._
    import graft.operators.Similarity
    implicit val sqlCtx = spark.sqlContext
    def vec(seed: Int): Seq[Double] =
      (0 until 8).map(d => math.sin(seed * 7 + d * 3).abs + (if (seed % 2 == 0) 1.0 else 0.0))
    val corpus = (0L until 30L).map(i => (i, vec(i.toInt))).toDF("vec_id", "emb")
    val centroids = Seq((100L, vec(0)), (101L, vec(1)))
      .toDF("centroid_id", "cent_emb")
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ivfpq_rr").toString
    val idx = Similarity.prepareIvfPqIndex(corpus, centroids,
      id = "vec_id", emb = "emb", centroidId = "centroid_id", centroidEmb = "cent_emb",
      dim = 8, m = 4, ks = 4, checkpointDir = Some(ckDir))
    val incoming = (50L until 54L).map(i => (i, vec(i.toInt)))
    val stream = MemoryStream[(Long, Seq[Double])]
    val got = scala.collection.mutable.ArrayBuffer.empty[Set[Seq[Any]]]
    val query = Streams.ivfPqTopKRerankStream(stream.toDF().toDF("qid", "qemb"),
      "qid", "qemb", idx, corpus, "emb", k = 3, nprobe = 2, rerankR = 8)(
      b => { got += b.collect().map(_.toSeq.toSeq).toSet; () })
    try {
      stream.addData(incoming.take(2)); query.processAllAvailable()
      stream.addData(incoming.drop(2)); query.processAllAvailable()
    } finally query.stop()
    assert(got.size == 2)
    def batch(qs: Seq[(Long, Seq[Double])]) =
      idx.topKRerank(qs.toDF("qid", "qemb"), "qid", "qemb", corpus, "emb",
        k = 3, nprobe = 2, rerankR = 8, excludeSelf = false)
        .collect().map(_.toSeq.toSeq).toSet
    assert(got(0) == batch(incoming.take(2)), "trigger 1 ≡ batch re-rank")
    assert(got(1) == batch(incoming.drop(2)), "trigger 2 ≡ batch re-rank")
    assert(got.forall(_.nonEmpty))
  }

  test("ivfPqIngestStream absorbs triggers into the rolling index, matching the batch chain") {
    import spark.implicits._
    import graft.operators.Similarity
    implicit val sqlCtx = spark.sqlContext
    def vec(seed: Int): Seq[Double] =
      (0 until 8).map(d => math.sin(seed * 7 + d * 3).abs + (if (seed % 2 == 0) 1.0 else 0.0))
    val all = (0L until 30L).map(i => (i, vec(i.toInt)))
    val base = all.take(10).toDF("vec_id", "emb")
    val centroids = Seq((100L, vec(0)), (101L, vec(1)))
      .toDF("centroid_id", "cent_emb")
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ivfpq_ing").toString
    val idx0 = Similarity.prepareIvfPqIndex(base, centroids,
      id = "vec_id", emb = "emb", centroidId = "centroid_id", centroidEmb = "cent_emb",
      dim = 8, m = 4, ks = 4, checkpointDir = Some(ckDir))
    // unreliable prep refused up front
    val unreliable = Similarity.prepareIvfPqIndex(base, centroids,
      id = "vec_id", emb = "emb", centroidId = "centroid_id", centroidEmb = "cent_emb",
      dim = 8, m = 4, ks = 4)
    val e = intercept[IllegalArgumentException] {
      Streams.ivfPqIngestStream(MemoryStream[(Long, Seq[Double])].toDF()
        .toDF("vec_id", "emb"), "emb", unreliable, ckDir, _ => ())
    }
    assert(e.getMessage.contains("reliable"))
    @volatile var last: Option[Similarity.PreparedIvfPq] = None
    val ticks = new java.util.concurrent.atomic.AtomicInteger(0)
    val stream = MemoryStream[(Long, Seq[Double])]
    val q = Streams.ivfPqIngestStream(stream.toDF().toDF("vec_id", "emb"),
      "emb", idx0, ckDir, idx => { last = Some(idx); ticks.incrementAndGet(); () })
    try {
      stream.addData(all.slice(10, 20)); q.processAllAvailable()
      stream.addData(all.slice(20, 30)); q.processAllAvailable()
    } finally q.stop()
    assert(ticks.get == 2, "one sink call per absorbing trigger")
    assert(last.get.reliable, "every stream absorb checkpoints reliably")
    // the rolling index equals a one-shot prepare over everything seen
    val oneShot = Similarity.prepareIvfPqIndex(all.toDF("vec_id", "emb"), centroids,
      id = "vec_id", emb = "emb", centroidId = "centroid_id", centroidEmb = "cent_emb",
      dim = 8, m = 4, ks = 4, checkpointDir = Some(ckDir))
    assert(last.get.codes.collect().map(_.toString).sorted.toSeq ==
      oneShot.codes.collect().map(_.toString).sorted.toSeq,
      "streamed absorbs must equal the one-shot index row-for-row")
    val queries = (50L until 53L).map(i => (i, vec(i.toInt))).toDF("qid", "qemb")
    assert(last.get.topK(queries, "qid", "qemb", k = 5).collect().map(_.toString).sorted.toSeq ==
      oneShot.topK(queries, "qid", "qemb", k = 5).collect().map(_.toString).sorted.toSeq,
      "the grown index must serve identically to the one-shot")
  }

  test("coocIngestStream absorbs basket triggers into the rolling index, matching one-shot") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.api.Ops
    // 12 baskets of 3 items over a 9-item vocabulary; basket-atomic
    // trigger splits (baskets 1-8 prepare, 9-10 and 11-12 stream)
    val all = (1L to 12L).flatMap(ok => (0 until 3).map(j => (ok, (ok + j * 2) % 9)))
    val base = all.filter(_._1 <= 8).toDF("ok", "it")
    val ckDir = java.nio.file.Files.createTempDirectory("graft_cooc_ing").toString
    val idx0 = Ops.prepareCooc(base, "ok", "it", checkpointDir = Some(ckDir))
    // unreliable prep refused up front
    val e = intercept[IllegalArgumentException] {
      Streams.coocIngestStream(MemoryStream[(Long, Long)].toDF().toDF("ok", "it"),
        "ok", "it", Ops.prepareCooc(base, "ok", "it"), ckDir, _ => ())
    }
    assert(e.getMessage.contains("reliable"))
    @volatile var last: Option[Ops.PreparedCooc] = None
    val ticks = new java.util.concurrent.atomic.AtomicInteger(0)
    val stream = MemoryStream[(Long, Long)]
    val q = Streams.coocIngestStream(stream.toDF().toDF("ok", "it"),
      "ok", "it", idx0, ckDir, idx => { last = Some(idx); ticks.incrementAndGet(); () })
    try {
      stream.addData(all.filter(p => p._1 == 9L || p._1 == 10L))
      q.processAllAvailable()
      stream.addData(all.filter(p => p._1 >= 11L))
      q.processAllAvailable()
    } finally q.stop()
    assert(ticks.get == 2, "one sink call per absorbing trigger")
    assert(last.get.reliable, "every stream absorb checkpoints reliably")
    val oneShot = Ops.prepareCooc(all.toDF("ok", "it"), "ok", "it",
      checkpointDir = Some(ckDir))
    assert(last.get.nBaskets == oneShot.nBaskets)
    def srt(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(srt(last.get.items) == srt(oneShot.items),
      "streamed item counts must equal the one-shot census")
    assert(srt(last.get.pairs) == srt(oneShot.pairs),
      "streamed pair counts must equal the one-shot census")
    assert(srt(last.get.similarItems(3, 1L)) == srt(oneShot.similarItems(3, 1L)),
      "the grown index must serve identically to the one-shot")
  }

  test("activesIngestStream set-unions triggers into the census; replay is a true no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.api.Ops
    val all = (1L to 30L).map(i =>
      ("u" + (i % 7), new java.sql.Timestamp(86400000L * (i % 5) + i * 1000)))
    val base = all.take(10).toDF("u", "ts")
    val ckDir = java.nio.file.Files.createTempDirectory("graft_act_ing").toString
    val a0 = Ops.prepareActives(base, "u", "ts", checkpointDir = Some(ckDir))
    val e = intercept[IllegalArgumentException] {
      Streams.activesIngestStream(MemoryStream[(String, java.sql.Timestamp)].toDF().toDF("u", "ts"),
        "u", "ts", Ops.prepareActives(base, "u", "ts"), ckDir, _ => ())
    }
    assert(e.getMessage.contains("reliable"))
    @volatile var last: Option[Ops.PreparedActives] = None
    val ticks = new java.util.concurrent.atomic.AtomicInteger(0)
    val stream = MemoryStream[(String, java.sql.Timestamp)]
    val q = Streams.activesIngestStream(stream.toDF().toDF("u", "ts"),
      "u", "ts", a0, ckDir, a => { last = Some(a); ticks.incrementAndGet(); () })
    try {
      stream.addData(all.slice(10, 20))
      q.processAllAvailable()
      // an OVERLAPPING trigger (rows 15-30 re-send 15-20): idempotent
      stream.addData(all.slice(15, 30))
      q.processAllAvailable()
    } finally q.stop()
    assert(ticks.get == 2, "one sink call per trigger")
    assert(last.get.reliable)
    val oneShot = Ops.prepareActives(all.toDF("u", "ts"), "u", "ts",
      checkpointDir = Some(ckDir))
    def srt(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(srt(last.get.census) == srt(oneShot.census),
      "overlapping triggers set-union to exactly the one-shot census")
    assert(srt(last.get.rollingActives(3)) == srt(oneShot.rollingActives(3)),
      "the grown census serves identically to the one-shot")
  }

  test("rollupIngestStream absorbs triggers into the rolling rollup, matching one-shot") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.api.Ops
    // 30 keyed measures; rows 1-20 prepare, 21-25 and 26-30 stream —
    // the second trigger introduces a brand-new key tuple ("C")
    val all = (1L to 30L).map(i =>
      (if (i <= 25) (if (i % 2 == 0) "A" else "B") else "C", i, i.toDouble * 1.5))
    val base = all.filter(_._2 <= 20).toDF("k", "i", "v")
    val ckDir = java.nio.file.Files.createTempDirectory("graft_rollup_ing").toString
    val r0 = Ops.prepareRollup(base, Seq("k"), col("v"), checkpointDir = Some(ckDir))
    // unreliable prep refused up front
    val e = intercept[IllegalArgumentException] {
      Streams.rollupIngestStream(MemoryStream[(String, Long, Double)].toDF().toDF("k", "i", "v"),
        col("v"), Ops.prepareRollup(base, Seq("k"), col("v")), ckDir, _ => ())
    }
    assert(e.getMessage.contains("reliable"))
    @volatile var last: Option[Ops.PreparedRollup] = None
    val ticks = new java.util.concurrent.atomic.AtomicInteger(0)
    val stream = MemoryStream[(String, Long, Double)]
    val q = Streams.rollupIngestStream(stream.toDF().toDF("k", "i", "v"),
      col("v"), r0, ckDir, r => { last = Some(r); ticks.incrementAndGet(); () })
    try {
      stream.addData(all.filter(p => p._2 >= 21 && p._2 <= 25))
      q.processAllAvailable()
      stream.addData(all.filter(_._2 >= 26))
      q.processAllAvailable()
    } finally q.stop()
    assert(ticks.get == 2, "one sink call per absorbing trigger")
    assert(last.get.reliable, "every stream absorb checkpoints reliably")
    val oneShot = Ops.prepareRollup(all.toDF("k", "i", "v"), Seq("k"), col("v"),
      checkpointDir = Some(ckDir))
    def srt(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(srt(last.get.cells) == srt(oneShot.cells),
      "streamed cells must equal the one-shot census — exact algebra")
    assert(srt(last.get.serve) == srt(oneShot.serve),
      "the refreshed rollup must serve identically to the one-shot")
    assert(last.get.cells.filter(col("k") === "C").count() == 1,
      "a new key tuple arriving mid-stream lands as its own cell")
  }

  test("capVocabStream and ngramCoverageStream run triggers against frozen prep, matching batch") {
    import spark.implicits._
    import graft.api.Ops._
    implicit val sqlCtx = spark.sqlContext
    val corpus = (1L to 30L).map(i =>
      (i, "the cat sat on the mat and the dog ran past the old barn door today"))
      .toDF("doc_id", "text")
    // unreliable prep is rejected up front (the lmScoreStream contract)
    intercept[IllegalArgumentException] {
      Streams.capVocabStream(corpus, "doc_id", "text",
        graft.api.Ops.prepareVocab(corpus, "text", 5L), _ => ())
    }
    intercept[IllegalArgumentException] {
      Streams.ngramCoverageStream(corpus, "doc_id", "text",
        graft.api.Ops.prepareGramIndex(corpus, "text"), _ => ())
    }
    val ckDir = java.nio.file.Files.createTempDirectory("graft_pv_ck").toString
    val vocab = graft.api.Ops.prepareVocab(corpus, "text", minCount = 5L,
      checkpointDir = Some(ckDir))
    val idx = graft.api.Ops.prepareGramIndex(corpus, "text", n = 8,
      checkpointDir = Some(ckDir))
    val incoming = (100L to 109L).map(i =>
      (i, if (i % 2 == 0) "the cat sat on the mat and the dog ran zebra"
          else "qq ww ee rr tt yy uu ii oo pp")).toSeq
    val stream = MemoryStream[(Long, String)]
    stream.addData(incoming.take(5))
    val qv = Streams.capVocabStream(stream.toDF().toDF("doc_id", "text"),
      "doc_id", "text", vocab,
      b => b.write.mode("append").saveAsTable("pv_out"))
    val qc = Streams.ngramCoverageStream(stream.toDF().toDF("doc_id", "text"),
      "doc_id", "text", idx,
      b => b.write.mode("append").saveAsTable("pc_out"))
    try {
      qv.processAllAvailable(); qc.processAllAvailable()
      stream.addData(incoming.drop(5))
      qv.processAllAvailable(); qc.processAllAvailable()
      val inDf = incoming.toDF("doc_id", "text")
      val vStream = spark.table("pv_out")
      val vBatch = inDf.capVocabAgainst(vocab, "doc_id", "text")
      assert(vStream.except(vBatch).isEmpty && vBatch.except(vStream).isEmpty,
        "per-trigger capping must equal the batch form")
      // the zebra token is OOV for the prepared vocab
      val capped = vStream.filter(col("doc_id") === 100L).collect()(0)
      assert(capped.getString(1).endsWith("<unk>") && capped.getLong(2) == 1L)
      val cStream = spark.table("pc_out")
      val cBatch = inDf.ngramCoverageAgainst(idx, "doc_id", "text")
      assert(cStream.except(cBatch).isEmpty && cBatch.except(cStream).isEmpty,
        "per-trigger coverage must equal the batch form")
      // gibberish triggers cover 0bp against the prepared reference
      assert(cStream.filter(col("doc_id") % 2 === 1)
        .agg(max(col("coverage_bp"))).collect()(0).getLong(0) == 0L)
    } finally {
      qv.stop(); qc.stop()
      spark.sql("DROP TABLE IF EXISTS pv_out")
      spark.sql("DROP TABLE IF EXISTS pc_out")
    }
  }

  test("classifier scores a stream per micro-batch against static weights, matching batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = 1 << 12
    val labeled = ((1L to 20L).map(i => (i, s"doc $i excellent wonderful prose", 1)) ++
      (21L to 40L).map(i => (i, s"doc $i terrible awful spam", 0)))
      .toDF("doc_id", "text", "label")
    val weights = graft.operators.Classifier
      .trainTextClassifier(labeled, "doc_id", "text", "label", dim = dim, iters = 8, lr = 1.0)
      .cache() // static side, reused across micro-batches
    val incoming = (100L to 140L).map(i =>
      (i, if (i % 2 == 0) s"new $i excellent wonderful" else s"new $i terrible awful")).toSeq
    val stream = MemoryStream[(Long, String)]
    // two triggers: scoring must be per-batch independent (it
    // aggregates per doc, so it runs inside foreachBatch — the same
    // pattern as the streaming catalog dedup)
    stream.addData(incoming.take(20))
    val query = stream.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.operators.Classifier
          .scoreTextClassifier(batch, weights, "doc_id", "text", dim = dim)
          .write.mode("append").saveAsTable("score_out")
      }.start()
    try {
      query.processAllAvailable()
      stream.addData(incoming.drop(20))
      query.processAllAvailable()
      val streamed = spark.table("score_out")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val batch = graft.operators.Classifier
        .scoreTextClassifier(incoming.toDF("doc_id", "text"), weights,
          "doc_id", "text", dim = dim)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(streamed == batch, "per-batch stream scores must equal batch scores")
      assert(incoming.forall { case (i, _) => (streamed(i) > 0.5) == (i % 2 == 0) },
        "stream scores must land on the right side of 0.5")
    } finally {
      query.stop()
      spark.sql("DROP TABLE IF EXISTS score_out")
    }
  }

  test("ewmaStream reproduces the batch q117 series across a trigger split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ordered = eventSeq.sortBy(e => (e.ts.getTime, e.event_id))
    val (b1, b2) = ordered.splitAt(ordered.size / 2)
    val stream = MemoryStream[Event]
    val query = Streams.ewmaStream(stream.toDS(), lags = 16)
      .writeStream.format("memory").queryName("ewma_out").outputMode("append").start()
    try {
      stream.addData(b1); query.processAllAvailable()
      stream.addData(b2); query.processAllAvailable()
      val streamed = spark.table("ewma_out")
        .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      val batch = Temporal.q117(Tables(spark, sfDir))
        .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(streamed.size == batch.size,
        s"every event must emit exactly once (stream ${streamed.size} vs batch ${batch.size})")
      assert(streamed == batch,
        "the streamed smoothed series must equal batch q117 row-for-row")
    } finally query.stop()
  }

  test("ewmaStream in-order gate: a cross-trigger retro event drops counted, series unchanged") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, tUs: Long, v: Double) =
      Streams.Event(id, new java.sql.Timestamp(tUs / 1000), 1L, "x", v)
    val acc = spark.sparkContext.longAccumulator("ewma_late_test")
    val stream = MemoryStream[Streams.Event]
    val query = Streams.ewmaStream(stream.toDS(), lags = 4, lateDrops = Some(acc))
      .writeStream.format("memory").queryName("ewma_late_out").outputMode("append").start()
    try {
      stream.addData(Seq(ev(1, 10000000L, 1.00), ev(2, 20000000L, 2.00)))
      query.processAllAvailable()
      // t=15s is behind the key's 20s high-water mark: it cannot be
      // retro-inserted into the already-emitted series
      stream.addData(Seq(ev(3, 15000000L, 4.00)))
      query.processAllAvailable()
      val rows = spark.table("ewma_late_out")
        .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
      // weights 8,4 of lags=4: head row 100*8/8, second 200*8+100*4 over 12
      assert(rows == Map(1L -> ((800L, 8L)), 2L -> ((2000L, 12L))),
        s"the late event must emit nothing (got $rows)")
      assert(acc.value == 1L, s"the late event must be counted (got ${acc.value})")
    } finally query.stop()
  }

  test("linkageStream scores each trigger against the frozen master, matching batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val master = Seq((10L, "b1", "ann"), (11L, "b1", "bob"), (12L, "b2", "cat"))
      .toDF("bid", "bblk", "bn")
    val incoming = Seq((1L, "b1", "ann"), (2L, "b1", "zed"), (3L, "b2", "cat"))
    val stream = MemoryStream[(Long, String, String)]
    val query = Streams.linkageStream(stream.toDF().toDF("aid", "ablk", "an"),
      master, "aid", "bid", Seq("ablk" -> "bblk"), Seq(("an", "bn", 4L)),
      minScore = 4L,
      b => b.write.mode("append").saveAsTable("link_out"))
    try {
      stream.addData(incoming.take(2)); query.processAllAvailable()
      stream.addData(incoming.drop(2)); query.processAllAvailable()
      val streamed = spark.table("link_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.api.Ops.linkageScore(
          incoming.toDF("aid", "ablk", "an"), master, "aid", "bid",
          Seq("ablk" -> "bblk"), Seq(("an", "bn", 4L)), minScore = 4L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch && streamed == Set((1L, 10L), (3L, 12L)),
        s"per-trigger linkage must equal batch over the union (got $streamed)")
    } finally {
      query.stop()
      spark.sql("DROP TABLE IF EXISTS link_out")
    }
  }

  test("weightedSampleStream: winners equal batch q95 race; order- and replay-invariant") {
    import spark.implicits._
    import graft.api.Ops._
    implicit val sqlCtx = spark.sqlContext
    val all = (1L to 20L).map(i =>
      Streams.WSampleIn(if (i % 2 == 0) "a" else "b", i, (i % 5 + 1).toDouble))
    def batchWinners(rows: Seq[Streams.WSampleIn]): Set[(String, Long, Long)] =
      rows.map(r => (r.group, r.id, r.weight)).toDF("g", "id", "w")
        .weightedSamplePerGroup("g", "id", col("w"), k = 3)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getAs[Long]("sample_rank"))).toSet
    val stream = MemoryStream[Streams.WSampleIn]
    val query = Streams.weightedSampleStream(stream.toDS(), k = 3)
      .writeStream.format("memory").queryName("wsample_out").outputMode("append").start()
    def latest(): Set[(String, Long, Long)] = {
      val rows = spark.table("wsample_out").collect()
      // the LAST emitted batch per group is its current winner set
      rows.groupBy(_.getString(0)).flatMap { case (_, rs) =>
        // winners re-emit whole per touched trigger; dedupe to the
        // final rank of each id (ranks are re-stated every emit)
        rs.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .groupBy(t => (t._1, t._3)).map(_._2.last)
      }.toSet
    }
    try {
      stream.addData(all.take(10)); query.processAllAvailable()
      assert(latest() == batchWinners(all.take(10)),
        "after trigger 1 the winners equal the batch race")
      stream.addData(all.drop(10)); query.processAllAvailable()
      assert(latest() == batchWinners(all),
        "after trigger 2 the winners equal the batch race over everything")
      // replaying an already-absorbed trigger re-inserts idempotently
      stream.addData(all.take(10)); query.processAllAvailable()
      assert(latest() == batchWinners(all), "a replay changes nothing")
    } finally query.stop()
    // arrival order is irrelevant: reversed feed, same winners
    val stream2 = MemoryStream[Streams.WSampleIn]
    val q2 = Streams.weightedSampleStream(stream2.toDS(), k = 3)
      .writeStream.format("memory").queryName("wsample_out2").outputMode("append").start()
    try {
      stream2.addData(all.reverse); q2.processAllAvailable()
      val rev = spark.table("wsample_out2").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(rev == batchWinners(all), "reversed arrival, identical winners")
    } finally q2.stop()
  }

  test("psiDriftStream scores each trigger against the frozen baseline, matching batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val baseline = Seq("x", "x", "x", "y").toDF("b")
    val t1 = Seq("x", "y"); val t2 = Seq("z", "z", "y")
    val stream = MemoryStream[String]
    val got = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val query = Streams.psiDriftStream(stream.toDF().toDF("b"), baseline, "b",
      r => { got += r.collect().map(x => x.getString(0) -> x.getAs[Double]("psi")).toMap; () })
    try {
      stream.addData(t1); query.processAllAvailable()
      stream.addData(t2); query.processAllAvailable()
    } finally query.stop()
    assert(got.size == 2, "one report per trigger")
    def batchPsi(cur: Seq[String]): Map[String, Double] =
      graft.api.Ops.psiDrift(baseline, cur.toDF("b"), "b")
        .collect().map(x => x.getString(0) -> x.getAs[Double]("psi")).toMap
    assert(got(0) == batchPsi(t1), "trigger 1 report ≡ batch psiDrift")
    assert(got(1) == batchPsi(t2),
      "trigger 2 — with the baseline-unseen bucket z — ≡ batch psiDrift")
    assert(got(1).values.head > got(0).values.head,
      "the drifted trigger scores a larger PSI")
  }

  test("jsDriftStream / srmStream score each trigger per batch semantics") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq.toSeq).toSeq
    // JS: trigger 2 introduces a baseline-unseen bucket — finite by
    // construction, no smoothing
    val baseline = Seq("x", "x", "x", "y").toDF("b")
    val t1 = Seq("x", "y"); val t2 = Seq("z", "z", "y")
    val jsStream = MemoryStream[String]
    val jsGot = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    val jsQ = Streams.jsDriftStream(jsStream.toDF().toDF("b"), baseline, "b",
      r => { jsGot += rows(r.orderBy("bucket")); () })
    try {
      jsStream.addData(t1); jsQ.processAllAvailable()
      jsStream.addData(t2); jsQ.processAllAvailable()
    } finally jsQ.stop()
    assert(jsGot.size == 2, "one JS report per trigger")
    def batchJs(cur: Seq[String]) =
      rows(graft.api.Ops.jsDivergence(baseline, cur.toDF("b"), "b").orderBy("bucket"))
    assert(jsGot(0) == batchJs(t1), "trigger 1 ≡ batch jsDivergence")
    assert(jsGot(1) == batchJs(t2), "trigger 2 ≡ batch jsDivergence")
    // SRM: trigger 2's traffic is skewed off the declared 50/50
    val arms = Seq("A" -> 0.5, "B" -> 0.5)
    val srmStream0 = MemoryStream[String]
    val srmGot = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    val srmQ = Streams.srmStream(srmStream0.toDF().toDF("arm"), col("arm"), arms,
      r => { srmGot += rows(r.orderBy("arm")); () })
    val s1 = Seq("A", "B", "A", "B"); val s2 = Seq("A", "A", "A", "B")
    try {
      srmStream0.addData(s1); srmQ.processAllAvailable()
      srmStream0.addData(s2); srmQ.processAllAvailable()
    } finally srmQ.stop()
    assert(srmGot.size == 2, "one SRM report per trigger")
    def batchSrm(cur: Seq[String]) =
      rows(graft.api.Ops.srmCheck(cur.toDF("arm"), col("arm"), arms).orderBy("arm"))
    assert(srmGot(0) == batchSrm(s1), "trigger 1 ≡ batch srmCheck")
    assert(srmGot(1) == batchSrm(s2), "trigger 2 ≡ batch srmCheck")
  }

  test("quantileDriftStream reports per-trigger quantile deltas ≡ batch quantileDrift") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq.toSeq).toSeq
    val baseline = (1L to 100L).toDF("v")
    val t1 = (1L to 50L).map(_ * 2); val t2 = (101L to 150L)  // t2 shifted up
    val qs = Seq("p50" -> 0.5, "p90" -> 0.9)
    val stream = MemoryStream[Long]
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    val query = Streams.quantileDriftStream(stream.toDF().toDF("v"), baseline,
      col("v"), 1.0, qs, r => { got += rows(r.orderBy("quantile")); () })
    try {
      stream.addData(t1); query.processAllAvailable()
      stream.addData(t2); query.processAllAvailable()
    } finally query.stop()
    assert(got.size == 2, "one report per trigger")
    def batch(cur: Seq[Long]) =
      rows(graft.api.Ops.quantileDrift(baseline, cur.toDF("v"), col("v"), 1.0, qs)
        .orderBy("quantile"))
    assert(got(0) == batch(t1), "trigger 1 ≡ batch quantileDrift")
    assert(got(1) == batch(t2), "trigger 2 ≡ batch quantileDrift")
  }

  test("r15 durable drift baselines: a restarted stream scores the PINNED artifact, not the mutated live table") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq.toSeq).toSeq
    val tmpDir = java.nio.file.Files.createTempDirectory("graft_driftbase").toString
    // the baseline TABLE at prepare time holds the original era...
    val srcPath = s"$tmpDir/baseline_src"
    val originalRows = Seq("x", "x", "x", "y")
    originalRows.toDF("b").write.mode("overwrite").parquet(srcPath)
    graft.api.Ops.prepareBuckets(spark.read.parquet(srcPath), "b")
      .save(s"$tmpDir/buckets")
    graft.api.Ops.prepareQuantiles(spark.read.parquet(srcPath)
      .select(length(col("b")).cast("long").as("v")), Nil, col("v"), 1.0)
      .save(s"$tmpDir/quant")
    // ...then MUTATES before the monitor restarts — the production
    // scenario the live-frame forms silently rebase onto
    Seq("z", "z").toDF("b").write.mode("overwrite").parquet(srcPath)
    // "restart": load the artifacts fresh and stream against them
    val pinned = graft.api.Ops.loadBuckets(spark, s"$tmpDir/buckets")
    val t1 = Seq("x", "z", "y")
    // PSI against the pinned census ≡ batch psiDrift on the ORIGINAL
    // corpus, bit-for-bit — and ≠ the rebased live-table readout
    val psiStream = MemoryStream[String]
    val psiGot = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    val psiQ = Streams.psiDriftStream(psiStream.toDF().toDF("b"), pinned,
      r => { psiGot += rows(r.orderBy("bucket")); () })
    try { psiStream.addData(t1); psiQ.processAllAvailable() } finally psiQ.stop()
    assert(psiGot.head == rows(graft.api.Ops.psiDrift(
      originalRows.toDF("b"), t1.toDF("b"), "b").orderBy("bucket")),
      "pinned PSI ≡ batch psiDrift on the prepare-time corpus")
    assert(psiGot.head != rows(graft.api.Ops.psiDrift(
      spark.read.parquet(srcPath), t1.toDF("b"), "b").orderBy("bucket")),
      "the pinned readout must NOT match the mutated live table")
    // JS twin
    val jsStream = MemoryStream[String]
    val jsGot = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    val jsQ = Streams.jsDriftStream(jsStream.toDF().toDF("b"), pinned,
      r => { jsGot += rows(r.orderBy("bucket")); () })
    try { jsStream.addData(t1); jsQ.processAllAvailable() } finally jsQ.stop()
    assert(jsGot.head == rows(graft.api.Ops.jsDivergence(
      originalRows.toDF("b"), t1.toDF("b"), "b").orderBy("bucket")),
      "pinned JS ≡ batch jsDivergence on the prepare-time corpus")
    // SRM: the declared split is MEASURED from the pinned census
    // (x 3/4, y 1/4 — exact doubles) — ≡ batch srmCheck with those
    val srmStream0 = MemoryStream[String]
    val srmGot = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    val srmQ = Streams.srmStream(srmStream0.toDF().toDF("arm"), col("arm"),
      pinned, r => { srmGot += rows(r.orderBy("arm")); () })
    val s1 = Seq("x", "x", "y", "w")
    try { srmStream0.addData(s1); srmQ.processAllAvailable() } finally srmQ.stop()
    assert(srmGot.head == rows(graft.api.Ops.srmCheck(s1.toDF("arm"), col("arm"),
      Seq("x" -> 0.75, "y" -> 0.25)).orderBy("arm")),
      "pinned SRM ≡ batch srmCheck with the measured split")
    // quantile drift against the pinned registers ≡ batch
    // quantileDrift on the prepare-time corpus (widths from the
    // artifact, never passed)
    val qpinned = graft.api.Ops.loadQuantiles(spark, s"$tmpDir/quant")
    val qs = Seq("p50" -> 0.5)
    val qStream = MemoryStream[Long]
    val qGot = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    val qQ = Streams.quantileDriftStream(qStream.toDF().toDF("v"), qpinned,
      col("v"), qs, r => { qGot += rows(r.orderBy("quantile")); () })
    try { qStream.addData(Seq(5L, 6L, 7L)); qQ.processAllAvailable() } finally qQ.stop()
    val origVals = originalRows.map(_.length.toLong)
    assert(qGot.head == rows(graft.api.Ops.quantileDrift(origVals.toDF("v"),
      Seq(5L, 6L, 7L).toDF("v"), col("v"), 1.0, qs).orderBy("quantile")),
      "pinned quantile drift ≡ batch quantileDrift on the prepare-time corpus")
  }

  test("r15 msprtStream: each trigger's readout ≡ batch msprt over ALL evidence so far; a restart from the saved artifact resumes, not restarts, the test") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq.toSeq).toSeq
    val tmp = java.nio.file.Files.createTempDirectory("graft_msprt").toString
    def batchOf(all: Seq[(String, Double)]): Seq[Seq[Any]] = rows(
      graft.api.Ops.msprt(
        all.filter(_._1 == "a").map(_._2).toDF("v"),
        all.filter(_._1 == "b").map(_._2).toDF("v"),
        col("v"), tau2 = 100.0))
    val prep0 = graft.api.Ops.prepareMoments(
      Seq.empty[(String, Double)].toDF("arm", "v"), "arm",
      col("v"), col("v"), Some(s"$tmp/ckpt"))
    val stream = MemoryStream[(String, Double)]
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    var lastM: graft.api.Ops.PreparedMoments = null
    val q = Streams.msprtStream(stream.toDF().toDF("arm", "v"),
      col("arm"), col("v"), "a", "b", tau2 = 100.0, prep0, s"$tmp/ckpt",
      (r, m) => { got += rows(r); lastM = m; () })
    val t1 = (1 to 30).map(i => ("a", (i % 10).toDouble)) ++
      (1 to 30).map(i => ("b", (i % 10).toDouble))
    val t2 = (1 to 30).map(i => ("b", (i % 10 + 50).toDouble)) // b shifts UP
    try {
      stream.addData(t1); q.processAllAvailable()
      stream.addData(t2); q.processAllAvailable()
    } finally q.stop()
    assert(got.size == 2, "one readout per trigger")
    assert(got(0) == batchOf(t1), "trigger 1 ≡ batch msprt of trigger 1")
    assert(got(1) == batchOf(t1 ++ t2),
      "trigger 2 ≡ batch msprt over ALL rows seen — cumulative, not per-trigger")
    // the shifted second trigger must flip the decision
    assert(got(1).head.last == true && got(0).head.last != true,
      "the planted shift crosses the alpha boundary only once evidence lands")
    // restart: persist, load, continue — the evidence carries over
    lastM.save(s"$tmp/m")
    val loaded = graft.api.Ops.loadMoments(spark, s"$tmp/m")
    val stream2 = MemoryStream[(String, Double)]
    val got2 = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    val q2 = Streams.msprtStream(stream2.toDF().toDF("arm", "v"),
      col("arm"), col("v"), "a", "b", tau2 = 100.0, loaded, s"$tmp/ckpt2",
      (r, _) => { got2 += rows(r); () })
    val t3 = (1 to 10).map(i => ("a", (i % 10).toDouble))
    try { stream2.addData(t3); q2.processAllAvailable() } finally q2.stop()
    assert(got2.head == batchOf(t1 ++ t2 ++ t3),
      "the restarted monitor resumes the SAME cumulative test from the artifact")
  }

  test("r17 avciStream: trigger k's interval ≡ batch alwaysValidCi over all evidence; the test+interval pair reads off one artifact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq.toSeq).toSeq
    val tmp = java.nio.file.Files.createTempDirectory("graft_avci").toString
    def batchOf(all: Seq[(String, Double)]): Seq[Seq[Any]] = rows(
      graft.api.Ops.alwaysValidCi(
        all.filter(_._1 == "a").map(_._2).toDF("v"),
        all.filter(_._1 == "b").map(_._2).toDF("v"),
        col("v"), tau2 = 100.0))
    val prep0 = graft.api.Ops.prepareMoments(
      Seq.empty[(String, Double)].toDF("arm", "v"), "arm",
      col("v"), col("v"), Some(s"$tmp/ckpt"))
    val stream = MemoryStream[(String, Double)]
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    var lastM: graft.api.Ops.PreparedMoments = null
    val q = Streams.avciStream(stream.toDF().toDF("arm", "v"),
      col("arm"), col("v"), "a", "b", tau2 = 100.0, prep0, s"$tmp/ckpt",
      (r, m) => { got += rows(r); lastM = m; () })
    val t1 = (1 to 30).map(i => ("a", (i % 10).toDouble)) ++
      (1 to 30).map(i => ("b", (i % 10).toDouble))
    val t2 = (1 to 30).map(i => ("b", (i % 10 + 50).toDouble))
    try {
      stream.addData(t1); q.processAllAvailable()
      stream.addData(t2); q.processAllAvailable()
    } finally q.stop()
    assert(got.size == 2)
    assert(got(0) == batchOf(t1), "trigger 1 ≡ batch CI of trigger 1")
    assert(got(1) == batchOf(t1 ++ t2), "trigger 2 ≡ batch CI over ALL rows")
    // the duality against the msprt read off the SAME artifact
    val m = graft.api.Ops.msprtFromMoments(lastM, "a", "b", tau2 = 100.0)
      .collect().head
    val c = graft.api.Ops.alwaysValidCiFromMoments(lastM, "a", "b", tau2 = 100.0)
      .collect().head
    val zeroOutside = c.getAs[Double]("ci_lo") > 0.0 || c.getAs[Double]("ci_hi") < 0.0
    assert(m.getAs[Boolean]("reject") == zeroOutside,
      s"the pair off one artifact must agree: $m vs $c")
  }

  test("r17 knLmScoreStream: trigger ≡ batch knLmScoreAgainst; against(training) ≡ knLmScore bit-for-bit; absorb ≡ prepare-union; OOV floors order") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.api.Ops._
    implicit val sqlCtx = spark.sqlContext
    val corpus = (1L to 40L).map(i =>
      (i, s"the quick brown fox ${"jumps " * (i % 3).toInt}over the lazy dog"))
      .toDF("doc_id", "text")
    val ckDir = java.nio.file.Files.createTempDirectory("graft_knlm").toString
    val kn = graft.api.Ops.prepareKnLm(corpus, "text", Some(ckDir))
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq.toSeq).toSet
    // against(training corpus) ≡ the one-shot knLmScore, bit-for-bit
    assert(rows(corpus.knLmScoreAgainst(kn, "doc_id", "text")) ==
      rows(corpus.knLmScore("doc_id", "text")),
      "scoring the training corpus against the artifact must reproduce knLmScore")
    // absorb ≡ prepare over the union (censuses and scores)
    val (pa, pb) = (corpus.filter(col("doc_id") <= 20L),
      corpus.filter(col("doc_id") > 20L))
    val absorbed = graft.api.Ops.prepareKnLm(pa, "text").absorb(pb, "text")
    val direct = graft.api.Ops.prepareKnLm(corpus, "text")
    assert(rows(absorbed.bigrams) == rows(direct.bigrams) &&
      (absorbed.nt, absorbed.n1, absorbed.n2) == (direct.nt, direct.n1, direct.n2),
      "absorb must equal prepare-of-union")
    // OOV paths: in-distribution beats both degradations, and the
    // fully-OOV doc lands EXACTLY on the documented floor — every
    // bigram P = 1/(nt+1), so ppl ≈ nt+1 (the ordering between the
    // two degradations is corpus-dependent: with a tiny nt the floor
    // can out-score a legitimately interpolated unseen pair)
    val probe = Seq((1L, "the quick brown fox"), (2L, "dog the fox quick"),
      (3L, "zorp glib flurm bax")).toDF("doc_id", "text")
    val ppl = probe.knLmScoreAgainst(kn, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(ppl(1L) < ppl(2L) && ppl(1L) < ppl(3L),
      s"in-distribution must beat both OOV paths: $ppl")
    assert(math.abs(ppl(3L) - (kn.nt + 1)) < 0.1,
      s"the fully-OOV doc must land on the 1/(nt+1) floor: ${ppl(3L)} vs nt=${kn.nt}")
    // save/load round-trips; the stream matches the batch per trigger
    kn.save(s"$ckDir/art")
    val loaded = graft.api.Ops.loadKnLm(spark, s"$ckDir/art")
    val stream = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[Set[Seq[Any]]]
    val q = Streams.knLmScoreStream(stream.toDF().toDF("doc_id", "text"),
      "doc_id", "text", loaded, b => { got += rows(b); () })
    val b1 = Seq((10L, "the quick brown fox"), (11L, "zorp glib"))
    val b2 = Seq((12L, "over the lazy dog"))
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()
    assert(got.size == 2)
    assert(got(0) == rows(b1.toDF("doc_id", "text")
      .knLmScoreAgainst(loaded, "doc_id", "text")), "trigger 1 ≡ batch against")
    assert(got(1) == rows(b2.toDF("doc_id", "text")
      .knLmScoreAgainst(loaded, "doc_id", "text")), "trigger 2 ≡ batch against")
    intercept[IllegalArgumentException] {
      Streams.knLmScoreStream(stream.toDF().toDF("doc_id", "text"),
        "doc_id", "text", graft.api.Ops.prepareKnLm(corpus, "text"), _ => ())
    }
  }

  test("r17 wordpieceEncodeStream: per-trigger encodings ≡ batch encodeWith against the frozen vocab") {
    import spark.implicits._
    import graft.operators.Wordpiece
    implicit val sqlCtx = spark.sqlContext
    val train = Seq((1L, "spark batch window table"), (2L, "spark window batch"),
      (3L, "table window spark")).toDF("doc_id", "text")
    val prepared = Wordpiece.prepareWordpiece(train, "text", numMerges = 4)
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq.toSeq).toSet
    val stream = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[Set[Seq[Any]]]
    val q = Streams.wordpieceEncodeStream(stream.toDF().toDF("doc_id", "text"),
      "doc_id", "text", prepared, b => { got += rows(b); () })
    val b1 = Seq((10L, "spark window"), (11L, "batch zork"))
    val b2 = Seq((12L, "table spark batch"))
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()
    assert(got.size == 2)
    assert(got(0) == rows(Wordpiece.encodeWith(b1.toDF("doc_id", "text"),
      "doc_id", "text", prepared)), "trigger 1 ≡ batch encode")
    assert(got(1) == rows(Wordpiece.encodeWith(b2.toDF("doc_id", "text"),
      "doc_id", "text", prepared)), "trigger 2 ≡ batch encode")
  }

  test("r17 dsirScoreStream: per-trigger weights ≡ batch dsirScoreAgainst; against's top-k ≡ dsirSelect; save/load round-trips") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.api.Ops._
    implicit val sqlCtx = spark.sqlContext
    val raw = (0L until 30L).map(i =>
      (i, if (i < 15) "alpha beta gamma delta" else "zork quux fnord blorp"))
      .toDF("doc_id", "text")
    val target = Seq((100L, "alpha beta gamma"), (101L, "beta gamma delta"))
      .toDF("doc_id", "text")
    val ckDir = java.nio.file.Files.createTempDirectory("graft_dsir").toString
    val prepared = graft.api.Ops.prepareDsir(target, raw, "text",
      checkpointDir = Some(ckDir))
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq.toSeq).toSet
    // against's top-k over the SAME raw corpus ≡ the one-shot select
    val viaAgainst = raw.dsirScoreAgainst(prepared, "doc_id", "text")
      .orderBy(col("score").desc, col("doc_id")).limit(10)
    assert(rows(viaAgainst) == rows(raw.dsirSelect(target, "doc_id", "text", k = 10)),
      "prepared top-k must equal the one-shot select")
    // save/load; stream ≡ batch against per trigger
    prepared.save(s"$ckDir/art")
    val loaded = graft.api.Ops.loadDsir(spark, s"$ckDir/art")
    val stream = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[Set[Seq[Any]]]
    val q = Streams.dsirScoreStream(stream.toDF().toDF("doc_id", "text"),
      "doc_id", "text", loaded, b => { got += rows(b); () })
    val b1 = Seq((200L, "alpha beta"), (201L, "zork quux"))
    val b2 = Seq((202L, "gamma delta alpha"))
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()
    assert(got.size == 2)
    def batchOf(b: Seq[(Long, String)]) =
      rows(b.toDF("doc_id", "text").dsirScoreAgainst(loaded, "doc_id", "text"))
    assert(got(0) == batchOf(b1), "trigger 1 ≡ batch against")
    assert(got(1) == batchOf(b2), "trigger 2 ≡ batch against")
    // target-like streaming docs outscore off-target ones
    val w = got(0).map(r => r.head.asInstanceOf[Long] -> r.last.asInstanceOf[Double]).toMap
    assert(w(200L) > w(201L), s"target-like must outscore off-target: $w")
    intercept[IllegalArgumentException] {
      Streams.dsirScoreStream(stream.toDF().toDF("doc_id", "text"),
        "doc_id", "text", graft.api.Ops.prepareDsir(target, raw, "text"), _ => ())
    }
  }

  test("r17 qteIngestStream: trigger k's distributional readout ≡ from-prepared over union(triggers 1..k); a late tail shift surfaces at p90 only") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.orderBy(col("pct")).collect().map(_.toSeq.toSeq).toSeq
    val tmp = java.nio.file.Files.createTempDirectory("graft_qtei").toString
    def prep0 = graft.api.Ops.prepareQuantiles(
      Seq.empty[Double].toDF("v"), Seq.empty, col("v"), 5.0, Some(s"$tmp/ck"))
    def batchOf(all: Seq[(String, Double)]): Seq[Seq[Any]] = rows(
      graft.api.Ops.qteSketchFromPrepared(
        graft.api.Ops.prepareQuantiles(
          all.filter(_._1 == "a").map(_._2).toDF("v"), Seq.empty, col("v"), 5.0),
        graft.api.Ops.prepareQuantiles(
          all.filter(_._1 == "b").map(_._2).toDF("v"), Seq.empty, col("v"), 5.0)))
    val stream = MemoryStream[(String, Double)]
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    val q = Streams.qteIngestStream(stream.toDF().toDF("arm", "v"),
      col("arm"), col("v"), "a", "b", prep0, prep0, s"$tmp/ck")(
      (r, _, _) => { got += rows(r); () })
    // trigger 1: identical bodies; trigger 2: arm b's tail doubles
    val body = (1 to 100).map(i => (i % 50 + 1).toDouble)
    val t1 = body.map(("a", _)) ++ body.map(("b", _))
    // the shift must survive DILUTION by trigger 1's calm traffic:
    // half of t2's arm-b values quadruple, so the union's p90 rank
    // (180 of 200) lands past the unshifted body
    val t2 = body.map(("a", _)) ++ body.map(v => ("b", if (v > 25) v * 4 else v))
    try {
      stream.addData(t1); q.processAllAvailable()
      stream.addData(t2); q.processAllAvailable()
    } finally q.stop()
    assert(got.size == 2)
    assert(got(0) == batchOf(t1), "trigger 1 ≡ from-prepared over t1")
    assert(got(1) == batchOf(t1 ++ t2), "trigger 2 ≡ from-prepared over t1 ∪ t2")
    // the monitoring story: flat at trigger 1, p90 moves at trigger 2
    def qteAt(b: Seq[Seq[Any]], p: Long) =
      b.find(_(0) == p).get.last.asInstanceOf[Double]
    assert(qteAt(got(0), 90L) == 0.0, s"identical bodies: ${got(0)}")
    assert(qteAt(got(1), 90L) > 0.0 && qteAt(got(1), 25L) == 0.0,
      s"the late tail shift must surface at p90 and not the body: ${got(1)}")
    intercept[IllegalArgumentException] {
      Streams.qteIngestStream(stream.toDF().toDF("arm", "v"),
        col("arm"), col("v"), "a", "b",
        graft.api.Ops.prepareQuantiles(Seq.empty[Double].toDF("v"), Seq.empty,
          col("v"), 5.0),
        prep0, s"$tmp/ck")((_, _, _) => ())
    }
  }

  test("r15 calibrationStream: the cumulative reliability diagram ≡ batch calibrationBins over all traffic; restart resumes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    import graft.api.Ops._
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq.toSeq).toSeq
    val tmp = java.nio.file.Files.createTempDirectory("graft_calib").toString
    val prep0 = graft.api.Ops.prepareCalibration(
      Seq.empty[(Long, Long)].toDF("s", "y"), col("s"), col("y"), nBins = 10,
      Some(s"$tmp/ckpt"))
    val stream = MemoryStream[(Long, Long)]
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    var lastM: graft.api.Ops.PreparedCalibration = null
    val q = Streams.calibrationStream(stream.toDF().toDF("s", "y"),
      col("s"), col("y"), prep0, s"$tmp/ckpt",
      (r, m) => { got += rows(r.orderBy("bin")); lastM = m; () })
    val t1 = (1 to 50).map(i => ((i % 10) * 100000L, (i % 3 == 0).compareTo(false).toLong))
    val t2 = (1 to 30).map(i => (950000L, 1L)) // a hot high-score bin later
    try {
      stream.addData(t1); q.processAllAvailable()
      stream.addData(t2); q.processAllAvailable()
    } finally q.stop()
    def batchOf(ts: Seq[(Long, Long)]) = rows(
      ts.toDF("s", "y").calibrationBins(col("s"), col("y"), 10).orderBy("bin"))
    assert(got(0) == batchOf(t1) && got(1) == batchOf(t1 ++ t2),
      "trigger k ≡ batch calibrationBins over all traffic seen")
    // restart from the saved artifact: the diagram keeps accumulating
    lastM.save(s"$tmp/m")
    val loaded = graft.api.Ops.loadCalibration(spark, s"$tmp/m")
    val s2 = MemoryStream[(Long, Long)]
    val got2 = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    val q2 = Streams.calibrationStream(s2.toDF().toDF("s", "y"),
      col("s"), col("y"), loaded, s"$tmp/ckpt2",
      (r, _) => { got2 += rows(r.orderBy("bin")); () })
    val t3 = (1 to 10).map(_ => (50000L, 0L))
    try { s2.addData(t3); q2.processAllAvailable() } finally q2.stop()
    assert(got2.head == batchOf(t1 ++ t2 ++ t3),
      "the restarted monitor resumes the cumulative diagram")
  }

  test("r15 kArmMonitorStream: per-trigger ANOVA + post-hoc ≡ the batch operators over ALL evidence so far") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq.toSeq).toSeq
    val tmp = java.nio.file.Files.createTempDirectory("graft_karm").toString
    val prep0 = graft.api.Ops.prepareMoments(
      Seq.empty[(String, Double)].toDF("arm", "v"), "arm",
      col("v"), col("v"), Some(s"$tmp/ckpt"))
    val stream = MemoryStream[(String, Double)]
    val gotA = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    val gotP = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    val q = Streams.kArmMonitorStream(stream.toDF().toDF("arm", "v"),
      col("arm"), col("v"), prep0, s"$tmp/ckpt",
      (a, p, _) => { gotA += rows(a); gotP += rows(p.orderBy("g_a", "g_b")); () })
    val t1 = (1 to 20).flatMap(i => Seq(("a", i.toDouble), ("b", i + 1.0),
      ("c", i + 2.0)))
    val t2 = (1 to 20).map(i => ("c", i + 50.0)) // c shifts up later
    try {
      stream.addData(t1); q.processAllAvailable()
      stream.addData(t2); q.processAllAvailable()
    } finally q.stop()
    def all(ts: Seq[(String, Double)]) = ts.toDF("arm", "v")
    assert(gotA(0) == rows(graft.api.Ops.anovaF(all(t1), "arm", col("v"))) &&
      gotA(1) == rows(graft.api.Ops.anovaF(all(t1 ++ t2), "arm", col("v"))),
      "trigger k's ANOVA ≡ batch over all rows seen")
    assert(gotP(1) == rows(graft.api.Ops.pairwiseWelch(all(t1 ++ t2), "arm",
        col("v")).orderBy("g_a", "g_b")),
      "trigger k's post-hoc ≡ batch over all rows seen")
  }

  test("ksDriftStream / mwuDriftStream score each trigger against the frozen baseline, matching batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val baseline = Seq(10L, 20L, 20L, 30L, 40L).toDF("v")
    val t1 = Seq(15L, 25L); val t2 = Seq(90L, 95L, 100L) // t2 is shifted UP
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq.toSeq).toSeq
    // KS
    val ksStream = MemoryStream[Long]
    val ksGot = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    val ksQ = Streams.ksDriftStream(ksStream.toDF().toDF("v"), baseline, col("v"),
      r => { ksGot += rows(r); () })
    try {
      ksStream.addData(t1); ksQ.processAllAvailable()
      ksStream.addData(t2); ksQ.processAllAvailable()
    } finally ksQ.stop()
    assert(ksGot.size == 2, "one KS report per trigger")
    def batchKs(cur: Seq[Long]) =
      rows(graft.api.Ops.ksStatistic(baseline, cur.toDF("v"), col("v")))
    assert(ksGot(0) == batchKs(t1), "trigger 1 ≡ batch ksStatistic")
    assert(ksGot(1) == batchKs(t2), "trigger 2 ≡ batch ksStatistic")
    // the fully-disjoint shifted trigger maxes the gap: D = 1
    assert(ksGot(1).head.last == 1.0, "disjoint trigger → d_stat 1")
    // MWU
    val uStream = MemoryStream[Long]
    val uGot = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    val uQ = Streams.mwuDriftStream(uStream.toDF().toDF("v"), baseline, col("v"),
      r => { uGot += rows(r); () })
    try {
      uStream.addData(t1); uQ.processAllAvailable()
      uStream.addData(t2); uQ.processAllAvailable()
    } finally uQ.stop()
    assert(uGot.size == 2, "one MWU report per trigger")
    def batchU(cur: Seq[Long]) =
      rows(graft.api.Ops.mannWhitneyU(baseline, cur.toDF("v"), col("v")))
    assert(uGot(0) == batchU(t1), "trigger 1 ≡ batch mannWhitneyU")
    assert(uGot(1) == batchU(t2), "trigger 2 ≡ batch mannWhitneyU")
    // the shifted-up trigger drives z NEGATIVE for side A = baseline
    // (baseline stochastically smaller)
    val z2 = uGot(1).head.last.asInstanceOf[Double]
    assert(z2 < 0.0, s"shifted-up trigger must give negative z, got $z2")
  }

  test("governanceStream: per-trigger decided battery ≡ batch governanceBatteryByGroup") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    // two segments; g2's trigger-2 values shift far up so SOME test fires
    val baseline = Seq(
      ("g1", 100L), ("g1", 110L), ("g1", 120L), ("g1", 130L), ("g1", 140L),
      ("g2", 100L), ("g2", 110L), ("g2", 120L), ("g2", 130L), ("g2", 140L)
    ).toDF("g", "v")
    val t1 = Seq(("g1", 105L), ("g1", 125L), ("g2", 115L), ("g2", 135L))
    val t2 = (1 to 40).map(i => ("g2", 9000L + i)) ++
      Seq(("g1", 100L), ("g1", 140L))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.orderBy(col("test"), col("grp")).collect().map(_.toSeq.toSeq).toSeq
    val stream = MemoryStream[(String, Long)]
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    val q = Streams.governanceStream(stream.toDF().toDF("g", "v"), baseline,
      "g", col("v"), col("v"), r => { got += rows(r); () })
    try {
      stream.addData(t1); q.processAllAvailable()
      stream.addData(t2); q.processAllAvailable()
    } finally q.stop()
    assert(got.size == 2, "one decided battery per trigger")
    def batch(cur: Seq[(String, Long)]) =
      rows(graft.api.Ops.governanceBatteryByGroup(
        baseline, cur.toDF("g", "v"), "g", col("v"), col("v")))
    assert(got(0) == batch(t1), "trigger 1 ≡ batch battery")
    assert(got(1) == batch(t2), "trigger 2 ≡ batch battery")
    // shape: 3 tests × 2 segments, one multiple-testing budget
    assert(got(0).size == 6 && got(0).forall(_(5) == 6L),
      "m_tests counts the WHOLE battery")
    // the calm trigger fires nothing; the shifted g2 fires under BOTH
    // controls while calm g1 stays quiet — the per-segment decision
    val rej1 = got(0).collect { case r if r(7) == true => r }
    assert(rej1.isEmpty, s"calm trigger must not reject: $rej1")
    val rej2 = got(1).collect { case r if r(7) == true => (r(0), r(1)) }
    assert(rej2.nonEmpty && rej2.forall(_._2 == "g2"),
      s"only the shifted segment may reject, got $rej2")
    val fwer2 = got(1).collect { case r if r(9) == true => (r(0), r(1)) }
    assert(fwer2.nonEmpty && fwer2.forall(_._2 == "g2"),
      s"the shifted segment must survive even the FWER control, got $fwer2")
  }

  test("governanceIngestStream: trigger N's decided battery ≡ batch battery over union(triggers 1..N)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val baselineRows = Seq(
      ("g1", 100L), ("g1", 110L), ("g1", 120L), ("g1", 130L), ("g1", 140L),
      ("g2", 100L), ("g2", 110L), ("g2", 120L), ("g2", 130L), ("g2", 140L))
    val baseline = graft.api.Ops.prepareGovernance(
      baselineRows.toDF("g", "v"), "g", col("v"), col("v"))
    // three small triggers; g2 drifts upward only in aggregate — no
    // single trigger carries enough n to decide anything alone
    val t1 = Seq(("g1", 105L), ("g2", 460L), ("g2", 480L))
    val t2 = Seq(("g1", 125L), ("g2", 470L), ("g2", 490L), ("g2", 465L))
    val t3 = (1 to 12).map(i => ("g2", 455L + i)) ++ Seq(("g1", 118L))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.orderBy(col("test"), col("grp")).collect().map(_.toSeq.toSeq).toSeq
    val stream = MemoryStream[(String, Long)]
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    val q = Streams.governanceIngestStream(stream.toDF().toDF("g", "v"),
      baseline, col("v"), col("v"), r => { got += rows(r); () })
    try {
      stream.addData(t1); q.processAllAvailable()
      stream.addData(t2); q.processAllAvailable()
      stream.addData(t3); q.processAllAvailable()
    } finally q.stop()
    assert(got.size == 3, "one decided battery per trigger")
    def batchOverUnion(cur: Seq[(String, Long)]) =
      rows(graft.api.Ops.governanceBatteryByGroup(
        baselineRows.toDF("g", "v"), cur.toDF("g", "v"), "g", col("v"), col("v")))
    assert(got(0) == batchOverUnion(t1), "trigger 1 ≡ batch over t1")
    assert(got(1) == batchOverUnion(t1 ++ t2), "trigger 2 ≡ batch over t1 ∪ t2")
    assert(got(2) == batchOverUnion(t1 ++ t2 ++ t3),
      "trigger 3 ≡ batch over t1 ∪ t2 ∪ t3")
    // the power story: no early trigger decides alone, the
    // accumulated traffic does — and only in the drifted segment
    def fwerRejects(battery: Seq[Seq[Any]]) =
      battery.collect { case r if r(9) == true => (r(0), r(1)) }
    val aloneT3 = fwerRejects(rows(graft.api.Ops.governanceBatteryByGroup(
      baselineRows.toDF("g", "v"), t3.toDF("g", "v"), "g", col("v"), col("v"))))
    val cumT3 = fwerRejects(got(2))
    assert(cumT3.nonEmpty && cumT3.forall(_._2 == "g2"),
      s"the accumulated battery must fire in the drifted segment only: $cumT3")
    assert(cumT3.size >= aloneT3.size,
      s"cumulative must never be weaker than the per-trigger battery ($cumT3 vs $aloneT3)")
  }

  test("groupSequentialIngestStream: trigger N's readout ≡ batch groupSequential over union(triggers 1..N)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    // looks arrive over three triggers; the shift only reaches
    // significance once look 3's traffic has been absorbed
    val t1 = (1 to 30).flatMap(i => Seq(("A", 100.0 + (i % 7), 1),
      ("B", 100.0 + ((i + 3) % 7), 1)))
    val t2 = (1 to 30).flatMap(i => Seq(("A", 100.0 + (i % 7), 2),
      ("B", 100.5 + ((i + 3) % 7), 2)))
    val t3 = (1 to 30).flatMap(i => Seq(("A", 100.0 + (i % 7), 3),
      ("B", 140.0 + ((i + 3) % 7), 3)))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.orderBy(col("look")).collect().map(_.toSeq.toSeq).toSeq
    val stream = MemoryStream[(String, Double, Int)]
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    val q = Streams.groupSequentialIngestStream(
      stream.toDF().toDF("arm", "v", "look"),
      col("arm"), col("v"), col("look"), looks = 3, spending = "obf")(
      r => { got += rows(r); () })
    try {
      stream.addData(t1); q.processAllAvailable()
      stream.addData(t2); q.processAllAvailable()
      stream.addData(t3); q.processAllAvailable()
    } finally q.stop()
    assert(got.size == 3, "one readout per trigger")
    def batchOverUnion(cur: Seq[(String, Double, Int)]) =
      rows(graft.api.Ops.groupSequential(cur.toDF("arm", "v", "look"),
        col("arm"), col("v"), col("look"), 3, "obf"))
    assert(got(0) == batchOverUnion(t1), "trigger 1 ≡ batch over t1")
    assert(got(1) == batchOverUnion(t1 ++ t2), "trigger 2 ≡ batch over t1 ∪ t2")
    assert(got(2) == batchOverUnion(t1 ++ t2 ++ t3),
      "trigger 3 ≡ batch over t1 ∪ t2 ∪ t3")
    // the monitoring story: no stop until look 3's traffic lands
    def stops(b: Seq[Seq[Any]]) = b.map(_.last)
    assert(stops(got(1)).forall(_ == "continue"),
      s"calm looks must continue: ${got(1)}")
    assert(stops(got(2)).contains("reject"),
      s"the planted look-3 shift must stop the trial: ${got(2)}")
  }

  test("PreparedGovernance: absorb ≡ prepare over the union, save/load round-trips, guards") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val aRows = Seq(("g1", 10L), ("g1", 20L), ("g2", 30L)).toDF("g", "v")
    val bRows = Seq(("g1", 15L), ("g2", 30L), ("g2", 45L)).toDF("g", "v")
    val absorbed = graft.api.Ops.prepareGovernance(aRows, "g", col("v"), col("v"))
      .absorb(bRows, col("v"), col("v"))
    val direct = graft.api.Ops.prepareGovernance(aRows.unionByName(bRows),
      "g", col("v"), col("v"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toSeq).toSet
    assert(canon(absorbed.moments) == canon(direct.moments),
      "absorbed moments ≡ union moments")
    assert(canon(absorbed.ranks) == canon(direct.ranks),
      "absorbed ranks ≡ union ranks")
    val dir = java.nio.file.Files.createTempDirectory("gov_artifact").toString
    absorbed.save(dir)
    val loaded = graft.api.Ops.loadGovernance(spark, dir)
    assert(loaded.group == "g" && loaded.bucketWidth == 1L && loaded.reliable)
    assert(canon(loaded.moments) == canon(absorbed.moments) &&
      canon(loaded.ranks) == canon(absorbed.ranks), "save/load round-trip")
    // mixed-resolution or mixed-segment compares are refused
    val wide = graft.api.Ops.prepareGovernance(bRows, "g", col("v"), col("v"),
      bucketWidth = 10L)
    intercept[IllegalArgumentException] {
      graft.api.Ops.governanceBatteryFromPrepared(absorbed, wide)
    }
    val other = graft.api.Ops.prepareGovernance(
      Seq(("x", 1L)).toDF("h", "v"), "h", col("v"), col("v"))
    intercept[IllegalArgumentException] {
      graft.api.Ops.governanceBatteryFromPrepared(absorbed, other)
    }
  }

  test("recommendStream serves per-trigger top-N ≡ batch recommendTopN against the frozen sims") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sims = Seq(
      (10L, 30L, 0.5), (30L, 10L, 0.5),
      (20L, 30L, 0.25), (30L, 20L, 0.25),
      (10L, 20L, 0.9), (20L, 10L, 0.9))
      .toDF("item", "other", "cosine")
    // each trigger carries FULL baskets (the stateless contract)
    val t1 = Seq((1L, 10L), (1L, 20L))
    val t2 = Seq((2L, 10L))
    val stream = MemoryStream[(Long, Long)]
    val got = scala.collection.mutable.ArrayBuffer.empty[Set[Seq[Any]]]
    val query = Streams.recommendStream(stream.toDF().toDF("u", "it"),
      "u", "it", sims, n = 2,
      r => { got += r.collect().map(_.toSeq.toSeq).toSet; () })
    try {
      stream.addData(t1); query.processAllAvailable()
      stream.addData(t2); query.processAllAvailable()
    } finally query.stop()
    assert(got.size == 2, "one recommendation frame per trigger")
    def batch(rows: Seq[(Long, Long)]): Set[Seq[Any]] =
      graft.api.Ops.recommendTopN(rows.toDF("u", "it"), "u", "it", sims, n = 2)
        .collect().map(_.toSeq.toSeq).toSet
    assert(got(0) == batch(t1), "trigger 1 ≡ batch recommendTopN")
    assert(got(1) == batch(t2), "trigger 2 ≡ batch recommendTopN")
    assert(got(0).nonEmpty && got(1).nonEmpty)
  }

  test("changepointStream locates per-trigger shifts ≡ batch changepointPerKey") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // full series per trigger (the stateless contract)
    val t1 = Seq(("u1", 1L, "2024-01-01 00:00:01", 1.00),
      ("u1", 2L, "2024-01-01 00:00:02", 1.00),
      ("u1", 3L, "2024-01-01 00:00:03", 9.00))
    val t2 = t1 ++ Seq(("u1", 4L, "2024-01-01 00:00:04", 9.00))
    val stream = MemoryStream[(String, Long, String, Double)]
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    val query = Streams.changepointStream(
      shape(stream.toDF().toDF("k", "id", "tss", "v")),
      "k", "ts", "id", col("v"),
      r => { got += r.collect().map(_.toSeq.toSeq).toSeq; () })
    try {
      stream.addData(t1: _*); query.processAllAvailable()
      stream.addData(t2: _*); query.processAllAvailable()
    } finally query.stop()
    assert(got.size == 2)
    def batch(rows: Seq[(String, Long, String, Double)]) =
      graft.api.Ops.changepointPerKey(shape(rows.toDF("k", "id", "tss", "v")),
        "k", "ts", "id", col("v")).collect().map(_.toSeq.toSeq).toSeq
    assert(got(0) == batch(t1), "trigger 1 ≡ batch changepoint")
    assert(got(1) == batch(t2), "trigger 2 ≡ batch changepoint")
  }

  test("attributionStream reproduces batch last-touch credits across a trigger split") {
    import spark.implicits._
    import graft.api.Ops._
    implicit val sqlCtx = spark.sqlContext
    val ordered = eventSeq.sortBy(e => (e.ts.getTime, e.event_id))
    val (b1, b2) = ordered.splitAt(ordered.size / 2)
    val wUs = 7L * 24 * 3600 * 1000000L
    val stream = MemoryStream[Event]
    val query = Streams.attributionStream(stream.toDS(), "purchase",
        Seq("click", "view"), wUs)
      .writeStream.format("memory").queryName("attr_out").outputMode("append").start()
    try {
      stream.addData(b1); query.processAllAvailable()
      stream.addData(b2); query.processAllAvailable()
      val streamed = spark.table("attr_out").collect()
        .map(r => r.getLong(0) -> ((Option(r.get(2)).map(_.toString),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
      val batch = Tables(spark, sfDir).events
        .lastTouchAttribution("user_id", "ts", "event_id", "event_type",
          "purchase", Seq("click", "view"), wUs)
        .select(col("event_id"), col("channel"), col("touch_us"), col("touch_gap_us"))
        .collect()
        .map(r => r.getLong(0) -> ((Option(r.get(1)).map(_.toString),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
      assert(streamed.size == batch.size,
        s"every conversion must emit exactly once (stream ${streamed.size} vs batch ${batch.size})")
      assert(streamed == batch,
        "streamed credits must equal the batch per-conversion rows")
    } finally query.stop()
  }

  test("attributionStream in-order gate: a retro touch cannot re-credit, drops counted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, tUs: Long, typ: String) =
      Streams.Event(id, new java.sql.Timestamp(tUs / 1000), 1L, typ, 1.00)
    val acc = spark.sparkContext.longAccumulator("attr_late_test")
    val stream = MemoryStream[Streams.Event]
    val query = Streams.attributionStream(stream.toDS(), "purchase",
        Seq("click"), windowUs = 1000000000L, lateDrops = Some(acc))
      .writeStream.format("memory").queryName("attr_late_out").outputMode("append").start()
    try {
      stream.addData(Seq(ev(1, 10000000L, "view2"), ev(2, 30000000L, "purchase")))
      query.processAllAvailable()
      // a retro click at t=20s lands behind the 30s high-water mark:
      // the purchase already emitted as direct and must not re-credit
      stream.addData(Seq(ev(3, 20000000L, "click"),
        ev(4, 40000000L, "click"), ev(5, 50000000L, "purchase")))
      query.processAllAvailable()
      val rows = spark.table("attr_late_out").collect()
        .map(r => r.getLong(0) -> Option(r.get(2)).map(_.toString)).toMap
      assert(rows == Map(2L -> None, 5L -> Some("click")),
        s"the first purchase stays direct, the second credits the in-order click (got $rows)")
      assert(acc.value == 1L, s"the retro touch must be counted (got ${acc.value})")
    } finally query.stop()
  }

  test("intervalCoverageStream: latest snapshot equals batch q147 at each boundary; late drops") {
    import spark.implicits._
    import graft.api.Ops._
    implicit val sqlCtx = spark.sqlContext
    val t1 = Seq(Streams.Interval(1L, 0L, 10L), Streams.Interval(1L, 5L, 7L),
      Streams.Interval(1L, 9L, 4L)) // invalid: skipped as batch drops it
    val t2 = Seq(Streams.Interval(1L, 10L, 12L), Streams.Interval(1L, 20L, 25L),
      Streams.Interval(2L, 100L, 101L))
    val acc = spark.sparkContext.longAccumulator("cov_late_test")
    val stream = MemoryStream[Streams.Interval]
    val query = Streams.intervalCoverageStream(stream.toDS(), lateDrops = Some(acc))
      .writeStream.format("memory").queryName("cov_out").outputMode("append").start()
    def latest(): Map[Long, Seq[Any]] = spark.table("cov_out").collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.last.toSeq }
    def batchOf(ivs: Seq[Streams.Interval]): Map[Long, Seq[Any]] =
      ivs.map(iv => (iv.key, iv.start_us, iv.end_us)).toDF("k", "s", "e")
        .intervalCoverage("k", col("s"), col("e"))
        .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    try {
      stream.addData(t1); query.processAllAvailable()
      assert(latest() == batchOf(t1), "after trigger 1 the snapshot equals batch")
      stream.addData(t2); query.processAllAvailable()
      assert(latest() == batchOf(t1 ++ t2),
        "after trigger 2 — touching extension + gap island — snapshot equals batch")
      // an interval starting before k1's open island (openStart 20)
      // could bridge folded islands: counted and skipped, no emit
      val before = spark.table("cov_out").count()
      stream.addData(Seq(Streams.Interval(1L, 1L, 3L)))
      query.processAllAvailable()
      assert(acc.value == 1L, s"the retro interval must be counted (got ${acc.value})")
      assert(spark.table("cov_out").count() == before,
        "a late-only trigger emits nothing — the published snapshot stands")
    } finally query.stop()
  }

  test("attributionStream fails LOUDLY on a window-underflowing corrupt timestamp") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // a conversion near Long.MinValue µs makes t − windowUs wrap: the
    // batch ANSI subtraction throws, so the stream must too — a
    // silent wrap would mis-credit (the funnel late-gate lesson)
    val stream = MemoryStream[Streams.Event]
    val query = Streams.attributionStream(stream.toDS(), "purchase",
        Seq("click"), windowUs = 1000000000L)
      .writeStream.format("memory").queryName("attr_ovf_out").outputMode("append").start()
    try {
      stream.addData(Seq(Streams.Event(1L,
        new java.sql.Timestamp(Long.MinValue / 1000 + 1), 1L, "purchase", 1.0)))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        query.processAllAvailable()
      }
      def chain(t: Throwable): Seq[Throwable] =
        Option(t).map(x => x +: chain(x.getCause)).getOrElse(Seq.empty)
      assert(chain(e).exists(_.isInstanceOf[ArithmeticException]),
        s"expected the exact-subtraction overflow to surface (got $e)")
    } finally query.stop()
  }

  test("twapStream: latest snapshot per key equals batch q120 at each trigger boundary") {
    import spark.implicits._
    import graft.api.Ops._
    implicit val sqlCtx = spark.sqlContext
    val ordered = eventSeq.sortBy(e => (e.ts.getTime, e.event_id))
    val (b1, b2) = ordered.splitAt(ordered.size / 2)
    val stream = MemoryStream[Event]
    val query = Streams.twapStream(stream.toDS())
      .writeStream.format("memory").queryName("twap_out").outputMode("append").start()
    def latest(): Map[Long, (Long, Long, Long, Option[Long])] =
      spark.table("twap_out").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Long]))))
        .groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).maxBy(_._1) }
    def batchOf(events: Seq[Event]): Map[Long, (Long, Long, Long, Option[Long])] =
      events.toDS().toDF().twapPerKey("user_id", "ts", "event_id", col("value"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Long])))).toMap
    try {
      stream.addData(b1); query.processAllAvailable()
      assert(latest() == batchOf(b1),
        "mid-stream snapshots must equal batch TWAP over the prefix")
      stream.addData(b2); query.processAllAvailable()
      assert(latest() == batchOf(ordered),
        "final snapshots must equal batch q120 over the whole corpus")
    } finally query.stop()
  }

  test("transitionPairsStream: census equals batch across the trigger bridge; late drops counted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ordered = eventSeq.sortBy(e => (e.ts.getTime, e.event_id))
    val (b1, b2) = ordered.splitAt(ordered.size / 2)
    val acc = spark.sparkContext.longAccumulator("transition_late_test")
    val stream = MemoryStream[Event]
    val query = Streams.transitionPairsStream(stream.toDS(), lateDrops = Some(acc))
      .writeStream.format("memory").queryName("trans_out").outputMode("append").start()
    try {
      stream.addData(b1); query.processAllAvailable()
      stream.addData(b2); query.processAllAvailable()
      val streamed = spark.table("trans_out")
        .groupBy(col("src"), col("dst")).count()
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = Temporal.q121(Tables(spark, sfDir))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed == batch,
        "pair census incl. trigger-bridge pairs must equal batch q121 counts")
      assert(acc.value == 0L)
      // a retro event behind some user's high-water mark: find the
      // corpus's last event and replay one 1us earlier for that user
      val lastE = ordered.last
      stream.addData(Seq(lastE.copy(event_id = lastE.event_id + 1000000000L,
        ts = new java.sql.Timestamp(lastE.ts.getTime - 1000))))
      query.processAllAvailable()
      assert(acc.value == 1L, s"the retro event must be counted (got ${acc.value})")
      val after = spark.table("trans_out")
        .groupBy(col("src"), col("dst")).count()
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(after == batch, "a dropped retro event must not perturb the census")
    } finally query.stop()
  }

  test("cdcApplyStream: triggers fold into the dimension; final equals sequential batch applies") {
    import spark.implicits._
    import graft.api.Ops._
    implicit val sqlCtx = spark.sqlContext
    val base = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("id", "name", "bal")
    val t1 = Seq((1L, "a2", 10.0, "upsert", 2L), (2L, "b", 2.0, "delete", 1L))
    val t2 = Seq((1L, "a3", 11.0, "upsert", 3L), (4L, "d", 4.0, "upsert", 1L))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdcstream_ckpt").toString
    val stream = MemoryStream[(Long, String, Double, String, Long)]
    @volatile var last: Option[org.apache.spark.sql.DataFrame] = None
    val ticks = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = Streams.cdcApplyStream(
      stream.toDS().toDF("id", "name", "bal", "op", "seq"),
      base, "id", "op", "seq", ckpt,
      dim => { last = Some(dim); ticks.incrementAndGet(); () })
    try {
      stream.addData(t1); q.processAllAvailable()
      assert(ticks.get == 1)
      val mid = base.applyChanges(t1.toDF("id", "name", "bal", "op", "seq"), "id", "op", "seq")
      assert(last.get.collect().map(_.toString).sorted.toSeq ==
        mid.collect().map(_.toString).sorted.toSeq,
        "the mid-stream dimension must equal one batch apply")
      stream.addData(t2); q.processAllAvailable()
      assert(ticks.get == 2)
    } finally q.stop()
    val expected = base
      .applyChanges(t1.toDF("id", "name", "bal", "op", "seq"), "id", "op", "seq")
      .applyChanges(t2.toDF("id", "name", "bal", "op", "seq"), "id", "op", "seq")
    assert(last.get.collect().map(_.toString).sorted.toSeq ==
      expected.collect().map(_.toString).sorted.toSeq,
      "the final dimension must equal the sequential batch applies")
  }

  test("Scd1Loop replay: a retried trigger re-applies from the pre-apply dimension; batchId regression fails") {
    import spark.implicits._
    val base = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "bal")
    val c0 = Seq((1L, "a2", 10.0, "upsert", 1L)).toDF("id", "name", "bal", "op", "seq")
    val c1 = Seq((2L, "b", 2.0, "delete", 2L)).toDF("id", "name", "bal", "op", "seq")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_scd1loop_ckpt").toString
    val sunk = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.DataFrame]()
    val loop = Streams.scd1Loop(base, "id", "op", "seq", ckpt, dim => sunk += dim)
    loop.handle(c0, 0L)
    val first = sunk.last.collect().map(_.toString).sorted.toSeq
    // a foreachBatch RETRY re-applies from the retained pre-apply
    // dimension - applyChanges is deterministic, identical result
    loop.handle(c0, 0L)
    assert(sunk.size == 2, "the retry re-emits")
    assert(sunk.last.collect().map(_.toString).sorted.toSeq == first,
      "the retried apply must rebuild the identical dimension")
    loop.handle(c1, 1L)
    val e = intercept[IllegalStateException] { loop.handle(c0, 0L) }
    assert(e.getMessage.contains("wiped"))
    import graft.api.Ops._
    val expected = base.applyChanges(c0, "id", "op", "seq").applyChanges(c1, "id", "op", "seq")
    assert(sunk.last.collect().map(_.toString).sorted.toSeq ==
      expected.collect().map(_.toString).sorted.toSeq)
  }

  test("dqStream: each trigger's report equals batch checkConstraints of that trigger") {
    import spark.implicits._
    import graft.data.Quality._
    implicit val sqlCtx = spark.sqlContext
    val parent = Seq(1L, 2L).toDF("pk")
    val cs = Seq(
      NotNull("v", "nn"),
      InRange("v", 0.0, 10.0, "rng"),
      ForeignKey(Seq("k"), parent, Seq("pk"), "fk"))
    val t1 = Seq((1L, Some(5.0)), (9L, Some(50.0)))  // one orphan, one out-of-range
    val t2 = Seq((2L, None))                          // one null
    val stream = MemoryStream[(Long, Option[Double])]
    val reports = scala.collection.mutable.Map[Long, Seq[String]]()
    val q = Streams.dqStream(stream.toDS().toDF("k", "v"), cs,
      (report, id) => { reports(id) = report.collect().map(_.toString).sorted.toSeq; () })
    try {
      stream.addData(t1); q.processAllAvailable()
      stream.addData(t2); q.processAllAvailable()
    } finally q.stop()
    def batchOf(rows: Seq[(Long, Option[Double])]): Seq[String] =
      graft.data.Quality.checkConstraints(rows.toDF("k", "v"), cs)
        .collect().map(_.toString).sorted.toSeq
    assert(reports(0L) == batchOf(t1), "trigger-1 report must equal the batch gate")
    assert(reports(1L) == batchOf(t2), "trigger-2 report must equal the batch gate")
  }

  test("seasonalScoreStream: per-trigger scoring against the frozen baseline; unreliable refused") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t = Tables(spark, sfDir)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_seasonal_ckpt").toString
    val prepared = graft.api.Ops.prepareSeasonal(
      t.events, "event_type", "ts", col("value"), Some(ckpt))
    // unreliable prep refuses up front
    val e = intercept[IllegalArgumentException] {
      Streams.seasonalScoreStream(
        MemoryStream[Event].toDS().toDF(), 
        graft.api.Ops.prepareSeasonal(t.events, "event_type", "ts", col("value")),
        "ts", col("value"), (_, _) => ())
    }
    assert(e.getMessage.contains("reliable"))
    val feed = eventSeq.take(400)
    val (b1, b2) = feed.splitAt(200)
    val stream = MemoryStream[Event]
    val got = scala.collection.mutable.Map[Long, Seq[String]]()
    val q = Streams.seasonalScoreStream(stream.toDS().toDF(), prepared, "ts", col("value"),
      (scored, id) => { got(id) = scored.select("event_id", "seasonal_num", "residual_millicents")
        .collect().map(_.toString).sorted.toSeq; () })
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()
    def batchOf(rows: Seq[Event]): Seq[String] =
      prepared.against(spark.createDataset(rows).toDF(), "ts", col("value"))
        .select("event_id", "seasonal_num", "residual_millicents")
        .collect().map(_.toString).sorted.toSeq
    assert(got(0L) == batchOf(b1), "trigger 1 must equal the batch scoring of its rows")
    assert(got(1L) == batchOf(b2), "trigger 2 must equal the batch scoring of its rows")
  }
}
