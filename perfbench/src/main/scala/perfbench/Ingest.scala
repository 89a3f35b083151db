package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel

import graft.data.{AvroBinary, AvroFiles, AvroJson, AvroRegistry, JsonF}

/** Seeded nested records for the Avro and JSON codecs: records, arrays,
  * maps, a multi-branch union, an enum, decimal and timestamp logicals
  * and defaults. Every value is a hash of (seed, row, field), so a seed
  * fixes the data regardless of partitioning. */
final class Records(spark: SparkSession, seed: Long, n: Long, files: Int) {
  private def h(salt: Int, extra: Column*): Column =
    pmod(xxhash64((Seq(lit(seed), lit(salt), col("id")) ++ extra): _*), lit(1L << 40))

  private def pick(salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (h(salt) % xs.size + 1).cast("int"))

  /** Rows shaped as `AvroSchemas.toSparkType` of [[Ingest.WriterSchema]]. */
  def frame: DataFrame = {
    val branch = h(8) % 3
    spark.range(0, n, 1, files).select(
      col("id"),
      pick(1, Ingest.Kinds).as("kind"),
      ((h(2) % 10000000L) / lit(100)).cast(DecimalType(12, 2)).as("amount"),
      timestamp_micros(lit(1704067200000000L) + h(3) % (86400L * 1000000L * 30)).as("at"),
      struct(concat(lit("user"), (h(4) % 5000).cast("string")).as("name"),
        when(h(5) % 4 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("u"), (h(5) % 997).cast("string"), lit("@example.org"))).as("email"),
        ((h(6) % 100000) / 64.0).as("score")).as("user"),
      filter(transform(sequence(lit(1), lit(4)), i => concat(lit("t"), (h(7, i) % 50).cast("string"))),
        (_, i) => i < h(9) % 5).as("tags"),
      map_from_arrays(slice(array(lit("a"), lit("b"), lit("c")), lit(1), (h(10) % 4).cast("int")),
        slice(array(h(11), h(12), h(13)), lit(1), (h(10) % 4).cast("int"))).as("attrs"),
      when(h(14) % 10 === 0, lit(null)).otherwise(struct(
        when(branch === 0, h(15)).as("member0"),
        when(branch === 1, concat(lit("s"), (h(15) % 1000).cast("string"))).as("member1"),
        when(branch === 2, (h(15) % 1000) / 8.0).as("member2"))).as("payload"),
      filter(transform(sequence(lit(1), lit(3)), i => struct(
        concat(lit("sku"), (h(16, i) % 300).cast("string")).as("sku"),
        (h(17, i) % 20 + 1).cast("int").as("qty"))), (_, i) => i < h(18) % 4).as("items"))
  }

  /** JSON datums for [[Ingest.JsonSchema]]; `violation` rows carry a field
    * the schema does not declare inside a nested record. */
  def json(rows: Long, violationShare: Double): DataFrame = {
    val bad = h(20) % 1000000 < lit((violationShare * 1000000).toLong)
    val payload = when(h(21) % 3 === 0, lit("null"))
      .when(h(21) % 3 === 1, format_string("{\"long\": %d}", h(22)))
      .otherwise(format_string("{\"string\": \"p%d\"}", h(22) % 1000))
    spark.range(0, rows, 1, files).select(col("id"), bad.as("violation"), concat(
      lit("{\"id\": "), col("id").cast("string"),
      lit(", \"kind\": \""), pick(23, Ingest.Kinds), lit("\""),
      lit(", \"amount\": "), format_string("%d.%02d", h(24) % 100000, h(25) % 100),
      lit(", \"user\": {\"name\": \"user"), (h(26) % 5000).cast("string"),
      lit("\", \"score\": "), ((h(27) % 100000) / 64.0).cast("string"),
      when(bad, lit(", \"nickname\": \"x\"")).otherwise(lit("")), lit("}"),
      lit(", \"tags\": ["), concat_ws(", ", filter(transform(sequence(lit(1), lit(3)),
        i => concat(lit("\"t"), (h(28, i) % 50).cast("string"), lit("\""))),
        (_, i) => i < h(29) % 4)), lit("]"),
      lit(", \"attrs\": {\"a\": "), (h(30) % 100).cast("string"), lit("}"),
      lit(", \"payload\": "), payload, lit("}")).as("json"))
  }
}

/** The schema-first data layer in both directions: Avro binary datums,
  * container files and registry-framed messages written, then read back
  * under an evolved reader schema, plus validating JSON decode and JSON
  * schema inference. A codec change that speeds reads at the cost of
  * writes shows here. There is no shuffle. */
final class Ingest(spark: SparkSession, seed: Long, work: String) extends Workload {
  import Ingest._

  private val provider = AvroRegistry.InMemoryProvider(Map(SchemaId -> WriterSchema))
  private var records: DataFrame = _
  private var json: DataFrame = _
  private var planted = 0L
  private var lastViolations = -1L
  private var bytesWritten = 0L
  private var framed: DataFrame = _
  private val dir = s"$work/avro"

  def setup(): Unit = {
    val gen = new Records(spark, seed, N, Files)
    records = gen.frame.persist(StorageLevel.MEMORY_ONLY)
    records.count()
    json = gen.json(JsonN, ViolationShare).persist(StorageLevel.MEMORY_ONLY)
    planted = json.filter(col("violation")).count()
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def part(tr: Tracer, name: String, parts: collection.mutable.Map[String, Double])(
      body: => Unit): Unit = {
    val t0 = System.nanoTime()
    tr.span("data", name)(body)
    parts(name) = (System.nanoTime() - t0) / 1e9
  }

  /** One write half and one read half; true when every count checks. */
  private def pass(tr: Tracer): (Boolean, Map[String, Double]) = {
    val t = collection.mutable.LinkedHashMap.empty[String, Double]
    if (framed != null) framed.unpersist(blocking = true)
    part(tr, "encode", t)(noop(AvroBinary.encodeAs(records, WriterSchema)))
    part(tr, "framed_encode", t) {
      framed = AvroRegistry.encodeFramed(records, SchemaId, provider, keepCols = Seq("id"))
        .persist(StorageLevel.MEMORY_ONLY)
      framed.count()
    }
    part(tr, "file_write", t)(AvroFiles.writeAs(records, dir, WriterSchema))
    bytesWritten = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".avro")).map(_.length).sum
    var fileRows = 0L
    part(tr, "file_read", t) {
      fileRows = AvroFiles.read(spark, dir, ReaderSchema).count()
    }
    part(tr, "framed_decode", t)(noop(
      AvroRegistry.decodeFramed(framed, "avro_framed", provider, ReaderSchema)))
    part(tr, "json_decode", t) {
      lastViolations = AvroJson.decode(json, "json", JsonSchema, mode = AvroJson.Permissive,
        records = AvroJson.Strict).filter(col("decoded").isNull).count()
      noop(AvroJson.decode(json.filter(!col("violation")), "json", JsonSchema,
        mode = AvroJson.FailFast, records = AvroJson.Strict))
    }
    part(tr, "json_infer", t) {
      val clean = json.filter(!col("violation"))
      val st = JsonF.inferSchema(clean, "json")
      noop(JsonF.flatten(clean.withColumn("p", from_json(col("json"), st)), "p"))
    }
    val write = t("encode") + t("framed_encode") + t("file_write")
    val read = t.values.sum - write
    (fileRows == N && lastViolations == planted, t.toMap ++ Map("write" -> write, "read" -> read))
  }

  /** C2 compilation keeps speeding every codec up for about eight passes:
    * the first pass runs about 4x the settled time, the fourth about 1.3x.
    * Three untimed passes take the slowest out of the loop; the loop's
    * median over its passes absorbs the rest, and costs less run time than
    * warming up until the passes settle. */
  override def warmupRounds: Int = 3

  def round(tr: Tracer): Seq[Op] = {
    tr.newRequest()
    val t0 = System.nanoTime()
    val (ok, parts) = tr.span("client", "pass")(pass(tr))
    Seq(Op("pass", (System.nanoTime() - t0) / 1e9, N, ok, parts))
  }

  def layers(rep: TraceReport, ops: Seq[Op]): Map[String, Double] = {
    val keys = Seq("encode", "framed_encode", "file_write", "file_read", "framed_decode",
      "json_decode", "json_infer")
    keys.map(k => s"data.${k}_s" -> ops.map(_.parts(k)).sum / ops.size).toMap ++ Map(
      "data.bytes_written" -> bytesWritten.toDouble,
      "data.bytes_per_record" -> bytesWritten.toDouble / N,
      "data.violations" -> lastViolations.toDouble)
  }

  /** Rows rendered as sorted JSON lines, for exact multiset equality. */
  private def lines(df: DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.sorted.map(col): _*))).collect().map(_.getString(0)).sorted.toSeq

  def checks(): Seq[(String, Boolean, String)] = {
    // what the evolved reader schema must yield: the map is skipped and
    // the added field takes its default
    val expected = lines(records.drop("attrs").withColumn("channel", lit("web")))
    val fromFiles = lines(AvroFiles.read(spark, dir, ReaderSchema))
    val fromFrames = lines(AvroRegistry.decodeFramed(framed, "avro_framed", provider, ReaderSchema))
    val binary = lines(AvroBinary.decode(AvroBinary.encodeAs(records, WriterSchema), "avro_bin",
      WriterSchema))
    Seq(
      ("container files read back under the reader schema", fromFiles == expected,
        s"${fromFiles.size} of ${expected.size} records"),
      ("framed messages decode under the reader schema", fromFrames == expected,
        s"${fromFrames.size} records"),
      ("binary datums round-trip", binary == lines(records), s"${binary.size} records"),
      ("Strict decode flags exactly the planted violations", lastViolations == planted,
        s"$lastViolations of $planted planted"))
  }

  def facts: Map[String, Any] = Map("unit" -> "records", "records" -> N, "json_datums" -> JsonN,
    "files" -> Files,
    "violation_share" -> ViolationShare, "planted_violations" -> planted)

  override def teardown(): Unit = Seq(records, json, framed).filter(_ != null)
    .foreach(_.unpersist(blocking = true))
}

object Ingest {
  val N = 40000L
  /** JSON datums per pass: a quarter of the records, so JSON decoding does
    * not outweigh the Avro codecs. */
  val JsonN = 10000L
  /** More input files than cores, so the codecs run as parallel tasks. */
  val Files = 8
  val ViolationShare = 0.05
  val SchemaId = 7
  val Kinds = Seq("CLICK", "VIEW", "BUY", "SHARE")

  val WriterSchema: String =
    """{"type": "record", "name": "Event", "namespace": "perfbench", "fields": [
      |{"name": "id", "type": "long"},
      |{"name": "kind", "type": {"type": "enum", "name": "Kind", "symbols": ["CLICK", "VIEW", "BUY", "SHARE"]}},
      |{"name": "amount", "type": {"type": "bytes", "logicalType": "decimal", "precision": 12, "scale": 2}},
      |{"name": "at", "type": {"type": "long", "logicalType": "timestamp-micros"}},
      |{"name": "user", "type": {"type": "record", "name": "User", "fields": [
      |  {"name": "name", "type": "string"},
      |  {"name": "email", "type": ["null", "string"], "default": null},
      |  {"name": "score", "type": "double"}]}},
      |{"name": "tags", "type": {"type": "array", "items": "string"}},
      |{"name": "attrs", "type": {"type": "map", "values": "long"}},
      |{"name": "payload", "type": ["null", "long", "string", "double"], "default": null},
      |{"name": "items", "type": {"type": "array", "items": {"type": "record", "name": "Item",
      |  "fields": [{"name": "sku", "type": "string"}, {"name": "qty", "type": "int"}]}}}]}""".stripMargin

  /** The writer schema evolved: `attrs` removed, `channel` added with a default. */
  val ReaderSchema: String = WriterSchema
    .replace("""{"name": "attrs", "type": {"type": "map", "values": "long"}},""", "")
    .replace("""{"name": "id", "type": "long"},""",
      """{"name": "id", "type": "long"}, {"name": "channel", "type": "string", "default": "web"},""")

  val JsonSchema: String =
    """{"type": "record", "name": "Click", "namespace": "perfbench", "fields": [
      |{"name": "id", "type": "long"},
      |{"name": "kind", "type": {"type": "enum", "name": "Kind", "symbols": ["CLICK", "VIEW", "BUY", "SHARE"]}},
      |{"name": "amount", "type": {"type": "bytes", "logicalType": "decimal", "precision": 12, "scale": 2}},
      |{"name": "user", "type": {"type": "record", "name": "User", "fields": [
      |  {"name": "name", "type": "string"}, {"name": "score", "type": "double"}]}},
      |{"name": "tags", "type": {"type": "array", "items": "string"}},
      |{"name": "attrs", "type": {"type": "map", "values": "long"}},
      |{"name": "payload", "type": ["null", "long", "string"]},
      |{"name": "note", "type": ["null", "string"], "default": null}]}""".stripMargin
}
