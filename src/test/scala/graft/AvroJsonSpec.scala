package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.data.{AvroJson, AvroSchemas}

/** Validating Avro JSON datum decode (reference AvroJsonFAlgebras):
  * union branch-name wrappers, enum/fixed validation, recursive
  * defaults — the semantics VERDICT.md round 1 flagged as missing.
  */
class AvroJsonSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def decodeOne(schema: String, json: String,
                        mode: AvroJson.Mode = AvroJson.FailFast): org.apache.spark.sql.Row =
    AvroJson.decode(Seq(json).toDF("j"), "j", schema, mode = mode)
      .select("decoded.*").collect().head

  private def failsWith(msg: String)(body: => Any): Unit = {
    val e = intercept[Exception](body)
    def texts(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ texts(t.getCause)
    assert(texts(e).exists(_.contains(msg)),
      s"expected failure containing '$msg', got: ${texts(e).mkString(" | ")}")
  }

  test("Strict mode rejects unknown record fields; Inclusive accepts them") {
    val s = """{"type": "record", "name": "S", "fields": [{"name": "a", "type": "int"}]}"""
    // Inclusive (the default, = pre-existing behavior): extra field ignored
    assert(decodeOne(s, """{"a": 1, "zz": 2}""").getInt(0) == 1)
    failsWith("StrictModeError") {
      AvroJson.decode(Seq("""{"a": 1, "zz": 2}""").toDF("j"), "j", s,
        records = AvroJson.Strict).select("decoded.*").collect()
    }
    // a conforming datum still decodes under Strict
    assert(AvroJson.decode(Seq("""{"a": 1}""").toDF("j"), "j", s,
      records = AvroJson.Strict).select("decoded.*").collect().head.getInt(0) == 1)
  }

  test("Strict mode walks records nested inside arrays and unions") {
    val s =
      """{"type": "record", "name": "N", "fields": [
        |  {"name": "pts", "type": {"type": "array", "items":
        |     {"type": "record", "name": "P", "fields": [{"name": "x", "type": "int"}]}}},
        |  {"name": "u", "type": ["null",
        |     {"type": "record", "name": "Q", "fields": [{"name": "y", "type": "int"}]}]}
        |]}""".stripMargin
    def strict(json: String) =
      AvroJson.decode(Seq(json).toDF("j"), "j", s, records = AvroJson.Strict)
        .select("decoded.*").collect()
    // conforming: nested records at every position
    strict("""{"pts": [{"x": 1}, {"x": 2}], "u": {"y": 3}}""")
    failsWith("StrictModeError") { strict("""{"pts": [{"x": 1}, {"x": 2, "w": 9}], "u": null}""") }
    failsWith("StrictModeError") { strict("""{"pts": [], "u": {"y": 3, "extra": true}}""") }
  }

  test("Strict + Permissive nulls the offending datum instead of failing") {
    val s = """{"type": "record", "name": "S2", "fields": [{"name": "a", "type": "int"}]}"""
    val rows = AvroJson.decode(
      Seq("""{"a": 1}""", """{"a": 2, "zz": 3}""").toDF("j"), "j", s,
      mode = AvroJson.Permissive, records = AvroJson.Strict)
      .select(org.apache.spark.sql.functions.col("decoded")).collect()
    assert(rows(0).getStruct(0).getInt(0) == 1)
    assert(rows(1).isNullAt(0), "the non-conforming datum must null out in Permissive")
  }

  test("non-record top-level schema is rejected with a clear error") {
    failsWith("requires a RECORD top-level schema") {
      AvroJson.decode(Seq("5").toDF("j"), "j", """["null", "int", "string"]""")
    }
  }

  private val unionSchema =
    """{"type": "record", "name": "U", "fields": [
      |  {"name": "v", "type": ["null", "int", "string"]}]}""".stripMargin

  test("union datum decodes by branch name (int and string)") {
    val asInt = decodeOne(unionSchema, """{"v": {"int": 5}}""")
    val u1 = asInt.getStruct(0)
    assert(u1.getInt(0) == 5 && u1.isNullAt(1))
    val asStr = decodeOne(unionSchema, """{"v": {"string": "hi"}}""")
    val u2 = asStr.getStruct(0)
    assert(u2.isNullAt(0) && u2.getString(1) == "hi")
  }

  test("union null datum decodes to null when union has a null branch") {
    assert(decodeOne(unionSchema, """{"v": null}""").isNullAt(0))
  }

  test("unknown union branch raises UnionResolutionError in FailFast") {
    failsWith("UnionResolutionError") {
      decodeOne(unionSchema, """{"v": {"long": 5}}""")
    }
  }

  test("non-object union datum raises UnionResolutionError in FailFast") {
    failsWith("UnionResolutionError") {
      decodeOne(unionSchema, """{"v": 5}""")
    }
  }

  test("unknown union branch nulls out in Permissive") {
    assert(decodeOne(unionSchema, """{"v": {"long": 5}}""", AvroJson.Permissive).isNullAt(0))
  }

  test("record union branch selects by full name") {
    val s =
      """{"type": "record", "name": "R", "namespace": "t", "fields": [
        |  {"name": "v", "type": ["null",
        |     {"type": "record", "name": "Point", "namespace": "geo",
        |      "fields": [{"name": "x", "type": "int"}, {"name": "y", "type": "int"}]},
        |     "string"]}]}""".stripMargin
    val r = decodeOne(s, """{"v": {"geo.Point": {"x": 1, "y": 2}}}""")
    val member0 = r.getStruct(0).getStruct(0)
    assert(member0.getInt(0) == 1 && member0.getInt(1) == 2)
    failsWith("UnionResolutionError") {
      decodeOne(s, """{"v": {"Point": {"x": 1, "y": 2}}}""")
    }
  }

  test("array and map union branches use their type-kind selectors") {
    val s =
      """{"type": "record", "name": "A", "fields": [
        |  {"name": "v", "type": [{"type": "array", "items": "int"},
        |                         {"type": "map", "values": "long"}]}]}""".stripMargin
    val asArr = decodeOne(s, """{"v": {"array": [1, 2, 3]}}""").getStruct(0)
    assert(asArr.getSeq[Int](0) == Seq(1, 2, 3))
    val asMap = decodeOne(s, """{"v": {"map": {"a": 7}}}""").getStruct(0)
    assert(asMap.getMap[String, Long](1) == Map("a" -> 7L))
  }

  private val enumSchema =
    """{"type": "record", "name": "E", "fields": [
      |  {"name": "kind", "type": {"type": "enum", "name": "Kind", "symbols": ["A", "B"]}}]}""".stripMargin

  test("enum accepts declared symbols and rejects unknown ones") {
    assert(decodeOne(enumSchema, """{"kind": "A"}""").getString(0) == "A")
    failsWith("EnumError") { decodeOne(enumSchema, """{"kind": "C"}""") }
    assert(decodeOne(enumSchema, """{"kind": "C"}""", AvroJson.Permissive).isNullAt(0))
  }

  private val fixedSchema =
    """{"type": "record", "name": "F", "fields": [
      |  {"name": "h", "type": {"type": "fixed", "name": "H4", "size": 4}}]}""".stripMargin

  test("fixed validates the decoded byte length") {
    // base64("ABCD") = "QUJDRA=="  (4 bytes — valid)
    val ok = decodeOne(fixedSchema, """{"h": "QUJDRA=="}""")
    assert(ok.getAs[Array[Byte]](0).toSeq == "ABCD".getBytes.toSeq)
    // base64("ABC") = "QUJD" (3 bytes — FixedError)
    failsWith("FixedError") { decodeOne(fixedSchema, """{"h": "QUJD"}""") }
    assert(decodeOne(fixedSchema, """{"h": "QUJD"}""", AvroJson.Permissive).isNullAt(0))
  }

  test("bytes decode from base64") {
    val s = """{"type": "record", "name": "B", "fields": [
              |  {"name": "p", "type": "bytes"}]}""".stripMargin
    val r = decodeOne(s, """{"p": "QUJDRA=="}""")
    assert(r.getAs[Array[Byte]](0).toSeq == "ABCD".getBytes.toSeq)
  }

  private def decodeIso(schema: String, json: String,
                        mode: AvroJson.Mode = AvroJson.FailFast): org.apache.spark.sql.Row =
    AvroJson.decode(Seq(json).toDF("j"), "j", schema, mode = mode,
      binary = AvroJson.IsoByteString).select("decoded.*").collect().head

  test("IsoByteString: bytes decode from Avro's ISO-8859-1 rendering") {
    val s = """{"type": "record", "name": "B", "fields": [
              |  {"name": "p", "type": "bytes"}]}""".stripMargin
    // bytes 0x41 0x00 0xFF as Avro JSON writes them: "A\u0000\u00ff"
    val r = decodeIso(s, "{\"p\": \"A\\u0000\\u00ff\"}")
    assert(r.getAs[Array[Byte]](0).toSeq == Seq[Byte](0x41, 0x00, -1))
    // a code point above 255 cannot be a byte
    failsWith("ByteStringError") { decodeIso(s, "{\"p\": \"A\\u20ac\"}") }
    assert(decodeIso(s, "{\"p\": \"A\\u20ac\"}", AvroJson.Permissive).isNullAt(0))
  }

  test("IsoByteString: decimal bytes decode the two's-complement unscaled value") {
    val s = """{"type": "record", "name": "D", "fields": [
              |  {"name": "amt", "type": {"type": "bytes",
              |     "logicalType": "decimal", "precision": 9, "scale": 2}}]}""".stripMargin
    // unscaled -1234 = 0xFB 0x2E → -12.34
    assert(decodeIso(s, "{\"amt\": \"\\u00fb.\"}")
      .getDecimal(0).compareTo(new java.math.BigDecimal("-12.34")) == 0)
    // unscaled 1234 = 0x04 0xD2 → 12.34
    assert(decodeIso(s, "{\"amt\": \"\\u0004\\u00d2\"}")
      .getDecimal(0).compareTo(new java.math.BigDecimal("12.34")) == 0)
    // single byte: unscaled -1 → -0.01
    assert(decodeIso(s, "{\"amt\": \"\\u00ff\"}")
      .getDecimal(0).compareTo(new java.math.BigDecimal("-0.01")) == 0)
    // empty byte string is not a valid unscaled integer
    failsWith("ByteStringError") { decodeIso(s, "{\"amt\": \"\"}") }
  }

  test("IsoByteString: decimal fixed enforces size and sign-extends") {
    val s = """{"type": "record", "name": "DF", "fields": [
              |  {"name": "amt", "type": {"type": "fixed", "name": "Amt", "size": 4,
              |     "logicalType": "decimal", "precision": 9, "scale": 2}}]}""".stripMargin
    // -1234 sign-extended to 4 bytes: 0xFF 0xFF 0xFB 0x2E
    assert(decodeIso(s, "{\"amt\": \"\\u00ff\\u00ff\\u00fb.\"}")
      .getDecimal(0).compareTo(new java.math.BigDecimal("-12.34")) == 0)
    // wrong length for the fixed
    failsWith("ByteStringError") { decodeIso(s, "{\"amt\": \"\\u00fb.\"}") }
  }

  test("nested record default materializes through decode") {
    val s =
      """{"type": "record", "name": "Outer", "fields": [
        |  {"name": "id", "type": "long"},
        |  {"name": "cfg", "type": {"type": "record", "name": "Cfg", "fields": [
        |       {"name": "retries", "type": "int"},
        |       {"name": "region", "type": "string"}]},
        |   "default": {"retries": 3, "region": "eu"}},
        |  {"name": "inner", "type": {"type": "record", "name": "Inn", "fields": [
        |       {"name": "a", "type": "long"},
        |       {"name": "b", "type": "string", "default": "dflt"}]}}]}""".stripMargin
    val r = decodeOne(s, """{"id": 1, "inner": {"a": 9}}""")
    val cfg = r.getStruct(1)
    assert(cfg.getInt(0) == 3 && cfg.getString(1) == "eu",
      "missing record field takes its full record default")
    val inner = r.getStruct(2)
    assert(inner.getLong(0) == 9L && inner.getString(1) == "dflt",
      "default inside a nested record fills when the record is present")
  }

  test("array and map defaults materialize") {
    val s =
      """{"type": "record", "name": "D", "fields": [
        |  {"name": "id", "type": "long"},
        |  {"name": "tags", "type": {"type": "array", "items": "string"}, "default": ["x", "y"]},
        |  {"name": "weights", "type": {"type": "map", "values": "double"}, "default": {"w": 0.5}}]}""".stripMargin
    val r = decodeOne(s, """{"id": 1}""")
    assert(r.getSeq[String](1) == Seq("x", "y"))
    assert(r.getMap[String, Double](2) == Map("w" -> 0.5))
  }

  test("timestamp-micros and date logical types decode from epoch numbers") {
    val s =
      """{"type": "record", "name": "T", "fields": [
        |  {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
        |  {"name": "d", "type": {"type": "int", "logicalType": "date"}}]}""".stripMargin
    val r = decodeOne(s, """{"ts": 86400000000, "d": 1}""")
    assert(r.getTimestamp(0).toInstant == java.time.Instant.parse("1970-01-02T00:00:00Z"))
    assert(r.getDate(1).toLocalDate == java.time.LocalDate.of(1970, 1, 2))
  }

  test("decodeJson keeps its flat-schema behavior (defaults, events.props)") {
    val schema =
      """{"type": "record", "name": "P", "fields": [
        |  {"name": "k", "type": "long"},
        |  {"name": "w", "type": "double", "default": 2.5}]}""".stripMargin
    val df: DataFrame = Seq("""{"k": 1, "w": 9.0}""", """{"k": 2}""").toDF("j")
    val rows = AvroSchemas.decodeJson(df, "j", schema)
      .select("decoded.*").orderBy("k").collect()
    assert(rows(0).getLong(0) == 1 && rows(0).getDouble(1) == 9.0)
    assert(rows(1).getDouble(1) == 2.5)
  }

  // ---- one parse per JSON text ----------------------------------------------

  /** The ingest benchmark's JSON schema: a nested record, an array, a
    * map, a multi-branch union, an enum, a decimal and a default. */
  private val clickSchema =
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

  private def click(id: String, payload: String, extra: String = ""): String =
    s"""{"id": $id, "kind": "VIEW", "amount": 12.34, "user": {"name": "u", "score": 0.5},""" +
      s""" "tags": ["t1", "t2"], "attrs": {"a": 3}, "payload": $payload$extra}"""

  /** Records nested in an array and in a union branch: the Strict walk's
    * per-element check and the union decoder's record re-parse. */
  private val orderSchema =
    """{"type": "record", "name": "Order", "fields": [
      |{"name": "id", "type": "long"},
      |{"name": "lines", "type": {"type": "array", "items": {"type": "record", "name": "Line",
      |  "fields": [{"name": "sku", "type": "string"}, {"name": "qty", "type": "int"}]}}},
      |{"name": "ship", "type": ["null", "string",
      |  {"type": "record", "name": "Addr", "fields": [{"name": "city", "type": "string"}]}]}]}""".stripMargin

  private def jsonParses(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.map(_.collect {
        case j: org.apache.spark.sql.catalyst.expressions.JsonToStructs => j
      }.size).sum
    }.sum

  /** Parse sites per schema: Strict adds one key-map parse per record
    * node, one array parse per array of records and one wrapper parse
    * per union with a record branch. */
  for ((name, schema, datums, lax, strict) <- Seq(
      ("Click", clickSchema,
        Seq(click("1", """{"long": 7}"""), click("2", "null"),
          click("3", """{"string": "s"}""", """, "extra": 1""")), 2, 4),
      ("Order", orderSchema,
        Seq("""{"id": 1, "lines": [{"sku": "a", "qty": 2}], "ship": {"Addr": {"city": "x"}}}""",
          """{"id": 2, "lines": [], "ship": {"string": "pickup"}}""",
          """{"id": 3, "lines": [{"sku": "b", "qty": 1, "extra": 0}], "ship": null}"""), 3, 8));
      mode <- Seq(AvroJson.Permissive, AvroJson.FailFast);
      records <- Seq(AvroJson.Inclusive, AvroJson.Strict)) {
    test(s"$name decode parses each JSON text once ($mode, $records)") {
      // an RDD-backed frame: a local Seq's projection is folded into
      // its LocalRelation while optimizing, leaving no parse to count
      def frame(js: Seq[String]) = spark.sparkContext.parallelize(js, 1).toDF("j")
      val df = frame(datums)
      val decoded = AvroJson.decode(df, "j", schema, mode = mode, records = records)
      val bound = if (records == AvroJson.Strict) strict else lax
      // the two query shapes the ingest benchmark runs: a null count
      // and a noop write of the decoded frame
      val counted = decoded.filter($"decoded".isNull).groupBy().count()
      assert(jsonParses(counted) <= bound, counted.queryExecution.optimizedPlan.toString)
      assert(jsonParses(decoded) <= bound, decoded.queryExecution.optimizedPlan.toString)
      (mode, records) match {
        case (AvroJson.Permissive, AvroJson.Strict) =>
          assert(counted.head().getLong(0) == 1, "exactly the datum with the extra field nulls")
        case (AvroJson.FailFast, AvroJson.Strict) =>
          failsWith("StrictModeError") { decoded.write.format("noop").mode("overwrite").save() }
          // the benchmark's FailFast pass: only the conforming datums
          AvroJson.decode(frame(datums.init), "j", schema, mode = mode, records = records)
            .write.format("noop").mode("overwrite").save()
        case _ =>
          assert(counted.head().getLong(0) == 0)
      }
    }
  }

  test("Order decode: array-of-record and record-branch values survive the binding") {
    val rows = AvroJson.decode(Seq(
      """{"id": 1, "lines": [{"sku": "a", "qty": 2}], "ship": {"Addr": {"city": "x"}}}""",
      """{"id": 2, "lines": [], "ship": {"string": "pickup"}}""").toDF("j"), "j", orderSchema,
      records = AvroJson.Strict).select("decoded.*").orderBy("id").collect()
    assert(rows(0).getSeq[org.apache.spark.sql.Row](1).map(r => (r.getString(0), r.getInt(1))) ==
      Seq(("a", 2)))
    assert(rows(0).getStruct(2).isNullAt(0) && rows(0).getStruct(2).getStruct(1).getString(0) == "x")
    assert(rows(1).getSeq[org.apache.spark.sql.Row](1).isEmpty)
    assert(rows(1).getStruct(2).getString(0) == "pickup" && rows(1).getStruct(2).isNullAt(1))
  }

  test("Strict checks undeclared fields before the typed parse") {
    // "id" cannot parse as a long AND "extra" is undeclared: the Strict
    // error must win, as it would if the typed parse never ran
    val bad = Seq(click("\"x\"", "null", """, "extra": 1""")).toDF("j")
    failsWith("StrictModeError") {
      AvroJson.decode(bad, "j", clickSchema, records = AvroJson.Strict)
        .write.format("noop").mode("overwrite").save()
    }
    val r = AvroJson.decode(bad, "j", clickSchema, mode = AvroJson.Permissive,
      records = AvroJson.Strict).select("decoded").collect()
    assert(r.length == 1 && r(0).isNullAt(0))
  }

  test("an unknown union branch still raises UnionResolutionError under Strict") {
    failsWith("UnionResolutionError") {
      AvroJson.decode(Seq(click("1", """{"double": 1.5}""")).toDF("j"), "j", clickSchema,
        records = AvroJson.Strict).write.format("noop").mode("overwrite").save()
    }
  }
}
