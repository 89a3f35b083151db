package graft.data

import scala.jdk.CollectionConverters._

import org.apache.avro.{JsonProperties, LogicalTypes, Schema}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-first, *validating* Avro JSON datum decoding — the Spark
  * re-expression of the reference's JSON datum algebra
  * (Anglerfish AvroJsonFAlgebras.scala `parseAvroDatumAlgebra`), with
  * the semantics the plain `from_json` path cannot express:
  *
  *  - **Union datum encoding** (reference :536–586,
  *    `selectUnionMemberByName`): Avro JSON wraps a non-null union
  *    value as a single-key object `{"branchName": value}` where the
  *    branch name is the primitive type name (`"int"`, `"string"`, …),
  *    `"array"`/`"map"`, or the full name for record/enum/fixed.
  *    Unknown or non-object wrappers are a `UnionResolutionError`.
  *  - **Enum symbol validation** (reference :645–649, `EnumError`):
  *    a string outside the declared symbol set is rejected.
  *  - **Fixed length validation** (reference :637–642, `FixedError`):
  *    the decoded payload must have exactly the declared size.
  *    Bytes/fixed datums are base64 strings by default (reference
  *    `decodeBytes`), or Avro's own ISO-8859-1 byte-string JSON
  *    rendering — decimal logicals included — under [[IsoByteString]].
  *  - **Default values, recursively** (reference AvroData.scala:66):
  *    missing record fields take their declared default, including
  *    record/array/map defaults, at any nesting depth.
  *
  * Everything is built from Catalyst expressions (`from_json` for the
  * tree shape, `when`/`cast`/HOFs for per-position semantics) — no
  * UDFs, fully distributed. Each JSON text is parsed once per row:
  * every parse read more than once is bound to one value by [[let]],
  * because Catalyst would otherwise copy it into each reference
  * (`OptimizeJsonExprs` turns each field read of a parse into its own
  * pruned parse, and subexpression elimination does not look inside
  * CASE WHEN branches).
  *
  * Strictness: [[FailFast]] raises a descriptive error on the first
  * invalid datum (the reference's MonadError behavior); [[Permissive]]
  * nulls the offending value instead — the mode a 100 TB backfill
  * wants, consistent with [[AvroBinary.decode]]'s `permissive` flag.
  */
object AvroJson {

  sealed trait Mode
  case object FailFast extends Mode
  case object Permissive extends Mode

  /** Record-field strictness (reference README "What's coming up
    * next" #1: "Strict so additional fields are not allowed on
    * records").
    *
    * [[Inclusive]] (default, and the former only behavior): fields
    * the schema doesn't declare are ignored, as `from_json` does.
    *
    * [[Strict]]: any undeclared field on ANY record datum — top-level
    * or nested inside arrays/maps/unions, to `maxRecursionDepth` — is
    * an error (`StrictModeError`), handled per [[Mode]]: FailFast
    * raises, Permissive nulls the decoded datum. The schema-drift
    * detector a data platform runs at ingest: a producer adding a
    * field upstream surfaces immediately instead of silently dropping
    * data.
    */
  sealed trait RecordMode
  case object Inclusive extends RecordMode
  case object Strict extends RecordMode

  /** How union datums are encoded in the JSON.
    *
    * [[CanonicalUnions]] — the Avro JSON encoding (and the
    * reference's): EVERY non-null union value is wrapped as
    * `{"branchName": value}`, including single-non-null-branch
    * `["null", T]` unions. What avro-core's JsonEncoder writes.
    *
    * [[LenientUnions]] (default) — `["null", T]` unions are plain
    * nullable values (the convention of ordinary JSON APIs); only
    * multi-branch unions use the wrapper. The convenience mode for
    * decoding real-world JSON against an Avro schema.
    */
  sealed trait UnionEncoding
  case object CanonicalUnions extends UnionEncoding
  case object LenientUnions extends UnionEncoding

  /** How bytes/fixed datums are rendered in the JSON.
    *
    * [[Base64Binary]] (default) — base64 strings: the reference's
    * datum convention (AvroJsonFAlgebras `decodeBytes`) and the usual
    * JSON-API rendering; decimal logical bytes/fixed are plain JSON
    * numbers.
    *
    * [[IsoByteString]] — Avro's own JSON encoding (what avro-core's
    * JsonEncoder writes): a JSON string whose Unicode code points
    * 0–255 ARE the byte values (ISO-8859-1). Decimal logicals are the
    * big-endian two's-complement bytes of the unscaled value, rendered
    * the same way.
    */
  sealed trait BinaryEncoding
  case object Base64Binary extends BinaryEncoding
  case object IsoByteString extends BinaryEncoding

  /** Decode a column of JSON datums against an Avro schema into a
    * typed struct column `out` (shape = [[AvroSchemas.toSparkType]]).
    *
    * The top-level schema must be a RECORD (Avro JSON datum files and
    * the reference's algebra are record-rooted; a bare-union or
    * primitive root has no struct rendering — wrap it in a
    * single-field record). Bytes/fixed (decimal logicals included)
    * decode per [[BinaryEncoding]]: base64/JSON-number by default,
    * or Avro's own ISO-8859-1 byte-string rendering under
    * [[IsoByteString]] — the latter is exact avro-core JsonEncoder
    * parity (property-tested against it).
    */
  def decode(df: DataFrame, jsonCol: String, avroSchemaJson: String,
             out: String = "decoded", mode: Mode = FailFast,
             maxRecursionDepth: Int = 1,
             unions: UnionEncoding = LenientUnions,
             records: RecordMode = Inclusive,
             binary: BinaryEncoding = Base64Binary): DataFrame = {
    val schema = AvroSchemas.parse(avroSchemaJson)
    require(schema.getType == Schema.Type.RECORD,
      s"AvroJson.decode requires a RECORD top-level schema, got ${schema.getType} " +
        "(wrap the datum in a single-field record, or use AvroBinary for non-record roots)")
    AvroSchemas.warnIfPruned(schema, maxRecursionDepth, "AvroJson.decode")
    val pt = parseType(schema, Map.empty, maxRecursionDepth, unions, binary).getOrElse(
      throw new IllegalArgumentException(
        s"schema ${schema.getFullName} prunes to nothing at depth $maxRecursionDepth"))
    val filled = let(from_json(col(jsonCol), pt, parseOpts(mode))) { parsed =>
      val typed = rebuild(parsed, schema, Map.empty, maxRecursionDepth, mode, unions, binary)
      fillDefaults(typed, schema, Map.empty, maxRecursionDepth)
    }
    val result = records match {
      case Inclusive => filled
      case Strict =>
        // the undeclared-field check runs first; the typed parse only
        // in its no-violation branch, so its errors never mask it
        val target = targetType(schema, Map.empty, maxRecursionDepth)
        let(strictViolation(col(jsonCol), schema, Map.empty, maxRecursionDepth, unions)) { v =>
          when(v.isNull, filled.cast(target)).otherwise(err(mode, v, target))
        }
    }
    df.withColumn(out, result)
  }

  /** `body` over `e` evaluated once per row: a lambda variable is
    * opaque to the optimizer, so it neither splits `e` per field read
    * nor copies it into each CASE WHEN branch. */
  private def let(e: Column)(body: Column => Column): Column =
    element_at(transform(array(e), body), 1)

  private def parseOpts(mode: Mode): Map[String, String] =
    if (mode == FailFast) Map("mode" -> "FAILFAST") else Map.empty

  // ---- stage 1: parse shape ------------------------------------------------
  // `from_json` target where every position whose JSON encoding needs
  // post-processing is captured verbatim: multi-branch unions and
  // bytes/fixed as strings (raw JSON / base64), date/timestamp
  // logicals as their raw epoch numbers.

  private[data] def parseType(
      s: Schema, seen: Map[String, Int], maxDepth: Int,
      unions: UnionEncoding = LenientUnions,
      binary: BinaryEncoding = Base64Binary): Option[DataType] = {
    import Schema.Type._
    s.getType match {
      case NULL          => Some(NullType)
      case BOOLEAN       => Some(BooleanType)
      case INT           => Some(IntegerType)
      case LONG          => Some(LongType)
      case FLOAT         => Some(FloatType)
      case DOUBLE        => Some(DoubleType)
      case STRING | ENUM => Some(StringType)
      case BYTES | FIXED =>
        Some(s.getLogicalType match {
          case d: LogicalTypes.Decimal if binary == Base64Binary =>
            DecimalType(d.getPrecision, d.getScale) // plain JSON number
          case _ => StringType // base64 or ISO byte-string payload
        })
      case ARRAY =>
        parseType(s.getElementType, seen, maxDepth, unions, binary)
          .map(ArrayType(_, containsNull = AvroSchemas.nullable(s.getElementType)))
      case MAP =>
        parseType(s.getValueType, seen, maxDepth, unions, binary)
          .map(MapType(StringType, _, valueContainsNull = AvroSchemas.nullable(s.getValueType)))
      case UNION =>
        nonNull(s) match {
          case Seq()  => Some(NullType)
          case Seq(b) if unions == LenientUnions => parseType(b, seen, maxDepth, unions, binary)
          case _      => Some(StringType) // raw {"branch": value} wrapper
        }
      case RECORD =>
        val name = s.getFullName
        val depth = seen.getOrElse(name, 0)
        if (depth >= maxDepth) None
        else {
          val inner = seen.updated(name, depth + 1)
          val fields = s.getFields.asScala.flatMap { f =>
            parseType(f.schema(), inner, maxDepth, unions, binary)
              .map(dt => StructField(f.name(), dt, nullable = true))
          }.toSeq
          Some(StructType(fields))
        }
    }
  }

  private def nonNull(s: Schema): Seq[Schema] =
    s.getTypes.asScala.filter(_.getType != Schema.Type.NULL).toSeq

  /** JSON union branch selector for a member schema (reference
    * `selectUnionMemberByName`): full name for named types, `"array"`
    * / `"map"` for complex unnamed ones, the type name otherwise.
    */
  private[data] def branchName(s: Schema): String = {
    import Schema.Type._
    s.getType match {
      case RECORD | ENUM | FIXED => s.getFullName
      case ARRAY                 => "array"
      case MAP                   => "map"
      case t                     => t.getName
    }
  }

  /** Fully-nullable rendering of a type — cast targets must not claim
    * NOT NULL (parsed values are always nullable, and casting a
    * nullable struct to a non-null-field struct is rejected).
    */
  private def nullableOf(dt: DataType): DataType = dt match {
    case StructType(fs) =>
      StructType(fs.map(f => f.copy(dataType = nullableOf(f.dataType), nullable = true)))
    case ArrayType(et, _)  => ArrayType(nullableOf(et), containsNull = true)
    case MapType(k, v, _)  => MapType(nullableOf(k), nullableOf(v), valueContainsNull = true)
    case other             => other
  }

  private def targetType(s: Schema, seen: Map[String, Int], maxDepth: Int): DataType =
    nullableOf(AvroSchemas.convert(s, seen, maxDepth).getOrElse(NullType))

  // ---- stage 2: per-position semantics ------------------------------------

  /** Does this subtree need any post-`from_json` work? Positions that
    * don't are passed through untouched (keeps the projection lean).
    */
  private def needsWork(s: Schema, seen: Map[String, Int], maxDepth: Int,
                        unions: UnionEncoding, binary: BinaryEncoding): Boolean = {
    import Schema.Type._
    s.getType match {
      case ENUM => true
      case BYTES | FIXED =>
        binary == IsoByteString || !s.getLogicalType.isInstanceOf[LogicalTypes.Decimal]
      case INT => s.getLogicalType.isInstanceOf[LogicalTypes.Date]
      case LONG =>
        s.getLogicalType match {
          case _: LogicalTypes.TimestampMicros | _: LogicalTypes.TimestampMillis |
               _: LogicalTypes.LocalTimestampMicros | _: LogicalTypes.LocalTimestampMillis => true
          case _ => false
        }
      case ARRAY => needsWork(s.getElementType, seen, maxDepth, unions, binary)
      case MAP   => needsWork(s.getValueType, seen, maxDepth, unions, binary)
      case UNION =>
        val b = nonNull(s)
        b.lengthIs > 1 || (unions == CanonicalUnions && b.nonEmpty) ||
          b.exists(needsWork(_, seen, maxDepth, unions, binary))
      case RECORD =>
        val depth = seen.getOrElse(s.getFullName, 0)
        depth < maxDepth && {
          val inner = seen.updated(s.getFullName, depth + 1)
          s.getFields.asScala.exists(f => needsWork(f.schema(), inner, maxDepth, unions, binary))
        }
      case _ => false
    }
  }

  private def err(mode: Mode, msg: Column, target: DataType): Column = mode match {
    case FailFast   => raise_error(msg).cast(target)
    case Permissive => lit(null).cast(target)
  }

  private def decodeBase64(c: Column, mode: Mode): Column = mode match {
    case FailFast   => to_binary(c, lit("base64"))
    case Permissive => try_to_binary(c, lit("base64"))
  }

  // ---- ISO-8859-1 byte strings (Avro's own JSON bytes rendering) ----

  private val latin1Re = "^[\\x00-\\xff]*$"

  /** Byte values (0–255) of an ISO byte string, extracted via hex so
    * no per-char codepoint builtin is needed (`ascii` is byte-, not
    * codepoint-based). Only evaluated under a latin-1 guard — Spark's
    * `encode` rejects unmappable characters.
    *
    * The hex string is split into 2-char chunks and the lambda only
    * touches its own element: an outer-column reference inside a HOF
    * lambda re-evaluates per element (the earlier shape recomputed
    * `hex(encode(..))` for every byte — the codebase's documented HOF
    * trap, SURVEY §6). `split`'s child evaluates once per row. */
  private def isoBytes(c: Column): Column =
    transform(
      filter(split(hex(encode(c, "ISO-8859-1")), "(?<=\\G..)"), p => length(p) === 2),
      p => conv(p, 16, 10).cast(IntegerType))

  private def decodeBinary(c: Column, mode: Mode, binary: BinaryEncoding): Column =
    binary match {
      case Base64Binary => decodeBase64(c, mode)
      case IsoByteString =>
        when(c.isNull, lit(null).cast(BinaryType))
          .when(c.rlike(latin1Re), encode(c, "ISO-8859-1"))
          .otherwise(err(mode,
            concat(lit("ByteStringError: non-latin-1 code point in byte string '"),
              c, lit("'")),
            BinaryType))
    }

  /** Big-endian two's-complement unscaled bytes → DecimalType(p, s),
    * from an ISO byte string (Avro JSON's rendering of decimal
    * logical bytes/fixed). Pure codegen: hex-extracted byte values
    * folded into a DECIMAL(38,0) accumulator (signed first byte, then
    * acc*256+b), scaled by an exact 10^-s decimal literal. */
  private def isoToDecimal(c: Column, d: LogicalTypes.Decimal,
                           fixedSize: Option[Int], mode: Mode): Column = {
    val target = DecimalType(d.getPrecision, d.getScale)
    val d38 = DecimalType(38, 0)
    val bs = isoBytes(c)
    val first = element_at(bs, 1)
    val signedFirst = when(first < 128, first).otherwise(first - 256).cast(d38)
    val unscaled = aggregate(slice(bs, lit(2), size(bs) - 1), signedFirst,
      (acc, b) => acc * lit(256) + b.cast(d38))
    val tenPowNegS = lit(new java.math.BigDecimal(java.math.BigInteger.ONE, d.getScale))
    val value = mode match {
      case FailFast   => (unscaled * tenPowNegS).cast(target)
      case Permissive => (unscaled * tenPowNegS).try_cast(target)
    }
    val sizeOk = fixedSize.map(sz => length(c) === sz).getOrElse(length(c) > 0)
    when(c.isNull, lit(null).cast(target))
      .when(c.rlike(latin1Re) && sizeOk, value)
      .otherwise(err(mode,
        concat(lit(s"ByteStringError: invalid decimal byte string for $target" +
            fixedSize.map(sz => s" (expected $sz bytes)").getOrElse("") + " in '"),
          c, lit("'")),
        target))
  }

  private def rebuild(c: Column, s: Schema, seen: Map[String, Int],
                      maxDepth: Int, mode: Mode, unions: UnionEncoding,
                      binary: BinaryEncoding): Column = {
    import Schema.Type._
    s.getType match {
      case INT =>
        s.getLogicalType match {
          case _: LogicalTypes.Date => date_from_unix_date(c)
          case _                    => c
        }
      case LONG =>
        s.getLogicalType match {
          case _: LogicalTypes.TimestampMicros      => timestamp_micros(c)
          case _: LogicalTypes.TimestampMillis      => timestamp_millis(c)
          // session tz is UTC everywhere in graft, so instant == wall clock
          case _: LogicalTypes.LocalTimestampMicros => timestamp_micros(c).cast(TimestampNTZType)
          case _: LogicalTypes.LocalTimestampMillis => timestamp_millis(c).cast(TimestampNTZType)
          case _                                    => c
        }
      case ENUM =>
        val symbols = s.getEnumSymbols.asScala.toSeq
        when(c.isNull, lit(null).cast(StringType))
          .when(c.isInCollection(symbols), c)
          .otherwise(err(mode,
            concat(lit("EnumError: '"), c,
              lit(s"' is not a symbol of ${s.getFullName} ${symbols.mkString("[", ",", "]")}")),
            StringType))
      case BYTES =>
        s.getLogicalType match {
          case d: LogicalTypes.Decimal if binary == IsoByteString =>
            isoToDecimal(c, d, None, mode)
          case _: LogicalTypes.Decimal => c // parsed natively as a JSON number
          case _                       => decodeBinary(c, mode, binary)
        }
      case FIXED =>
        s.getLogicalType match {
          case d: LogicalTypes.Decimal if binary == IsoByteString =>
            isoToDecimal(c, d, Some(s.getFixedSize), mode)
          case _: LogicalTypes.Decimal => c
          case _ =>
            val b = decodeBinary(c, mode, binary)
            val undec = if (binary == Base64Binary) "<not base64>" else "<not latin-1>"
            when(c.isNull, lit(null).cast(BinaryType))
              .when(octet_length(b) === s.getFixedSize, b)
              .otherwise(err(mode,
                concat(lit(s"FixedError: ${s.getFullName} expects ${s.getFixedSize} bytes, got "),
                  coalesce(octet_length(b).cast(StringType), lit(undec))),
                BinaryType))
        }
      case ARRAY if needsWork(s.getElementType, seen, maxDepth, unions, binary) =>
        transform(c, x => rebuild(x, s.getElementType, seen, maxDepth, mode, unions, binary))
      case MAP if needsWork(s.getValueType, seen, maxDepth, unions, binary) =>
        transform_values(c, (_, v) => rebuild(v, s.getValueType, seen, maxDepth, mode, unions, binary))
      case RECORD if needsWork(s, seen, maxDepth, unions, binary) =>
        val inner = seen.updated(s.getFullName, seen.getOrElse(s.getFullName, 0) + 1)
        val fields = s.getFields.asScala.flatMap { f =>
          parseType(f.schema(), inner, maxDepth, unions, binary).map { _ =>
            rebuild(c.getField(f.name()), f.schema(), inner, maxDepth, mode, unions, binary).as(f.name())
          }
        }.toSeq
        when(c.isNotNull, struct(fields: _*))
      case UNION =>
        nonNull(s) match {
          case Seq() => c
          case Seq(b) if unions == LenientUnions =>
            rebuild(c, b, seen, maxDepth, mode, unions, binary)
          case Seq(b) =>
            // canonical: even [null, T] carries the {"branch": v} wrapper
            singleUnionCol(c, b, seen, maxDepth, mode, unions, binary)
          case many => unionCol(c, many, s, seen, maxDepth, mode, unions, binary)
        }
      case _ => c
    }
  }

  /** Canonical-encoding decode of a single-non-null-branch union: the
    * raw wrapper either is null or must be `{"<branchName>": value}`.
    */
  private def singleUnionCol(c: Column, b: Schema, seen: Map[String, Int],
                             maxDepth: Int, mode: Mode, unions: UnionEncoding,
                             binary: BinaryEncoding): Column = {
    val target = targetType(b, seen, maxDepth)
    val name = branchName(b)
    let(from_json(c, MapType(StringType, StringType))) { m =>
      val key = map_keys(m).getItem(0)
      val msg = concat(lit(s"UnionResolutionError: expected {$name}, got "),
        coalesce(key, lit("<non-object datum>")))
      when(c.isNull, lit(null).cast(target))
        .when(m.isNotNull && size(map_keys(m)) === 1 && key === name,
          branchValue(element_at(m, lit(name)), b, seen, maxDepth, mode, unions, binary).cast(target))
        .otherwise(err(mode, msg, target))
    }
  }

  /** Decode a raw `{"branchName": value}` wrapper into the memberN
    * struct encoding. The wrapper is parsed once as map<string,string>
    * (values captured verbatim), the selector key picks the branch,
    * and anything else — non-object, zero/multi-key, unknown name —
    * is a `UnionResolutionError`. (Ambiguity, the reference's other
    * error case, cannot arise from a schema Avro itself accepts:
    * selector names are unique within a valid union.)
    */
  private def unionCol(c: Column, branches: Seq[Schema], u: Schema,
                       seen: Map[String, Int], maxDepth: Int, mode: Mode,
                       unions: UnionEncoding, binary: BinaryEncoding): Column = {
    val target = targetType(u, seen, maxDepth)
    val names  = branches.map(branchName)
    let(from_json(c, MapType(StringType, StringType))) { m =>
      val key = map_keys(m).getItem(0)
      val members = branches.zipWithIndex.flatMap { case (b, i) =>
        AvroSchemas.convert(b, seen, maxDepth).map { _ =>
          when(key === branchName(b),
            branchValue(element_at(m, lit(branchName(b))), b, seen, maxDepth, mode, unions, binary))
            .as(s"member$i")
        }
      }
      val msg = concat(
        lit(s"UnionResolutionError: expected one of ${names.mkString("{", ", ", "}")}, got "),
        coalesce(key, lit("<non-object datum>")))
      when(c.isNull, lit(null).cast(target))
        .when(m.isNotNull && size(map_keys(m)) === 1 && key.isInCollection(names),
          struct(members: _*).cast(target))
        .otherwise(err(mode, msg, target))
    }
  }

  /** Decode one union branch from its captured JSON text. */
  private def branchValue(v: Column, b: Schema, seen: Map[String, Int],
                          maxDepth: Int, mode: Mode, unions: UnionEncoding,
                          binary: BinaryEncoding): Column = {
    import Schema.Type._
    def castTo(dt: DataType): Column = mode match {
      case FailFast   => v.cast(dt) // ANSI: malformed literal raises
      case Permissive => v.try_cast(dt)
    }
    b.getType match {
      case BOOLEAN => castTo(BooleanType)
      case INT     => rebuild(castTo(IntegerType), b, seen, maxDepth, mode, unions, binary)
      case LONG    => rebuild(castTo(LongType), b, seen, maxDepth, mode, unions, binary)
      case FLOAT   => castTo(FloatType)
      case DOUBLE  => castTo(DoubleType)
      case STRING  => v
      case ENUM | BYTES | FIXED =>
        b.getLogicalType match {
          case d: LogicalTypes.Decimal if binary == IsoByteString =>
            val fs = if (b.getType == FIXED) Some(b.getFixedSize) else None
            isoToDecimal(v, d, fs, mode)
          case d: LogicalTypes.Decimal => castTo(DecimalType(d.getPrecision, d.getScale))
          case _                       => rebuild(v, b, seen, maxDepth, mode, unions, binary)
        }
      case RECORD | ARRAY | MAP =>
        val pt = parseType(b, seen, maxDepth, unions, binary).getOrElse(NullType)
        let(from_json(v, pt, parseOpts(mode)))(rebuild(_, b, seen, maxDepth, mode, unions, binary))
      case UNION | NULL => lit(null) // Avro forbids directly nested unions
    }
  }

  // ---- strict record-field validation -------------------------------------

  /** Does this subtree reach a (non-pruned) record datum? Positions
    * that don't are skipped by the Strict walk entirely.
    */
  private def containsRecord(s: Schema, seen: Map[String, Int], maxDepth: Int): Boolean = {
    import Schema.Type._
    s.getType match {
      case RECORD => seen.getOrElse(s.getFullName, 0) < maxDepth
      case ARRAY  => containsRecord(s.getElementType, seen, maxDepth)
      case MAP    => containsRecord(s.getValueType, seen, maxDepth)
      case UNION  => nonNull(s).exists(containsRecord(_, seen, maxDepth))
      case _      => false
    }
  }

  /** First undeclared-field description in the raw JSON datum `c`, or
    * null — the [[Strict]] walk. Record nodes re-parse their raw text
    * as `map<string,string>` (values captured verbatim — the same
    * trick the union decoder uses), compare the key set against the
    * schema's declared fields, and recurse into every field/element/
    * branch whose subtree can reach another record. Malformed or null
    * nodes report nothing here; the main decode path owns those
    * errors.
    */
  private def strictViolation(c: Column, s: Schema, seen: Map[String, Int],
                              maxDepth: Int, unions: UnionEncoding): Column = {
    import Schema.Type._
    val noViolation = lit(null).cast(StringType)
    def firstOf(elems: Column, b: Schema): Column =
      get(filter(transform(elems, x => strictViolation(x, b, seen, maxDepth, unions)),
        v => v.isNotNull), lit(0))
    s.getType match {
      case RECORD if seen.getOrElse(s.getFullName, 0) < maxDepth =>
        val inner = seen.updated(s.getFullName, seen.getOrElse(s.getFullName, 0) + 1)
        val declared = s.getFields.asScala.map(_.name()).toSeq
        let(from_json(c, MapType(StringType, StringType))) { m =>
          val unknown = filter(map_keys(m), k => !k.isInCollection(declared))
          val childChecks = s.getFields.asScala.toSeq
            .filter(f => containsRecord(f.schema(), inner, maxDepth))
            .map(f => strictViolation(element_at(m, lit(f.name())), f.schema(), inner, maxDepth, unions))
          val childV = if (childChecks.isEmpty) noViolation else coalesce(childChecks: _*)
          when(m.isNull, noViolation)
            .when(size(unknown) > 0,
              concat(lit("StrictModeError: unknown field '"), element_at(unknown, 1),
                lit(s"' on record ${s.getFullName} (declared: ${declared.mkString(", ")})")))
            .otherwise(childV)
        }
      case ARRAY if containsRecord(s.getElementType, seen, maxDepth) =>
        firstOf(from_json(c, ArrayType(StringType)), s.getElementType)
      case MAP if containsRecord(s.getValueType, seen, maxDepth) =>
        firstOf(map_values(from_json(c, MapType(StringType, StringType))), s.getValueType)
      case UNION =>
        nonNull(s) match {
          case Seq(b) if unions == LenientUnions =>
            if (containsRecord(b, seen, maxDepth)) strictViolation(c, b, seen, maxDepth, unions)
            else noViolation
          case branches =>
            // wrapped {"branchName": value} encoding (canonical
            // single-branch, or any multi-branch union)
            val recBranches = branches.filter(containsRecord(_, seen, maxDepth))
            if (recBranches.isEmpty) noViolation
            else {
              let(from_json(c, MapType(StringType, StringType))) { m =>
                val key = map_keys(m).getItem(0)
                val cases = recBranches.map(b =>
                  when(key === branchName(b),
                    strictViolation(element_at(m, lit(branchName(b))), b, seen, maxDepth, unions)))
                when(m.isNotNull && size(map_keys(m)) === 1,
                  coalesce(cases :+ noViolation: _*))
              }
            }
        }
      case _ => noViolation
    }
  }

  // ---- stage 3: defaults ---------------------------------------------------

  private def hasDefaults(s: Schema, seen: Map[String, Int], maxDepth: Int): Boolean = {
    import Schema.Type._
    s.getType match {
      case RECORD =>
        val depth = seen.getOrElse(s.getFullName, 0)
        depth < maxDepth && {
          val inner = seen.updated(s.getFullName, depth + 1)
          s.getFields.asScala.exists(f =>
            f.hasDefaultValue || hasDefaults(f.schema(), inner, maxDepth))
        }
      case ARRAY => hasDefaults(s.getElementType, seen, maxDepth)
      case MAP   => hasDefaults(s.getValueType, seen, maxDepth)
      case UNION => nonNull(s).exists(hasDefaults(_, seen, maxDepth))
      case _     => false
    }
  }

  /** Fill missing (null) record fields with declared defaults, at any
    * nesting depth (reference AvroData.scala:66 models defaults as
    * full Avro values, records included).
    */
  private def fillDefaults(c: Column, s: Schema,
                           seen: Map[String, Int], maxDepth: Int): Column = {
    import Schema.Type._
    s.getType match {
      case RECORD if hasDefaults(s, seen, maxDepth) =>
        val inner = seen.updated(s.getFullName, seen.getOrElse(s.getFullName, 0) + 1)
        val fields = s.getFields.asScala.flatMap { f =>
          AvroSchemas.convert(f.schema(), inner, maxDepth).map { _ =>
            val base = fillDefaults(c.getField(f.name()), f.schema(), inner, maxDepth)
            val filled =
              if (f.hasDefaultValue)
                coalesce(base, defaultCol(f.defaultVal(), f.schema(), inner, maxDepth))
              else base
            filled.as(f.name())
          }
        }.toSeq
        when(c.isNotNull, struct(fields: _*))
      case ARRAY if hasDefaults(s.getElementType, seen, maxDepth) =>
        transform(c, x => fillDefaults(x, s.getElementType, seen, maxDepth))
      case MAP if hasDefaults(s.getValueType, seen, maxDepth) =>
        transform_values(c, (_, v) => fillDefaults(v, s.getValueType, seen, maxDepth))
      case UNION =>
        nonNull(s) match {
          case Seq(b) if hasDefaults(b, seen, maxDepth) => fillDefaults(c, b, seen, maxDepth)
          case many if many.lengthIs > 1 && many.exists(hasDefaults(_, seen, maxDepth)) =>
            val members = many.zipWithIndex.flatMap { case (b, i) =>
              AvroSchemas.convert(b, seen, maxDepth).map(_ =>
                fillDefaults(c.getField(s"member$i"), b, seen, maxDepth).as(s"member$i"))
            }
            when(c.isNotNull, struct(members: _*))
          case _ => c
        }
      case _ => c
    }
  }

  /** An Avro default value (as surfaced by `Schema.Field.defaultVal`:
    * boxed primitives, String, java List/Map, byte[],
    * `JsonProperties.NULL_VALUE`) as a typed literal Column.
    */
  private def defaultCol(v: Any, s: Schema,
                         seen: Map[String, Int], maxDepth: Int): Column = {
    import Schema.Type._
    val target = targetType(s, seen, maxDepth)
    v match {
      case null | JsonProperties.NULL_VALUE => lit(null).cast(target)
      case _ =>
        s.getType match {
          case UNION =>
            nonNull(s) match {
              case Seq()  => lit(null).cast(target)
              case Seq(b) => defaultCol(v, b, seen, maxDepth)
              case many =>
                // a non-null default always belongs to the FIRST branch
                // (Avro spec: defaults are validated against it)
                val members = many.zipWithIndex.flatMap { case (b, i) =>
                  AvroSchemas.convert(b, seen, maxDepth).map { bt =>
                    (if (i == 0) defaultCol(v, b, seen, maxDepth)
                     else lit(null).cast(nullableOf(bt))).as(s"member$i")
                  }
                }
                struct(members: _*).cast(target)
            }
          case RECORD =>
            val m = v.asInstanceOf[java.util.Map[String, AnyRef]]
            val inner = seen.updated(s.getFullName, seen.getOrElse(s.getFullName, 0) + 1)
            val fields = s.getFields.asScala.flatMap { f =>
              AvroSchemas.convert(f.schema(), inner, maxDepth).map { _ =>
                val fv: Any =
                  if (m.containsKey(f.name())) m.get(f.name())
                  else if (f.hasDefaultValue) f.defaultVal()
                  else null
                defaultCol(fv, f.schema(), inner, maxDepth).as(f.name())
              }
            }.toSeq
            struct(fields: _*).cast(target)
          case ARRAY =>
            val elems = v.asInstanceOf[java.util.List[AnyRef]].asScala.toSeq
              .map(x => defaultCol(x, s.getElementType, seen, maxDepth))
            array(elems: _*).cast(target)
          case MAP =>
            val kvs = v.asInstanceOf[java.util.Map[String, AnyRef]].asScala.toSeq
              .flatMap { case (k, mv) =>
                Seq(lit(k), defaultCol(mv, s.getValueType, seen, maxDepth)) }
            map(kvs: _*).cast(target)
          case BYTES | FIXED =>
            v match {
              case b: Array[Byte] => lit(b).cast(target)
              // avro surfaces bytes defaults as ISO-8859-1 strings
              case str: String =>
                lit(str.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)).cast(target)
              case other => lit(other.toString).cast(target)
            }
          case STRING | ENUM => lit(v.toString)
          case INT =>
            rebuild(lit(v.asInstanceOf[Number].intValue()), s, seen, maxDepth,
              FailFast, LenientUnions, Base64Binary)
          case LONG =>
            rebuild(lit(v.asInstanceOf[Number].longValue()), s, seen, maxDepth,
              FailFast, LenientUnions, Base64Binary)
          case FLOAT  => lit(v.asInstanceOf[Number].floatValue())
          case DOUBLE => lit(v.asInstanceOf[Number].doubleValue())
          case BOOLEAN => lit(v.asInstanceOf[Boolean])
          case _ => lit(null).cast(target)
        }
    }
  }
}
