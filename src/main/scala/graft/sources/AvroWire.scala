package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Avro wire format for the change stream — the reference's native output
  * encoding (it builds one Avro schema per table mapping,
  * `S4HanaTableMapping.java:577-597`, and converts JDBC rows field-by-field,
  * `S4HanaProducer.java:216-315`). The Spark analog: derive the Avro
  * schema from the DataFrame's `StructType` (all fields nullable, matching
  * `S4HanaTableMapping.java:583`) and encode/decode per partition with the
  * plain Avro runtime — binary-compatible with any Avro consumer, no
  * schema-registry dependency.
  *
  * Scale shape: serde is a `mapPartitions` over the rows — embarrassingly
  * parallel, no shuffle, writer/reader instantiated once per partition.
  */
object AvroWire {

  /** Spark → Avro schema. Logical types follow the reference's choices:
    * decimal(p,s) as bytes+decimal (AvroDecimal), timestamp as long
    * micros (AvroTimestampMicros), date as int days.
    */
  def avroSchemaFor(schema: StructType, recordName: String = "graft_record"): Schema = {
    val fields = schema.fields.map { f =>
      val base = avroTypeFor(f.dataType, s"${recordName}_${f.name}")
      // all-nullable union, null first (Avro default-value convention)
      val union = Schema.createUnion(
        List(Schema.create(Schema.Type.NULL), base).asJava)
      new Schema.Field(f.name, union, null, Schema.Field.NULL_DEFAULT_VALUE)
    }
    val rec = Schema.createRecord(recordName, null, "graft", false)
    rec.setFields(fields.toList.asJava)
    rec
  }

  /** `path` seeds nested record names (Avro record names must be unique
    * within a schema, so nested structs are named by their field path).
    * Nested records and arrays carry the reference's hierarchical
    * business-object shape (`S4HanaTableMapping.java:577-597`; nested
    * `relations` fixture `…SO.Header.json`): a J4 nested object ships on
    * this wire as record-with-array-of-records.
    */
  private def avroTypeFor(dt: DataType, path: String): Schema = dt match {
    case BooleanType => Schema.create(Schema.Type.BOOLEAN)
    case ByteType | ShortType | IntegerType => Schema.create(Schema.Type.INT)
    case LongType => Schema.create(Schema.Type.LONG)
    case FloatType => Schema.create(Schema.Type.FLOAT)
    case DoubleType => Schema.create(Schema.Type.DOUBLE)
    case StringType => Schema.create(Schema.Type.STRING)
    case BinaryType => Schema.create(Schema.Type.BYTES)
    case d: DecimalType =>
      LogicalTypes.decimal(d.precision, d.scale)
        .addToSchema(Schema.create(Schema.Type.BYTES))
    case TimestampType =>
      LogicalTypes.timestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
    case DateType =>
      LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))
    case _: TimeType => // HANA TIME ships as AvroTime (S4HanaTableMapping.java:644-645)
      LogicalTypes.timeMicros().addToSchema(Schema.create(Schema.Type.LONG))
    case s: StructType => avroSchemaFor(s, path)
    case ArrayType(et, _) =>
      // element carries the same all-nullable union convention as fields
      Schema.createArray(Schema.createUnion(List(
        Schema.create(Schema.Type.NULL), avroTypeFor(et, s"${path}_item")).asJava))
    case MapType(StringType, vt, _) => // Avro maps are string-keyed
      Schema.createMap(Schema.createUnion(List(
        Schema.create(Schema.Type.NULL), avroTypeFor(vt, s"${path}_value")).asJava))
    case other =>
      throw new IllegalArgumentException(s"AvroWire: unsupported type $other")
  }

  /** The non-null branch of an all-nullable union. */
  private def nonNull(union: Schema): Schema =
    union.getTypes.asScala.find(_.getType != Schema.Type.NULL).get

  /** Encode every row to one Avro binary record in a `value` column.
    * Schema travels as JSON text (captured by the closure, parsed once per
    * partition — Avro `Schema` itself is not serializable-stable).
    */
  def toRecords(df: DataFrame, recordName: String = "graft_record"): DataFrame = {
    val sparkSchema = df.schema
    val avroJson = avroSchemaFor(sparkSchema, recordName).toString
    val enc = Encoders.BINARY
    df.mapPartitions { rows =>
      val avroSchema = new Schema.Parser().parse(avroJson)
      val writer = new GenericDatumWriter[GenericRecord](avroSchema)
      val out = new ByteArrayOutputStream()
      var encoder: org.apache.avro.io.BinaryEncoder = null
      rows.map { row =>
        out.reset()
        encoder = EncoderFactory.get().binaryEncoder(out, encoder) // reuse
        writer.write(rowToRecord(row, sparkSchema, avroSchema), encoder)
        encoder.flush()
        out.toByteArray
      }
    }(enc).toDF("value")
  }

  /** Decode a `value` binary column of Avro records back to typed rows. */
  def fromRecords(records: DataFrame, schema: StructType,
      recordName: String = "graft_record"): DataFrame = {
    val avroJson = avroSchemaFor(schema, recordName).toString
    val enc = Encoders.row(schema)
    records.select(col("value").cast(BinaryType)).mapPartitions { rows =>
      val avroSchema = new Schema.Parser().parse(avroJson)
      val reader = new GenericDatumReader[GenericRecord](avroSchema)
      var decoder: org.apache.avro.io.BinaryDecoder = null
      rows.map { r =>
        decoder = DecoderFactory.get()
          .binaryDecoder(r.getAs[Array[Byte]](0), decoder) // reuse
        recordToRow(reader.read(null, decoder), schema)
      }
    }(enc)
  }

  /** SCHEMA-EVOLUTION decode: records written under `writerSchema` read
    * into `readerSchema` by Avro's standard resolution — fields match by
    * name, reordering is free, a reader-only field fills with its null
    * default (every generated field carries one), a writer-only field is
    * skipped. This is the registry-compatible upgrade path the reference's
    * consumers rely on (schema registry resolution on the Kafka topic):
    * old records stay readable forever under the current table shape.
    *
    * RENAMES need `readerAliases` (new name → old name, top level):
    * without an alias Avro treats a rename as drop+add and fills the new
    * field with nulls SILENTLY — the same trap ManifestUpsertStore's merge
    * documents — so pass the alias and the old bytes flow into the new
    * column. Per-partition decoder reuse as in [[fromRecords]].
    */
  def fromRecordsEvolved(records: DataFrame, writerSchema: StructType,
      readerSchema: StructType, readerAliases: Map[String, String] = Map.empty,
      recordName: String = "graft_record"): DataFrame = {
    val unknown = readerAliases.keySet.diff(readerSchema.fieldNames.toSet)
    require(unknown.isEmpty,
      s"readerAliases name columns not in readerSchema: ${unknown.mkString(", ")}")
    val writerJson = avroSchemaFor(writerSchema, recordName).toString
    val readerAvro = avroSchemaFor(readerSchema, recordName)
    readerAliases.foreach { case (newName, oldName) =>
      readerAvro.getField(newName).addAlias(oldName)
    }
    val readerJson = readerAvro.toString
    val enc = Encoders.row(readerSchema)
    records.select(col("value").cast(BinaryType)).mapPartitions { rows =>
      val w = new Schema.Parser().parse(writerJson)
      val r = new Schema.Parser().parse(readerJson)
      val reader = new GenericDatumReader[GenericRecord](w, r)
      var decoder: org.apache.avro.io.BinaryDecoder = null
      rows.map { row =>
        decoder = DecoderFactory.get()
          .binaryDecoder(row.getAs[Array[Byte]](0), decoder) // reuse
        recordToRow(reader.read(null, decoder), readerSchema)
      }
    }(enc)
  }

  /** Round-trip helper (tests / batch backfills): must be the identity. */
  def roundTrip(df: DataFrame): DataFrame = fromRecords(toRecords(df), df.schema)

  private def rowToRecord(row: Row, st: StructType, avro: Schema): GenericRecord = {
    val rec = new GenericData.Record(avro)
    var i = 0
    while (i < st.length) {
      val v =
        if (row.isNullAt(i)) null
        else toAvroValue(row.get(i), st.fields(i).dataType,
          nonNull(avro.getFields.get(i).schema()))
      rec.put(i, v)
      i += 1
    }
    rec
  }

  /** Spark external value → Avro runtime value; `branch` is the value's
    * non-null Avro schema (needed to construct nested records/arrays).
    */
  private def toAvroValue(v: Any, dt: DataType, branch: Schema): Any =
    if (v == null) null
    else dt match {
      case ByteType => v.asInstanceOf[Byte].toInt
      case ShortType => v.asInstanceOf[Short].toInt
      case _: DecimalType =>
        ByteBuffer.wrap(
          v.asInstanceOf[java.math.BigDecimal].unscaledValue().toByteArray)
      case TimestampType =>
        // java.sql.Timestamp → epoch micros (AvroTimestampMicros);
        // floorDiv so pre-1970 instants round toward -∞, not zero
        val ts = v.asInstanceOf[java.sql.Timestamp]
        Math.multiplyExact(Math.floorDiv(ts.getTime, 1000L), 1000000L) +
          ts.getNanos / 1000L
      case DateType =>
        v.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay.toInt
      case _: TimeType => // LocalTime → micros of day (Avro time-micros)
        v.asInstanceOf[java.time.LocalTime].toNanoOfDay / 1000L
      case BinaryType => ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
      case s: StructType => rowToRecord(v.asInstanceOf[Row], s, branch)
      case ArrayType(et, _) =>
        val elemBranch = nonNull(branch.getElementType)
        val seq = v.asInstanceOf[scala.collection.Seq[Any]]
        val out = new java.util.ArrayList[Any](seq.size)
        seq.foreach(e => out.add(toAvroValue(e, et, elemBranch)))
        out
      case MapType(StringType, vt, _) =>
        val valBranch = nonNull(branch.getValueType)
        val m = v.asInstanceOf[scala.collection.Map[String, Any]]
        val out = new java.util.HashMap[String, Any](m.size)
        m.foreach { case (k, mv) => out.put(k, toAvroValue(mv, vt, valBranch)) }
        out
      case _ => v
    }

  private def recordToRow(rec: GenericRecord, st: StructType): Row = {
    val vals = new Array[Any](st.length)
    var i = 0
    while (i < st.length) {
      vals(i) = fromAvroValue(rec.get(i), st.fields(i).dataType)
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(vals, st)
  }

  /** Avro runtime value → Spark external value (Row / Seq for nesting). */
  private def fromAvroValue(raw: Any, dt: DataType): Any =
    if (raw == null) null
    else dt match {
      case ByteType => raw.asInstanceOf[Int].toByte
      case ShortType => raw.asInstanceOf[Int].toShort
      case StringType => raw.toString // Avro Utf8 → String
      case d: DecimalType =>
        val bb = raw.asInstanceOf[ByteBuffer]
        val bytes = new Array[Byte](bb.remaining()); bb.duplicate().get(bytes)
        new java.math.BigDecimal(new java.math.BigInteger(bytes), d.scale)
      case TimestampType =>
        val micros = raw.asInstanceOf[Long]
        val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
        ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
        ts
      case DateType =>
        java.sql.Date.valueOf(
          java.time.LocalDate.ofEpochDay(raw.asInstanceOf[Int].toLong))
      case _: TimeType =>
        java.time.LocalTime.ofNanoOfDay(raw.asInstanceOf[Long] * 1000L)
      case BinaryType =>
        val bb = raw.asInstanceOf[ByteBuffer]
        val bytes = new Array[Byte](bb.remaining()); bb.duplicate().get(bytes)
        bytes
      case s: StructType => recordToRow(raw.asInstanceOf[GenericRecord], s)
      case ArrayType(et, _) =>
        raw.asInstanceOf[java.util.List[Any]].asScala
          .map(e => fromAvroValue(e, et)).toSeq
      case MapType(StringType, vt, _) =>
        raw.asInstanceOf[java.util.Map[Any, Any]].asScala.map {
          case (k, mv) => k.toString -> fromAvroValue(mv, vt) // Utf8 keys
        }.toMap
      case _ => raw
    }
}
