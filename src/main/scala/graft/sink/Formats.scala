package graft.sink

import java.io.OutputStream
import java.util.zip.GZIPOutputStream

import org.apache.avro.file.{CodecFactory, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.{Schema => ASchema, SchemaBuilder}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Output formats (SURVEY.md §2.2, F1–F6).
  *
  * The reference serializes one record at a time through a
  * `RecordWriterProvider` per format (e.g.
  * `format/json/JsonRecordWriterProvider.java:61-108`). Here each format is
  * a small strategy: how to turn a row's pre-serialized payload into bytes
  * on an output stream, plus its extension. Serialization that Catalyst can
  * do (struct → JSON text) happens *in the plan* (`to_json`, codegen'd);
  * only the final byte-appending runs in the executor-side writer loop —
  * see [[OffsetNamedSink]].
  *
  * Compression (F6, `storage/CompressionType.java:38-131`): gzip wraps the
  * stream for JSON/ByteArray and splices `.gz` into the extension
  * (`JsonRecordWriterProvider.java:56-58`); Avro uses its own container
  * codecs (`format/avro/AvroRecordWriterProvider.java:72`); Parquet its
  * own column codecs.
  */
sealed trait Compression { def wrap(out: OutputStream): OutputStream; def ext: String }
case object NoCompression extends Compression {
  def wrap(out: OutputStream): OutputStream = out
  def ext = ""
}
/** gzip with the reference's 8 KiB buffer (`CompressionType.java:76`). */
case object Gzip extends Compression {
  def wrap(out: OutputStream): OutputStream = new GZIPOutputStream(out, 8192)
  def ext = ".gz"
}

sealed trait OutputFormat {
  def baseExtension: String
  def extension: String = baseExtension
}

/** F1: one JSON document per record + line separator
  * (`JsonRecordWriterProvider.java:71-85`). The payload column must already
  * be a JSON string (`to_json(struct(...))` for Struct values — the
  * `JsonConverter(schemas.enable=false)` analog — or the raw string for
  * schemaless records).
  */
final case class JsonFormat(compression: Compression = NoCompression) extends OutputFormat {
  val baseExtension = ".json"
  override def extension: String = baseExtension + compression.ext
  val lineSeparator: Array[Byte] = "\n".getBytes("UTF-8")
}

/** F2: raw value bytes + configurable separator/extension
  * (`ByteArrayRecordWriterProvider.java:44-92`; defaults
  * `OSSSinkConnectorConfiguration.java:68-72`).
  */
final case class ByteArrayFormat(
    separator: Array[Byte] = "\n".getBytes("UTF-8"),
    ext: String = ".bin",
    compression: Compression = NoCompression) extends OutputFormat {
  val baseExtension: String = ext
  override def extension: String = baseExtension + compression.ext
}

/** F3: Avro object-container file; codec per `avro.codec`
  * (`AvroRecordWriterProvider.java:57-111`). Rows are converted to
  * `GenericRecord` with [[AvroSupport]].
  */
final case class AvroFormat(codec: String = "null") extends OutputFormat {
  val baseExtension = ".avro"
  def codecFactory: CodecFactory = codec match {
    case "null" | "" => CodecFactory.nullCodec()
    case "deflate" => CodecFactory.deflateCodec(6)
    case "snappy" => CodecFactory.snappyCodec()
    case "bzip2" => CodecFactory.bzip2Codec()
    case other => CodecFactory.fromString(other)
  }
}

/** F4/F5: Parquet at rest. Written by Spark's own parquet writer factory
  * to a hidden temp file in the target directory, then renamed in the
  * task to its offset name (see [[OffsetNamedSink.writeBatchParquet]])
  * — the Spark-first replacement for `AvroParquetWriter`
  * (`ParquetAvroRecordWriterProvider.java:78-87`). The F5 JSON→schema path
  * is `from_json(value, schema)` upstream: Spark's `StructType` replaces
  * the protobuf class as the JSON schema carrier
  * (`ParquetJsonRecordWriterProvider.java:85-107`).
  */
final case class ParquetFormat(codec: String = "snappy") extends OutputFormat {
  val baseExtension = ".parquet"
}

/** StructType ⇄ Avro conversion for the types the reference exercises
  * (FIXTURES.md: boolean/int/long/float/double/string/bytes, nested
  * struct, array, map, optionals). Public-knowledge mapping per the Avro
  * spec; nullable fields become union[null, T].
  */
object AvroSupport {

  def toAvroSchema(st: StructType, name: String = "record", ns: String = "graft"): ASchema = {
    val fields = new java.util.ArrayList[ASchema.Field]()
    st.fields.foreach { f =>
      val base = toAvroType(f.dataType, s"${name}_${f.name}", ns)
      val sch =
        if (f.nullable) ASchema.createUnion(ASchema.create(ASchema.Type.NULL), base)
        else base
      fields.add(new ASchema.Field(f.name, sch, null, if (f.nullable) ASchema.Field.NULL_DEFAULT_VALUE else null))
    }
    val rec = ASchema.createRecord(name, null, ns, false)
    rec.setFields(fields)
    rec
  }

  private def toAvroType(dt: DataType, name: String, ns: String): ASchema = dt match {
    case BooleanType => ASchema.create(ASchema.Type.BOOLEAN)
    case IntegerType | ShortType | ByteType => ASchema.create(ASchema.Type.INT)
    case LongType => ASchema.create(ASchema.Type.LONG)
    case FloatType => ASchema.create(ASchema.Type.FLOAT)
    case DoubleType => ASchema.create(ASchema.Type.DOUBLE)
    case StringType => ASchema.create(ASchema.Type.STRING)
    case BinaryType => ASchema.create(ASchema.Type.BYTES)
    case TimestampType => ASchema.create(ASchema.Type.LONG) // epoch-millis, reference parity (§1.3)
    case st: StructType => toAvroSchema(st, name, ns)
    case ArrayType(et, containsNull) =>
      val e = toAvroType(et, s"${name}_item", ns)
      ASchema.createArray(
        if (containsNull) ASchema.createUnion(ASchema.create(ASchema.Type.NULL), e) else e)
    case MapType(StringType, vt, valueContainsNull) =>
      val v = toAvroType(vt, s"${name}_value", ns)
      ASchema.createMap(
        if (valueContainsNull) ASchema.createUnion(ASchema.create(ASchema.Type.NULL), v) else v)
    case other => throw new IllegalArgumentException(s"unsupported Avro mapping: $other")
  }

  def toGenericRecord(row: Row, st: StructType, schema: ASchema): GenericRecord = {
    val rec = new GenericData.Record(schema)
    st.fields.zipWithIndex.foreach { case (f, i) =>
      val fieldSchema = unwrapUnion(schema.getField(f.name).schema())
      rec.put(f.name, toAvroValue(row.get(i), f.dataType, fieldSchema))
    }
    rec
  }

  private def unwrapUnion(s: ASchema): ASchema =
    if (s.getType == ASchema.Type.UNION)
      s.getTypes.stream.filter(_.getType != ASchema.Type.NULL).findFirst.orElse(s)
    else s

  private def toAvroValue(v: Any, dt: DataType, schema: ASchema): Any = (v, dt) match {
    case (null, _) => null
    case (r: Row, st: StructType) => toGenericRecord(r, st, schema)
    case (s: scala.collection.Seq[_], ArrayType(et, _)) =>
      val es = unwrapUnion(schema.getElementType)
      val list = new java.util.ArrayList[Any](s.length)
      s.foreach(e => list.add(toAvroValue(e, et, es)))
      list
    case (m: scala.collection.Map[_, _], MapType(_, vt, _)) =>
      val vs = unwrapUnion(schema.getValueType)
      val jm = new java.util.HashMap[Any, Any](m.size)
      m.foreach { case (k, mv) => jm.put(k.toString, toAvroValue(mv, vt, vs)) }
      jm
    case (b: Array[Byte], BinaryType) => java.nio.ByteBuffer.wrap(b)
    case (t: java.sql.Timestamp, TimestampType) => t.getTime
    case (other, _) => other
  }

  /** Open an Avro container writer on `out` for `schema` with `codec`. */
  def containerWriter(out: OutputStream, schema: ASchema, codec: CodecFactory): DataFileWriter[GenericRecord] = {
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.setCodec(codec)
    w.create(schema, out)
    w
  }

  /** Inverse of [[toGenericRecord]]: Avro value → Spark external row value
    * for the given Spark type (Utf8 → String, ByteBuffer → bytes, nested
    * record/array/map recursion).
    */
  def fromAvroValue(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (r: GenericRecord, st: StructType) => fromGenericRecord(r, st)
    case (s: CharSequence, StringType) => s.toString
    case (bb: java.nio.ByteBuffer, BinaryType) =>
      val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
    case (l: java.util.List[_], ArrayType(et, _)) =>
      import scala.jdk.CollectionConverters._
      l.asScala.map(fromAvroValue(_, et)).toSeq
    case (m: java.util.Map[_, _], MapType(_, vt, _)) =>
      import scala.jdk.CollectionConverters._
      m.asScala.map { case (k, mv) => k.toString -> fromAvroValue(mv, vt) }.toMap
    case (n: java.lang.Number, IntegerType) => n.intValue()
    case (n: java.lang.Number, ShortType) => n.shortValue()
    case (n: java.lang.Number, ByteType) => n.byteValue()
    case (n: java.lang.Number, LongType) => n.longValue()
    case (n: java.lang.Number, FloatType) => n.floatValue()
    case (n: java.lang.Number, DoubleType) => n.doubleValue()
    case (n: java.lang.Long, TimestampType) => new java.sql.Timestamp(n)
    case (other, _) => other
  }

  def fromGenericRecord(rec: GenericRecord, st: StructType): org.apache.spark.sql.Row =
    org.apache.spark.sql.Row.fromSeq(
      st.fields.toSeq.map(f => fromAvroValue(rec.get(f.name), f.dataType)))
}
