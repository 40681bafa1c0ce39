package graft.sources

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.DecoderFactory
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** S2 — Confluent wire-format handling (SURVEY §2.1): a Kafka value is
  * `0x00 ‖ int32-BE schemaId ‖ avro-binary` (tipoca-stream
  * pkg/serializer/serializer.go:50-83). The frame fields are extracted with
  * built-in codegen'd expressions; the Avro payload is decoded by a custom
  * Catalyst expression ([[AvroBinaryToStruct]]) straight into the table's
  * StructType. [[AvroBinaryToJson]] renders a payload as JSON text for the
  * `graft_avro_to_json` SQL function only.
  */
object ConfluentAvro {

  val MagicByte: Byte = 0x0
  val HeaderLength = 5

  /** Schema id: bytes 2..5 big-endian (serializer.go:66-70). */
  def schemaId(value: Column): Column =
    conv(hex(substring(value, 2, 4)), 16, 10).cast(IntegerType)

  /** Magic-byte check — rows failing it are corrupt frames. */
  def hasMagicByte(value: Column): Column =
    substring(value, 1, 1) === lit(Array(MagicByte))

  /** Full framing check: magic byte AND the 5-byte header present. A
    * frame that starts with 0x00 but is shorter than the header would
    * yield a null [[schemaId]] (NPE at the driver-side collect) — drop it
    * with the corrupt frames. */
  def isFramed(value: Column): Column =
    length(value) >= HeaderLength && hasMagicByte(value)

  /** Avro payload: everything after the 5-byte header. */
  def payload(value: Column): Column =
    value.substr(lit(HeaderLength + 1), length(value) - HeaderLength)

  /** Decode a framed Confluent value to a typed envelope struct — direct
    * Avro→InternalRow, no JSON round-trip ([[AvroBinaryToStruct]]). */
  def decode(value: Column, writerSchemaJson: String, sparkSchema: StructType): Column =
    org.apache.spark.sql.graft.Shims.column(
      AvroBinaryToStruct(
        org.apache.spark.sql.graft.Shims.expression(payload(value)),
        writerSchemaJson, sparkSchema))
}

/** Avro-binary → JSON-string decode as a Catalyst expression. Not
  * codegen'd (CodegenFallback) — it sits at the source boundary before the
  * codegen'd transform stage, exactly where the reference spends native
  * deserialization work too. The datum reader is per-partition,
  * lazily-initialized, and reused across rows. */
final case class AvroBinaryToJson(child: Expression, writerSchemaJson: String)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"avro payload must be binary, got ${child.dataType}")

  @transient private lazy val schema = new Schema.Parser().parse(writerSchemaJson)
  @transient private lazy val reader = new GenericDatumReader[GenericRecord](schema)

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val decoder = DecoderFactory.get().binaryDecoder(bytes, null)
    val record = reader.read(null, decoder)
    // GenericData.toString renders canonical JSON (quoted names, escaped
    // strings); unions collapse to their value, which is what from_json
    // expects.
    UTF8String.fromString(record.toString)
  }

  override protected def withNewChildInternal(newChild: Expression): AvroBinaryToJson =
    copy(child = newChild)
}

/** Avro-binary → typed struct in one step: GenericRecord fields are mapped
  * straight into an InternalRow shaped by `targetType` (by field name,
  * recursively for nested records). Avoids the render-to-JSON + re-parse
  * cost of the [[AvroBinaryToJson]] + `from_json` pair — at 100 TB the
  * source decode is a real fraction of the pipeline. CodegenFallback: it
  * sits at the source boundary ahead of the codegen'd transform stage. */
final case class AvroBinaryToStruct(
    child: Expression, writerSchemaJson: String, targetType: StructType)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = targetType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"avro payload must be binary, got ${child.dataType}")

  @transient private lazy val schema = new Schema.Parser().parse(writerSchemaJson)
  @transient private lazy val reader = new GenericDatumReader[GenericRecord](schema)

  private def bytesOf(x: java.nio.ByteBuffer): Array[Byte] = {
    val b = new Array[Byte](x.remaining()); x.duplicate().get(b); b
  }

  /** Dispatch on the TARGET type first — the value's runtime class alone
    * is ambiguous (Avro `bytes` may land in a string, binary, or decimal
    * slot; putting the wrong JVM type in an InternalRow corrupts rows
    * downstream, not here). */
  private def convert(v: Any, dt: DataType): Any = if (v == null) null else dt match {
    case st: StructType => v match {
      case r: GenericRecord => record(r, st)
      case other => throw new IllegalArgumentException(
        s"expected record for $st, got ${other.getClass}")
    }
    case IntegerType => v.asInstanceOf[java.lang.Number].intValue()
    case LongType => v.asInstanceOf[java.lang.Number].longValue()
    case ShortType => v.asInstanceOf[java.lang.Number].shortValue()
    case FloatType => v.asInstanceOf[java.lang.Number].floatValue()
    case DoubleType => v.asInstanceOf[java.lang.Number].doubleValue()
    case BooleanType => v.asInstanceOf[java.lang.Boolean].booleanValue()
    case BinaryType => v match {
      case bb: java.nio.ByteBuffer => bytesOf(bb)
      case b: Array[Byte] => b
      case other => other.toString.getBytes("UTF-8")
    }
    case _ => v match { // StringType and everything stringly
      case bb: java.nio.ByteBuffer => UTF8String.fromBytes(bytesOf(bb))
      case other => UTF8String.fromString(other.toString)
    }
  }

  private def record(r: GenericRecord, st: StructType): InternalRow = {
    val vals = new Array[Any](st.length)
    var i = 0
    while (i < st.length) {
      val f = st(i)
      val av = if (r.getSchema.getField(f.name) == null) null else r.get(f.name)
      vals(i) = convert(av, f.dataType)
      i += 1
    }
    InternalRow.fromSeq(vals.toIndexedSeq)
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val decoder = DecoderFactory.get().binaryDecoder(bytes, null)
    record(reader.read(null, decoder), targetType)
  }

  override protected def withNewChildInternal(newChild: Expression): AvroBinaryToStruct =
    copy(child = newChild)
}
