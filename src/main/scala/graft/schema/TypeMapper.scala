package graft.schema

import graft.core.ColSpec
import org.apache.spark.sql.types._

/** Source-type → warehouse-type and → Spark-type mapping with the exact
  * sizing rules of the reference (tipoca-stream pkg/redshift/redshift.go:
  * 1195-1405 `GetRedshiftDataType`, `applyLength`, `computeLength`,
  * `computeScale`; constants redshift.go:26-48).
  *
  * The warehouse types are emitted only in DDL for a JDBC warehouse sink;
  * within Spark everything narrows to native Catalyst types.
  */
object TypeMapper {

  // Constants (redshift.go:26-48).
  val StringType_ = "character varying"
  val StringMax = "character varying(65535)"
  val StringMaxLength = 65535
  val StringDefaultLength = 256
  val MaskedDataType = "character varying(50)"
  val MaskedDataTypeLength = 50
  val Numeric = "numeric"
  val NumericMaxLength = 38
  val NumericDefaultLength = 18
  val NumericMaxScale = 37
  val NumericDefaultScale = 0
  val Date = "date"
  val Integer = "integer"
  val Time = "character varying(32)"
  val Timestamp = "timestamp without time zone"
  /** Multi-byte (utf8) expansion applied to source varchar lengths. */
  val CharacterRatio = 4.0

  /** Debezium-type fallback map (redshift.go:1202-1213). */
  val debeziumToWarehouse: Map[String, String] = Map(
    "boolean" -> "boolean",
    "float" -> "real",
    "float32" -> "real",
    "float64" -> "double precision",
    "int" -> "integer",
    "int16" -> "smallint",
    "int32" -> Integer,
    "long" -> "bigint",
    "bigint" -> "bigint",
    "string" -> StringType_
  )

  /** MySQL source-type map (redshift.go:1215-1262). */
  val mysqlToWarehouse: Map[String, String] = Map(
    "bigint" -> "bigint",
    "integer unsigned" -> "bigint",
    "bit" -> "boolean",
    "bool" -> "boolean",
    "boolean" -> "boolean",
    "date" -> Date,
    "year" -> Date,
    "binary" -> StringType_,
    "char" -> StringType_,
    "set" -> StringType_,
    "enum" -> StringType_,
    "longblob" -> StringType_,
    "mediumblob" -> StringType_,
    "tinyblob" -> StringType_,
    "varchar" -> StringType_,
    "blob" -> StringMax,
    "longtext" -> StringMax,
    "mediumtext" -> StringMax,
    "text" -> StringMax,
    "tinytext" -> StringMax,
    "varbinary" -> StringMax,
    "int" -> Integer,
    "integer" -> Integer,
    "mediumint" -> Integer,
    "mediumint unsigned" -> Integer,
    "smallint unsigned" -> Integer,
    "double" -> "double precision",
    "double [precision]" -> "double precision",
    "double precision" -> "double precision",
    "double [precision] unsigned" -> "double precision",
    "float unsigned" -> "double precision",
    "time" -> Time,
    "datetime" -> Timestamp,
    "timestamp" -> Timestamp,
    "smallint" -> "smallint",
    "tinyint" -> "smallint",
    "tinyint unsigned" -> "smallint",
    "dec" -> Numeric,
    "decimal" -> Numeric,
    "decimal unsigned" -> Numeric,
    "fixed" -> Numeric,
    "numeric" -> Numeric,
    "bigint unsigned" -> Numeric,
    "float" -> "real",
    "json" -> StringMax,
    "polygon" -> StringType_
  )

  private def applyRange(masked: Boolean, min: Int, max: Int, cur: Int): Int =
    if (cur > max) max else if (cur < min && masked) min else cur

  private def computeScale(scale: String): Int =
    if (scale.isEmpty) NumericDefaultScale
    else math.min(math.max(scale.toInt, 0), NumericMaxScale)

  private def computeLength(
      len: String, default: Int, masked: Boolean, ratio: Double): Int =
    if (len.isEmpty) { if (masked) MaskedDataTypeLength else default }
    else math.ceil(len.toInt * ratio).toInt

  /** applyLength (redshift.go:1340-1380). */
  private def applyLength(
      ratio: Double, whType: String, len: String, scale: String,
      masked: Boolean): String = whType match {
    case StringType_ =>
      val l0 = computeLength(len, StringDefaultLength, masked, ratio)
      val l = applyRange(masked, MaskedDataTypeLength, StringMaxLength, l0)
      s"$whType($l)"
    case Numeric =>
      val l = computeLength(len, NumericDefaultLength, masked, 1.0)
      if (masked) {
        val ml = math.min(math.max(l, MaskedDataTypeLength), StringMaxLength)
        s"$StringType_($ml)"
      } else {
        s"$whType(${math.min(l, NumericMaxLength)},${computeScale(scale)})"
      }
    case _ => if (masked) MaskedDataType else whType
  }

  /** Port of GetRedshiftDataType (redshift.go:1383-1405) for sqlType=mysql.
    * Masked columns become varchar (sha1 hex is 40 chars). */
  def warehouseType(
      debeziumType: String,
      sourceColType: String,
      sourceColLength: String = "",
      sourceColScale: String = "",
      masked: Boolean = false): String = {
    val base = mysqlToWarehouse
      .get(sourceColType.toLowerCase)
      .orElse(debeziumToWarehouse.get(debeziumType.toLowerCase))
    base match {
      case Some(t) =>
        applyLength(CharacterRatio, t, sourceColLength, sourceColScale, masked)
      case None if masked => MaskedDataType
      case None =>
        throw new IllegalArgumentException(
          s"unmapped type: debezium=$debeziumType source=$sourceColType")
    }
  }

  def warehouseType(c: ColSpec): String =
    warehouseType(c.debeziumType, c.sourceType.columnType,
      c.sourceType.columnLength, c.sourceType.columnScale, c.masked)

  def sparkTypeFor(
      debeziumType: String, sourceColType: String,
      len: String = "", scale: String = ""): DataType = {
    val wh = warehouseType(debeziumType, sourceColType, len, scale, masked = false)
    wh match {
      case "boolean" => BooleanType
      case "real" => FloatType
      case "double precision" => DoubleType
      case "smallint" => ShortType
      case "integer" => IntegerType
      case "bigint" => LongType
      case "date" => DateType
      case "timestamp without time zone" => TimestampNTZType
      case t if t.startsWith("numeric") =>
        val p = if (len.isEmpty) NumericDefaultLength else math.min(len.toInt, NumericMaxLength)
        DecimalType(p, computeScale(scale))
      case _ => StringType
    }
  }
}
