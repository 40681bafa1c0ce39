package graft.warehouse

import graft.core.{ColSpec, TableSpec}
import graft.schema.TypeMapper
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types.{DataType, StringType, StructField}
import org.apache.spark.unsafe.types.UTF8String

/** The reference's COPY value policies (tipoca-stream
  * pkg/redshift/redshift.go:875-887 — every bulk load emits
  * `TRUNCATECOLUMNS ACCEPTINVCHARS`), re-expressed as a pre-write
  * projection:
  *
  *  - TRUNCATECOLUMNS: Redshift `varchar(n)` is n BYTES; an oversized
  *    value is silently truncated to the longest WHOLE-CHARACTER prefix
  *    that fits. Without this, the first oversized value aborts the load
  *    the reference would have quietly clamped.
  *  - ACCEPTINVCHARS: every byte that is not part of a valid UTF-8
  *    sequence is replaced with a replacement character (Redshift
  *    default `?`), instead of failing the load.
  *
  * Both are codegen'd Catalyst expressions over the UTF8String bytes —
  * no UDF boundary, stays inside the whole-stage loop. Declared widths
  * come from the table spec via [[TypeMapper.warehouseType]] (which
  * already applies the ×4 UTF-8 `CharacterRatio` to source lengths). */
object CopyOptions {

  /** Longest whole-character prefix of `s` with at most `maxBytes` UTF-8
    * bytes (TRUNCATECOLUMNS). Static so generated code can call it. */
  def truncateUtf8(s: UTF8String, maxBytes: Int): UTF8String = {
    if (s.numBytes <= maxBytes) s
    else {
      val b = s.getBytes
      var i = 0
      var done = false
      while (!done && i < b.length) {
        val n = UTF8String.numBytesForFirstByte(b(i))
        if (i + n > maxBytes) done = true else i += n
      }
      UTF8String.fromBytes(b, 0, i)
    }
  }

  /** Replace every byte not part of a valid UTF-8 sequence with `repl`
    * (ACCEPTINVCHARS: one replacement char per invalid byte, the
    * documented Redshift behavior). Valid input returns the input
    * object unchanged (no copy). */
  def sanitizeUtf8(s: UTF8String, repl: String): UTF8String = {
    val b = s.getBytes
    var i = 0
    var clean = true
    while (clean && i < b.length) {
      val n = seqLen(b, i)
      if (n == 0) clean = false else i += n
    }
    if (clean) s
    else {
      val rb = repl.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val out = new java.io.ByteArrayOutputStream(b.length + 8)
      i = 0
      while (i < b.length) {
        val n = seqLen(b, i)
        if (n == 0) { out.write(rb, 0, rb.length); i += 1 }
        else { out.write(b, i, n); i += n }
      }
      UTF8String.fromBytes(out.toByteArray)
    }
  }

  /** Length of the valid UTF-8 sequence starting at `i`, or 0 if the
    * byte at `i` does not begin one (RFC 3629 table: rejects overlong
    * forms, surrogates, and > U+10FFFF). */
  private def seqLen(b: Array[Byte], i: Int): Int = {
    val n = b.length
    def cont(j: Int): Boolean = j < n && (b(j) & 0xC0) == 0x80
    val c = b(i) & 0xFF
    if (c < 0x80) 1
    else if (c < 0xC2) 0 // bare continuation byte or overlong lead
    else if (c < 0xE0) { if (cont(i + 1)) 2 else 0 }
    else if (c < 0xF0) {
      val lo = if (c == 0xE0) 0xA0 else 0x80
      val hi = if (c == 0xED) 0x9F else 0xBF // exclude UTF-16 surrogates
      if (cont(i + 1) && (b(i + 1) & 0xFF) >= lo && (b(i + 1) & 0xFF) <= hi &&
        cont(i + 2)) 3
      else 0
    } else if (c < 0xF5) {
      val lo = if (c == 0xF0) 0x90 else 0x80
      val hi = if (c == 0xF4) 0x8F else 0xBF // cap at U+10FFFF
      if (cont(i + 1) && (b(i + 1) & 0xFF) >= lo && (b(i + 1) & 0xFF) <= hi &&
        cont(i + 2) && cont(i + 3)) 4
      else 0
    } else 0
  }

  /** TRUNCATECOLUMNS as a column: clamp to `maxBytes` UTF-8 bytes on a
    * whole-character boundary. */
  def truncateColumns(c: Column, maxBytes: Int): Column =
    Shims.column(Utf8Truncate(Shims.expression(c), maxBytes))

  /** ACCEPTINVCHARS as a column: invalid bytes → `replacement`. */
  def acceptInvChars(c: Column, replacement: String = "?"): Column =
    Shims.column(Utf8Sanitize(Shims.expression(c), replacement))

  /** Declared byte width of a column's warehouse varchar type, if any. */
  def varcharBytes(c: ColSpec): Option[Int] =
    scala.util.Try(TypeMapper.warehouseType(c)).toOption.flatMap(t =>
      "character varying\\((\\d+)\\)".r.findFirstMatchIn(t)
        .map(_.group(1).toInt))

  /** The COPY projection: every string column with a declared varchar
    * width gets ACCEPTINVCHARS then TRUNCATECOLUMNS before the write —
    * what the reference's `COPY … TRUNCATECOLUMNS ACCEPTINVCHARS` does
    * server-side on every load (redshift.go:875-887). Non-string and
    * undeclared columns pass through untouched, in place.
    *
    * One `select` over all columns: a `withColumn` per clamped column
    * would re-analyse the growing plan once per column, on every
    * trigger. */
  def clamp(df: DataFrame, spec: TableSpec,
      replacement: String = "?"): DataFrame = {
    val widths = spec.columns
      .flatMap(c => varcharBytes(c).map(c.lowerName -> _)).toMap
    val fields = df.schema.fields
    def clamped(f: StructField) =
      f.dataType == StringType && widths.contains(f.name)
    if (!fields.exists(clamped)) df
    else df.select(fields.toIndexedSeq.map { f =>
      val c = df.col(s"`${f.name.replace("`", "``")}`")
      if (clamped(f))
        truncateColumns(acceptInvChars(c, replacement), widths(f.name))
          .as(f.name)
      else c
    }: _*)
  }
}

/** Whole-character UTF-8 byte truncation (TRUNCATECOLUMNS). */
final case class Utf8Truncate(child: Expression, maxBytes: Int)
    extends UnaryExpression {
  require(maxBytes >= 0, s"maxBytes=$maxBytes must be >= 0")

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"utf8_truncate requires a string column, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    CopyOptions.truncateUtf8(input.asInstanceOf[UTF8String], maxBytes)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.warehouse.CopyOptions.truncateUtf8($c, $maxBytes);")

  override protected def withNewChildInternal(
      newChild: Expression): Utf8Truncate = copy(child = newChild)
}

/** Invalid-UTF-8 byte replacement (ACCEPTINVCHARS). */
final case class Utf8Sanitize(child: Expression, replacement: String)
    extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"utf8_sanitize requires a string column, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    CopyOptions.sanitizeUtf8(input.asInstanceOf[UTF8String], replacement)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val replRef = ctx.addReferenceObj("repl", replacement, "java.lang.String")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.warehouse.CopyOptions.sanitizeUtf8($c, $replRef);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): Utf8Sanitize = copy(child = newChild)
}
