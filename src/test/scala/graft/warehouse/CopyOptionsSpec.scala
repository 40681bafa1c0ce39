package graft.warehouse

import graft.SparkSpec
import graft.core.{ColSpec, SourceType, TableSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** COPY option parity goldens (redshift.go:875-887 `TRUNCATECOLUMNS
  * ACCEPTINVCHARS`): Redshift varchar(n) is n BYTES, truncation keeps
  * whole characters, and each invalid UTF-8 byte is replaced with `?`. */
class CopyOptionsSpec extends SparkSpec {
  import spark.implicits._

  private def u(bytes: Int*): UTF8String =
    UTF8String.fromBytes(bytes.map(_.toByte).toArray)

  test("truncateUtf8: byte clamp lands on whole-character boundaries") {
    def t(s: String, n: Int): String =
      CopyOptions.truncateUtf8(UTF8String.fromString(s), n).toString
    assert(t("hello", 10) == "hello") // fits: untouched
    assert(t("hello", 3) == "hel")
    assert(t("héllo", 3) == "hé") // é is 2 bytes: 1+2=3
    assert(t("héllo", 2) == "h") // mid-é: drop the whole char
    assert(t("日本語", 7) == "日本") // 3-byte chars: 6 <= 7 < 9
    assert(t("a😀b", 4) == "a") // emoji is 4 bytes: 1+4 > 4
    assert(t("a😀b", 5) == "a😀")
    assert(t("abc", 0) == "")
  }

  test("sanitizeUtf8: each invalid byte becomes one replacement char") {
    def s(x: UTF8String): String = CopyOptions.sanitizeUtf8(x, "?").toString
    assert(s(u(0x41, 0xC3, 0x28)) == "A?(") // truncated 2-byte seq
    assert(s(u(0x80, 0x81)) == "??") // bare continuations
    assert(s(u(0xC0, 0x80)) == "??") // overlong NUL (modified UTF-8)
    assert(s(u(0xED, 0xA0, 0x80)) == "???") // UTF-16 surrogate encoding
    assert(s(u(0xF5, 0x41)) == "?A") // lead beyond U+10FFFF
    assert(s(u(0xF0, 0x9F, 0x98, 0x80)) == "😀") // valid emoji
    val valid = UTF8String.fromString("héllo 日本語")
    // valid input is returned as the SAME object (no copy)
    assert(CopyOptions.sanitizeUtf8(valid, "?") eq valid)
  }

  test("expressions run end-to-end under codegen, nulls pass through") {
    // cast(binary as string) wraps bytes unvalidated — the ingest shape
    // that smuggles invalid UTF-8 into a string column
    val df = Seq(
      (1L, Array[Byte](0x41, 0xC3.toByte, 0x28)),
      (2L, "héllo world".getBytes("UTF-8")),
      (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "b")
      .select(col("id"),
        CopyOptions.truncateColumns(
          CopyOptions.acceptInvChars(col("b").cast("string")), 6).as("s"))
      .orderBy("id")
    assert(df.as[(Long, String)].collect().toSeq ==
      Seq((1L, "A?("), (2L, "héllo"), (3L, null)))
  }

  test("clamp applies declared varchar byte widths from the table spec") {
    // varchar source length 2 -> x4 CharacterRatio -> varchar(8);
    // masked column with no declared length -> varchar(50);
    // integer column untouched
    val spec = TableSpec("s", "t", Seq(
      ColSpec("name", "string", SourceType("varchar", "2")),
      ColSpec("secret", "string", masked = true),
      ColSpec("n", "int32")))
    assert(CopyOptions.varcharBytes(spec.column("name").get).contains(8))
    assert(CopyOptions.varcharBytes(spec.column("secret").get).contains(50))
    assert(CopyOptions.varcharBytes(spec.column("n").get).isEmpty)
    val df = Seq(("héllo wide value", 7, "x" * 60, "free text"))
      .toDF("name", "n", "secret", "undeclared")
    val clamped = CopyOptions.clamp(df, spec)
    // one projection, every column in place: order, names, types and
    // nullability unchanged, non-string and undeclared columns included
    assert(clamped.schema == df.schema)
    val out = clamped.head()
    assert(out.getString(0) == "héllo w") // 8 bytes: h+é(2)+l+l+o+' '+w
    assert(out.getInt(1) == 7)
    assert(out.getString(2) == "x" * 50)
    assert(out.getString(3) == "free text")
  }
}
