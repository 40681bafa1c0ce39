package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Engine-portable deterministic hashing.
  *
  * The xxhash64 family used in the hot paths is Spark-specific: no external
  * SQL engine reproduces it, so xxhash-based sketches can only be
  * rows-checked. This module derives integers from md5 — which every
  * engine exposes with identical semantics — so MinHash / SimHash /
  * hyperplane-LSH signatures built on it can be recomputed bit-for-bit by
  * a DuckDB oracle (see Queries.oracles) while keeping the exact same
  * Spark plan shape as the fast path.
  *
  * Layout: h60 = first 15 hex chars of md5 as a 60-bit integer (fits a
  * BIGINT in any engine; DuckDB: `CAST(concat('0x', substr(md5(s),1,15))
  * AS BIGINT)`); h31 = h60 mod 2^31-1 for universal-family arithmetic
  * whose products stay below 2^62 (ANSI-safe).
  */
object Portable {

  /** Mersenne prime 2^31-1: the family modulus. */
  val P: Long = 2147483647L

  /** 60-bit md5-derived integer of a string column. */
  def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** [[h60]] reduced mod [[P]]. */
  def h31(c: Column): Column = h60(c) % P

  /** Driver-side twin of [[h60]] (plane/seed generation). */
  def h60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val hex = d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Universal-family coefficients h_i(x) = (a_i·x + b_i) mod P. Fixed
    * formulas so an oracle can interpolate the same constants. */
  def hashA(i: Int): Long = ((i + 1L) * 2654435761L) % P
  def hashB(i: Int): Long = (i * 40503L + 12345L) % P
}
