package graft.warehouse

import graft.core.TableSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** M9 as physical layout (SURVEY §2.3): the reference tags DISTKEY /
  * SORTKEY in Redshift DDL; the Spark-native equivalents are hash
  * partitioning on the dist column (co-locates merge/join keys, so the
  * per-batch merge shuffles nothing at read time) and sorting within
  * partitions on the sort columns (parquet min/max page stats make range
  * predicates prune — the sortkey scan benefit).
  */
object Layout {

  /** Apply a spec's dist/sort tags to a DataFrame before writing. */
  def arrange(df: DataFrame, spec: TableSpec, numPartitions: Int): DataFrame = {
    val distCols = spec.columns.filter(_.distKey).map(c => col(c.lowerName))
    val sortCols = spec.columns.filter(_.sortOrdinal > 0)
      .sortBy(_.sortOrdinal).map(c => col(c.lowerName))
    val parted =
      if (distCols.nonEmpty) df.repartition(numPartitions, distCols: _*)
      else df.repartition(numPartitions)
    if (sortCols.nonEmpty) parted.sortWithinPartitions(sortCols: _*)
    else parted
  }

  /** Z-curve value: the low `bits` bits of each column, interleaved (bit
    * j of column i lands at position j·n+i). Inputs are masked, so only
    * the low bits participate — callers bucket/normalize first if a
    * column's range exceeds 2^bits. Pure codegen'd bit arithmetic. */
  def zValue(cols: Seq[Column], bits: Int): Column = {
    val n = cols.size
    require(n >= 1 && bits >= 1 && n * bits <= 63,
      s"need 1 <= n*bits <= 63, got n=$n bits=$bits")
    cols.zipWithIndex.flatMap { case (c, ci) =>
      val m = c.cast("long").bitwiseAND(lit((1L << bits) - 1))
      (0 until bits).map(j =>
        shiftleft(shiftright(m, j).bitwiseAND(lit(1L)), j * n + ci))
    }.reduce(_.bitwiseOR(_))
  }

  /** Multi-dimensional clustering for file skipping (the sortkey story
    * when queries filter on SEVERAL columns): range-partition + sort by
    * the z-curve value, so rows close in EVERY dimension land in the
    * same files and a multi-column box predicate touches few of them —
    * parquet min/max stats then skip the rest. A linear compound sort
    * only prunes on its leading column; the z-curve bounds locality in
    * all `cols` at once (LayoutSpec measures the file-count difference).
    * This is a WRITE-side layout pass: one range shuffle per compaction,
    * zero read-side cost. */
  def zorder(df: DataFrame, cols: Seq[Column], numPartitions: Int,
      bits: Int = 16): DataFrame = {
    val z = zValue(cols, bits)
    df.repartitionByRange(numPartitions, z).sortWithinPartitions(z)
  }
}
