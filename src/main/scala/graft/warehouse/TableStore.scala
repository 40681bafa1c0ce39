package graft.warehouse

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame

/** Minimal store contract the streaming pipeline writes through —
  * implemented by [[ParquetCatalog]] (simple dirs, full-rewrite merge),
  * [[MergeOnReadCatalog]] (base plus delta chain, O(batch) merge) and
  * [[JdbcWarehouse]] (SQL tables through JDBC). */
trait TableStore {
  def exists(schema: String, table: String): Boolean
  def load(schema: String, table: String): DataFrame
  /** R5 fast path: append-only load. Only [[MergeOnReadCatalog]] reads
    * `pks`: a compaction after the append resolves the deltas by key. */
  def append(schema: String, table: String, df: DataFrame,
      pks: Seq[String]): Unit
  /** Full SCD-1 merge of a CDC micro-batch (R1-R4). */
  def merge(schema: String, table: String, stage: DataFrame,
      pks: Seq[String]): Unit
  /** R5 replay guard, asked before an [[append]]: record `range` (a
    * creates-only batch's schema id and offset bounds) with the table
    * before any of its rows are written. False when the range is already
    * recorded: the batch is a replay, and the caller merges it instead,
    * since a merge converges where a second append lands the rows twice. */
  def claimAppend(schema: String, table: String, range: String): Boolean
}

/** The file stores' R5 replay guard ([[TableStore.claimAppend]]): one
  * empty marker file per claimed range in a directory beside the table's,
  * which no merge, migration or swap rewrites. Only the newest [[Keep]]
  * markers stay: a replay re-delivers a batch not yet committed, and a
  * batch claims one range per schema id, so an older marker can no longer
  * match one. Driver-side file work only: no Spark job. */
object AppendLog {
  val Keep = 16

  def claim(fs: FileSystem, dir: Path, range: String): Boolean = {
    val marker = new Path(dir, range)
    if (fs.exists(marker)) false
    else {
      fs.create(marker, false).close()
      val all = fs.listStatus(dir)
      if (all.length > Keep)
        all.sortBy(f => (f.getModificationTime, f.getPath.getName))
          .dropRight(Keep).foreach(f => fs.delete(f.getPath, false))
      true
    }
  }
}

/** Only perfbench's `Trace` reads this name, to drop a partition column
  * from a table's columns; no store writes such a column. */
object BucketedCatalog { val BucketCol = "bucket" }
