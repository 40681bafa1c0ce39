package graft.warehouse

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame

/** Minimal store contract the streaming pipeline writes through —
  * implemented by [[ParquetCatalog]] (simple dirs, full-rewrite merge) and
  * [[BucketedCatalog]] (PK-hash buckets, O(affected-buckets) merge). */
trait TableStore {
  def exists(schema: String, table: String): Boolean
  def load(schema: String, table: String): DataFrame
  /** R5 fast path: append-only load. `pks` given for stores that bucket. */
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

/** Store selection, encoded from measurement rather than left to
  * scaladoc: the round-10 store sweep (10 k-row update batches,
  * nBuckets=64, local[32]; BENCHNOTES.md's measured crossover table,
  * "Bucketed-store crossover MEASURED") found
  *
  *  - merge-on-read flat at O(batch) (0.2–0.5 s) against every target
  *    size and key shape — the safe default substrate;
  *  - bucketed pruned-rewrite at parity with plain by target/batch ≈
  *    400:1, winning 1.5× at ≈4000:1, the gap growing linearly beyond —
  *    but ONLY when the batch's keys are bucket-localized (the measured
  *    win touched 4/64 buckets);
  *  - bucketed NEVER winning for uniform batch keys (0.4–0.6× plain at
  *    every size): a batch touching every bucket rewrites plain's volume
  *    plus the bucket machinery.
  */
object TableStore {
  sealed trait Choice
  /** [[MergeOnReadCatalog]]: O(batch) delta append, compaction-bounded. */
  case object Mor extends Choice
  /** [[BucketedCatalog]]: O(affected-buckets) pruned rewrite. */
  case object Bucketed extends Choice

  /** Crossover from the measured table: parity was at ≈400:1 and the
    * win at ≈4000:1, so the switch point sits at the geometric middle —
    * below it the per-bucket constants eat the saved I/O. */
  val BucketedMinTargetBatchRatio: Double = 1000.0

  /** The measured winning shape touched 4/64 buckets (0.0625); uniform
    * keys touch ~100%. A batch already spanning more than a quarter of
    * the buckets prunes too little to beat MOR's flat O(batch). */
  val BucketedMaxTouchedFraction: Double = 0.25

  /** Key-locality probe: fraction of the store's buckets this batch
    * would touch, computed with THE bucket formula
    * ([[BucketedCatalog.bucketExpr]] — not a re-implementation that can
    * drift). One narrow distinct-count job over the batch (micro-batch
    * sized, never the target). */
  def touchedBucketFraction(batch: DataFrame, pks: Seq[String],
      nBuckets: Int): Double =
    if (nBuckets <= 0) 1.0
    else batch.select(BucketedCatalog.bucketExpr(pks, nBuckets).as("__b"))
      .distinct().count().toDouble / nBuckets

  /** The measured selection rule: bucketed iff the batch is bucket-local
    * AND the target dwarfs the batch; MOR otherwise (including the
    * degenerate empty-batch case). Feed `touched` from
    * [[touchedBucketFraction]] or from observed stream history. */
  def recommend(targetRows: Long, batchRows: Long,
      touched: Double): Choice =
    if (batchRows > 0 &&
        targetRows.toDouble / batchRows >= BucketedMinTargetBatchRatio &&
        touched <= BucketedMaxTouchedFraction) Bucketed
    else Mor
}
