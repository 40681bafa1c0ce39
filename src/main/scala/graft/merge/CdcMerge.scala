package graft.merge

import graft.core.Cdc
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD-type-1 merge — the loader's relational core (SURVEY §2.4 R1-R7;
  * tipoca-stream pkg/redshiftloader/load_processor.go:386-444 "dedupe,
  * delete-common, delete-op-rows, insert" and pkg/redshift/redshift.go:
  * 666-795).
  *
  * Scale notes (designed for a 1000-executor cluster, tested on local[32]):
  *  - R1 dedupe is a single shuffle on the PK; `row_number` over
  *    (pk, offset desc) does map-side partial work and never materializes
  *    the self-join the reference's SQL uses (redshift.go:666-698 joins the
  *    staging table to itself; the window form is strictly cheaper).
  *  - R2 delete-common is a LEFT ANTI join of the big target against the
  *    micro-batch's keys. A micro-batch is bounded (reference default 10Mi,
  *    REDSHIFTSINK.md:53), so we `broadcast` the stage keys: the target is
  *    never shuffled, which is the difference between O(batch) and
  *    O(target) network at 100 TB targets. The keys come from the RAW
  *    stage, not the deduped one: dedupe keeps one row per PK, so the key
  *    set is the same, and the dedupe shuffle then runs once (for the
  *    inserted rows) instead of twice.
  *  - R5 skipMerge: insert-only batches append directly, skipping the
  *    dedupe shuffle, the key broadcast and the target rewrite
  *    (load_processor.go:774-825).
  */
object CdcMerge {

  private def offsetOrder: Column = col(Cdc.OffsetColumn).cast("long").desc

  /** R1 — staging dedupe: keep the last writer (max kafkaoffset) per PK
    * (redshift.go:666-698). */
  def dedupe(stage: DataFrame, pks: Seq[String]): DataFrame = {
    val w = Window.partitionBy(pks.map(col): _*).orderBy(offsetOrder)
    stage.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** R2 — delete-common: drop target rows whose PK appears in the stage
    * (redshift.go:700-753). Stage keys are always broadcast — the
    * micro-batch is small, the target is not, so the target never
    * shuffles. Duplicate stage keys are harmless (a left-anti join only
    * asks whether a key exists), so the keys are not distinct'ed: that
    * would be a shuffle of its own. */
  def deleteCommon(
      target: DataFrame, stage: DataFrame, pks: Seq[String]): DataFrame =
    target.join(broadcast(stage.select(pks.map(col): _*)), pks, "left_anti")

  /** R3/P12 — drop DELETE-op rows before insert (redshift.go:779-795). */
  def dropDeleteOps(stage: DataFrame): DataFrame =
    stage.filter(col(Cdc.OperationColumn) =!= Cdc.OpDelete)

  /** R4 — insert: strip metadata columns, distinct (reference UNLOADs the
    * staging table with DISTINCT, redshift.go:815-818), append. */
  def insertable(stage: DataFrame): DataFrame =
    stage.drop(Cdc.OffsetColumn, Cdc.OperationColumn).distinct()

  /** R6 — per-batch event-type tallies (batch_processor.go:430-440). */
  def eventCounts(stage: DataFrame): DataFrame =
    stage.groupBy(col(Cdc.OperationColumn).as("op")).count()

  /** R5 — skipMerge eligibility: a batch of only CREATE events can be
    * appended without staging (load_processor.go:774-825). */
  def skipMergeEligible(createEvents: Long, updateEvents: Long,
      deleteEvents: Long): Boolean =
    updateEvents == 0 && deleteEvents == 0 && createEvents > 0

  /** The full merge: target' = (target ⟕anti stageKeys) ∪ surviving stage
    * rows. `stage` must carry `kafkaoffset` + `debeziumop` plus exactly the
    * target's columns.
    *
    * Normally ONE fused Spark plan — Catalyst pipelines all four phases
    * into a single write, which is strictly better than the reference's
    * serialized SQL statements. Under AQE that write runs three jobs:
    * the broadcast of the raw stage's keys (R2), the one PK shuffle of
    * the dedupe (R1), and the write itself. When
    * [[graft.core.Metrics.enablePhaseBreakdown]] is on, each phase is
    * localCheckpoint'ed so its wall time is observable under the
    * reference's histogram names (dedupe / deletecommon / deleteop;
    * copystage and copytarget are timed by the caller around batch
    * materialization and the target write). The flag is one process-wide
    * switch, so the observability/throughput trade covers every table the
    * process merges while it is on. Values are identical either way. */
  def merge(
      target: DataFrame, stage: DataFrame, pks: Seq[String]): DataFrame =
    graft.core.Metrics.mergeRecorder() match {
      case None =>
        val deduped = dedupe(stage, pks)
        val kept = deleteCommon(target, stage, pks)
        val inserted = insertable(dropDeleteOps(deduped))
        // allowMissingColumns = add-column schema evolution (D4's
        // transact-able class) for free: old target rows read NULL for
        // newly-added columns.
        kept.unionByName(inserted, allowMissingColumns = true)
      case Some(rec) =>
        val deduped = rec.time("dedupe")(
          dedupe(stage, pks).localCheckpoint())
        val kept = rec.time("deletecommon")(
          deleteCommon(target, stage, pks)
            .localCheckpoint())
        val inserted = rec.time("deleteop")(
          insertable(dropDeleteOps(deduped)).localCheckpoint())
        // blocks are dead only after the caller's write action —
        // processBatch drains these once the batch completes
        Seq(deduped, kept, inserted).foreach(graft.core.Metrics.deferUnpersist)
        kept.unionByName(inserted, allowMissingColumns = true)
    }
}
