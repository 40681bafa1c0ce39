package graft.streaming

import graft.mask.{MaskConfig, MaskDiff}
import graft.warehouse.ParquetCatalog
import org.apache.spark.sql.DataFrame

/** O2/O3/O6 — zero-downtime mask reload (tipoca-stream
  * REDSHIFTSINK.md:91-130; controllers/redshiftsink_controller.go:494-548,
  * release.go:69-146): when the mask config changes for a table, the table
  * is rebuilt under `<table>_reload_<sha6>` with the new config while the
  * released table keeps serving, then atomically swapped in.
  *
  * In Spark terms: run a second pipeline (or batch replay) into the reload
  * table, watch its progress, release when caught up. The pieces compose
  * from the engine's existing operators; this object is the thin
  * orchestration over them.
  */
object MaskReload {

  /** The reload table's suffix: the one [[Reconciler]] releases, so a
    * table rebuilt under a git sha is the one the reconcile loop swaps. */
  def reloadSuffix(version: String): String = Reconciler.reloadSuffix(version)

  /** Plan: which tables need a rebuild under the new config. */
  def plan(current: MaskConfig, desired: MaskConfig,
      maxPerPass: Int = 5): Seq[String] =
    ControlPlane.releaseBatch(
      MaskDiff.changedTables(current, desired).toSeq.sorted, maxPerPass)

  /** Config for the rebuild pipeline of one table: same topic, the new
    * mask rules, writing to the suffixed reload table (O2's "reload"
    * sink group). */
  def reloadConfig(cfg: CdcStream.TopicConfig, desired: MaskConfig,
      version: String): CdcStream.TopicConfig =
    cfg.copy(maskConfig = desired,
      targetTable = cfg.targetTable + reloadSuffix(version),
      maskTable = cfg.maskTableName) // rules stay keyed by the base table

  /** Release: atomic swap of the rebuilt table into place (O6/D7). The
    * caller decides readiness (e.g. `RealtimeTracker.realtime`). */
  def release(catalog: ParquetCatalog, schema: String, table: String,
      version: String): Unit =
    catalog.release(schema, table, reloadSuffix(version))

  /** Batch-replay rebuild: reprocess historical micro-batches into the
    * reload table with the new config (the path used when the full event
    * history is replayable from the lake/batcher output). */
  def rebuildFromBatches(
      batches: Seq[DataFrame],
      fetcher: graft.sources.SchemaFetcher,
      catalog: ParquetCatalog,
      cfg: CdcStream.TopicConfig,
      desired: MaskConfig,
      version: String): Unit = {
    val rc = reloadConfig(cfg, desired, version)
    batches.foreach(b => CdcStream.processBatch(b, fetcher, catalog, rc))
  }
}
