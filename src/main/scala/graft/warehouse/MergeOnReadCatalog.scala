package graft.warehouse

import graft.core.Cdc
import graft.merge.CdcMerge
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Merge-on-read table store: O(micro-batch) writes per trigger, the
  * resident-stream answer at 100 TB.
  *
  * [[ParquetCatalog]] rewrites the WHOLE target per merge, O(|target|)
  * per trigger whatever the batch's keys. This store never rewrites the
  * target on the hot path at all: a merge dedupes the batch and appends
  * it as an immutable delta directory, and conflict
  * resolution (last-writer-wins per PK, DELETE drops the row) moves to
  * read time — the same trade transactional lake formats call
  * merge-on-read, and the shape the reference's staging-table COPY
  * avoids only because Redshift owns the merge
  * (load_processor.go:672-832).
  *
  * Layout under `root/<schema>/<table>/`:
  *  - `base/` — resolved rows, no CDC columns;
  *  - `delta_<seq>/` — one deduped micro-batch, CDC columns kept;
  *  - `.pks` — the PK column list (load() resolves without the caller).
  *
  * Ordering: deltas resolve by `(delta seq DESC, kafkaoffset DESC)` per
  * PK. The seq — the arrival order of micro-batches, which Structured
  * Streaming's foreachBatch guarantees monotone — outranks the raw
  * offset so the R5 append fast path (insertable rows, no offsets) still
  * orders correctly after an earlier delta's DELETE of the same PK
  * (delete-then-recreate). Base rows implicitly rank below every delta:
  * the base is a fold of consumed deltas, and live deltas are strictly
  * newer.
  *
  * Read cost: resolving the small delta set is a delta-sized window;
  * the base never shuffles (the resolved deltas broadcast into the same
  * anti-join [[CdcMerge.deleteCommon]] the eager stores use). Unbounded
  * delta accumulation is the MOR failure mode, so compaction (fold the
  * live deltas into a shadow base, two-rename swap, crash-recoverable)
  * triggers on MEASURED delta-chain read cost, not just a count: each
  * reader pays ~O(delta bytes) extra (the window sort + broadcast build
  * are delta-sized; the base scan is paid either way), while compaction
  * costs one ~O(base+delta bytes) rewrite. So the store compacts when
  * live delta bytes (from file metadata — measured, free at the driver)
  * exceed `maxDeltaBytesRatio` × base bytes — i.e. when the per-read
  * surcharge reaches a set fraction of the rewrite that would erase it —
  * with `compactEvery` kept as a count backstop for the many-tiny-deltas
  * regime, where per-delta constant costs (file opens, plan nodes,
  * listStatus) dominate bytes (the byte trigger only engages above
  * `ratioFloorBytes`; amortization note: each byte-triggered fold grows
  * the base ×(1+ratio), so total write amplification is the geometric
  * sum ≈ (1+1/ratio)× data — bounded, LSM-style, while read
  * amplification stays ≤ 1+ratio). Re-applying a delta that compaction
  * already folded is idempotent (same latest values upsert to
  * themselves; a DELETE of an absent row is a no-op), so a crash
  * between the swap and the delta cleanup is benign. The fold is also
  * the one moment the base is rewritten, so `layoutCols` (optional)
  * z-clusters it then — multi-column file skipping for readers at zero
  * extra write: deltas stay append-cheap, the fold pays the sort it
  * was already shuffling for.
  *
  * Single writer per table, like the reference's per-table loader
  * (load_processor.go:80-104); readers are unrestricted — delta dirs
  * appear atomically (written to a dot-prefixed tmp dir, renamed in)
  * and the base swap keeps a `__old` copy that readers read mid-swap
  * and writers [[recover]].
  */
final class MergeOnReadCatalog(
    spark: SparkSession, root: String,
    compactEvery: Int = 8, deltaPartitions: Int = 4,
    maxDeltaBytesRatio: Double = 0.25,
    ratioFloorBytes: Long = 64L << 20,
    layoutCols: Seq[String] = Nil,
    layoutBits: Int = 16)
    extends TableStore {
  require(compactEvery >= 1, "compactEvery must be >= 1")
  require(maxDeltaBytesRatio > 0, "maxDeltaBytesRatio must be > 0")

  private val DeltaPrefix = "delta_"

  private def fs = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def tablePath(schema: String, table: String): String =
    s"$root/$schema/$table"
  private def basePath(schema: String, table: String): String =
    s"${tablePath(schema, table)}/base"

  def exists(schema: String, table: String): Boolean = {
    recover(schema, table)
    fs.exists(new Path(basePath(schema, table)))
  }

  /** Crash recovery for the compaction swap ([[AtomicDir.recover]]):
    * base renamed aside but the shadow never renamed in → restore
    * `base__old`. (Deltas the crashed compaction meant to delete simply
    * stay live and re-apply.) */
  private def recover(schema: String, table: String): Unit =
    AtomicDir.recover(fs, new Path(basePath(schema, table)))

  /** Live delta dirs as (seq, path), seq-ascending. */
  private def deltas(schema: String, table: String): Seq[(Long, String)] = {
    val dir = new Path(tablePath(schema, table))
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(DeltaPrefix))
      .map(st => (st.getPath.getName.stripPrefix(DeltaPrefix).toLong,
        st.getPath.toString))
      .sortBy(_._1)
  }

  private def pksOf(schema: String, table: String): Seq[String] = {
    val in = fs.open(new Path(tablePath(schema, table), ".pks"))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      .split(",").toSeq.filter(_.nonEmpty)
    finally in.close()
  }

  private def writePks(schema: String, table: String, pks: Seq[String]): Unit = {
    val out = fs.create(new Path(tablePath(schema, table), ".pks"), true)
    try out.write(pks.mkString(",").getBytes("UTF-8")) finally out.close()
  }

  /** Append `df` as the next delta: write to a dot-prefixed tmp dir
    * (hidden from parquet readers), rename in — readers never observe a
    * half-written delta. */
  private def writeDelta(schema: String, table: String, df: DataFrame): Unit = {
    val seq = deltas(schema, table).lastOption.map(_._1 + 1).getOrElse(0L)
    val tmp = new Path(tablePath(schema, table), ".tmp_delta")
    // micro-batches are small: collapse to a few files so the read-side
    // union doesn't accumulate per-trigger file-count amplification
    df.coalesce(deltaPartitions).write.mode(SaveMode.Overwrite)
      .parquet(tmp.toString)
    val dst = new Path(tablePath(schema, table), f"$DeltaPrefix$seq%09d")
    if (!fs.rename(tmp, dst))
      throw new IllegalStateException(s"delta publish failed renaming $tmp")
  }

  /** The resolved view: base minus PKs touched by live deltas, plus each
    * touched PK's last-written surviving row ([[MergeOnReadCatalog.resolve]]).
    * A reader: it mutates nothing, and mid-swap reads the base where
    * [[AtomicDir.readablePath]] finds it (`base__old`). Recovering here
    * would race a compaction's swap ([[AtomicDir]]). */
  def load(schema: String, table: String): DataFrame = {
    val target = new Path(basePath(schema, table))
    val base = spark.read.parquet(
      AtomicDir.readablePath(fs, target).getOrElse(target).toString)
    val live = deltas(schema, table)
    if (live.isEmpty) base
    else MergeOnReadCatalog.resolve(base,
      live.map { case (seq, p) => (seq, spark.read.parquet(p)) },
      pksOf(schema, table))
  }

  /** R5 fast path: create-only rows already known new. They ride a delta
    * with synthetic CDC columns — seq ordering (not the zero offset)
    * ranks them above every earlier delta, so a prior DELETE of a
    * re-created PK cannot swallow them. */
  def append(schema: String, table: String, df: DataFrame,
      pks: Seq[String]): Unit = {
    writeDelta(schema, table, df
      .withColumn(Cdc.OffsetColumn, lit(0L))
      .withColumn(Cdc.OperationColumn, lit(Cdc.OpCreate)))
    maybeCompact(schema, table, pks)
  }

  /** No record: a replayed append is one more delta of the same rows, and
    * read-time resolution keeps one row per PK, so the replay converges. */
  def claimAppend(schema: String, table: String, range: String): Boolean = true

  /** O(batch): dedupe the micro-batch, publish it as a delta. The target
    * is neither read nor rewritten (contrast [[ParquetCatalog.merge]]). */
  def merge(schema: String, table: String, stage: DataFrame,
      pks: Seq[String]): Unit = {
    if (!exists(schema, table)) {
      fs.mkdirs(new Path(tablePath(schema, table)))
      writePks(schema, table, pks)
      writeBase(schema, table,
        CdcMerge.insertable(CdcMerge.dropDeleteOps(CdcMerge.dedupe(stage, pks))))
    } else {
      writeDelta(schema, table, CdcMerge.dedupe(stage, pks))
      maybeCompact(schema, table, pks)
    }
  }

  private def dirBytes(path: String): Long = {
    val p = new Path(path)
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
  }

  /** Live delta bytes vs base bytes — the measured read-cost inputs the
    * compaction policy runs on (file metadata only; no data read). */
  def readAmplification(schema: String, table: String): (Long, Long) = {
    val d = deltas(schema, table).map { case (_, p) => dirBytes(p) }.sum
    (d, dirBytes(basePath(schema, table)))
  }

  private def maybeCompact(schema: String, table: String,
      pks: Seq[String]): Unit = {
    val live = deltas(schema, table)
    if (live.size >= compactEvery) { compact(schema, table); return }
    // cost trigger: every reader pays ~O(delta bytes) over a compacted
    // read; fold once that surcharge reaches the set fraction of the
    // base rewrite that erases it (class doc). Below the floor, bytes
    // don't model the cost (per-file constants dominate tiny parquet) —
    // the count backstop governs that regime.
    val (deltaBytes, baseBytes) = readAmplification(schema, table)
    if (deltaBytes >= ratioFloorBytes &&
        deltaBytes > maxDeltaBytesRatio * math.max(baseBytes, 1L))
      compact(schema, table)
  }

  /** Fold the live deltas into the base: materialize the resolved view
    * into a shadow, swap it in ([[AtomicDir.swapInto]]), then drop the
    * consumed deltas. Crash-safe at every point: before the swap nothing
    * changed; between the renames [[recover]] restores `base__old`; after
    * the swap, not-yet-deleted deltas re-apply idempotently. */
  def compact(schema: String, table: String): Unit = {
    recover(schema, table)
    val consumed = deltas(schema, table)
    if (consumed.isEmpty) return
    // the fold is the one moment the base is rewritten anyway — z-cluster
    // it for free file skipping on `layoutCols` (multi-column min/max
    // pruning; a delta append never pays this, only the fold does)
    val resolved = load(schema, table)
    val arranged =
      if (layoutCols.isEmpty) resolved
      else {
        // ~512 MB output files, sized from the measured bytes the fold
        // is already tracking (same rule Compaction.targetPartitions uses)
        val (db, bb) = readAmplification(schema, table)
        val nParts = math.max(1,
          math.ceil((db + bb).toDouble / (512L << 20)).toInt)
        Layout.zorder(resolved, layoutCols.map(col), nParts, layoutBits)
      }
    writeBase(schema, table, arranged)
    consumed.foreach { case (_, p) => fs.delete(new Path(p), true) }
  }

  /** Write `df` as the base through the shadow `base__compacting` and
    * swap it in ([[AtomicDir.swapInto]]): `base` only ever holds a whole
    * table, so a crash mid-write cannot leave one [[exists]] would take
    * for the table. */
  private def writeBase(schema: String, table: String, df: DataFrame): Unit = {
    val shadow = new Path(basePath(schema, table) + "__compacting")
    df.write.mode(SaveMode.Overwrite).parquet(shadow.toString)
    AtomicDir.swapInto(fs, new Path(basePath(schema, table)), shadow)
  }

  /** Live delta count (observability + specs). */
  def deltaCount(schema: String, table: String): Int =
    deltas(schema, table).size
}

object MergeOnReadCatalog {
  private val SeqCol = "__delta_seq"

  /** Merge-on-read resolution, the pure plan: base minus PKs touched by
    * any delta, plus each touched PK's last-written surviving row. Deltas
    * carry [[Cdc.OffsetColumn]] + [[Cdc.OperationColumn]]; ordering per
    * PK is `(delta seq DESC, offset DESC)` — batch arrival order outranks
    * the raw offset so an offset-less R5 append still lands above an
    * earlier delta's DELETE of the same PK. DELETE survivors drop out;
    * the base never shuffles (resolved delta keys broadcast into
    * [[CdcMerge.deleteCommon]]'s anti-join); a delta carrying a migrated
    * (added) column widens the view and pre-migration rows read NULL (D4).
    *
    * Used by [[MergeOnReadCatalog.load]] (deltas read from delta dirs). */
  def resolve(base: DataFrame, deltas: Seq[(Long, DataFrame)],
      pks: Seq[String]): DataFrame = {
    val all = deltas.map { case (seq, df) => df.withColumn(SeqCol, lit(seq)) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val w = Window.partitionBy(pks.map(col): _*)
      .orderBy(col(SeqCol).desc, col(Cdc.OffsetColumn).cast("long").desc)
    val latest = all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", SeqCol)
    val kept = CdcMerge.deleteCommon(base, latest, pks)
    val survivors = latest.filter(col(Cdc.OperationColumn) =!= Cdc.OpDelete)
      .drop(Cdc.OffsetColumn, Cdc.OperationColumn)
    kept.unionByName(survivors, allowMissingColumns = true)
  }
}
