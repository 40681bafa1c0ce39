package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming paragraph dedup — the stream-side twin of
  * [[graft.ops.Dedup.dedupParagraphs]], completing the family
  * ([[StreamDedup]] exact rows, this for the C4-style paragraph
  * screen): each micro-batch of documents loses every paragraph
  * already seen — in the accumulated corpus OR earlier in the batch
  * (first occurrence by (doc, pos) wins) — and documents reassemble
  * from their surviving paragraphs.
  *
  * State is a (key, batch_id, lineage) parquet table of md5 paragraph
  * keys. Tagging keys with the batch that introduced them makes replay
  * EXACTLY-ONCE by construction, with no marker file: the dedup
  * decision only consults keys with `batch_id < current` FROM THE SAME
  * `lineage`, so a replayed batch (foreachBatch is at-least-once)
  * excludes the keys its failed attempt already appended and
  * reproduces the identical output; its re-appended keys are
  * duplicates of identical rows, which membership semantics never
  * notice (and [[compact]] folds away, keeping min batch_id per
  * (key, lineage) — the earliest introduction, which preserves every
  * later batch's decision). Keys from OTHER lineages always count as
  * corpus: a NEW query (fresh checkpoint — foreachBatch ids restart at
  * 0) adopting an existing store passes a new `lineage` string and
  * inherits everything its predecessors screened.
  *
  * Scale shape: explode is batch-linear; the seen-lookup is
  * BLOOM-GATED and bucket-pruned (r17, [[KeyGate]]): a corpus key
  * sketch screens the batch's paragraph keys map-side, only possible
  * members broadcast into the store probe, the store scan
  * partition-prunes to the buckets those survivors hash into, and a
  * zero-survivor trigger never reads the store — the per-trigger
  * corpus term is O(touched buckets), not O(store), the same bound as
  * [[graft.ops.Dedup.incremental]]. Past `broadcastCap` survivors the
  * probe falls back to the non-broadcast shuffle join. Reassembly
  * shuffles only the batch. Executor memory holds nothing between
  * triggers.
  */
final class ParaDedupStream(spark: SparkSession, storePath: String,
    idCol: String, textCol: String, sep: String = "\n\n",
    lineage: String = "default", compactEvery: Int = 0,
    storeBuckets: Int = 64, broadcastCap: Long = 1L << 20,
    sketchItems: Long = 1L << 21, sketchBits: Long = 1L << 24,
    gateFromBytes: Long = 64L << 20) {

  private var batchesSeen = 0L
  private var parasKept = 0L
  private var parasDropped = 0L

  /** Totals since construction: (batches, paragraphs kept, dropped). */
  def stats: (Long, Long, Long) = (batchesSeen, parasKept, parasDropped)

  /** O(store) gate-sketch rebuilds so far (growth-harness telemetry). */
  def gateRebuilds: Long = gate.rebuilds

  // the shared side-store protocol: recover-on-read, lineage-scoped
  // replay visibility, tagged append, fold-compact (see StreamStore)
  private val store =
    new StreamStore(spark, storePath, lineage, storeBuckets, "key")
  // live driver-side corpus key sketch — lifecycle (crossing build,
  // saturation rebuild, overflow hysteresis, small-path drop) is the
  // shared [[GateKeeper]]
  private[streaming] val gate = new GateKeeper(store, sketchItems,
    sketchBits, gateFromBytes, (it, b) => store.buildBloomCounted(it, b))

  /** The `foreachBatch` body: returns (doc_id, clean_text, n_kept,
    * n_dropped) for the batch — the caller sinks it — with the new
    * paragraph keys already appended to the store. Pass foreachBatch's
    * `batchId`; decisions consult only strictly-earlier batches, so
    * re-running a batch id reproduces identical output. The returned
    * frame rides a deferred localCheckpoint: call
    * `graft.core.Metrics.drainUnpersist()` after sinking it (the
    * CdcStream per-trigger discipline), or a resident stream
    * accumulates checkpoint blocks. */
  def processBatch(batch: DataFrame, batchId: Long): DataFrame =
    processBatchImpl(batch, batchId, None)

  /** Sink-fused `foreachBatch` body (r19, VERDICT r18 #6): the output sink and the store append runs
    * via [[Overlap.auto]]: sequential by default (the r19 A/B rejected
    * local-mode concurrency — Overlap doc), concurrent under
    * `SPARK_GRAFT_TRIGGER_OVERLAP=on`. Both complete before return
    * (the replay contract); decisions and effects identical either
    * way (spec'd). */
  def processBatch(batch: DataFrame, batchId: Long,
      sink: DataFrame => Unit): Unit = {
    processBatchImpl(batch, batchId, Some(sink)); ()
  }

  private def processBatchImpl(batch: DataFrame, batchId: Long,
      sink: Option[DataFrame => Unit]): DataFrame = {
    // consumed twice (corpus-probe broadcast + the marked stream side):
    // lazy checkpoint, materialized by the broadcast build in marked's job
    val paras = batch
      .select(col(idCol).as("__id"),
        posexplode(split(coalesce(col(textCol), lit("")),
          java.util.regex.Pattern.quote(sep))))
      .select(col("__id"), col("pos").cast("long").as("__pos"),
        md5(col("col")).as("__key"), col("col").as("__para"))
      .localCheckpoint(false)
    val w = Window.partitionBy(col("__key"))
      .orderBy(col("__id"), col("__pos"))
    val first = paras.withColumn("__rn", row_number().over(w))
    // lineage scoping: foreachBatch ids restart at 0 when a NEW query
    // (fresh checkpoint) adopts an existing store — keys from OTHER
    // lineages must always count as corpus, and only the current
    // lineage's keys get the strictly-earlier-batch replay filter
    // (without this, a restarted pipeline would admit every duplicate
    // its predecessor already screened). StreamStore.visible owns both.
    // Corpus membership, bloom-gated + bucket-pruned (r17, KeyGate
    // doc): one batch-sized distinct-hash collect classifies the
    // trigger on the driver. Gated = LEFT SEMI of the PRUNED store
    // against the broadcast batch keys (store never shuffles, scan is
    // O(touched buckets)); zero bloom survivors skip the store read;
    // past broadcastCap the r15 shuffle shape takes over. Mark
    // semantics identical in all three: no false negatives, untouched
    // buckets hold no key the batch carries.
    val kg = gate.plan(paras, col("__key"), broadcastCap)
    // left-join marker, not anti-join: reassembly needs LOSING rows too
    // (they count as dropped), so every paragraph keeps a row. A
    // zero-survivor trigger skips the join AND its broadcast-build job
    // (r18, VERDICT #5); the checkpoint is LAZY — `out`'s
    // materialization below caches it in the same job and the append
    // reads the cached blocks, one fewer job/trigger.
    val marked0 =
      if (kg.skipStore)
        first.withColumn("__in_corpus", lit(null).cast("boolean"))
      else {
        val emptySeen = spark.range(0).select(lit("").as("__key"),
          lit(true).as("__in_corpus"))
        val storeDf =
          if (kg.smallStore || kg.fallback) store.visible(batchId)
          else store.visiblePruned(batchId, kg.touched)
        val probe =
          if (kg.fallback) paras.select(col("__key")).distinct()
          else broadcast(paras.select(col("__key")))
        val seen = storeDf.map(_.select(col("key").as("__key"))
            .join(probe, Seq("__key"), "left_semi")
            .distinct().withColumn("__in_corpus", lit(true)))
          .getOrElse(emptySeen)
        first.join(broadcast(seen), Seq("__key"), "left")
      }
    val marked = marked0.localCheckpoint(false)
    try {
      val keep = col("__rn") === 1 && col("__in_corpus").isNull
      // kept/dropped sums ride the checkpoint materialization as an
      // observed metric (r16, the SubstrDedupStream shape) instead of a
      // standalone aggregate job; bounded wait + recount fallback
      val obs = org.apache.spark.sql.Observation()
      val out = marked.groupBy(col("__id").as(idCol))
        .agg(
          array_join(transform(
            array_sort(collect_list(when(keep,
              struct(col("__pos"), col("__para"))))),
            s => s("__para")), sep).as("clean_text"),
          sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
          sum(when(!keep, 1L).otherwise(0L)).as("n_dropped"))
        .observe(obs, sum(col("n_kept")).as("k"),
          sum(col("n_dropped")).as("d"))
        .localCheckpoint()
      // the caller still reads `out` after we return — release its
      // blocks via the deferred pool (the CdcMerge soft-leak
      // discipline), not an eager unpersist
      graft.core.Metrics.deferUnpersist(out)
      val newKeys = marked.filter(keep).select(col("__key").as("key"))
      sink match {
        case Some(s) =>
          // overlapped tail: append reads marked's cache, sink reads
          // out's cache — disjoint state, concurrent submission
          Overlap.auto(store.append(newKeys, batchId))(s(out))
        case None => store.append(newKeys, batchId)
      }
      // keep the gate a corpus superset (the collected hashes cover
      // every appended key; staleness/saturation rules: GateKeeper doc)
      gate.afterAppend(kg)
      lazy val recount = out.agg(sum("n_kept"), sum("n_dropped")).head()
      val k = Observed.long(obs, "k")(
        if (recount.isNullAt(0)) 0L else recount.getLong(0))
      val d = Observed.long(obs, "d")(
        if (recount.isNullAt(1)) 0L else recount.getLong(1))
      batchesSeen += 1; parasKept += k; parasDropped += d
      // cadenced maintenance: folding bounds the per-trigger probe's
      // file listing, decisions unchanged
      if (compactEvery > 0 && batchesSeen % compactEvery == 0) compact()
      out
    } finally {
      marked.unpersist()
      paras.unpersist()
    }
  }

  /** Fold replay-duplicated keys: one row per (key, lineage) at its MIN
    * batch_id (the earliest introduction — preserves every later
    * batch's decision; other-lineage rows always count as corpus, so
    * per-lineage folding is safe and row count stays ≤ |lineages| per
    * key). Shadow-write + swap via the shared [[StreamStore]]. */
  def compact(): Unit = store.compact(
    _.groupBy("key", "lineage").agg(min("batch_id").as("batch_id")))
}
