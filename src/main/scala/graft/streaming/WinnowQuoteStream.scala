package graft.streaming

import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming quote/contamination detection — the stream twin of
  * [[graft.ops.Dedup.winnowIncremental]], a member of the dedup
  * stream family (exact keys: [[StreamDedup]]; paragraphs:
  * [[ParaDedupStream]]; signatures: [[MinHashDedupStream]]; substrings:
  * [[SubstrDedupStream]]; winnowed fingerprints: this). Each
  * micro-batch of (id, text) emits the doc pairs sharing at least
  * `minShared` winnowing fingerprints with the accumulated corpus OR
  * with earlier docs in the same batch — each
  * shared fingerprint witnesses a shared ≥ w+k−1-token run, so an
  * emission is positional quote evidence at ingest time (eval-set
  * contamination alerts, attribution checks), not just a similarity
  * score.
  *
  * State is a (fp, doc, batch_id, lineage) parquet table via the shared
  * [[StreamStore]] protocol — the same replay-exactly-once visibility
  * filter (decisions consult only strictly-earlier batches of the same
  * lineage, so an at-least-once foreachBatch replay reproduces
  * identical pairs), fresh-checkpoint lineage adoption, and crash-safe
  * AtomicDir compaction the family's crash-matrix spec pins; this
  * class adds no store calls beyond the shared protocol.
  *
  * Scale shape: the batch's fingerprints are micro-batch-sized, and
  * the store probe is BLOOM-GATED and bucket-pruned (r17,
  * [[KeyGate]]): a corpus fp sketch screens the batch's fingerprints
  * map-side, only possible members broadcast into the probe, the
  * store scan partition-prunes to the fp-buckets those survivors hash
  * into, and a zero-survivor trigger never reads the store — the
  * corpus side never shuffles and its per-trigger scan is O(touched
  * buckets), not O(store). Past `broadcastCap` survivors the probe
  * falls back to the non-broadcast shuffle join (degrade, don't fail
  * the trigger). The pair group-by runs on matched rows only.
  * Boilerplate governance: `maxFpDocs` caps fp frequency at
  * [[compact]] time (a fingerprint carried by M corpus docs fans each
  * batch hit M ways — past the cap it is boilerplate, not quote
  * evidence, and is dropped from the store). Doc ids are normalized
  * to LONG in the store.
  */
final class WinnowQuoteStream(spark: SparkSession, storePath: String,
    idCol: String, textCol: String, k: Int, w: Int,
    minShared: Long = 2L, lineage: String = "default",
    compactEvery: Int = 0, storeBuckets: Int = 64,
    broadcastCap: Long = 1L << 20, sketchItems: Long = 1L << 21,
    sketchBits: Long = 1L << 24, gateFromBytes: Long = 64L << 20,
    maxFpDocs: Long = 0L) {
  require(minShared > 0, "minShared must be positive")

  private var batchesSeen = 0L
  private var pairsFound = 0L
  private var fpsStored = 0L

  /** Totals since construction: (batches, quote pairs, fps stored). */
  def stats: (Long, Long, Long) = (batchesSeen, pairsFound, fpsStored)

  /** O(store) gate-sketch rebuilds so far (growth-harness telemetry). */
  def gateRebuilds: Long = gate.rebuilds

  private val store =
    new StreamStore(spark, storePath, lineage, storeBuckets, "fp")
  // live driver-side corpus fp sketch — lifecycle (crossing build,
  // saturation rebuild, overflow hysteresis, small-path drop) is the
  // shared [[GateKeeper]]
  private[streaming] val gate = new GateKeeper(store, sketchItems,
    sketchBits, gateFromBytes, (it, b) => store.buildBloomCounted(it, b))

  /** The `foreachBatch` body: returns (id_new, id_corpus, shared_fps)
    * quote pairs for the batch — id_corpus is a stored doc, or the
    * earlier (smaller-id) doc for a within-batch pair — with the
    * batch's fingerprints already appended. The result rides a
    * deferred localCheckpoint: call
    * `graft.core.Metrics.drainUnpersist()` after sinking it. */
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
    // fp count rides the checkpoint materialization as an observed
    // metric (r16): the r15 body paid two standalone count jobs per
    // trigger (bFps, out) on top of its three real actions — at stream
    // batch sizes the per-job floor sets throughput, so each removed
    // action is throughput
    // EAGER checkpoint, deliberately (r18 re-audit): a lazy one saves
    // the standalone job (~12% on the 5-batch bench) but breaks the
    // observation — the skipStore path's `bFps.limit(0)` leg is the
    // first action to touch the observed node and fires `n` off a
    // zero-row partial scan. The count must ride the FULL
    // materialization, so the materialization stays its own action.
    val bObs = org.apache.spark.sql.Observation()
    val bFps = Dedup.winnowFingerprints(batch, idCol, textCol, k, w)
      .select(col(idCol).cast("long").as("__nid"), col("fp"))
      .observe(bObs, count(lit(1)).as("n"))
      .localCheckpoint()
    try {
      // bloom-gated + bucket-pruned corpus probe (r17, KeyGate doc):
      // zero bloom survivors skip the store read; gated probes scan
      // only the survivors' fp-buckets; past broadcastCap the
      // non-broadcast join degrades gracefully. Pair output identical:
      // the sketch has no false negatives and untouched buckets hold
      // no fp the batch carries.
      val kg = gate.plan(bFps, col("fp"), broadcastCap)
      val emptyCorpus = spark.range(0)
        .select(col("id").as("__oid"), col("id").as("fp"))
      val cross =
        (if (kg.skipStore)
          emptyCorpus.join(bFps.limit(0), "fp")
        else {
          val storeDf =
            if (kg.smallStore || kg.fallback) store.visible(batchId)
            else store.visiblePruned(batchId, kg.touched)
          storeDf.map { c =>
            val corpus = c.select(col("doc").as("__oid"), col("fp"))
            if (kg.fallback) corpus.join(bFps, "fp")
            else corpus.join(broadcast(bFps), "fp")
          }.getOrElse(emptyCorpus.join(bFps.limit(0), "fp"))
        })
        .select(col("__nid").as("id_new"), col("__oid").as("id_corpus"))
      // within-batch: the smaller id plays corpus (first-wins), each
      // unordered pair counted once
      val a = bFps.select(col("__nid").as("__a"), col("fp"))
      val b = bFps.select(col("__nid").as("__b"), col("fp"))
      val within = a.join(b, "fp").filter(col("__a") < col("__b"))
        .select(col("__b").as("id_new"), col("__a").as("id_corpus"))
      val oObs = org.apache.spark.sql.Observation()
      val out = cross.unionByName(within)
        .groupBy("id_new", "id_corpus")
        .agg(count(lit(1)).as("shared_fps"))
        .filter(col("shared_fps") >= minShared)
        .observe(oObs, count(lit(1)).as("n"))
        .localCheckpoint()
      graft.core.Metrics.deferUnpersist(out)
      val newFps = bFps.select(col("__nid").as("doc"), col("fp"))
      sink match {
        case Some(s) =>
          // overlapped tail: append reads bFps' cache, sink reads
          // out's cache — disjoint state, concurrent submission
          Overlap.auto(store.append(newFps, batchId))(s(out))
        case None => store.append(newFps, batchId)
      }
      // keep the gate a corpus superset (the collected hashes cover
      // every appended fp; staleness/saturation rules: GateKeeper doc)
      gate.afterAppend(kg)
      batchesSeen += 1
      pairsFound += Observed.long(oObs, "n")(out.count())
      fpsStored += Observed.long(bObs, "n")(bFps.count())
      if (compactEvery > 0 && batchesSeen % compactEvery == 0) compact()
      out
    } finally bFps.unpersist()
  }

  /** Fold replay duplicates: one row per (fp, doc, lineage) at its MIN
    * batch_id — the earliest introduction, preserving every later
    * batch's pair decisions — then (r18, `maxFpDocs` > 0) the
    * boilerplate fp-frequency cap the class doc promised: a
    * fingerprint carried by MORE than `maxFpDocs` distinct corpus docs
    * is navigation/license boilerplate, not quote evidence, and every
    * batch hit on it fans `|carriers|` pair rows — so it is DROPPED
    * from the store at the fold. Governance by design, not an
    * optimization: capped fps stop witnessing pairs from the next
    * trigger on (between compactions a newly-hot fp still fans — the
    * cap is a compaction-cadence property, like the fold itself).
    * Default 0 = off, decisions unchanged. */
  def compact(): Unit = store.compact { df =>
    val folded = df.groupBy("fp", "doc", "lineage")
      .agg(min("batch_id").as("batch_id"))
    if (maxFpDocs <= 0L) folded
    else {
      val hot = folded.groupBy("fp")
        .agg(countDistinct("doc").as("__carriers"))
        .filter(col("__carriers") > maxFpDocs)
        .select("fp")
      // anti-join inside the O(store) fold the compaction already
      // pays; no broadcast hint — the hot set is usually tiny (AQE
      // broadcasts it) but is adversarially unbounded
      folded.join(hot, Seq("fp"), "left_anti")
    }
  }
}
