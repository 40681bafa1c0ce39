package graft.streaming

import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming MinHash near-dup dedup, a member of the streaming dedup
  * family (exact keys: [[StreamDedup]]; paragraphs: [[ParaDedupStream]];
  * whole-document text near-dups: this).
  *
  * Per micro-batch of (id, text):
  *
  *  1. signatures once ([[Dedup.minHashSignaturesPortable]]);
  *  2. candidate pairs within the batch AND against the accumulated
  *     signature store ([[Dedup.minHashIncrementalPortable]] — banded,
  *     batch side broadcast, the stored side never re-shingled);
  *  3. greedy keep: a batch doc drops if it pairs with ANY corpus doc
  *     (earlier-arrival-wins) or with a smaller-id batch doc (the batch
  *     operator's min-id rule);
  *  4. survivors' signatures append to the store tagged with
  *     (batch_id, lineage) — the [[ParaDedupStream]] replay trick:
  *     decisions consult only same-lineage `batch_id < current` (other
  *     lineages always count, so a fresh-checkpoint restart keeps the
  *     accumulated corpus), an at-least-once replay excludes its own
  *     failed-attempt appends and reproduces identical output with no
  *     marker file; [[compact]] folds replay duplicates.
  *
  * Scale shape: signatures are batch-linear; the cross lookup explodes
  * band keys on BOTH sides but broadcasts only the batch — the stored
  * side streams through the join and NEVER shuffles. The probe is
  * BLOOM-GATED past `gateFromBytes` (r17, [[KeyGate]]): a driver-held
  * sketch over the corpus's BAND KEYS screens the batch's band keys,
  * and a trigger with zero possible collisions runs only the
  * within-batch self-join — the corpus is not read at all, the
  * novelty-dominated common case.
  *
  * ==Band-key pointer table (r18)==
  *
  * COLLIDING triggers are bucket-pruned too. r17 rejected bucketing the
  * signature store on band keys because the exploded layout would store
  * the ~512 B signature `bands`× per doc; the trade as framed was a
  * false binary (VERDICT r17 #2). A `(bkh, id)` POINTER side table at
  * `storePath + "__bands"` — bkh = `xxhash64(band key)`, 8 B, so
  * ~16 B/row ≈ a couple hundred bytes per doc on disk — restores
  * pruning without copying signatures: the gate's touched-bucket set
  * (band-key space) prunes the pointer table to the candidate doc ids
  * sharing a band key with the batch, and only THOSE ids' buckets of
  * the id-bucketed signature store are read. Hashing the ~50 B band-key
  * struct down to 8 B is sound because every consumer (bloom, bucket
  * placement, the semi-join) composes over the SAME hashed column on
  * both sides; a collision only over-approximates the candidate set,
  * which the exact banded pair join filters anyway. A
  * duplicate-heavy trigger's corpus term is O(touched buckets) on both
  * stores, not O(store); candidate sets past `broadcastCap` degrade to
  * the full scan instead of failing the trigger. Both stores share one
  * (batch_id, lineage) tagging, so replay/restart visibility carries
  * over; a crash between the two appends is healed by the replay (the
  * half-appended batch is invisible to its own re-run, which re-appends
  * to both). Adopting an r17 signature-only store backfills the pointer
  * table once, tags preserved. Executors hold nothing between triggers.
  */
final class MinHashDedupStream(spark: SparkSession, storePath: String,
    idCol: String, textCol: String,
    n: Int = 3, numHashes: Int = 64, bands: Int = 16,
    estThreshold: Double = 0.5, lineage: String = "default",
    compactEvery: Int = 0, broadcastCap: Long = 1L << 20,
    sketchItems: Long = 1L << 21, sketchBits: Long = 1L << 24,
    gateFromBytes: Long = 64L << 20, storeBuckets: Int = 64) {

  private var batchesSeen = 0L
  private var kept = 0L
  private var dropped = 0L

  /** O(store) sketch rebuilds since construction (growth telemetry:
    * the saturation-rebuild cadence of the gate). */
  def gateRebuilds: Long = gate.rebuilds

  /** Totals since construction: (batches, survivors, dropped). */
  def stats: (Long, Long, Long) = (batchesSeen, kept, dropped)

  // the shared side-store protocol: recover-on-read, lineage-scoped
  // replay visibility, tagged append, fold-compact (see StreamStore);
  // the signature store buckets on doc id, the pointer table on band
  // key (class doc) — appends stay flat-delta-cheap on both
  private val store =
    new StreamStore(spark, storePath, lineage, storeBuckets, "id")
  private val pointer = new StreamStore(spark, storePath + "__bands",
    lineage, storeBuckets, "bkh")

  /** (bkh, id) per band of each signature — bkh is the 8-byte
    * `xxhash64` of the (band, bucket) struct, the pointer table's key. */
  private def bandKeysOf(sigs: org.apache.spark.sql.DataFrame) =
    sigs.select(bandKeyCol.as("__bk"), col("id"))
      .select(xxhash64(col("__bk")).as("bkh"), col("id"))

  private def bandKeyCol =
    explode(graft.ops.Dedup.portableBandKeys(col("sig"), bands,
      numHashes / bands))

  // live driver-side sketch over the corpus's BAND KEYS, built from the
  // pointer table (8 B rows — no re-banding of stored signatures) —
  // lifecycle (crossing build, saturation rebuild, overflow hysteresis,
  // small-path drop) is the shared [[GateKeeper]]; existence/threshold
  // read the signature store, the touched set lives in the pointer
  // table's bucket space
  private[streaming] val gate = new GateKeeper(store, sketchItems,
    sketchBits, gateFromBytes,
    (it, b) => pointer.buildBloomCounted(it, b),
    bucketStore = Some(pointer))

  /** Backfill the pointer table from an adopted signature-only store —
    * one O(store) job at the first gated trigger, original
    * `(batch_id, lineage)` tags preserved so visibility carries over;
    * the immediate compact buckets the backfilled rows (an un-compacted
    * backfill would only cost pruning, never correctness). */
  private def ensurePointer(): Unit =
    if (!pointer.exists && store.exists)
      store.visible(Long.MaxValue).foreach { df =>
        pointer.appendTagged(df
          .select(bandKeyCol.as("__bk"), col("id"), col("batch_id"),
            col("lineage"))
          .select(xxhash64(col("__bk")).as("bkh"), col("id"),
            col("batch_id"), col("lineage")))
        pointer.compact(_.groupBy("bkh", "id", "lineage")
          .agg(min("batch_id").as("batch_id")))
      }

  /** The corpus side of the candidate join. Gated triggers probe the
    * PRUNED pointer table for the doc ids sharing a band key with the
    * batch — exact: a candidate pair must share one, the sketch has no
    * false negatives, and untouched buckets hold no batch band key —
    * then read only those ids' signature-store buckets. r17 scanned
    * every stored signature on any colliding trigger. */
  private def storedCandidates(kg: KeyGate.Plan, batchSigs: DataFrame,
      batchId: Long): Option[DataFrame] = {
    if (kg.skipStore) return None
    if (kg.smallStore || kg.fallback)
      return store.visible(batchId).map(_.select("id", "sig"))
    val cap = math.min(broadcastCap, Int.MaxValue - 2L).toInt
    pointer.visiblePruned(batchId, kg.touched).flatMap { p =>
      // candidate ids, lazily checkpointed: the hash collect below
      // materializes the cache, the signature semi-join reads it
      val cand = p.join(broadcast(bandKeysOf(batchSigs)
          .select(col("bkh")).distinct()), Seq("bkh"), "left_semi")
        .select(col("id")).distinct().localCheckpoint(false)
      graft.core.Metrics.deferUnpersist(cand)
      val hs = cand.select(xxhash64(col("id")))
        .as(org.apache.spark.sql.Encoders.scalaLong)
        .limit(cap + 1).collect()
      if (hs.isEmpty) None // no shared band key: corpus adds no pairs
      else if (hs.length > cap)
        // candidate set past the broadcast cap: degrade to the full
        // scan instead of failing the trigger (the KeyGate rule)
        store.visible(batchId).map(_.select("id", "sig"))
      else {
        val nb = store.activeBuckets
        val touched =
          if (nb > 0) hs.map(KeyGate.bucketOf(_, nb)).distinct.toSeq
          else Seq.empty[Int]
        store.visiblePruned(batchId, touched).map(_.select("id", "sig")
          .join(broadcast(cand), Seq("id"), "left_semi"))
      }
    }
  }

  /** The `foreachBatch` body: returns the batch's surviving rows (all
    * original columns), with survivors' signatures already appended.
    * The result rides a deferred localCheckpoint — call
    * `graft.core.Metrics.drainUnpersist()` after sinking it. */
  def processBatch(batch0: DataFrame, batchId: Long): DataFrame = {
    val batch = batch0.localCheckpoint()
    try {
      // signatures once: the gate's band-key collect AND both join
      // sides read this checkpoint (the r16 single-computation rule)
      val batchSigs = Dedup.minHashSignaturesPortable(batch, idCol,
        textCol, n, numHashes).localCheckpoint()
      graft.core.Metrics.deferUnpersist(batchSigs)
      // bloom-gated corpus probe (r17, KeyGate doc): below the
      // threshold, or when any batch band key may collide, consult the
      // corpus as before; zero possible collisions skip the store read
      // entirely (the within-batch self-join still runs)
      // the pointer table must exist before the gate can prune (or its
      // bloom build); r17 signature-only stores backfill here, once,
      // gated-regime-only — below the threshold the probe reads the
      // store directly and the table stays absent at zero cost
      if (KeyGate.enabled && store.dataBytes >= gateFromBytes)
        ensurePointer()
      val kg = gate.plan(bandKeysOf(batchSigs), col("bkh"), broadcastCap)
      // lineage scoping (see ParaDedupStream): other lineages' signatures
      // always count; only the current lineage gets the replay filter —
      // a fresh-checkpoint restart (ids back at 0) must not forget the
      // corpus its predecessor accumulated
      val stored = storedCandidates(kg, batchSigs, batchId)
      val pairs = Dedup.minHashIncrementalFromSigs(batchSigs, stored,
        numHashes, bands, estThreshold).localCheckpoint()
      try {
        // a batch doc loses to a corpus doc on EITHER pair side
        // (corpus ids can exceed batch ids), and to a smaller batch id
        val batchIds = batch.select(col(idCol).as("__bid2")).distinct()
        val tagged = pairs
          .join(batchIds.select(col("__bid2").as("id_a"),
            lit(true).as("__a_in")), Seq("id_a"), "left")
          .join(batchIds.select(col("__bid2").as("id_b"),
            lit(true).as("__b_in")), Seq("id_b"), "left")
        val drops = tagged.select(
          when(col("__a_in").isNull, col("id_b")) // corpus beat id_b
            .when(col("__b_in").isNull, col("id_a")) // corpus beat id_a
            .otherwise(col("id_b")) // both in batch: min-id keeps id_a
            .as("__drop")).distinct()
        val survivors = batch
          .join(drops, col(idCol) === col("__drop"), "left_anti")
          .localCheckpoint()
        // per-trigger checkpoint blocks drain via the deferred pool (the
        // CdcMerge soft-leak discipline) — the caller still reads them
        graft.core.Metrics.deferUnpersist(survivors)
        val nKept = survivors.count()
        val total = batch.count()
        // survivors' signatures come from the SAME checkpointed frame
        // the probe used (r17 — the append previously re-ran the whole
        // shingle→hash→agg pipeline over the survivor texts; signatures
        // are per-document and deterministic, so the filtered frame is
        // identical); lazily checkpointed so the pointer append reads
        // the cache instead of recomputing the anti-join
        val survivorSigs = batchSigs
          .join(drops, col("id") === col("__drop"), "left_anti")
          .select(col("id"), col("sig")).localCheckpoint(false)
        graft.core.Metrics.deferUnpersist(survivorSigs)
        // pointer rows ride the same survivor frame. Skipped only while
        // the table doesn't exist (pre-crossing regime — the backfill
        // at the crossing covers those batches wholesale); once it
        // exists EVERY trigger appends, or a shrink-regrow would leave
        // it missing candidates (the completeness invariant pruning
        // soundness rests on). The two appends are independent writes
        // to distinct store paths — [[Overlap.auto]]: sequential by
        // default (the r19 A/B rejected local-mode concurrency),
        // concurrent under SPARK_GRAFT_TRIGGER_OVERLAP=on; crash
        // safety is order-independent either way: a half-appended
        // batch is invisible to its own replay under the batch_id <
        // current filter whichever half landed, and the re-run
        // re-appends to both
        if (pointer.exists)
          Overlap.auto(store.append(survivorSigs, batchId)) {
            pointer.append(survivorSigs.select(bandKeyCol.as("__bk"),
                col("id"))
              .select(xxhash64(col("__bk")).as("bkh"), col("id")),
              batchId)
          }
        else store.append(survivorSigs, batchId)
        // keep the band-key gate a corpus superset (batch band keys ⊇
        // survivors'; staleness/saturation rules: GateKeeper doc)
        gate.afterAppend(kg)
        batchesSeen += 1; kept += nKept; dropped += total - nKept
        // cadenced maintenance: folding bounds the per-trigger probe's
        // file listing, decisions unchanged
        if (compactEvery > 0 && batchesSeen % compactEvery == 0) compact()
        survivors
      } finally pairs.unpersist()
    } finally batch.unpersist()
  }

  /** Fold replay-duplicated signature rows (one per (id, lineage) at
    * its min batch_id — other-lineage rows always count as corpus, so
    * per-lineage folding preserves every decision), and the pointer
    * table's (bk, id, lineage) rows likewise. Shadow-write + swap via
    * the shared [[StreamStore]]. */
  def compact(): Unit = {
    store.compact { df =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("id"), col("lineage"))
        .orderBy(col("batch_id"))
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }
    if (pointer.exists)
      pointer.compact(_.groupBy("bkh", "id", "lineage")
        .agg(min("batch_id").as("batch_id")))
  }
}
