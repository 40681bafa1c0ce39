package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Streaming exact-substring dedup — the stream twin of
  * [[graft.ops.Dedup.stripDuplicateSpans]] with `keepFirst=true`,
  * completing the dedup stream family (exact keys: [[StreamDedup]];
  * paragraphs: [[ParaDedupStream]]; signatures: [[MinHashDedupStream]];
  * n-token substrings: this).
  *
  * Per micro-batch of (id, text): every `n`-token window whose md5 key
  * was seen in an EARLIER batch (the accumulated corpus) or earlier in
  * this batch (first occurrence by (doc, start) wins) marks its token
  * range; per doc the marked windows merge gaps-and-islands into
  * maximal spans, which are cut before reassembly. The batch's
  * first-seen window keys append to the corpus — keys of the INPUT
  * text, so a future repeat of any n-gram this stream has ever seen is
  * cut even if its first carrier was itself partially stripped (the
  * batch operator's global-window rule under batch order).
  *
  * State is a (key, batch_id, lineage) parquet table via the shared
  * [[StreamStore]] protocol: replay-exactly-once by the
  * strictly-earlier-batch visibility filter, fresh-checkpoint restarts
  * via lineage scoping, crash-safe compaction over AtomicDir —
  * identical guarantees to ParaDedupStream, one code path.
  *
  * Scale shape: the window explode is batch-token-linear; the
  * seen-lookup is BLOOM-GATED and bucket-pruned (r17, [[KeyGate]]): a
  * corpus key sketch screens the batch's keys map-side, so only
  * possible members (true duplicates + the sketch's fpp share) are
  * broadcast into the store probe, the store scan partition-prunes to
  * the buckets those survivors hash into, and a zero-survivor trigger
  * never reads the store at all — the per-trigger corpus term is
  * O(touched buckets), not O(store). A dup-heavy batch past
  * `broadcastCap` falls back to the non-broadcast shuffle shape
  * instead of failing the trigger on an oversized broadcast. The
  * island merge and reassembly shuffle only the batch. Executors hold
  * nothing between triggers.
  */
final class SubstrDedupStream(spark: SparkSession, storePath: String,
    idCol: String, textCol: String, n: Int,
    lineage: String = "default", compactEvery: Int = 0,
    storeBuckets: Int = 64, broadcastCap: Long = 1L << 20,
    sketchItems: Long = 1L << 21, sketchBits: Long = 1L << 24,
    gateFromBytes: Long = 64L << 20) {
  require(n > 0, "window size must be positive")

  private var batchesSeen = 0L
  private var tokensKept = 0L
  private var tokensDropped = 0L

  /** O(store) sketch rebuilds since construction (growth telemetry:
    * the saturation-rebuild cadence of the gate). */
  def gateRebuilds: Long = gate.rebuilds

  /** Totals since construction: (batches, tokens kept, tokens cut). */
  def stats: (Long, Long, Long) = (batchesSeen, tokensKept, tokensDropped)

  private val store =
    new StreamStore(spark, storePath, lineage, storeBuckets, "key")
  // corpus superset sketch, held LIVE on the driver and kept current by
  // putLong over each trigger's collected hashes — built from the store
  // at the gateFromBytes crossing, rebuilt with doubled bits past the
  // saturation band, dropped on the small path; the full lifecycle
  // (including overflow hysteresis) is the shared [[GateKeeper]]
  private[streaming] val gate = new GateKeeper(store, sketchItems,
    sketchBits, gateFromBytes, (it, b) => store.buildBloomCounted(it, b))

  /** The `foreachBatch` body: returns (id, clean_text, n_kept,
    * n_dropped) with the batch's new window keys already appended. The
    * result rides a deferred localCheckpoint — call
    * `graft.core.Metrics.drainUnpersist()` after sinking it. */
  def processBatch(batch: DataFrame, batchId: Long): DataFrame =
    processBatchImpl(batch, batchId, None)

  /** Sink-fused `foreachBatch` body (VERDICT r18 #6): the output sink
    * and the corpus append are independent tail actions (both read
    * only cached checkpoint blocks), run via [[Overlap.auto]] —
    * sequential by default (the r19 A/B rejected local-mode
    * concurrency, see Overlap doc), concurrent under
    * `SPARK_GRAFT_TRIGGER_OVERLAP=on` for deep-cluster deployments.
    * Both complete before this returns (the replay contract);
    * decisions, stats, and store contents are byte-identical to the
    * 2-arg form either way (spec'd). */
  def processBatch(batch: DataFrame, batchId: Long,
      sink: DataFrame => Unit): Unit = {
    processBatchImpl(batch, batchId, Some(sink)); ()
  }

  private def processBatchImpl(batch: DataFrame, batchId: Long,
      sink: Option[DataFrame => Unit]): DataFrame = {
    // LAZY checkpoint (r16): toks is consumed by the joined checkpoint
    // below AND the reassembly join —
    // the joined materialization is its first action and persists it,
    // so the trigger spends no standalone job on it. The window explode
    // (previously its own eager checkpoint) rides the same job: it has
    // exactly one consumer, so materializing it separately only added a
    // job to the trigger floor.
    val toks = batch
      .select(col(idCol).as("__id"),
        split(coalesce(col(textCol), lit("")), " ").as("__toks"))
      .localCheckpoint(false)
    try {
      // wins is consumed twice (the corpus-probe broadcast AND the
      // joined stream side) — lazy checkpoint, materialized by the
      // broadcast build inside the joined job
      val wins = toks.filter(size(col("__toks")) >= n)
        .select(col("__id"),
          explode(sequence(lit(0), size(col("__toks")) - n)).as("__s"),
          col("__toks"))
        .select(col("__id"), col("__s"),
          md5(array_join(slice(col("__toks"), col("__s") + 1, lit(n)),
            " ")).as("__key"))
        .localCheckpoint(false)
      try {
        // Corpus membership, bloom-gated + bucket-pruned (r17): ONE
        // batch-sized distinct-hash collect classifies the trigger on
        // the DRIVER (KeyGate doc). Gated path = LEFT SEMI of the
        // PRUNED store against the broadcast batch keys (r16's
        // store-never-shuffles contract, minus the O(store) scan);
        // zero bloom survivors skip the store read entirely; past
        // broadcastCap the r15 shuffle shape takes over (ADVICE r16 —
        // degrade, don't fail the trigger). Mark semantics identical
        // in all three: the sketch has no false negatives and
        // untouched buckets hold no key the batch carries.
        val kg = gate.plan(wins, col("__key"), broadcastCap)
        val marked =
          if (kg.skipStore)
            // zero survivors (or no store): no store read AND no
            // broadcast-build job — the novelty-path trigger spends
            // nothing on the corpus at all (r18, VERDICT #5)
            wins.withColumn("__corpus", lit(null).cast("boolean"))
          else {
            val emptySeen = spark.range(0).select(lit("").as("__key"),
              lit(true).as("__corpus"))
            val storeDf =
              if (kg.smallStore || kg.fallback) store.visible(batchId)
              else store.visiblePruned(batchId, kg.touched)
            val probe =
              if (kg.fallback) wins.select(col("__key")).distinct()
              else broadcast(wins.select(col("__key")))
            val seen = storeDf.map(_.select(col("key").as("__key"))
                .join(probe, Seq("__key"), "left_semi")
                .distinct().withColumn("__corpus", lit(true)))
              .getOrElse(emptySeen)
            wins.join(broadcast(seen), Seq("__key"), "left")
          }
        // corpus-seen marks; within batch the first (doc, start)
        // occurrence of a NEW key survives, later copies mark.
        // LAZY checkpoint (r18, VERDICT #5): `out`'s materialization
        // below is the first action and caches it in the same job; the
        // append then reads the cached blocks — one fewer job/trigger
        // than the r17 eager shape.
        val byKey = Window.partitionBy(col("__key"))
          .orderBy(col("__id"), col("__s"))
        val joined = marked
          .withColumn("__rn", row_number().over(byKey))
          .localCheckpoint(false)
        try {
          val dup = joined
            .filter(col("__corpus").isNotNull || col("__rn") >= 2)
          val byDoc = Window.partitionBy(col("__id")).orderBy(col("__s"))
          val runEnd = max(col("__s") + n)
            .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
          val spans = dup
            .withColumn("__new",
              when(runEnd.isNull || col("__s") > runEnd, 1L).otherwise(0L))
            .withColumn("__island", sum(col("__new")).over(byDoc))
            .groupBy(col("__id"), col("__island"))
            .agg(min(col("__s")).cast(LongType).as("span_start"),
              (max(col("__s")) + n).cast(LongType).as("span_end"))
            .groupBy(col("__id"))
            .agg(collect_list(struct(col("span_start"), col("span_end")))
              .as("__spans"))
          // kept/dropped sums ride the checkpoint materialization as an
          // observed metric instead of a separate aggregate job;
          // getOrEmpty + recount covers the rare pruned-metrics case
          val obs = org.apache.spark.sql.Observation()
          val out = toks.join(spans, Seq("__id"), "left")
            .select(col("__id"), col("__toks"),
              coalesce(col("__spans"), array().cast(
                "array<struct<span_start:bigint,span_end:bigint>>"))
                .as("__spans"))
            .select(col("__id"),
              filter(col("__toks"), (t, i) =>
                !exists(col("__spans"), sp =>
                  i >= sp("span_start") && i < sp("span_end")))
                .as("__keep"),
              size(col("__toks")).as("__n"))
            .select(col("__id").as(idCol),
              array_join(col("__keep"), " ").as("clean_text"),
              size(col("__keep")).cast(LongType).as("n_kept"),
              (col("__n") - size(col("__keep"))).cast(LongType)
                .as("n_dropped"))
            .observe(obs, sum(col("n_kept")).as("k"),
              sum(col("n_dropped")).as("d"))
            .localCheckpoint()
          // the caller still reads `out` — release via the deferred pool
          graft.core.Metrics.deferUnpersist(out)
          // advance the corpus: this batch's first-seen keys (absent
          // from the visible store; the rn=1 row is the representative)
          val firstSeen = joined
            .filter(col("__corpus").isNull && col("__rn") === 1)
            .select(col("__key").as("key"))
          sink match {
            case Some(s) =>
              // overlapped tail: the append reads joined's cache, the
              // sink reads out's cache — disjoint state, concurrent
              // submission fills the inter-job scheduling idle
              Overlap.auto(store.append(firstSeen, batchId))(
                s(out))
            case None => store.append(firstSeen, batchId)
          }
          // keep the gate a corpus superset: ALL of the batch's
          // window-key hashes (⊇ the appended first-seen set) fold into
          // the live sketch — replayed/raced appends can only add false
          // positives, routed to the exact probe, never missed
          // (staleness/saturation rules: GateKeeper doc)
          gate.afterAppend(kg)
          lazy val recount = out.agg(sum("n_kept"), sum("n_dropped"))
            .head()
          val k = Observed.long(obs, "k")(
            if (recount.isNullAt(0)) 0L else recount.getLong(0))
          val d = Observed.long(obs, "d")(
            if (recount.isNullAt(1)) 0L else recount.getLong(1))
          batchesSeen += 1; tokensKept += k; tokensDropped += d
          // cadenced maintenance: every append adds a store file, so a
          // resident stream accumulates
          // small files — folding keeps the per-trigger probe's listing
          // and scan bounded without changing any decision
          if (compactEvery > 0 && batchesSeen % compactEvery == 0)
            compact()
          out
        } finally joined.unpersist()
      } finally wins.unpersist()
    } finally toks.unpersist()
  }

  /** Fold replay-duplicated keys (min batch_id per (key, lineage) — the
    * earliest introduction) via the shared [[StreamStore]]. */
  def compact(): Unit = store.compact(
    _.groupBy("key", "lineage").agg(min("batch_id").as("batch_id")))
}
