package graft.streaming

import org.apache.spark.sql.DataFrame

/** Streaming ingest-time deduplication — the stream-side twin of
  * [[graft.ops.Dedup.incremental]].
  *
  * Two regimes, two state bounds:
  *
  *  - [[withinWatermark]]: exact dedup among events whose event times are
  *    within the watermark delay of each other. State is evicted as the
  *    watermark advances, so executor state is O(keys per watermark
  *    window) — bounded regardless of stream age. This is the correct
  *    primitive for at-least-once sources (Kafka redeliveries, retried
  *    producers) where duplicates arrive CLOSE to the original.
  *
  *  - against-all-history dedup keeps one entry per distinct key
  *    forever — unboundable as stream state, so it runs as
  *    `foreachBatch` + [[graft.ops.Dedup.incremental]] over a corpus
  *    store: the key corpus is ALSO a queryable table, at the cost of a
  *    store probe that grows with corpus size. [[bloomGatedBatch]] puts a
  *    bloom fast path in front of that probe.
  */
object StreamDedup {

  /** Drop rows duplicating a `keys`-equal row seen within the watermark.
    * Rows are emitted immediately (append mode — no watermark-close
    * latency); only the DROP decision is watermark-scoped. */
  def withinWatermark(df: DataFrame, tsCol: String, delay: String,
      keys: Seq[String]): DataFrame =
    df.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keys)

  /** `foreachBatch` body for against-all-history dedup with the bloom
    * fast path ([[graft.ops.Dedup.bloomGate]]): rows the sketch marks
    * definitely-new skip the store lookup entirely; only the flagged
    * slice anti-joins the corpus keys (bucketed-store lookup at scale).
    * Result set is IDENTICAL to [[graft.ops.Dedup.incremental]] — the
    * bloom has no false negatives, so no true duplicate can take the
    * fast path (`StreamDedupSpec` asserts the equivalence); the win is
    * that the expensive exact lookup runs on a few candidate rows
    * instead of the whole micro-batch. */
  def bloomGatedBatch(batch: DataFrame, corpusKeys: DataFrame,
      keyCols: Seq[String], idCol: String,
      expectedItems: Long = 1L << 20, numBits: Long = 1L << 23): DataFrame =
    bloomGatedBatch(batch, corpusKeys, keyCols, idCol,
      graft.ops.Dedup.bloomSketch(corpusKeys, keyCols, expectedItems,
        numBits))

  /** Long-running form: the sketch is built ONCE outside the stream and
    * OR-updated with each batch's survivor hashes via
    * [[graft.functions.Bloom.update]] (or merged from per-batch sketches
    * with [[graft.functions.Bloom.merge]]) — rebuilding it per
    * micro-batch would re-aggregate the full key history every trigger,
    * costing more than the exact lookup the gate avoids. */
  def bloomGatedBatch(batch: DataFrame, corpusKeys: DataFrame,
      keyCols: Seq[String], idCol: String,
      sketch: Array[Byte]): DataFrame = {
    import graft.ops.Dedup
    import org.apache.spark.sql.functions.col
    val gated = Dedup.bloomGateWith(batch, sketch, keyCols)
    val fast = gated.filter(!col("maybe_seen")).drop("maybe_seen")
    val slow = gated.filter(col("maybe_seen")).drop("maybe_seen")
    // keep-min-per-key commutes with key-membership filtering, so
    // deduping the union equals incremental() on the whole batch
    Dedup.exactKeep(
      fast.unionByName(
        slow.join(corpusKeys.select(keyCols.map(col): _*), keyCols,
          "left_anti")),
      keyCols, idCol)
  }
}
