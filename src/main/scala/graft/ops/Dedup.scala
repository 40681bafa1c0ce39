package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.
  *
  * Scale design: every near-dup variant avoids the O(n²) all-pairs join.
  * MinHash banding and SimHash chunking turn similarity search into
  * equi-joins on bucket keys (one shuffle each, AQE-skew-tolerant); the
  * exact and shingle paths are hash aggregations. Signatures are computed
  * per-row with `transform`/`aggregate` over arrays — no explode of the
  * token stream, no UDFs.
  */
object Dedup {

  /** Exact dedup (hash-groupBy): one surviving id per identical key, plus
    * the duplicate count. A single hash-aggregate shuffle on the key. */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  /** Keep-one projection: drops all but the min-id row per key. Null-safe
    * join keys: groupBy treats null keys as one group, so the semi-join
    * must too — a plain equality would silently DROP every null-key row
    * instead of keeping one. */
  def exactKeep(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame = {
    val keep = exact(df, keyCols, idCol)
      .select((idCol +: keyCols).map(c => col(c).as(s"__keep_$c")): _*)
    val cond = (idCol +: keyCols).map(c => col(c) <=> col(s"__keep_$c"))
      .reduce(_ && _)
    df.join(keep, cond, "left_semi")
  }

  /** Corpus-wide paragraph dedup — the C4/RefinedWeb screen (Raffel et
    * al. 2020 §2.2 "we discarded all but one of any three-sentence span
    * occurring more than once"; here the unit is the explicit paragraph):
    * split every document on `sep`, keep only the GLOBALLY FIRST
    * occurrence of each distinct paragraph (first = smallest (doc, pos),
    * so boilerplate navigation/footer paragraphs survive exactly once,
    * in the earliest document), and reassemble each document from its
    * surviving paragraphs in original order. Documents whose every
    * paragraph loses reassemble to ''.
    *
    * Returns (doc_id, clean_text, n_kept, n_dropped).
    *
    * PRECONDITION: `idCol` must be unique (a primary key, like every
    * per-document operator here — stratifiedTopK documents the same
    * assumption). With duplicate ids the winner decision `row ==
    * min(struct(id, pos))` marks EVERY row tying the min as a winner
    * (the r13 window form picked one arbitrarily), and the per-id
    * reassembly below merges the duplicates' paragraphs into one output
    * row — the operator's output is ill-defined under duplicate ids in
    * either form, so callers must dedup ids first (exact `dedup`).
    *
    * Scale shape: explode is linear; the winner decision is a map-side-
    * combined `min(struct(id, pos))` per paragraph hash joined back
    * onto the occurrence stream — only (hash, id, pos) triples cross
    * the winner shuffle (the paragraph TEXT stays on the probe side),
    * and a mega-duplicated boilerplate paragraph collapses to one row
    * per input partition before the exchange. The r13 form ranked with
    * `row_number over Window.partitionBy(md5(para))`, which ships and
    * BUFFERS every occurrence of a hot paragraph (text included) on one
    * window task — the superlinear hot-key degradation ShingleBench
    * measured (BENCHNOTES r14); (id, pos) is unique per occurrence, so
    * the min struct IS the window's rank-1 row. Reassembly is one
    * shuffle back on the doc id. */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n\n"): DataFrame = {
    val paras = df
      .select(col(idCol).as("__id"),
        posexplode(split(coalesce(col(textCol), lit("")),
          java.util.regex.Pattern.quote(sep))))
      .select(col("__id"), col("pos").cast(LongType).as("__pos"),
        col("col").as("__para"))
      .withColumn("__h", md5(col("__para")))
    val winners = paras.groupBy("__h")
      .agg(min(struct(col("__id"), col("__pos"))).as("__w"))
    val decided = paras.join(winners, Seq("__h"))
      .withColumn("__is1",
        struct(col("__id"), col("__pos")) === col("__w"))
    decided
      .groupBy(col("__id").as(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("__is1"),
            struct(col("__pos"), col("__para"))))),
          s => s("__para")), sep).as("clean_text"),
        sum(when(col("__is1"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(!col("__is1"), 1L).otherwise(0L)).as("n_dropped"))
  }

  /** Boilerplate strip by corpus frequency — [[dedupParagraphs]]'s
    * complement (RefinedWeb / MassiveText line-filtering: a span
    * repeated across many documents is navigation/footer/template, not
    * content): drop EVERY occurrence of a paragraph whose corpus-wide
    * occurrence count exceeds `maxFreq` (first-occurrence keep would
    * still ship one copy of "All rights reserved" per corpus — this
    * ships zero), keep everything else, reassemble in order.
    *
    * Same shape as [[dedupParagraphs]] with the winner min replaced by
    * a map-side-combined count per paragraph hash (joined back — never
    * a hash-keyed window; see dedupParagraphs' hot-key note). */
  def stripFrequentParagraphs(df: DataFrame, idCol: String,
      textCol: String, sep: String = "\n\n", maxFreq: Long = 2): DataFrame = {
    val paras = df
      .select(col(idCol).as("__id"),
        posexplode(split(coalesce(col(textCol), lit("")),
          java.util.regex.Pattern.quote(sep))))
      .select(col("__id"), col("pos").cast(LongType).as("__pos"),
        col("col").as("__para"))
      .withColumn("__h", md5(col("__para")))
    val freqs = paras.groupBy("__h").agg(count(lit(1)).as("__freq"))
    paras.join(freqs, Seq("__h"))
      .groupBy(col("__id").as(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("__freq") <= maxFreq,
            struct(col("__pos"), col("__para"))))),
          s => s("__para")), sep).as("clean_text"),
        sum(when(col("__freq") <= maxFreq, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("__freq") > maxFreq, 1L).otherwise(0L)).as("n_dropped"))
  }

  /** Exact-substring duplicate spans — the ExactSubstr screen of Lee et
    * al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499 §4.1): any window of `n` consecutive
    * tokens whose text occurs at least `minCount` times in the corpus
    * (across documents OR repeated within one) marks its token range as
    * duplicated; per document, overlapping marked windows merge into
    * maximal spans. The reference implementation builds a corpus-wide
    * suffix array; the Spark-first shape is a token-window hash
    * aggregate — one row per token (the same linear corpus pass the
    * suffix array pays, but embarrassingly parallel), one hash shuffle
    * to count window-text occurrences, one shuffle back to the doc for
    * the island merge. No self-join, no all-pairs anything; the only
    * skew risk is a mega-duplicated window, which is a single count
    * group (scalar), never a pairwise blow-up.
    *
    * Tokens are single-space-split (the portable tokenizer — both
    * engines split identically); window key = md5 of the n tokens
    * re-joined with one space. The island merge is the classic
    * gaps-and-islands: a window starts a new span when its start lies
    * beyond every earlier window's end (running max), span id = running
    * count of span-starts — integer window arithmetic an SQL oracle
    * replays exactly.
    *
    * Returns (id, span_start, span_end, span_tokens): merged token-index
    * spans [span_start, span_end), one row per maximal duplicate span.
    *
    * `keepFirst=false` (default) marks EVERY occurrence of a duplicated
    * window — the boilerplate-removal semantic (a repeated span ships
    * zero copies, like [[stripFrequentParagraphs]]); `keepFirst=true`
    * is the Lee et al. dedup proper: the globally FIRST occurrence (by
    * (doc, start)) goes unmarked and survives the strip, every later
    * copy is cut — the [[dedupParagraphs]] rule at substring grain. */
  /** (\_\_id, \_\_s, \_\_key) window rows: md5 of the n single-space
    * tokens starting at 0-based token index \_\_s. The shared front of
    * the exact-substring family. */
  private def windowKeys(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.select(col(idCol).as("__id"),
        split(coalesce(col(textCol), lit("")), " ").as("__toks"))
      .filter(size(col("__toks")) >= n)
      .select(col("__id"),
        col("__toks"),
        explode(sequence(lit(0), size(col("__toks")) - n)).as("__s"))
      .select(col("__id"), col("__s"),
        md5(array_join(slice(col("__toks"), col("__s") + 1, lit(n)), " "))
          .as("__key"))

  /** Merge marked windows (\_\_id, \_\_s) into maximal per-doc spans —
    * the gaps-and-islands tail shared by every span variant. */
  private def mergeIslands(marked: DataFrame, idCol: String,
      n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("__id")).orderBy(col("__s"))
    val runEnd = max(col("__s") + n)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    marked
      .withColumn("__new",
        when(runEnd.isNull || col("__s") > runEnd, 1L).otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(byDoc))
      .groupBy(col("__id").as(idCol), col("__island"))
      .agg(min(col("__s")).cast(LongType).as("span_start"),
        (max(col("__s")) + n).cast(LongType).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"))
  }

  /** Cut every span row (idCol, span_start, span_end) out of the
    * corpus and reassemble — spans collapse to a per-doc array and the
    * cut is an index-aware token filter, no range join. */
  private def cutSpans(df: DataFrame, idCol: String, textCol: String,
      spanRows: DataFrame): DataFrame = {
    val spans = spanRows
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__spans"))
    df.select(col(idCol),
        split(coalesce(col(textCol), lit("")), " ").as("__toks"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol), col("__toks"),
        coalesce(col("__spans"), array().cast(
          "array<struct<span_start:bigint,span_end:bigint>>"))
          .as("__spans"))
      .select(col(idCol),
        filter(col("__toks"), (t, i) =>
          !exists(col("__spans"), sp =>
            i >= sp("span_start") && i < sp("span_end"))).as("__keep"),
        size(col("__toks")).as("__n"))
      .select(col(idCol),
        array_join(col("__keep"), " ").as("clean_text"),
        size(col("__keep")).cast(LongType).as("n_kept"),
        (col("__n") - size(col("__keep"))).cast(LongType).as("n_dropped"))
  }

  /** PRECONDITION (keepFirst): `idCol` must be unique — with duplicate
    * ids, duplicate (id, start) pairs all tie `min(struct(id, start))`
    * and are ALL spared as "the first occurrence" (the window form
    * spared exactly one, arbitrarily). Same contract as
    * [[dedupParagraphs]]; dedup ids before calling. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, minCount: Long = 2L,
      keepFirst: Boolean = false): DataFrame = {
    require(n > 0, "window size must be positive")
    val wins = windowKeys(df, idCol, textCol, n)
    // per-key occurrence count via map-side-combined groupBy + join —
    // not `count over Window.partitionBy(__key)`: a hot boilerplate
    // window key buffers all its occurrences on ONE window task, and
    // the degradation is scale-amplified (ShingleBench, BENCHNOTES
    // r14: 4.2× at 80M rows under 99%-hot; a window can never be
    // AQE-skew-split, the join can). keepFirst needs no per-key
    // row_number: the single survivor is the min (id, start) pair,
    // one more column in the same aggregate.
    val aggs = count(lit(1)).as("__cnt") +:
      (if (keepFirst)
        Seq(min(struct(col("__id"), col("__s"))).as("__first"))
      else Nil)
    val perKey = wins.groupBy("__key").agg(aggs.head, aggs.tail: _*)
    val counted = wins.join(perKey, Seq("__key"))
    val dup =
      if (keepFirst)
        counted.filter(col("__cnt") >= minCount &&
          !(struct(col("__id"), col("__s")) === col("__first")))
          .drop("__first")
      else counted.filter(col("__cnt") >= minCount)
    mergeIslands(dup, idCol, n)
  }

  /** Remove every [[duplicateSpans]] token range and reassemble the
    * document — the executing half of the ExactSubstr screen (the Lee
    * et al. recommendation: cut the repeated substring, keep the
    * unique remainder; doc-level drop throws away the good half of a
    * half-duplicated document).
    *
    * Scale shape: spans collapse to a per-doc array (spans per doc are
    * few — they are MERGED maximal ranges), ride a broadcast-friendly
    * equi-join back to the corpus, and the cut is a per-row
    * index-aware `filter` over the token array — no range join, no
    * second explode. Returns (id, clean_text, n_kept, n_dropped). */
  def stripDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, minCount: Long = 2L,
      keepFirst: Boolean = false): DataFrame =
    cutSpans(df, idCol, textCol,
      duplicateSpans(df, idCol, textCol, n, minCount, keepFirst))

  /** Span-level benchmark decontamination — the surgical form of
    * [[contamination]]: instead of flagging whole documents, mark the
    * exact token ranges whose `n`-token window also occurs in the
    * benchmark/eval set, merge them to maximal spans (the
    * [[duplicateSpans]] machinery), and CUT them — remove the colliding
    * span rather than discard a document whose one quoted sentence
    * leaks an eval answer.
    *
    * Scale shape: the benchmark is the SMALL side by construction
    * (eval sets are MBs against a 100 TB corpus) — its distinct window
    * keys broadcast, so the corpus-side probe is a broadcast semi-join
    * on the already-exploded windows; the island merge and reassembly
    * shuffle only span-bearing docs. Returns (id, span_start,
    * span_end, span_tokens). */
  def decontaminateSpans(corpus: DataFrame, idCol: String,
      textCol: String, benchmark: DataFrame, benchTextCol: String,
      n: Int): DataFrame = {
    require(n > 0, "window size must be positive")
    val benchKeys = windowKeys(
        benchmark.select(lit(0L).as("__bid"), col(benchTextCol)),
        "__bid", benchTextCol, n)
      .select("__key").distinct()
    val marked = windowKeys(corpus, idCol, textCol, n)
      .join(broadcast(benchKeys), Seq("__key"), "left_semi")
    mergeIslands(marked, idCol, n)
  }

  /** The executing half of [[decontaminateSpans]]: cut every
    * benchmark-colliding span, reassemble the remainder. Returns
    * (id, clean_text, n_kept, n_dropped). */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int): DataFrame =
    cutSpans(corpus, idCol, textCol,
      decontaminateSpans(corpus, idCol, textCol, benchmark,
        benchTextCol, n))

  /** Incremental (ingest-time) dedup: keep the batch rows whose key is
    * new — first within the batch itself AND absent from the accumulated
    * corpus keys. Append the survivors' keys back to the store to advance
    * the corpus.
    *
    * Scale note: the anti-join's right side is the full corpus history,
    * so each micro-batch's lookup scans and shuffles all of it. */
  def incremental(batch: DataFrame, corpusKeys: DataFrame,
      keyCols: Seq[String], idCol: String): DataFrame =
    exactKeep(batch, keyCols, idCol)
      .join(corpusKeys.select(keyCols.map(col): _*), keyCols, "left_anti")

  /** Bloom-gate ingest dedup — the 100 TB companion to [[incremental]]:
    * the corpus's key set folds into a bloom sketch (megabytes for
    * billions of keys) that broadcasts to the batch; `maybe_seen=false`
    * rows are DEFINITELY new (bloom has no false negatives) and skip the
    * exact lookup entirely, so the bucketed-store anti-join only runs for
    * the (few) flagged rows. The sketch build is one aggregation with
    * map-side partials (bloom bitmaps OR together); the single
    * `numBits/8`-byte result is a bounded driver artifact (the IVF
    * centroid pattern — 1 MiB at defaults, never data-sized) embedded
    * as a literal, because `might_contain` requires a constant sketch.
    * The probe is then a pure batch-side projection — no join, no
    * shuffle of the batch at any scale. */
  def bloomGate(batch: DataFrame, corpusKeys: DataFrame,
      keyCols: Seq[String], expectedItems: Long = 1L << 20,
      numBits: Long = 1L << 23): DataFrame =
    bloomGateWith(batch,
      bloomSketch(corpusKeys, keyCols, expectedItems, numBits), keyCols)

  /** Build the corpus-key sketch once; returns null for an empty corpus.
    * Long-running ingest should build this ONCE and reuse it across
    * micro-batches ([[bloomGateWith]]) — rebuilding per batch would scan
    * the full key history every trigger, costing more than the exact
    * lookup the gate exists to avoid. */
  def bloomSketch(corpusKeys: DataFrame, keyCols: Seq[String],
      expectedItems: Long = 1L << 20, numBits: Long = 1L << 23): Array[Byte] = {
    import graft.functions.Bloom
    corpusKeys
      .agg(Bloom.bloomAgg(xxhash64(keyCols.map(corpusKeys(_)): _*),
        expectedItems, numBits).as("__bloom"))
      .head().getAs[Array[Byte]](0)
  }

  /** Probe a pre-built sketch: pure batch-side projection. */
  def bloomGateWith(batch: DataFrame, sketch: Array[Byte],
      keyCols: Seq[String]): DataFrame = {
    import graft.functions.Bloom
    // empty corpus -> null sketch: nothing was ever seen
    if (sketch == null) batch.withColumn("maybe_seen", lit(false))
    else batch.withColumn("maybe_seen",
      coalesce(Bloom.mightContain(lit(sketch),
        xxhash64(keyCols.map(batch(_)): _*)), lit(false)))
  }

  /** Cross-document repetition: the fraction of a document's distinct
    * n-gram shingles that occur in at least `minDf` documents INCLUDING
    * this one (i.e. `minDf - 1` others; the window count below is
    * self-inclusive, and the oracle replays that) — the signal behind
    * exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"): high dup_frac = the document is
    * mostly boilerplate shared across the corpus.
    *
    * Scale: explode distinct shingles, reduce to a per-shingle document
    * frequency with a MAP-SIDE-COMBINED `groupBy(shingle).count` (a hot
    * boilerplate gram collapses to one row per input partition before
    * the exchange), then equi-join the frequency back onto the shingle
    * stream — AQE broadcasts the frequency frame when the vocabulary is
    * small and can skew-split the SMJ when it is not — then one per-doc
    * aggregation. The r13 form counted via
    * `count over Window.partitionBy(shingle)` (one exchange instead of
    * two) — ShingleBench measured the crossover (BENCHNOTES r14): the
    * window wins ~1.2× balanced, but under hot-shingle skew every
    * occurrence of the hot gram BUFFERS on one window task and the
    * degradation is scale-amplified (99%-hot: 1.4× slower at 20M rows,
    * 4.2× at 80M, a single-task stall at corpus scale — and a window can
    * never be skew-split). The aggregate+join form is the one that
    * survives 100 TB; shingles are distinct per doc, so a plain count
    * per shingle IS its document frequency (countDistinct would add an
    * Expand for nothing). Zero-shingle docs come back with dup_frac 0
    * via the id left join. */
  def crossDocShingleFrac(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDf: Int = 2): DataFrame = {
    val sh = explodedShingles(df, idCol, textCol, n)
    val dfs = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
    val withDf = sh.join(dfs, Seq("shingle"))
    val perDoc = withDf
      .groupBy("id").agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("__df") >= minDf, 1L).otherwise(0L)).as("n_dup"))
    df.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(coalesce(col("n_shingles"), lit(0L)) > 0,
          round(coalesce(col("n_dup"), lit(0L)).cast(DoubleType) /
            col("n_shingles"), 6)).otherwise(lit(0.0)).as("dup_frac"))
  }

  /** Every shingle occurrence with its 0-based start position — NOT
    * distinct ([[shinglesFromWords]] is): span coverage needs all starts
    * of a repeated gram, not its identity. */
  private def shingleStarts(words: Column, n: Int): Column =
    when(size(words) >= n,
      transform(
        sequence(lit(0), size(words) - n),
        i => struct(i.as("start"),
          concat_ws(" ",
            (1 to n).map(j => element_at(words, i + j)): _*).as("sh"))))
      .otherwise(array().cast(ArrayType(StructType(Seq(
        StructField("start", IntegerType), StructField("sh", StringType))))))

  /** Exact-substring span REMOVAL (Lee et al. 2022 §4 — the rewrite half
    * of [[crossDocShingleFrac]]'s signal): every word position covered by
    * an n-gram occurring in at least `minDf` documents is dropped, and
    * the document is reassembled from the surviving words. The canonical
    * boilerplate scrub: navigation bars, license headers and templated
    * openings disappear from every copy at once (keep-one-doc dedup can't
    * touch them because the *documents* differ).
    *
    * Returns (id, text_clean, n_words, n_dropped) — one row per input
    * document; zero-token docs come back with empty text.
    *
    * Scale shape: one explode of shingle occurrences (positions), one
    * distinct (id, shingle) projection feeding a per-shingle
    * document-frequency aggregation, an equi-join on the shingle to pull
    * the df back to the occurrences (occurrence positions and
    * distinct-doc counts are different granularities, so the
    * window-count fusion used by crossDocShingleFrac cannot apply), a
    * positions anti-join keyed (id, pos), and one per-doc reassembly
    * aggregation. Hot-shingle skew is capped the standard way: grams
    * above `minDf` are ALL equivalent (covered is covered), so the df
    * aggregation output is bounded by distinct shingles, never
    * occurrences. */
  def removeRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDf: Int = 2): DataFrame = {
    // tokenize ONCE: the token-array frame has four consumers (position
    // explode, two shingle-start passes, word counts) and the executed
    // plan shares nothing between them (measured: 7 scans and 12
    // regex-tokenize subtrees per run before this seam; one after) —
    // the materialized seam is the tokenized corpus, the price every
    // span pipeline pays once instead of four regex passes
    val words = spread(df.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"),
        TextOps.tokens(TextOps.normalized(col("__t"))).as("__w"))
      .localCheckpoint()
    graft.core.Metrics.deferUnpersist(words)
    val pos = words.select(col("id"),
      posexplode(col("__w")).as(Seq("pos", "word")))
    val starts = words.select(col("id"),
      explode(shingleStarts(col("__w"), n)).as("s"))
      .select(col("id"), col("s.start").as("start"), col("s.sh").as("sh"))
    // document frequency per shingle: distinct docs, then one hash agg
    val freq = starts.select("id", "sh").distinct()
      .groupBy("sh").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf)
      .select("sh")
    // positions covered by any frequent gram occurrence
    val covered = starts.join(freq, Seq("sh"))
      .select(col("id"),
        explode(sequence(col("start"), col("start") + (n - 1))).as("pos"))
      .distinct()
    val kept = pos.join(covered, Seq("id", "pos"), "left_anti")
      .groupBy("id").agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("word")))),
          x => x.getField("word"))).as("text_clean"),
        count(lit(1)).as("__kept"))
    val counts = words.select(col("id"),
      size(col("__w")).cast(LongType).as("n_words"))
    counts.join(kept, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_words"),
        (col("n_words") - coalesce(col("__kept"), lit(0L))).as("n_dropped"))
  }

  /** Word n-gram shingles from a *materialized* token-array column.
    * IMPORTANT: `words` should be a plain column reference, not an
    * expression — every shingle position references it, and Catalyst
    * re-evaluates expression subtrees per reference (an inline
    * split-regex here turns O(tokens) into O(tokens²) work). */
  def shinglesFromWords(words: Column, n: Int): Column =
    when(size(words) >= n,
      array_distinct(transform(
        sequence(lit(1), size(words) - (n - 1)),
        // element_at is O(1) per word; slice(words, i, n) would copy O(|doc|)
        // per position — O(|doc|^2) per document inside an interpreted
        // higher-order lambda (measured 2.9 s of a 4.4 s ngram run at sf0.1)
        i => concat_ws(" ", (0 until n).map(j => element_at(words, i + j)): _*))))
      .otherwise(array().cast(ArrayType(StringType)))

  /** Word n-gram shingles of normalized text (empty array when fewer than n
    * words). Single-expression form — for DataFrame-level ops prefer
    * [[exploded]] which materializes the token array first. */
  def shingles(text: Column, n: Int): Column =
    shinglesFromWords(TextOps.tokens(TextOps.normalized(text)), n)

  /** Spread an under-parallelized input across the cluster before an
    * expression-heavy stage: a small parquet file arrives as ONE split, so
    * tokenize/shingle/hash would run single-threaded ahead of the first
    * shuffle. No-op when the scan already has enough splits (the 100 TB
    * case) — then an extra corpus shuffle would be pure harm.
    *
    * Three tiers, cheapest first:
    *  1. the plan already contains a repartition (e.g. spread applied
    *     upstream) → no-op, never stack a second exchange;
    *  2. trustworthy size stats → estimate splits as bytes /
    *     `files.maxPartitionBytes` (no RDD lineage instantiated on the
    *     planning pass — the common catalog-query path);
    *  3. stats are the default sentinel (LogicalRDD / streaming batch
    *     frames report defaultSizeInBytes) → fall back to the exact
    *     `rdd.getNumPartitions`; paying one lineage instantiation beats
    *     silently never spreading the tiny micro-batch case. */
  private[graft] def spread(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val plan = df.queryExecution.optimizedPlan
    if (plan.exists { case _: RepartitionOperation => true; case _ => false })
      df
    else {
      val bytes = plan.stats.sizeInBytes
      val reliable = bytes < spark.sessionState.conf.defaultSizeInBytes
      val narrow =
        if (reliable)
          (bytes / spark.sessionState.conf.filesMaxPartitionBytes) + 1 < target
        else df.rdd.getNumPartitions < target
      if (narrow) df.repartition(target) else df
    }
  }

  /** (id, shingle) rows with the token array materialized in a separate
    * projection so tokenization runs once per document. */
  private[ops] def explodedShingles(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    spread(df.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"), TextOps.tokens(TextOps.normalized(col("__t"))).as("__w"))
      .select(col("id"), explode(shinglesFromWords(col("__w"), n)).as("shingle"))

  /** N-gram Jaccard near-dup pairs: explode distinct shingles, equi-join on
    * shingle (the only shuffle), count common, |A∪B| by inclusion-exclusion.
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    *
    * The shingle join is the scalable skeleton; hot shingles (stopword-only
    * grams) are the skew risk, so callers can cap frequency via
    * `maxShingleFreq` (drop grams shared by more than that many docs —
    * standard df-cut in near-dup mining). */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String, n: Int,
      threshold: Double, maxShingleFreq: Option[Int] = None): DataFrame = {
    val sh = explodedShingles(df, idCol, textCol, n)
    val filtered = maxShingleFreq match {
      case Some(cap) =>
        // df-cut: frequency via one aggregation, then semi-filter.
        val rare = sh.groupBy("shingle").count().filter(col("count") <= cap)
          .select("shingle")
        sh.join(broadcast(rare), Seq("shingle"), "left_semi")
      case None => sh
    }
    // shingles are distinct per doc, so |doc| = count of its exploded rows
    // (from the UNCUT set — Jaccard denominators must ignore the df-cut).
    // Saves a second tokenization pass over the corpus.
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val common = filtered.as("a").join(filtered.as("b"), "shingle")
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnsRenamed(Map("id" -> "id_a", "sz" -> "sz_a")), "id_a")
      .join(sizes.withColumnsRenamed(Map("id" -> "id_b", "sz" -> "sz_b")), "id_b")
      .withColumn("jaccard",
        col("common").cast(DoubleType) /
          (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** N-gram CONTAINMENT near-dup pairs — the doc-inside-doc detector
    * Jaccard structurally misses: a short document fully quoted inside a
    * long one scores jaccard ≈ |short|/|long| (arbitrarily low) but
    * containment |A∩B| / min(|A|,|B|) ≈ 1. The standard screen for
    * quote-wrapped copies, boilerplate-embedded mirrors, and truncated
    * re-crawls. Same scalable skeleton as [[ngramJaccardPairs]]: one
    * shingle equi-join, df-cut for hot shingles, sizes from the uncut
    * exploded set. Returns (id_a, id_b, containment), id_a < id_b. */
  def ngramContainmentPairs(
      df: DataFrame, idCol: String, textCol: String, n: Int,
      threshold: Double, maxShingleFreq: Option[Int] = None): DataFrame = {
    val sh = explodedShingles(df, idCol, textCol, n)
    val filtered = maxShingleFreq match {
      case Some(cap) =>
        val rare = sh.groupBy("shingle").count().filter(col("count") <= cap)
          .select("shingle")
        sh.join(broadcast(rare), Seq("shingle"), "left_semi")
      case None => sh
    }
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val common = filtered.as("a").join(filtered.as("b"), "shingle")
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnsRenamed(Map("id" -> "id_a", "sz" -> "sz_a")), "id_a")
      .join(sizes.withColumnsRenamed(Map("id" -> "id_b", "sz" -> "sz_b")), "id_b")
      .withColumn("containment",
        col("common").cast(DoubleType) /
          least(col("sz_a"), col("sz_b")).cast(DoubleType))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  /** Source-pair overlap diagnostics: for every pair of sources, the
    * overlap coefficient of their distinct shingle sets —
    * |S_a ∩ S_b| / min(|S_a|, |S_b|). The corpus-composition question
    * ("are these two crawls the same data?") answered before any
    * doc-level dedup runs.
    *
    * Shapes: one aggregate folds each shingle to its sorted source SET
    * (≤ |sources| entries — a bounded array, not a row blow-up), and
    * the pair expansion is a per-row higher-order transform feeding a
    * sources²-bounded count — no self-join, so a shingle shared by
    * every source costs |sources|²/2 array elements once instead of a
    * join-row per (occurrence × occurrence). First measured: the
    * self-join formulation was 3.96 s at sf0.1; this shape ~1 s. */
  def sourceOverlap(df: DataFrame, sourceCol: String, textCol: String,
      n: Int): DataFrame = {
    // ONE corpus pass: collect_set dedups (src, shingle) inside the
    // shingle aggregate, so no separate distinct shuffle; the per-source
    // sizes derive from the SMALL per-shingle frame (O(shingles) rows,
    // ≤|sources| array entries each), which is checkpointed once for its
    // two consumers — the corpus is never re-shingled (first measured:
    // the naive three-consumer plan ran 3 full shingle passes)
    val bySh = spread(df.select(col(sourceCol).as("src"),
        col(textCol).as("__t")))
      .select(col("src"),
        explode(shinglesFromWords(
          TextOps.tokens(TextOps.normalized(col("__t"))), n)).as("shingle"))
      .groupBy("shingle")
      .agg(sort_array(collect_set(col("src"))).as("__ss"))
      .localCheckpoint()
    graft.core.Metrics.deferUnpersist(bySh)
    val sizes = bySh.select(explode(col("__ss")).as("src"))
      .groupBy("src").agg(count(lit(1)).as("sz"))
    val common = bySh
      .select(explode(expr(
        "flatten(transform(__ss, (x, i) -> " +
          "transform(slice(__ss, i + 2, size(__ss)), " +
          "y -> struct(x as a, y as b))))")).as("__p"))
      .groupBy(col("__p.a").as("src_a"), col("__p.b").as("src_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("src").as("src_a"), col("sz").as("sz_a")),
        Seq("src_a"))
      .join(sizes.select(col("src").as("src_b"), col("sz").as("sz_b")),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("common"),
        round(col("common").cast(DoubleType) /
          least(col("sz_a"), col("sz_b")).cast(DoubleType), 4)
          .as("overlap"))
  }

  /** KMV-sketch source overlap: the bounded-state 100 TB path for
    * [[sourceOverlap]]. Exact overlap shuffles EVERY distinct (source,
    * shingle) pair — O(corpus shingles) rows through the wire; here each
    * source is first reduced to a [[graft.functions.KmvSketchAgg]]
    * bottom-k sketch of its distinct shingle hashes (map-side partials
    * bound the shuffle to ≤ k longs per mapper per source), and all
    * pair math runs on the ≤ |sources| × k-long sketch frame — a
    * driver-negligible epilogue regardless of corpus size.
    *
    * Per pair: τ = k-th smallest of the DISTINCT union of the two
    * sketches (below τ both sets are exactly known), x = |{h ∈ A_k ∩
    * B_k : h ≤ τ}|, Jaccard ≈ x / k_eff (Beyer et al., SIGMOD'07).
    * Pairs are derived from ONE collected struct array (the same
    * transform/slice enumeration [[sourceOverlap]] uses) — no
    * self-join, no cartesian.
    *
    * Hashes are [[graft.functions.Portable.h60]], so the whole sketch —
    * not just row counts — replays bit-for-bit on a DuckDB oracle
    * (`row_number() OVER (PARTITION BY src ORDER BY h) <= k`).
    *
    * Output: (src_a, src_b, kmv_k BIGINT, kmv_tau BIGINT, kmv_common
    * BIGINT, kmv_jaccard DOUBLE) for every unordered source pair. */
  def kmvSourceOverlap(df: DataFrame, sourceCol: String, textCol: String,
      n: Int, k: Int): DataFrame = {
    val sk = spread(df.select(col(sourceCol).as("src"),
        col(textCol).as("__t")))
      .select(col("src"),
        explode(shinglesFromWords(
          TextOps.tokens(TextOps.normalized(col("__t"))), n)).as("__sh"))
      .select(col("src"),
        graft.functions.Portable.h60(col("__sh")).as("__h"))
      .groupBy("src")
      .agg(graft.functions.KmvAggExprs.kmvFromHashes(col("__h"), k)
        .as("kmv"))
    // one row holding every source's sketch (bounded by |sources|);
    // sort_array fixes pair order so src_a < src_b deterministically
    val pairs = sk
      .agg(sort_array(collect_list(struct(col("src"), col("kmv"))))
        .as("__all"))
      .select(explode(expr(
        "flatten(transform(__all, (x, i) -> " +
          "transform(slice(__all, i + 2, size(__all)), " +
          "y -> struct(x.src as src_a, x.kmv as kmv_a, " +
          "y.src as src_b, y.kmv as kmv_b))))")).as("__p"))
      .select(col("__p.src_a").as("src_a"), col("__p.src_b").as("src_b"),
        col("__p.kmv_a").as("__a"), col("__p.kmv_b").as("__b"))
    pairs
      .withColumn("__st", kmvPairStats(col("__a"), col("__b"), k))
      .select(col("src_a"), col("src_b"),
        col("__st.kmv_k").as("kmv_k"), col("__st.kmv_tau").as("kmv_tau"),
        col("__st.kmv_common").as("kmv_common"),
        col("__st.kmv_jaccard").as("kmv_jaccard"))
  }

  /** Pair overlap math over two bottom-k sketch columns as a single
    * struct expression — the reusable tail of [[kmvSourceOverlap]], so
    * any sketch pairing (e.g. `SketchStream.kmvByKey` emissions joined
    * across groups for a live overlap tile) computes the identical
    * estimator. Returns struct(kmv_k, kmv_tau, kmv_common,
    * kmv_jaccard); two empty sketches yield (0, null, 0, 0.0). */
  def kmvPairStats(a: Column, b: Column, k: Int): Column = {
    val u = array_sort(array_union(a, b))
    val keff = least(lit(k.toLong), size(u).cast(LongType))
    // get() is 0-based, so this is the keff-th smallest; guarded —
    // element_at-style indexing rejects index 0 on empty unions
    val tau = when(keff > 0,
      get(u, (keff - 1).cast(IntegerType))).otherwise(lit(null))
    val x = size(filter(array_intersect(a, b), h => h <= tau))
      .cast(LongType)
    struct(keff.as("kmv_k"), tau.cast(LongType).as("kmv_tau"),
      x.as("kmv_common"),
      when(keff > 0,
        round(x.cast(DoubleType) / keff.cast(DoubleType), 4))
        .otherwise(lit(0.0)).as("kmv_jaccard"))
  }

  /** KMV union-cardinality estimate for a sorted bottom-k sketch column:
    * (|sketch| − 1) · 2^60 / max(sketch) — the classic k-th-minimum
    * estimator over the h60 hash space. Exposed for composition (e.g.
    * distinct-shingle counts per source without a distinct shuffle);
    * estimator math, so specs gate it by relative error, not an oracle. */
  def kmvCardinality(sketch: Column): Column =
    when(size(sketch) > 1,
      (size(sketch).cast(DoubleType) - 1.0) * math.pow(2.0, 60) /
        element_at(sketch, size(sketch)).cast(DoubleType))
      .otherwise(lit(0.0))

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03 — the MOSS local fingerprinting algorithm): hash every
    * k-token gram, slide a window over each w consecutive gram hashes,
    * keep each window's MINIMUM. The guarantee that makes it the
    * standard plagiarism/quote-detection sketch: any run of at least
    * w+k−1 tokens shared by two documents shares at least one selected
    * fingerprint (every length-(w+k−1) match spans a full window, and
    * both documents pick that window's minimum), while only ~2/(w+1)
    * of gram hashes survive — a positional, locality-guaranteed
    * complement to MinHash (whole-doc similarity, no position) and
    * [[duplicateSpans]] (exact substrings only, no sketch).
    *
    * Docs with fewer than w grams keep position 1's truncated-window
    * minimum (one fingerprint), so no non-empty document sketches to
    * nothing. Spark-first shape: one explode (corpus-token-linear),
    * one doc-keyed window pass (bounded ROWS frame — nothing
    * materializes beyond the per-partition sort), distinct on the
    * selected (id, fp) pairs. All integer [[Portable.h60]] math — an
    * SQL oracle replays the sketch bit-for-bit. Output: distinct
    * (idCol, fp LONG). */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, "gram size must be positive")
    require(w > 0, "window size must be positive")
    val toks = TextOps.tokens(TextOps.normalized(col(textCol)))
    val grams = df.select(col(idCol).as("__id"), toks.as("__toks"))
      .filter(size(col("__toks")) >= k)
      .select(col("__id"), col("__toks"),
        explode(sequence(lit(1), size(col("__toks")) - (k - 1)))
          .as("__p"))
      .select(col("__id"), col("__p"),
        graft.functions.Portable.h60(concat_ws(" ",
          (0 until k).map(j => element_at(col("__toks"),
            col("__p") + j)): _*)).as("__h"))
    val byDoc = Window.partitionBy(col("__id"))
    val fp = min(col("__h")).over(
      byDoc.orderBy(col("__p")).rowsBetween(Window.currentRow, w - 1))
    grams
      .withColumn("__n", count(lit(1)).over(byDoc))
      .withColumn("__fp", fp)
      // positions with a FULL trailing window; short docs keep p=1
      .filter(col("__p") + (w - 1) <= col("__n") || col("__p") === 1)
      .select(col("__id").as(idCol), col("__fp").as("fp"))
      .distinct()
  }

  /** Ingest-time quote/plagiarism detection against a PERSISTED
    * [[winnowFingerprints]] store — the winnowing member of the
    * incremental-dedup family (exact keys and MinHash signatures have
    * one too): winnow the new batch, probe the stored
    * (fp, doc) table, and report batch×corpus doc pairs sharing at
    * least `minShared` fingerprints — each shared fingerprint witnesses
    * a shared token run, so the pair list is positional evidence, not
    * just a similarity score.
    *
    * Scale shape: the batch side is micro-batch-sized, so its
    * fingerprints BROADCAST into the stored-table join — the corpus
    * store (100 TB-side) never shuffles; the group-by runs on matched
    * pairs only. Deployment rule for boilerplate: a fingerprint shared
    * by M corpus docs fans each batch hit to M rows, so cap fp
    * frequency AT STORE BUILD (drop fps above ~50 carriers — they
    * witness template text, not quotation; same reasoning as
    * [[stripFrequentParagraphs]]). Output: (id_new, id_corpus,
    * shared_fps), batch self-pairs excluded by construction. */
  def winnowIncremental(batch: DataFrame, idCol: String, textCol: String,
      storedFps: DataFrame, k: Int, w: Int,
      minShared: Long = 2L): DataFrame = {
    require(minShared > 0, "minShared must be positive")
    val bFps = winnowFingerprints(batch, idCol, textCol, k, w)
      .select(col(idCol).as("__nid"), col("fp"))
    storedFps.select(col(idCol).as("__oid"), col("fp"))
      .join(broadcast(bFps), "fp")
      .filter(col("__oid") =!= col("__nid"))
      .groupBy(col("__nid").as("id_new"), col("__oid").as("id_corpus"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** MinHash signatures as a DataFrame op: explode shingles, hash each
    * once (string hash), derive the `numHashes` family by re-hashing the
    * 8-byte value, take `numHashes` codegen'd `min` aggregates. Map-side
    * partial aggregation means the shuffle carries one signature per doc —
    * this is ~20x faster than the per-row array fold (higher-order
    * functions are interpreted, min-aggregates are whole-stage codegen'd)
    * and the form that scales: O(tokens) work, O(docs) shuffle.
    * Docs with no shingles are absent from the result. */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int): DataFrame = {
    val hashed = explodedShingles(df, idCol, textCol, n)
      .select(col("id"), xxhash64(col("shingle")).as("h"))
    val mins = (0 until numHashes)
      .map(i => min(xxhash64(col("h"), lit(i))).as(s"__m$i"))
    hashed.groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"__m$i")): _*).as("sig"))
  }

  /** LSH banding: split a signature into `bands` equal bands and hash each;
    * docs sharing any (band, hash) are candidates. `bands` must divide
    * `numHashes`: truncating division would give 0-row bands whose key is
    * constant — every row collides with every row and the banded join
    * silently degenerates to the all-pairs cross join it exists to avoid. */
  def lshBandKeys(sig: Column, bands: Int, numHashes: Int): Column = {
    require(bands > 0 && numHashes % bands == 0,
      s"bands=$bands must divide numHashes=$numHashes")
    val rows = numHashes / bands
    array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        xxhash64(array_join(slice(sig, b * rows + 1, rows), ",")).as("bucket"))
    ): _*)
  }

  /** MinHash+LSH candidate pairs with estimated Jaccard (fraction of equal
    * signature positions). One explode + one equi-join on (band,bucket) —
    * the canonical at-scale near-dup plan. */
  def minHashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      estThreshold: Double = 0.5): DataFrame = {
    val sigs = minHashSignatures(df, idCol, textCol, n, numHashes)
    minHashBandJoin(sigs, bands, numHashes, estThreshold,
      sig => explode(lshBandKeys(sig, bands, numHashes)))
  }

  /** Band self-join of a (id, sig) frame. The signature RIDES THROUGH the
    * join (it's bands×8B per doc and the estimate is a cheap codegen'd
    * compare) — rejoining it after a pair-dedup would recompute the whole
    * shingle→hash→agg pipeline per join side, two extra corpus passes
    * (verified in the physical plan: renamed-column rejoins defeat
    * exchange reuse). Contrast [[Similarity]].bandedDupPairs, where the
    * carried payload is the embedding and the rejoin is a raw re-scan. */
  private def minHashBandJoin(sigs: DataFrame, bands: Int, numHashes: Int,
      estThreshold: Double, bandKeys: Column => Column): DataFrame = {
    val keyed = sigs.select(col("id"), col("sig"),
      bandKeys(col("sig")).as("bk"))
    // merge-join hint: both sides are the SAME keyed frame, so the sorted
    // shuffle is planned once and read twice (ReusedExchange) — one
    // signature-pipeline pass total. A broadcast here would materialize
    // (and badly under-estimate) an O(docs)·sig-width build side.
    keyed.as("a").hint("merge").join(keyed.as("b").hint("merge"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (graft.functions.VectorExprs.equalPositions(col("a.sig"), col("b.sig"))
          .cast(DoubleType) / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= estThreshold)
      .distinct()
  }

  /** Portable twin of [[minHashCandidates]]: identical plan shape (explode
    * → numHashes codegen'd min aggs → band equi-join → estimate filter)
    * but the hash family is md5-derived ([[graft.functions.Portable]]) so
    * an external SQL engine recomputes signatures bit-for-bit — this is
    * the oracle-checked variant; xxhash64 stays the in-cluster default
    * (cheaper per shingle). Band buckets are the joined signature slice
    * itself (a string) rather than its xxhash — a slightly wider shuffle
    * key, same join cardinality.
    *
    * Knob guidance (MEASURED, DEDUP_RECALL.md at sf0.1 — r11 fixture
    * with a populated 0.1–0.4 borderline band, 2882 truth pairs at
    * ≥0.1 vs 256 at ≥0.5): rows-per-band r = numHashes/bands sets the
    * collision S-curve.
    *  - r=8 (64/8): recall 1.000 on ≥0.5 truth at precision 0.23–0.29 —
    *    the high-threshold dedup operating point; it sees only 11–23%
    *    of the borderline band.
    *  - r=4 (64/16): also 1.000 at ≥0.5, and 2–2.3× r=8's borderline
    *    recall (0.42 vs 0.23 at ≥0.3 truth) at ~3× the candidates —
    *    the middle ground for targets around 0.4.
    *  - r=2 (64/32 or 128/64): the only shape that HOLDS the
    *    borderline band — 0.96–1.00 recall at ≥0.3, 0.78–0.90 at ≥0.1
    *    (128/64) — at 3.5–4.5× r=4's candidate volume. Required when
    *    the target threshold is below ~0.4; r=4 alone is NOT enough
    *    there (the r10 extrapolation overestimated it).
    * Doubling numHashes at fixed r mainly adds borderline recall at
    * r=2 (0.78→0.90 at ≥0.1); it changes nothing at r≥4. */
  def minHashCandidatesPortable(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      estThreshold: Double = 0.5): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"bands=$bands must divide numHashes=$numHashes")
    val sigs = minHashSignaturesPortable(df, idCol, textCol, n, numHashes)
    minHashBandJoin(sigs, bands, numHashes, estThreshold,
      sig => explode(portableBandKeys(sig, bands, numHashes / bands)))
  }

  /** Per-band LSH collision diagnostics: bucket count, largest bucket,
    * and the implied candidate-pair volume Σ m·(m−1)/2 for every band
    * of the portable MinHash banding — the tuning/ops readout for the
    * S-curve knobs DEDUP_RECALL.md measures. The number that matters
    * at 100 TB is `cand_pairs`: a degenerate band (constant or
    * near-constant bucket — the failure [[lshBandKeys]]'s divisibility
    * require exists to prevent, but data can degenerate too: empty
    * texts, boilerplate-saturated corpora) shows up here as one bucket
    * holding the corpus, i.e. a quadratic join about to happen —
    * caught by a 2-aggregate diagnostic costing two map-side-combined
    * group-bys, run BEFORE the join that would detonate. Exact BIGINT
    * throughout. */
  def minHashBandStats(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"bands=$bands must divide numHashes=$numHashes")
    val rows = numHashes / bands
    val sigs = minHashSignaturesPortable(df, idCol, textCol, n, numHashes)
    sigs.select(explode(portableBandKeys(col("sig"), bands, rows))
        .as("bk"))
      .groupBy(col("bk.band").cast(LongType).as("band"),
        col("bk.bucket").as("__bucket"))
      .agg(count(lit(1)).as("__m"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets"),
        max(col("__m")).as("max_bucket"),
        sum(expr("(__m * (__m - 1)) div 2")).as("cand_pairs"))
  }

  /** Two-stage near-dup: MinHash+LSH candidate generation followed by an
    * EXACT edit-distance verification of each candidate pair — the
    * generate-then-verify shape (Xiao et al., Ed-Join, VLDB'08): the
    * O(len²) distance runs on the banded candidate set, never a corpus
    * cross product. Texts are clamped to `maxChars` before the distance,
    * which (a) bounds the per-pair cost and (b) yields a CONSTANT
    * early-exit threshold for the codegen'd `levenshtein(l, r, limit)`
    * variant: a pair whose distance exceeds (1−minEditSim)·maxChars can
    * never reach `minEditSim` on the clamped lengths, so the short-
    * circuit rejects exactly the pairs the final filter would.
    *
    * Plan: the candidate frame (small, post-banding) joins the clamped
    * corpus text twice on id — AQE picks broadcast when candidates fit;
    * the distance itself is a codegen'd binary expression, no UDF.
    * Output: (id_a, id_b, est_jaccard, edit_sim), edit_sim ∈ [0,1]
    * computed on the clamped prefixes. */
  def editVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      estThreshold: Double = 0.3, minEditSim: Double = 0.8,
      maxChars: Int = 1000): DataFrame = {
    require(minEditSim >= 0.0 && minEditSim <= 1.0,
      s"minEditSim=$minEditSim must be in [0,1]")
    require(maxChars > 0, s"maxChars=$maxChars must be positive")
    val cand = minHashCandidatesPortable(
      df, idCol, textCol, n, numHashes, bands, estThreshold)
    val txt = df.select(col(idCol).as("id"),
      substring(coalesce(col(textCol), lit("")), 1, maxChars).as("t"))
    val limit = math.ceil((1.0 - minEditSim) * maxChars).toInt
    val maxLen = greatest(length(col("__ta")), length(col("__tb")))
    // per-pair DP budget: the final filter keeps d ≤ (1−τ)·maxLen, so a
    // budget of ⌈(1−τ)·maxLen⌉+1 (the +1 absorbs the double-division
    // rounding of edit_sim at the boundary) rejects exactly the pairs the
    // similarity filter would — and is far tighter than the constant
    // ⌈(1−τ)·maxChars⌉ for short pairs, shrinking the banded DP's O(n·t)
    val perPair = least(lit(limit),
      (ceil((lit(1.0) - lit(minEditSim)) * maxLen.cast(DoubleType)) +
        lit(1)).cast("int"))
    val editSim = when(maxLen === 0, lit(1.0))
      .otherwise(lit(1.0) -
        col("__d").cast(DoubleType) / maxLen.cast(DoubleType))
    val shufflePartitions = df.sparkSession.sessionState.conf.numShufflePartitions
    cand
      // the verify stage is CPU-bound on few, fat rows; AQE coalesces the
      // small candidate frame to one partition, and because Catalyst
      // pushes the verify filters into the text-join stage, the whole DP
      // would run serially there. An explicit-N round-robin repartition
      // (which AQE never re-coalesces, and which sits BELOW the joins so
      // no filter can sink past it) spreads the join+verify stage across
      // every core — pair rows are independent, balance is perfect by
      // construction.
      .repartition(shufflePartitions)
      .join(txt.select(col("id").as("id_a"), col("t").as("__ta")), "id_a")
      .join(txt.select(col("id").as("id_b"), col("t").as("__tb")), "id_b")
      // Ed-Join-style verify-stage pruning, cheapest first (Xiao et al.
      // VLDB'08 reference/pkg has no counterpart — public literature):
      // 1. length filter: |len(a)−len(b)| ≤ budget (one subtraction);
      // 2. counting filter [[graft.functions.EditLowerBound]]: a one-pass
      //    histogram bound ed ≥ max(Δchars, ⌈L1/2⌉) — O(n) vs the DP's
      //    O(n·t) — removes most non-duplicate candidates before the DP;
      // 3. banded DP with the PER-PAIR budget, not the maxChars constant.
      .filter(abs(length(col("__ta")) - length(col("__tb"))) <= limit)
      .withColumn("__t", perPair)
      .filter(graft.functions.TextExprs
        .editLowerBound(col("__ta"), col("__tb")) <= col("__t"))
      .withColumn("__d", graft.functions.TextExprs
        .levenshteinThreshold(col("__ta"), col("__tb"), col("__t")))
      // −1 = the early exit fired: distance provably past the budget
      .filter(col("__d") >= 0)
      .withColumn("edit_sim", editSim)
      .filter(col("edit_sim") >= minEditSim)
      .select("id_a", "id_b", "est_jaccard", "edit_sim")
  }

  /** The md5-family signatures of [[minHashCandidatesPortable]] as a
    * standalone (id, sig) frame — the unit a warehouse PERSISTS so later
    * batches dedup against stored signatures instead of recomputing the
    * corpus ([[minHashIncrementalPortable]]). Same aggregate plan as
    * [[minHashSignatures]]; docs with no shingles are absent. */
  def minHashSignaturesPortable(df: DataFrame, idCol: String,
      textCol: String, n: Int = 3, numHashes: Int = 64): DataFrame = {
    import graft.functions.Portable
    val hashed = explodedShingles(df, idCol, textCol, n)
      .select(col("id"), Portable.h31(col("shingle")).as("h"))
    val mins = (0 until numHashes).map(i =>
      min((col("h") * Portable.hashA(i) + Portable.hashB(i)) % Portable.P)
        .as(s"__m$i"))
    hashed.groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"__m$i")): _*).as("sig"))
  }

  /** Band keys of a portable signature: (band, joined-slice) structs.
    * `private[graft]` so the streaming gate can sketch the SAME keys
    * the incremental join collides on. */
  private[graft] def portableBandKeys(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        array_join(slice(sig, b * rows + 1, rows), ",").as("bucket"))): _*)

  /** Incremental near-dup ingest — the MinHash twin of [[incremental]]:
    * candidates of a NEW batch against the accumulated corpus WITHOUT
    * recomputing corpus signatures. `storedSigs` is the persisted
    * [[minHashSignaturesPortable]] output (id, sig) — signatures are
    * per-document, so stored and freshly-computed signatures are
    * identical, and the result EQUALS batch-mode candidates over
    * (corpus ∪ batch) restricted to pairs touching a batch doc
    * (q_x_minhash_incr value-checks exactly that).
    *
    * Scale shape: a micro-batch is small — its banded keys broadcast, so
    * the stored-signature side computes band keys in a projection and
    * NEVER shuffles (the [[contamination]] probe shape); within-batch
    * pairs are a self-join of the tiny batch. Appending the batch's
    * signatures to the store afterwards advances the corpus, exactly as
    * [[incremental]]'s key append does. */
  def minHashIncrementalPortable(
      batch: DataFrame, idCol: String, textCol: String,
      storedSigs: DataFrame,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      estThreshold: Double = 0.5): DataFrame = {
    val batchSigs =
      minHashSignaturesPortable(batch, idCol, textCol, n, numHashes)
        // consumed by the within-batch self-join AND the cross join — one
        // signature computation, not three. EAGER on purpose (r20 A/B):
        // the lazy form lets the self-join's scan stages race the
        // broadcast build and re-run the md5 signature aggregate per
        // consumer — measured task CPU 15 → 34 s on the sf0.1 probe.
        // Lazy seams are only safe with a single consumer or a
        // sequential first materializer (the quality-model/perplexity
        // pattern).
        .localCheckpoint()
    // per-micro-batch ingest would otherwise accumulate checkpoint blocks
    // every trigger until driver GC — same soft-leak class CdcMerge defers
    graft.core.Metrics.deferUnpersist(batchSigs)
    minHashIncrementalFromSigs(batchSigs, Some(storedSigs), numHashes,
      bands, estThreshold)
  }

  /** [[minHashIncrementalPortable]] over PRECOMPUTED portable batch
    * signatures — the streaming gate computes signatures once (it needs
    * them for its band-key sketch) and hands them here; `storedSigs =
    * None` is the gate's novelty fast path (the corpus sketch proved no
    * band collision is possible, so only the within-batch self-join
    * runs — plan and output identical to the full form with an empty
    * cross leg). */
  def minHashIncrementalFromSigs(batchSigs: DataFrame,
      storedSigs: Option[DataFrame], numHashes: Int = 64,
      bands: Int = 16, estThreshold: Double = 0.5): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"bands=$bands must divide numHashes=$numHashes")
    val rows = numHashes / bands
    val withinBatch = minHashBandJoin(batchSigs, bands, numHashes,
      estThreshold, sig => explode(portableBandKeys(sig, bands, rows)))
    storedSigs match {
      case None => withinBatch
      case Some(stored) =>
        val bKeys = batchSigs.select(col("id").as("__nid"),
          col("sig").as("__nsig"),
          explode(portableBandKeys(col("sig"), bands, rows)).as("bk"))
        val sKeys = stored.select(col("id").as("__oid"),
          col("sig").as("__osig"),
          explode(portableBandKeys(col("sig"), bands, rows)).as("bk"))
        val cross = sKeys.join(broadcast(bKeys), "bk")
          .filter(col("__oid") =!= col("__nid"))
          .select(
            when(col("__oid") < col("__nid"), col("__oid"))
              .otherwise(col("__nid")).as("id_a"),
            when(col("__oid") < col("__nid"), col("__nid"))
              .otherwise(col("__oid")).as("id_b"),
            (graft.functions.VectorExprs
              .equalPositions(col("__osig"), col("__nsig"))
              .cast(DoubleType) / numHashes).as("est_jaccard"))
          .filter(col("est_jaccard") >= estThreshold)
          .distinct()
        withinBatch.unionByName(cross).distinct()
    }
  }

  /** SimHash: 64-bit sketch; near-dups differ in few bits. Computed per-row
    * by folding token hashes into a 64-dim counter array, then packing the
    * counter signs into a long in the fold's finish lambda. */
  def simHash(text: Column): Column = {
    val toks = TextOps.tokens(TextOps.normalized(text))
    def bitOf(h: Column, i: Int): Column =
      when(h.bitwiseAND(lit(1L << i)) =!= 0, lit(1L)).otherwise(lit(-1L))
    aggregate(
      toks,
      array_repeat(lit(0L), 64),
      (acc, t) => zip_with(acc,
        array((0 until 64).map(i => bitOf(xxhash64(t), i)): _*),
        (a, b) => a + b),
      acc => (0 until 64)
        .map(i => when(element_at(acc, i + 1) > 0, lit(1L << i)).otherwise(lit(0L)))
        .reduce((a, b) => a.bitwiseOR(b)))
  }

  /** SimHash signatures as a DataFrame op — the aggregate form of
    * [[simHash]] (explode tokens, one string hash each, 64 codegen'd
    * conditional sums, pack the signs). Same scale rationale as
    * [[minHashSignatures]]. Docs with no tokens are absent. */
  def simHashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = spread(df.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"),
        explode(TextOps.tokens(TextOps.normalized(col("__t")))).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
    val sums = (0 until 64).map(i =>
      sum(when(col("h").bitwiseAND(lit(1L << i)) =!= 0, 1L).otherwise(-1L))
        .as(s"__b$i"))
    hashed.groupBy("id").agg(sums.head, sums.tail: _*)
      .select(col("id"),
        (0 until 64)
          .map(i => when(col(s"__b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("sig"))
  }

  /** SimHash candidate pairs: band the 64 bits into `chunks` pieces; any
    * shared chunk → candidate; verify by Hamming distance <= maxHamming.
    *
    * Recall contract: the pigeonhole guarantee (a pair within distance d
    * must share a chunk) only holds for `maxHamming < chunks` — with
    * `maxHamming >= chunks` the result is the BANDED CANDIDATE set
    * (pairs within maxHamming that also share a chunk), a deliberate
    * recall/cost trade like any LSH; raise `chunks` for completeness at
    * larger distances. */
  def simHashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      chunks: Int = 4, maxHamming: Int = 3): DataFrame =
    simHashBandJoin(simHashSignatures(df, idCol, textCol), 64, chunks, maxHamming)

  /** Chunk-banded candidate join over a (id, sig) frame of `bits`-wide
    * simhash signatures. Chunk c = the signature masked to bits
    * [c·bitsPer, (c+1)·bitsPer) — equality of masked values == equality of
    * the chunk, no shift needed. */
  private def simHashBandJoin(withSig: DataFrame, bits: Int, chunks: Int,
      maxHamming: Int): DataFrame = {
    val bitsPer = bits / chunks
    val chunkMasks = (0 until chunks)
      .map(c => (((1L << bitsPer) - 1) << (c * bitsPer), c))
    val keyed = withSig.select(col("id"), col("sig"),
      explode(array(chunkMasks.map { case (mask, c) =>
        struct(lit(c).as("chunk"),
          col("sig").bitwiseAND(lit(mask)).as("bits"))
      }: _*)).as("bk"))
    // merge-join hint — the [[minHashBandJoin]] discipline: both sides are
    // the SAME keyed frame, so the sorted shuffle is planned once and read
    // twice (ReusedExchange) = one signature-pipeline pass total. Without
    // it Spark broadcasts side b and re-runs the whole explode→60-sum
    // aggregation chain for it (verified in the physical plan).
    keyed.as("a").hint("merge").join(keyed.as("b").hint("merge"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast(LongType)
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Portable twin of [[simHashSignatures]]: 60-bit signatures from the
    * md5-derived token hash ([[graft.functions.Portable.h60]]) so an SQL
    * oracle reproduces them exactly. Same plan: explode tokens, one hash
    * per token, 60 codegen'd conditional sums, pack the signs. */
  def simHashSignaturesPortable(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    import graft.functions.Portable
    val hashed = spread(df.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"),
        explode(TextOps.tokens(TextOps.normalized(col("__t")))).as("t"))
      .select(col("id"), Portable.h60(col("t")).as("h"))
    val sums = (0 until 60).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"__b$i"))
    hashed.groupBy("id").agg(sums.head, sums.tail: _*)
      .select(col("id"),
        (0 until 60)
          .map(i => when(col(s"__b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("sig"))
  }

  /** Portable twin of [[simHashCandidates]] (60-bit signatures, 15-bit
    * chunks at chunks=4) — the oracle-checked variant. */
  def simHashCandidatesPortable(
      df: DataFrame, idCol: String, textCol: String,
      chunks: Int = 4, maxHamming: Int = 3): DataFrame =
    simHashBandJoin(simHashSignaturesPortable(df, idCol, textCol), 60,
      chunks, maxHamming)

  /** Benchmark decontamination — the eval-leakage gate every pretraining
    * pipeline runs: flag corpus documents sharing word n-gram shingles
    * with a benchmark/eval set (the GPT-3/PaLM-style 13-gram collision
    * test; `n` is a parameter since synthetic corpora need smaller
    * grams). Returns one row per corpus document: distinct-shingle hit
    * count and the `contaminated` flag (hits ≥ minHits).
    *
    * Scale shape: the benchmark is the SMALL side by construction (eval
    * sets are MBs against a 100 TB corpus) — its distinct shingles are
    * broadcast, so the corpus-side explode never shuffles for the probe;
    * the only wide op is the per-doc hit-count aggregation (map-side
    * partial over the doc id the explode already carries). */
  def contamination(corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int,
      minHits: Int = 1): DataFrame = {
    val docSh = explodedShingles(corpus, idCol, textCol, n)
    val benchSh = explodedShingles(
        benchmark.select(lit(0L).as("__bid"), col(benchTextCol)),
        "__bid", benchTextCol, n)
      .select("shingle").distinct()
    val hits = docSh.join(broadcast(benchSh), Seq("shingle"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
    corpus.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) >= minHits).as("contaminated"))
  }

  /** Duplicate-cluster resolution: the step a dedup pipeline ends with.
    * Near-dup detection yields PAIRS; keep-one-per-group needs the
    * connected COMPONENTS of the pair graph (A~B, B~C ⇒ {A,B,C} even if
    * A,C were never compared). Returns (id, cluster) where cluster = the
    * smallest id reachable from `id` — the canonical representative.
    *
    * Algorithm: min-label propagation to the fixpoint, with DELTA
    * (frontier) iteration: only labels that changed in the previous
    * round can lower anyone's min, so each round joins the edge list
    * against the changed set instead of all labels — after round 1 the
    * frontier collapses to the few still-converging components and every
    * join has a tiny (AQE-broadcastable) side; the O(members) shuffles
    * happen once, not once per round. Labels are localCheckpoint'ed per
    * round to keep lineage flat (an iterative plan otherwise doubles per
    * round). Every step is a deterministic min — the result is exactly
    * the reachability fixpoint a recursive-CTE oracle computes
    * (ClustersDeltaSpec proves equality with the plain fixpoint on
    * chains, stars and cliques).
    *
    * `ids`: one row per member (e.g. the documents table keyed by doc_id);
    * isolated ids come out as their own cluster. */
  def clusters(ids: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    // materialize the pair pipeline ONCE: `pairs` is typically a whole
    // near-dup detection pipeline, and both the symmetric union below and
    // every propagation round would otherwise re-run it from the scan
    // (the naive `pairs.union(pairs.swap)` plan computes the detection
    // joins twice even before the first round).
    val half = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .localCheckpoint()
    // symmetric edge list from the checkpointed blocks — a narrow
    // double-scan, not a double pipeline run
    val edges = half.union(
      half.select(col("dst").as("src"), col("src").as("dst")))
    // iterate ONLY over nodes with at least one edge: isolated ids are
    // their own cluster by definition and would just ride along through
    // every round — near-dup components are typically a small fraction of
    // the corpus, so this shrinks the per-round joins from O(corpus) to
    // O(component members) at any scale. Initial label = min(id, min
    // neighbor): one aggregation that IS round 1's neighbor-min, fused
    // with the member-set computation (star components finish here).
    var labels = edges.groupBy(col("src").as("id"))
      .agg(least(col("src"), min(col("dst"))).as("cluster"))
      .localCheckpoint()
    // the delta frontier: ids whose label changed last round (everything
    // is "new" before round 1). Only these can lower anyone's min.
    var frontier = labels
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // ONE materialization per round: neighbor-min and pointer-jump both
      // read the checkpointed `labels` and fold into `next` inside a
      // single fused plan — the round 's wall is one job + the (cheap,
      // checkpoint-scan) convergence probe, instead of the two-stage
      // materialize-then-jump shape that paid a second checkpoint per
      // round for a slightly faster doubling schedule.
      //
      // min over neighbors' labels, FRONTIER-RESTRICTED: a neighbor whose
      // label did not change last round already contributed its min.
      val viaNeighbors = edges
        .join(frontier
            .withColumnsRenamed(Map("id" -> "src", "cluster" -> "c")),
          "src")
        .groupBy(col("dst").as("id")).agg(min(col("c")).as("nmin"))
      // Pointer jumping off `labels`: adopt the label OF the current
      // label (labels are ids, so a join resolves it). Neighbor-min alone
      // needs O(diameter) rounds; the shortcut doubles the effective hop
      // each round → O(log n). Delta form: a jump can only produce news
      // when the POINTEE's label changed last round (join 1) or the
      // jumping row itself re-pointed last round (join 2) — both joins
      // have a frontier-sized side AQE broadcasts once components start
      // converging.
      val fP = frontier.select(col("id").as("pid"), col("cluster").as("pc"))
      val allP = labels.select(col("id").as("pid"), col("cluster").as("pc"))
      val jumped = labels.join(fP, col("cluster") === col("pid"))
        .select(col("id"), col("pc"))
        .union(frontier.join(allP, col("cluster") === col("pid"))
          .select(col("id"), col("pc")))
        .groupBy("id").agg(min(col("pc")).as("jc"))
      // LAZY checkpoint + full-count convergence probe (VERDICT r19
      // #5): the eager checkpoint paid one job to materialize `next`
      // and the probe paid a second; a lazy checkpoint materializes
      // under the probe's full scan, so each round is ONE job. The
      // probe must be a FULL count (not limit(1)) — an early-exit scan
      // would leave checkpoint partitions unmaterialized and push
      // their lineage into the next round. On a 30-round graph at
      // deployment scale the per-round job count is the term that
      // matters (driver scheduling floor × rounds).
      val next = labels
        .join(viaNeighbors, Seq("id"), "left")
        .join(jumped, Seq("id"), "left")
        .select(col("id"), col("cluster").as("prev"),
          least(col("cluster"),
            least(coalesce(col("nmin"), col("cluster")),
              coalesce(col("jc"), col("cluster")))).as("cluster"))
        .localCheckpoint(false)
      val changed = next.filter(col("cluster") =!= col("prev")).count()
      // the superseded checkpoint's blocks are dead once `next` is
      // materialized — free them, or a long component chain retains one
      // full label set per round in executor storage
      labels.unpersist()
      frontier = next.filter(col("cluster") =!= col("prev"))
        .select("id", "cluster")
      labels = next.select("id", "cluster")
      converged = changed == 0
      iter += 1
    }
    // isolated ids come back as their own cluster
    val isolated = ids.select(col(idCol).as("id"))
      .join(labels.select("id"), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster"))
    labels.union(isolated)
  }
}
