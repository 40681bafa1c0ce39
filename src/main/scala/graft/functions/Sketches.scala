package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Portable mergeable HyperLogLog sketches over [[Portable.h60]] hashing.
  *
  * Warehouse engines expose HLL as a first-class persisted type
  * (`hll_sketch` columns that accumulate, merge across partitions /
  * days / batches, and answer distinct-count queries without rescanning
  * history). This is the Spark-native equivalent, designed so that every
  * step — register assignment, merge, and the cardinality estimate
  * itself — is reproducible bit-for-bit by an external SQL engine:
  *
  *  - hash = [[Portable.h60]] (md5-derived 60-bit integer; any engine).
  *  - register index = low `p` bits; rank = leading-zero count of the
  *    remaining `60-p` bits + 1, computed via the base-2 digit LENGTH of
  *    the integer (`conv(w,10,2)` here, `bin(w)` in DuckDB) — an exact
  *    integer path with none of the `floor(log2(double))` last-ulp
  *    hazards.
  *  - a sketch IS its register array (`array<int>` of size `m = 2^p`),
  *    merge = elementwise max — associative + commutative + idempotent,
  *    so per-partition partials, per-day persisted sketches, and
  *    stream/batch twins all compose to the identical array.
  *  - the harmonic mean in the estimator is computed in FIXED POINT:
  *    `intsum = Σ 2^(R - rank_j)` with `R = 61 - p`. Every term is an
  *    exact power of two and `intsum ≤ m·2^R = 2^61`, so the sum is
  *    exact BIGINT arithmetic in any engine — no float-accumulation
  *    order sensitivity. The estimate is then ONE IEEE division of two
  *    exact values (`alphaNum / intsum`), identical everywhere.
  *
  * Scale: the per-group sketch build is two hash-aggregate shuffles —
  * (group, register) max-rank, then group reassembly — both with
  * map-side partials; the wire carries at most `m` rows per (partition,
  * group). A 100 TB corpus's per-domain cardinalities become a
  * `domains × m·4` bytes table that merges with tomorrow's batch in
  * O(domains) — never rescanning history. Precision: standard HLL rsd
  * ≈ 1.04/√m (m=256 → 6.5%); small cardinalities (< 2.5m with empty
  * registers) switch to linear counting, same rule in the oracle.
  */
object Sketches {

  /** Default precision: m = 256 registers, rsd ≈ 6.5%, 1 KiB per sketch. */
  val DefaultP = 8

  /** Max rank for precision p (rank of an all-zero suffix: 60-p zero
    * bits → rank (60-p)+1). */
  def maxRank(p: Int): Int = 61 - p

  private def alphaNum(p: Int): Double = {
    val m = (1 << p).toDouble
    // standard bias constants (Flajolet et al.); m >= 128 uses the
    // asymptotic form. Precomputed driver-side so both engines see one
    // double literal and the estimate is a single division from it.
    val alpha =
      if (p == 4) 0.673
      else if (p == 5) 0.697
      else if (p == 6) 0.709
      else 0.7213 / (1.0 + 1.079 / m)
    alpha * m * m * math.pow(2.0, (61 - p).toDouble)
  }

  /** Register index (low p bits) of an h60 hash. */
  def regOf(h60: Column, p: Int): Column =
    h60.bitwiseAND(lit((1L << p) - 1)).cast(IntegerType)

  /** Rank (leading-zero run + 1 of the high 60-p bits) of an h60 hash.
    * Exact integer path: bit length via base-2 string digits. */
  def rankOf(h60: Column, p: Int): Column = {
    val w = shiftright(h60, p)
    when(w === 0L, lit(maxRank(p)))
      .otherwise(lit(maxRank(p)) - length(conv(w, 10, 2)))
      .cast(IntegerType)
  }

  /** Per-group HLL sketch build: one register-array row per group.
    *
    * Two-level aggregation: (group, register) max-rank first — the
    * register key spreads a hot group over m reducers, so a single
    * pathological domain cannot skew the exchange — then group-level
    * reassembly into a dense `array<int>` of size m (empty register =
    * 0). Both levels carry map-side partials. */
  def hllSketch(df: DataFrame, groupCols: Seq[String], key: Column,
      p: Int = DefaultP, sketchCol: String = "hll"): DataFrame = {
    val g = groupCols.map(col)
    // custom TypedImperativeAggregate: the buffer IS the register array
    // (HllAggExprs) — ONE group shuffle carrying one m-int buffer per
    // (mapper, group) instead of exploding to (group, register) rows and
    // aggregating twice; register values bit-identical to regOf/rankOf
    df.select(g :+ Portable.h60(key).as("__h"): _*)
      .groupBy(g: _*)
      .agg(HllAggExprs.hllFromHashes(col("__h"), p).as(sketchCol))
  }

  /** Merge two sketch arrays (same p): elementwise max. */
  def hllMerge(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) => greatest(x, y))

  /** Merge many sketch rows down to one per group — the "union stored
    * per-day sketches into the monthly number" aggregation. Explodes to
    * (group, pos) so the shuffle is register-parallel; map-side max
    * partials keep the wire at m rows per (partition, group). */
  def hllMergeAgg(df: DataFrame, groupCols: Seq[String],
      p: Int = DefaultP, sketchCol: String = "hll"): DataFrame = {
    val g = groupCols.map(col)
    df.groupBy(g: _*)
      .agg(HllAggExprs.hllUnion(col(sketchCol), p).as(sketchCol))
  }

  /** Fixed-point harmonic sum `Σ 2^(R - rank_j)` — exact BIGINT. */
  def hllIntSum(sketch: Column, p: Int): Column =
    aggregate(sketch, lit(0L),
      (acc, r) => acc + call_function("shiftleft", lit(1L),
        lit(maxRank(p)) - r))

  /** Count of empty registers (drives the linear-counting branch). */
  def hllZeros(sketch: Column): Column =
    size(filter(sketch, r => r === 0))

  /** Cardinality estimate from a register array. Raw branch is a single
    * IEEE division of exact values; small-range branch is linear
    * counting `m·ln(m/V)` (a closed form any SQL engine replays). */
  def hllEstimate(sketch: Column, p: Int = DefaultP): Column = {
    val m = (1 << p).toDouble
    val raw = lit(alphaNum(p)) / hllIntSum(sketch, p).cast(DoubleType)
    val v = hllZeros(sketch)
    when(raw <= lit(2.5 * m) && v > 0,
      lit(m) * log(lit(m) / v.cast(DoubleType))).otherwise(raw)
  }

  // ======================================================================
  // Count-min sketch: fixed d×w integer counters for frequency estimation
  // (heavy hitters) under one-sided error (estimate >= true count, excess
  // bounded by N·e/w per row, min over d rows). Pure integer arithmetic
  // over the [[Portable]] universal family, so sketch contents AND
  // point-lookup estimates replay exactly in any SQL engine.
  //
  // Scale: the sketch is at most d·w rows regardless of corpus size —
  // built by ONE hash aggregate over the exploded (row, bucket) stream
  // (map-side partials absorb the token firehose), merged across batches
  // or days by summing counters (associative), and broadcast for lookups
  // so candidate scoring never shuffles the corpus.
  // ======================================================================

  /** Default CMS shape: 4 rows × 1024 buckets = 4096 counters (32 KiB);
    * excess ≤ N·e/1024 ≈ 0.27% of stream mass per row before the min. */
  val CmsD = 4
  val CmsW = 1024

  /** The d bucket indices of a key: h_i(x) = ((a_i·h31(x) + b_i) mod P)
    * mod w. Products stay < 2^62 (ANSI-safe, see [[Portable]]). */
  def cmsBuckets(key: Column, d: Int = CmsD, w: Int = CmsW): Column =
    array((0 until d).map { i =>
      ((lit(Portable.hashA(i)) * Portable.h31(key) + lit(Portable.hashB(i)))
        % Portable.P % w).cast(IntegerType)
    }: _*)

  /** Build a sparse CMS over a key stream: (row, bucket, cnt), ≤ d·w
    * rows. `weight` counts each occurrence `weight` times (defaults 1 —
    * plain frequency). */
  def cmsSketch(df: DataFrame, key: Column, d: Int = CmsD, w: Int = CmsW,
      weight: Column = lit(1L)): DataFrame =
    df.select(posexplode(cmsBuckets(key, d, w)).as(Seq("row", "bucket")),
        weight.cast(LongType).as("__w"))
      .groupBy("row", "bucket").agg(sum(col("__w")).as("cnt"))

  /** Merge sketches (same d/w family): counters add. */
  def cmsMerge(sketches: DataFrame): DataFrame =
    sketches.groupBy("row", "bucket").agg(sum(col("cnt")).as("cnt"))

  /** Point-estimate the count of each candidate key: min over the d
    * counters (0 if any bucket untouched). The sketch side is ≤ d·w rows
    * — broadcast, so scoring any number of candidates is shuffle-free on
    * the sketch side. */
  def cmsLookup(sketch: DataFrame, keys: DataFrame, keyCol: String,
      d: Int = CmsD, w: Int = CmsW): DataFrame =
    keys.select(col(keyCol),
        posexplode(cmsBuckets(col(keyCol), d, w)).as(Seq("row", "bucket")))
      .join(broadcast(sketch), Seq("row", "bucket"), "left")
      .groupBy(keyCol)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_count"))

  // ======================================================================
  // Quantile histogram sketch (DDSketch-flavored): values land in
  // log-spaced integer buckets — 4 mantissa bits after the leading bit,
  // so any quantile estimate is within 1/16 relative error (values below
  // 31/QScale are exact). The sketch is (bucket, cnt) integer rows:
  // mergeable by counter addition, persistable per group/day, and every
  // step — the fixed-point scaling, the bit-length bucket id, the
  // cumulative threshold ceil(q·N), the lower-bound reconstruction — is
  // exact integer/single-IEEE-op arithmetic replayed verbatim by DuckDB.
  //
  // Scale: ONE hash aggregate over the rows (map-side partials), output
  // ≤ a few hundred buckets per group regardless of input size; the
  // quantile extraction is a window over that tiny sketch, never the
  // data.
  // ======================================================================

  /** Fixed-point resolution: 10^-4 absolute below 0.0032, 1/16 relative
    * above. */
  val QScale = 10000.0

  /** Scaled fixed-point value (exact: one IEEE multiply + floor). */
  def qScaled(value: Column): Column =
    floor(value.cast(DoubleType) * lit(QScale)).cast(LongType)

  /** Log-bucket id of a scaled value: tiny/nonpositive values get exact
    * cells 0..31; above, (bitlen << 4) | top-4-mantissa-bits. */
  def qBucket(scaled: Column): Column = {
    val len = length(conv(scaled, 10, 2)).cast(IntegerType)
    when(scaled <= 0L, lit(0))
      .otherwise(when(scaled < 32L, scaled.cast(IntegerType))
        .otherwise((len * 16 +
          call_function("shiftright", scaled, len - 5)
            .bitwiseAND(lit(15L)).cast(IntegerType)).cast(IntegerType)))
  }

  /** Scaled lower bound of a bucket (the quantile representative). */
  def qLowerBound(bucket: Column): Column =
    when(bucket < 32, bucket.cast(LongType))
      .otherwise(call_function("shiftleft",
        (lit(16L) + bucket.bitwiseAND(lit(15)).cast(LongType)),
        (call_function("shiftright", bucket, lit(4)) - lit(5))))

  /** Build a per-group quantile sketch: (groupCols..., bucket, cnt). */
  def qSketch(df: DataFrame, groupCols: Seq[String], value: Column)
      : DataFrame = {
    val g = groupCols.map(col)
    df.select(g :+ qBucket(qScaled(value)).as("bucket"): _*)
      .groupBy(g :+ col("bucket"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge sketches: counters add per (group, bucket). */
  def qMerge(sketches: DataFrame, groupCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    sketches.groupBy(g :+ col("bucket"): _*).agg(sum(col("cnt")).as("cnt"))
  }

  /** Extract quantiles from a sketch: for each q, the lower bound of the
    * first bucket whose cumulative count reaches ceil(q·N), scaled back
    * to value units. Emits (groupCols..., q, est). */
  def qQuantiles(sketch: DataFrame, groupCols: Seq[String],
      qs: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    val cumW = Window.partitionBy(g: _*).orderBy(col("bucket"))
    val totW = Window.partitionBy(g: _*)
    val cum = sketch
      .withColumn("__cum", sum(col("cnt")).over(cumW))
      .withColumn("__n", sum(col("cnt")).over(totW))
    qs.map { q =>
      cum.filter(col("__cum") >= ceil(lit(q) * col("__n")))
        .groupBy(g: _*).agg(min(col("bucket")).as("__mb"))
        .select(g :+ lit(q).as("q") :+
          (qLowerBound(col("__mb")).cast(DoubleType) / lit(QScale))
            .as("est"): _*)
    }.reduce(_.unionByName(_))
  }
}
