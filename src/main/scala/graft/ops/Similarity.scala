package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a single scan with a per-row dot
  * product (codegen'd `zip_with`/`aggregate`, computed in double) and a
  * distributed TakeOrderedAndProject (`orderBy.limit`), i.e. per-partition
  * heaps + driver merge of k rows, never a full sort.
  *
  * Scale path: random-hyperplane LSH — each vector hashes to a small
  * signature; a query probes only its bucket(s). Hyperplanes are
  * deterministic (seeded splitmix) so signatures are reproducible across
  * runs and executors.
  */
object Similarity {

  /** Sum of element-wise products in double — codegen'd custom expression
    * (graft.functions.DotProduct), not an interpreted higher-order fold:
    * it's evaluated O(candidate pairs) times in the near-dup joins. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExprs.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d > 0, dot(a, b) / d).otherwise(lit(0.0))
  }

  // constant array literal — NOT array(lit...), which codegen rebuilds per
  // row; a typedlit is one shared ArrayData constant (matters when 16
  // plane vectors are dotted against every row)
  private def vecLit(v: Array[Double]): Column = typedlit(v.toSeq)

  /** Brute-force top-k by cosine against a fixed query vector.
    * Deterministic tie-break on id ascending. */
  def bruteForceTopK(
      df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int): DataFrame =
    df.select(col(idCol),
        cosine(col(vecCol), vecLit(query)).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(idCol).asc)
      .limit(k)

  /** Random-hyperplane signature: bit i = sign(v · h_i), packed into a
    * long. Hyperplane components are deterministic xxhash64-derived values
    * in [-1, 1] — identical on every executor and every run. One codegen'd
    * pass per row (graft.functions.HyperplaneSig), no shuffle. */
  def hyperplaneSignature(vec: Column, numPlanes: Int): Column =
    graft.functions.VectorExprs.hyperplaneSig(vec, numPlanes)

  /** LSH-bucketed ANN: candidates share the query's signature bucket (or
    * differ in <= probeBits bits), then exact cosine re-rank of the
    * candidate set only. At 100 TB the bucket column is a partition key —
    * the probe touches a tiny fraction of data.
    *
    * Defaults (planes=16, probeBits=6) are the measured operating point
    * for CLUSTERED embeddings — real embedding spaces, where signatures
    * carry locality: recall@10 = 1.0 probing ~11% of the corpus
    * (RECALL.md clustered sweep). On uniform/structureless vectors LSH
    * recall can never beat the probed fraction (measured gain ≈ 1);
    * use [[Ivf]] there. The old probeBits=2 default measured 0.005
    * recall on the uniform fixture — a silent near-empty probe. */
  def lshTopK(
      df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int,
      numPlanes: Int = 16, probeBits: Int = 6): DataFrame = {
    val sigCol = hyperplaneSignature(col(vecCol), numPlanes)
    val querySig = hyperplaneSignature(vecLit(query), numPlanes)
    val candidates = df
      .withColumn("__sig", sigCol)
      .withColumn("__qsig", querySig)
      .filter(bit_count(col("__sig").bitwiseXOR(col("__qsig"))) <= probeBits)
    bruteForceTopK(candidates.drop("__sig", "__qsig"), idCol, vecCol, query, k)
  }

  /** Portable twin of [[lshTopK]]: signatures from [[portablePlanes]],
    * the query's signature computed driver-side with the same
    * left-to-right double dot — so an SQL oracle reproduces the probe set
    * and the re-rank exactly. */
  def lshTopKPortable(
      df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int,
      numPlanes: Int = 16, probeBits: Int = 6, dim: Int = 64): DataFrame = {
    val planes = portablePlanes(numPlanes, dim)
    val querySig = portableQuerySignature(query, planes)
    val candidates = df
      .withColumn("__sig", portableSignature(col(vecCol), planes))
      .filter(bit_count(col("__sig").bitwiseXOR(lit(querySig))) <= probeBits)
      .drop("__sig")
    bruteForceTopK(candidates, idCol, vecCol, query, k)
  }

  /** Exact cosine near-duplicate pairs — the all-pairs VERIFICATION
    * baseline (O(n²); use [[cosineDupPairs]] at scale). Deliberately not
    * in the shipped query catalog: it exists to validate the banded-LSH
    * path on small fixtures, and it fails fast above
    * `maxRows` (the one extra `limit(n+1).count()` job is the price of a
    * cartesian that can never silently run over a corpus). Norms are
    * computed once per vector before the join, so each pair costs a
    * single codegen'd dot product. Deterministic: double accumulation
    * left-to-right, `dot/(sqrt(na)*sqrt(nb))`. */
  def bruteForcePairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxRows: Long = 100000): DataFrame = {
    require(df.limit((maxRows + 1).toInt).count() <= maxRows,
      s"bruteForcePairs is the O(n²) verification baseline and refuses " +
        s"inputs over $maxRows rows — use cosineDupPairs at scale")
    val v = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      sqrt(dot(col(vecCol), col(vecCol))).as("nrm"))
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        when(col("a.nrm") * col("b.nrm") > 0,
          dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm")))
          .otherwise(lit(0.0)).as("cosine_sim"))
      .filter(col("cosine_sim") >= threshold)
  }

  /** Deterministic portable hyperplanes: component (i, j) =
    * (md5-derived h60("p_i_j") mod P) / P · 2 − 1 ∈ [−1, 1) — computable
    * identically by an SQL oracle. Driver-computed once (numPlanes × dim
    * doubles), embedded as literals. */
  def portablePlanes(numPlanes: Int, dim: Int): Array[Array[Double]] = {
    import graft.functions.Portable
    Array.tabulate(numPlanes)(i => Array.tabulate(dim)(j =>
      (Portable.h60(s"p_${i}_$j") % Portable.P).toDouble / Portable.P * 2.0 - 1.0))
  }

  /** Signature from explicit plane literals: bit i = (v · w_i ≥ 0). One
    * codegen'd dot product per plane. */
  /** Driver-side signature of a query vector under [[portablePlanes]] —
    * the same left-to-right double dot the column form computes, so a
    * probe filter built from it matches [[portableSignature]] exactly. */
  def portableQuerySignature(query: Array[Double],
      planes: Array[Array[Double]]): Long =
    planes.zipWithIndex.map { case (p, i) =>
      var s = 0.0
      var j = 0
      while (j < math.min(p.length, query.length)) {
        s += query(j) * p(j); j += 1
      }
      if (s >= 0) 1L << i else 0L
    }.reduce(_ | _)

  def portableSignature(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(vec, vecLit(p)) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Portable twin of [[cosineDupPairs]]: same banded plan, but
    * hyperplanes come from [[portablePlanes]] so a SQL oracle reproduces
    * the candidate set (and hence the verified pairs) exactly. `dim` is
    * the embedding dimensionality (plane literals are driver-side). */
  def cosineDupPairsPortable(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      numPlanes: Int = 16, bands: Int = 8, dim: Int = 64): DataFrame = {
    val planes = portablePlanes(numPlanes, dim)
    bandedDupPairs(df, idCol, vecCol, threshold, numPlanes, bands,
      portableSignature(_, planes))
  }

  /** Embedding-cosine near-duplicate pairs via banded hyperplane LSH +
    * exact cosine verify. The signature's `numPlanes` bits are split into
    * `bands`; vectors sharing any band are candidates (an equi-join on the
    * band key — no all-pairs). More bands → higher recall at lower
    * thresholds: P(candidate) = 1-(1-p^(planes/bands))^bands where
    * p = 1 - θ/π. */
  def cosineDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numPlanes: Int = 16, bands: Int = 8): DataFrame =
    bandedDupPairs(df, idCol, vecCol, threshold, numPlanes, bands,
      hyperplaneSignature(_, numPlanes))

  private def bandedDupPairs(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      numPlanes: Int, bands: Int, signature: Column => Column): DataFrame = {
    // bitsPer=0 would mask every band key to 0 — all rows collide in all
    // bands and the banded join degenerates to the all-pairs cross join
    require(bands > 0 && numPlanes % bands == 0,
      s"bands=$bands must divide numPlanes=$numPlanes")
    val bitsPer = numPlanes / bands
    val bandMasks = (0 until bands)
      .map(b => (((1L << bitsPer) - 1) << (b * bitsPer), b))
    // NOT seamed on purpose (measured r19): checkpointing this frame for
    // its three consumers read as a wall wash in the standalone A/B but
    // +62% executor CPU (2.28 → 3.69 s) in the sealed full run — the two
    // verify-side rejoins are COLUMN-PRUNED (they never compute `sig`),
    // so the duplicated work is only a scan + one norm dot, cheaper than
    // materializing the vector payload and re-reading it as rows.
    val sigs = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      sqrt(dot(col(vecCol), col(vecCol))).as("nrm"),
      signature(col(vecCol)).as("sig"))
    // Band join on (id, band-key) ONLY — a pair colliding in several bands
    // would otherwise drag its vectors through the join once per band and
    // pay the verification dot product per collision; dedup to one row
    // per candidate pair FIRST, then join the vectors back and verify
    // once. The collision stream carries 3 small ints instead of the
    // embedding payload — at 100 TB that's the difference between
    // shuffling candidate ids and shuffling the corpus multiple times.
    val keyed = sigs.select(col("id"),
      explode(array(bandMasks.map { case (mask, b) =>
        struct(lit(b).as("band"), col("sig").bitwiseAND(lit(mask)).as("bits"))
      }: _*)).as("bk"))
    val cand = keyed.as("a").join(keyed.as("b"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val v = sigs.select(col("id"), col("vec"), col("nrm"))
    cand
      .join(v.withColumnsRenamed(
        Map("id" -> "id_a", "vec" -> "__va", "nrm" -> "__na")), "id_a")
      .join(v.withColumnsRenamed(
        Map("id" -> "id_b", "vec" -> "__vb", "nrm" -> "__nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        when(col("__na") * col("__nb") > 0,
          dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
          .otherwise(lit(0.0)).as("cosine_sim"))
      .filter(col("cosine_sim") >= threshold)
  }

  /** k-nearest-neighbor graph, cell-bounded: for every vector, its top-k
    * cosine neighbors WITHIN its k-means cell (the SemDeDup geometry).
    * The graph feeds downstream curation:
    * connected-component dedup ([[graft.ops.Dedup.clusters]]), diversity
    * scoring, label propagation.
    *
    * Scale: the only shuffles are the cell equi-join and the per-source
    * window; candidates are bounded by cell size (k grows with the corpus
    * exactly as SemDeDup's does), and the window sorts each source's
    * candidate list only — never a global sort. Norms are precomputed
    * per row, so each candidate pair costs one codegen'd dot product.
    * Cross-cell edges are intentionally absent (cell-approximate kNN);
    * raise nprobe-style recall by enlarging cells, same as SemDeDup.
    * `maxCellSize` bounds the quadratic within-cell candidate sets by
    * recursively splitting over-budget cells ([[graft.ops.Ivf.assignBounded]]). */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String,
      model: graft.ops.Ivf.Model, k: Int,
      maxCellSize: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one assignment pass, not two: the self-join consumes `a` on both
    // sides
    val a = maxCellSize
      .map(b => graft.ops.Ivf.assignBounded(df, idCol, vecCol, model, b))
      .getOrElse(graft.ops.Ivf.assign(df, vecCol, model))
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        sqrt(dot(col(vecCol), col(vecCol))).as("nrm"),
        col("__cluster").as("cell"))
      .localCheckpoint()
    graft.core.Metrics.deferUnpersist(a)
    val pairs = a.as("a").join(a.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id"), col("b.id").as("nbr"),
        when(col("a.nrm") * col("b.nrm") > 0,
          dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm")))
          .otherwise(lit(0.0)).as("cos"))
    // ties on cosine break by neighbor id: both engines computed the SAME
    // double (left-to-right folds), so the (cos desc, nbr) order is total
    // and engine-portable
    val w = Window.partitionBy(col("id"))
      .orderBy(col("cos").desc, col("nbr"))
    pairs.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("id"), col("nbr"), col("rank"), round(col("cos"), 6).as("cos_sim"))
  }

  /** Johnson–Lindenstrauss random projection: maps `vecCol`
    * (`array<float>`, any length) to `outDim` doubles with a
    * deterministic ±1 sign matrix — the classic Achlioptas (2003)
    * database-friendly construction (signs, not Gaussians, preserve
    * pairwise distances in expectation with the same guarantee). The
    * cheap front half of every embedding pipeline here: project once,
    * then run near-dup / ANN / clustering in the reduced space.
    *
    * Scale + determinism: posexplode the vector and take `outDim`
    * codegen'd SUM aggregates with map-side partials (the
    * [[Dedup.minHashSignatures]] shape) — the shuffle carries one
    * `outDim`-wide partial per (partition, id), never the raw vectors.
    * Accumulation is exact DECIMAL(27,12) (sum order irrelevant), cast to
    * double once at the end, so any SQL engine replays the values
    * bit-for-bit. The sign matrix is the arithmetic hash
    * ((i·73856093 + j·19349663) mod 97) mod 2 — expressible in any
    * engine, no RNG state. Rows whose vector is null/empty are absent
    * from the result (they have no projection). */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
      outDim: Int): DataFrame = {
    require(outDim >= 1, s"outDim must be >= 1, got $outDim")
    val exploded = df.select(col(idCol).as("id"),
      posexplode(col(vecCol)).as(Seq("__i", "__v")))
      .select(col("id"), col("__i"),
        col("__v").cast("decimal(27,12)").as("__v"))
    val sums = (0 until outDim).map { j =>
      val sign = pmod(col("__i").cast(LongType) * 73856093L + j * 19349663L,
        lit(97L)) % 2 === 0
      sum(when(sign, col("__v")).otherwise(-col("__v")))
        .cast(DoubleType).as(s"p$j")
    }
    exploded.groupBy("id").agg(sums.head, sums.tail: _*)
  }
}
