package graft.ops

import graft.functions.VectorExprs
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbour: k-means-partition
  * the vectors into `k` cells; a query probes only the `nprobe` nearest
  * cells and re-ranks exactly inside them. The at-scale companion to
  * [[Similarity.lshTopK]] — at 100 TB the cell id is a partition column
  * ([[index]] writes exactly that layout) and a probe ([[probe]]) is
  * partition pruning: only nprobe of k cell directories are ever opened.
  *
  * Deterministic throughout: centroid seeds are the k rows with the
  * smallest md5-derived [[graft.functions.Portable.h60]] of the id (no
  * random init — md5, not xxhash64, so the DuckDB oracle can replay the
  * seeding), Lloyd iterations are plain
  * DataFrame aggregations, so training is reproducible across runs and
  * cluster sizes. Centroids live on the driver (k × dim doubles — k is
  * hundreds to thousands; they are broadcast inside literal expressions).
  */
object Ivf {

  final case class Model(centroids: Array[Array[Double]]) {
    def k: Int = centroids.length
    /** Nearest-centroid ids for a query vector (driver-side). */
    def nearest(q: Array[Double], nprobe: Int): Seq[Int] =
      centroids.zipWithIndex
        .map { case (c, i) => (dist2(c, q), i) }
        .sortBy(x => (x._1, x._2)).take(nprobe).map(_._2).toSeq
  }

  private def dist2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  // constant array literal — NOT array(lit...), which codegen rebuilds
  // per row; a typedlit is a single shared ArrayData constant
  private def vecLit(v: Array[Double]): Column = typedlit(v.toSeq)

  /** ‖x−c‖² as a column: |x|² − 2·x·c + |c|² (|c|² is a driver constant;
    * |x|² must be a materialized column to avoid re-evaluation). */
  private def dist2Col(vec: Column, norm2: Column, c: Array[Double]): Column =
    norm2 - lit(2.0) * VectorExprs.dot(vec, vecLit(c)) +
      lit(c.map(x => x * x).sum)

  /** Nearest-centroid id: one array of the k distances, then
    * array_min + array_position (first occurrence = lowest cell on ties,
    * identical to a strict-< fold). The array form keeps each distance
    * expression in the generated code ONCE — a when-chain fold duplicates
    * its accumulator per step, i.e. 2^k copies of the dot products, which
    * blows the JVM's 64 KB generated-method limit at k=8 (found by a
    * codegen.fallback=false canary; the fallback silently de-vectorized
    * this plan). */
  def assign(df: DataFrame, vecCol: String, model: Model): DataFrame =
    assignDist(df, vecCol, model).drop("__dist2")

  /** [[assign]] plus `__dist2`, the squared distance to the assigned
    * centroid — the prototypicality/outlier axis (far-from-centroid =
    * atypical for its semantic region; SemDeDup keeps cluster-typical
    * examples on exactly this score). Same single projection, no joins. */
  def assignDist(df: DataFrame, vecCol: String, model: Model): DataFrame =
    df.withColumn("__n2", VectorExprs.dot(col(vecCol), col(vecCol)))
      .withColumn("__ds", array(model.centroids.toIndexedSeq.map(c =>
        dist2Col(col(vecCol), col("__n2"), c)): _*))
      .withColumn("__cluster",
        (array_position(col("__ds"), array_min(col("__ds"))) - 1).cast("int"))
      .withColumn("__dist2", array_min(col("__ds")))
      .drop("__n2", "__ds")

  /** Train by deterministic seeding + `iters` Lloyd passes. Each pass is
    * one assignment projection and one (cluster, dim) aggregation —
    * k × dim rows come back to the driver per pass.
    *
    * Fully portable determinism: seeds are the k rows with the smallest
    * md5(id) (any SQL engine reproduces the order), and centroid means
    * accumulate in exact DECIMAL before one double division — so training
    * is bit-reproducible across runs, partitionings, cluster sizes AND
    * external engines (a double `avg` would depend on reduction order).
    * This is what lets q_x_ann_ivf carry a full DuckDB value oracle. */
  /** The k md5-smallest rows' vectors as doubles — [[train]]'s
    * deterministic seed selection. */
  private def seedRows(df: DataFrame, idCol: String,
      vecCol: String, k: Int): Array[Array[Double]] = df
    .orderBy(md5(col(idCol).cast("string")), col(idCol))
    .limit(k)
    .select(col(vecCol))
    .collect()
    .map(_.getSeq[Any](0).map {
      case f: Float => f.toDouble
      case d: Double => d
      case n: Number => n.doubleValue()
    }.toArray)

  def train(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 3): Model = {
    var model = Model(seedRows(df, idCol, vecCol, k))
    for (_ <- 1 to iters) {
      val means = assign(df, vecCol, model)
        .select(col("__cluster"),
          posexplode(col(vecCol)).as(Seq("__pos", "__v")))
        .groupBy("__cluster", "__pos")
        // denominator counts positions (count(*)), matching the DuckDB
        // oracle's replay exactly; embedding arrays must not contain null
        // elements (malformed input) or the null-skipping sum would bias
        .agg((sum(col("__v").cast("decimal(27,12)")).cast("double") /
          count(lit(1))).as("__m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cl, rows) =>
          cl -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
        }
      // empty cells keep their previous centroid
      model = Model(model.centroids.zipWithIndex.map { case (c, i) =>
        means.getOrElse(i, c)
      })
    }
    model
  }

  /** ANN top-k over an UNINDEXED frame: probe the query's `nprobe`
    * nearest cells, exact cosine re-rank inside them only. Correct and
    * codegen'd, but the assignment recomputes k distance expressions over
    * every row — a one-shot / ad-hoc shape. A served corpus should be
    * [[index]]ed once so each probe is partition pruning instead of a
    * full scan.
    *
    * Default nprobe=4 is the measured served operating point — 0.84
    * recall@10 on the uniform fixture (RECALL.md) vs 0.67 at nprobe=2;
    * drop to 2 only when probe I/O matters more than the recall gap. */
  def topK(df: DataFrame, idCol: String, vecCol: String, model: Model,
      query: Array[Double], k: Int, nprobe: Int = 4): DataFrame = {
    val probes = model.nearest(query, nprobe)
    val candidates = assign(df, vecCol, model)
      .filter(col("__cluster").isin(probes: _*))
      .drop("__cluster")
    Similarity.bruteForceTopK(candidates, idCol, vecCol, query, k)
  }

  /** [[assign]] with a cell-size BUDGET: any cell holding more than
    * `maxCellSize` rows is recursively re-clustered — a sub-model is
    * trained on just that cell's rows (k = ceil(size/budget), min 2) and
    * its members get fresh cell ids appended after all existing ones —
    * until every cell fits or `maxLevels` splits have run.
    *
    * This is the implemented form of the "skewed cell" answer the
    * SemDeDup docs give: the within-cell self-joins ([[Similarity.knnGraph]])
    * are quadratic in the LARGEST cell, so one
    * pathological dense region (near-identical boilerplate crawls do
    * this) would dominate the whole job. Splitting restores the bound at
    * the cost of missing pairs that straddle a split boundary — the same
    * geometric-recall trade as raising k, but applied only where needed.
    *
    * Cost: one k-row size aggregation per level, plus train+assign over
    * ONLY the offending cells' rows. Per-level results are
    * localCheckpoint'ed so the plan stays flat. Deterministic end to end
    * (md5-seeded sub-training, cells processed in ascending id order). */
  def assignBounded(df: DataFrame, idCol: String, vecCol: String,
      model: Model, maxCellSize: Long, maxLevels: Int = 2,
      subIters: Int = 1): DataFrame = {
    require(maxCellSize >= 2, s"maxCellSize must be >= 2, got $maxCellSize")
    var assigned = assign(df, vecCol, model).localCheckpoint()
    var nextId = model.k
    var level = 0
    var anyOver = true
    while (anyOver && level < maxLevels) {
      // one row per cell — a bounded driver artifact like the centroids
      val sizes = assigned.groupBy("__cluster").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1))
      val over = sizes.filter(_._2 > maxCellSize).sortBy(_._1)
      anyOver = over.nonEmpty
      if (anyOver) {
        var out = assigned.filter(
          !col("__cluster").isin(over.toIndexedSeq.map(_._1): _*))
        for ((cell, size) <- over) {
          val subK = math.max(2,
            math.min(((size + maxCellSize - 1) / maxCellSize).toInt, 256))
          val members = assigned.filter(col("__cluster") === cell)
            .drop("__cluster")
          val subModel = train(members, idCol, vecCol, subK, subIters)
          out = out.unionByName(assign(members, vecCol, subModel)
            .withColumn("__cluster", col("__cluster") + lit(nextId)))
          nextId += subK
        }
        val next = out.localCheckpoint()
        assigned.unpersist()
        assigned = next
        level += 1
      }
    }
    assigned
  }

  // ------------------------------------------------------------------
  // Persisted index: cell-partitioned layout + model sidecar
  // ------------------------------------------------------------------

  /** Partition-column name of the persisted index layout. */
  val CellCol = "cell"
  private val ModelSidecar = "_graft_ivf_model.txt"

  /** A `__swapping` marker older than this with the target still present
    * is treated as a crash leftover (maintainer died after completing the
    * swap but before cleanup) and reclaimed; younger markers are left
    * alone — the maintainer may be alive and merely slow. Far above any
    * plausible rename latency by construction. */
  private[ops] val StaleSwapMarkerMs: Long = 10 * 60 * 1000L

  private def fsFor(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Centroids → sidecar text (one comma-joined line per centroid).
    * `Double.toString`/`parseDouble` round-trips exactly, so the loaded
    * model reproduces assignments bit-for-bit. Prefixed `_` so parquet
    * readers treat it as metadata. */
  private def writeModel(spark: SparkSession, path: String,
      model: Model): Unit = {
    val out = fsFor(spark, path).create(new Path(path, ModelSidecar), true)
    try out.write(model.centroids.map(_.mkString(","))
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Crash recovery for the [[compactIndex]] swap (the two-rename
    * discipline of [[graft.warehouse.AtomicDir]]): a crash between renaming
    * the index aside and renaming the compacted copy in leaves a complete
    * index in `<path>__old` and nothing live — restore it. Called by every
    * read path.
    *
    * A LIVE swap is guarded by a `<path>__swapping` marker: while it
    * exists a concurrent reader waits out the (two-rename) window instead
    * of renaming `__old` back mid-swap — the race the unguarded version
    * had. A marker that outlives the wait WITH the target missing means
    * the maintainer is provably mid-swap: roll FORWARD to the completed
    * shadow if present (the compaction already paid for it), else back to
    * `__old`. A marker that outlives the wait with the target PRESENT is
    * ambiguous (slow-but-alive maintainer pre-swap vs. crash post-swap),
    * so it is reclaimed only once older than [[StaleSwapMarkerMs]]. */
  private def recoverIndex(spark: SparkSession, path: String): Unit = {
    val fs = fsFor(spark, path)
    val tgt = new Path(path)
    val old = new Path(path + "__old")
    val marker = new Path(path + "__swapping")
    var waitedMs = 0
    while (fs.exists(marker) && waitedMs < 2000) {
      Thread.sleep(25); waitedMs += 25
    }
    if (fs.exists(marker)) {
      val shadow = new Path(path + "__compacting")
      if (!fs.exists(tgt)) {
        // With the target GONE the maintainer is provably mid-swap
        // (crashed, or alive inside its two-rename window — every action
        // here is benign either way, because the only rename SOURCES are
        // the maintainer's own completed copies). Roll FORWARD to the
        // completed shadow, else BACK to __old. A failed rename is not
        // fatal if tgt exists afterwards — a concurrent recoverer (or
        // the maintainer itself) won the race with an identical copy.
        val recovered =
          (fs.exists(shadow) && (fs.rename(shadow, tgt) || fs.exists(tgt))) ||
            (fs.exists(old) && (fs.rename(old, tgt) || fs.exists(tgt))) ||
            fs.exists(tgt)
        if (!recovered)
          throw new IllegalStateException(
            s"index at $path unrecoverable: marker present, no complete copy")
        fs.delete(old, true)
        fs.delete(marker, false)
      } else {
        // Marker AND target both present: either the maintainer is alive
        // and has not started its renames yet, or it crashed after
        // completing the swap but before cleanup. Deleting the marker in
        // the first case unguards a live maintainer's two-rename window
        // (a reader could then rename __old back over the target
        // mid-swap), so reclaim ONLY markers far older than any plausible
        // rename latency — a crash leftover by then — and otherwise leave
        // the swap strictly alone: the target is live and readable.
        val ageMs =
          try System.currentTimeMillis() -
            fs.getFileStatus(marker).getModificationTime
          catch { // marker vanished: the maintainer finished its cleanup
            case _: java.io.FileNotFoundException => Long.MinValue
          }
        if (ageMs > StaleSwapMarkerMs) {
          fs.delete(old, true)
          fs.delete(marker, false)
        }
      }
    }
    if (!fs.exists(tgt) && fs.exists(old) && !fs.rename(old, tgt))
      throw new IllegalStateException(
        s"index recovery failed renaming $old back")
  }

  /** Read the centroid sidecar of an [[index]]ed corpus. */
  def loadModel(spark: SparkSession, path: String): Model = {
    recoverIndex(spark, path)
    val in = fsFor(spark, path).open(new Path(path, ModelSidecar))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    Model(text.split("\n").filter(_.nonEmpty)
      .map(_.split(",").map(java.lang.Double.parseDouble)))
  }

  /** Materialize the 100 TB ANN layout: the corpus written
    * `path/cell=<i>/…parquet` with the centroid model as a sidecar. The
    * cell assignment is computed ONCE at index time; every subsequent
    * [[probe]] is partition pruning (`PartitionFilters: cell IN (…)`) —
    * it opens nprobe of k directories and never touches, reads, or
    * re-assigns the rest of the corpus. Index once, probe many: the
    * assignment scan amortizes across every query served. */
  def index(df: DataFrame, vecCol: String, model: Model,
      path: String): Unit = {
    clustered(df, vecCol, model)
      .write.mode(SaveMode.Overwrite).partitionBy(CellCol).parquet(path)
    writeModel(df.sparkSession, path, model)
  }

  /** Route a NEW batch into an existing index — the incremental-ingest
    * story for served ANN: assign against the STORED model (probes must
    * keep seeing one consistent cell geometry) and append into the cell
    * directories. Re-train + re-[[index]] when drift accumulates — the
    * model is versioned by the sidecar, so a rebuild is a swap. */
  def indexAppend(spark: SparkSession, path: String, df: DataFrame,
      vecCol: String, modelOpt: Option[Model] = None): Unit =
    clustered(df, vecCol, modelOpt.getOrElse(loadModel(spark, path)))
      .write.mode(SaveMode.Append).partitionBy(CellCol).parquet(path)

  /** Assign + cluster rows BY cell before the partitioned write: without
    * the repartition every write task emits one file per cell it happens
    * to see — at 1000 executors × 50k cells that is a small-files
    * disaster and a slow listing for every probe. One shuffle at index
    * time buys one-writer-per-cell layout forever after. */
  private def clustered(df: DataFrame, vecCol: String,
      model: Model): DataFrame =
    assign(df, vecCol, model)
      .withColumnRenamed("__cluster", CellCol)
      .repartition(col(CellCol))

  /** Partition-pruned ANN top-k over an [[index]]ed corpus: results are
    * IDENTICAL to [[topK]] with the same model/query/nprobe (same cells,
    * same exact re-rank) — only the I/O differs: the scan reads the
    * probed cell directories and nothing else. Default nprobe=4 = the
    * measured 0.84-recall served operating point (RECALL.md). */
  def probe(spark: SparkSession, path: String, idCol: String,
      vecCol: String, query: Array[Double], k: Int,
      nprobe: Int = 4): DataFrame = {
    val model = loadModel(spark, path)
    val probes = model.nearest(query, nprobe)
    val pruned = spark.read.parquet(path)
      .filter(col(CellCol).isin(probes: _*))
    Similarity.bruteForceTopK(pruned, idCol, vecCol, query, k)
  }

  /** Filtered ANN over an [[index]]ed corpus — top-k under a metadata
    * predicate (the "vector search with filters" retrieval shape: top-k
    * passages from ONE source/license/language). The predicate applies
    * to columns STORED IN the index ([[index]] keeps every input column
    * beside the vectors), so this stays single-scan: partition-prune to
    * the probed cells, filter, exact re-rank — no join back to a base
    * table at query time.
    *
    * Probe-width rule (pre- vs post-filtering): a predicate of
    * selectivity s thins every cell ~s×, so at the unfiltered nprobe
    * the candidate pool shrinks ~s× and recall follows. Widen to
    * ~nprobe/s (capped at the cell count) to restore the candidate
    * volume — e.g. a 10%-selective label filter at served nprobe=2
    * wants nprobe≈20 for equal-candidate recall, or accept the
    * measured trade at smaller widths. The caller picks `nprobe`;
    * selectivity is known from the index's column stats. */
  def probeFiltered(spark: SparkSession, path: String, idCol: String,
      vecCol: String, query: Array[Double], k: Int, pred: Column,
      nprobe: Int): DataFrame = {
    val model = loadModel(spark, path)
    val probes = model.nearest(query, nprobe)
    val pruned = spark.read.parquet(path)
      .filter(col(CellCol).isin(probes: _*))
      .filter(pred)
    Similarity.bruteForceTopK(pruned, idCol, vecCol, query, k)
  }

  /** Retrain trigger — makes the "re-train + re-index when drift
    * accumulates" maintenance promise OPERATIONAL: occupancy drift
    * between the stored index's cell distribution and a new batch
    * assigned under the same frozen model. Per cell, the squared-
    * Hellinger-style term (p−q)²/(p+q) over the two occupancy fractions
    * (the [[CorpusStats.histogramDrift]] statistic applied to cells);
    * Σ drift near 0 = the batch looks like the indexed corpus, growing
    * mass on few cells = the distribution is sliding off the trained
    * geometry and probe quality will follow — schedule the retrain.
    *
    * Cost: one metadata-cheap count-by-partition scan of the index
    * (column-pruned — no vectors read) + one assignment pass over the
    * BATCH (micro-batch sized). Output is O(k) rows. */
  def cellDrift(spark: SparkSession, indexPath: String, batch: DataFrame,
      vecCol: String): DataFrame = {
    val model = loadModel(spark, indexPath)
    val idx = spark.read.parquet(indexPath)
      .groupBy(col(CellCol).cast("int").as("cell"))
      .agg(count(lit(1)).as("n_index"))
    val b = assign(batch, vecCol, model)
      .groupBy(col("__cluster").as("cell"))
      .agg(count(lit(1)).as("n_batch"))
    // totals are bounded driver scalars (the centroid-literal class);
    // fail loudly on degenerate inputs — an empty batch would otherwise
    // surface as an ANSI divide-by-zero deep in the fraction math
    val ti = idx.agg(sum("n_index")).head().getLong(0)
    val tb = batch.count()
    require(ti > 0, s"index at $indexPath is empty")
    require(tb > 0, "drift needs a non-empty batch")
    val joined = idx.join(b, Seq("cell"), "full_outer")
      .select(col("cell").cast("long").as("cell"),
        coalesce(col("n_index"), lit(0L)).as("n_index"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"))
    val p = col("n_index").cast("double") / lit(ti.toDouble)
    val q = col("n_batch").cast("double") / lit(tb.toDouble)
    joined.select(col("cell"), col("n_index"), col("n_batch"),
      round(p, 6).as("p_index"), round(q, 6).as("p_batch"),
      round((p - q) * (p - q) / (p + q), 6).as("drift"))
  }

  /** Layout maintenance after many [[indexAppend]]s: each append adds one
    * file per touched cell, so a long-running ingest accumulates small
    * files exactly like any streaming sink. Rewrite one-file-per-cell via
    * shadow + rename (readers see the old layout until the swap; sidecars
    * are preserved — this is maintenance, NOT retraining: cell geometry
    * and codes are unchanged, so probes return identical results
    * before/after). Schema-agnostic: every `_`-prefixed sidecar is
    * carried over. */
  def compactIndex(spark: SparkSession, path: String): Unit = {
    recoverIndex(spark, path)
    val fs = fsFor(spark, path)
    val shadow = new Path(path + "__compacting")
    if (fs.exists(shadow)) fs.delete(shadow, true)
    spark.read.parquet(path)
      .repartition(col(CellCol))
      .write.mode(SaveMode.Overwrite).partitionBy(CellCol)
      .parquet(shadow.toString)
    fs.listStatus(new Path(path))
      .filter(st => st.isFile && st.getPath.getName.startsWith("_"))
      .foreach { st =>
        org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
          new Path(shadow, st.getPath.getName), false,
          spark.sparkContext.hadoopConfiguration)
      }
    // rename-aside swap under a marker: readers' recoverIndex waits while
    // `__swapping` exists (instead of renaming __old back mid-swap), and a
    // crash at ANY point leaves a complete copy plus the marker, which
    // recoverIndex rolls forward (shadow) or back (__old)
    val tgt = new Path(path)
    val trash = new Path(path + "__old")
    val marker = new Path(path + "__swapping")
    if (fs.exists(trash)) fs.delete(trash, true)
    fs.create(marker, true).close()
    // A maintainer paused longer than StaleSwapMarkerMs between creating
    // the marker and swapping gets its marker reclaimed by a reader's
    // recoverIndex (target present + stale marker) — proceeding would run
    // the two-rename window unguarded, the exact race the marker closes.
    // Re-check immediately before the first rename and abort if reclaimed;
    // the shadow is left for a re-run to reuse.
    if (!fs.exists(marker))
      throw new IllegalStateException(
        s"compact swap aborted: marker $marker reclaimed as stale before " +
          "the swap began (maintainer paused too long) — re-run compactIndex")
    if (!fs.rename(tgt, trash)) {
      fs.delete(marker, false)
      throw new IllegalStateException(s"compact swap failed renaming $tgt aside")
    }
    // A reader whose recoverIndex timed out on the marker may have rolled
    // OUR completed shadow forward already — that is this swap succeeding
    // by another hand (byte-identical source), not a failure; only a
    // missing target after a failed rename is fatal (marker stays so
    // recoverIndex can finish the job).
    if (!fs.rename(shadow, tgt) && !fs.exists(tgt))
      throw new IllegalStateException(s"compact swap failed renaming $shadow in")
    fs.delete(trash, true)
    fs.delete(marker, false)
  }

  /** At corpus scale Lloyd passes over every row are wasted I/O — k-means
    * quality saturates around ~10³·k training points — so train on a
    * DETERMINISTIC sample: [[Sampling.hashMod]] keeps the chosen rows
    * stable under corpus growth and re-partitioning (a seeded `sample()`
    * is neither), so retraining tomorrow on a bigger corpus sees the same
    * seed rows plus new ones, not a reshuffled universe. Assignment /
    * indexing still cover the FULL corpus with the resulting model. */
  def trainSampled(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 3, buckets: Int = 100, keep: Int = 1): Model =
    train(Sampling.hashMod(df, idCol, buckets, keep), idCol, vecCol, k,
      iters)

  /** Batched serving probe: top-k for EVERY query in one pruned scan.
    * Each query routes to its nprobe cells driver-side; the scan opens
    * the union of probed cell directories once; a row is scored only
    * against the queries that probed its cell (the routing table is a
    * query-batch-sized broadcast), and a per-query window keeps k.
    * Per query, results equal [[probe]] exactly — same cells, same
    * cosine, same (score desc, id) order (`IvfSpec`). This is the shape
    * a 1000-QPS serving job wants: scan cost amortizes across the query
    * batch instead of multiplying by it. */
  def probeMany(spark: SparkSession, path: String, idCol: String,
      vecCol: String, queries: Seq[(Long, Array[Double])], k: Int,
      nprobe: Int = 4): DataFrame =
    probeManyCore(spark, path, idCol, vecCol, queries, k, nprobe, None)

  /** [[probeMany]] under a metadata predicate — the batched serving form
    * of [[probeFiltered]]: one pruned scan for the whole query batch,
    * the filter applied to the scan BEFORE the routing join (predicate
    * pushdown into the cell directories), per-query top-k among the
    * survivors. The probe-widening rule of [[probeFiltered]] applies
    * per query: size `nprobe` to the predicate's selectivity. */
  def probeManyFiltered(spark: SparkSession, path: String, idCol: String,
      vecCol: String, queries: Seq[(Long, Array[Double])], k: Int,
      pred: Column, nprobe: Int = 4): DataFrame =
    probeManyCore(spark, path, idCol, vecCol, queries, k, nprobe,
      Some(pred))

  private def probeManyCore(spark: SparkSession, path: String,
      idCol: String, vecCol: String,
      queries: Seq[(Long, Array[Double])], k: Int, nprobe: Int,
      pred: Option[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val model = loadModel(spark, path)
    val routes = queries.flatMap { case (qid, q) =>
      model.nearest(q, nprobe).map(c => (qid, c, q.toSeq))
    }.toDF("query_id", "__qcell", "__qvec")
    val cells = routes.select("__qcell").as[Int].collect().distinct.toSeq
    val pruned0 = spark.read.parquet(path)
      .filter(col(CellCol).isin(cells: _*))
    val pruned = pred.fold(pruned0)(pruned0.filter)
    val scored = pruned.join(broadcast(routes),
        col(CellCol) === col("__qcell"))
      .select(col("query_id"), col(idCol),
        Similarity.cosine(col(vecCol), col("__qvec")).as("cosine_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_sim").desc, col(idCol).asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }
}
