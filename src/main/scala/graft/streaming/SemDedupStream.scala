package graft.streaming

import graft.ops.{Ivf, SemDedup}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming SemDeDup — the `foreachBatch` twin of
  * [[graft.ops.SemDedup.incrementalAgainstIndex]]: exact dedup streams
  * go through [[StreamDedup]], semantic dedup streams through this.
  *
  * Per micro-batch of (id, embedding):
  *
  *  1. drop batch rows that near-duplicate the INDEXED corpus —
  *     a partition-pruned scan of only the batch's cells with the batch
  *     broadcast (the `incrementalAgainstIndex` shape: at 100 TB the
  *     corpus side reads |batch cells|/k of the index, never all of it);
  *  2. drop within-batch duplicates among the survivors (greedy min-id
  *     keep, [[graft.ops.SemDedup.keep]] — one deterministic
  *     representative per duplicate chain);
  *  3. [[graft.ops.Ivf.indexAppend]] the survivors, so every LATER batch
  *     dedups against them — earlier-arrival-wins, the streaming analog
  *     of the batch min-id rule;
  *  4. every `compactEvery` batches, [[graft.ops.Ivf.compactIndex]]
  *     rewrites one-file-per-cell: each append adds a file per touched
  *     cell, so a resident stream accumulates small files exactly like
  *     any streaming sink — compaction bounds probe-time listing cost,
  *     and probes return identical results before/after (maintenance,
  *     not retraining).
  *
  * EXACTLY-ONCE APPEND under foreachBatch's at-least-once contract
  * (ids must be globally unique — the same contract the min-id rule
  * already assumes):
  *
  *  - a `_last_applied_batch` sidecar in the index directory records the
  *    highest applied batch id; a replayed batch (id ≤ marker) returns
  *    without reading anything — the common restart path costs one
  *    driver-side file read;
  *  - the marker is written AFTER the append, so a crash between append
  *    and marker leaves a replay that passes the fast path. That window
  *    is closed by an id anti-join: survivors already present in their
  *    target cells (an id-column-only, partition-pruned read) are not
  *    re-appended. Re-running a batch is therefore a no-op end to end.
  *    (The `__cid =!= __bid` self-guard in `incrementalAgainstIndex`
  *    means a replayed row never dedups against itself, so without the
  *    anti-join it WOULD re-append — the guard is load-bearing.)
  *
  * Per-batch plan hygiene: ONE lazy `localCheckpoint` of the ASSIGNED
  * batch (columns + norm + cell) materialized by the cells/count
  * action — foreachBatch re-derives the source otherwise, and every
  * later stage (fused join sides, survivor write) reads the checkpoint;
  * the centroid model is loaded once per batch and threaded through
  * every stage; steps 1–3's decisions are all derived from ONE fused
  * pair-join execution (see [[processBatch]]); survivors write straight
  * from the assigned frame (cell already computed — no re-assign). At
  * stream batch sizes the per-job scheduling floor, not the cosine
  * math, sets throughput, so trigger cost ≈ job count: r16 runs THREE
  * actions per non-empty trigger (counts, pair join, append) vs r15's
  * four and r14's ~10. Appended rows carry the batch's columns plus the
  * `cell` partition column, exactly as [[graft.ops.Ivf.indexAppend]]
  * writes them.
  *
  * State lives entirely in the index directory — executors hold nothing
  * between triggers, so the stream restarts from the checkpoint with no
  * state recovery beyond the index + marker sidecar.
  */
final class SemDedupStream(spark: SparkSession, indexPath: String,
    idCol: String, vecCol: String, threshold: Double,
    compactEvery: Int = 16, lineage: String = "default",
    driverPairCap: Int = SemDedupStream.DefaultDriverPairCap) {

  private var batchesSeen = 0L
  private var appended = 0L
  private var dropped = 0L
  private var replaysSkipped = 0L
  private val phases = scala.collection.mutable.LinkedHashMap(
    "ingest" -> 0.0, "probe" -> 0.0, "keep" -> 0.0, "append" -> 0.0,
    "compact" -> 0.0)

  /** Totals since construction: (batches, survivors appended, dropped). */
  def stats: (Long, Long, Long) = (batchesSeen, appended, dropped)

  /** Batches short-circuited by the replay marker. */
  def skipped: Long = replaysSkipped

  /** Cumulative seconds per phase since construction — the trigger
    * breakdown the bench reports (ingest = checkpoint + cells/count,
    * probe = the fused pair join (corpus dup AND within-batch AND guard
    * classification in one pass), keep = 0 since r15 (its decision rides
    * the probe's pair frame — the key stays so cross-round bench JSONs
    * diff cleanly), append = driver drop-set reduction + filtered cell
    * write, compact = cadenced rewrite). */
  def phaseTotals: Map[String, Double] = phases.toMap

  /** Marker is scoped per LINEAGE: a new streaming query (fresh
    * checkpoint — foreachBatch ids restart at 0) adopting this index
    * passes a new `lineage` and gets its own marker, so the fast path
    * never skips its early batches; the id anti-join guard keeps the
    * cross-lineage overlap exactly-once regardless. */
  private def markerPath = new Path(indexPath,
    if (lineage == "default") "_last_applied_batch"
    else "_last_applied_batch_" +
      lineage.replaceAll("[^A-Za-z0-9_.-]", "_"))

  private def lastApplied: Long = {
    val fs = markerPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(markerPath)) -1L
    else try {
      val in = fs.open(markerPath)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      s.toLong
    } catch {
      case _: NumberFormatException => -1L // truncated write → guard decides
      case e: Exception =>
        // an IO failure (not a bad marker) also falls back to the
        // anti-join guard — correct, but the disabled fast path must be
        // OBSERVABLE or a persistent FS problem hides as slow triggers
        System.err.println(
          s"[semdedup-stream] marker read failed ($markerPath): $e")
        -1L
    }
  }

  private def writeMarker(batchId: Long): Unit = {
    val fs = markerPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(markerPath, true)
    try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
  }

  private def timed[A](phase: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally phases(phase) += (System.nanoTime() - t0) / 1e9
  }

  /** The `foreachBatch` body. Returns the survivor count for the batch
    * (survivors are already appended to the index when this returns).
    * Pass foreachBatch's `batchId` for the replay fast path; the id
    * anti-join keeps re-runs idempotent even without it.
    *
    * FUSED trigger plan (r15 — VERDICT r14 #5): the r14 body ran the
    * corpus probe, the within-batch keep, and the append guard as three
    * separate join executions with a checkpoint each (~10 Spark jobs per
    * trigger; at stream batch sizes the per-job floor, not the cosine
    * math, set throughput — measured 2000×64-float events spending
    * 1.5 s in the probe join and 1.3 s in keep, ~50× the arithmetic
    * cost). All three decisions are functions of ONE pair set, so the
    * trigger now runs a single join pass: reference side = (pruned
    * corpus cells ∪ the batch itself) against the broadcast batch,
    * classifying each qualifying pair as corpus-dup ('c'), within-batch
    * smaller-id dup ('w'), or replay-guard id collision ('g'). The
    * two-stage semantics are preserved EXACTLY: stage 2's "dup of a
    * smaller-id stage-1 survivor" is 'w' pairs whose smaller side is
    * not corpus-dropped — derived from the checkpointed (tiny) pair
    * frame, no second corpus pass (SemDedupStreamSpec's batch-replay
    * equivalence pins this). Jobs per trigger: cells+count (materializes
    * the assigned checkpoint), pair join, append — down from r15's four
    * and r14's ~10. */
  def processBatch(batch0: DataFrame, batchId: Long = -1L): Long = {
    if (batchId >= 0 && batchId <= lastApplied) {
      replaysSkipped += 1
      return 0L
    }
    {
      val model = Ivf.loadModel(spark, indexPath)
      // ONE materialization carries everything downstream: batch columns
      // + norm + cell, LAZILY checkpointed so the cells/count action
      // below both materializes it and reads the streaming source exactly
      // once. (r15 checkpointed the raw batch AND the assignment as two
      // jobs; every post-probe consumer — the survivor anti-join
      // included — only ever needs the ASSIGNED frame, so the raw-batch
      // checkpoint was a whole job spent keeping columns nobody reads.
      // The checkpoint itself stays load-bearing: unmaterialized, the
      // centroid-literal assign subtree rides into the fused join three
      // times and the driver's plan work goes superlinear — measured
      // 5.6 s/trigger vs 0.7 s, BENCHNOTES r15.)
      val assigned = timed("ingest") {
        Ivf.assign(batch0, vecCol, model)
          .withColumn("__bnrm",
            sqrt(graft.ops.Similarity.dot(col(vecCol), col(vecCol))))
          .withColumnRenamed("__cluster", "__bcell")
          .localCheckpoint(false)
      }
      // cells AND total from the one materializing action (per-cell
      // counts): the cell set prunes the corpus read; the count feeds
      // the drop stats.
      val cellCounts = timed("ingest") {
        assigned.groupBy("__bcell").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1))
      }
      val cells = cellCounts.map(_._1).toSeq
      val total = cellCounts.map(_._2).sum
      if (total == 0) {
        assigned.unpersist()
        if (batchId >= 0) writeMarker(batchId)
        batchesSeen += 1
        return 0L
      }
      // the ONE heavy pass: (corpus in the batch's cells ∪ batch) ×
      // broadcast batch, by cell. Corpus side joins at ANY id (same id =
      // the replay guard, different id = stage-1 candidate); batch side
      // only at smaller id (keep's a.id < b.id). Cosine exactly as
      // SemDedup.pairs/incrementalAgainstIndex compute it.
      val pairs = timed("probe") {
        // the corpus scan lists ONLY the batch's cell directories
        // (explicit paths under basePath) instead of the whole index
        // root: a resident stream's root listing grows with every append
        // between compactions — and at 50k cells the probe must not pay
        // an O(index) listing to read |batch cells| of them. Existence-
        // filtered driver-side: a cell directory the index has never
        // written is simply absent from the scan.
        val fs = markerPath.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val present = cells.filter(c =>
          fs.exists(new Path(indexPath, s"${Ivf.CellCol}=$c")))
        // opt-in prefix screen (below): columns and condition are
        // built only when enabled, so the default path carries zero
        // screen overhead
        val screenOn = threshold > 0 &&
          sys.props.get("graft.semdedup.screen")
            .orElse(sys.env.get("SPARK_GRAFT_SEMDEDUP_SCREEN"))
            .exists(_.equalsIgnoreCase("on"))
        def withPfx(df: DataFrame, pfx: String, pk: String): DataFrame =
          if (!screenOn) df
          else df.withColumn(pfx,
              slice(col(vecCol), 1, SemDedupStream.PrefixDims))
            .withColumn(pk,
              graft.ops.Similarity.dot(col(pfx), col(pfx)))
        val corpusRefOpt =
          if (present.isEmpty) None
          else Some(withPfx(spark.read.option("basePath", indexPath)
            .parquet(present.map(c =>
              s"$indexPath/${Ivf.CellCol}=$c"): _*)
            .withColumn("__rvec", col(vecCol)), "__rpfx", "__rpk")
            .select(Seq(col(idCol).as("__rid"), col("__rvec"),
              sqrt(graft.ops.Similarity.dot(col(vecCol), col(vecCol)))
                .as("__rnrm"),
              col(Ivf.CellCol).as("__rcell"), lit(true).as("__rcorp")) ++
              (if (screenOn) Seq(col("__rpfx"), col("__rpk"))
               else Seq.empty): _*))
        val batchRef = withPfx(assigned.withColumn("__rvec0",
            col(vecCol)), "__rpfx", "__rpk")
          .select(Seq(col(idCol).as("__rid"), col("__rvec0").as("__rvec"),
            col("__bnrm").as("__rnrm"), col("__bcell").as("__rcell"),
            lit(false).as("__rcorp")) ++
            (if (screenOn) Seq(col("__rpfx"), col("__rpk"))
             else Seq.empty): _*)
        val sim = when(col("__rnrm") * col("__bnrm") > 0,
          graft.ops.Similarity.dot(col("__rvec"), col("__bvec")) /
            (col("__rnrm") * col("__bnrm"))).otherwise(lit(0.0))
        // Prefix screen (VERDICT r16 #4) — OPT-IN
        // (SPARK_GRAFT_SEMDEDUP_SCREEN=on), shipped default OFF on a
        // measured honest negative. The screen is exact-safe: for ANY
        // pair with cos ≥ t, ‖â_k−b̂_k‖² ≤ ‖â−b̂‖² = 2−2·cos ≤ 2−2t
        // (Cauchy-Schwarz bounds the tail), so a pair failing the
        // k-dim band can never pass the threshold, and the band's fp
        // slack only ADMITS borderline pairs to the exact check. But
        // its POWER is data-dependent: it rejects only pairs with
        // cos < 1 − (d/k)(1−t) on uniform-energy embeddings — at
        // d/k = 8, t = 0.85 that is cos < −0.2, i.e. nothing — and
        // the IVF cell join makes it worse (same-cell pairs are the
        // SIMILAR ones). Measured (SemStreamProbe, sf0.1): probe
        // phase 4.16 s screened-off vs 5.18 s screened-on, decisions
        // identical — pure overhead on these embeddings. Keep it for
        // energy-compacted vectors (PCA'd / Matryoshka-style models
        // front-load information, making the k-dim bound sharp).
        val pfxScreen =
          if (!screenOn) lit(true)
          else col("__rnrm") > 0 && col("__bnrm") > 0 &&
            (col("__rpk") / (col("__rnrm") * col("__rnrm")) +
              col("__bpk") / (col("__bnrm") * col("__bnrm")) -
              lit(2.0) *
                graft.ops.Similarity.dot(col("__rpfx"), col("__bpfx")) /
                (col("__rnrm") * col("__bnrm"))) <=
              lit(2.0 - 2.0 * threshold + 1e-9)
        // ALL classification lives in the join condition, cheap disjuncts
        // first, so (a) the 64-dim dot runs AT MOST ONCE per candidate
        // pair (a post-join kind filter gets pushed into the condition by
        // Catalyst and the dot would evaluate twice — measured 2× probe
        // cost), and (b) batch-side pairs with __rid ≥ __bid short-circuit
        // out before any dot. Post-join, kind derives from flags alone.
        // the per-ref-row work is |its cell ∩ batch| dot products, and the
        // corpus side arrives as a handful of bin-packed small-file scan
        // partitions — without an explicit spread the heavy corpus×batch
        // side runs on 1–4 tasks (the editverify serial-DP shape). An
        // explicit-N round-robin repartition of the (small) ref frame
        // costs one tiny shuffle and parallelizes the join across every
        // core; AQE never re-coalesces REPARTITION_BY_NUM.
        val nPart = spark.sessionState.conf.numShufflePartitions
        val bcast = withPfx(assigned, "__bpfx", "__bpk")
          .select(Seq(col(idCol).as("__bid"),
            col(vecCol).as("__bvec"), col("__bnrm"), col("__bcell")) ++
            (if (screenOn) Seq(col("__bpfx"), col("__bpk"))
             else Seq.empty): _*)
        val p = corpusRefOpt.map(_.unionByName(batchRef))
          .getOrElse(batchRef)
          .repartition(nPart)
          .join(broadcast(bcast),
            col("__rcell") === col("__bcell") && (
              (col("__rcorp") && col("__rid") === col("__bid")) ||
                ((col("__rcorp") || col("__rid") < col("__bid")) &&
                  pfxScreen && sim >= threshold)))
          .select(col("__bid"), col("__rid"),
            when(col("__rcorp") && col("__rid") === col("__bid"), lit("g"))
              .when(col("__rcorp"), lit("c"))
              .otherwise(lit("w")).as("__kind"))
          .localCheckpoint() // eager — this IS the materializing action
        p
      }
      try {
        val n = timed("append") {
          // Drop-set semantics (identical r14→r16, pinned by the
          // batch-replay equivalence spec):
          //   stage 1: corpus dups ('c')
          //   stage 2: 'w' pairs whose smaller side SURVIVED stage 1
          //   guard:   id already present in its cell ('g')
          //
          // The SET ALGEBRA runs on the DRIVER (r16): the pair frame is
          // checkpointed and bounded by the batch's dup structure, and
          // the r15 join-based algebra — plan-equivalent, lazy, "free" —
          // measured ~0.6 s/trigger of pure AQE stage overhead: four
          // ENSURE_REQUIREMENTS exchanges (two anti-joins + union +
          // final anti-join) serialize into ~5 query stages of ~0.15 s
          // scheduling/codegen floor each over a few THOUSAND cached
          // rows (per-job table in BENCHNOTES r16; AppendProbe pins the
          // bare write at ~0.3 s, the algebra-in-plan shape at ~1.0 s
          // live). Collecting ≤ a few thousand (bid, rid, kind) rows and
          // filtering with one InSet keeps the append a SINGLE stage:
          // scan checkpoint → filter → 16-writer exchange → write.
          // A batch whose pair frame exceeds the driver cap (adversarial
          // all-dups batches — |pairs| is O(batch × matches), not
          // O(batch)) falls back to the r15 distributed algebra.
          val pairRows = pairs.limit(driverPairCap + 1).collect()
          val survivorBase =
            if (pairRows.length <= driverPairCap) {
              val c = new scala.collection.mutable.HashSet[Long]
              pairRows.foreach(r =>
                if (r.getString(2) == "c") c += r.getLong(0))
              val drop = new scala.collection.mutable.HashSet[Long]
              drop ++= c
              pairRows.foreach { r =>
                r.getString(2) match {
                  case "g" => drop += r.getLong(0)
                  case "w" => if (!c.contains(r.getLong(1)))
                    drop += r.getLong(0)
                  case _ => ()
                }
              }
              if (drop.isEmpty) assigned
              else assigned.filter(!col(idCol)
                .isInCollection(drop.toSeq))
            } else {
              // distributed fallback: no distincts anywhere — every
              // drop frame is only ever the RIGHT side of a left-anti
              // join, where duplicates are semantically free
              val corpusDrops = pairs.filter(col("__kind") === "c")
                .select(col("__bid").as("__drop"))
              val keepDrops = pairs.filter(col("__kind") === "w")
                .join(corpusDrops.select(col("__drop").as("__rid")),
                  Seq("__rid"), "left_anti")
                .select(col("__bid").as("__drop"))
              val drops = corpusDrops.unionByName(keepDrops)
                .unionByName(pairs.filter(col("__kind") === "g")
                  .select(col("__bid").as("__drop")))
              assigned.join(drops, col(idCol) === col("__drop"),
                "left_anti")
            }
          // survivor count rides the WRITE job as an observed metric —
          // no checkpoint-and-count round trip. Survivors write STRAIGHT
          // from the assigned checkpoint — cell already computed — where
          // r15 routed them through Ivf.indexAppend, whose assign()
          // re-ran the k×dim centroid-literal projection per trigger.
          val obs = org.apache.spark.sql.Observation()
          val survivorPlan = survivorBase
            .drop("__bnrm").withColumnRenamed("__bcell", Ivf.CellCol)
          // hash-partition by cell into at most |batch cells| writers:
          // one writer per cell (collisions merely co-locate two cells
          // in one task), no 32-slot shuffle where most tasks are empty
          val nWriters = math.max(1, math.min(cells.length,
            spark.sessionState.conf.numShufflePartitions))
          val tW0 = System.nanoTime()
          if (sys.env.contains("SEMDEDUP_TRACE"))
            System.err.println("[trace-plan] " + survivorPlan
              .queryExecution.executedPlan.toString.take(4000))
          survivorPlan.observe(obs, count(lit(1)).as("n"))
            .repartition(nWriters, col(Ivf.CellCol))
            .write.mode(org.apache.spark.sql.SaveMode.Append)
            .partitionBy(Ivf.CellCol).parquet(indexPath)
          val tW1 = System.nanoTime()
          if (batchId >= 0) writeMarker(batchId)
          val tW2 = System.nanoTime()
          if (sys.env.contains("SEMDEDUP_TRACE"))
            System.err.println(f"[trace] write=${(tW1-tW0)/1e9}%.3f marker=${(tW2-tW1)/1e9}%.3f")
          // AQE's runtime empty-relation propagation can prune the
          // CollectMetrics node when zero survivors flow (observed: the
          // replay path, everything guard-dropped) — the metric is then
          // simply absent. Recount from the checkpointed inputs in that
          // rare case instead of assuming absence means zero.
          val tW3 = System.nanoTime()
          val nOut = obs.get.get("n") match {
            case Some(v) => v.asInstanceOf[Long]
            case None => survivorPlan.count()
          }
          if (sys.env.contains("SEMDEDUP_TRACE"))
            System.err.println(f"[trace] obsget=${(System.nanoTime()-tW3)/1e9}%.3f")
          nOut
        }
        batchesSeen += 1
        appended += n
        dropped += total - n
        graft.core.Metrics.observe("semdedup_stream", "survivors",
          n.toDouble)
        graft.core.Metrics.observe("semdedup_stream", "dropped",
          (total - n).toDouble)
        if (compactEvery > 0 && batchesSeen % compactEvery == 0)
          timed("compact") { Ivf.compactIndex(spark, indexPath) }
        n
      } finally {
        pairs.unpersist()
        assigned.unpersist()
      }
    }
  }
}

object SemDedupStream {
  /** Pair-frame rows above which the drop-set algebra stays distributed
    * instead of collecting to the driver (~50 MB of (long,long,string)
    * rows at the cap; typical stream batches produce a few thousand —
    * |pairs| is O(batch × matches), so an adversarial all-dups batch
    * can exceed any O(batch) bound and must not OOM the driver). */
  val DefaultDriverPairCap: Int = 1 << 20

  /** Leading dims of the probe's exact-safe prefix screen: the k-dim
    * normalized-prefix distance lower-bounds 2−2·cos (Cauchy-Schwarz
    * on the tail), so a pair outside the 2−2t band skips the full-dim
    * dot. 8 = one cache line of floats; screen power is data-dependent
    * (energy in the leading dims) and measured by SemStreamProbe, the
    * correctness is not. */
  val PrefixDims: Int = 8
}
