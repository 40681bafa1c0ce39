package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SemDedupSpec extends SparkSpec {
  import spark.implicits._

  // two well-separated clusters (anchor dims 0 / 1); inside each, ids 0/1
  // (resp. 20/21) are near-identical (cosine ≈ 1) while every other member
  // carries a 30-unit tail in its OWN dimension, keeping non-dup cosines
  // ≤ 0.96 (100²/(100²+30²) ≈ 0.917 tail-tail, ≈ 0.958 anchor-tail)
  private val dim = 50
  private def vec(anchor: Int, dup: Option[Float], tail: Option[Int]): Array[Float] = {
    val a = Array.fill(dim)(0f)
    a(anchor) = 100f
    dup.foreach(eps => a(2) = eps)
    tail.foreach(t => a(t) = 30f)
    a
  }
  private def vecs = ((0 until 20).map { i =>
    val x = if (i <= 1) vec(0, Some(0.01f * i), None)
            else vec(0, None, Some(10 + i))
    (i.toLong, x)
  } ++ (20 until 40).map { i =>
    val x = if (i <= 21) vec(1, Some(0.01f * (i - 20)), None)
            else vec(1, None, Some(10 + i))
    (i.toLong, x)
  }).toDF("vec_id", "embedding")

  private def model = Ivf.train(vecs, "vec_id", "embedding", k = 2, iters = 3)

  test("pairs finds within-cell near-dups and only within-cell ones") {
    val p = SemDedup.pairs(vecs, "vec_id", "embedding", model,
      threshold = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(p.contains((0L, 1L)))
    assert(p.contains((20L, 21L)))
    // no cross-cluster pair can appear: the join key is the cell
    assert(p.forall { case (a, b) => (a < 20) == (b < 20) })
  }

  test("pairs within a cell match brute force over that cell") {
    val m = model
    val assigned = Ivf.assign(vecs, "embedding", m)
    val cellOf0 = assigned.filter(col("vec_id") === 0)
      .select("__cluster").as[Int].head()
    val cell = assigned.filter(col("__cluster") === cellOf0)
      .select("vec_id", "embedding")
    val brute = Similarity.bruteForcePairs(cell, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sem = SemDedup.pairs(vecs, "vec_id", "embedding", m, 0.9)
      .filter(col("id_a").isin(brute.map(_._1).toSeq ++ brute.map(_._2): _*))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(brute.subsetOf(sem))
  }

  test("keep drops exactly the greedy min-id duplicates") {
    val kept = SemDedup.keep(vecs, "vec_id", "embedding", model, 0.999)
      .select("vec_id").as[Long].collect().toSet
    // 1 duplicates 0, 21 duplicates 20 → the larger ids are dropped
    assert(!kept.contains(1L) && !kept.contains(21L))
    assert(kept.contains(0L) && kept.contains(20L))
    assert(kept.size == 38)
  }

  test("keepBest keeps the higher-quality side of each dup pair; ties to smaller id") {
    // quality: id 1 outscores its dup 0 → 0 drops (min-id keep would
    // drop 1); ids 20/21 tie → larger id 21 drops
    val quality = ((0 until 40).map {
      case 0 => (0L, 10L)
      case 1 => (1L, 99L)
      case 20 => (20L, 50L)
      case 21 => (21L, 50L)
      case i => (i.toLong, 5L)
    }).toDF("vec_id", "q")
    val scored = vecs.join(quality, Seq("vec_id"))
    val kept = SemDedup.keepBest(scored, "vec_id", "embedding", "q",
      model, 0.999).select("vec_id").as[Long].collect().toSet
    assert(!kept.contains(0L) && kept.contains(1L),
      "higher-quality dup must win regardless of id order")
    assert(kept.contains(20L) && !kept.contains(21L),
      "quality tie falls back to min-id")
    assert(kept.size == 38)
  }

  test("keepBest: NULL score ranks below every real score; both-NULL falls to min-id") {
    // dup pair (0,1): 0 has NULL score, 1 has a real one → 0 must drop
    // (the pre-fix expression nulled both comparisons and silently
    // dropped id_b=1, the only scored side). dup pair (20,21): both NULL
    // → min-id rule keeps 20.
    val quality = ((0 until 40).map {
      case 0 => (0L, null.asInstanceOf[java.lang.Long])
      case 1 => (1L, java.lang.Long.valueOf(3L))
      case 20 => (20L, null.asInstanceOf[java.lang.Long])
      case 21 => (21L, null.asInstanceOf[java.lang.Long])
      case i => (i.toLong, java.lang.Long.valueOf(5L))
    }).toDF("vec_id", "q")
    val scored = vecs.join(quality, Seq("vec_id"))
    val kept = SemDedup.keepBest(scored, "vec_id", "embedding", "q",
      model, 0.999).select("vec_id").as[Long].collect().toSet
    assert(!kept.contains(0L) && kept.contains(1L),
      "the null-scored side must lose to a real score")
    assert(kept.contains(20L) && !kept.contains(21L),
      "a both-null pair falls back to min-id")
    assert(kept.size == 38)
  }

  test("keep: no forced broadcast; AQE-planned join equals hinted result") {
    // high-dup safety: keep() must not hint-force a broadcast (a huge
    // drop set would OOM) — AQE decides from exact runtime sizes
    val plan = SemDedup.keep(vecs, "vec_id", "embedding", model, 0.999)
    assert(!plan.queryExecution.logical.toString.contains("UnresolvedHint"),
      plan.queryExecution.logical.toString)
    // ... and the un-forced join returns exactly what a forced-broadcast
    // formulation would (only the strategy is allowed to differ)
    val drop = SemDedup.pairs(vecs, "vec_id", "embedding", model, 0.999)
      .select(col("id_b").as("__drop")).distinct()
    val forced = vecs.join(broadcast(drop),
        col("vec_id") === col("__drop"), "left_anti")
      .select("vec_id").as[Long].collect().toSet
    assert(plan.select("vec_id").as[Long].collect().toSet == forced)
    // lazy construction: building keep()'s frame runs NO Spark job
    // (the old counted gate executed the whole pair pipeline eagerly,
    // which PlanAudit then mis-audited as a checkpoint scan)
  }

  test("assignBounded splits a giant cell under the budget") {
    // skewed fixture: 30 points crowd one region, 5 sit far away; k=2
    // training makes the crowd one giant cell
    val skewed = ((0 until 30).map(i =>
      (i.toLong, Array(10f + (i % 6) * 0.5f, (i % 5) * 0.5f))) ++
      (30 until 35).map(i =>
        (i.toLong, Array((i % 3) * 0.1f, 10f + (i % 2) * 0.1f))))
      .toDF("vec_id", "embedding")
    val m = Ivf.train(skewed, "vec_id", "embedding", k = 2, iters = 2)
    val unbounded = Ivf.assign(skewed, "embedding", m)
      .groupBy("__cluster").count().as[(Int, Long)].collect().toMap
    assert(unbounded.values.max == 30L) // the giant cell exists
    val bounded = Ivf.assignBounded(skewed, "vec_id", "embedding", m,
      maxCellSize = 12, maxLevels = 3)
    val sizes = bounded.groupBy("__cluster").count()
      .as[(Int, Long)].collect().toMap
    assert(sizes.values.max <= 12, sizes.toString)     // budget enforced
    assert(sizes.values.sum == 35L)                    // no row lost
    assert(sizes.keys.exists(_ >= m.k), sizes.toString) // fresh sub-cell ids
    // determinism: same input -> same cells
    val again = Ivf.assignBounded(skewed, "vec_id", "embedding", m,
      maxCellSize = 12, maxLevels = 3)
      .select("vec_id", "__cluster").as[(Long, Int)].collect().toSet
    assert(again == bounded.select("vec_id", "__cluster")
      .as[(Long, Int)].collect().toSet)
  }

  test("pairs with a cell budget still finds true dups, never loses rows") {
    // duplicates sit at distance ~0 so no split can separate them ...
    val p = SemDedup.pairs(vecs, "vec_id", "embedding", model,
      threshold = 0.999, maxCellSize = Some(12L))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(p.contains((0L, 1L)) && p.contains((20L, 21L)))
    // ... and keep under a budget drops them exactly as before
    val kept = SemDedup.keep(vecs, "vec_id", "embedding", model, 0.999,
      maxCellSize = Some(12L)).select("vec_id").as[Long].collect().toSet
    assert(!kept.contains(1L) && !kept.contains(21L) && kept.size == 38)
  }

  test("cellSample caps per cell, is deterministic, keeps both cells") {
    val s1 = SemDedup.cellSample(vecs, "vec_id", "embedding", model, 5)
    val s2 = SemDedup.cellSample(vecs, "vec_id", "embedding", model, 5)
    assert(s1.collect().toSet == s2.collect().toSet)
    val perCell = s1.groupBy("cell").count().as[(Long, Long)].collect().toMap
    assert(perCell.values.forall(_ == 5) && perCell.size == 2)
    // plan pin: the per-cell window is only scale-safe because Spark's
    // InferWindowGroupLimit turns row_number + `rk <= k` into a partial
    // pre-shuffle top-k (WindowGroupLimit) — each mapper ships at most
    // perCell rows per cell, so a dense cell never buffers whole on one
    // window task. If this assertion fires, the rewrite regressed to
    // the unbounded window and cellSample needs the agg+join treatment
    // (BENCHNOTES r14 shingle crossover).
    assert(s1.queryExecution.executedPlan.toString
      .contains("WindowGroupLimit"),
      "cellSample must plan a pre-shuffle WindowGroupLimit")
  }

  test("incrementalAgainstIndex == pairs restricted to batch x corpus") {
    import org.apache.spark.sql.functions.col
    val m = model
    // batch = one member of each near-identical pair (1~0, 21~20); the
    // partners stay in the corpus so the dups CROSS the boundary
    val corpus = vecs.filter(!col("vec_id").isin(1L, 21L))
    val batch = vecs.filter(col("vec_id").isin(1L, 21L))
    val path = java.nio.file.Files
      .createTempDirectory("graft_sd_incr").toString + "/idx"
    Ivf.index(corpus, "embedding", m, path)
    val incr = SemDedup.incrementalAgainstIndex(spark, path, batch,
      "vec_id", "embedding", threshold = 0.99)
      .select("id", "dup_of").as[(Long, Long)].collect().toSet
    // reference: batch-mode pairs over the union, keeping only pairs
    // that CROSS batch x corpus, oriented batch-first
    val all = SemDedup.pairs(vecs, "vec_id", "embedding", m,
      threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val inBatch = Set(1L, 21L)
    val expected = all.flatMap { case (a, b) =>
      if (inBatch(a) && !inBatch(b)) Some((a, b))
      else if (inBatch(b) && !inBatch(a)) Some((b, a))
      else None
    }.toSet
    assert(incr == expected && incr.nonEmpty, s"incr=$incr expected=$expected")
    // the corpus scan is partition-pruned to the batch's cells
    val plan = SemDedup.incrementalAgainstIndex(spark, path, batch,
      "vec_id", "embedding", threshold = 0.99)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined, plan)
  }

  test("incrementalAgainstIndex scale probe: thousands of batch rows " +
    "against the sf0.1 index stay pruned + broadcast + probe-shaped") {
    import org.apache.spark.sql.functions.col
    // the sf0.1 corpus indexed into a spec-local dir, so no other JVM
    // can be rewriting the index mid-read
    val corpus = graft.Tables.read(spark, "/root/testdata/sf0.1",
      "embeddings")
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_sd_scale").toString + "/idx"
    val model = Ivf.train(corpus, "vec_id", "embedding", k = 8, iters = 2)
    Ivf.index(corpus, "embedding", model, idxPath)
    // 3000-row ingest batch: perturbed copies of corpus vectors with
    // shifted ids — realistic near-dup pressure, deterministic
    val batch = corpus.limit(1500)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      .union(corpus.limit(1500)
        .select((col("vec_id") + 200000L).as("vec_id"),
          transform(col("embedding"), x => x * 1.001f).as("embedding")))
    val df = SemDedup.incrementalAgainstIndex(spark, idxPath, batch,
      "vec_id", "embedding", threshold = 0.99)
    val t0 = System.nanoTime()
    val n = df.count()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(n > 0, "perturbed copies must register as semantic dups")
    // probe-shaped: seconds, not a corpus rebuild (generous CI bound —
    // the measured time is ~2-4 s; a corpus-shuffling plan would be 10x)
    assert(sec < 60.0, f"scale probe took $sec%.1f s — not probe-shaped")
    val plan = df.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined,
      "corpus scan must stay partition-pruned at batch scale")
    assert(plan.contains("BroadcastHashJoin"),
      "batch side must broadcast — the corpus must never shuffle")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
