package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Link-graph analytics for corpus curation. Web-scale training-data
  * pipelines gate documents on graph-derived quality signals (a page
  * linked from many reputable hosts outranks an orphan); this module
  * provides the rank computation as iterative DataFrame joins — the
  * Pregel pattern expressed relationally, so Catalyst handles partial
  * aggregation and AQE handles skewed hubs.
  *
  * Determinism across engines: ranks are FIXED-POINT BIGINTs (scaled by
  * 10^12). Every per-iteration step — contribution `rank div outdeg`,
  * the incoming-mass sum, the damped update `(85·mass) div 100` — is
  * exact integer arithmetic, so the result is independent of both
  * aggregation order and engine: an external SQL engine replays it
  * bit-for-bit through unrolled CTEs. The quantization the integer
  * floor introduces is ~10^-12 per step — far below anything a ranking
  * consumer can observe — and unlike float PageRank it is EXACTLY
  * reproducible.
  *
  * Scale shape: per iteration, one join of edges against the rank
  * vector on `src` (AQE broadcasts the rank side while it fits; at web
  * scale both sides hash-partition on the node id and the partitioning
  * is reused across iterations) plus one hash aggregate on `dst` with
  * map-side partials. The edge list is never materialized to the
  * driver; only the node COUNT (one scalar) is.
  */
object Graph {

  /** Rank scale: 1.0 == 10^12 (headroom: 85·10^12 < 2^63). */
  val Scale = 1000000000000L

  /** Damping 0.85 as an exact rational (85/100). */
  val DampNum = 85L
  val DampDen = 100L

  /** Fixed-point PageRank over a directed edge list (`src`, `dst`
    * string columns). Every node must appear as a source (feed an
    * undirected graph — see [[undirect]] — or pre-handle danglings).
    * Returns (node, rank) with rank in [[Scale]] fixed point.
    *
    * Pass `undirected = true` when the input came from [[undirect]]:
    * every node then has in-degree ≥ 1, the incoming-mass aggregate
    * covers the exact node set, and the per-iteration nodes left-join
    * (whose only job is re-seating in-degree-0 nodes) is skipped —
    * identical results, one fewer join per iteration. */
  def pagerank(edges: DataFrame, iters: Int,
      undirected: Boolean = false): DataFrame = {
    // Materialize the loop invariants ONCE (localCheckpoint is eager and
    // truncates lineage): the caller's edge derivation is often a
    // join+distinct, and without this it re-executes for every reference
    // in the unrolled iteration DAG (first measured: 9.7–28.7 s for 3
    // iterations over the sf0.1 trade graph vs 1–2 s checkpointed).
    // Freed after the caller's terminal action via deferUnpersist — an
    // eager unpersist here would drop the cache before evaluation.
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    graft.core.Metrics.deferUnpersist(e)
    // out-degree doubles as the node set (one row per distinct src), so
    // a single O(nodes) aggregate replaces the former separate
    // distinct-pass + checkpoint over the full edge list
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("od"))
      .localCheckpoint()
    graft.core.Metrics.deferUnpersist(outdeg)
    val nodes = outdeg.select(col("src").as("node"))
    val n = outdeg.count()
    require(n > 0, "empty graph")
    // The per-iteration joins keep one side O(nodes) by construction
    // (contrib = rank÷outdeg, the rank vector itself); the driver
    // already holds the exact node count, so pick the join strategy
    // from it instead of leaving AQE to rescue a statically-planned
    // SortMergeJoin at runtime (the static plan carried 6 SMJs for 3
    // iterations; under full-bench memory/scheduler pressure the AQE
    // rescue is exactly what went missing in the r18 official
    // artifact's 11.98 s pagerank). Broadcast is only hinted while the
    // rank vector provably fits. Default ceiling 2M nodes (ADVICE r19:
    // 8M was aggressive vs Spark's own sizing) — ~16 B/row of
    // (long, long) is ~32 MiB framed, but the driver-built hash
    // relation runs ~3-4x the framed bytes and is re-broadcast per
    // iteration for contrib/mass, so 2M keeps the per-iteration
    // relation near the ~100 MiB class that default driver/executor
    // memory absorbs. Web-scale graphs (n > ceiling) keep the
    // shuffle-join plan, where both sides hash-partition on the node
    // id and the partitioning is reused across iterations.
    val bcastMaxNodes =
      try edges.sparkSession.conf.get(
        "graft.pagerank.broadcastMaxNodes", "2000000").toLong
      catch { case _: NumberFormatException => 2000000L }
    def small(df: DataFrame): DataFrame =
      if (n <= bcastMaxNodes) broadcast(df) else df
    val r0 = Scale / n
    val base = (15L * r0) / 100L
    var rank = nodes.select(col("node"), lit(r0).as("rank"))
    for (_ <- 1 to iters) {
      // pre-divide on the O(nodes) side: (src, rank div od) is a tiny
      // frame that broadcasts onto the checkpointed edge list, so the
      // O(edges) rows are scanned once per iteration with no degree
      // column materialized alongside them (the former `withDeg`
      // edge+degree join is gone entirely). `outdeg` is checkpointed
      // and loop-invariant, so its hinted broadcast is built once and
      // reused by every iteration (ReusedExchange).
      val contrib = rank.join(small(outdeg), rank("node") === outdeg("src"))
        .select(col("src"), expr("rank div od").as("contrib"))
      val mass = e.join(small(contrib), "src")
        .select(col("dst"), col("contrib"))
        .groupBy("dst").agg(sum(col("contrib")).as("mass"))
      rank =
        if (undirected)
          mass.select(col("dst").as("node"),
            (lit(base) + expr(s"($DampNum * mass) div $DampDen"))
              .as("rank"))
        else
          nodes.join(small(mass), nodes("node") === mass("dst"), "left")
            .select(col("node"),
              (lit(base) +
                expr(s"($DampNum * coalesce(mass, 0L)) div $DampDen"))
                .as("rank"))
    }
    rank
  }

  /** Make a directed edge list undirected (each edge in both
    * directions); also the cheap way to eliminate dangling nodes. */
  def undirect(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))

  /** Degree profile of a graph: per-node out-degree, in-degree — the
    * hub/orphan screen run before rank. */
  def degrees(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full")
      .select(col("node"), coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }
}
