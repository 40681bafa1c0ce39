package graft.core

import java.util.concurrent.ConcurrentHashMap

/** In-process metrics registry — the Spark re-expression of the
  * reference's Prometheus surface (REDSHIFTSINK.md:115–181,
  * pkg/prometheus): per-(table, metric) observation streams with the
  * histogram essentials (sum / count / max), plus monotone counters and
  * gauges, all under the reference's metric names:
  *
  *  - `batcher_bytes_processed` / `batcher_messages_processed` — ingest
  *    throughput, fed by [[graft.streaming.CdcStream.processBatch]];
  *  - `loader_seconds` and the per-phase
  *    `loader_{copystage,dedupe,deletecommon,deleteop,copytarget}_seconds`
  *    — merge latencies (REDSHIFTSINK.md's 10–900 s histogram family);
  *  - `loader_messages_loaded` / `loader_bytes_loaded`;
  *  - `loader_running` gauge / `loader_throttled_total` counter
  *    (fed by [[graft.streaming.MetricsListener]] / ControlPlane callers).
  *
  * The registry is a bounded driver artifact (tables × metric names);
  * observations are lock-free CHM merges, safe from concurrent
  * foreachBatch threads. A Prometheus/StatsD bridge is a `snapshot()`
  * consumer — exporting is deployment tooling, out of engine scope the
  * same way the reference's HTTP listener is (SURVEY §2.7).
  *
  * Phase breakdown is OPT-IN: the merge plan is normally one fused Spark
  * plan (strictly better than the reference's five serialized statements),
  * so per-phase walls don't exist unless the merge materializes phase
  * boundaries. `enablePhaseBreakdown(true)` makes
  * [[graft.merge.CdcMerge.merge]] localCheckpoint each phase — the same
  * fragments the reference times — at the cost of writing intermediates;
  * leave it off for peak throughput (the fused total still lands in
  * `loader_copytarget_seconds`/`loader_seconds`).
  */
object Metrics {

  /** The reference's loader-latency histogram bounds in seconds
    * (REDSHIFTSINK.md:155–171: "histograms in buckets: 10, 30, 60, 120,
    * 180, 240, 300, 480, 600, 900"). Every `*_seconds` observation
    * stream keeps cumulative counts per bound so the `/metrics` endpoint
    * exports real `_bucket{le=...}` series a reference dashboard's
    * quantile panels can consume unchanged. */
  final val SecondsBuckets: Vector[Double] =
    Vector(10, 30, 60, 120, 180, 240, 300, 480, 600, 900)

  /** Prometheus client DefBuckets — the reference registers its batcher
    * byte/message histograms with no explicit bounds
    * (pkg/redshiftbatcher/metrics.go:8–25; REDSHIFTSINK.md:115–124 "The
    * metrics are histograms in default buckets"), so parity means
    * exporting the same default bounds. */
  final val DefaultBuckets: Vector[Double] =
    Vector(0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1, 2.5, 5, 10)

  /** Histogram bounds for a metric name: the reference's 10–900 s family
    * for `*_seconds`, Prometheus defaults for the batcher/loader
    * throughput observations (`*_processed` / `*_loaded`), none
    * otherwise (those stay summaries). */
  def bucketBoundsFor(metric: String): Option[Vector[Double]] =
    if (metric.endsWith("_seconds")) Some(SecondsBuckets)
    else if (metric.endsWith("_processed") || metric.endsWith("_loaded"))
      Some(DefaultBuckets)
    else None

  /** Histogram essentials of one (table, metric) stream. `buckets` is
    * cumulative observations ≤ [[SecondsBuckets]](i) — non-empty only
    * for `*_seconds` metrics (the reference's histogram family); the
    * implicit `+Inf` bucket is `count`. */
  final case class Stat(sum: Double, count: Long, max: Double,
      buckets: Vector[Long] = Vector.empty) {
    def mean: Double = if (count == 0) 0.0 else sum / count
  }

  private val stats = new ConcurrentHashMap[(String, String), Stat]()
  @volatile private var breakdown = false

  /** Opt into per-phase merge materialization (see class doc). */
  def enablePhaseBreakdown(on: Boolean): Unit = breakdown = on

  private def bucketsOf(metric: String, value: Double): Vector[Long] =
    bucketBoundsFor(metric)
      .map(_.map(le => if (value <= le) 1L else 0L))
      .getOrElse(Vector.empty)

  private def addBuckets(a: Vector[Long], b: Vector[Long]): Vector[Long] =
    if (a.isEmpty) b else if (b.isEmpty) a
    else a.lazyZip(b).map(_ + _).toVector

  /** Record one observation (seconds, rows, bytes — unit is the
    * metric's). */
  def observe(table: String, metric: String, value: Double): Unit =
    stats.merge((table, metric),
      Stat(value, 1, value, bucketsOf(metric, value)),
      (a, b) => Stat(a.sum + b.sum, a.count + b.count,
        math.max(a.max, b.max), addBuckets(a.buckets, b.buckets)))

  /** Monotone counter convenience. */
  def add(table: String, metric: String, n: Long): Unit =
    observe(table, metric, n.toDouble)

  /** Gauge semantics: last value wins (count tracks updates). */
  def gauge(table: String, metric: String, value: Double): Unit =
    stats.merge((table, metric), Stat(value, 1, value),
      (a, _) => Stat(value, a.count + 1, value))

  /** Time `f`, record seconds under (table, metric). */
  def time[T](table: String, metric: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally observe(table, metric, (System.nanoTime() - t0) / 1e9)
  }

  def snapshot(): Map[(String, String), Stat] = {
    import scala.jdk.CollectionConverters._
    stats.asScala.toMap
  }

  def get(table: String, metric: String): Option[Stat] =
    Option(stats.get((table, metric)))

  def reset(): Unit = stats.clear()

  // ---- merge-phase plumbing -----------------------------------------

  // foreachBatch bodies run whole on one driver thread, so the table tag
  // rides a ThreadLocal from processBatch down into CdcMerge.merge
  // without threading a parameter through the TableStore interface.
  private val currentTable = new ThreadLocal[String] {
    override def initialValue(): String = ""
  }

  /** Tag driver-side work on this thread as belonging to `table`. */
  def withTable[T](table: String)(f: => T): T = {
    val prev = currentTable.get()
    currentTable.set(table)
    try f finally currentTable.set(prev)
  }

  private[graft] def tableTag: String = {
    val t = currentTable.get()
    if (t.isEmpty) "(untagged)" else t
  }

  /** Consulted by CdcMerge.merge: Some(recorder) only while phase
    * breakdown is enabled. */
  private[graft] def mergeRecorder(): Option[PhaseRecorder] =
    if (breakdown) Some(new PhaseRecorder(tableTag)) else None

  final class PhaseRecorder private[core] (table: String) {
    def time[T](phase: String)(f: => T): T =
      Metrics.time(table, s"loader_${phase}_seconds")(f)
  }

  // Phase breakdown localCheckpoints intermediates whose blocks are only
  // dead AFTER the caller's final write action — the merge can't
  // unpersist them itself. They queue here (per driver thread, like the
  // table tag) and the batch driver frees them once the write returns;
  // without the drain, a long-running stream retains one batch's worth
  // of checkpoint blocks per trigger until the driver happens to GC the
  // references (the same leak Dedup.clusters avoids by explicit
  // unpersist).
  private val pendingUnpersist =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.DataFrame]] {
      override def initialValue() =
        scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    }

  private[graft] def deferUnpersist(df: org.apache.spark.sql.DataFrame): Unit =
    pendingUnpersist.get() += df

  /** Free all checkpoints deferred on this thread (call after the batch's
    * terminal action).
    *
    * PUBLIC CONTRACT (ADVICE r13): several library entry points
    * checkpoint slim intermediates for reuse — chained ranks
    * (`q_x_rfm`'s seams), `CorpusStats.quantileNormalize`'s value-count
    * frame, `Search.bm25TopK`'s term stats, `Dedup.minHash*`'s batch
    * signatures, the dedup streams' per-trigger survivors — and defer
    * the unpersist to this THREAD-LOCAL queue so the caller's terminal
    * action still sees the cache. A long-lived application that calls
    * those ops must invoke `drainUnpersist()` on the SAME thread after
    * each batch's terminal action, or the checkpoint blocks accumulate
    * for the session lifetime (`graft.Bench`/`graft.Verify` drain per
    * query; the streaming wrappers document it per sink). The queue is
    * deliberately not auto-drained by a listener: a query-completion
    * hook cannot know whether the caller still holds the frame for a
    * second action. Since r14 the two-pass rank itself pins NOTHING —
    * this queue only ever holds caller-visible checkpoint frames. */
  def drainUnpersist(): Unit = {
    val buf = pendingUnpersist.get()
    buf.foreach(_.unpersist())
    buf.clear()
  }
}
