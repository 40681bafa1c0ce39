package perfbench

import graft.core.Job
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import scala.jdk.CollectionConverters._

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of unsorted samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** One `foreachBatch` call as the harness saw it. `lastIdx` is the index
  * (into the run's [[Events]]) of the last message the batch consumed,
  * `triggerMs` the engine's `triggerExecution` time for it, and `tag` the
  * trigger property its Spark jobs carry. */
final case class BatchRec(batchId: Long, tag: String, startNs: Long, endNs: Long,
    jobs: Seq[Job], failed: Boolean, lastIdx: Int, pushedAtEnd: Int, triggerMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** A MemoryStream `foreachBatch` query over `(offset, key, value)` frames
  * — the Kafka source's row shape — running as fast as triggers allow.
  * `body` is the batch function under test (normally
  * `CdcStream.processBatch`). */
final class StreamRun(spark: SparkSession, events: Events, checkpoint: String,
    partitions: Int, listener: TriggerListener, body: DataFrame => Seq[Job]) {
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  import spark.implicits._

  // a fixed partition count, like a Kafka topic's; without it every
  // addData call becomes its own input partition
  private val mem = MemoryStream[(Long, Array[Byte], Array[Byte])](partitions)
  /** MemoryStream offset → index of the last message it added. */
  private val pushed = new java.util.concurrent.ConcurrentHashMap[Long, Integer]()
  @volatile var pushedUntil = 0
  val batches = new ConcurrentLinkedQueue[StreamRun.Done]()
  val errors = new ConcurrentLinkedQueue[String]()
  // job tags and progress events are told apart per query: every run's
  // batch ids start at 0
  private val name = s"perfbench-${StreamRun.seq.incrementAndGet()}"
  private def tag(id: Long) = s"$name-b$id"

  private val query = mem.toDF().toDF("offset", "key", "value").writeStream
    .queryName(name)
    .trigger(Trigger.ProcessingTime(0L))
    .option("checkpointLocation", checkpoint)
    .foreachBatch { (df: DataFrame, id: Long) =>
      val sc = spark.sparkContext
      sc.setLocalProperty(JobCounter.TriggerProp, tag(id))
      val t0 = System.nanoTime()
      val (jobs, failed) =
        try (body(df), false)
        catch {
          case e: Exception =>
            errors.add(s"batch $id: $e")
            (Nil, true)
        }
      val t1 = System.nanoTime()
      sc.setLocalProperty(JobCounter.TriggerProp, null)
      batches.add(StreamRun.Done(id, t0, t1, jobs, failed, pushedUntil))
      ()
    }
    .start()

  /** Add messages [from, until) as one MemoryStream offset. */
  def push(from: Int, until: Int): Unit = if (until > from) {
    val off = mem.addData(events.frames(from, until)).json().trim.toLong
    pushed.put(off, until - 1)
    pushedUntil = until
  }

  def drain(): Unit = query.processAllAvailable()

  /** Stop the query and resolve each batch's consumed range from the
    * engine's progress events (delivered asynchronously). */
  def stop(): Seq[BatchRec] = {
    query.processAllAvailable()
    query.stop()
    val want = batches.asScala.map(_.batchId).toSet
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!want.subsetOf(listener.of(query.runId).keySet) && System.nanoTime() < deadline)
      Thread.sleep(20)
    val prog = listener.of(query.runId)
    completed.map { d =>
      val p = prog.get(d.batchId)
      val last = p.map(p => pushed.getOrDefault(p.endOffset, -1).intValue).getOrElse(-1)
      BatchRec(d.batchId, tag(d.batchId), d.startNs, d.endNs, d.jobs, d.failed, last,
        d.pushedAtEnd, p.map(_.triggerMs).getOrElse(-1L))
    }
  }

  /** Batches completed so far, in order. */
  def completed: Seq[StreamRun.Done] = batches.asScala.toSeq.sortBy(_.batchId)
}

object StreamRun {
  private val seq = new java.util.concurrent.atomic.AtomicInteger()
  final case class Done(batchId: Long, startNs: Long, endNs: Long, jobs: Seq[Job],
      failed: Boolean, pushedAtEnd: Int) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}

/** Open-loop producer: message i is due at `t0 + (i - from) / rate` and
  * is pushed once due, at most every `OpenLoop.TickNs`, regardless of how
  * the sink keeps up. */
final class OpenLoop(run: StreamRun, from: Int, rate: Double, t0: Long) extends Thread("perfbench-gen") {
  @volatile var stopIdx: Int = Int.MaxValue
  @volatile private var halted = false
  /** Lateness (push time minus due time) of the first message per push. */
  val late = new ConcurrentLinkedQueue[java.lang.Double]()
  def due(i: Int): Long = t0 + ((i - from).toDouble / rate * 1e9).toLong
  setDaemon(true)

  override def run(): Unit = {
    var next = from
    while (!halted && next < stopIdx) {
      val now = System.nanoTime()
      val dueNow = from + ((now - t0) / 1e9 * rate).toInt + 1
      val until = math.min(dueNow, stopIdx)
      if (until > next) {
        late.add((now - due(next)) / 1e9)
        run.push(next, until)
        next = until
      }
      val sleepNs = math.max(due(next) - System.nanoTime(), OpenLoop.TickNs)
      Thread.sleep(sleepNs / 1000000L, (sleepNs % 1000000L).toInt)
    }
  }

  def halt(): Unit = { halted = true; join() }
}

object OpenLoop {
  val TickNs: Long = 20L * 1000000L
}
