package perfbench

import graft.sources.SchemaFetcher
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Counts registry lookups on the way into any [[SchemaFetcher]]. */
final class CountingFetcher(inner: SchemaFetcher) extends SchemaFetcher {
  val calls = new AtomicLong()
  def schemaById(id: Int): String = { calls.incrementAndGet(); inner.schemaById(id) }
  def latest(subject: String): (Int, String) = {
    calls.incrementAndGet(); inner.latest(subject)
  }
}

/** Spark jobs and tasks, attributed by two thread-local properties the
  * harness sets: [[JobCounter.TriggerProp]] (which trigger) and
  * [[JobCounter.SpanProp]] (which traced layer). Other jobs, such as the
  * reads after loading stops, carry neither. */
final class JobCounter extends SparkListener {
  import JobCounter._
  private val stageTags = TrieMap.empty[Int, (String, String)]
  val jobs = new ConcurrentLinkedQueue[String]()
  val tasks = new ConcurrentLinkedQueue[Task]()

  private def tags(p: java.util.Properties): (String, String) =
    if (p == null) (null, null) else (p.getProperty(TriggerProp), p.getProperty(SpanProp))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val (trig, span) = tags(e.properties)
    if (trig != null) jobs.add(trig)
    e.stageInfos.foreach(s => stageTags.put(s.stageId, (trig, span)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageTags.put(e.stageInfo.stageId, tags(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageTags.get(e.stageId).foreach { case (trig, span) =>
      if (trig != null && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.add(Task(trig, span, e.stageId, m.shuffleReadMetrics.totalBytesRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
      }
    }

  def jobsOf(trigger: String): Int = jobs.asScala.count(_ == trigger)
  def tasksOf(trigger: String): Seq[Task] = tasks.asScala.filter(_.trigger == trigger).toSeq
  def clear(): Unit = { jobs.clear(); tasks.clear() }
}

object JobCounter {
  val TriggerProp = "perfbench.trigger"
  val SpanProp = "perfbench.span"
  final case class Task(trigger: String, span: String, stage: Int,
      shuffleRead: Long, bytesWritten: Long, recordsWritten: Long)
}

/** Per-trigger progress from the streaming engine: the trigger's own
  * duration and the MemoryStream end offset it consumed. */
final class TriggerListener extends StreamingQueryListener {
  import StreamingQueryListener._
  import TriggerListener.Progress
  val progress = new ConcurrentLinkedQueue[Progress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val end = p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(_.trim.toLongOption).getOrElse(-1L)
    progress.add(Progress(p.runId, p.batchId,
      Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
      end))
  }
  /** Progress of one query run, by batch id. */
  def of(runId: java.util.UUID): Map[Long, Progress] =
    progress.asScala.filter(_.runId == runId).map(p => p.batchId -> p).toMap
}

object TriggerListener {
  final case class Progress(runId: java.util.UUID, batchId: Long, triggerMs: Long,
      endOffset: Long)
}
