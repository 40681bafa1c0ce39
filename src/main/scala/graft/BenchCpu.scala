package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** Per-job-group executor CPU accounting behind [[Bench]]'s total-budget
  * gate: wall-clock throughput on a shared host drifts 15–20% within a
  * day at constant load, while executor CPU time does not — a contended
  * window stretches wall, but the tasks accumulate the same cycles. So
  * the budget compares CPU first; wall stays as telemetry.
  *
  * Keying on `spark.jobGroup.id` (set per query run by the bench loop)
  * rather than global-delta snapshots makes attribution immune to the
  * listener bus's asynchrony: a late-delivered task-end lands in its
  * own group, never the next query's. Broadcast-exchange jobs inherit
  * the group through `SQLExecution.withThreadLocalCaptured`, so a
  * query's broadcast work is attributed to it. */
final class BenchCpu extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val cpuNs = new ConcurrentHashMap[String, AtomicLong]()

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val g = Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    if (g.nonEmpty) {
      val it = js.stageIds.iterator
      while (it.hasNext) stageGroup.put(it.next(), g)
    }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    if (te.taskMetrics != null) {
      val ns = te.taskMetrics.executorCpuTime
      val g = stageGroup.get(te.stageId)
      if (ns > 0L && g != null)
        cpuNs.computeIfAbsent(g, _ => new AtomicLong()).addAndGet(ns)
    }
  }

  /** Executor CPU seconds attributed to `group`; -1 when no task of
    * that group has reported (drain the listener bus first —
    * [[org.apache.spark.sql.graft.Shims.waitListenerBus]]). */
  def cpuSec(group: String): Double = {
    val a = cpuNs.get(group)
    if (a == null) -1.0 else a.get() / 1e9
  }
}
