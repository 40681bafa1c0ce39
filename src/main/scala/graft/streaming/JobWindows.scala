package graft.streaming

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}

/** Listener that records every Spark job's [start, end] window (end -1
  * while the job runs) for as long as it is registered. The job-count
  * guard on `CdcStream.processBatch` counts the jobs one trigger starts
  * with it. */
final class JobWindows extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]
  override def onJobStart(js: SparkListenerJobStart): Unit =
    jobs.put(js.jobId, Array(js.time, -1L))
  override def onJobEnd(je: SparkListenerJobEnd): Unit = {
    val w = jobs.get(je.jobId)
    if (w != null) w(1) = je.time
  }
}
