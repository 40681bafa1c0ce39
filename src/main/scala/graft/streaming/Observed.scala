package graft.streaming

import org.apache.spark.sql.{Observation, Row}

/** Bounded read of an [[Observation]] after its action has completed.
  *
  * `Observation.get` blocks FOREVER when the CollectMetrics node was
  * pruned from the executed plan (AQE empty-relation propagation) or
  * when the materializing action is one that never posts a
  * SQL-execution end event; a stream trigger must not hang on a
  * missing metric. The public `future` completes exactly
  * when metrics arrive, so a short bounded wait (listener-bus delivery
  * is milliseconds) cleanly separates "delivered" from "never coming" —
  * callers fall back to a recount job in the latter, rare, case. */
object Observed {
  def row(obs: Observation, waitMs: Long = 2000L): Option[Row] =
    try Some(scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(waitMs,
        java.util.concurrent.TimeUnit.MILLISECONDS)))
    catch { case _: java.util.concurrent.TimeoutException => None }

  /** The observed metric as a Long, or `fallback` when the metric never
    * arrives (or arrives null — an all-pruned sum). */
  def long(obs: Observation, key: String, waitMs: Long = 2000L)(
      fallback: => Long): Long =
    row(obs, waitMs).flatMap { r =>
      val i = r.schema.fieldNames.indexOf(key)
      if (i < 0 || r.isNullAt(i)) None
      else r.get(i) match {
        case l: java.lang.Long => Some(l.longValue)
        case other => Some(other.toString.toLong)
      }
    }.getOrElse(fallback)
}
