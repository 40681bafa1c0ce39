package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Batch sessionization: gap-based session ids via the classic
  * lag → boundary-flag → running-sum formulation. One shuffle on the key,
  * both windows share the same sort — Catalyst plans a single Exchange +
  * Sort, then two WindowExecs over it.
  */
object Sessions {

  /** Adds `sess_id` (1-based per key, in time order): a new session starts
    * when the gap to the previous event exceeds `gapMicros`. `tieCol`
    * makes the ordering total so ids are deterministic under equal
    * timestamps. */
  def assign(df: DataFrame, keyCol: String, timeCol: String, tieCol: String,
      gapMicros: Long): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(timeCol), col(tieCol))
    val prev = lag(col(timeCol), 1).over(w)
    val newSession = when(
      prev.isNull || col(timeCol) - prev > gapMicros, 1).otherwise(0)
    df.withColumn("sess_id",
      sum(newSession).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast(LongType))
  }

  /** Per-session stats: event count and [start, end] bounds. */
  def stats(df: DataFrame, keyCol: String, timeCol: String, tieCol: String,
      gapMicros: Long): DataFrame =
    assign(df, keyCol, timeCol, tieCol, gapMicros)
      .groupBy(col(keyCol), col("sess_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col(timeCol)).as("t_start"),
        max(col(timeCol)).as("t_end"))
}
