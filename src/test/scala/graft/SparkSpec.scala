package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session keeps
  * `sbt test` fast; suites must not mutate session state). */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** One-column helper: collect a single column as values. */
  def col1[T](df: DataFrame): Seq[T] =
    df.collect().toSeq.map(_.getAs[T](0))

  /** Spark jobs started while `f` runs, with its result. */
  def jobsDuring[T](f: => T): (Int, T) = {
    import org.apache.spark.sql.graft.Shims
    val lst = new graft.tools.TailProfile.JobWindows
    Shims.waitListenerBus(spark, 10000L)
    spark.sparkContext.addSparkListener(lst)
    try {
      val out = f
      Shims.waitListenerBus(spark, 10000L)
      (lst.jobs.size, out)
    } finally spark.sparkContext.removeSparkListener(lst)
  }
}
