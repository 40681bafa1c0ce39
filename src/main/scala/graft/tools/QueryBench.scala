package graft.tools

import org.apache.spark.sql.SparkSession

/** Minimal single-query bench harness for same-host A/B runs (the
  * BENCHNOTES discipline: before hunting a code cause for a cross-window
  * wall-time delta, time the suspect queries back-to-back on the same
  * host at two commits). Unlike [[graft.Bench]] it runs ONLY the named
  * queries — no CDC/stream sections, no canary — so an A/B pair costs
  * seconds and the two sides see near-identical host state.
  *
  * Usage: `runMain graft.tools.QueryBench <sfDir> <q1,q2,...> [runs]`
  * Prints one line per query: `<name> cold=<s> warm=<s> runs=[...]`.
  */
object QueryBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val nRuns = if (args.length > 2) args(2).toInt else 5
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // session config MUST mirror graft.Bench exactly — an A/B harness
    // with a different engine config (e.g. AQE off) times a different
    // plan and its numbers can't be compared against BENCH.json
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-querybench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val secs = (1 to nRuns).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        graft.core.Metrics.drainUnpersist()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name cold=${secs.head}%.3f warm=${secs.tail.min}%.3f " +
        s"runs=[${secs.map(s => f"$s%.3f").mkString(",")}]")
    }
    spark.stop()
  }
}
