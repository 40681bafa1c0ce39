package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** AQE skew-join splitting: a Zipf-hot key on one side of a sort-merge
  * join gets its oversized partition split into parallel sub-reads at
  * runtime — the engine's no-code-change answer to skewed joins (manual
  * salting, `ops.Skew.saltedJoin`, remains for aggregations and for
  * joins below AQE's size thresholds). This pins that
  * `adaptive.skewJoin.enabled` actually triggers on a skewed shape, so
  * the skew story is a tested behavior, not a config comment.
  */
class AqeSkewJoinSpec extends SparkSpec {

  test("hot key splits: final plan marks the join skew=true") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // shrink thresholds so local fixture sizes qualify as "skewed"
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "8")

    val dir = Files.createTempDirectory("skewaqe").toString
    // 95% of the left side lands on key 0; right side is uniform
    s.range(200000).select(
        when(col("id") % 20 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
        concat(lit("payload-payload-payload-"), col("id")).as("p"))
      .write.mode("overwrite").parquet(s"$dir/left")
    s.range(1000).select(col("id").as("k"), col("id").as("v"))
      .write.mode("overwrite").parquet(s"$dir/right")

    val joined = s.read.parquet(s"$dir/left")
      .join(s.read.parquet(s"$dir/right"), "k")
    // collect() executes THIS Dataset's QueryExecution (count() would
    // spawn a separate one and leave this adaptive plan unfinalized)
    val n = joined.collect().length

    val adaptive = joined.queryExecution.executedPlan.collectFirst {
      case a: AdaptiveSparkPlanExec => a
    }
    val finalPlan = adaptive.map(_.executedPlan.toString)
      .getOrElse(joined.queryExecution.executedPlan.toString)
    assert(finalPlan.contains("skew=true"),
      s"no skew split in final plan:\n$finalPlan")
    // 190000 hot-key rows match right k=0, plus the 50 ids in
    // {0,20,…,980} that kept their own key and fall inside right's range
    assert(n == 190050)
  }
}
