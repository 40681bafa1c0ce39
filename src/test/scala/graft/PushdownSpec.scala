package graft

/** Scan-level evidence that the declarative plans keep Catalyst's free
  * optimizations: predicates reach the parquet reader as PushedFilters
  * and projections prune ReadSchema — at 100 TB these decide how much of
  * the table is ever opened. */
class PushdownSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def scanNode(df: org.apache.spark.sql.DataFrame): String =
    // formatted mode prints PushedFilters untruncated
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  test("q6 predicates are pushed to the parquet scan") {
    val scan = scanNode(Queries.all("q6_forecast_revenue")(spark, dir))
    assert(scan.contains("PushedFilters:"), scan)
    assert(scan.contains("GreaterThanOrEqual(l_shipdate"), scan)
    assert(scan.contains("GreaterThanOrEqual(l_discount,0.04"), scan)
    assert(scan.contains("LessThan(l_quantity,25"), scan)
  }

  test("projection prunes the scan to referenced columns (ReadSchema)") {
    val plan = Tables.read(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity")
      .queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(plan)
    assert(readSchema.contains("l_orderkey") &&
      readSchema.contains("l_quantity"), readSchema)
    assert(!readSchema.contains("l_extendedprice"), readSchema)
  }
}
