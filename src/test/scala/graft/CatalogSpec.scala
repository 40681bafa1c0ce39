package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver-facing catalog to the CDC sink's queries: the SURVEY §2
  * operators (merge core R1–R7, envelope and temporal transforms, masks,
  * windows, the TPC-H flagships) plus the two warehouse kernels on the
  * sink's path (`CopyOptions` clamp, `Layout` z-order). Every query has a
  * DuckDB oracle and every oracle a query, so `graft.Verify` checks the
  * whole catalog by value. */
class CatalogSpec extends AnyFunSuite {

  private val expected = Set(
    "q1_pricing_summary", "q3_revenue_by_segment", "q5_local_supplier",
    "q6_forecast_revenue",
    "q_r1_dedupe", "q_r2_delete_common", "q_r3_op_filter",
    "q_r4_merge_scd1", "q_r5_skipmerge_gate", "q_r6_event_counts",
    "q_r7_distinct", "q_r8_usage_agg", "q_r10_topk",
    "q_w_time_window", "q_w_rank_topn", "q_w_running_sum",
    "q_p_envelope_cdc", "q_p4_date", "q_p5_timestamp", "q_p6_datetime",
    "q_p7_time",
    "q_m1_hash_mask", "q_m_mask_full",
    "q_x_copy_clamp", "q_x_zorder")

  test("every query has an oracle and the catalog is the sink's 25 queries") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(queries == oracles,
      s"queries without oracle: ${(queries -- oracles).toSeq.sorted}; " +
        s"oracles without query: ${(oracles -- queries).toSeq.sorted}")
    assert(expected.size == 25)
    assert(queries == expected,
      s"unexpected: ${(queries -- expected).toSeq.sorted}; " +
        s"missing: ${(expected -- queries).toSeq.sorted}")
  }
}
