package graft.plans

import graft.SparkSpec

/** Enforced plan invariants over the ENTIRE query catalog: no query may
  * plan a CartesianProduct or BroadcastNestedLoopJoin at sf0.001. Catches
  * the class of regression where an innocent-looking change (a crossJoin
  * for scalars, a non-equi condition Catalyst can't band) reintroduces
  * an all-pairs plan that local row counts would hide until 100×.
  */
class CatalogPlanInvariantsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Every catalog query's executed plan, planned once for all the
    * invariants below. */
  private lazy val plans: Seq[(String, String)] = {
    val out = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .map { case (name, fn) =>
        val plan =
          try fn(spark, dir).queryExecution.executedPlan.toString
          catch {
            case e: Throwable =>
              fail(s"$name failed to plan: ${e.getClass.getName}: " +
                e.getMessage)
          }
        name -> plan
      }
    graft.core.Metrics.drainUnpersist()
    out
  }

  test("no catalog query plans a cartesian or nested-loop join") {
    val offenders = plans.collect {
      case (name, plan) if plan.contains("CartesianProduct") ||
        plan.contains("BroadcastNestedLoopJoin") => name
    }
    assert(offenders.isEmpty,
      s"cartesian/BNLJ plans in catalog: ${offenders.mkString(", ")}")
  }

  test("no catalog query plans an Expand (the multi-distinct trap)") {
    // r11's column profiler shipped at 7.63 s because `agg(countDistinct,
    // countDistinct, …)` plans an Expand — |distinct sets|+1 projected
    // copies of every input row through the shuffle — and was only
    // caught by eyeballing the slowest-5 (the replan was 12.7×). Expand
    // also backs rollup/cube/grouping sets; the catalog intentionally
    // uses none of those, so ANY Expand in a catalog plan is a
    // scale-killer until a reviewed entry lands in this allowlist.
    val allowed = Set.empty[String]
    val offenders = plans.collect {
      case (name, plan) if plan.contains("Expand") && !allowed(name) => name
    }
    assert(offenders.isEmpty,
      s"Expand in catalog plans (multi-distinct/grouping-set trap — " +
        s"replan or allowlist with review): ${offenders.mkString(", ")}")
  }
}
