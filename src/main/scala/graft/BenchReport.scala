package graft

/** Renders the bench artifact two ways from one field list:
  *   - `fileJson`: every field, full precision → written to BENCH.json
  *   - `stdoutLine`: ONLY the headline subset (totals, failures, the
  *     slowest queries and the budget verdict), long doubles rounded to 4
  *     decimals — the driver's stdout capture keeps the LAST 2000
  *     chars of the run's output, so the printed line must stay under
  *     [[StdoutBudget]] or the round artifact truncates mid-string
  *     (BENCH_r09–r11 all parsed null for exactly this reason).
  *
  * Fields are (key, renderedJsonValue) pairs — values arrive already
  * rendered (numbers, quoted strings, or object/array literals) so the
  * two renderings cannot disagree on formatting. The headline subset is
  * the closed list [[headlineKeys]]; adding a key to it is a reviewed
  * budget decision, enforced by BenchReportSpec's worst-case-width
  * assertion.
  */
object BenchReport {
  /** Hard budget for the printed line INCLUDING newline: the driver
    * keeps a 2000-char stdout tail and post-line log noise eats into
    * it, so the line itself must leave headroom. */
  val StdoutBudget = 1900

  /** The closed headline set, in emission order. Everything else is
    * file-only: the per-query wall, cold and CPU maps and the epoch
    * common-set totals live in BENCH.json. */
  val headlineKeys: Seq[String] = Seq(
    "metric", "value", "unit", "bench_runs", "queries_n",
    "queries_failed_n", "queries_slowest",
    "budget_violations_n", "budget_worst",
    // the total budget's basis is named: epoch_ref_cpu (executor CPU,
    // drift-immune) when the epoch ref carries per-query CPU, else the
    // wall legs
    "budget_total_source", "total_cpu_sec",
    "sf")

  private def render(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")

  /** Full-precision JSON object over every field, file order = insertion
    * order. */
  def fileJson(fields: Seq[(String, String)]): String = render(fields)

  /** The stdout line: headline subset in [[headlineKeys]] order (keys
    * absent from `fields` are skipped), doubles ≥5 decimals rounded to
    * 4. */
  def stdoutLine(fields: Seq[(String, String)]): String = {
    val byKey = fields.toMap
    val subset = headlineKeys.flatMap(k => byKey.get(k).map(k -> _))
    val longNum = "(-?\\d+\\.\\d{5,})(?=[,}\\]])".r
    longNum.replaceAllIn(render(subset),
      m => f"${m.group(1).toDouble}%.4f")
  }

  /** The TOTAL budget evaluation chain (VERDICT r18 #2): epoch CPU →
    * epoch wall → env constant, first available basis wins and names
    * itself. CPU is primary because it is drift-immune: wall drifted
    * 15–20% intra-day twice (r17 binary 107.6 its own morning, 121.5
    * the same evening) while the CPU canary held, so a wall budget
    * flags host windows as regressions; executor CPU cycles don't
    * stretch under contention. Each common pair is (head total, ref
    * total) over the query set BOTH catalogs share — None when the
    * ref basis is absent or its common set is under the coverage
    * floor. Returns (violations, source). */
  def totalBudgetEval(cpuCommon: Option[(Double, Double)],
      wallCommon: Option[(Double, Double)], wallCommonTooSmall: Boolean,
      rawTotal: Double, envBudget: Double, mult: Double)
      : (Seq[String], String) =
    cpuCommon match {
      case Some((headCpu, refCpu)) if refCpu > 0 =>
        (if (headCpu > refCpu * mult) Seq(f"total_cpu:$headCpu%.1f")
         else Seq.empty, "epoch_ref_cpu")
      case _ => wallCommon match {
        case Some((head, ref)) if ref > 0 =>
          (if (head > ref * mult) Seq(f"total:$head%.1f")
           else Seq.empty, "epoch_ref")
        case _ =>
          (if (rawTotal > envBudget) Seq(f"total:$rawTotal%.1f")
           else Seq.empty,
           if (wallCommonTooSmall) "env_common_too_small" else "env")
      }
    }
}
