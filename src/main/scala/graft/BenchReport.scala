package graft

/** Renders the bench artifact two ways from one field list:
  *   - `fileJson`: every field, full precision → written to BENCH.json
  *   - `stdoutLine`: ONLY the headline subset (totals + canaries +
  *     headline throughputs + rerun flags), long doubles rounded to 4
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
    * file-only. Per-query maps, phase breakdowns, and per-section
    * metadata all live in BENCH.json. */
  val headlineKeys: Seq[String] = Seq(
    "metric", "value", "unit", "bench_runs", "queries_n",
    "queries_failed_n", "queries_slowest",
    "budget_violations_n", "budget_worst",
    // r19 (VERDICT r18 #1/#2): flagged queries re-run once in a clean
    // same-session bracket before the flag ships (healed count rides
    // the line; per-rerun detail is file-only), and the total budget's
    // basis is named — epoch_ref_cpu (executor CPU, drift-immune) when
    // the epoch ref carries per-query CPU, else wall legs
    "budget_healed_n", "budget_total_source", "total_cpu_sec",
    // r19: canary_query + canary_start/end_sec absolutes moved
    // file-only to fund the three budget keys above (the r13 rule:
    // absolutes file-only, their *_delta_pct drift signals stay on the
    // line)
    "canary_delta_pct",
    // r18 (VERDICT r17 #3): total_at_ref_window_est REPLACES r15's
    // total_window_adjusted — the semantics are now named in the field:
    // "what this total would read on the epoch-ref window". Per-chunk
    // adjustment when its direction agrees with the whole-run factor,
    // raw ÷ global factor when the chunks contradict it (the r17
    // official artifact shipped 145.8 "adjusted" from raw 115 on a
    // 1.21-slow window because drifting chunk brackets outvoted the
    // run-level factor); window_adjust_source says which was used
    "canary_window_factor", "total_at_ref_window_est",
    "window_adjust_source", "window_factor_extreme",
    // r16: the shuffle-class second canary's whole-catalog factor rides
    // the line (per-chunk brackets are file-only) — "CPU factor ~1.0 but
    // shuffle factor high" is the contention type canary 1 cannot see
    "canary2_window_factor",
    // r13: the four canary_post_*_sec absolutes moved file-only to fund
    // the window-factor fields — their *_delta_pct companions (the
    // actual drift signal) stay on the line
    "canary_cdc_delta_pct", "canary_skew_delta_pct",
    "canary_store_delta_pct", "canary_stream_delta_pct",
    // r14: catalog chunking grew the section list from 10 to 22+ names;
    // the name arrays moved file-only (BENCH.json `sections_rerun` /
    // `sections_skewed` / per-section metas) and the line carries counts
    "sections_rerun_n", "sections_skewed_n",
    "cdc_merge_sec", "cdc_events_per_sec", "cdc_events",
    "cdc_zipf_events_per_sec", "cdc_skew_uniform_events_per_sec",
    "stream_events_per_sec", "stream_events_per_sec_bucketed",
    "stream_events_per_sec_mor", "stream_events_per_sec_big",
    "stream_events_per_sec_bucketed_big", "stream_events_per_sec_mor_big",
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

  /** "What would this run's total read on the epoch-ref window"
    * (VERDICT r17 #3 — the r15 field's direction inverted on drifting
    * windows). `perChunkEst` is the sum of per-query chunk-adjusted
    * times (locally accurate when chunk brackets are sane);
    * `globalFactor` the whole-run canary factor (>1 = this window is
    * SLOWER than the epoch ref). The estimate must land BETWEEN the
    * raw total and raw ÷ globalFactor (±2% slack) — that bounds both
    * the direction AND the magnitude, because drifting chunk brackets
    * have produced per-chunk sums on the right side of raw but far
    * past any window-explainable correction (r17 official: +27% on a
    * 1.21 window; r18 seal 2: +32% on a 0.97 window). Outside the
    * band, raw ÷ global is the estimate and the source says so.
    * Returns (estimate, source); estimate -1 when no factor exists. */
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

  /** Heal rule for the stream/CDC/store section rates (VERDICT r19
    * #2): queries got a CPU-basis budget and clean-bracket reruns in
    * r19, but section throughputs still shipped raw — the r19 official
    * artifact's −30–60% stream swings were adjudicated as window noise
    * only because an 8-core run happened to follow. A section rate
    * more than `pct` percent BELOW its epoch-ref rate earns one
    * same-session rerun before the number ships (the better rate is
    * kept, both ride the artifact). Rates at or above ref, a dead ref,
    * or a failed first run (rate < 0) never rerun. */
  def rateNeedsHeal(rate: Double, ref: Option[Double],
      pct: Double): Boolean =
    pct > 0 && rate >= 0 &&
      ref.exists(r => r > 0 && rate < r * (1.0 - pct / 100.0))

  def atRefWindowEst(rawTotal: Double, perChunkEst: Double,
      globalFactor: Double): (Double, String) =
    if (globalFactor <= 0) (-1.0, "none")
    else {
      val global = rawTotal / globalFactor
      val lo = math.min(rawTotal, global) * 0.98
      val hi = math.max(rawTotal, global) * 1.02
      if (perChunkEst >= lo && perChunkEst <= hi)
        (perChunkEst, "per_chunk")
      else (global, "global_direction_fix")
    }
}
