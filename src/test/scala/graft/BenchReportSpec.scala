package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench stdout contract: the printed line must survive the
  * driver's 2000-char stdout tail capture. r9–r11's official artifacts
  * all truncated mid-string because breakdown maps rode the line —
  * this spec renders the headline subset at WORST-CASE field widths
  * and asserts it stays under BenchReport.StdoutBudget, so adding a
  * key to the headline set is a reviewed budget decision. */
class BenchReportSpec extends AnyFunSuite {

  /** Every headline field at its maximum plausible rendered width:
    * 12-char doubles everywhere (pre-rounding), 5 slowest entries with
    * 40-char query names, the longest budget source name. */
  private def worstCaseFields: Seq[(String, String)] = {
    val wideDouble = "-99999.123456789"
    val slowest = (1 to 5)
      .map(i => "\"" + ("q_x_" + ("a" * 36).take(36) + i) + "\":99.123456789")
      .mkString("{", ",", "}")
    BenchReport.headlineKeys.map {
      case k @ "metric" => k -> "\"total\""
      case k @ "unit" => k -> "\"sec\""
      case k @ "sf" => k -> "\"/root/testdata/sf0.001\""
      case k @ "queries_slowest" => k -> slowest
      case k @ ("bench_runs" | "queries_n" | "queries_failed_n" |
        "budget_violations_n") => k -> "999999"
      case k @ "budget_worst" =>
        k -> ("\"" + "q_x_" + "a" * 36 + ":99999.99\"")
      case k @ "budget_total_source" => k -> "\"env_common_too_small\""
      case k => k -> wideDouble
    }
  }

  test("worst-case headline line fits the driver's stdout capture") {
    val line = BenchReport.stdoutLine(worstCaseFields)
    // +1 for the newline println appends
    assert(line.length + 1 <= BenchReport.StdoutBudget,
      s"headline line is ${line.length + 1} chars — over the " +
        s"${BenchReport.StdoutBudget} budget; drop a key from " +
        "BenchReport.headlineKeys")
  }

  test("stdout line rounds long doubles to 4 decimals, in maps too") {
    val line = BenchReport.stdoutLine(worstCaseFields)
    assert(!"(-?\\d+\\.\\d{5,})(?=[,}\\]])".r.findFirstIn(line).isDefined,
      s"unrounded double survived: $line")
    assert(line.contains("\"total_cpu_sec\":-99999.1235"))
    // inside the slowest-5 map too, not only top-level values
    assert(line.contains("1\":99.1235"))
  }

  test("stdout line is the headline subset in declared order") {
    val fileOnly = Seq("queries", "queries_cold", "queries_cpu",
      "budget_violations", "epoch_ref_common_total_sec")
    val line = BenchReport.stdoutLine(
      fileOnly.map(_ -> "{\"q1\":1.0}") ++ worstCaseFields)
    // file-only keys never leak onto stdout
    for (k <- fileOnly)
      assert(!line.contains("\"" + k + "\":"), s"file-only key $k leaked")
    val idx = BenchReport.headlineKeys.map(k => line.indexOf("\"" + k + "\":"))
    assert(idx.forall(_ >= 0), "headline key missing from rendered line")
    assert(idx == idx.sorted, "headline keys out of declared order")
  }

  test("file json keeps every field at full precision") {
    val fields = worstCaseFields :+ ("queries" -> "{\"q1\":1.23456789}")
    val json = BenchReport.fileJson(fields)
    assert(json.contains("\"queries\":{\"q1\":1.23456789}"))
    assert(json.contains("\"total_cpu_sec\":-99999.123456789"))
    assert(json.startsWith("{") && json.endsWith("}"))
  }

  test("headline skips keys absent from the field list") {
    val line = BenchReport.stdoutLine(Seq("metric" -> "\"total\""))
    assert(line == "{\"metric\":\"total\"}")
  }

  /** VERDICT r18 #2: the TOTAL budget evaluates on executor CPU when
    * the epoch ref carries it — the drift-immune basis — and only
    * falls through to wall legs without it. */
  test("totalBudgetEval: CPU basis is primary and immune to wall-window drift") {
    // the time-sliced A/B shape: the head ran in a 20%-slow wall
    // window (wall would flag at mult 1.05) while CPU matches the ref
    // — the CPU budget stays silent and names its basis
    val (v1, s1) = BenchReport.totalBudgetEval(
      cpuCommon = Some((100.0, 100.0)),
      wallCommon = Some((120.0, 100.0)), wallCommonTooSmall = false,
      rawTotal = 130.0, envBudget = 90.0, mult = 1.05)
    assert(v1.isEmpty && s1 == "epoch_ref_cpu",
      s"wall drift must not flag under the CPU basis: $v1 $s1")
    // a real regression burns real cycles: CPU flags it even on a
    // fast wall window that would have hidden it
    val (v2, s2) = BenchReport.totalBudgetEval(
      cpuCommon = Some((130.0, 100.0)),
      wallCommon = Some((100.0, 100.0)), wallCommonTooSmall = false,
      rawTotal = 80.0, envBudget = 90.0, mult = 1.05)
    assert(v2 == Seq("total_cpu:130.0") && s2 == "epoch_ref_cpu")
    // no CPU ref: wall leg evaluates as before
    val (v3, s3) = BenchReport.totalBudgetEval(None,
      Some((120.0, 100.0)), wallCommonTooSmall = false,
      rawTotal = 130.0, envBudget = 90.0, mult = 1.05)
    assert(v3 == Seq("total:120.0") && s3 == "epoch_ref")
    // no epoch ref at all: env constant, and the too-small marker
    // names why the epoch leg was skipped
    val (v4, s4) = BenchReport.totalBudgetEval(None, None,
      wallCommonTooSmall = true, rawTotal = 80.0, envBudget = 90.0,
      mult = 1.05)
    assert(v4.isEmpty && s4 == "env_common_too_small")
    val (v5, s5) = BenchReport.totalBudgetEval(None, None,
      wallCommonTooSmall = false, rawTotal = 95.0, envBudget = 90.0,
      mult = 1.05)
    assert(v5 == Seq("total:95.0") && s5 == "env")
  }
}
