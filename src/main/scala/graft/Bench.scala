package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every catalog query on SPARK_GRAFT_SF_DIR, gates
  * the warm times against the per-query and total budgets, prints one JSON
  * line {"metric":...,"value":...} and writes every field to BENCH.json.
  * Results are fully materialized via a noop write (count() alone can
  * prune work).
  *
  * Environment: SPARK_GRAFT_SF_DIR and SPARK_GRAFT_CPUS select the data
  * and the local cores; SPARK_GRAFT_EPOCH_FILE,
  * SPARK_GRAFT_QUERY_BUDGET_SEC, SPARK_GRAFT_TOTAL_BUDGET_SEC and
  * SPARK_GRAFT_EPOCH_BUDGET_MULT are the budget gate's inputs.
  *
  * The CDC sink's own throughput, freshness and per-layer costs are
  * measured by `perfbench/`, not here. */
object Bench {

  /** Per-query MIN over this many executions: the first execution pays
    * Catalyst analysis + whole-stage-codegen javac + JIT warm-up (measured
    * 5-70x the steady-state cost for expression-heavy queries), and
    * min-of-2 cannot tell a contended host window from a plan regression;
    * with 3 the min is robust to one bad window per query. */
  val Runs = 3

  /** One query's timings in seconds; -1 when no run succeeded. `cold` is
    * the first successful run, `warm` the min over successful runs, `cpu`
    * the min executor-CPU time over them. */
  final case class Timing(cold: Double, warm: Double, cpu: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Executor-CPU accounting per query run: wall drifts 15–20% intra-day
    // on a shared host; CPU time doesn't. Each timed run gets its own job
    // group so late listener events can never land in the next query's
    // account.
    val benchCpu = new BenchCpu
    spark.sparkContext.addSparkListener(benchCpu)
    var cpuRunSeq = 0L
    def timedGroupedRun(name: String)(body: => Unit): (Double, String) = {
      cpuRunSeq += 1
      val grp = s"q::$name::$cpuRunSeq"
      spark.sparkContext.setJobGroup(grp, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try { body; ((System.nanoTime() - t0) / 1e9, grp) }
      finally spark.sparkContext.clearJobGroup()
    }

    // JVM/codegen warm-up on the smallest SF so bench times measure the
    // engine, not first-run class loading.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    val timings: Seq[(String, Timing)] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        // per-run failure isolation: a transient failure on run k must
        // not discard the other runs' measurements (min over successes)
        val secs: Seq[(Double, String)] = (1 to Runs).map { i =>
          try timedGroupedRun(name)(fn(spark, sfDir).write
            .format("noop").mode("overwrite").save())
          catch {
            case e: Throwable =>
              System.err.println(
                s"[bench] $name run $i failed: ${e.getMessage}")
              (-1.0, "")
          } finally
            // queries that localCheckpoint intermediates (the merge's
            // phase breakdown) defer the unpersist; freeing per run keeps
            // the runs from pinning that many checkpoint copies for the
            // session
            graft.core.Metrics.drainUnpersist()
        }
        // drain the async listener bus before reading CPU accounts
        org.apache.spark.sql.graft.Shims.waitListenerBus(spark, 10000L)
        val good = secs.filter(_._1 >= 0)
        name -> Timing(
          cold = good.headOption.map(_._1).getOrElse(-1.0),
          warm = good.map(_._1).minOption.getOrElse(-1.0),
          cpu = good.map(g => benchCpu.cpuSec(g._2)).filter(_ >= 0)
            .minOption.getOrElse(-1.0))
      }
    val results = timings.map { case (n, t) => n -> t.warm }
    val cpuByQuery = timings.map { case (n, t) => n -> t.cpu }
    val total = results.map(_._2).filter(_ >= 0).sum
    val totalCpu = cpuByQuery.map(_._2).filter(_ >= 0).sum
    def jsonMap(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def jsonList(xs: Seq[String]): String =
      xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    // headline fields that survive stdout tail truncation: the
    // per-query map is file-only (BENCH.json), so the stdout line carries
    // the count, the failures, and the slowest tail instead
    val qFailed = results.filter(_._2 < 0).map(_._1).sorted
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(5)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }
      .mkString("{", ",", "}")

    // Warm wall budget: at the official SF every query's warm min must fit
    // the per-query budget and the catalog the total budget; without the
    // gate a slow query shows only in the slowest-5 map. Budgets decide
    // on this run's raw numbers.
    val queryBudget =
      sys.env.getOrElse("SPARK_GRAFT_QUERY_BUDGET_SEC", "2.5").toDouble
    val totalBudget =
      sys.env.getOrElse("SPARK_GRAFT_TOTAL_BUDGET_SEC", "90").toDouble
    // Per-epoch total re-baseline: the host's catalog throughput drifts
    // ~15-20% between epochs, so a fixed raw-total constant goes dead the
    // first epoch shift. tools/epoch_ref.sh reruns a PINNED past binary on
    // this host and writes EPOCH.json; when present, the total budget
    // evaluates the query set BOTH catalogs share against the ref's common
    // total × mult — fires on code regressions, silent on epoch drift and
    // on catalog growth. The env constant stays as the fallback.
    val epochPath = sys.env.getOrElse("SPARK_GRAFT_EPOCH_FILE",
      "EPOCH.json")
    case class EpochRef(commit: String, queries: Map[String, Double],
      queriesCpu: Map[String, Double])
    val epochRef: Option[EpochRef] = try {
      val f = new java.io.File(epochPath)
      if (!f.exists) None
      else {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        val txt = try src.mkString finally src.close()
        val commit = """"epoch_ref_commit"\s*:\s*"([^"]+)"""".r
          .findFirstMatchIn(txt).map(_.group(1)).getOrElse("?")
        def objMap(field: String): Map[String, Double] =
          txt.indexOf("\"" + field + "\"") match {
            case -1 => Map.empty[String, Double]
            case i =>
              val open = txt.indexOf('{', i)
              val close = txt.indexOf('}', open)
              if (open < 0 || close < 0) Map.empty[String, Double]
              else """"([A-Za-z0-9_]+)"\s*:\s*(-?[0-9][0-9.eE+-]*)""".r
                .findAllMatchIn(txt.substring(open, close))
                .map(m => m.group(1) -> m.group(2).toDouble).toMap
          }
        // a file without the reference run's total is not an epoch run
        """"ref_total_sec"\s*:\s*-?[0-9]""".r.findFirstIn(txt).map(_ =>
          EpochRef(commit, objMap("queries"), objMap("queries_cpu")))
      }
    } catch { case _: Throwable => None }
    val epochMult = sys.env
      .getOrElse("SPARK_GRAFT_EPOCH_BUDGET_MULT", "1.05").toDouble
    // (common-set size, head common-set total, ref common-set total) over
    // live results
    def commonTotals(ref: Map[String, Double],
        head: Seq[(String, Double)]): (Int, Double, Double) = {
      val common = head.filter { case (n, s) =>
        s >= 0 && ref.get(n).exists(_ >= 0) }
      (common.size, common.map(_._2).sum,
        common.map { case (n, _) => ref(n) }.sum)
    }
    // Coverage floor: a stale or partial EPOCH.json can shrink the common
    // set to a handful of shared queries, leaving most of the catalog
    // unguarded while the source still reads epoch_ref. The epoch leg
    // needs a common set of at least half the SMALLER of the ref set and
    // the live head set (floor 8), so neither catalog growth (head > ref)
    // nor a deliberately cut catalog (head < ref, every head query
    // shared) erodes it into the env constant; below it the env constant
    // takes over and budget_total_source says why.
    val epochCommonRaw: Option[(Int, Double, Double)] =
      epochRef.map(er => commonTotals(er.queries, results))
    val headLiveN = results.count(_._2 >= 0)
    val minCommonN = math.max(8,
      epochRef.map(er => math.min(er.queries.count(_._2 >= 0), headLiveN) / 2)
        .getOrElse(headLiveN / 2))
    val epochCommonTooSmall = epochCommonRaw.exists(_._1 < minCommonN)
    val epochCommon: Option[(Double, Double)] = epochCommonRaw
      .filter(_._1 >= minCommonN).map(c => (c._2, c._3))
    // CPU leg: when the epoch ref carries per-query executor-CPU totals,
    // the total budget compares CPU-vs-CPU, the drift-immune basis. Same
    // common-set floor.
    val epochCommonCpuRaw: Option[(Int, Double, Double)] =
      epochRef.filter(_.queriesCpu.nonEmpty)
        .map(er => commonTotals(er.queriesCpu, cpuByQuery))
    val minCommonNCpu = math.max(8,
      epochRef.map(er => math.min(er.queriesCpu.count(_._2 >= 0),
        cpuByQuery.count(_._2 >= 0)) / 2).getOrElse(0))
    val epochCommonCpu: Option[(Double, Double)] = epochCommonCpuRaw
      .filter(_._1 >= minCommonNCpu).map(c => (c._2, c._3))
    val sfBudgeted = sfDir.contains("sf0.1") // budgets are sf0.1-calibrated
    // Budget-basis chain: epoch CPU → epoch wall → env constant; the
    // source field names which leg evaluated.
    val (totalViolation, budgetTotalSource): (Seq[String], String) =
      if (!sfBudgeted) (Seq.empty, "off_sf")
      else BenchReport.totalBudgetEval(epochCommonCpu, epochCommon,
        epochCommonTooSmall, total, totalBudget, epochMult)
    val queryViolations: Seq[String] =
      if (!sfBudgeted) Seq.empty
      else results.filter { case (_, s) => s > queryBudget }
        .sortBy(-_._2).map { case (n, s) => f"$n:$s%.2f" }
    val budgetViolations: Seq[String] = totalViolation ++ queryViolations

    // One field list, two renderings (BenchReport): BENCH.json gets every
    // field at full precision; stdout gets ONLY the headline subset
    // (BenchReport.headlineKeys) with doubles rounded, so the line fits
    // a 2000-char stdout tail capture.
    def fmt2(c: Option[Double]): String = c.map(v => f"$v%.2f").getOrElse("null")
    val fields = Seq[(String, String)](
      "metric" -> "\"total\"",
      "value" -> total.toString,
      "unit" -> "\"sec\"",
      "queries" -> jsonMap(results),
      // cold = Catalyst analysis + codegen javac + JIT; the gap between
      // cold and the warm min is warm-up, not plan cost
      "queries_cold" -> jsonMap(timings.map { case (n, t) => n -> t.cold }),
      "bench_runs" -> Runs.toString,
      "queries_n" -> results.size.toString,
      "queries_failed_n" -> qFailed.size.toString,
      "queries_failed" -> jsonList(qFailed),
      "queries_slowest" -> slowest,
      "budget_violations_n" -> budgetViolations.size.toString,
      "budget_worst" ->
        ("\"" + budgetViolations.headOption.getOrElse("") + "\""),
      "budget_violations" -> jsonList(budgetViolations),
      "budget_query_sec" -> queryBudget.toString,
      "budget_total_sec" -> totalBudget.toString,
      "budget_total_source" -> ("\"" + budgetTotalSource + "\""),
      "total_cpu_sec" -> totalCpu.toString,
      "queries_cpu" -> jsonMap(cpuByQuery),
      "epoch_ref_common_cpu_sec" -> fmt2(epochCommonCpu.map(_._2)),
      "epoch_head_common_cpu_sec" -> fmt2(epochCommonCpu.map(_._1)),
      "epoch_common_cpu_queries_n" -> epochCommonCpuRaw
        .map(_._1.toString).getOrElse("null"),
      "epoch_common_cpu_min_n" -> minCommonNCpu.toString,
      "epoch_common_min_n" -> minCommonN.toString,
      "epoch_ref_commit" -> epochRef.map("\"" + _.commit + "\"")
        .getOrElse("null"),
      "epoch_ref_common_total_sec" -> fmt2(epochCommon.map(_._2)),
      "epoch_head_common_total_sec" -> fmt2(epochCommon.map(_._1)),
      "epoch_common_queries_n" -> epochCommonRaw
        .map(_._1.toString).getOrElse("null"),
      "epoch_budget_mult" -> epochMult.toString,
      "sf" -> ("\"" + sfDir + "\""))
    println(BenchReport.stdoutLine(fields))
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH.json"),
      (BenchReport.fileJson(fields) + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
