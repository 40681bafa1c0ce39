package perfbench

import graft.core.Metrics
import graft.mask.MaskConfig
import graft.sources.StaticSchemaFetcher
import graft.streaming.{CdcStream, MaskReload}
import graft.warehouse.{ParquetCatalog, TableStore}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The CDC sink benchmark: drives `CdcStream.processBatch` through a
  * MemoryStream `foreachBatch` query on generated Debezium frames, checks
  * the landed table against [[Model]], and prints one JSON result line.
  *
  * {{{
  * Bench --workload tail_steady|catchup_reload --seed N
  *       --seconds S --trace 0|1 --work DIR
  * }}}
  * See perfbench/README.md for the workloads and metrics.
  */
object Bench {
  val Cores = 4
  // input partitions, like a 4-partition Kafka topic, and shuffle partitions
  val Partitions = 4
  val Salt = "perfbench-salt"

  // tail_steady: open-loop rate (about half of what the sink sustains on
  // this shape, see README.md) and target size
  val TailRate = 4000.0
  val TailSeedRows = 25000
  // catchup_reload: the same backlog of `seconds × CatchupRate` messages
  // is replayed `Replays` times in fixed-size triggers, so that the
  // replays together take about `seconds`
  val CatchupChunk = 15000
  val CatchupRate = 2250
  val Replays = 3
  val CatchupUniverse = 150000
  val ZipfS = 1.2
  // untimed warm-up on each workload's own path, counted in triggers so
  // that every run opens its window with the same amount of compiled code
  val WarmTriggers = 4
  val WarmChunks = 3
  // the tail's warm-up and its window each run the generated stream from
  // its first message; it is generated for a warm-up of at most this
  // long, and a run whose warm-up takes longer fails
  val WarmHorizonS = 40
  val QuiescentReads = 24
  val QuiescentWarmReads = 6

  /** The mask rules the released table was built with. */
  val CurrentMask: MaskConfig = MaskConfig.parse(
    """non_pii_keys:
      |  customers: [id, created_at, active, score]
      |conditional_non_pii_keys:
      |  customers:
      |    email: ['%example.com', '%exampledev.com']
      |dependent_non_pii_keys:
      |  customers:
      |    first_name:
      |      last_name: [Jones, Dhoni]
      |length_keys:
      |  customers: [favourite_quote]
      |mobile_keys:
      |  customers: [mobile_number]
      |regex_pattern_boolean_keys:
      |  customers:
      |    favourite_quote:
      |      has_philosophy: 'philosoph'
      |      has_pizza: 'pizza'
      |sort_keys:
      |  customers: [created_at]
      |dist_keys:
      |  customers: [id]
      |""".stripMargin)

  /** The changed rules a mask reload rebuilds the table under. */
  val ReloadMask: MaskConfig = MaskConfig.parse(
    """non_pii_keys:
      |  customers: [id, created_at, active, score, dob, loyalty_tier]
      |conditional_non_pii_keys:
      |  customers:
      |    email: ['%exampledev.com']
      |length_keys:
      |  customers: [favourite_quote, email]
      |mobile_keys:
      |  customers: [mobile_number]
      |regex_pattern_boolean_keys:
      |  customers:
      |    favourite_quote:
      |      has_philosophy: 'philosoph'
      |sort_keys:
      |  customers: [created_at]
      |""".stripMargin)

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String)

  /** Metrics, accounting and notes of one run. */
  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    var attempted = 0L
    var failed = 0L
    val notes = mutable.ArrayBuffer.empty[String]
    def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
    def account(n: Long, bad: Long, what: String): Unit = {
      attempted += n; failed += bad
      if (bad > 0) notes += s"$bad of $n $what failed"
    }
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m.getOrElse("trace", "0") == "1",
      m("work"))
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Partitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val res = new Result
    var spark = session(Cores, a.work)
    val ctx = new Ctx(spark, a, res, jvmStartMs)
    a.workload match {
      case "tail_steady" => ctx.tailSteady()
      case "catchup_reload" => ctx.catchupReload()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (a.trace) {
      // the single-core scaling baseline: the catch-up shape on local[1]
      spark.stop()
      spark = session(1, a.work)
      res.put("streaming.catchup_1core_events_per_s",
        new Ctx(spark, a, res, jvmStartMs).catchupBaseline(), "1/s")
    }
    res.put("rss_peak_mb", rssPeakMb(), "MB")
    spark.stop()
    report(a, res)
  }

  private def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  private def report(a: Args, res: Result): Unit = {
    val e = System.err
    e.println(f"perfbench ${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0}")
    res.metrics.foreach { case (k, (v, u)) => e.println(f"  $k%-40s $v%14.4f $u") }
    e.println(f"  failed_ratio ${res.failed}/${res.attempted} = ${res.failed.toDouble / math.max(res.attempted, 1)}%.6f")
    res.notes.foreach(n => e.println(s"  note: $n"))
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val ms = res.metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${res.failed == 0}, "attempted": ${math.max(res.attempted, 1)}, """ +
      s""""failed": ${res.failed}, "metrics": {${ms.mkString(", ")}}}""")
  }
}

object Ctx {
  private val dirSeq = new java.util.concurrent.atomic.AtomicInteger()
}

/** One workload run inside one Spark session. */
final class Ctx(spark: SparkSession, a: Bench.Args, res: Bench.Result, jvmStartMs: Long) {
  import Bench._

  private val fetcher = new CountingFetcher(new StaticSchemaFetcher(Gen.registry))
  private val jobCounter = new JobCounter
  private val triggers = new TriggerListener
  spark.sparkContext.addSparkListener(jobCounter)
  spark.streams.addListener(triggers)
  private val db = Gen.Database
  private val table = Gen.Table
  private def dir(name: String): String = {
    val p = Paths.get(a.work, s"$name-${Ctx.dirSeq.incrementAndGet()}")
    Files.createDirectories(p)
    p.toString
  }

  private def cfg(mask: MaskConfig) = CdcStream.TopicConfig(
    topic = Gen.Topic, targetSchema = db, targetTable = table,
    maskConfig = mask, salt = Salt)

  private def frames(ev: Events, from: Int, until: Int): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(ev.frames(from, until), Partitions)
      .toDF("offset", "key", "value")
  }

  private def setupDone(): Double =
    (System.currentTimeMillis() - jvmStartMs) / 1000.0

  private var lastMark = jvmStartMs
  /** Note how long the phase that just ended took. */
  private def mark(phase: String): Unit = {
    val now = System.currentTimeMillis()
    res.notes += f"phase: $phase ${(now - lastMark) / 1000.0}%.2f s"
    lastMark = now
  }

  private def dirBytes(path: String): Long =
    if (!Files.exists(Paths.get(path))) 0L
    else Files.walk(Paths.get(path)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(Files.size).sum

  private def copyDir(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    }
  }

  // ---- reads -----------------------------------------------------------

  /** Reads of the landed table after loading stopped, alternately a PK
    * point lookup and a full-table aggregate through `TableStore.load`.
    * The first `QuiescentWarmReads` warm the read path and are not
    * reported; a read that throws counts as failed. */
  private def quiescentReads(store: TableStore, ids: IndexedSeq[Int]): Unit = {
    val rnd = new java.util.SplittableRandom(a.seed + 1)
    val rs = (0 until QuiescentWarmReads + QuiescentReads).map { n =>
      val id = ids(rnd.nextInt(ids.size)).toString
      val t0 = System.nanoTime()
      val ok =
        try {
          if (n % 2 == 0) {
            val rows = store.load(db, table).filter(col("id") === id).collect()
            rows.length <= 1 && rows.forall(_.getAs[String]("id") == id)
          } else {
            store.load(db, table)
              .agg(count(lit(1)), max(col("created_at")), sum(col("favourite_quote_length")))
              .head().getLong(0) > 0
          }
        } catch { case e: Exception => res.notes += s"read failed: $e"; false }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    res.notes += rs.map(r => f"${r._1}%.3f").mkString("read walls: ", " ", "")
    val secs = rs.drop(QuiescentWarmReads).map(_._1)
    res.put("read_p50_s", Stats.median(secs), "s")
    res.put("read_p90_s", Stats.quantile(secs, 0.9), "s")
    res.account(rs.size, rs.count(!_._2), "reads")
    res.notes += s"${secs.size} reads reported"
    if (a.trace) res.put("warehouse.read_s", Stats.mean(secs), "s")
  }

  // ---- accounting shared by the workloads --------------------------------

  private def putFreshness(fresh: Seq[Double]): Unit = {
    res.put("fresh_p50_s", Stats.median(fresh), "s")
    res.put("fresh_p99_s", Stats.quantile(fresh, 0.99), "s")
    res.notes += s"${fresh.size} freshness samples"
  }

  /** When each message became visible: the return of the processBatch
    * call whose batch consumed it; -1 where no batch could be resolved. */
  private def visibility(ev: Events, recs: Seq[BatchRec]): Array[Long] = {
    val vis = Array.fill(ev.size)(-1L)
    var next = 0
    recs.foreach { r =>
      while (next <= r.lastIdx) { vis(next) = r.endNs; next += 1 }
    }
    vis
  }

  private def putStreamingLayer(recs: Seq[BatchRec], c: CdcStream.TopicConfig,
      firstIdx: BatchRec => Int, late: Seq[Double]): Unit = if (a.trace) {
    val tag = s"${c.targetSchema}.${c.targetTable}"
    val n = recs.size.max(1)
    val timed = recs.filter(_.triggerMs >= 0)
    res.put("streaming.trigger_p50_s", Stats.median(timed.map(_.triggerMs / 1000.0)), "s")
    res.put("streaming.harness_s",
      Stats.mean(timed.map(r => r.triggerMs / 1000.0 - r.seconds)), "s")
    res.put("streaming.jobs_per_trigger",
      recs.map(r => jobCounter.jobsOf(r.tag)).sum.toDouble / n, "count")
    res.put("streaming.tasks_per_trigger",
      recs.map(r => jobCounter.tasksOf(r.tag).size).sum.toDouble / n, "count")
    res.put("streaming.triggers", recs.size, "count")
    res.put("streaming.backlog_max_events",
      recs.map(r => r.pushedAtEnd - r.lastIdx - 1).max.max(0).toDouble, "count")
    res.put("streaming.events_per_trigger_p50",
      Stats.median(recs.map(r => (r.lastIdx - firstIdx(r) + 1).toDouble)), "count")
    val jobs = recs.flatMap(_.jobs)
    res.put("streaming.skipmerge_ratio",
      if (jobs.isEmpty) 0.0 else jobs.count(_.skipMerge).toDouble / jobs.size, "ratio")
    res.put("gen.late_p99_s", if (late.isEmpty) 0.0 else Stats.quantile(late, 0.99), "s")
    def loader(m: String) = Metrics.get(tag, m).map(_.sum).getOrElse(0.0) / n
    res.put("streaming.loader_s", loader("loader_seconds"), "s")
    res.put("streaming.copystage_s", loader("loader_copystage_seconds"), "s")
    res.put("streaming.copytarget_s", loader("loader_copytarget_seconds"), "s")
    res.put("schema.fetch_calls", fetcher.calls.get.toDouble / n, "count")
  }

  // ---- traced replay -----------------------------------------------------

  /** Replay `ranges` (message ranges of `ev`) into `store` layer by layer
    * under the tracer, with the program timing its own merge phases
    * (`Metrics.enablePhaseBreakdown`). Returns the traced seconds. */
  private def tracedReplay(store: TableStore, ev: Events, ranges: Seq[(Int, Int)],
      c: CdcStream.TopicConfig): Double = {
    val tracer = new Tracer(spark)
    val pipe = new TracedPipeline(spark, tracer, fetcher, store, c)
    jobCounter.clear()
    Metrics.enablePhaseBreakdown(true)
    try ranges.zipWithIndex.foreach { case ((f, u), i) =>
      tracer.inTrigger(i)(pipe(frames(ev, f, u)))
    } finally Metrics.enablePhaseBreakdown(false)
    val n = ranges.size.max(1)
    val self = tracer.selfByName
    def per(name: String) = self.getOrElse(name, 0.0) / n
    Seq("schema.parse", "sources.decode", "cdc.transform", "mask.apply",
      "merge.dedupe", "merge.deletecommon", "merge.insert", "warehouse.clamp",
      "warehouse.write").foreach(s => res.put(s + "_s", per(s), "s"))
    val stagedBytes = ranges.map { case (f, u) => ev.bytes(f, u) }.sum
    res.put("sources.events", ranges.map { case (f, u) => u - f }.sum.toDouble / n, "count")
    res.put("sources.bytes", stagedBytes.toDouble / n, "bytes")
    res.put("sources.framed_ratio", Stats.mean(pipe.framedRatio.toSeq), "ratio")
    res.put("merge.keep_ratio", keepRatio(ev, ranges), "ratio")
    // the merge runs inside the write call, so its shuffles are the write's
    val writes = jobCounter.tasks.asScala.toSeq.filter(_.span == "warehouse.write")
    res.put("merge.shuffle_mb", writes.map(_.shuffleRead).sum / 1048576.0 / n, "MB")
    val skews = writes.filter(_.shuffleRead > 0).groupBy(t => (t.trigger, t.stage))
      .values.filter(_.size > 1).map { ts =>
        val r = ts.map(_.shuffleRead.toDouble)
        r.max / math.max(Stats.median(r), 1.0)
      }.toSeq
    res.put("merge.task_skew", if (skews.isEmpty) 1.0 else Stats.median(skews), "ratio")
    res.put("warehouse.write_amp",
      writes.map(_.bytesWritten).sum.toDouble / stagedBytes.max(1L), "ratio")
    res.put("warehouse.files_written", writes.count(_.recordsWritten > 0).toDouble / n, "count")
    Files.createDirectories(Paths.get(a.work, "..", "trace"))
    val out = Paths.get(a.work, "..", "trace", s"${a.workload}-${a.seed}.spans.jsonl")
    tracer.write(out.toString)
    val tracedS = tracer.spans.filter(_.name == "trigger").map(_.seconds).sum
    System.err.println(s"perfbench: spans written to ${out.normalize()}")
    System.err.println("perfbench: self seconds per trigger by span")
    self.toSeq.sortBy(-_._2).foreach { case (k, v) =>
      System.err.println(f"  $k%-24s ${v / n}%10.4f")
    }
    tracedS
  }

  /** Rows dedupe keeps ÷ rows it is given, from the generated events:
    * distinct keys over create/update/delete messages, per trigger and
    * schema version (processBatch merges each schema id's group apart). */
  private def keepRatio(ev: Events, ranges: Seq[(Int, Int)]): Double = {
    val groups = ranges.flatMap { case (f, u) =>
      (f until u).filter(ev.isData).groupBy(i => ev.versions(i)).values
    }
    groups.map(_.map(i => ev.ids(i)).distinct.size).sum.toDouble /
      groups.map(_.size).sum.max(1)
  }

  /** Landed tables of the timed and the traced path must be equal. */
  private def sameTable(x: DataFrame, y: DataFrame): Boolean = {
    val cols = x.columns.sorted
    cols.sameElements(y.columns.sorted) && {
      val xs = x.select(cols.toIndexedSeq.map(col): _*)
      val ys = y.select(cols.toIndexedSeq.map(col): _*)
      xs.exceptAll(ys).isEmpty && ys.exceptAll(xs).isEmpty
    }
  }

  private def traceCompare(x: DataFrame, y: DataFrame, untracedS: Double,
      tracedS: Double): Unit = {
    res.account(1, if (sameTable(x, y)) 0 else 1, "traced-vs-untraced table comparisons")
    res.put("streaming.trace_overhead_s", tracedS - untracedS, "s")
  }

  // ---- tail_steady -------------------------------------------------------

  /** A fresh query over `stream` with its generator at `TailRate`, from
    * message 0, into `store`. */
  private def openLoop(store: TableStore, stream: Events,
      c: CdcStream.TopicConfig): (StreamRun, OpenLoop) = {
    val run = new StreamRun(spark, stream, dir("checkpoint"), Partitions, triggers,
      df => CdcStream.processBatch(df, fetcher, store, c))
    (run, new OpenLoop(run, 0, TailRate, System.nanoTime() + 20000000L))
  }

  /** Open loop at a fixed rate into a seeded ParquetCatalog target. */
  def tailSteady(): Unit = {
    val c = cfg(CurrentMask)
    mark("session start")
    val src = new Gen.Source(a.seed, Gen.Uniform)
    val snapshot = src.events(TailSeedRows, onlyCreates = true, corruptPerMille = 0)
    val windowN = (a.seconds * TailRate).toInt
    val stream = src.events((math.max(WarmHorizonS, a.seconds) * TailRate).toInt)
    mark("generation")
    val root = dir("warehouse")
    val store = new ParquetCatalog(spark, root)
    CdcStream.processBatch(frames(snapshot, 0, snapshot.size), fetcher, store, c)
    val copyOf = () => { val r = dir("copy"); copyDir(root, r); new ParquetCatalog(spark, r) }
    val replay = if (a.trace) copyOf() else null
    mark("seeding")

    // warm-up on the workload's own path, into a copy of the seeded target
    // that is then dropped: the measured table must not depend on how long
    // the warm-up took. The generator stops once all but the last warm-up
    // trigger completed, so that stopping the query drains only that one.
    val (warm, warmGen) = openLoop(copyOf(), stream, c)
    warmGen.stopIdx = stream.size
    warmGen.start()
    while (warm.completed.size < WarmTriggers - 1) {
      if (warm.pushedUntil >= stream.size) {
        warmGen.halt()
        warm.stop()
        throw new IllegalStateException(
          s"warm-up took more than $WarmHorizonS s: ${warm.completed.size} triggers done")
      }
      Thread.sleep(20)
    }
    warmGen.halt()
    val warmRecs = warm.stop()
    val (run, gen) = openLoop(store, stream, c)
    gen.stopIdx = windowN
    res.put("setup_s", setupDone(), "s")
    mark(s"warm-up (${warmRecs.size} triggers: " +
      warmRecs.map(d => f"${d.seconds}%.2f").mkString(" ") + ")")
    Metrics.reset()
    fetcher.calls.set(0)
    gen.start()
    gen.join()
    val recs = run.stop()
    mark("window and drain")
    val prev = recs.map(_.lastIdx).scanLeft(-1)((_, b) => b)
    val firstOf = recs.zip(prev).map { case (r, p) => r.batchId -> (p + 1) }.toMap

    val vis = visibility(stream, recs)
    val fresh = (0 until windowN).filter(stream.isData).map(i => (vis(i) - gen.due(i)) / 1e9)
    val unresolved = (0 until windowN).count(vis(_) < 0)
    res.account(recs.size, recs.count(_.failed) + (if (unresolved > 0) 1 else 0), "triggers")
    run.errors.asScala.foreach(e => res.notes += e)
    putFreshness(fresh)
    res.put("catchup_events_per_s", windowN / recs.map(_.seconds).sum, "1/s")
    res.notes += s"${recs.size} triggers, $windowN messages in them: " +
      recs.map(r => f"${r.lastIdx + 1 - firstOf(r.batchId)}/${r.seconds}%.2fs").mkString(" ")
    quiescentReads(store, (1 to TailSeedRows).toIndexedSeq)
    mark("reads")
    res.put("warehouse_mb", dirBytes(s"$root/$db/$table") / 1048576.0, "MB")
    putStreamingLayer(recs, c, r => firstOf(r.batchId),
      gen.late.asScala.map(_.doubleValue).toSeq)

    val expected = Model.lastWriterWins(Seq(snapshot -> snapshot.size, stream -> windowN))
    val chk = Model.check(store.load(db, table), expected, CurrentMask, table, Salt,
      v2Columns = false)
    res.account(chk.rowsChecked, chk.mismatches, "checked rows")
    res.notes ++= chk.notes
    mark("output check")

    if (a.trace) {
      val ranges = recs.map(r => (firstOf(r.batchId), r.lastIdx + 1))
      val tracedS = tracedReplay(replay, stream, ranges, c)
      traceCompare(store.load(db, table), replay.load(db, table),
        recs.map(_.seconds).sum, tracedS)
    }
  }

  // ---- catchup_reload ----------------------------------------------------

  /** Closed-loop replay of `backlog` in fixed triggers into the reload
    * table, then release. Returns (batch records, seconds from the
    * first trigger until release returned, first trigger's start). */
  private def reload(store: ParquetCatalog, backlog: Events, c: CdcStream.TopicConfig,
      chunk: Int): (Seq[BatchRec], Double, Long) = {
    val rc = MaskReload.reloadConfig(c, ReloadMask, "v2")
    val run = new StreamRun(spark, backlog, dir("checkpoint"), Partitions, triggers,
      df => CdcStream.processBatch(df, fetcher, store, rc))
    val t0 = System.nanoTime()
    (0 until backlog.size by chunk).foreach { f =>
      run.push(f, math.min(f + chunk, backlog.size))
      run.drain()
    }
    MaskReload.release(store, db, table, "v2")
    val t1 = System.nanoTime()
    (run.stop(), (t1 - t0) / 1e9, t0)
  }

  /** Build the released base table under the current rules from a
    * warm-up backlog of `WarmChunks` triggers; returns their walls. */
  private def warmBase(store: ParquetCatalog, c: CdcStream.TopicConfig,
      chunk: Int): Seq[Double] = {
    val warm = new Gen.Source(a.seed * 7919 + 13, Gen.Zipf(CatchupUniverse, ZipfS))
      .events(chunk * WarmChunks, v2From = chunk)
    val run = new StreamRun(spark, warm, dir("checkpoint"), Partitions, triggers,
      df => CdcStream.processBatch(df, fetcher, store, c))
    val walls = (0 until WarmChunks).map { k =>
      val t = System.nanoTime()
      run.push(k * chunk, (k + 1) * chunk)
      run.drain()
      (System.nanoTime() - t) / 1e9
    }
    run.stop()
    walls
  }

  private def catchupBacklog(seed: Long, n: Int): Events =
    new Gen.Source(seed, Gen.Zipf(CatchupUniverse, ZipfS)).events(n, v2From = n / 2)

  /** Mask-reload rebuild: replay a zipf backlog (v1 → v2 halfway) into
    * `customers_reload_v2` under the changed rules, then release it.
    * The same backlog is rebuilt and released `Replays` times; each
    * metric is the median over the replays. */
  def catchupReload(): Unit = {
    mark("session start")
    val chunks = math.max(2, math.round(a.seconds.toDouble * CatchupRate / CatchupChunk).toInt)
    val backlog = catchupBacklog(a.seed, chunks * CatchupChunk)
    val c = cfg(CurrentMask)
    mark("generation")
    val root = dir("warehouse")
    val store = new ParquetCatalog(spark, root)
    val walls = warmBase(store, c, CatchupChunk / 3)
    mark(walls.map(w => f"$w%.2f").mkString(s"warm-up (${walls.size} triggers: ", " ", ")"))
    val replayRoot = if (a.trace) { val r = dir("replay"); copyDir(root, r); r } else null
    res.put("setup_s", setupDone(), "s")
    Metrics.reset()
    fetcher.calls.set(0)

    val replays = (1 to Replays).map { _ =>
      val (recs, secs, t0) = reload(store, backlog, c, CatchupChunk)
      val vis = visibility(backlog, recs)
      val fresh = (0 until backlog.size).filter(backlog.isData).map(i => (vis(i) - t0) / 1e9)
      val unresolved = vis.count(_ < 0)
      res.account(recs.size, recs.count(_.failed) + (if (unresolved > 0) 1 else 0), "triggers")
      val leftover = store.exists(db, table + MaskReload.reloadSuffix("v2"))
      res.account(1, if (leftover) 1 else 0, "releases")
      (recs, secs, fresh)
    }
    mark("replays")
    res.put("fresh_p50_s", Stats.median(replays.map(r => Stats.median(r._3))), "s")
    res.put("fresh_p99_s", Stats.median(replays.map(r => Stats.quantile(r._3, 0.99))), "s")
    res.put("catchup_events_per_s", Stats.median(replays.map(backlog.size / _._2)), "1/s")
    res.notes += s"${replays.head._3.size} freshness samples per replay"
    res.notes += s"$Replays replays of ${replays.head._1.size} triggers of $CatchupChunk " +
      "messages: " + replays.map(r => f"${r._2}%.2fs").mkString(" ")
    val expected = Model.lastWriterWins(Seq(backlog -> backlog.size))
    quiescentReads(store, expected.keys.toIndexedSeq.sorted)
    mark("reads")
    res.put("warehouse_mb", dirBytes(store.tablePath(db, table)) / 1048576.0, "MB")
    val allRecs = replays.flatMap(_._1)
    putStreamingLayer(allRecs, MaskReload.reloadConfig(c, ReloadMask, "v2"),
      r => (r.lastIdx / CatchupChunk) * CatchupChunk, Nil)

    val chk = Model.check(store.load(db, table), expected, ReloadMask, table, Salt,
      v2Columns = true)
    res.account(chk.rowsChecked, chk.mismatches, "checked rows")
    res.notes ++= chk.notes
    mark("output check")

    if (a.trace) {
      val replay = new ParquetCatalog(spark, replayRoot)
      val rc = MaskReload.reloadConfig(c, ReloadMask, "v2")
      val ranges = (0 until backlog.size by CatchupChunk)
        .map(f => (f, math.min(f + CatchupChunk, backlog.size)))
      val tracedS = tracedReplay(replay, backlog, ranges, rc)
      MaskReload.release(replay, db, table, "v2")
      val untracedS = Stats.median(replays.map(_._1.map(_.seconds).sum))
      traceCompare(store.load(db, table), replay.load(db, table), untracedS, tracedS)
    }
  }

  /** The catch-up shape at a fixed small size (two triggers after one
    * warm trigger), for the single-core scaling baseline. */
  def catchupBaseline(): Double = {
    val store = new ParquetCatalog(spark, dir("baseline"))
    val c = cfg(CurrentMask)
    val warm = catchupBacklog(a.seed + 101, CatchupChunk)
    CdcStream.processBatch(frames(warm, 0, warm.size), fetcher, store,
      MaskReload.reloadConfig(c, ReloadMask, "v2"))
    store.drop(db, table + MaskReload.reloadSuffix("v2"))
    val backlog = catchupBacklog(a.seed + 202, 2 * CatchupChunk)
    val (_, secs, _) = reload(store, backlog, c, CatchupChunk)
    res.notes += s"single-core baseline on ${spark.sparkContext.master}: " +
      f"${backlog.size} messages in $secs%.2f s"
    backlog.size / secs
  }
}
