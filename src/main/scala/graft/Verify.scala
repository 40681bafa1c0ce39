package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // set SPARK_GRAFT_CODEGEN_FALLBACK=false to turn silent
      // interpreted-mode fallbacks into hard failures for a whole-
      // catalog codegen sweep
      .config("spark.sql.codegen.fallback",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_FALLBACK", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated allowlist for fast local iteration on a
    // few queries; the driver never sets it (full dump)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    // Per-query watchdog: one hanging query must not stall the whole dump
    // into the driver's timeout (the failure class that can zero a
    // round's correctness artifact). Each query runs under a job group;
    // on timeout the group is cancelled and the dump moves on — the
    // query scores as failed, the other 89 still score.
    val timeoutS =
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_TIMEOUT_S", "600").toLong
    selected.foreach { case (name, fn) =>
      // one fresh DAEMON thread per query, not a shared pool: a stuck
      // query then leaks its own thread (which cannot block JVM exit)
      // instead of exhausting an executor and falsely timing out every
      // later query
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val t = new Thread(() => {
        spark.sparkContext.setJobGroup(s"verify-$name",
          s"verify dump $name", interruptOnCancel = true)
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable => err.set(e) }
        finally {
          spark.sparkContext.clearJobGroup()
          // deferred checkpoint unpersists are ThreadLocal — drain on
          // the thread that deferred them, not the watchdog's
          graft.core.Metrics.drainUnpersist()
        }
      }, s"verify-$name")
      t.setDaemon(true)
      t.start()
      t.join(timeoutS * 1000L)
      if (t.isAlive) {
        // cancel running jobs AND interrupt the driver-side thread (it
        // may be stuck between jobs, where cancelJobGroup reaches
        // nothing), then give it a grace period so the rm below doesn't
        // race a still-running writer
        spark.sparkContext.cancelJobGroup(s"verify-$name")
        t.interrupt()
        t.join(10000L)
        err.compareAndSet(null,
          new RuntimeException(s"timed out after $timeoutS s" +
            (if (t.isAlive) " (worker still running, leaked as daemon)"
             else "")))
      }
      Option(err.get()).foreach { e =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a cancelled/failed write can leave PARTIAL parquet behind;
        // delete it so the comparator reports the query missing instead
        // of comparing garbage rows
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(s"$outDir/$name"))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // Second sweep of every failed query's dump dir, AFTER spark.stop():
    // a timed-out worker that outlived its 10 s grace join can have
    // re-created partial output after the first rm — with the session
    // stopped no writer can still be running, so this sweep is final and
    // the comparator can never see a leaked writer's garbage rows.
    failed.foreach { name =>
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(s"$outDir/$name"))
    }
    // Self-check + greppable sentinel (round 6's official correctness
    // artifact came back empty despite a healthy dump, so the dump now
    // proves its own completeness): every selected query must have a
    // non-empty parquet dir on disk and oracle_sql.json must have
    // round-tripped. Prints exactly one VERIFY_* line to stdout.
    def hasParquet(name: String): Boolean = {
      val d = new java.io.File(s"$outDir/$name")
      d.isDirectory && d.listFiles != null &&
        d.listFiles.exists(_.getName.endsWith(".parquet"))
    }
    val missing = selected.keys.filterNot(hasParquet).toSeq.sorted
    val written = Files.readString(Paths.get(s"$outDir/oracle_sql.json"))
    val jsonOk = written == json && written.startsWith("{") &&
      written.endsWith("}") && SparkEntry.oracleSql.nonEmpty
    if (missing.isEmpty && failed.isEmpty && jsonOk)
      println(s"VERIFY_OK n=${selected.size} oracles=${SparkEntry.oracleSql.size}")
    else {
      // deliberately still rc 0: a partial dump should score partially,
      // not zero the round
      println(s"VERIFY_PARTIAL ok=${selected.size - missing.size}" +
        s" missing=${missing.mkString(",")} failed=${failed.mkString(",")}" +
        s" jsonOk=$jsonOk")
    }
  }
}
