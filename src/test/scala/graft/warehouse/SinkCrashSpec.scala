package graft.warehouse

import graft.SparkSpec
import graft.streaming.{Batcher, Loader, MaskReload}
import graft.streaming.SinkFixture._
import java.io.{File, IOException, OutputStream}
import java.net.URI
import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.lit
import perfbench.{Events, Gen}

/** The local file system under the `crashfs` scheme, throwing once at
  * one armed step: a create, a rename (matched on its source) or a delete
  * of a path the armed predicate accepts. Tasks run in the driver's JVM,
  * so an armed step fires in a task as well as on the driver. */
class CrashFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${CrashFs.Scheme}:///")
  override def getScheme: String = CrashFs.Scheme
  override protected def createOutputStream(f: HPath, append: Boolean): OutputStream = {
    CrashFs.step("create", f); super.createOutputStream(f, append)
  }
  override protected def createOutputStreamWithMode(f: HPath, append: Boolean,
      permission: FsPermission): OutputStream = {
    CrashFs.step("create", f); super.createOutputStreamWithMode(f, append, permission)
  }
  override def rename(src: HPath, dst: HPath): Boolean = {
    CrashFs.step("rename", src); super.rename(src, dst)
  }
  override def delete(p: HPath, recursive: Boolean): Boolean = {
    CrashFs.step("delete", p); super.delete(p, recursive)
  }
}

object CrashFs {
  val Scheme = "crashfs"
  private var armed: Option[(String, String => Boolean)] = None

  /** Throw at the next `op` ("create", "rename" or "delete") of a local
    * path `at` accepts, once. */
  def arm(op: String)(at: String => Boolean): Unit = synchronized { armed = Some((op, at)) }
  def disarm(): Unit = synchronized { armed = None }
  def fired: Boolean = synchronized { armed.isEmpty }

  private def step(op: String, p: HPath): Unit = synchronized {
    armed match {
      case Some((o, at)) if o == op && at(p.toUri.getPath) =>
        armed = None
        throw new IOException(s"injected crash at $op $p")
      case _ =>
    }
  }
}

/** The sink's crash cells beyond [[ParquetCatalogCrashMatrixSpec]]'s
  * rename windows: each cell throws once at one named file-system step of
  * a load, a compaction, a migration or a release. After the throw a new
  * catalog's `load` must read exactly the pre-op or the post-op table (or
  * no table, where the op creates it), and the sink's recovery — a replay
  * of the batch, or a rerun of the op — followed by the rest of the
  * history must land [[perfbench.Model]]'s table with no shadow, trash
  * or temporary directory left. One generator seed, fixed. */
class SinkCrashSpec extends SparkSpec {

  spark.sparkContext.hadoopConfiguration.set(s"fs.${CrashFs.Scheme}.impl",
    classOf[CrashFs].getName)

  private val Seed = 1013L
  private val T = s"$Schema/$Table"

  /** A crash cell's directories: the store's root and the batcher's
    * output root, both on the crash scheme; `local` maps a relative path
    * to the local one the armed predicates see. */
  private final class Env {
    val dir: String = tmp("sink-crash")
    val root = s"${CrashFs.Scheme}://$dir/warehouse"
    val out = s"${CrashFs.Scheme}://$dir/ndjson"
    def local(rel: String): String = s"$dir/warehouse/$rel"
    def under(rel: String): String => Boolean = _.startsWith(local(rel) + "/")
    def is(rel: String): String => Boolean = _ == local(rel)
  }

  /** The op must throw at the armed step, and nowhere else. */
  private def crash(op: String, at: String => Boolean)(run: => Unit): Unit = {
    CrashFs.arm(op)(at)
    try {
      val e = intercept[Exception](run)
      assert(CrashFs.fired, s"the op threw before its armed step: $e")
    } finally CrashFs.disarm()
  }

  /** The table as a new catalog reads it; None when there is none. */
  private def landed(cat: TableStore): Option[DataFrame] =
    try Some(cat.load(Schema, Table))
    catch { case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" => None }

  /** Whether `df` is exactly the model of `batches` (None: no table). */
  private def isModel(df: Option[DataFrame], batches: Option[Seq[Events]],
      mask: graft.mask.MaskConfig = Mask, v2: Boolean = false): Boolean =
    (df, batches) match {
      case (None, None) => true
      case (Some(d), Some(bs)) => check(d, bs, mask, v2).mismatches == 0
      case _ => false
    }

  private def assertPreOrPost(cat: TableStore, pre: Option[Seq[Events]],
      post: Option[Seq[Events]]): Unit = {
    val df = landed(cat)
    assert(isModel(df, pre) || isModel(df, post),
      s"load must read the whole pre-op or post-op table; got ${df.map(_.count())} rows")
  }

  private def assertFinal(cat: TableStore, batches: Seq[Events], env: Env,
      mask: graft.mask.MaskConfig = Mask, v2: Boolean = false): Unit = {
    val chk = check(cat.load(Schema, Table), batches, mask, v2)
    assert(chk.mismatches == 0, chk.notes)
    val left = leftovers(new File(env.dir))
    assert(left.isEmpty, s"left behind: $left")
  }

  /** Shadows, trash and unpublished temporary directories. */
  private def leftovers(f: File): Seq[String] =
    Option(f.listFiles).toSeq.flatten.flatMap { c =>
      (if (c.getName.contains("__") || c.getName.startsWith(".tmp_")) Seq(c.getPath)
       else Nil) ++ leftovers(c)
    }

  private def frames(ev: Events) = graft.streaming.SinkFixture.frames(spark, ev)

  /** Load `batches` in order through `via` into `store` (a new catalog
    * per step, as after a restart), the load of batch `k` crashing at
    * `op` of a path `at` accepts; then check the pre/post table, replay
    * batch `k`, load the rest and check the model. */
  private def batchCell(store: Store, via: Path, env: Env, batches: Seq[Events],
      k: Int, op: String)(at: String => Boolean): Unit = {
    def cat() = store.make(spark, env.root)
    batches.take(k).zipWithIndex.foreach { case (b, i) =>
      via.load(spark, frames(b), i, cat(), cfg()) }
    crash(op, at)(via.load(spark, frames(batches(k)), k, cat(), cfg()))
    assertPreOrPost(cat(), Option.when(k > 0)(batches.take(k)), Some(batches.take(k + 1)))
    batches.zipWithIndex.drop(k).foreach { case (b, i) =>
      via.load(spark, frames(b), i, cat(), cfg()) }
    assertFinal(cat(), batches, env)
  }

  private def mixed(n: Int): Seq[Events] = {
    val src = new Gen.Source(Seed, Gen.Uniform)
    Seq.fill(n)(src.events(200))
  }

  // ---- ParquetCatalog ----------------------------------------------------

  test("ParquetCatalog: crash mid-write of the first batch's save") {
    val env = new Env
    batchCell(Parquet, Direct, env, mixed(2), 0, "create")(_.startsWith(env.local(T)))
  }

  test("ParquetCatalog: crash mid-write of the merge shadow") {
    val env = new Env
    batchCell(Parquet, Direct, env, mixed(3), 1, "create")(env.under(s"${T}__merging"))
  }

  test("ParquetCatalog: crash mid-write of an R5 append, then the replay") {
    val env = new Env
    val src = new Gen.Source(Seed, Gen.Uniform)
    val batches = Seq(src.events(200), src.events(150, onlyCreates = true), src.events(200))
    batchCell(Parquet, Direct, env, batches, 1, "create")(env.under(T))
  }

  test("ParquetCatalog: crash mid-write of the migrate shadow, then the rerun") {
    val env = new Env
    val batches = mixed(3)
    def cat() = new ParquetCatalog(spark, env.root)
    batches.take(2).zipWithIndex.foreach { case (b, i) =>
      Direct.load(spark, frames(b), i, cat(), cfg()) }
    val addTier: DataFrame => DataFrame =
      _.withColumn("loyalty_tier", lit(null).cast("string"))
    crash("create", env.under(s"${T}__migrating"))(cat().migrate(Schema, Table)(addTier))
    val df = landed(cat())
    assert(isModel(df, Some(batches.take(2))) ||
      isModel(df, Some(batches.take(2)), v2 = true))
    if (!cat().load(Schema, Table).columns.contains("loyalty_tier"))
      cat().migrate(Schema, Table)(addTier)
    Direct.load(spark, frames(batches(2)), 2, cat(), cfg())
    assertFinal(cat(), batches, env, v2 = true)
  }

  test("ParquetCatalog: release with the live table stranded at __old, " +
      "crash at the rename-in") {
    val env = new Env
    val batches = mixed(2)
    def cat() = new ParquetCatalog(spark, env.root)
    val rc = MaskReload.reloadConfig(cfg(), ReloadMask, "v2")
    batches.zipWithIndex.foreach { case (b, i) =>
      Direct.load(spark, frames(b), i, cat(), cfg())
      Direct.load(spark, frames(b), i, cat(), rc)
    }
    // a merge into the live table crashed between its two renames
    val fs = new HPath(env.root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new HPath(s"${env.root}/$T"), new HPath(s"${env.root}/${T}__old")))
    crash("rename", env.is(s"$T${MaskReload.reloadSuffix("v2")}"))(
      MaskReload.release(cat(), Schema, Table, "v2"))
    val df = landed(cat())
    assert(isModel(df, Some(batches)) || isModel(df, Some(batches), ReloadMask),
      s"load must read the live or the released table; got ${df.map(_.count())} rows")
    MaskReload.release(cat(), Schema, Table, "v2")
    assert(!cat().exists(Schema, rc.targetTable))
    assertFinal(cat(), batches, env, ReloadMask)
  }

  // ---- MergeOnReadCatalog ------------------------------------------------

  test("MergeOnReadCatalog: crash mid-write of the first base") {
    val env = new Env
    batchCell(Mor, Direct, env, mixed(2), 0, "create")(_.startsWith(env.local(s"$T/base")))
  }

  test("MergeOnReadCatalog: crash mid-write of a delta") {
    val env = new Env
    batchCell(Mor, Direct, env, mixed(2), 1, "create")(env.under(s"$T/.tmp_delta"))
  }

  for ((step, op, at) <- Seq[(String, String, Env => String => Boolean)](
      ("writing the compaction shadow", "create", e => e.under(s"$T/base__compacting")),
      ("renaming the base aside", "rename", e => e.is(s"$T/base")),
      ("renaming the shadow in", "rename", e => e.is(s"$T/base__compacting")),
      ("deleting base__old", "delete", e => e.is(s"$T/base__old")),
      ("deleting a consumed delta", "delete", e => e.is(s"$T/delta_000000001"))))
    test(s"MergeOnReadCatalog: crash $step, then the replay") {
      val env = new Env
      batchCell(Mor, Direct, env, mixed(3), 2, op)(at(env))
    }

  // ---- Batcher / Loader --------------------------------------------------

  test("Batcher: crash mid-write of the NDJSON objects, then the replay") {
    val env = new Env
    batchCell(Parquet, Staged(env.out), env, mixed(3), 1, "create")(
      _.startsWith(s"${env.dir}/ndjson/"))
  }

  for ((what, batch) <- Seq[(String, Gen.Source => Events)](
      ("merge", _.events(200)), ("R5 append", _.events(150, onlyCreates = true))))
    test(s"Loader: crash of the loader's $what, then the same Job loaded again") {
      val env = new Env
      val src = new Gen.Source(Seed, Gen.Uniform)
      val batches = Seq(src.events(200), batch(src), src.events(200))
      def cat() = new ParquetCatalog(spark, env.root)
      val via = Staged(env.out)
      via.load(spark, frames(batches(0)), 0, cat(), cfg())
      val jobs = Batcher.processBatch(frames(batches(1)), 1, fetcher, cfg(), env.out)
      assert(jobs.size == 1)
      val shadow = if (what == "merge") s"${T}__merging" else T
      crash("create", env.under(shadow))(
        Loader.load(spark, jobs.head, cat(), cfg(), Seq("id")))
      assertPreOrPost(cat(), Some(batches.take(1)), Some(batches.take(2)))
      Loader.load(spark, jobs.head, cat(), cfg(), Seq("id"))
      via.load(spark, frames(batches(2)), 2, cat(), cfg())
      assertFinal(cat(), batches, env)
    }
}
