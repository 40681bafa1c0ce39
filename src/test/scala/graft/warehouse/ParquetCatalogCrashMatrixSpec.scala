package graft.warehouse

import java.nio.file.Files

import graft.SparkSpec
import graft.core.Cdc
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The crash matrix for the sink's table store: a [[ParquetCatalog]]
  * merge, migrate (D5) or release (D7) interrupted BEFORE the first
  * rename (shadow written, table intact), BETWEEN the two renames (table
  * stranded aside) or AFTER the second rename (trash not yet cleaned).
  * In every cell `load` reads one whole table, the pre-op one or the
  * post-op one, and the recovery the sink runs (re-run the op if it had
  * not taken effect, then merge the next batch) lands exactly the
  * no-crash table with no `__old` or shadow directory left. Release has
  * no BEFORE cell: its shadow is the reload table, there before the op.
  * A merge crashed between the renames is "crash recovery: swap window
  * restores table from __old" in [[ParquetCatalogSpec]]. */
class ParquetCatalogCrashMatrixSpec extends SparkSpec {
  import spark.implicits._

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)
  private def conf = spark.sparkContext.hadoopConfiguration

  private def copyDir(src: String, dst: String): Unit = {
    FileUtil.copy(fs, new Path(src), fs, new Path(dst), false, conf)
    ()
  }
  private def mv(src: String, dst: String): Unit =
    assert(fs.rename(new Path(src), new Path(dst)), s"rename $src failed")

  private def stage(rows: (String, String, Int, String)*): DataFrame =
    rows.toDF(Cdc.OffsetColumn, Cdc.OperationColumn, "pk", "v")

  private val batch = stage(("10", Cdc.OpUpdate, 1, "a2"),
    ("11", Cdc.OpDelete, 2, "b"), ("12", Cdc.OpCreate, 4, "d"))
  private val next = stage(("13", Cdc.OpUpdate, 3, "c2"),
    ("14", Cdc.OpCreate, 5, "e"))

  /** One operation: the directory it swaps in, its crash cells, and
    * whether the sink re-runs it on recovery (a merge's batch is
    * replayed at least once, whether or not its swap finished). */
  private case class Op(name: String, shadow: String, crashes: Seq[String],
      run: ParquetCatalog => Unit, rerun: ParquetCatalog => Boolean)

  private val ops = Seq(
    Op("merge", "t__merging", Seq("before", "after"),
      _.merge("s", "t", batch, Seq("pk")), _ => true),
    Op("migrate", "t__migrating", Seq("before", "between", "after"),
      _.migrate("s", "t")(_.withColumn("v2", upper(col("v")))),
      !_.load("s", "t").columns.contains("v2")),
    Op("release", "t_reload_2", Seq("between", "after"),
      _.release("s", "t", "_reload_2"),
      cat => Seq("", "__old").exists(o =>
        fs.exists(new Path(cat.tablePath("s", "t_reload_2" + o))))))

  private def setup(cat: ParquetCatalog): Unit = {
    cat.save("s", "t", Seq((1, "a"), (2, "b"), (3, "c")).toDF("pk", "v"))
    cat.save("s", "t_reload_2", Seq((1, "A"), (3, "C")).toDF("pk", "v"))
  }

  private def dump(df: DataFrame): (Seq[String], Set[Row]) =
    (df.columns.toSeq, df.collect().toSet)

  for (op <- ops; crash <- op.crashes)
    test(s"${op.name}: crash $crash the swap renames — load reads one " +
        "whole table, recovery lands the no-crash table") {
      val root = Files.createTempDirectory(s"cat_crash_${op.name}_$crash").toString
      setup(new ParquetCatalog(spark, root))
      // the no-crash run: pre-op, post-op and final tables; the crashed
      // run's shadow holds the post-op table (release's shadow is its
      // source, already in place)
      val ref = Files.createTempDirectory(s"cat_ref_${op.name}").toString
      val refCat = new ParquetCatalog(spark, ref)
      setup(refCat)
      val pre = dump(refCat.load("s", "t"))
      op.run(refCat)
      val post = dump(refCat.load("s", "t"))
      val (t, shadow) = (s"$root/s/t", s"$root/s/${op.shadow}")
      if (!fs.exists(new Path(shadow))) copyDir(s"$ref/s/t", shadow)
      refCat.merge("s", "t", next, Seq("pk"))
      val expected = dump(refCat.load("s", "t"))

      crash match {
        case "before" =>
        case "between" => mv(t, t + "__old")
        case "after" => mv(t, t + "__old"); mv(shadow, t)
      }

      // a new process: no writer memo, nothing recovered yet
      val cat = new ParquetCatalog(spark, root)
      assert(dump(cat.load("s", "t")) == (if (crash == "after") post else pre),
        s"crash-$crash: load must read the whole pre- or post-op table")
      if (op.rerun(cat)) op.run(cat)
      cat.merge("s", "t", next, Seq("pk"))
      assert(dump(cat.load("s", "t")) == expected)
      assert(new java.io.File(s"$root/s").list().toSet ==
        new java.io.File(s"$ref/s").list().toSet, "no trash or shadow may be left")
    }
}
