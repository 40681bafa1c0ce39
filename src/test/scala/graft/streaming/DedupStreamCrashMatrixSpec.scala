package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame

/** The crash matrix for the three dedup streams' store maintenance:
  * a compact/swap interrupted BEFORE the first rename (shadow written,
  * store intact), BETWEEN the two renames (store stranded aside), or
  * AFTER the second rename (trash not yet cleaned) must leave the next
  * trigger with the full screened corpus — for ParaDedupStream,
  * SubstrDedupStream and MinHashDedupStream via the shared
  * [[StreamStore]]/AtomicDir protocol. Commit 5ea9739 fixed the same
  * missed-recover window in two files at once; this matrix pins every crash point on the ONE shared path. */
class DedupStreamCrashMatrixSpec extends SparkSpec {
  import spark.implicits._

  private val sep = "\n\n"
  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)
  private def conf = spark.sparkContext.hadoopConfiguration

  private def copyDir(src: String, dst: String): Unit = {
    FileUtil.copy(fs, new Path(src), fs, new Path(dst), false, conf)
    ()
  }
  private def mv(src: String, dst: String): Unit =
    assert(fs.rename(new Path(src), new Path(dst)), s"rename $src failed")

  /** Leave a StreamStore-protocol store in the given crash state. The
    * "fold result" is a byte-copy of the store — decision-equivalent,
    * which is all the protocol promises. */
  private def strand(dir: String, crash: String): Unit = crash match {
    case "before" => // shadow written, crash before rename 1
      copyDir(dir, dir + "__next")
    case "between" => // crash between the two renames
      copyDir(dir, dir + "__next")
      mv(dir, dir + "__old")
    case "after" => // both renames done, crash before trash delete
      copyDir(dir, dir + "__old")
  }

  private def dumpPara(df: DataFrame): Map[Long, (String, Long, Long)] =
    df.collect().map(r => r.getAs[Long]("doc_id") ->
      ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap

  for (crash <- Seq("before", "between", "after"))
    test(s"para: compact crash $crash the swap renames — corpus survives") {
      val dir = Files.createTempDirectory(s"paracrash_$crash")
        .toString + "/keys"
      val s = new ParaDedupStream(spark, dir, "doc_id", "text", sep)
      dumpPara(s.processBatch(
        Seq((1L, s"one${sep}boiler")).toDF("doc_id", "text"), 0L))
      strand(dir, crash)
      val got = dumpPara(s.processBatch(
        Seq((2L, s"two${sep}boiler")).toDF("doc_id", "text"), 1L))
      assert(got(2L) == ((s"two", 1L, 1L)),
        s"crash-$crash store must not forget the screened corpus")
      // a real compact after recovery completes and cleans the trash
      s.compact()
      assert(!fs.exists(new Path(dir + "__old")), "trash must be gone")
      val after = dumpPara(s.processBatch(
        Seq((3L, s"three${sep}boiler")).toDF("doc_id", "text"), 2L))
      assert(after(3L) == ((s"three", 1L, 1L)))
    }

  for (crash <- Seq("before", "between", "after"))
    test(s"substr: compact crash $crash the swap renames — corpus survives") {
      val dir = Files.createTempDirectory(s"subcrash_$crash")
        .toString + "/keys"
      val s = new SubstrDedupStream(spark, dir, "doc_id", "text", n = 3)
      s.processBatch(
        Seq((1L, "shared boiler plate words")).toDF("doc_id", "text"), 0L)
        .collect()
      strand(dir, crash)
      val got = s.processBatch(
        Seq((2L, "xx shared boiler plate yy")).toDF("doc_id", "text"), 1L)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got(2L) == "xx yy",
        s"crash-$crash store must not forget the screened corpus")
      s.compact()
      assert(!fs.exists(new Path(dir + "__old")), "trash must be gone")
      graft.core.Metrics.drainUnpersist()
    }

  // two sentences long enough to shingle (n=3 words), identical text =
  // jaccard 1 → always a candidate pair at any banding
  private val textA =
    "the quick brown fox jumps over the lazy dog near the river bank"
  private val textB =
    "completely different words about spark catalyst optimizer plans here"

  for (crash <- Seq("before", "between", "after"))
    test(s"minhash: compact crash $crash the swap renames — corpus survives") {
      val dir = Files.createTempDirectory(s"mhcrash_$crash")
        .toString + "/sigs"
      val s = new MinHashDedupStream(spark, dir, "id", "text")
      s.processBatch(Seq((1L, textA)).toDF("id", "text"), 0L).collect()
      strand(dir, crash)
      val survivors = s.processBatch(
        Seq((2L, textA), (3L, textB)).toDF("id", "text"), 1L)
        .select("id").as[Long].collect().toSet
      assert(survivors == Set(3L),
        s"crash-$crash: doc 2 duplicates the screened corpus, 3 is new")
      s.compact()
      assert(!fs.exists(new Path(dir + "__old")), "trash must be gone")
      graft.core.Metrics.drainUnpersist()
    }
}
