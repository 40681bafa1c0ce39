package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** End-to-end streaming ANN ingest: a MemoryStream drives
  * [[Ivf.indexAppend]] per micro-batch with PERIODIC [[Ivf.compactIndex]]
  * maintenance inside the same foreachBatch loop — the long-running
  * ingest shape the persisted index serves. The invariant under test:
  * the served probe answers EXACTLY like the direct (unindexed) search
  * over everything ingested so far, at every stage — after each append,
  * after compaction, and after a simulated compaction crash that the
  * next read must roll forward from. */
class AnnIngestSpec extends SparkSpec {
  import spark.implicits._

  // two well-separated clusters so cell routing is stable
  private def mkVecs(rows: Seq[(Long, Array[Float])]) =
    rows.toDF("vec_id", "embedding")

  private val base = (0 until 20).map { i =>
    if (i % 2 == 0) (i.toLong, Array(10f + i * 0.01f, 0f))
    else (i.toLong, Array(0f, 10f + i * 0.01f))
  }

  test("ingest + periodic compaction + crash recovery: probe == direct") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val all = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
    all ++= base
    val m = Ivf.train(mkVecs(base), "vec_id", "embedding", k = 2, iters = 2)
    val path = java.nio.file.Files
      .createTempDirectory("graft_ann_ingest").toString + "/idx"
    Ivf.index(mkVecs(base), "embedding", m, path)

    val q = Array(0.0, 10.0)
    def probed(): Seq[(Long, Double)] =
      Ivf.probe(spark, path, "vec_id", "embedding", q, k = 5, nprobe = 1)
        .as[(Long, Double)].collect().toSeq
    def direct(): Seq[(Long, Double)] =
      Ivf.topK(mkVecs(all.toSeq), "vec_id", "embedding", m, q,
        k = 5, nprobe = 1).as[(Long, Double)].collect().toSeq

    assert(probed() == direct())

    val mem = MemoryStream[(Long, Array[Float])]
    val stream = mem.toDF().toDF("vec_id", "embedding").writeStream
      .outputMode("append")
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft_ann_ingest_ckpt").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        Ivf.indexAppend(spark, path, batch, "embedding")
        // periodic maintenance inside the ingest loop: every second
        // batch rewrites one-file-per-cell (results must not change)
        if (id % 2 == 1) Ivf.compactIndex(spark, path)
      }.start()
    try {
      // batch 0: append only
      val b0 = Seq((100L, Array(0.2f, 10.6f)), (101L, Array(10.4f, 0.1f)))
      all ++= b0; b0.foreach(r => mem.addData(r))
      stream.processAllAvailable()
      assert(probed() == direct(), "after append batch 0")

      // batch 1: append + compaction
      val b1 = Seq((102L, Array(0.1f, 10.7f)), (103L, Array(0.3f, 10.8f)))
      all ++= b1; b1.foreach(r => mem.addData(r))
      stream.processAllAvailable()
      assert(probed() == direct(), "after append + compaction batch 1")
      // compaction left one file per cell and no transients
      new java.io.File(path).listFiles()
        .filter(_.getName.startsWith("cell="))
        .foreach(d => assert(
          d.listFiles().count(_.getName.endsWith(".parquet")) == 1,
          s"${d.getName} not compacted"))
      assert(!new java.io.File(path + "__old").exists)
      assert(!new java.io.File(path + "__swapping").exists)

      // batch 2: another append on the compacted layout
      val b2 = Seq((104L, Array(0.5f, 10.9f)))
      all ++= b2; b2.foreach(r => mem.addData(r))
      stream.processAllAvailable()
      assert(probed() == direct(), "after append batch 2")
    } finally stream.stop()

    // simulate a compaction crash mid-swap (marker + complete copies on
    // both sides, no live path) — the next probe must roll forward and
    // still answer identically
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(path), fs,
      new org.apache.hadoop.fs.Path(path + "__compacting"), false,
      spark.sparkContext.hadoopConfiguration)
    assert(new java.io.File(path).renameTo(new java.io.File(path + "__old")))
    fs.create(new org.apache.hadoop.fs.Path(path + "__swapping"), true).close()
    assert(probed() == direct(), "after crash recovery")
    assert(new java.io.File(path).exists)
    assert(!new java.io.File(path + "__swapping").exists)

    // and ingest keeps working on the recovered index
    Ivf.indexAppend(spark, path,
      mkVecs(Seq((105L, Array(0.05f, 10.95f)))), "embedding")
    all += ((105L, Array(0.05f, 10.95f)))
    assert(probed() == direct(), "append after recovery")
  }
}
