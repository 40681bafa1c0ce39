package graft.streaming

import graft.SparkSpec
import graft.sources.StaticSchemaFetcher
import graft.warehouse.ParquetCatalog
import org.apache.spark.sql.functions._

/** Two-stage batcher → object store → loader mode (reference architecture
  * parity), checked against the single-job pipeline's result. */
class BatcherLoaderSpec extends SparkSpec {
  import spark.implicits._
  import CdcFixture._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-bl").toString

  private val fetcher = new StaticSchemaFetcher(Map(1 -> envelopeSchemaJson))
  private def cfg = CdcStream.TopicConfig(
    topic = "ts.inventory.users", targetSchema = "inventory",
    targetTable = "users", maskEnabled = false)

  private def toDf(rows: Seq[(Long, (Option[User], Option[User]))]) =
    rows.map { case (off, (b, a)) => (off, frame(1, b, a)) }
      .toDF("offset", "value")

  test("batcher writes gzip NDJSON + Job signal; loader merges to same state") {
    val out = tmp()
    val batch1 = toDf(Seq(10L -> create(1, "ada", 6807), 11L -> create(2, "bob", 1)))
    val batch2 = toDf(Seq(12L -> update(1, "ada", "eva"), 13L -> delete(2, "bob")))

    // batcher side
    val jobs1 = Batcher.processBatch(batch1, 0L, fetcher, cfg, out)
    val jobs2 = Batcher.processBatch(batch2, 1L, fetcher, cfg, out)
    assert(jobs1.size == 1 && jobs1.head.skipMerge) // all CREATEs
    assert(jobs1.head.batchBytes > 0)
    assert(jobs1.head.s3Path.contains("graft/ts.inventory.users/1/batch_0"))
    assert(!jobs2.head.skipMerge)
    val files = new java.io.File(jobs1.head.s3Path).listFiles
      .filter(_.getName.endsWith(".json.gz"))
    assert(files.nonEmpty)

    // loader side
    val cat = new ParquetCatalog(spark, tmp())
    (jobs1 ++ jobs2).foreach(j => Loader.load(spark, j, cat, cfg, Seq("id")))
    val twoStage = cat.load("inventory", "users")
      .select("id", "name").as[(String, String)].collect().toMap

    // reference: the single-job pipeline over the same batches
    val cat2 = new ParquetCatalog(spark, tmp())
    CdcStream.processBatch(batch1, fetcher, cat2, cfg)
    CdcStream.processBatch(batch2, fetcher, cat2, cfg)
    val direct = cat2.load("inventory", "users")
      .select("id", "name").as[(String, String)].collect().toMap

    assert(twoStage == direct)
    assert(twoStage == Map("1" -> "eva"))
  }

  test("batcher drops corrupt (non-magic-byte) frames instead of dying") {
    val out = tmp()
    val good = toDf(Seq(30L -> create(7, "zoe", 2)))
    // a frame whose first byte isn't the Confluent magic 0x00 would decode
    // a garbage schema id and kill processBatch at fetcher.schemaById
    val corrupt = Seq((31L, Array[Byte](0x42, 0x00, 0x00, 0x00, 0x63)))
      .toDF("offset", "value")
    val jobs = Batcher.processBatch(good.union(corrupt), 0L, fetcher, cfg, out)
    assert(jobs.size == 1)
    assert(jobs.head.createEvents == 1L)
  }

  test("loader column gate: schema-divergent NDJSON routes through merge") {
    val out = tmp()
    // dob all-null in this batch → the NDJSON objects omit the column
    // entirely (null fields aren't written), so the read-back stage is
    // schema-divergent from the target
    val batch = Seq(
      (20L, frame(1, None, Some(User(1, Some("ada"), None)))))
      .toDF("offset", "value")
    val jobs = Batcher.processBatch(batch, 0L, fetcher, cfg, out)
    assert(jobs.head.skipMerge) // CREATE-only: eligible on counts alone

    val cat = new ParquetCatalog(spark, tmp())
    // pre-existing target WITH the dob column and the same PK
    cat.save("inventory", "users",
      Seq(("1", "old", "1988-09-02")).toDF("id", "name", "dob"))
    Loader.load(spark, jobs.head, cat, cfg, Seq("id"))
    val t = cat.load("inventory", "users")
    // a blind append would have duplicated pk=1 (and written a parquet
    // slice without dob); the gate must fall back to the SCD-1 merge
    val rows = t.select("id", "name").as[(String, String)].collect().toSeq
    assert(rows == Seq(("1", "ada")), s"got $rows")
    assert(t.columns.contains("dob"))
  }

  test("a creates-only Job loaded twice lands its rows once") {
    val out = tmp()
    val cat = new ParquetCatalog(spark, tmp())
    Batcher.processBatch(toDf(Seq(1L -> create(1, "a", 1))), 0L, fetcher, cfg, out)
      .foreach(Loader.load(spark, _, cat, cfg, Seq("id")))
    val job = Batcher.processBatch(toDf(Seq(2L -> create(2, "b", 2))), 1L,
      fetcher, cfg, out).head
    assert(job.skipMerge)
    // the loader crashed after the append, before its Job was acknowledged
    Loader.load(spark, job, cat, cfg, Seq("id"))
    Loader.load(spark, job, cat, cfg, Seq("id"))
    assert(cat.load("inventory", "users").select("id").as[String]
      .collect().sorted.toSeq == Seq("1", "2"))
  }

  test("job-count guard: one single-schema Batcher.processBatch runs 3 " +
      "Spark jobs") {
    // header checkpoint + stage checkpoint + the NDJSON write; a re-added
    // driver action (distinct, count, aggregate) fails this
    val out = tmp()
    Batcher.processBatch(toDf(Seq(10L -> create(1, "ada", 6807))), 0L,
      fetcher, cfg, out)
    val (n, jobs) = jobsDuring(Batcher.processBatch(
      toDf(Seq(12L -> update(1, "ada", "eva"), 13L -> delete(2, "bob"),
        14L -> create(3, "kim", 7))), 1L, fetcher, cfg, out))
    assert(jobs.map(j => (j.createEvents, j.updateEvents, j.deleteEvents)) ==
      Seq((1L, 1L, 1L)))
    assert(n == 3, s"batcher ran $n jobs")
  }

  test("both paths' Jobs carry the framed key's schema id (schemaIdKey)") {
    val f = new StaticSchemaFetcher(
      Map(1 -> envelopeSchemaJson, 9 -> nameKeyJson))
    val batch = Seq(
      (1L, nameKeyFrame("ada"), frame(1, None, Some(User(1, Some("ada"), None)))),
      (2L, nameKeyFrame("ada"), frame(1, None, Some(User(2, Some("ada"), None))))
    ).toDF("offset", "key", "value")
    val direct = CdcStream.processBatch(batch, f,
      new ParquetCatalog(spark, tmp()), cfg)
    val staged = Batcher.processBatch(batch, 0L, f, cfg, tmp())
    assert(direct.map(_.schemaIdKey) == Seq(9))
    assert(staged.map(_.schemaIdKey) == Seq(9))
  }
}
