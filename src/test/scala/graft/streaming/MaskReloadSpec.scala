package graft.streaming

import graft.SparkSpec
import graft.mask.MaskConfig
import graft.sources.StaticSchemaFetcher
import graft.warehouse.ParquetCatalog
import org.apache.spark.sql.functions._

/** End-to-end zero-downtime mask reload: v1 pipeline serves, config
  * change detected, rebuild under `_reload_2` with v2 rules, release swap
  * (SURVEY §2.7 O2/O3/O6 composed). */
class MaskReloadSpec extends SparkSpec {
  import spark.implicits._
  import CdcFixture._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-reload").toString

  test("mask change -> rebuild into reload table -> atomic release") {
    val fetcher = new StaticSchemaFetcher(Map(1 -> envelopeSchemaJson))
    val cat = new ParquetCatalog(spark, tmp())
    val v1 = MaskConfig(nonPiiKeys = Map("users" -> Seq("id")))
    val v2 = MaskConfig(nonPiiKeys = Map("users" -> Seq("id", "name")))
    val cfg = CdcStream.TopicConfig("ts.inventory.users", "inventory", "users",
      maskConfig = v1, salt = "testhash")

    val batch = Seq((1L, frame(1, None, Some(User(1, Some("ada"), None)))))
      .toDF("offset", "value")

    // v1 serving: name is masked
    CdcStream.processBatch(batch, fetcher, cat, cfg)
    val served = cat.load("inventory", "users")
      .select("name").as[String].head()
    assert(served != "ada" && served.length == 40) // sha1 hex

    // config change detected → users needs reload
    assert(MaskReload.plan(v1, v2) == Seq("users"))

    // rebuild under _reload_2 with the new rules; old table untouched
    MaskReload.rebuildFromBatches(Seq(batch), fetcher, cat, cfg, v2, "2")
    assert(cat.load("inventory", "users")
      .select("name").as[String].head() == served)
    assert(cat.load("inventory", "users_reload_2")
      .select("name").as[String].head() == "ada")

    // release: swap in, reload table gone, new data served
    MaskReload.release(cat, "inventory", "users", "2")
    assert(cat.load("inventory", "users")
      .select("name").as[String].head() == "ada")
    assert(!cat.exists("inventory", "users_reload_2"))
  }

  test("reload table name is the reconcile loop's: _reload_<short sha>") {
    val cfg = CdcStream.TopicConfig("ts.inventory.users", "inventory", "users")
    val v = MaskConfig(nonPiiKeys = Map("users" -> Seq("id")))
    assert(MaskReload.reloadConfig(cfg, v, "f00dfeedcafe").targetTable ==
      "users" + Reconciler.reloadSuffix("f00dfeedcafe"))
    assert(MaskReload.reloadSuffix("v2") == "_reload_v2")
  }

  test("multi-topic fleet: one query per topic via startAll") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val fetcher = new StaticSchemaFetcher(Map(1 -> envelopeSchemaJson))
    val cat = new ParquetCatalog(spark, tmp())
    val memA = MemoryStream[(Long, Array[Byte])]
    val memB = MemoryStream[(Long, Array[Byte])]
    val cfgA = CdcStream.TopicConfig("t.a", "s", "ta", maskEnabled = false)
    val cfgB = CdcStream.TopicConfig("t.b", "s", "tb", maskEnabled = false)

    val qs = CdcStream.startAll(
      Seq(memA.toDF().toDF("offset", "value") -> cfgA,
        memB.toDF().toDF("offset", "value") -> cfgB),
      fetcher, cat, checkpointRoot = tmp(), maxWaitSeconds = 1)
    try {
      memA.addData((1L, frame(1, None, Some(User(1, Some("a"), None)))))
      memB.addData((1L, frame(1, None, Some(User(2, Some("b"), None)))))
      qs.foreach(_.processAllAvailable())
      assert(cat.load("s", "ta").select("id").as[String].collect().toSeq ==
        Seq("1"))
      assert(cat.load("s", "tb").select("id").as[String].collect().toSeq ==
        Seq("2"))
    } finally qs.foreach(_.stop())
  }
}
