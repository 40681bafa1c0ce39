package graft.warehouse

import java.sql.DriverManager

import graft.SparkSpec
import graft.sources.StaticSchemaFetcher
import graft.streaming.{CdcFixture, CdcStream}
import org.scalatest.BeforeAndAfterAll

/** Streaming loader → JDBC warehouse end-to-end on embedded Derby: the
  * reference's ACTUAL deployment shape (micro-batch → staging table →
  * single-transaction merge, load_processor.go:395-444) driven through
  * the same [[CdcStream.processBatch]] the parquet stores use — C/U/D
  * micro-batches, the R5 append fast path, an add-column schema
  * migration mid-stream, and rollback-on-failure, all against a real
  * SQL engine.
  */
class JdbcWarehouseSpec extends SparkSpec with BeforeAndAfterAll {
  import CdcFixture._
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftwh;create=true"

  override def afterAll(): Unit = {
    try DriverManager.getConnection("jdbc:derby:memory:graftwh;drop=true")
    catch { case _: java.sql.SQLException => () } // drop reports via 08006
    super.afterAll()
  }

  private def store = new JdbcWarehouse(spark, url)

  private val fetcher = new StaticSchemaFetcher(Map(1 -> envelopeSchemaJson))

  private def cfg = CdcStream.TopicConfig(
    topic = "ts.inventory.users",
    targetSchema = "inventory",
    targetTable = "users",
    maskEnabled = false)

  private def toDf(rows: Seq[(Long, (Option[User], Option[User]))]) =
    rows.map { case (off, (b, a)) => (off, frame(1, b, a)) }
      .toDF("offset", "value")

  private def queryMap(sql: String): Map[String, Option[String]] = {
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(sql)
        Iterator.continually(rs).takeWhile(_.next())
          .map(r => r.getString(1) -> Option(r.getString(2))).toMap
      } finally st.close()
    } finally c.close()
  }

  test("C/U/D micro-batches + R5 append + D4 migration land in Derby " +
      "through processBatch, each merge in one transaction") {
    val cat = store
    // batch 1: creates — table is created in the warehouse (D3 from the
    // batch's schema) and populated
    val j1 = CdcStream.processBatch(
      toDf(Seq(10L -> create(1, "ada", 6807), 11L -> create(2, "bob", 0))),
      fetcher, cat, cfg)
    assert(j1.head.createEvents == 2)
    assert(queryMap("SELECT \"id\", \"name\" FROM \"inventory\".\"users\"")
      == Map("1" -> Some("ada"), "2" -> Some("bob")))

    // batch 2: insert-only — the R5 gate reads the live JDBC schema and
    // takes the append fast path (distributed JDBC INSERT, no staging)
    val j2 = CdcStream.processBatch(
      toDf(Seq(12L -> create(3, "cyd", 1))), fetcher, cat, cfg)
    assert(j2.head.skipMerge)

    // batch 3: update + delete — staging table + one-transaction merge
    val j3 = CdcStream.processBatch(
      toDf(Seq(13L -> update(1, "ada", "eva"), 14L -> delete(2, "bob"))),
      fetcher, cat, cfg)
    assert(j3.head.updateEvents == 1 && j3.head.deleteEvents == 1)
    assert(!j3.head.skipMerge)
    assert(queryMap("SELECT \"id\", \"name\" FROM \"inventory\".\"users\"")
      == Map("1" -> Some("eva"), "3" -> Some("cyd")))
    // staging table dropped inside the merge transaction
    assert(!cat.exists("inventory", "users_staged"))

    // batch 4: v2 schema adds `email` — ALTER TABLE ADD COLUMN before the
    // load (the reference migrates then loads); old rows read NULL
    val v2Json =
      """{"type": "record", "name": "Envelope",
        |"namespace": "ts.inventory.users",
        |"fields": [
        |  {"name": "before", "type": ["null", {
        |    "type": "record", "name": "Value", "fields": [
        |      {"name": "id", "type": "int"},
        |      {"name": "name", "type": ["null", "string"], "default": null},
        |      {"name": "email", "type": ["null", "string"], "default": null}
        |  ]}], "default": null},
        |  {"name": "after", "type": ["null", "Value"], "default": null},
        |  {"name": "op", "type": ["null", "string"], "default": null}
        |]}""".stripMargin
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.avro.io.EncoderFactory
    val v2Schema = new Schema.Parser().parse(v2Json)
    val v2Value = v2Schema.getField("before").schema().getTypes.get(1)
    def v2Frame(id: Int, name: String, email: String): Array[Byte] = {
      val v = new GenericData.Record(v2Value)
      v.put("id", id); v.put("name", name); v.put("email", email)
      val env = new GenericData.Record(v2Schema)
      env.put("after", v)
      val out = new java.io.ByteArrayOutputStream()
      out.write(0); out.write(Array[Byte](0, 0, 0, 2))
      val enc = EncoderFactory.get().binaryEncoder(out, null)
      new GenericDatumWriter[GenericRecord](v2Schema).write(env, enc)
      enc.flush()
      out.toByteArray
    }
    val f2 = new StaticSchemaFetcher(Map(1 -> envelopeSchemaJson, 2 -> v2Json))
    CdcStream.processBatch(
      Seq((15L, v2Frame(4, "dee", "d@x.com"))).toDF("offset", "value"),
      f2, cat, cfg)
    val emails = queryMap(
      "SELECT \"id\", \"email\" FROM \"inventory\".\"users\"")
    assert(emails("4").contains("d@x.com"))
    assert(emails("1").isEmpty) // pre-migration row reads NULL
  }

  test("a creates-only batch replayed through CdcStream.processBatch lands " +
      "its rows once") {
    val cat = store
    val replayCfg = cfg.copy(targetTable = "users_replayed")
    CdcStream.processBatch(toDf(Seq(30L -> create(1, "ada", 6807))),
      fetcher, cat, replayCfg)
    val creates = toDf(Seq(31L -> create(2, "bob", 0), 32L -> create(3, "cyd", 1)))
    assert(CdcStream.processBatch(creates, fetcher, cat, replayCfg).head.skipMerge)
    // the stream died after the append, before the batch's commit: the
    // replay finds the batch's claim and merges instead of appending
    val replay = CdcStream.processBatch(creates, fetcher, cat, replayCfg)
    assert(cat.load("inventory", "users_replayed").select("id").as[String]
      .collect().sorted.toSeq == Seq("1", "2", "3"))
    assert(!replay.head.skipMerge)
  }

  test("merge transaction rolls back wholesale on failure: " +
      "delete-common is undone when the insert fails") {
    val cat = store
    val c = DriverManager.getConnection(url)
    try {
      JdbcRunner.executeIgnoring(c, "CREATE SCHEMA \"inventory\"")
      // a target whose dob column is INTEGER: the stage's transformed dob
      // ('1988-08-21', a string) cannot be inserted into it, so the
      // merge's INSERT statement fails AFTER delete-common already ran
      // inside the same transaction
      JdbcRunner.executeIgnoring(c,
        Ddl.Ansi.dropTable("inventory", "users_badtype"))
      JdbcRunner.execute(c,
        "CREATE TABLE \"inventory\".\"users_badtype\" (" +
          "\"id\" VARCHAR(64), \"name\" VARCHAR(64), \"dob\" INTEGER)")
      JdbcRunner.execute(c,
        "INSERT INTO \"inventory\".\"users_badtype\" VALUES ('1', 'ada', 1)")
    } finally c.close()

    val badCfg = cfg.copy(targetTable = "users_badtype")
    intercept[Exception] {
      CdcStream.processBatch(
        toDf(Seq(20L -> update(1, "ada", "eva"))), fetcher, cat, badCfg)
    }
    // the transaction rolled back: the delete-common of id=1 was undone,
    // the original row is intact
    assert(queryMap(
      "SELECT \"id\", \"name\" FROM \"inventory\".\"users_badtype\"")
      == Map("1" -> Some("ada")))
  }
}
