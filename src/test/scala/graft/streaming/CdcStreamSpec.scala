package graft.streaming

import java.io.ByteArrayOutputStream
import graft.SparkSpec
import graft.core.Cdc
import graft.mask.MaskConfig
import graft.sources.{ConfluentAvro, StaticSchemaFetcher}
import graft.warehouse.ParquetCatalog
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** End-to-end CDC fixtures: real Confluent-framed Avro bytes through
  * decode → transform → merge (SURVEY §3.1-§3.2). */
object CdcFixture {

  val envelopeSchemaJson: String =
    """{"type": "record", "name": "Envelope",
      |"namespace": "ts.inventory.users",
      |"fields": [
      |  {"name": "before", "type": ["null", {
      |    "type": "record", "name": "Value", "fields": [
      |      {"name": "id", "type": {"type": "int", "connect.parameters":
      |        {"__debezium.source.column.type": "INT",
      |         "__debezium.source.column.length": "11"}}},
      |      {"name": "name", "type": ["null", {"type": "string",
      |        "connect.parameters":
      |        {"__debezium.source.column.type": "VARCHAR",
      |         "__debezium.source.column.length": "255"}}], "default": null},
      |      {"name": "dob", "type": ["null", {"type": "int",
      |        "connect.parameters":
      |        {"__debezium.source.column.type": "DATE"}}], "default": null}
      |  ]}], "default": null},
      |  {"name": "after", "type": ["null", "Value"], "default": null},
      |  {"name": "op", "type": ["null", "string"], "default": null},
      |  {"name": "ts_ms", "type": ["null", "long"], "default": null}
      |]}""".stripMargin

  val keySchemaJson: String =
    """{"type": "record", "name": "Key", "fields": [
      |  {"name": "id", "type": "int"}]}""".stripMargin

  private val parsed = new Schema.Parser().parse(envelopeSchemaJson)
  private val valueSchema = {
    val beforeField = parsed.getField("before").schema() // union
    beforeField.getTypes.get(1) // the record branch
  }

  final case class User(id: Int, name: Option[String], dob: Option[Int])

  private def userRecord(u: User): GenericRecord = {
    val r = new GenericData.Record(valueSchema)
    r.put("id", u.id)
    u.name.foreach(n => r.put("name", n))
    u.dob.foreach(d => r.put("dob", d))
    r
  }

  /** Serialize an envelope and frame it Confluent-style. */
  def frame(schemaId: Int, before: Option[User], after: Option[User]): Array[Byte] = {
    val env = new GenericData.Record(parsed)
    before.foreach(b => env.put("before", userRecord(b)))
    after.foreach(a => env.put("after", userRecord(a)))
    env.put("op", if (before.isEmpty) "c" else if (after.isEmpty) "d" else "u")
    val out = new ByteArrayOutputStream()
    out.write(ConfluentAvro.MagicByte)
    out.write(Array[Byte](
      (schemaId >> 24).toByte, (schemaId >> 16).toByte,
      (schemaId >> 8).toByte, schemaId.toByte))
    val encoder = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](parsed).write(env, encoder)
    encoder.flush()
    out.toByteArray
  }

  /** A key schema that keys the table by `name`, not by the first
    * column (id), registered under schema id 9. */
  val nameKeyJson: String =
    """{"type": "record", "name": "Key", "fields": [
      |  {"name": "name", "type": "string"}]}""".stripMargin
  private val nameKeySchema = new Schema.Parser().parse(nameKeyJson)

  /** A Confluent-framed key under [[nameKeyJson]] (schema id 9). */
  def nameKeyFrame(name: String): Array[Byte] = {
    val k = new GenericData.Record(nameKeySchema)
    k.put("name", name)
    val out = new ByteArrayOutputStream()
    out.write(0); out.write(Array[Byte](0, 0, 0, 9))
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](nameKeySchema).write(k, enc)
    enc.flush()
    out.toByteArray
  }

  def create(id: Int, name: String, dob: Int): (Option[User], Option[User]) =
    (None, Some(User(id, Some(name), Some(dob))))
  def update(id: Int, from: String, to: String): (Option[User], Option[User]) =
    (Some(User(id, Some(from), None)), Some(User(id, Some(to), None)))
  def delete(id: Int, name: String): (Option[User], Option[User]) =
    (Some(User(id, Some(name), None)), None)
}

class ConfluentAvroSpec extends SparkSpec {
  import spark.implicits._
  import CdcFixture._

  test("S2 frame: schema id from bytes 2-5 big-endian; magic byte check") {
    val bytes = frame(258, None, Some(User(1, Some("a"), None)))
    val df = Seq((1L, bytes)).toDF("offset", "value")
    val r = df.select(
      ConfluentAvro.schemaId(col("value")).as("sid"),
      ConfluentAvro.hasMagicByte(col("value")).as("magic")).head()
    assert(r.getInt(0) == 258)
    assert(r.getBoolean(1))
  }

  test("S2 decode: avro payload to typed envelope struct") {
    val spec = graft.schema.DebeziumSchema.parseEnvelope(envelopeSchemaJson)
    val envType = graft.cdc.DebeziumTransform.envelopeSchema(
      CdcStream.payloadStructType(spec))
    val bytes = frame(1, None, Some(User(7, Some("Ada \"q\" é"), Some(6807))))
    val df = Seq((1L, bytes)).toDF("offset", "value")
      .select(ConfluentAvro.decode(col("value"), envelopeSchemaJson, envType)
        .as("env"))
    val r = df.select("env.after.id", "env.after.name", "env.after.dob").head()
    assert(r.getInt(0) == 7)
    assert(r.getString(1) == "Ada \"q\" é") // JSON escaping survives
    assert(r.getInt(2) == 6807)
  }

  test("avro bytes land correctly in string and binary slots") {
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.avro.io.EncoderFactory
    import org.apache.spark.sql.types._
    val sj = """{"type": "record", "name": "R", "fields": [
               |  {"name": "blob", "type": "bytes"},
               |  {"name": "n", "type": "boolean"}]}""".stripMargin
    val sc = new Schema.Parser().parse(sj)
    val r = new GenericData.Record(sc)
    r.put("blob", java.nio.ByteBuffer.wrap("payload".getBytes("UTF-8")))
    r.put("n", true)
    val out = new java.io.ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](sc).write(r, enc)
    enc.flush()
    val df = Seq(Tuple1(out.toByteArray)).toDF("payload")
    // same avro value decoded into different target slots
    val asStr = StructType(Seq(StructField("blob", StringType),
      StructField("n", StringType)))
    val asBin = StructType(Seq(StructField("blob", BinaryType)))
    val got = df.select(
      org.apache.spark.sql.graft.Shims.column(
        graft.sources.AvroBinaryToStruct(
          org.apache.spark.sql.graft.Shims.expression(col("payload")),
          sj, asStr)).as("s"),
      org.apache.spark.sql.graft.Shims.column(
        graft.sources.AvroBinaryToStruct(
          org.apache.spark.sql.graft.Shims.expression(col("payload")),
          sj, asBin)).as("b")).head()
    assert(got.getStruct(0).getString(0) == "payload")
    assert(got.getStruct(0).getString(1) == "true")
    assert(new String(got.getStruct(1).getAs[Array[Byte]](0), "UTF-8") ==
      "payload")
  }

  test("decode of DELETE event: after null, before populated") {
    val spec = graft.schema.DebeziumSchema.parseEnvelope(envelopeSchemaJson)
    val envType = graft.cdc.DebeziumTransform.envelopeSchema(
      CdcStream.payloadStructType(spec))
    val (b, a) = delete(3, "gone")
    val df = Seq((1L, frame(1, b, a))).toDF("offset", "value")
      .select(ConfluentAvro.decode(col("value"), envelopeSchemaJson, envType)
        .as("env"))
    val r = df.select("env").head().getStruct(0)
    assert(r.getAs[AnyRef]("after") == null)
    assert(r.getAs[org.apache.spark.sql.Row]("before").getAs[Int]("id") == 3)
  }
}

class CdcStreamSpec extends SparkSpec {
  import spark.implicits._
  import CdcFixture._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-stream").toString

  private val fetcher = new StaticSchemaFetcher(Map(1 -> envelopeSchemaJson))

  private def cfg = CdcStream.TopicConfig(
    topic = "ts.inventory.users",
    targetSchema = "inventory",
    targetTable = "users",
    maskEnabled = false)

  private def toDf(rows: Seq[(Long, (Option[User], Option[User]))]) =
    rows.map { case (off, (b, a)) => (off, frame(1, b, a)) }
      .toDF("offset", "value")

  test("processBatch: merge across two micro-batches with C/U/D") {
    val cat = new ParquetCatalog(spark, tmp())
    val jobs1 = CdcStream.processBatch(
      toDf(Seq(10L -> create(1, "ada", 6807), 11L -> create(2, "bob", 0))),
      fetcher, cat, cfg)
    assert(jobs1.size == 1)
    assert(jobs1.head.createEvents == 2 && jobs1.head.startOffset == 10 &&
      jobs1.head.endOffset == 11)
    val t1 = cat.load("inventory", "users")
    assert(t1.count() == 2)
    // temporal conversion happened during transform
    assert(t1.filter(col("id") === "1").select("dob").as[String].head() ==
      "1988-08-21")

    val jobs2 = CdcStream.processBatch(
      toDf(Seq(12L -> update(1, "ada", "ada2"), 13L -> delete(2, "bob"))),
      fetcher, cat, cfg)
    assert(jobs2.head.updateEvents == 1 && jobs2.head.deleteEvents == 1)
    assert(!jobs2.head.skipMerge)
    val t2 = cat.load("inventory", "users")
    assert(t2.select("id", "name").as[(String, String)].collect().toMap ==
      Map("1" -> "ada2"))
  }

  test("COPY clamp fires inside decodeGroup: oversized name truncated " +
      "to the declared varchar byte width on a char boundary") {
    val cat = new ParquetCatalog(spark, tmp())
    // name declares source length 255 -> x4 CharacterRatio = 1020 BYTES;
    // 600 x 'é' is 1200 UTF-8 bytes, so the load must keep exactly the
    // 510 whole chars (1020 bytes) Redshift's TRUNCATECOLUMNS would
    val big = "é" * 600
    CdcStream.processBatch(toDf(Seq(1L -> create(1, big, 1))),
      fetcher, cat, cfg)
    val loaded = cat.load("inventory", "users")
      .select("name").as[String].head()
    assert(loaded == "é" * 510, s"len=${loaded.length}")
    // the clamp keeps every column in place: same names, order, types
    // and nullability as the unclamped transform
    val frames = toDf(Seq(1L -> create(1, big, 1)))
    val spec = graft.schema.DebeziumSchema.parseEnvelope(envelopeSchemaJson)
    val envType = graft.cdc.DebeziumTransform.envelopeSchema(
      CdcStream.payloadStructType(spec))
    val unclamped = graft.cdc.DebeziumTransform(frames
      .withColumn("__env",
        ConfluentAvro.decode(col("value"), envelopeSchemaJson, envType))
      .select(col("offset"), col("__env.before").as("before"),
        col("__env.after").as("after")), spec)
    val (clamped, _) = CdcStream.decodeGroup(frames, envelopeSchemaJson, cfg)
    assert(clamped.schema == unclamped.schema)
  }

  test("job-count guard: one single-schema processBatch runs 5 Spark " +
      "jobs on the merge path and 4 on the skip-merge append path") {
    // header checkpoint + stage checkpoint, then the write's own jobs:
    // merge = broadcast of the stage keys + dedupe shuffle + write;
    // append = distinct shuffle + write. A re-added driver action
    // (aggregate, sample, schema-inference read) fails this.
    val cat = new ParquetCatalog(spark, tmp())
    CdcStream.processBatch(
      toDf(Seq(10L -> create(1, "ada", 6807), 11L -> create(2, "bob", 0))),
      fetcher, cat, cfg)
    val (mergeJobs, merged) = jobsDuring(CdcStream.processBatch(
      toDf(Seq(12L -> update(1, "ada", "eva"), 13L -> delete(2, "bob"))),
      fetcher, cat, cfg))
    assert(!merged.head.skipMerge)
    assert(mergeJobs == 5, s"merge path ran $mergeJobs jobs")
    val (appendJobs, appended) = jobsDuring(CdcStream.processBatch(
      toDf(Seq(14L -> create(3, "kim", 7))), fetcher, cat, cfg))
    assert(appended.head.skipMerge)
    assert(appendJobs == 4, s"append path ran $appendJobs jobs")
    assert(cat.load("inventory", "users")
      .select("id", "name").as[(String, String)].collect().toMap ==
      Map("1" -> "eva", "3" -> "kim"))
  }

  test("header: a batch of only tombstones and unframed frames yields " +
      "no Job and no table") {
    val cat = new ParquetCatalog(spark, tmp())
    // null sum, null key-schema id and an empty schema-id set
    val junk = Seq[(Long, Array[Byte], Array[Byte])](
      (1L, "k1".getBytes("UTF-8"), null),
      (2L, null, Array.empty[Byte]),
      (3L, "k3".getBytes("UTF-8"), "not framed".getBytes("UTF-8"))
    ).toDF("offset", "key", "value")
    assert(CdcStream.processBatch(junk, fetcher, cat, cfg).isEmpty)
    assert(!cat.exists("inventory", "users"))
  }

  test("header: a batch without a key column still processes, PK from " +
      "the first column") {
    val cat = new ParquetCatalog(spark, tmp())
    val batch = toDf(Seq(1L -> create(1, "ada", 1), 2L -> create(2, "ada", 2)))
    assert(!batch.columns.contains("key"))
    val jobs = CdcStream.processBatch(batch, fetcher, cat, cfg)
    assert(jobs.map(j => (j.createEvents, j.startOffset, j.endOffset)) ==
      Seq((2L, 1L, 2L)))
    assert(cat.load("inventory", "users").count() == 2)
  }

  test("header: unframed (JSON) keys fall back to the first-column PK") {
    val cat = new ParquetCatalog(spark, tmp())
    // the fetcher knows no key schema: resolving a garbage id would throw
    def json(name: String) = s"""{"name": "$name"}""".getBytes("UTF-8")
    val batch = Seq(
      (1L, json("ada"), frame(1, None, Some(User(1, Some("ada"), None)))),
      (2L, json("ada"), frame(1, None, Some(User(2, Some("ada"), None))))
    ).toDF("offset", "key", "value")
    CdcStream.processBatch(batch, fetcher, cat, cfg)
    // PK=id keeps both rows (a name key would dedupe them to one)
    assert(cat.load("inventory", "users").select("id").as[String]
      .collect().toSet == Set("1", "2"))
  }

  test("header: two schema ids yield two Jobs with their own counts and " +
      "offsets") {
    val cat = new ParquetCatalog(spark, tmp())
    val f2 = new StaticSchemaFetcher(
      Map(1 -> envelopeSchemaJson, 2 -> envelopeSchemaJson))
    def fr(sid: Int, off: Long, e: (Option[User], Option[User])) =
      (off, frame(sid, e._1, e._2))
    val mixed = Seq(
      fr(1, 1L, create(1, "a", 1)), fr(2, 2L, create(2, "b", 2)),
      fr(1, 3L, create(3, "c", 3)), fr(2, 4L, update(2, "b", "b2")),
      fr(2, 5L, delete(9, "z"))).toDF("offset", "value")
    val jobs = CdcStream.processBatch(mixed, f2, cat, cfg)
    assert(jobs.map(j => (j.schemaId, j.createEvents, j.updateEvents,
      j.deleteEvents, j.startOffset, j.endOffset)) == Seq(
      (1, 2L, 0L, 0L, 1L, 3L), (2, 1L, 1L, 1L, 2L, 5L)))
    assert(cat.load("inventory", "users")
      .select("id", "name").as[(String, String)].collect().toMap ==
      Map("1" -> "a", "2" -> "b2", "3" -> "c"))
  }

  test("R5 skipMerge: insert-only batch into existing table appends") {
    val cat = new ParquetCatalog(spark, tmp())
    CdcStream.processBatch(toDf(Seq(1L -> create(1, "a", 1))), fetcher, cat, cfg)
    val jobs = CdcStream.processBatch(
      toDf(Seq(2L -> create(2, "b", 2))), fetcher, cat, cfg)
    assert(jobs.head.skipMerge)
    assert(cat.load("inventory", "users").count() == 2)
  }

  test("a replayed creates-only batch lands its rows once") {
    // a crash after the append wrote and before the streaming commit
    // replays the batch: recorded, it merges instead of appending again
    val cat = new ParquetCatalog(spark, tmp())
    CdcStream.processBatch(toDf(Seq(1L -> create(1, "a", 1))), fetcher, cat, cfg)
    val creates = toDf(Seq(2L -> create(2, "b", 2)))
    assert(CdcStream.processBatch(creates, fetcher, cat, cfg).head.skipMerge)
    assert(!CdcStream.processBatch(creates, fetcher, cat, cfg).head.skipMerge)
    assert(cat.load("inventory", "users").select("id").as[String]
      .collect().sorted.toSeq == Seq("1", "2"))
  }

  test("R5 skipMerge: a CREATE-only batch whose column widened int → " +
      "bigint merges instead of appending, and the table reads bigint") {
    // appended INT64 files in an INT32 table fail every later read of it
    val cat = new ParquetCatalog(spark, tmp())
    cat.save(cfg.targetSchema, cfg.targetTable, Seq((1, 10)).toDF("pk", "v"))
    val stage = Seq(("2", Cdc.OpCreate, 2, 20L))
      .toDF(Cdc.OffsetColumn, Cdc.OperationColumn, "pk", "v")
    val job = CdcStream.load(
      CdcStream.Staged(stage, graft.core.Job(cfg.topic, 2L, 2L,
        skipMerge = true, createEvents = 1L), Nil),
      cat, cfg.copy(primaryKeys = Seq("pk")))
    assert(!job.skipMerge)
    val out = cat.load(cfg.targetSchema, cfg.targetTable)
    assert(out.schema("v").dataType == org.apache.spark.sql.types.LongType)
    assert(out.as[(Int, Long)].collect().toSet == Set((1, 10L), (2, 20L)))
  }

  test("T3 schema-id change mid-batch: groups processed separately") {
    val cat = new ParquetCatalog(spark, tmp())
    val f2 = new StaticSchemaFetcher(
      Map(1 -> envelopeSchemaJson, 2 -> envelopeSchemaJson))
    val mixed = Seq(
      (1L, frame(1, None, Some(User(1, Some("a"), None)))),
      (2L, frame(2, None, Some(User(2, Some("b"), None))))
    ).toDF("offset", "value")
    val jobs = CdcStream.processBatch(mixed, f2, cat, cfg)
    assert(jobs.map(_.schemaId) == Seq(1, 2))
    assert(cat.load("inventory", "users").count() == 2)
  }

  test("P11 tombstones and corrupt frames are dropped before decode") {
    val cat = new ParquetCatalog(spark, tmp())
    val withJunk = Seq(
      (1L, frame(1, None, Some(User(1, Some("a"), None)))),
      (2L, Array.empty[Byte]),
      (3L, "not confluent framed".getBytes("UTF-8"))
    ).toDF("offset", "value")
    val jobs = CdcStream.processBatch(withJunk, fetcher, cat, cfg)
    assert(jobs.map(_.createEvents).sum == 1)
    assert(cat.load("inventory", "users").count() == 1)
  }

  test("streaming end-to-end: MemoryStream micro-batches through foreachBatch") {
    val cat = new ParquetCatalog(spark, tmp())
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Byte])]
    val source = mem.toDF().toDF("offset", "value")

    val jobs = scala.collection.mutable.ArrayBuffer.empty[graft.core.Job]
    val q = CdcStream.start(source, fetcher, cat, cfg,
      checkpointDir = tmp(), maxWaitSeconds = 1,
      onBatch = js => jobs.synchronized { jobs ++= js })

    try {
      mem.addData((10L, frame(1, None, Some(User(1, Some("ada"), None)))))
      q.processAllAvailable()
      val (b, a) = update(1, "ada", "eva")
      mem.addData((11L, frame(1, b, a)))
      q.processAllAvailable()
    } finally q.stop()

    assert(cat.load("inventory", "users")
      .select("id", "name").as[(String, String)].collect().toMap ==
      Map("1" -> "eva"))
    assert(jobs.size == 2)
    assert(jobs.map(_.updateEvents).sum == 1)
  }

  test("add-column schema evolution across batches (D4 transact class)") {
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.avro.io.EncoderFactory
    // v2 adds an `email` column to the same table
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
    val v2Schema = new Schema.Parser().parse(v2Json)
    val v2Value = v2Schema.getField("before").schema().getTypes.get(1)
    def v2Frame(offset: Int, id: Int, name: String, email: String): Array[Byte] = {
      val v = new GenericData.Record(v2Value)
      v.put("id", id); v.put("name", name); v.put("email", email)
      val env = new GenericData.Record(v2Schema)
      env.put("after", v)
      val out = new java.io.ByteArrayOutputStream()
      out.write(0)
      out.write(Array[Byte](0, 0, 0, 2))
      val enc = EncoderFactory.get().binaryEncoder(out, null)
      new GenericDatumWriter[GenericRecord](v2Schema).write(env, enc)
      enc.flush()
      out.toByteArray
    }

    val cat = new ParquetCatalog(spark, tmp())
    val f = new StaticSchemaFetcher(Map(1 -> envelopeSchemaJson, 2 -> v2Json))
    // batch 1: old schema
    CdcStream.processBatch(toDf(Seq(1L -> create(1, "ada", 6807))), f, cat, cfg)
    assert(!cat.load("inventory", "users").columns.contains("email"))
    // batch 2: new schema with the extra column
    val b2 = Seq((2L, v2Frame(2, 2, "bob", "b@x.com"))).toDF("offset", "value")
    CdcStream.processBatch(b2, f, cat, cfg)
    val t = cat.load("inventory", "users")
    assert(t.columns.contains("email"))
    val rows = t.select("id", "email").as[(String, Option[String])]
      .collect().toMap
    assert(rows("2").contains("b@x.com"))
    assert(rows("1").isEmpty) // old rows read NULL for the new column
  }

  test("primary keys resolved from the Kafka key schema (schemaIdKey)") {
    // the key schema keys the table by `name`, not by the first column (id)
    val f = new StaticSchemaFetcher(
      Map(1 -> envelopeSchemaJson, 9 -> nameKeyJson))
    val cat = new ParquetCatalog(spark, tmp())
    // two CREATEs with the same name but different ids: PK=name must
    // dedupe them to one row (PK=id would keep both)
    val batch = Seq(
      (1L, nameKeyFrame("ada"), frame(1, None, Some(User(1, Some("ada"), None)))),
      (2L, nameKeyFrame("ada"), frame(1, None, Some(User(2, Some("ada"), None))))
    ).toDF("offset", "key", "value")
    CdcStream.processBatch(batch, f, cat, cfg)
    val rows = cat.load("inventory", "users")
      .select("id", "name").as[(String, String)].collect()
    assert(rows.length == 1)
    assert(rows.head == (("2", "ada"))) // last writer by offset wins
  }

  test("pipeline runs against the bucketed store (TableStore plug)") {
    val cat = new graft.warehouse.BucketedCatalog(spark, tmp(), nBuckets = 4)
    CdcStream.processBatch(
      toDf(Seq(10L -> create(1, "ada", 6807), 11L -> create(2, "bob", 0))),
      fetcher, cat, cfg)
    CdcStream.processBatch(
      toDf(Seq(12L -> update(1, "ada", "eva"), 13L -> delete(2, "bob"))),
      fetcher, cat, cfg)
    assert(cat.load("inventory", "users")
      .select("id", "name").as[(String, String)].collect().toMap ==
      Map("1" -> "eva"))
  }

  test("pipeline runs against the merge-on-read store, crossing a compaction") {
    val cat = new graft.warehouse.MergeOnReadCatalog(spark, tmp(),
      compactEvery = 2)
    CdcStream.processBatch(
      toDf(Seq(10L -> create(1, "ada", 6807), 11L -> create(2, "bob", 0))),
      fetcher, cat, cfg)
    CdcStream.processBatch(
      toDf(Seq(12L -> update(1, "ada", "eva"), 13L -> delete(2, "bob"))),
      fetcher, cat, cfg)
    assert(cat.deltaCount("inventory", "users") == 1)
    CdcStream.processBatch(
      toDf(Seq(14L -> create(3, "kim", 7))), fetcher, cat, cfg)
    // third batch brought the live-delta count to compactEvery: folded
    assert(cat.deltaCount("inventory", "users") == 0)
    assert(cat.load("inventory", "users")
      .select("id", "name").as[(String, String)].collect().toMap ==
      Map("1" -> "eva", "3" -> "kim"))
  }

  test("masking applied inside the pipeline when enabled") {
    val cat = new ParquetCatalog(spark, tmp())
    val maskedCfg = cfg.copy(
      maskEnabled = true, salt = "testhash",
      maskConfig = MaskConfig(nonPiiKeys = Map("users" -> Seq("id"))))
    CdcStream.processBatch(toDf(Seq(1L -> create(1, "275402", 0))),
      fetcher, cat, maskedCfg)
    val r = cat.load("inventory", "users")
      .select("id", "name").as[(String, String)].head()
    assert(r._1 == "1") // non-pii passes through
    assert(r._2 == "95b623a5d57372c26025828015f537ad42104f9c") // golden sha1
  }
}
