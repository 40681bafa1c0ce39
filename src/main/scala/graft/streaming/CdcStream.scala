package graft.streaming

import graft.cdc.DebeziumTransform
import graft.core.{Cdc, Job, Metrics, TableSpec}
import graft.mask.{MaskConfig, Masker}
import graft.merge.CdcMerge
import graft.schema.DebeziumSchema
import graft.sources.{ConfluentAvro, SchemaFetcher}
import graft.warehouse.TableStore
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** The end-to-end CDC pipeline (SURVEY §3.1-§3.2 collapsed into one Spark
  * job): Kafka frames → Confluent-Avro decode → Debezium transform → mask →
  * SCD-1 merge into the warehouse, per micro-batch.
  *
  * The reference runs this as two processes (batcher → S3+signal → loader);
  * here the two are the halves [[stage]] and [[load]], and a single
  * `foreachBatch` ([[processBatch]]) runs one after the other in memory.
  * The two-stage mode ([[Batcher]]/[[Loader]]) puts NDJSON objects
  * between the same halves. The Job record survives as the per-batch
  * audit trail. Checkpointing replaces hand-rolled offset
  * marking (T5/T6), so a batch is replayed at least once, and the load
  * converges on both of its paths — the same design the reference
  * documents ("loader is idempotent"):
  *  - the merge (R1-R4) is last-writer-wins by kafkaoffset: a replayed
  *    batch deletes the keys it wrote and inserts the same last writers;
  *  - the R5 append alone would land a replayed batch's rows twice, so
  *    the store records each appended batch's schema id and offset range
  *    before it writes ([[graft.warehouse.TableStore.claimAppend]]), and
  *    a batch it finds recorded goes down the merge path instead.
  *
  * Micro-batch semantics (SURVEY §2.5):
  *  - T1/T2: size via `maxOffsetsPerTrigger`, time via processing-time
  *    trigger;
  *  - T3: a batch can span a schema change — rows are partitioned by
  *    schema id inside the batch and each group is decoded against its own
  *    writer schema;
  *  - T7: per-topic-partition parallelism is Spark task parallelism.
  */
object CdcStream {

  /** Per-topic pipeline configuration. `maskTable` is the table name the
    * mask rules are keyed by — it stays the base table when `targetTable`
    * is a `_reload_<v>` rebuild (mask configs know nothing of suffixes). */
  final case class TopicConfig(
      topic: String,
      targetSchema: String,
      targetTable: String,
      maskConfig: MaskConfig = MaskConfig(),
      salt: String = "",
      maskEnabled: Boolean = true,
      maskTable: String = "",
      primaryKeys: Seq[String] = Nil) {
    def maskTableName: String = if (maskTable.isEmpty) targetTable else maskTable
  }

  /** Kafka source frames for a topic regex (S1).
    *
    * Runtime requirement (not bundled with Spark): the Kafka connector
    * matching your Spark/Scala build, e.g.
    * {{{
    * spark-submit --packages \
    *   org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2 ...
    * }}}
    * Plan construction here is lazy — `format("kafka")` resolves the
    * connector only when `load()` materializes, so this module compiles
    * and everything downstream of the source (decode → transform → mask →
    * merge) is exercised by MemoryStream-driven specs without the jar
    * (CdcStreamSpec); the reference's consumer-group behavior is
    * pkg/kafka/consumer_group.go:40-66. */
  def kafkaSource(
      spark: SparkSession,
      brokers: String,
      topicRegex: String,
      maxOffsetsPerTrigger: Option[Long] = None,
      startingOffsets: String = "earliest",
      failOnDataLoss: Boolean = false,
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribePattern", topicRegex)
      // earliest by default: the reference consumes from the beginning on
      // a fresh group; a checkpointed query ignores this after batch 0
      .option("startingOffsets", startingOffsets)
      // false: a compacted/expired offset (common on long-retention CDC
      // topics) logs and continues instead of killing the pipeline —
      // the loader is idempotent, replays converge
      .option("failOnDataLoss", failOnDataLoss.toString)
    maxOffsetsPerTrigger.foreach(n => r.option("maxOffsetsPerTrigger", n))
    // kafka.* security/client tuning (SASL, SSL, fetch sizes …) passes
    // straight through to the consumer, as the reference's sarama config
    extraOptions.foreach { case (k, v) => r.option(k, v) }
    r.load()
  }

  /** Spark StructType of the raw (pre-transform) Debezium payload. */
  def payloadStructType(spec: TableSpec): StructType = StructType(
    spec.columns.map { c =>
      val t = c.debeziumType match {
        case "int16" => ShortType
        case "int32" | "int" | "date" => IntegerType
        case "long" | "bigint" | "timestamp" | "microtimestamp" | "time" |
             "microtime" => LongType
        case "float32" | "float" => FloatType
        case "float64" | "double" => DoubleType
        case "boolean" => BooleanType
        case _ => StringType
      }
      StructField(c.name, t, nullable = true)
    })

  /** Decode + transform + mask one schema-homogeneous group of frames.
    * Input needs `value` (framed bytes) and `offset` columns;
    * `keySchemaJson` (the Debezium key record) supplies primary keys. */
  def decodeGroup(
      frames: DataFrame,
      writerSchemaJson: String,
      cfg: TopicConfig,
      keySchemaJson: Option[String] = None): (DataFrame, TableSpec) = {
    val spec0 = DebeziumSchema.parseEnvelope(writerSchemaJson, keySchemaJson)
    val spec = DebeziumSchema.withMaskOverrides(spec0, cfg.maskConfig)
    val envelope = DebeziumTransform.envelopeSchema(payloadStructType(spec0))
    val decoded = frames
      .withColumn("__env",
        ConfluentAvro.decode(col("value"), writerSchemaJson, envelope))
      .select(col("offset"), col("__env.before").as("before"),
        col("__env.after").as("after"))
    val transformed = DebeziumTransform(decoded, spec0)
    val masked =
      if (cfg.maskEnabled)
        new Masker(cfg.maskConfig, cfg.salt)(transformed, cfg.maskTableName)
      else transformed
    // COPY value policies (redshift.go:875-887): every load the reference
    // runs clamps oversized varchars (TRUNCATECOLUMNS) and replaces
    // invalid UTF-8 (ACCEPTINVCHARS) server-side; apply the same
    // projection before any sink sees the rows so the single-job and
    // batcher/loader paths both load what Redshift would have kept.
    (graft.warehouse.CopyOptions.clamp(masked, spec), spec)
  }

  /** The foreachBatch body: the batcher half ([[stage]]) handing each
    * schema-id group straight to the loader half ([[load]]), in memory.
    * Returns the per-group Job audit records. */
  def processBatch(
      batch: DataFrame,
      fetcher: SchemaFetcher,
      catalog: TableStore,
      cfg: TopicConfig): Seq[Job] = {
    val tag = tagOf(cfg)
    try Metrics.withTable(tag)(Metrics.time(tag, "loader_seconds")(
      stage(batch, fetcher, cfg)(load(_, catalog, cfg))))
    finally Metrics.drainUnpersist() // free the stage checkpoints
  }

  private[streaming] def tagOf(cfg: TopicConfig): String =
    s"${cfg.targetSchema}.${cfg.targetTable}"

  /** What the batcher half hands the loader half for one schema id: the
    * staged rows (decoded, transformed and masked), their Job record and
    * the key schema's primary keys. */
  private[streaming] final case class Staged(rows: DataFrame, job: Job,
      keyPks: Seq[String])

  /** The batcher half: tombstone filter → per-schema-id groups (T3) →
    * decode/transform/mask, each group checkpointed and handed to `each`
    * in schema-id order. The checkpoints stay cached until the caller's
    * `Metrics.drainUnpersist()`, after its terminal write. */
  private[streaming] def stage[T](
      batch: DataFrame,
      fetcher: SchemaFetcher,
      cfg: TopicConfig)(each: Staged => T): Seq[T] = {
    val tag = tagOf(cfg)
    // Primary keys come from the Kafka key schema (the reference's
    // schemaIdKey, serializer/message.go:25-37): one framed key's schema
    // id, resolved against the registry. Keys get the same framing guard
    // as values: with a non-Avro key converter upstream (JSON/string
    // keys), schemaId would yield garbage and schemaById would kill the
    // stream — unframed keys fall back to the no-key-schema PK path.
    val keySid =
      if (batch.columns.contains("key"))
        when(ConfluentAvro.isFramed(col("key")), ConfluentAvro.schemaId(col("key")))
      else lit(null).cast(IntegerType)
    // The batch header — schema ids (one per concurrent schema version:
    // almost always 1, briefly 2 during a migration), the batcher byte
    // and message counters and the key schema id — rides the ONE job
    // that checkpoints the framed batch, as an observed metric. Every
    // later step reads the checkpoint, so the source is fetched once per
    // trigger, not once per action.
    val hdrAggs = Seq(collect_set(col("__sid")).as("sids"),
      sum(octet_length(col("value"))).as("bytes"),
      count(lit(1)).as("n"), min(col("__ksid")).as("ksid"))
    val hdrObs = Observation()
    // Tombstones out (P11), then corrupt frames: anything without the
    // Confluent magic byte cannot be decoded — drop rather than kill the
    // stream (the reference's deserializer rejects them per message,
    // serializer.go:56-64).
    val frames = DebeziumTransform.dropTombstones(batch)
      .filter(ConfluentAvro.isFramed(col("value")))
      .select(col("offset"), col("value"),
        ConfluentAvro.schemaId(col("value")).as("__sid"), keySid.as("__ksid"))
      .observe(hdrObs, hdrAggs.head, hdrAggs.tail: _*)
      .localCheckpoint()
    Metrics.deferUnpersist(frames)
    val hdr = observedRow(hdrObs, frames, hdrAggs)
    val sids = hdr.getSeq[Int](0).toSeq.sorted
    Metrics.add(tag, "batcher_bytes_processed",
      if (hdr.isNullAt(1)) 0L else hdr.getLong(1))
    Metrics.add(tag, "batcher_messages_processed", hdr.getLong(2))
    val keySchemaId = if (hdr.isNullAt(3)) -1 else hdr.getInt(3)
    val keySchemaJson =
      Option.when(keySchemaId >= 0)(fetcher.schemaById(keySchemaId))

    sids.map { sid =>
      val group = frames.filter(col("__sid") === sid)
      val (masked, spec) =
        decodeGroup(group, fetcher.schemaById(sid), cfg, keySchemaJson)
      // copystage analog: ONE job checkpoints the decode→transform→mask
      // result — the reference's staging-table COPY
      // (load_processor.go:386-444 stage population) — and the per-op
      // counts (R6) and offset bounds ride it as an observed metric.
      def opCount(op: String) =
        sum(when(col(Cdc.OperationColumn) === op, 1L).otherwise(0L))
      val stageAggs = Seq(
        opCount(Cdc.OpCreate).as("c"), opCount(Cdc.OpUpdate).as("u"),
        opCount(Cdc.OpDelete).as("d"),
        min(col(Cdc.OffsetColumn).cast(LongType)).as("lo"),
        max(col(Cdc.OffsetColumn).cast(LongType)).as("hi"))
      val stageObs = Observation()
      val rows = Metrics.time(tag, "loader_copystage_seconds")(
        masked.observe(stageObs, stageAggs.head, stageAggs.tail: _*)
          .localCheckpoint())
      Metrics.deferUnpersist(rows)
      val hdr2 = observedRow(stageObs, rows, stageAggs)
      def cnt(i: Int) = if (hdr2.isNullAt(i)) 0L else hdr2.getLong(i)
      each(Staged(rows, Job(
        upstreamTopic = cfg.topic,
        startOffset = cnt(3),
        endOffset = cnt(4),
        schemaId = sid,
        schemaIdKey = keySchemaId,
        skipMerge = CdcMerge.skipMergeEligible(cnt(0), cnt(1), cnt(2)),
        createEvents = cnt(0),
        updateEvents = cnt(1),
        deleteEvents = cnt(2)), spec.primaryKeys))
    }
  }

  /** The loader half: append a skipMerge-eligible batch straight in (R5),
    * merge everything else (R1-R4). Returns the Job with the final
    * skipMerge decision. */
  private[streaming] def load(
      staged: Staged,
      catalog: TableStore,
      cfg: TopicConfig): Job = {
    val Staged(stage, job, keyPks) = staged
    val tag = tagOf(cfg)
    // PK precedence: explicit config > key schema > first column.
    val pks =
      if (cfg.primaryKeys.nonEmpty) cfg.primaryKeys
      else if (keyPks.nonEmpty) keyPks
      else stage.columns
        .find(c => c != Cdc.OffsetColumn && c != Cdc.OperationColumn).toSeq
    // R5 applies only when the batch's data columns exactly match the
    // live table's, by name and type (the BucketedCatalog partition
    // column is layout, not data): parquet append doesn't widen the read
    // schema, so a schema change (D4 add/drop column, D5 int → bigint)
    // must go through the merge rewrite — appended INT64 files in an
    // INT32 table fail every later read. The reference likewise migrates
    // the table before any load (load_processor.go:395-444). Last, the
    // store records the batch's range before the append writes a row: a
    // replay of an appended batch finds it recorded and merges.
    val skip = job.skipMerge &&
      catalog.exists(cfg.targetSchema, cfg.targetTable) && {
        def types(s: StructType) = s.fields.map(f => f.name -> f.dataType).toMap
        val tgt = types(catalog.load(cfg.targetSchema, cfg.targetTable).schema) -
          graft.warehouse.BucketedCatalog.BucketCol
        types(CdcMerge.insertable(stage).schema) == tgt
      } && catalog.claimAppend(cfg.targetSchema, cfg.targetTable,
        s"${job.schemaId}-${job.startOffset}-${job.endOffset}")
    // copytarget: the write into the live table (with phase breakdown
    // on, the merge phases checkpoint themselves first, so this is
    // the write proper; off, it's the whole fused merge job)
    Metrics.time(tag, "loader_copytarget_seconds") {
      if (skip)
        catalog.append(cfg.targetSchema, cfg.targetTable,
          CdcMerge.insertable(stage), pks)
      else
        catalog.merge(cfg.targetSchema, cfg.targetTable, stage, pks)
    }
    Metrics.add(tag, "loader_messages_loaded",
      job.createEvents + job.updateEvents + job.deleteEvents)
    job.copy(skipMerge = skip)
  }

  /** The observed header row of a checkpoint, or — if the metric never
    * arrives (see [[Observed]]) — the same aggregates recounted over the
    * checkpoint, one extra job on cached blocks. */
  private def observedRow(obs: Observation, checkpoint: DataFrame,
      aggs: Seq[Column]): Row =
    Observed.row(obs).getOrElse(checkpoint.agg(aggs.head, aggs.tail: _*).head())

  /** One query per topic (T7/O2: the reference's per-topic consumer
    * fleet). Each topic gets its own checkpoint subdirectory and target
    * table; queries run concurrently in the session's scheduler. */
  def startAll(
      sources: Seq[(DataFrame, TopicConfig)],
      fetcher: SchemaFetcher,
      catalog: TableStore,
      checkpointRoot: String,
      maxWaitSeconds: Int = 30,
      onBatch: (TopicConfig, Seq[Job]) => Unit = (_, _) => ()): Seq[StreamingQuery] =
    sources.map { case (src, cfg) =>
      start(src, fetcher, catalog, cfg,
        s"$checkpointRoot/${cfg.targetSchema}.${cfg.targetTable}",
        maxWaitSeconds, jobs => onBatch(cfg, jobs))
    }

  /** Start the streaming query (T2 processing-time trigger, T6 checkpoint).
    * `onBatch` receives the Job audit records of each micro-batch. */
  def start(
      source: DataFrame,
      fetcher: SchemaFetcher,
      catalog: TableStore,
      cfg: TopicConfig,
      checkpointDir: String,
      maxWaitSeconds: Int = 30,
      onBatch: Seq[Job] => Unit = _ => ()): StreamingQuery =
    source.writeStream
      // schema-qualified: two topics loading same-named tables in
      // different schemas must not collide on the query name (Spark
      // rejects duplicate active names, and RealtimeTracker keys on it)
      .queryName(s"graft-cdc-${cfg.targetSchema}-${cfg.targetTable}")
      .trigger(Trigger.ProcessingTime(s"$maxWaitSeconds seconds"))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        onBatch(processBatch(batch, fetcher, catalog, cfg))
      }
      .start()
}
