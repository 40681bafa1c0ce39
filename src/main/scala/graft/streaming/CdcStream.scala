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
  * here a single `foreachBatch` does both, and the Job record survives as
  * the per-batch audit trail. Checkpointing replaces hand-rolled offset
  * marking (T5/T6): the merge is idempotent (last-writer-wins by
  * kafkaoffset), so at-least-once replay converges — the same design the
  * reference documents ("loader is idempotent").
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

  /** R5 column-set gate, shared by the single-job path and
    * [[Loader.load]]: append only when the batch's data columns exactly
    * match the live table's (the BucketedCatalog partition column is
    * layout, not data) — a schema change (D4 add/drop) must go through
    * the merge rewrite, as the reference migrates before any load
    * (load_processor.go:395-444). */
  private[streaming] def appendGateOk(catalog: TableStore, cfg: TopicConfig,
      stage: org.apache.spark.sql.DataFrame): Boolean =
    catalog.exists(cfg.targetSchema, cfg.targetTable) && {
      val tgtCols = catalog.load(cfg.targetSchema, cfg.targetTable)
        .columns.toSet - graft.warehouse.BucketedCatalog.BucketCol
      CdcMerge.insertable(stage).columns.toSet == tgtCols
    }

  /** The foreachBatch body: tombstone filter → per-schema-id groups (T3) →
    * decode/transform/mask → merge or skipMerge append (R1-R5). Returns the
    * per-group Job audit records. */
  def processBatch(
      batch: DataFrame,
      fetcher: SchemaFetcher,
      catalog: TableStore,
      cfg: TopicConfig): Seq[Job] = {
    val tag = s"${cfg.targetSchema}.${cfg.targetTable}"
    try Metrics.withTable(tag)(Metrics.time(tag, "loader_seconds")(
      processBatchTagged(batch, fetcher, catalog, cfg, tag)))
    finally Metrics.drainUnpersist() // free phase-breakdown checkpoints
  }

  private def processBatchTagged(
      batch: DataFrame,
      fetcher: SchemaFetcher,
      catalog: TableStore,
      cfg: TopicConfig,
      tag: String): Seq[Job] = {
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
    val sids = hdr.getSeq[Int](0).toArray
    Metrics.add(tag, "batcher_bytes_processed",
      if (hdr.isNullAt(1)) 0L else hdr.getLong(1))
    Metrics.add(tag, "batcher_messages_processed", hdr.getLong(2))
    val keySchemaJson: Option[String] =
      if (hdr.isNullAt(3)) None else Some(fetcher.schemaById(hdr.getInt(3)))

    sids.sorted.map { sid =>
      val group = frames.filter(col("__sid") === sid)
      val (masked, spec) =
        decodeGroup(group, fetcher.schemaById(sid), cfg, keySchemaJson)
      // copystage analog: ONE job checkpoints the decode→transform→mask
      // result — the reference's staging-table COPY
      // (load_processor.go:386-444 stage population) — and the per-op
      // counts (R6) and offset bounds ride it as an observed metric.
      // The checkpoint lives until processBatch drains it, after the
      // target write.
      def opCount(op: String) =
        sum(when(col(Cdc.OperationColumn) === op, 1L).otherwise(0L))
      val stageAggs = Seq(
        opCount(Cdc.OpCreate).as("c"), opCount(Cdc.OpUpdate).as("u"),
        opCount(Cdc.OpDelete).as("d"),
        min(col(Cdc.OffsetColumn).cast(LongType)).as("lo"),
        max(col(Cdc.OffsetColumn).cast(LongType)).as("hi"))
      val stageObs = Observation()
      val stage = Metrics.time(tag, "loader_copystage_seconds")(
        masked.observe(stageObs, stageAggs.head, stageAggs.tail: _*)
          .localCheckpoint())
      Metrics.deferUnpersist(stage)
      val hdr2 = observedRow(stageObs, stage, stageAggs)
      def cnt(i: Int) = if (hdr2.isNullAt(i)) 0L else hdr2.getLong(i)
      val (creates, updates, deletes) = (cnt(0), cnt(1), cnt(2))
      val (startOff, endOff) = (cnt(3), cnt(4))
      // R5 applies only when the batch's columns match the live table:
      // parquet append doesn't widen the read schema, so a schema change
      // (D4 add/drop column) must go through the merge rewrite — the
      // reference likewise migrates the table before any load
      // (load_processor.go:395-444).
      val skip = CdcMerge.skipMergeEligible(creates, updates, deletes) &&
        appendGateOk(catalog, cfg, stage)

      // PK precedence: explicit config > key schema > first column.
      val pks =
        if (cfg.primaryKeys.nonEmpty) cfg.primaryKeys
        else if (spec.primaryKeys.nonEmpty) spec.primaryKeys
        else Seq(spec.columns.head.lowerName)
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
        creates + updates + deletes)

      Job(
        upstreamTopic = cfg.topic,
        startOffset = startOff,
        endOffset = endOff,
        schemaId = sid,
        skipMerge = skip,
        createEvents = creates,
        updateEvents = updates,
        deleteEvents = deletes)
    }.toSeq
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
