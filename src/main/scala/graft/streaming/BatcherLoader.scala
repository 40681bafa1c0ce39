package graft.streaming

import graft.core.{Job, Metrics}
import graft.sources.SchemaFetcher
import graft.warehouse.TableStore
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The reference's two-process architecture (SURVEY §3.1/§3.2), for
  * deployments that want the batcher and loader decoupled by an object
  * store. Both run the halves of the single-job
  * [[CdcStream.processBatch]], with NDJSON.gz objects between them:
  *
  *  - [[Batcher.processBatch]] — [[CdcStream.stage]] → NDJSON.gz objects
  *    + a [[Job]] signal per schema-id group (the reference's batcher →
  *    S3 + signal topic);
  *  - [[Loader.load]] — NDJSON objects → [[CdcStream.load]] (the
  *    reference's loader: COPY → staged merge).
  *
  * Job records travel however the deployment likes (Kafka signal topic,
  * queue, driver memory); they are plain case classes.
  */
object Batcher {

  /** Process one micro-batch into `outRoot`: one NDJSON.gz directory per
    * (topic, schemaId, batchId). Returns the Job signals. */
  def processBatch(
      batch: DataFrame,
      batchId: Long,
      fetcher: SchemaFetcher,
      cfg: CdcStream.TopicConfig,
      outRoot: String,
      group: String = "graft"): Seq[Job] =
    try CdcStream.stage(batch, fetcher, cfg) { s =>
      val dir = NdjsonGzSink.batchDir(outRoot, group, cfg.topic) +
        s"/${s.job.schemaId}/batch_$batchId"
      NdjsonGzSink.write(s.rows, dir)
      s.job.copy(s3Path = dir, batchBytes = dirBytes(s.rows.sparkSession, dir))
    } finally Metrics.drainUnpersist() // free the stage checkpoints

  private def dirBytes(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.getContentSummary(p).getLength
  }
}

object Loader {

  /** Load one Job's objects into the target table through
    * [[CdcStream.load]]. `pks` are the key schema's primary keys; an
    * explicit `cfg.primaryKeys` still wins. */
  def load(
      spark: SparkSession,
      job: Job,
      catalog: TableStore,
      cfg: CdcStream.TopicConfig,
      pks: Seq[String]): Unit = {
    val raw = NdjsonGzSink.read(spark, job.s3Path)
    // Conform NDJSON-inferred types to the live table: per-batch JSON
    // inference can flip a column's type (all-numeric strings → bigint),
    // and a name-only gate would then let a type-divergent parquet slice
    // into the append path. Casting aligns the types; a genuinely
    // unconvertible value fails loudly under ANSI instead of writing
    // mixed-type parquet. NDJSON also drops all-null columns on write;
    // the load half's column-set gate routes such a batch through the
    // merge rewrite instead of the append.
    val stage =
      if (catalog.exists(cfg.targetSchema, cfg.targetTable)) {
        val tgtTypes = catalog.load(cfg.targetSchema, cfg.targetTable)
          .schema.map(f => f.name -> f.dataType).toMap
        raw.columns.foldLeft(raw) { (df, c) =>
          tgtTypes.get(c).filter(_ != df.schema(c).dataType)
            .map(t => df.withColumn(c, col(c).cast(t))).getOrElse(df)
        }
      } else raw
    try Metrics.withTable(CdcStream.tagOf(cfg))(
      CdcStream.load(CdcStream.Staged(stage, job, pks), catalog, cfg))
    finally Metrics.drainUnpersist()
  }
}
