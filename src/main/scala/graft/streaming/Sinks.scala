package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}

/** S4 — the batcher's NDJSON.gz object sink (tipoca-stream
  * pkg/redshiftbatcher/batch_processor.go:381-493): newline-delimited JSON,
  * gzip, one directory per (group, topic, maskVersion). Spark's JSON writer
  * omits null fields by default — the reference's null-strip (P10) for
  * free — and writes one object per task, the distributed analogue of the
  * reference's one-object-per-batch.
  */
object NdjsonGzSink {

  /** Batch key layout mirroring the reference's S3 key scheme
    * (batch_processor.go:202-232). */
  def batchDir(root: String, group: String, topic: String,
      maskVersion: Option[String] = None): String =
    (Seq(root, group, topic) ++ maskVersion.toSeq).mkString("/")

  /** Replaces `dir`: a batch replayed under its batch id rewrites its
    * objects instead of adding a second copy beside them. */
  def write(df: DataFrame, dir: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("compression", "gzip")
      .json(dir)

  /** Read a batcher output directory back (loader side; replaces the S3
    * manifest — Spark reads the file listing natively, SURVEY §2.1 S8). */
  def read(spark: org.apache.spark.sql.SparkSession, dir: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r = spark.read
    schema.foreach(r.schema)
    r.json(dir)
  }
}
