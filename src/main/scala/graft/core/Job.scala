package graft.core

/** The batcher→loader signal record (SURVEY §1; FIXTURES.md §6 — reference
  * pkg/redshiftloader/job.go:10-46). In the single-Spark-job design the Job
  * is produced and consumed in-process; it survives as the audit record of
  * each micro-batch load and as the wire format if batcher and loader run
  * as separate streams.
  */
final case class Job(
    upstreamTopic: String,
    startOffset: Long,
    endOffset: Long,
    csvDialect: String = "json",
    s3Path: String = "",
    schemaId: Int = 0,
    schemaIdKey: Int = -1,
    maskSchema: String = "",
    extraMaskSchema: String = "",
    skipMerge: Boolean = false,
    batchBytes: Long = 0L,
    createEvents: Long = 0L,
    updateEvents: Long = 0L,
    deleteEvents: Long = 0L)
