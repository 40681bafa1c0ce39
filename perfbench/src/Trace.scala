package perfbench

import graft.cdc.DebeziumTransform
import graft.core.{Cdc, Metrics}
import graft.mask.Masker
import graft.merge.CdcMerge
import graft.schema.DebeziumSchema
import graft.sources.{ConfluentAvro, SchemaFetcher}
import graft.streaming.CdcStream
import graft.warehouse.{BucketedCatalog, CopyOptions, TableStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** In-memory span recorder: name, start, end, parent span, trigger id.
  * Each span also tags the Spark jobs it starts (thread-local property),
  * so task counters can be read per layer. A span can also carry a child
  * the program timed itself ([[timed]]), of which only the duration is
  * known. */
final class Tracer(spark: SparkSession) {
  import Tracer.Span
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var trigger = -1L

  def inTrigger[T](id: Long)(f: => T): T = {
    trigger = id
    spark.sparkContext.setLocalProperty(JobCounter.TriggerProp, s"t$id")
    try span("trigger")(f)
    finally spark.sparkContext.setLocalProperty(JobCounter.TriggerProp, null)
  }

  def span[T](name: String)(f: => T): T = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, parent, trigger, name, System.nanoTime(), 0L, positioned = true)
    stack = id :: stack
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(JobCounter.SpanProp)
    sc.setLocalProperty(JobCounter.SpanProp, name)
    try f
    finally {
      sc.setLocalProperty(JobCounter.SpanProp, prevProp)
      stack = stack.tail
      spans(id) = spans(id).copy(endNs = System.nanoTime())
    }
  }

  /** Record a child of the current span that took `seconds`, as timed
    * by the program; it has no start or end of its own. */
  def timed(name: String, seconds: Double): Unit =
    spans += Span(spans.size, stack.headOption.getOrElse(-1), trigger, name, 0L,
      (seconds * 1e9).toLong, positioned = false)

  /** Span duration minus the time its direct children cover. */
  def selfSeconds: Map[Int, Double] = {
    val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.map(s => s.id -> (s.endNs - s.startNs - childNs(s.id)) / 1e9).toMap
  }

  /** Self seconds summed per span name. */
  def selfByName: Map[String, Double] = {
    val self = selfSeconds
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }

  def write(path: String): Unit = {
    val self = selfSeconds
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val out = new java.io.PrintWriter(path, "UTF-8")
    def at(ns: Long) = f"${(ns - t0) / 1e9}%.6f"
    try spans.foreach { s =>
      val (start, end) = if (s.positioned) (at(s.startNs), at(s.endNs)) else ("null", "null")
      out.println(f"""{"id": ${s.id}, "parent": ${s.parent}, "trigger": ${s.trigger}, "name": "${s.name}", "start_s": $start, "end_s": $end, "seconds": ${s.seconds}%.6f, "self_s": ${self(s.id)}%.6f}""")
    } finally out.close()
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, trigger: Long, name: String,
      startNs: Long, endNs: Long, positioned: Boolean) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}

/** The pipeline of `CdcStream.processBatch`, called layer by layer from
  * outside, in the same order and on the same batch, with every layer's
  * result materialized before the next layer starts so each span holds
  * only its own work. The merge runs once, inside the write call; with
  * `Metrics.enablePhaseBreakdown` on, the program times its dedupe,
  * delete-common and delete-op phases itself, and they are recorded as
  * children of the write span. Lands the same table as `processBatch`. */
final class TracedPipeline(spark: SparkSession, tracer: Tracer,
    fetcher: SchemaFetcher, store: TableStore, cfg: CdcStream.TopicConfig) {

  /** Framed ÷ non-tombstone messages, per trigger. */
  val framedRatio = mutable.ArrayBuffer.empty[Double]
  private val pinned = mutable.ArrayBuffer.empty[DataFrame]
  private val tag = s"${cfg.targetSchema}.${cfg.targetTable}"
  /** The program's merge phases and the span each is recorded as. */
  private val phases = Seq("dedupe" -> "merge.dedupe",
    "deletecommon" -> "merge.deletecommon", "deleteop" -> "merge.insert")

  private def pin(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(eager = true)
    pinned += c
    c
  }

  private def phaseTotals: Seq[(Long, Double)] = phases.map { case (p, _) =>
    Metrics.get(tag, s"loader_${p}_seconds").map(s => (s.count, s.sum)).getOrElse((0L, 0.0))
  }

  def apply(batch: DataFrame): Unit = try {
    val (frames, sids, total) = tracer.span("sources.frame") {
      val nonTomb = DebeziumTransform.dropTombstones(batch)
      val f = pin(nonTomb
        .withColumn("__framed", ConfluentAvro.isFramed(col("value"))))
      val h = f.agg(count(lit(1)), sum(when(col("__framed"), 1L).otherwise(0L)))
        .head()
      val all = h.getLong(0)
      val framedN = if (h.isNullAt(1)) 0L else h.getLong(1)
      if (all > 0) framedRatio += framedN.toDouble / all
      val fr = pin(f.filter(col("__framed")).drop("__framed")
        .withColumn("__sid", ConfluentAvro.schemaId(col("value"))))
      val ids = fr.agg(collect_set(col("__sid"))).head().getSeq[Int](0)
      (fr, ids.sorted, framedN)
    }
    val keySchema = tracer.span("schema.fetch") {
      frames.filter(ConfluentAvro.isFramed(col("key")))
        .select(ConfluentAvro.schemaId(col("key"))).limit(1).collect()
        .headOption.map(r => fetcher.schemaById(r.getInt(0)))
    }
    if (total > 0) sids.foreach { sid =>
      val group = frames.filter(col("__sid") === sid)
      val writer = tracer.span("schema.fetch")(fetcher.schemaById(sid))
      val (spec0, spec) = tracer.span("schema.parse") {
        val s0 = DebeziumSchema.parseEnvelope(writer, keySchema)
        (s0, DebeziumSchema.withMaskOverrides(s0, cfg.maskConfig))
      }
      val envelope = DebeziumTransform.envelopeSchema(CdcStream.payloadStructType(spec0))
      val decoded = tracer.span("sources.decode")(pin(group
        .withColumn("__env", ConfluentAvro.decode(col("value"), writer, envelope))
        .select(col("offset"), col("__env.before").as("before"),
          col("__env.after").as("after"))))
      val transformed = tracer.span("cdc.transform")(pin(DebeziumTransform(decoded, spec0)))
      val masked = tracer.span("mask.apply")(pin(
        if (cfg.maskEnabled) new Masker(cfg.maskConfig, cfg.salt)(transformed, cfg.maskTableName)
        else transformed))
      val stage = tracer.span("warehouse.clamp")(pin(CopyOptions.clamp(masked, spec)))
      val ops = tracer.span("streaming.header") {
        def opCount(op: String) = sum(when(col(Cdc.OperationColumn) === op, 1L).otherwise(0L))
        val h = stage.agg(opCount(Cdc.OpCreate), opCount(Cdc.OpUpdate),
          opCount(Cdc.OpDelete)).head()
        (0 to 2).map(i => if (h.isNullAt(i)) 0L else h.getLong(i))
      }
      val pks =
        if (cfg.primaryKeys.nonEmpty) cfg.primaryKeys
        else if (spec.primaryKeys.nonEmpty) spec.primaryKeys
        else Seq(spec.columns.head.lowerName)
      val tgt = (cfg.targetSchema, cfg.targetTable)
      val skip = CdcMerge.skipMergeEligible(ops(0), ops(1), ops(2)) &&
        store.exists(tgt._1, tgt._2) &&
        CdcMerge.insertable(stage).columns.toSet ==
          store.load(tgt._1, tgt._2).columns.toSet - BucketedCatalog.BucketCol
      tracer.span("warehouse.write") {
        val before = phaseTotals
        Metrics.withTable(tag) {
          if (skip) store.append(tgt._1, tgt._2, CdcMerge.insertable(stage), pks)
          else store.merge(tgt._1, tgt._2, stage, pks)
        }
        phases.zip(phaseTotals.zip(before)).foreach { case ((_, name), ((n1, s1), (n0, s0))) =>
          if (n1 > n0) tracer.timed(name, s1 - s0)
        }
      }
    }
  } finally {
    Metrics.drainUnpersist()
    pinned.foreach(_.unpersist())
    pinned.clear()
  }
}
