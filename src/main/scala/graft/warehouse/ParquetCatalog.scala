package graft.warehouse

import graft.merge.CdcMerge
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import scala.util.Try

/** Spark-native warehouse: each table is a parquet directory under
  * `root/<schema>/<table>`. Replaces the reference's Redshift target for
  * the pure-Spark path; the JDBC DDL path ([[Ddl]]) covers external
  * warehouses.
  *
  * Provides the loader's table lifecycle (SURVEY §2.6):
  *  - D5 table-replace migration = rewrite into `<table>__migrating`, swap;
  *  - D7 release = atomic directory rename of `<table>_reload_<v>`;
  *  - R1-R5 merge = [[CdcMerge.merge]] + rewrite + swap.
  *
  * Writes go to a shadow directory and swap in via two renames — readers
  * never observe a half-written table, matching the reference's
  * transactional discipline (load_processor.go:395-444). At 100 TB the
  * rewrite cost is why real deployments layer a transactional table format
  * on top; the merge itself (broadcast anti-join) only shuffles the
  * micro-batch, never the target.
  */
final class ParquetCatalog(spark: SparkSession, root: String)
    extends TableStore {

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def tablePath(schema: String, table: String): String = s"$root/$schema/$table"

  /** Footer key under which Spark's parquet writer stores the row schema
    * (`ParquetReadSupport.SPARK_METADATA_KEY`). */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  def exists(schema: String, table: String): Boolean = {
    recoverSwap(schema, table)
    fs.exists(new Path(tablePath(schema, table)))
  }

  /** Crash recovery for [[swapInto]]'s two-rename window: if a crash hit
    * between renaming the table aside and renaming the shadow in, the
    * table dir is missing while `<table>__old` holds the full pre-swap
    * data. Restoring it here means the replayed micro-batch (checkpoint
    * at-least-once semantics) merges against the real table — without
    * this, `merge()` would see `!exists` and silently re-create the table
    * from the one batch, and the next swap's trash cleanup would delete
    * the history. */
  private def recoverSwap(schema: String, table: String): Unit =
    AtomicDir.recover(fs, new Path(tablePath(schema, table)))

  /** The table as a DataFrame, with the schema `spark.read.parquet` would
    * infer but without its inference job: schema inference launches a
    * Spark job to read one footer, and every merge and read loads the
    * table. The Spark schema the writer stored in that footer's key-value
    * metadata is read here on the driver instead ([[writtenSchema]]);
    * directories without it (foreign writers, partitioned layouts) fall
    * back to inference.
    *
    * A reader: it mutates nothing, and mid-swap reads the table where
    * [[AtomicDir.readablePath]] finds it (`<table>__old`). Recovering
    * here would race a writer's swap ([[AtomicDir]]). */
  def load(schema: String, table: String): DataFrame = {
    val target = new Path(tablePath(schema, table))
    val path = AtomicDir.readablePath(fs, target).getOrElse(target)
    writtenSchema(path) match {
      case Some(s) => spark.read.schema(s).parquet(path.toString)
      case None => spark.read.parquet(path.toString)
    }
  }

  /** The Spark schema stored in the footer that parquet schema inference
    * reads when it does not merge schemas: `_common_metadata`, else
    * `_metadata`, else the first data file by path. Hidden entries are
    * the ones Spark's file listing skips. None when schema merging is on,
    * the directory holds a visible subdirectory (a partitioned layout),
    * or the footer carries no Spark schema. */
  private def writtenSchema(dir: Path): Option[StructType] =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
    else Try {
      def hidden(n: String) = (n.startsWith("_") && !n.contains("=")) ||
        n.startsWith(".") || n.endsWith("._COPYING_")
      val (dirs, files) = fs.listStatus(dir).partition(_.isDirectory)
      val paths = files.map(_.getPath).sortBy(_.toString)
      def named(n: String) = paths.find(_.getName == n)
      val footer =
        if (dirs.exists(d => !hidden(d.getPath.getName))) None
        else named("_common_metadata").orElse(named("_metadata"))
          .orElse(paths.find(p => !hidden(p.getName)))
      footer.flatMap { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f,
          spark.sparkContext.hadoopConfiguration))
        val kv = try reader.getFooter.getFileMetaData.getKeyValueMetaData
          finally reader.close()
        Option(kv.get(SparkSchemaKey)).map(j =>
          DataType.fromJson(j).asInstanceOf[StructType])
      }
    }.toOption.flatten

  /** Create-or-replace from a DataFrame (D3 analogue — schema is carried by
    * parquet, no DDL needed). */
  def save(schema: String, table: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(tablePath(schema, table))

  /** R5 skipMerge fast path: append-only load. */
  def append(schema: String, table: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).parquet(tablePath(schema, table))

  override def append(schema: String, table: String, df: DataFrame,
      pks: Seq[String]): Unit = append(schema, table, df)

  /** Full SCD-1 merge of a CDC micro-batch into the table (R1-R4). The
    * result is rewritten through a shadow dir + swap. */
  def merge(schema: String, table: String, stage: DataFrame,
      pks: Seq[String]): Unit = {
    if (!exists(schema, table)) {
      save(schema, table,
        CdcMerge.insertable(CdcMerge.dropDeleteOps(CdcMerge.dedupe(stage, pks))))
    } else {
      val merged = CdcMerge.merge(load(schema, table), stage, pks)
      val shadow = tablePath(schema, table + "__merging")
      merged.write.mode(SaveMode.Overwrite).parquet(shadow)
      swapInto(schema, table, table + "__merging")
    }
  }

  /** D5 — table-replace migration: rewrite with a schema-transforming
    * function, then swap. */
  def migrate(schema: String, table: String)(transform: DataFrame => DataFrame): Unit = {
    recoverSwap(schema, table)
    val shadow = table + "__migrating"
    transform(load(schema, table)).write.mode(SaveMode.Overwrite)
      .parquet(tablePath(schema, shadow))
    swapInto(schema, table, shadow)
  }

  /** D7 — release: atomically promote `<table><suffix>` (e.g. a
    * `_reload_v2` rebuild) to `<table>`. */
  def release(schema: String, table: String, suffix: String): Unit =
    swapInto(schema, table, table + suffix)

  /** Two-rename swap: target → trash, source → target, drop trash
    * (shared protocol: [[AtomicDir]]). */
  private def swapInto(schema: String, target: String, source: String): Unit =
    AtomicDir.swapInto(fs, new Path(tablePath(schema, target)),
      new Path(tablePath(schema, source)))

  /** S7 — UNLOAD equivalent: export a table (optionally DISTINCT) as CSV,
    * the reference's table-scan-to-object-store path (redshift.go:812-838).
    * Spark writes one file per partition; no manifest needed (S8) — readers
    * list the directory. */
  def unload(schema: String, table: String, outPath: String,
      distinct: Boolean = false): Unit = {
    val df0 = load(schema, table)
    val df = if (distinct) df0.distinct() else df0
    df.write.mode(SaveMode.Overwrite)
      .option("header", "true").option("escape", "\"").csv(outPath)
  }

  def drop(schema: String, table: String): Unit =
    fs.delete(new Path(tablePath(schema, table)), true)
}
