package graft.warehouse

import graft.merge.CdcMerge
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._
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
  *
  * WRITER MEMO. Every merge rewrites the whole table, and with parquet's
  * defaults each task builds a dictionary for every column, finds at the
  * column's first page that a high-cardinality one (ids, emails, phone
  * numbers) does not pay, and re-encodes that page PLAIN. A per-table memo
  * skips the wasted dictionary: after a write made with parquet's defaults
  * it records, from the new files' footers (read once, on the driver), the
  * columns whose chunks carry no dictionary page in every new file, and
  * the largest new file's bytes. Later writes of the table pass
  * `parquet.enable.dictionary#<col>=false` for exactly those columns.
  *
  * The memo is re-probed — written with defaults and recorded afresh —
  * whenever there is none (after [[save]], [[migrate]], [[release]],
  * [[drop]], or in a new catalog instance) and whenever the table's
  * largest data file has doubled in bytes since the memo. A footer cannot
  * carry the evidence itself: a column written without a dictionary
  * looks like one parquet gave up on, so a decision taken on small first
  * files would stick as the table grows into a size where the dictionary
  * pays. The doubling check reads the size from the directory listing
  * [[load]] already makes, so a merge opens no footer and lists nothing
  * extra for it.
  *
  * Bytes do not change: when parquet gives up on a dictionary at the
  * first page it re-encodes that page PLAIN and writes no dictionary page,
  * which is what the memo asks for from the start. A column that falls
  * back later, or keeps its dictionary, has a dictionary page and stays on
  * the defaults. The memo only picks encodings, never values or schema: a
  * stale or lost one costs time or bytes, never correctness. [[load]]
  * neither reads nor writes it.
  */
final class ParquetCatalog(spark: SparkSession, root: String)
    extends TableStore {

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def tablePath(schema: String, table: String): String = s"$root/$schema/$table"

  /** Footer key under which Spark's parquet writer stores the row schema
    * (`ParquetReadSupport.SPARK_METADATA_KEY`). */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Parquet's dictionary switch; `<key>#<column path>` sets one column. */
  private val DictionaryKey = "parquet.enable.dictionary"

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
  def load(schema: String, table: String): DataFrame =
    loadListed(schema, table)._1

  /** [[load]], with the bytes of the table's largest data file from the
    * same directory listing (0 when it cannot be listed). */
  private def loadListed(schema: String, table: String): (DataFrame, Long) = {
    val target = new Path(tablePath(schema, table))
    val path = AtomicDir.readablePath(fs, target).getOrElse(target)
    val listing = Try(fs.listStatus(path)).toOption
    val df = listing.flatMap(writtenSchema) match {
      case Some(s) => spark.read.schema(s).parquet(path.toString)
      case None => spark.read.parquet(path.toString)
    }
    (df, listing.fold(0L)(l => dataFiles(l).map(_.getLen).foldLeft(0L)(math.max)))
  }

  /** Entries Spark's file listing skips. */
  private def hidden(n: String) = (n.startsWith("_") && !n.contains("=")) ||
    n.startsWith(".") || n.endsWith("._COPYING_")

  private def dataFiles(listing: Array[FileStatus]): Array[FileStatus] =
    listing.filter(f => f.isFile && !hidden(f.getPath.getName))

  private def footer(f: Path): ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f,
      spark.sparkContext.hadoopConfiguration))
    try reader.getFooter finally reader.close()
  }

  /** The Spark schema stored in the footer that parquet schema inference
    * reads when it does not merge schemas: `_common_metadata`, else
    * `_metadata`, else the first data file by path. None when schema
    * merging is on, the directory holds a visible subdirectory (a
    * partitioned layout), or the footer carries no Spark schema. */
  private def writtenSchema(listing: Array[FileStatus]): Option[StructType] =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
    else Try {
      val (dirs, files) = listing.partition(_.isDirectory)
      val paths = files.map(_.getPath).sortBy(_.toString)
      def named(n: String) = paths.find(_.getName == n)
      val first =
        if (dirs.exists(d => !hidden(d.getPath.getName))) None
        else named("_common_metadata").orElse(named("_metadata"))
          .orElse(paths.find(p => !hidden(p.getName)))
      first.flatMap { f =>
        Option(footer(f).getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
          .map(j => DataType.fromJson(j).asInstanceOf[StructType])
      }
    }.toOption.flatten

  /** A table's writer memo: the columns parquet wrote without a
    * dictionary page in every file of the last default-settings write,
    * and that write's largest file in bytes. */
  private case class Memo(plain: Seq[String], largest: Long)

  private val memos = new ConcurrentHashMap[(String, String), Memo]()

  /** The one write path of [[save]], [[append]], [[merge]] and
    * [[migrate]]: `df` into `dir` for `schema.table`. With a memo, and
    * unless the table's largest data file (`largest`, from the caller's
    * listing; 0 when it has none) has doubled since the memo was made,
    * the memo's columns are written without a dictionary. Otherwise the
    * write keeps parquet's defaults and its new files' footers make the
    * memo afresh. */
  private def write(schema: String, table: String, df: DataFrame,
      mode: SaveMode, dir: String, largest: Long): Unit = {
    val key = (schema, table)
    val memo = Option(memos.get(key)).filter(m => largest < 2 * m.largest)
    val writer = memo.toSeq.flatMap(_.plain)
      .foldLeft(df.write.mode(mode))((w, c) => w.option(s"$DictionaryKey#$c", "false"))
    if (memo.isDefined) writer.parquet(dir)
    else {
      val p = new Path(dir)
      def files() = Try(dataFiles(fs.listStatus(p))).getOrElse(Array.empty[FileStatus])
      val before = if (mode == SaveMode.Append) files().map(_.getPath).toSet else Set.empty[Path]
      writer.parquet(dir)
      Try(probe(files().filterNot(f => before(f.getPath)))).toOption match {
        case Some(m) => memos.put(key, m)
        case None => memos.remove(key)
      }
    }
  }

  /** The memo of a default-settings write, from its new files' footers:
    * a column is PLAIN when no chunk of it in any file has a dictionary
    * page (files without row groups say nothing). */
  private def probe(files: Array[FileStatus]): Memo = {
    val chunks = files.toSeq.flatMap(f => footer(f.getPath).getBlocks.asScala)
      .flatMap(_.getColumns.asScala)
    val plain = chunks.groupBy(_.getPath.toDotString).collect {
      case (c, cs) if !cs.exists(_.hasDictionaryPage) => c
    }
    Memo(plain.toSeq, files.map(_.getLen).foldLeft(0L)(math.max))
  }

  /** Create-or-replace from a DataFrame (D3 analogue — schema is carried by
    * parquet, no DDL needed). */
  def save(schema: String, table: String, df: DataFrame): Unit = {
    memos.remove((schema, table))
    write(schema, table, df, SaveMode.Overwrite, tablePath(schema, table), 0L)
  }

  /** R5 skipMerge fast path: append-only load. */
  def append(schema: String, table: String, df: DataFrame): Unit =
    write(schema, table, df, SaveMode.Append, tablePath(schema, table), 0L)

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
      val (target, largest) = loadListed(schema, table)
      write(schema, table, CdcMerge.merge(target, stage, pks), SaveMode.Overwrite,
        tablePath(schema, table + "__merging"), largest)
      swapInto(schema, table, table + "__merging")
    }
  }

  /** D5 — table-replace migration: rewrite with a schema-transforming
    * function, then swap. */
  def migrate(schema: String, table: String)(transform: DataFrame => DataFrame): Unit = {
    recoverSwap(schema, table)
    memos.remove((schema, table))
    val shadow = table + "__migrating"
    write(schema, table, transform(load(schema, table)), SaveMode.Overwrite,
      tablePath(schema, shadow), 0L)
    swapInto(schema, table, shadow)
  }

  /** D7 — release: atomically promote `<table><suffix>` (e.g. a
    * `_reload_v2` rebuild) to `<table>`. A merge into the source that
    * crashed mid-swap left it at `<table><suffix>__old`; it is recovered
    * first, as [[exists]] would, since an empty trigger never calls that. */
  def release(schema: String, table: String, suffix: String): Unit = {
    memos.remove((schema, table))
    memos.remove((schema, table + suffix))
    recoverSwap(schema, table + suffix)
    swapInto(schema, table, table + suffix)
  }

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

  def drop(schema: String, table: String): Unit = {
    memos.remove((schema, table))
    fs.delete(new Path(tablePath(schema, table)), true)
  }
}
