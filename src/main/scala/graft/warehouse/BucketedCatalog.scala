package graft.warehouse

import graft.merge.CdcMerge
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** PK-hash-bucketed table store: the 100 TB answer to
  * [[ParquetCatalog]]'s full-table rewrite.
  *
  * Layout: `root/<schema>/<table>/bucket=<i>/…parquet`, where
  * `i = pmod(xxhash64(pk…), nBuckets)`. A CDC micro-batch touches few
  * distinct PKs → few buckets, so the merge:
  *
  *  1. buckets the stage rows (one narrow projection);
  *  2. reads ONLY the affected buckets of the target (`bucket IN (…)` is
  *     partition pruning — untouched data is never opened);
  *  3. runs the same broadcast-anti merge on that slice;
  *  4. rewrites only those bucket directories (shadow + per-bucket
  *     rename; readers see per-bucket atomicity).
  *
  * Rewrite cost goes from O(|target|) to O(|affected buckets|) ≈
  * O(batch · target/nBuckets). The bucket column doubles as the join
  * co-location key: two bucketed tables with the same nBuckets join
  * bucket-to-bucket without a full shuffle.
  *
  * STORE SELECTION (measured, round-10 store sweep — 10 k-row update
  * batches, nBuckets=64, local[32]; BENCHNOTES.md's measured crossover
  * table):
  *
  *  - **Bucketed wins only for bucket-LOCALIZED batch keys AND
  *    target/batch ≳ 1000:** parity at a 4 M-row target (0.94 s vs
  *    plain's 0.86 s), winning at 40 M (3.10 s vs 4.55 s, 1.5×), and
  *    the gap widens linearly with target size from there — plain's
  *    rewrite is O(target), bucketed's is O(affected buckets). Below
  *    ~1000:1 the per-bucket constants (bucket projection, extra driver
  *    actions, per-bucket renames) eat the saved I/O.
  *  - **Uniform batch keys: bucketed NEVER wins** (0.4–0.6× plain at
  *    every size) — a batch that touches every bucket rewrites plain's
  *    volume plus the machinery. Use [[MergeOnReadCatalog]] there: its
  *    O(batch) delta append measured flat 0.2–0.5 s against every
  *    target size, with the bill bounded by cost-based compaction.
  *  - Default recommendation: MOR as the streaming substrate;
  *    bucketed when merges are key-local at big target/batch ratios, or
  *    when the bucket column's join co-location pays for itself.
  */
object BucketedCatalog {
  /** Partition-column name of the bucketed layout. */
  val BucketCol = "bucket"

  /** The bucket of a PK tuple — THE formula; anything computing affected
    * buckets (tooling, benches) must use this, not a re-implementation
    * that can drift. */
  def bucketExpr(pks: Seq[String], nBuckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(pks.map(col): _*), lit(nBuckets.toLong)).cast("int")
}

final class BucketedCatalog(spark: SparkSession, root: String, nBuckets: Int = 64)
    extends TableStore {

  private val BucketCol = BucketedCatalog.BucketCol

  private def fs = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def tablePath(schema: String, table: String): String = s"$root/$schema/$table"

  def exists(schema: String, table: String): Boolean = {
    recover(schema, table)
    fs.exists(new Path(tablePath(schema, table)))
  }

  /** Crash recovery for the two swap paths:
    *  - evolving swap ([[AtomicDir.swapInto]]): a crash between the
    *    renames leaves no table dir but a full copy in `<table>__old` —
    *    [[AtomicDir.recover]] restores it (else a replayed batch would
    *    silently re-create the table from itself);
    *  - per-bucket swap: a crash between renaming a bucket aside and
    *    renaming its replacement in leaves that bucket in
    *    `<table>__trash/bucket=i` — restore any bucket missing from the
    *    live table. */
  private def recover(schema: String, table: String): Unit = {
    val tgt = new Path(tablePath(schema, table))
    AtomicDir.recover(fs, tgt)
    val trash = new Path(tablePath(schema, table) + "__trash")
    if (fs.exists(tgt) && fs.exists(trash)) {
      fs.listStatus(trash).filter(_.getPath.getName.startsWith(s"$BucketCol="))
        .foreach { st =>
          val dst = new Path(tgt, st.getPath.getName)
          if (!fs.exists(dst) && !fs.rename(st.getPath, dst))
            throw new IllegalStateException(
              s"bucket recovery failed renaming ${st.getPath} back")
        }
      fs.delete(trash, true)
    }
  }

  private def bucketed(df: DataFrame, pks: Seq[String]): DataFrame =
    df.withColumn(BucketCol, BucketedCatalog.bucketExpr(pks, nBuckets))

  /** Cluster rows BY bucket before a partitioned write: without this
    * every write task emits one file into every bucket dir it happens to
    * hold rows for — up to tasks × nBuckets files per merge (measured
    * 10.3 s vs 1.3 s copytarget on the stream bench at 64 buckets ×
    * 32 tasks) and a small-files disaster for every later read. One
    * narrow shuffle of the (bounded) write set buys one-writer-per-bucket
    * layout — the same discipline as Ivf.clustered. */
  private def clustered(b: DataFrame): DataFrame =
    b.repartition(col(BucketCol))

  private def schemaSidecar(schema: String, table: String): Path =
    new Path(tablePath(schema, table), "_graft_schema.json")

  /** Record the authoritative table schema (incl. the bucket column) next
    * to the data. `dir` defaults to the table path; the evolving-merge
    * path writes it into the shadow dir so the rename installs data and
    * schema together. */
  private def writeSidecar(df: DataFrame, dir: Path): Unit = {
    val out = fs.create(new Path(dir, "_graft_schema.json"), true)
    try out.write(df.schema.json.getBytes("UTF-8")) finally out.close()
  }

  /** Load the full table (bucket column retained for co-located joins).
    *
    * Schema comes from the `_graft_schema.json` sidecar, NOT from file
    * footers: after an interrupted evolving merge buckets can carry
    * heterogeneous footers, and footer-sampled schema would silently drop
    * a new column (then later merges rewrite buckets without its data).
    * The sidecar gives the union schema with ZERO footer reads — at 100 TB
    * `mergeSchema` would stat every file per load. Missing columns in old
    * files read as null, Spark's standard name-based parquet resolution.
    * Tables written before the sidecar existed fall back to mergeSchema
    * (correct, just footer-priced). */
  def load(schema: String, table: String): DataFrame = {
    recover(schema, table)
    val sidecar = schemaSidecar(schema, table)
    if (fs.exists(sidecar)) {
      val in = fs.open(sidecar)
      val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      spark.read
        .schema(org.apache.spark.sql.types.DataType.fromJson(json)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
        .parquet(tablePath(schema, table))
    } else
      spark.read.option("mergeSchema", "true").parquet(tablePath(schema, table))
  }

  def save(schema: String, table: String, df: DataFrame, pks: Seq[String]): Unit = {
    val b = bucketed(df, pks)
    clustered(b).write.mode(SaveMode.Overwrite)
      .partitionBy(BucketCol).parquet(tablePath(schema, table))
    writeSidecar(b, new Path(tablePath(schema, table)))
  }

  /** R5 fast path: bucketed append (callers gate on column-set equality,
    * so the sidecar schema stays valid). */
  override def append(schema: String, table: String, df: DataFrame,
      pks: Seq[String]): Unit = {
    val b = bucketed(df, pks)
    clustered(b).write.mode(SaveMode.Append)
      .partitionBy(BucketCol).parquet(tablePath(schema, table))
    if (!fs.exists(schemaSidecar(schema, table)))
      writeSidecar(b, new Path(tablePath(schema, table)))
  }

  /** SCD-1 merge rewriting only the buckets the stage touches. */
  def merge(schema: String, table: String, stage: DataFrame,
      pks: Seq[String]): Unit = {
    if (!exists(schema, table)) {
      save(schema, table,
        CdcMerge.insertable(CdcMerge.dropDeleteOps(CdcMerge.dedupe(stage, pks))),
        pks)
      return
    }
    val stagedB = bucketed(stage, pks).cache()
    try {
      val target = load(schema, table)
      // Schema evolution gate: a stage with NEW columns would rewrite
      // ONLY the affected buckets with those columns — leaving the table
      // with heterogeneous bucket schemas (silent data loss on later
      // merges) — so it forces a full-table rewrite. A stage MISSING
      // columns is fine per-bucket: CdcMerge.merge unions by name against
      // the full-schema target slice, so the patched buckets keep every
      // column (all-null batch columns are a routine CDC shape and must
      // not degrade the O(affected-buckets) merge to O(table)).
      val stageCols = CdcMerge.insertable(stagedB).columns.toSet - BucketCol
      val targetCols = target.columns.toSet - BucketCol
      if ((stageCols -- targetCols).nonEmpty) {
        val full = CdcMerge.merge(
          target.drop(BucketCol), stagedB.drop(BucketCol), pks)
        val shadow = new Path(tablePath(schema, table) + "__evolving")
        val b = bucketed(full, pks)
        clustered(b).write.mode(SaveMode.Overwrite)
          .partitionBy(BucketCol).parquet(shadow.toString)
        // sidecar travels inside the shadow dir: the rename installs the
        // evolved data and its schema together
        writeSidecar(b, shadow)
        // rename-aside swap: a crash between the renames leaves the table
        // at `__old`, never no table at all
        AtomicDir.swapInto(fs, new Path(tablePath(schema, table)), shadow)
        return
      }
      val affected = stagedB.select(BucketCol).distinct()
        .collect().map(_.getInt(0)).sorted
      // partition pruning: only affected bucket dirs are read
      val targetSlice = target
        .filter(col(BucketCol).isin(affected.toIndexedSeq.map(Integer.valueOf): _*))
      val merged = CdcMerge.merge(
        targetSlice.drop(BucketCol),
        stagedB.drop(BucketCol), pks)
      val shadow = new Path(tablePath(schema, table) + "__merging")
      clustered(bucketed(merged, pks)).write.mode(SaveMode.Overwrite)
        .partitionBy(BucketCol).parquet(shadow.toString)
      // swap only the affected bucket directories into place —
      // rename-aside into __trash, never delete-before-rename: a crash
      // (or failed rename) between a delete and a rename would lose the
      // bucket with no copy anywhere; recover() restores any bucket
      // stranded in __trash on the next catalog operation
      val trash = new Path(tablePath(schema, table) + "__trash")
      if (fs.exists(trash)) fs.delete(trash, true)
      fs.mkdirs(trash)
      affected.foreach { b =>
        val src = new Path(shadow, s"$BucketCol=$b")
        val dst = new Path(tablePath(schema, table), s"$BucketCol=$b")
        if (fs.exists(dst) && !fs.rename(dst, new Path(trash, s"$BucketCol=$b")))
          throw new IllegalStateException(s"swap failed renaming $dst aside")
        if (fs.exists(src) && !fs.rename(src, dst))
          throw new IllegalStateException(s"swap failed renaming $src in")
      }
      fs.delete(trash, true)
      fs.delete(shadow, true)
    } finally stagedB.unpersist()
  }

  def drop(schema: String, table: String): Unit =
    fs.delete(new Path(tablePath(schema, table)), true)

  /** Bucket directories currently present (diagnostics / tests). */
  def buckets(schema: String, table: String): Seq[Int] = {
    val p = new Path(tablePath(schema, table))
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(s"$BucketCol="))
      .map(_.stripPrefix(s"$BucketCol=").toInt).sorted.toSeq
  }
}
