package graft.warehouse

import java.sql.{Connection, DriverManager}
import java.util.Properties

import graft.core.Cdc
import graft.merge.CdcMerge
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** JDBC warehouse [[TableStore]] — the reference's actual deployment
  * shape: the loader stages each micro-batch into `<table>_staged` and
  * merges it into the live table inside ONE transaction, rolling back
  * wholesale on any failure (tipoca-stream
  * pkg/redshiftloader/load_processor.go:395-444,
  * pkg/redshift/redshift.go:249-281).
  *
  * Division of labor, Spark-first:
  *  - R1 dedupe runs in SPARK before anything touches the warehouse
  *    (one PK shuffle, [[CdcMerge.dedupe]]) — the staging table then
  *    holds at most one row per PK and the warehouse-side merge is the
  *    reference's simple delete-common + insert, with no self-join SQL
  *    (redshift.go:666-698 dedupes inside the warehouse because its
  *    batcher can't; ours can).
  *  - The staging load is a DISTRIBUTED Spark JDBC write (each partition
  *    opens its own connection — the COPY analog for a JDBC-only sink;
  *    a Redshift-class target would COPY from the object store instead,
  *    see [[CopyOptions]]/[[ParquetCatalog.unload]]).
  *  - The merge transaction (delete-common → insert non-DELETE rows →
  *    drop staging) runs through [[JdbcRunner.inTransaction]]: any
  *    statement failing rolls the whole batch back and the staging table
  *    is left for the checkpoint replay to overwrite — at-least-once
  *    delivery converges because the merge is idempotent per PK.
  *  - D4's transact-able class (add-column) is applied before the merge,
  *    exactly as the reference migrates the schema before any load
  *    (load_processor.go:395-444).
  *
  * Micro-batches are bounded (reference envelope 10 MiB / 30 s), so
  * per-batch INSERT volume through JDBC is bounded too; the target
  * table's size never matters — delete-common is an indexed PK probe on
  * the warehouse side, not a scan of ours.
  */
object JdbcWarehouse {
  /** Spark's built-in Derby dialect binds StringType as CLOB; the
    * loader's tables are VARCHAR (the reference's `character varying`
    * everywhere, redshift.go type map) and Derby rejects CLOB-typed
    * binds against VARCHAR columns outright. This minimal dialect wins
    * over the built-in (registerDialect prepends) and binds strings as
    * VARCHAR; everything else falls through to Spark's common JDBC
    * mapping (INTEGER/BIGINT/DATE/TIMESTAMP/DECIMAL — all Derby-valid). */
  private object VarcharDerbyDialect
      extends org.apache.spark.sql.jdbc.JdbcDialect {
    override def canHandle(url: String): Boolean =
      url.startsWith("jdbc:derby")
    override def getJDBCType(dt: DataType)
        : Option[org.apache.spark.sql.jdbc.JdbcType] = dt match {
      case StringType => Some(org.apache.spark.sql.jdbc.JdbcType(
        "VARCHAR(4096)", java.sql.Types.VARCHAR))
      case BooleanType => Some(org.apache.spark.sql.jdbc.JdbcType(
        "BOOLEAN", java.sql.Types.BOOLEAN))
      case ShortType | ByteType => Some(org.apache.spark.sql.jdbc.JdbcType(
        "SMALLINT", java.sql.Types.SMALLINT))
      case FloatType => Some(org.apache.spark.sql.jdbc.JdbcType(
        "REAL", java.sql.Types.REAL))
      case DoubleType => Some(org.apache.spark.sql.jdbc.JdbcType(
        "DOUBLE", java.sql.Types.DOUBLE))
      case _ => None
    }
  }
  private lazy val ensureDialect: Unit =
    org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(VarcharDerbyDialect)
}

final class JdbcWarehouse(
    spark: SparkSession,
    url: String,
    dialect: Ddl.Dialect = Ddl.Ansi) extends TableStore {

  JdbcWarehouse.ensureDialect

  private def q(ident: String): String =
    "\"" + ident.replace("\"", "\"\"") + "\""
  private def qt(schema: String, table: String): String =
    s"${q(schema)}.${q(table)}"

  private def props: Properties = new Properties()

  private def withConn[T](f: Connection => T): T = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  /** Spark type → warehouse column type. Data columns arriving from the
    * CDC transform are strings (the reference's textual COPY semantics);
    * the width matches [[graft.schema.TypeMapper]]'s redshift default so
    * upstream [[CopyOptions.clamp]] guarantees fits. */
  private def sqlType(dt: DataType): String = dt match {
    case ShortType => "SMALLINT"
    case IntegerType => "INTEGER"
    case LongType => "BIGINT"
    case FloatType => "REAL"
    case DoubleType => "DOUBLE"
    case BooleanType => "BOOLEAN"
    case DateType => "DATE"
    case TimestampType => "TIMESTAMP"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case _ => "VARCHAR(4096)"
  }

  private def createTableSql(schema: String, table: String,
      df: DataFrame): String =
    s"CREATE TABLE ${qt(schema, table)} (" +
      df.schema.fields.map(f => s"${q(f.name)} ${sqlType(f.dataType)}")
        .mkString(", ") + ")"

  private def ensureSchema(schema: String): Unit =
    withConn(c => JdbcRunner.executeIgnoring(c, s"CREATE SCHEMA ${q(schema)}"))

  override def exists(schema: String, table: String): Boolean =
    withConn { c =>
      val rs = c.getMetaData.getTables(null, schema, table, null)
      try rs.next() finally rs.close()
    }

  override def load(schema: String, table: String): DataFrame =
    spark.read.jdbc(url, qt(schema, table), props)

  /** Distributed JDBC write into an existing table. */
  private def insertInto(schema: String, table: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).jdbc(url, qt(schema, table), props)

  /** R5 fast path: append-only load (callers gate on column-set
    * equality). */
  override def append(schema: String, table: String, df: DataFrame,
      pks: Seq[String]): Unit =
    insertInto(schema, table, df)

  /** No record is kept here yet: a replayed creates-only batch is
    * inserted again. */
  override def claimAppend(schema: String, table: String,
      range: String): Boolean = true

  private def targetColumns(schema: String, table: String): Seq[String] =
    withConn { c =>
      val rs = c.getMetaData.getColumns(null, schema, table, null)
      try Iterator.continually(rs).takeWhile(_.next())
        .map(_.getString("COLUMN_NAME")).toVector
      finally rs.close()
    }

  /** Transactional SCD-1 merge of a CDC micro-batch (R1-R4 + D4 adds). */
  override def merge(schema: String, table: String, stage: DataFrame,
      pks: Seq[String]): Unit = {
    ensureSchema(schema)
    // R1 in Spark: last writer per PK wins; the staging table then needs
    // no warehouse-side dedupe SQL at all
    val deduped = CdcMerge.dedupe(stage, pks)
    val dataCols = CdcMerge.insertable(deduped).columns.toSeq

    if (!exists(schema, table)) {
      val initial = CdcMerge.insertable(CdcMerge.dropDeleteOps(deduped))
      withConn(c => JdbcRunner.execute(c,
        createTableSql(schema, table, initial)))
      insertInto(schema, table, initial)
      return
    }

    // D4 transact-able class: add new columns BEFORE the load, as the
    // reference migrates then loads (old rows read NULL for them)
    val existing = targetColumns(schema, table).toSet
    val adds = deduped.schema.fields
      .filter(f => dataCols.contains(f.name) && !existing.contains(f.name))
    if (adds.nonEmpty) withConn(c => JdbcRunner.inTransaction(c,
      adds.toSeq.map(f => s"ALTER TABLE ${qt(schema, table)} " +
        s"ADD COLUMN ${q(f.name)} ${sqlType(f.dataType)}")))

    // staging table: fresh per batch (a replayed batch overwrites the
    // previous attempt's leftovers)
    val staged = table + "_staged"
    withConn { c =>
      JdbcRunner.executeIgnoring(c, dialect.dropTable(schema, staged))
      JdbcRunner.execute(c, createTableSql(schema, staged, deduped))
    }
    insertInto(schema, staged, deduped)

    // the reference's single-transaction merge: delete-common (R2) +
    // insert non-DELETE rows (R3/R4) + drop staging — all or nothing
    val onPk = pks.map(pk =>
      s"${qt(schema, staged)}.${q(pk)} = ${qt(schema, table)}.${q(pk)}")
      .mkString(" AND ")
    val colList = dataCols.map(q).mkString(", ")
    withConn(c => JdbcRunner.inTransaction(c, Seq(
      s"DELETE FROM ${qt(schema, table)} WHERE EXISTS " +
        s"(SELECT 1 FROM ${qt(schema, staged)} WHERE $onPk)",
      s"INSERT INTO ${qt(schema, table)} ($colList) " +
        s"SELECT $colList FROM ${qt(schema, staged)} " +
        s"WHERE ${q(Cdc.OperationColumn)} <> '${Cdc.OpDelete}'",
      dialect.dropTable(schema, staged))))
  }
}
