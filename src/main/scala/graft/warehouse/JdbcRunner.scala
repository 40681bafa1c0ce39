package graft.warehouse

import java.sql.Connection

/** Executes emitted DDL/DML against a JDBC warehouse, mirroring the
  * reference's transactional discipline: every load runs its statement
  * sequence inside one transaction and rolls back wholesale on failure
  * (tipoca-stream pkg/redshiftloader/load_processor.go:395-444,
  * pkg/redshift/redshift.go:249-281 Begin/Commit around every DDL batch).
  *
  * Deliberately driver-side and tiny: statements come from [[Ddl]] /
  * [[SchemaDiff]]; Spark never sees this path (the Spark-native target is
  * [[ParquetCatalog]]/[[MergeOnReadCatalog]]). The embedded-Derby spec runs
  * the full D3→D7 lifecycle through it.
  */
object JdbcRunner {

  /** Run `stmts` in order inside a single transaction; roll back all of
    * them if any fails. */
  def inTransaction(conn: Connection, stmts: Seq[String]): Unit = {
    val auto = conn.getAutoCommit
    conn.setAutoCommit(false)
    try {
      stmts.foreach(execute(conn, _))
      conn.commit()
    } catch {
      case e: Throwable =>
        // a dead connection makes rollback() itself throw — keep the
        // original statement failure as the primary diagnostic
        try conn.rollback() catch { case r: Throwable => e.addSuppressed(r) }
        throw e
    } finally conn.setAutoCommit(auto)
  }

  /** Run one statement, closing the Statement handle. */
  def execute(conn: Connection, sql: String): Unit = {
    val st = conn.createStatement()
    try st.execute(sql)
    finally st.close()
  }

  /** Run a statement that is allowed to fail (e.g. DROP of a table that
    * may not exist on engines without IF EXISTS). Returns success. */
  def executeIgnoring(conn: Connection, sql: String): Boolean = {
    try { execute(conn, sql); true }
    catch { case _: java.sql.SQLException => false }
  }
}
