package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The real surface lives in [[graft.Queries]] (one entry per implemented
  * SURVEY §2 operator, each with a DuckDB oracle) and the library packages
  * graft.cdc / graft.mask / graft.merge.
  */
object SparkEntry {
  /** Flagship: the full SCD-1 CDC merge (dedupe → anti-join → op-filter →
    * insert) on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.all("q_r4_merge_scd1")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Queries.oracles
}
