package graft.warehouse

import graft.SparkSpec
import graft.core.{Cdc, ColSpec, SourceType, TableSpec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DdlSpec extends AnyFunSuite {

  private val spec = TableSpec("inventory", "customers", Seq(
    ColSpec("id", "int32", SourceType("INT", "11"), notNull = true,
      primaryKey = true, distKey = true),
    ColSpec("email", "string", SourceType("VARCHAR", "255"),
      defaultVal = "none", sortOrdinal = 1),
    ColSpec("score", "string", SourceType("DECIMAL", "10", "4"))))

  test("D3 create table: quoting, defaults, pk, sortkey, distkey") {
    val sql = Ddl.createTable(spec)
    assert(sql ==
      """CREATE TABLE "inventory"."customers" ("id" integer NOT NULL, """ +
        """"email" character varying(1020) DEFAULT 'none', """ +
        """"score" numeric(10,4), PRIMARY KEY ("id"))""" +
        """ DISTKEY ("id") COMPOUND SORTKEY ("email")""")
  }

  test("D3 identifiers with embedded double quotes are SQL-escaped") {
    val weird = spec.copy(columns = spec.columns.map(c =>
      if (c.name == "email") c.copy(name = "e\"mail") else c))
    assert(Ddl.createTable(weird).contains("\"e\"\"mail\""))
  }

  test("D3 default values with single quotes are SQL-escaped") {
    val quoted = spec.copy(columns = spec.columns.map(c =>
      if (c.name == "email") c.copy(defaultVal = "O'Brien's") else c))
    assert(Ddl.createTable(quoted).contains("DEFAULT 'O''Brien''s'"))
  }

  test("D3 diststyle even when no distkey") {
    val noDist = spec.copy(columns = spec.columns.map(_.copy(distKey = false)))
    assert(Ddl.createTable(noDist).contains("DISTSTYLE EVEN"))
  }

  test("D6 staging spec: metadata cols prepended, pks demoted") {
    val st = Ddl.stagingSpec(spec)
    assert(st.name == "customers_staged")
    assert(st.columns.head.name == Cdc.OffsetColumn)
    assert(st.columns.head.primaryKey && st.columns.head.notNull)
    assert(st.columns(1).name == Cdc.OperationColumn)
    assert(!st.columns.drop(2).exists(_.primaryKey))
    assert(!st.columns.drop(2).exists(_.distKey))
  }

  test("D7 release swap statements") {
    val stmts = Ddl.releaseSwap("inventory", "customers", "_reload_2",
      Some("readers"))
    assert(stmts(0) == """DROP TABLE IF EXISTS "inventory"."customers" CASCADE""")
    assert(stmts(1) ==
      """ALTER TABLE "inventory"."customers_reload_2" RENAME TO "customers"""")
    assert(stmts.exists(_.startsWith("GRANT SELECT")))
  }

  test("D4 alter statements") {
    val c = ColSpec("note", "string", SourceType("VARCHAR", "100"))
    assert(Ddl.addColumn("s", "t", c) ==
      """ALTER TABLE "s"."t" ADD COLUMN "note" character varying(400)""")
    assert(Ddl.dropColumn("s", "t", "Note") ==
      """ALTER TABLE "s"."t" DROP COLUMN "note"""")
  }
}

class SchemaDiffSpec extends AnyFunSuite {

  private def t(cols: ColSpec*) = TableSpec("s", "t", cols)

  test("no changes → empty diff") {
    val a = t(ColSpec("id", "int32", SourceType("INT")))
    assert(SchemaDiff.diff(a, a).isEmpty)
  }

  test("add + drop classified as transact-able") {
    val in = t(ColSpec("id", "int32", SourceType("INT")),
      ColSpec("new_col", "string", SourceType("VARCHAR", "10")))
    val tgt = t(ColSpec("id", "int32", SourceType("INT")),
      ColSpec("old_col", "string", SourceType("VARCHAR", "10")))
    val d = SchemaDiff.diff(in, tgt)
    assert(d.adds.map(_.col.name) == Seq("new_col"))
    assert(d.drops.map(_.col.name) == Seq("old_col"))
    assert(d.resizes.isEmpty && d.migrates.isEmpty)
  }

  test("varchar widen is a resize, not a migration") {
    val in = t(ColSpec("email", "string", SourceType("VARCHAR", "500")))
    val tgt = t(ColSpec("email", "string", SourceType("VARCHAR", "255")))
    val d = SchemaDiff.diff(in, tgt)
    assert(d.resizes.size == 1 && !d.needsTableMigration)
    assert(d.resizes.head.from == "character varying(1020)")
    assert(d.resizes.head.to == "character varying(2000)")
  }

  test("int → bigint requires table migration") {
    val in = t(ColSpec("id", "long", SourceType("BIGINT")))
    val tgt = t(ColSpec("id", "int32", SourceType("INT")))
    val d = SchemaDiff.diff(in, tgt)
    assert(d.needsTableMigration)
    assert(d.migrates.head.from == "integer" && d.migrates.head.to == "bigint")
  }

  test("alter statements emitted for transactable + resize classes") {
    val in = t(ColSpec("id", "int32", SourceType("INT")),
      ColSpec("email", "string", SourceType("VARCHAR", "500")))
    val tgt = t(ColSpec("id", "int32", SourceType("INT")),
      ColSpec("email", "string", SourceType("VARCHAR", "255")),
      ColSpec("gone", "string", SourceType("VARCHAR", "10")))
    val stmts = SchemaDiff.alterStatements("s", "t", SchemaDiff.diff(in, tgt))
    assert(stmts.exists(_.contains("DROP COLUMN \"gone\"")))
    assert(stmts.exists(_.contains(
      "ALTER COLUMN \"email\" TYPE character varying(2000)")))
  }
}

class ParquetCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-cat").toString

  test("save / load / exists / drop") {
    val cat = new ParquetCatalog(spark, tmp())
    assert(!cat.exists("s", "t"))
    cat.save("s", "t", Seq((1, "a")).toDF("pk", "v"))
    assert(cat.exists("s", "t"))
    assert(cat.load("s", "t").as[(Int, String)].collect().toSeq == Seq((1, "a")))
    cat.drop("s", "t")
    assert(!cat.exists("s", "t"))
  }

  test("merge: creates on first batch, SCD-1 upserts on subsequent") {
    val cat = new ParquetCatalog(spark, tmp())
    val b1 = Seq(("1", Cdc.OpCreate, 1, "a"), ("2", Cdc.OpCreate, 2, "b"))
      .toDF(Cdc.OffsetColumn, Cdc.OperationColumn, "pk", "v")
    cat.merge("s", "t", b1, Seq("pk"))
    assert(cat.load("s", "t").as[(Int, String)].collect().toMap ==
      Map(1 -> "a", 2 -> "b"))

    val b2 = Seq(("3", Cdc.OpUpdate, 1, "a2"), ("4", Cdc.OpDelete, 2, "b"),
      ("5", Cdc.OpCreate, 3, "c"))
      .toDF(Cdc.OffsetColumn, Cdc.OperationColumn, "pk", "v")
    cat.merge("s", "t", b2, Seq("pk"))
    assert(cat.load("s", "t").as[(Int, String)].collect().toMap ==
      Map(1 -> "a2", 3 -> "c"))
  }

  test("crash recovery: swap window restores table from __old") {
    val root = tmp()
    val cat = new ParquetCatalog(spark, root)
    cat.save("s", "t", Seq((1, "a"), (2, "b")).toDF("pk", "v"))
    // simulate a crash between rename(tgt, old) and rename(shadow, tgt):
    // the table dir is gone, the full data sits in __old
    assert(new java.io.File(s"$root/s/t")
      .renameTo(new java.io.File(s"$root/s/t__old")))
    // without recovery this merge would re-create the table from the
    // batch alone and the next swap would delete the history
    val b = Seq(("9", Cdc.OpUpdate, 1, "a2"))
      .toDF(Cdc.OffsetColumn, Cdc.OperationColumn, "pk", "v")
    cat.merge("s", "t", b, Seq("pk"))
    assert(cat.load("s", "t").as[(Int, String)].collect().toMap ==
      Map(1 -> "a2", 2 -> "b"))
  }

  test("load mid-swap reads the table at __old and renames nothing") {
    val root = tmp()
    val cat = new ParquetCatalog(spark, root)
    cat.save("s", "t", Seq((1, "a"), (2, "b")).toDF("pk", "v"))
    // a writer's swap between rename(tgt, old) and rename(shadow, tgt)
    assert(new java.io.File(s"$root/s/t")
      .renameTo(new java.io.File(s"$root/s/t__old")))
    assert(cat.load("s", "t").as[(Int, String)].collect().toMap ==
      Map(1 -> "a", 2 -> "b"))
    assert(new java.io.File(s"$root/s/t__old").isDirectory)
    assert(!new java.io.File(s"$root/s/t").exists)
  }

  test("D7 release swaps reload table into place atomically") {
    val cat = new ParquetCatalog(spark, tmp())
    cat.save("s", "t", Seq((1, "old")).toDF("pk", "v"))
    cat.save("s", "t_reload_2", Seq((1, "new")).toDF("pk", "v"))
    cat.release("s", "t", "_reload_2")
    assert(cat.load("s", "t").as[(Int, String)].collect().toSeq == Seq((1, "new")))
    assert(!cat.exists("s", "t_reload_2"))
  }

  test("D5 migrate rewrites schema through shadow + swap") {
    val cat = new ParquetCatalog(spark, tmp())
    cat.save("s", "t", Seq((1, "a")).toDF("pk", "v"))
    cat.migrate("s", "t")(df => df.withColumn("v2", upper(col("v"))))
    val out = cat.load("s", "t")
    assert(out.columns.toSeq == Seq("pk", "v", "v2"))
    assert(out.select("v2").as[String].head() == "A")
  }

  test("append is the R5 fast path") {
    val cat = new ParquetCatalog(spark, tmp())
    cat.save("s", "t", Seq((1, "a")).toDF("pk", "v"))
    cat.append("s", "t", Seq((2, "b")).toDF("pk", "v"))
    assert(cat.load("s", "t").count() == 2)
  }

  test("load returns the schema spark.read.parquet infers, after every " +
      "lifecycle step, without a schema-inference job") {
    val cat = new ParquetCatalog(spark, tmp())
    def sameSchema(table: String): Unit = {
      val (jobs, loaded) = jobsDuring(cat.load("s", table).schema)
      assert(jobs == 0, s"load of $table ran $jobs jobs")
      assert(loaded == spark.read.parquet(cat.tablePath("s", table)).schema)
    }
    def stage(rows: (String, String, Int, String)*) =
      rows.toDF(Cdc.OffsetColumn, Cdc.OperationColumn, "pk", "v")
    cat.save("s", "t", Seq((1, "a"), (2, "b")).toDF("pk", "v"))
    sameSchema("t")
    cat.merge("s", "t", stage(("3", Cdc.OpUpdate, 1, "a2"),
      ("4", Cdc.OpDelete, 2, "b")), Seq("pk"))
    sameSchema("t")
    // D4 add-column merge: the rewritten table gains `email`
    cat.merge("s", "t", Seq(("5", Cdc.OpCreate, 3, "c", 7L))
      .toDF(Cdc.OffsetColumn, Cdc.OperationColumn, "pk", "v", "email"),
      Seq("pk"))
    sameSchema("t")
    assert(cat.load("s", "t").columns.toSeq == Seq("pk", "v", "email"))
    cat.migrate("s", "t")(_.withColumn("n", lit(1.5)))
    sameSchema("t")
    cat.save("s", "t_reload_2", Seq((1, "new")).toDF("pk", "v"))
    sameSchema("t_reload_2")
    cat.release("s", "t", "_reload_2")
    sameSchema("t")
    assert(cat.load("s", "t").as[(Int, String)].collect().toSeq ==
      Seq((1, "new")))
  }

  test("load falls back to inference for directories without a Spark " +
      "footer schema") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val root = tmp()
    val cat = new ParquetCatalog(spark, root)
    def inferred(table: String) =
      spark.read.parquet(cat.tablePath("s", table)).schema
    // written by plain parquet: the footer carries no Spark schema
    val mt = MessageTypeParser.parseMessageType(
      "message m { required int32 pk; optional binary v (UTF8); }")
    val w = ExampleParquetWriter.builder(
      new org.apache.hadoop.fs.Path(s"$root/s/raw/part-0.parquet"))
      .withType(mt).build()
    try w.write(new SimpleGroupFactory(mt).newGroup()
      .append("pk", 1).append("v", "a"))
    finally w.close()
    assert(cat.load("s", "raw").schema == inferred("raw"))
    assert(cat.load("s", "raw").as[(Int, String)].collect().toSeq ==
      Seq((1, "a")))
    // written by plain Spark with partitionBy: the data sits in subdirs
    Seq((1, "a", "x"), (2, "b", "y")).toDF("pk", "v", "p")
      .write.partitionBy("p").parquet(cat.tablePath("s", "parted"))
    assert(cat.load("s", "parted").schema == inferred("parted"))
    assert(cat.load("s", "parted").columns.toSeq == Seq("pk", "v", "p"))
  }
}
