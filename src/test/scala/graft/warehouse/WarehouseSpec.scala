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

  test("D7 release recovers a reload table a crashed merge left at __old") {
    val root = tmp()
    val cat = new ParquetCatalog(spark, root)
    cat.save("s", "t", Seq((1, "old")).toDF("pk", "v"))
    cat.save("s", "t_reload_2", Seq((1, "new")).toDF("pk", "v"))
    // a merge into the reload table crashed between its swap's renames;
    // an empty trigger since then never called exists() to recover it
    assert(new java.io.File(s"$root/s/t_reload_2")
      .renameTo(new java.io.File(s"$root/s/t_reload_2__old")))
    cat.release("s", "t", "_reload_2")
    assert(cat.load("s", "t").as[(Int, String)].collect().toSeq == Seq((1, "new")))
    assert(new java.io.File(s"$root/s").list().toSet == Set("t"))
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

  /** Column → one flag per chunk (every row group of every data file
    * under `dir`): does the chunk carry a dictionary page? */
  private def dictionaryPages(dir: String): Map[String, Seq[Boolean]] =
    chunkSizes(dir).flatten.groupBy(_._1).map { case (c, cs) => c -> cs.map(_._2._1) }

  /** Per data file of `dir` (by name): (column, (dictionary page?, chunk
    * bytes)) for every chunk of every row group. */
  private def chunkSizes(dir: String): Seq[Seq[(String, (Boolean, Long))]] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    dataFiles(dir).map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getPath), spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala).map(c =>
        c.getPath.toDotString -> (c.hasDictionaryPage -> c.getTotalSize))
      finally r.close()
    }
  }

  private def dataFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName)

  /** `pk` (unique int), `u` (unique string) and `c` (5 values) for ids in
    * [from, until). */
  private def wide(from: Long, until: Long) = spark.range(from, until).select(
    col("id").cast("int").as("pk"),
    concat(lit("user-"), sha2(col("id").cast("string"), 256)).as("u"),
    concat(lit("cat-"), (col("id") % 5).cast("string")).as("c"))

  private def asStage(df: org.apache.spark.sql.DataFrame, op: String) =
    df.withColumn(Cdc.OffsetColumn, lit("1")).withColumn(Cdc.OperationColumn, lit(op))

  test("writer memo: after save, a merge writes the unique column without a " +
      "dictionary, keeps it on the 5-value column, and writes default-sized chunks") {
    val cat = new ParquetCatalog(spark, tmp())
    cat.save("s", "t", wide(0, 20000))
    cat.merge("s", "t", asStage(wide(20000, 22000), Cdc.OpCreate), Seq("pk"))
    val dir = cat.tablePath("s", "t")
    val dict = dictionaryPages(dir)
    assert(dict("u").nonEmpty && !dict("u").exists(identity))
    assert(dict("c").nonEmpty && dict("c").forall(identity))
    // the same rows in the same files, written with parquet's defaults
    val ref = tmp()
    dataFiles(dir).zipWithIndex.foreach { case (f, i) =>
      spark.read.parquet(f.getPath).coalesce(1).write.parquet(s"$ref/$i") }
    val refSizes = dataFiles(dir).indices.map(i => chunkSizes(s"$ref/$i").flatten)
    chunkSizes(dir).zip(refSizes).foreach { case (got, want) =>
      assert(got.map(_._1) == want.map(_._1))
      got.zip(want).foreach { case ((c, (_, g)), (_, (_, w))) =>
        assert(math.abs(g - w) <= 0.01 * w, s"column $c: $g bytes, defaults $w")
      }
    }
  }

  test("writer memo: no ratchet, a table seeded PLAIN regains its dictionary " +
      "once its largest file has doubled") {
    val cat = new ParquetCatalog(spark, tmp())
    val dir = cat.tablePath("s", "t")
    def largest() = dataFiles(dir).map(_.length).max
    // two rows: parquet itself writes every column PLAIN
    cat.save("s", "t", wide(0, 2).coalesce(1))
    assert(dictionaryPages(dir).values.flatten.forall(!_))
    val seeded = largest()
    // the memo still applies: `c` stays PLAIN while the file grows
    cat.merge("s", "t", asStage(wide(2, 20000), Cdc.OpCreate), Seq("pk"))
    assert(!dictionaryPages(dir)("c").exists(identity))
    assert(largest() > 2 * seeded)
    // doubled: the next merge writes with parquet's defaults again
    cat.merge("s", "t", asStage(wide(0, 10), Cdc.OpUpdate), Seq("pk"))
    assert(dictionaryPages(dir)("c").forall(identity))
    assert(!dictionaryPages(dir)("u").exists(identity))
  }

  test("writer memo: a D4-added column, a migrated table and a released " +
      "table start from parquet's defaults") {
    val cat = new ParquetCatalog(spark, tmp())
    val dir = cat.tablePath("s", "t")
    cat.save("s", "t", wide(0, 20000))
    // D4: the merge adds a 3-value column `d` to every row
    cat.merge("s", "t", asStage(wide(0, 20000)
      .withColumn("d", concat(lit("d-"), (col("pk") % 3).cast("string"))),
      Cdc.OpUpdate), Seq("pk"))
    assert(dictionaryPages(dir)("d").forall(identity))
    assert(!dictionaryPages(dir)("u").exists(identity))
    // migrate turns the unique `u` into 3 values: written with defaults,
    // it gets a dictionary, and the memo it leaves keeps it
    cat.migrate("s", "t")(_.withColumn("u", concat(lit("g-"), (col("pk") % 3).cast("string"))))
    assert(dictionaryPages(dir)("u").forall(identity))
    cat.merge("s", "t", asStage(wide(0, 10)
      .withColumn("u", lit("g-0")).withColumn("d", lit("d-0")), Cdc.OpUpdate), Seq("pk"))
    assert(dictionaryPages(dir)("u").forall(identity))
    // release: `r`'s memo has `u` PLAIN; the released rows make it pay
    val rdir = cat.tablePath("s", "r")
    cat.save("s", "r", wide(0, 20000))
    assert(!dictionaryPages(rdir)("u").exists(identity))
    cat.save("s", "r_reload_2", wide(0, 20000).withColumn("u", lit("same")))
    cat.release("s", "r", "_reload_2")
    cat.merge("s", "r", asStage(wide(0, 10).withColumn("u", lit("same")),
      Cdc.OpUpdate), Seq("pk"))
    assert(dictionaryPages(rdir)("u").forall(identity))
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
