package graft.warehouse

import graft.SparkSpec
import graft.core.Cdc
import org.apache.spark.sql.functions._

class MergeOnReadCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-mor").toString

  private def stageDF(rows: Seq[(Long, String, Int, String)]) =
    rows.toDF(Cdc.OffsetColumn, Cdc.OperationColumn, "pk", "v")

  test("C/U/D batch sequence matches the eager ParquetCatalog merge") {
    val mor = new MergeOnReadCatalog(spark, tmp(), compactEvery = 100)
    val plain = new ParquetCatalog(spark, tmp())
    val batches = Seq(
      (1 to 50).map(i => (i.toLong, Cdc.OpCreate, i, s"v$i")),
      Seq((60L, Cdc.OpUpdate, 7, "v7b"), (61L, Cdc.OpDelete, 8, "v8"),
        (62L, Cdc.OpCreate, 51, "v51")),
      // within-batch dedupe: two writes to pk=7, higher offset wins;
      // delete-then-recreate of pk=8 across batches
      Seq((70L, Cdc.OpUpdate, 7, "v7c"), (71L, Cdc.OpUpdate, 7, "v7d"),
        (72L, Cdc.OpCreate, 8, "v8back")))
    batches.foreach { b =>
      mor.merge("s", "t", stageDF(b), Seq("pk"))
      plain.merge("s", "t", stageDF(b), Seq("pk"))
    }
    assert(mor.deltaCount("s", "t") == 2) // first batch created the base
    val got = mor.load("s", "t").as[(Int, String)].collect().toMap
    val want = plain.load("s", "t").as[(Int, String)].collect().toMap
    assert(got == want)
    assert(got(7) == "v7d" && got(8) == "v8back" && got(51) == "v51")
  }

  test("merges never touch base files; compaction folds deltas and preserves the view") {
    val root = tmp()
    val mor = new MergeOnReadCatalog(spark, root, compactEvery = 4)
    mor.merge("s", "t",
      stageDF((1 to 30).map(i => (i.toLong, Cdc.OpCreate, i, s"v$i"))),
      Seq("pk"))
    def baseState(): Set[String] = {
      val d = new java.io.File(s"$root/s/t/base")
      d.listFiles.map(f => f.getName + ":" + f.lastModified).toSet
    }
    val before = baseState()
    // three merges: O(batch) appends, base untouched
    (1 to 3).foreach { k =>
      mor.merge("s", "t",
        stageDF(Seq((100L + k, Cdc.OpUpdate, k, s"u$k"))), Seq("pk"))
    }
    assert(mor.deltaCount("s", "t") == 3)
    assert(baseState() == before, "hot-path merge rewrote the base")
    val preCompact = mor.load("s", "t").as[(Int, String)].collect().toMap
    // 4th merge crosses compactEvery: deltas fold into the base
    mor.merge("s", "t", stageDF(Seq((200L, Cdc.OpDelete, 30, "v30"))), Seq("pk"))
    assert(mor.deltaCount("s", "t") == 0)
    assert(baseState() != before)
    val got = mor.load("s", "t").as[(Int, String)].collect().toMap
    assert(got == preCompact - 30)
    assert(got(1) == "u1" && got(2) == "u2" && got(3) == "u3")
    // post-compaction writes start a fresh delta sequence
    mor.merge("s", "t", stageDF(Seq((300L, Cdc.OpUpdate, 1, "u1b"))), Seq("pk"))
    assert(mor.deltaCount("s", "t") == 1)
    assert(mor.load("s", "t").filter($"pk" === 1)
      .select("v").as[String].head() == "u1b")
  }

  test("append fast path survives an earlier delta's DELETE of the same PK") {
    val mor = new MergeOnReadCatalog(spark, tmp(), compactEvery = 100)
    mor.merge("s", "t",
      stageDF(Seq((1L, Cdc.OpCreate, 1, "a"), (2L, Cdc.OpCreate, 2, "b"))),
      Seq("pk"))
    mor.merge("s", "t", stageDF(Seq((9L, Cdc.OpDelete, 2, "b"))), Seq("pk"))
    // R5 append of a re-created pk=2 carries NO offset — seq ordering must
    // outrank the delete's offset 9
    mor.append("s", "t", Seq((2, "b2"), (3, "c")).toDF("pk", "v"), Seq("pk"))
    val got = mor.load("s", "t").as[(Int, String)].collect().toMap
    assert(got == Map(1 -> "a", 2 -> "b2", 3 -> "c"))
  }

  test("add-column schema evolution: old base rows read NULL, compaction keeps the wide schema") {
    val mor = new MergeOnReadCatalog(spark, tmp(), compactEvery = 2)
    mor.merge("s", "t",
      stageDF(Seq((1L, Cdc.OpCreate, 1, "a"), (2L, Cdc.OpCreate, 2, "b"))),
      Seq("pk"))
    val widened = Seq((10L, Cdc.OpCreate, 3, "c", "e3"))
      .toDF(Cdc.OffsetColumn, Cdc.OperationColumn, "pk", "v", "extra")
    mor.merge("s", "t", widened, Seq("pk"))
    val got = mor.load("s", "t").select("pk", "v", "extra")
      .as[(Int, String, Option[String])].collect().toMap2
    assert(got == Map(1 -> (("a", None)), 2 -> (("b", None)),
      3 -> (("c", Some("e3")))))
    // cross compactEvery: the folded base must keep the wide schema
    mor.merge("s", "t",
      Seq((20L, Cdc.OpUpdate, 1, "a2", "e1"))
        .toDF(Cdc.OffsetColumn, Cdc.OperationColumn, "pk", "v", "extra"),
      Seq("pk"))
    assert(mor.deltaCount("s", "t") == 0)
    val after = mor.load("s", "t").select("pk", "v", "extra")
      .as[(Int, String, Option[String])].collect().toMap2
    assert(after == Map(1 -> (("a2", Some("e1"))), 2 -> (("b", None)),
      3 -> (("c", Some("e3")))))
  }

  test("crash recovery: base stranded as __old mid-swap is restored; leftover deltas re-apply idempotently") {
    val root = tmp()
    val mor = new MergeOnReadCatalog(spark, root, compactEvery = 100)
    mor.merge("s", "t",
      stageDF((1 to 20).map(i => (i.toLong, Cdc.OpCreate, i, s"v$i"))),
      Seq("pk"))
    mor.merge("s", "t", stageDF(Seq((30L, Cdc.OpUpdate, 5, "v5b"))), Seq("pk"))
    val want = mor.load("s", "t").as[(Int, String)].collect().toMap
    // crash window 1: base renamed aside, shadow never renamed in
    val fs = new java.io.File(s"$root/s/t")
    assert(new java.io.File(fs, "base").renameTo(new java.io.File(fs, "base__old")))
    assert(mor.load("s", "t").as[(Int, String)].collect().toMap == want)
    // crash window 2: compaction swapped but died before deleting its
    // consumed deltas — the stale delta re-applies without changing the view
    mor.compact("s", "t")
    val resolvedBase = spark.read.parquet(s"$root/s/t/base")
    stageDF(Seq((30L, Cdc.OpUpdate, 5, "v5b")))
      .withColumn("__x", lit(1)).drop("__x")
      .coalesce(1).write.parquet(s"$root/s/t/delta_000000099")
    assert(mor.load("s", "t").as[(Int, String)].collect().toMap == want)
    assert(resolvedBase.as[(Int, String)].collect().toMap == want)
  }

  test("load mid-swap reads the base at base__old and renames nothing") {
    val root = tmp()
    val mor = new MergeOnReadCatalog(spark, root, compactEvery = 100)
    mor.merge("s", "t",
      stageDF((1 to 5).map(i => (i.toLong, Cdc.OpCreate, i, s"v$i"))),
      Seq("pk"))
    mor.merge("s", "t", stageDF(Seq((10L, Cdc.OpUpdate, 2, "v2b"))), Seq("pk"))
    // a compaction's swap between rename(base, base__old) and
    // rename(shadow, base)
    val dir = new java.io.File(s"$root/s/t")
    assert(new java.io.File(dir, "base")
      .renameTo(new java.io.File(dir, "base__old")))
    assert(mor.load("s", "t").as[(Int, String)].collect().toMap ==
      Map(1 -> "v1", 2 -> "v2b", 3 -> "v3", 4 -> "v4", 5 -> "v5"))
    assert(new java.io.File(dir, "base__old").isDirectory)
    assert(!new java.io.File(dir, "base").exists)
  }

  test("crash recovery: stranded shadow and tmp-delta debris never surface; next write/compact overwrites them") {
    val root = tmp()
    val mor = new MergeOnReadCatalog(spark, root, compactEvery = 100)
    mor.merge("s", "t",
      stageDF((1 to 10).map(i => (i.toLong, Cdc.OpCreate, i, s"v$i"))),
      Seq("pk"))
    mor.merge("s", "t", stageDF(Seq((20L, Cdc.OpUpdate, 3, "v3b"))), Seq("pk"))
    val want = mor.load("s", "t").as[(Int, String)].collect().toMap
    val dir = s"$root/s/t"
    // crash window A: compaction died mid-shadow-write (before any
    // rename) — garbage shadow present, store stays readable and a later
    // compact overwrites the stale shadow
    stageDF(Seq((99L, Cdc.OpUpdate, 3, "WRONG")))
      .coalesce(1).write.parquet(s"$dir/base__compacting")
    assert(mor.load("s", "t").as[(Int, String)].collect().toMap == want)
    mor.compact("s", "t")
    assert(mor.deltaCount("s", "t") == 0)
    assert(mor.load("s", "t").as[(Int, String)].collect().toMap == want)
    // crash window B: writeDelta died mid-write — dot-prefixed tmp is
    // invisible to readers and the next delta publish overwrites it
    stageDF(Seq((100L, Cdc.OpUpdate, 4, "WRONG")))
      .coalesce(1).write.parquet(s"$dir/.tmp_delta")
    assert(mor.load("s", "t").as[(Int, String)].collect().toMap == want)
    mor.merge("s", "t", stageDF(Seq((101L, Cdc.OpUpdate, 5, "v5b"))), Seq("pk"))
    assert(mor.load("s", "t").as[(Int, String)].collect().toMap ==
      want.updated(5, "v5b"))
  }

  test("byte-ratio compaction: folds when delta bytes outgrow the base, count backstop untripped") {
    val root = tmp()
    // floor of 1 byte so the tiny-fixture regime exercises the ratio path
    val mor = new MergeOnReadCatalog(spark, root, compactEvery = 1000,
      maxDeltaBytesRatio = 0.25, ratioFloorBytes = 1L)
    mor.merge("s", "t",
      stageDF((1 to 500).map(i => (i.toLong, Cdc.OpCreate, i, s"v$i"))),
      Seq("pk"))
    // a delta a quarter the base's row count — bytes overshoot 25% of the
    // base (parquet per-file overhead), so the very next write folds
    mor.merge("s", "t",
      stageDF((1 to 200).map(i => (1000L + i, Cdc.OpUpdate, i, s"w$i"))),
      Seq("pk"))
    assert(mor.deltaCount("s", "t") == 0,
      "ratio trigger should have compacted")
    val got = mor.load("s", "t").as[(Int, String)].collect().toMap
    assert(got.size == 500 && got(1) == "w1" && got(300) == "v300")
    // and a floor above the delta size suppresses the ratio trigger
    val mor2 = new MergeOnReadCatalog(spark, tmp(), compactEvery = 1000,
      maxDeltaBytesRatio = 0.25, ratioFloorBytes = 1L << 30)
    mor2.merge("s", "t",
      stageDF((1 to 500).map(i => (i.toLong, Cdc.OpCreate, i, s"v$i"))),
      Seq("pk"))
    mor2.merge("s", "t",
      stageDF((1 to 200).map(i => (1000L + i, Cdc.OpUpdate, i, s"w$i"))),
      Seq("pk"))
    assert(mor2.deltaCount("s", "t") == 1,
      "below the floor only the count backstop may compact")
  }

  test("compaction re-clusters the base by the layout columns") {
    val root = tmp()
    val mor = new MergeOnReadCatalog(spark, root, compactEvery = 2,
      layoutCols = Seq("pk"), layoutBits = 10)
    mor.merge("s", "t",
      stageDF((1 to 400).map(i => (i.toLong, Cdc.OpCreate, i * 7919 % 1024, s"v$i"))),
      Seq("pk"))
    mor.merge("s", "t",
      stageDF(Seq((500L, Cdc.OpUpdate, 7919 % 1024, "v1b"))), Seq("pk"))
    mor.merge("s", "t",
      stageDF(Seq((501L, Cdc.OpUpdate, 2 * 7919 % 1024, "v2b"))), Seq("pk"))
    assert(mor.deltaCount("s", "t") == 0, "count trigger should have folded")
    // within each base file, rows lie in z order (the file-skipping
    // contract: min/max of the z key prunes whole files)
    val perFile = spark.read.parquet(s"$root/s/t/base")
      .select(input_file_name().as("f"),
        graft.warehouse.Layout.zValue(Seq(col("pk")), 10).as("z"))
      .as[(String, Long)].collect().toSeq.groupBy(_._1)
    assert(perFile.nonEmpty)
    perFile.foreach { case (_, rows) =>
      val zs = rows.map(_._2)
      assert(zs == zs.sorted, "base rows not z-clustered after fold")
    }
    // and the view is unchanged by the re-layout
    val got = mor.load("s", "t").as[(Int, String)].collect().toMap
    assert(got.size == 400 && got(7919 % 1024) == "v1b")
  }

  implicit private class ToMap2[A, B, C](s: Array[(A, B, C)]) {
    def toMap2: Map[A, (B, C)] = s.map(t => (t._1, (t._2, t._3))).toMap
  }
}
