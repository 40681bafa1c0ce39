package graft.streaming

import graft.SparkSpec
import java.util.SplittableRandom
import perfbench.{Events, Gen}

/** The whole sink against perfbench's [[perfbench.Model]]: seeded
  * [[Gen]] histories run through both paths into both stores, and the
  * landed table must be the model's last-writer-wins table, masked under
  * the rules the table was built with. Each history is two or three
  * batches of a few hundred messages, or one history of 900 cut into two
  * to four batches at seeded offsets; replays model at-least-once
  * delivery of the batch just loaded. */
class SinkModelSpec extends SparkSpec {
  import SinkFixture._

  /** A generated history: its batches, the order they are loaded in
    * (a repeated index is a replay), whether the table ends with schema
    * v2's column, and the events the table must be the model of (the
    * batches, unless they are slices of one history). */
  private case class History(batches: IndexedSeq[Events], order: Seq[Int],
      v2: Boolean = false, model: Seq[Events] = Nil)
  private def inOrder(batches: Events*) = History(batches.toIndexedSeq, batches.indices)

  /** Events `from until until` of `ev`, as their own batch. */
  private def slice(ev: Events, from: Int, until: Int) = new Events(
    ev.offset(from), ev.keys.slice(from, until), ev.values.slice(from, until),
    ev.kinds.slice(from, until), ev.ids.slice(from, until),
    ev.rows.slice(from, until), ev.versions.slice(from, until))

  private case class Behaviour(name: String, history: Long => History)

  private val behaviours = Seq(
    Behaviour("uniform C/U/D with tombstones and unframed frames", { seed =>
      val src = new Gen.Source(seed, Gen.Uniform)
      inOrder(Seq.fill(3)(src.events(300, corruptPerMille = 20)): _*)
    }),
    Behaviour("zipf hot keys", { seed =>
      val src = new Gen.Source(seed, Gen.Zipf(400, 1.2))
      inOrder(Seq.fill(2)(src.events(300)): _*)
    }),
    Behaviour("v1 → v2 inside one batch (T3, D4)", { seed =>
      val src = new Gen.Source(seed, Gen.Uniform)
      inOrder(src.events(250), src.events(300, v2From = 150)).copy(v2 = true)
    }),
    Behaviour("creates-only batches into an existing table (R5), then mixed", { seed =>
      val src = new Gen.Source(seed, Gen.Uniform)
      inOrder(src.events(200), src.events(150, onlyCreates = true), src.events(250))
    }),
    Behaviour("replay of a random batch already loaded", { seed =>
      val src = new Gen.Source(seed, Gen.Uniform)
      val batches = IndexedSeq.fill(2)(src.events(300))
      val r = new SplittableRandom(seed).nextInt(batches.size)
      History(batches, (0 to r) ++ (r until batches.size))
    }),
    Behaviour("replay of a creates-only batch", { seed =>
      val src = new Gen.Source(seed, Gen.Uniform)
      History(IndexedSeq(src.events(300), src.events(200, onlyCreates = true)),
        Seq(0, 1, 1))
    }),
    Behaviour("one history cut at random batch boundaries", { seed =>
      // 1–3 cuts: one on the v1 → v2 change or between a delete and its
      // tombstone, the others anywhere
      val rnd = new SplittableRandom(seed)
      val v2From = 300 + rnd.nextInt(300)
      val whole = new Gen.Source(seed, Gen.Uniform).events(900, v2From = v2From)
      val deletes = (0 until whole.size - 1).filter(whole.kinds(_) == Gen.Delete)
      val edge = if (rnd.nextBoolean()) v2From else deletes(rnd.nextInt(deletes.size)) + 1
      val cuts = (edge +: Seq.fill(rnd.nextInt(3))(1 + rnd.nextInt(whole.size - 1)))
        .distinct.sorted
      val bounds = 0 +: cuts :+ whole.size
      val slices = bounds.zip(bounds.tail).map { case (a, b) => slice(whole, a, b) }
      History(slices.toIndexedSeq, slices.indices, v2 = true, model = Seq(whole))
    }))

  /** Each path by name, made afresh per history (the staged one writes
    * its objects under a new root). */
  private val paths: Seq[(String, () => Path)] = Seq(
    Direct.name -> (() => Direct),
    Staged.Name -> (() => Staged(tmp("sink-model-ndjson"))))

  for (b <- behaviours; (pathName, p) <- paths; s <- Seq(Parquet, Mor))
    test(s"${b.name}: $pathName into ${s.name} lands the model's table") {
      forSeeds { seed =>
        val h = b.history(seed)
        val (via, store) = (p(), s.make(spark, tmp("sink-model")))
        h.order.foreach(i => via.load(spark, frames(spark, h.batches(i)), i, store, cfg()))
        val model = if (h.model.nonEmpty) h.model else h.batches
        val chk = check(store.load(Schema, Table), model, v2 = h.v2)
        assert(chk.mismatches == 0, s"seed $seed order ${h.order} sizes " +
          s"${h.batches.map(_.size)}: ${chk.notes}")
      }
    }

  for ((pathName, p) <- paths)
    test(s"mask reload: a _reload_ rebuild under changed rules through " +
        s"$pathName, then MaskReload.release, lands the model under " +
        "the new rules") {
      forSeeds { seed =>
        val src = new Gen.Source(seed, Gen.Zipf(300, 1.2))
        val batches = Seq(src.events(300), src.events(300, v2From = 100))
        val catalog = new graft.warehouse.ParquetCatalog(spark, tmp("sink-reload"))
        val live = p()
        batches.zipWithIndex.foreach { case (b, i) =>
          live.load(spark, frames(spark, b), i, catalog, cfg()) }
        val before = check(catalog.load(Schema, Table), batches, v2 = true)
        assert(before.mismatches == 0, s"seed $seed: ${before.notes}")

        // the rebuild is a second pipeline with its own batcher output
        val rc = MaskReload.reloadConfig(cfg(), ReloadMask, "v2")
        val rebuild = p()
        batches.zipWithIndex.foreach { case (b, i) =>
          rebuild.load(spark, frames(spark, b), i, catalog, rc) }
        MaskReload.release(catalog, Schema, Table, "v2")
        assert(!catalog.exists(Schema, rc.targetTable))
        val after = check(catalog.load(Schema, Table), batches, ReloadMask, v2 = true)
        assert(after.mismatches == 0, s"seed $seed: ${after.notes}")
      }
    }

  test("Gen reproduces its frames byte for byte per seed and batch width; " +
      "its op mix and zipf skew are the documented ones") {
    def run(seed: Long, width: Int): Seq[(Long, Array[Byte], Array[Byte])] = {
      val src = new Gen.Source(seed, Gen.Zipf(500, 1.2))
      (0 until 3).flatMap { n =>
        val ev = src.events(width, corruptPerMille = 20, v2From = if (n == 2) width / 2 else Int.MaxValue)
        ev.frames(0, ev.size)
      }
    }
    def same(x: Seq[(Long, Array[Byte], Array[Byte])],
        y: Seq[(Long, Array[Byte], Array[Byte])]) =
      x.size == y.size && x.zip(y).forall { case ((o1, k1, v1), (o2, k2, v2)) =>
        o1 == o2 && java.util.Arrays.equals(k1, k2) && java.util.Arrays.equals(v1, v2)
      }
    forSeeds { seed =>
      for (width <- Seq(1, 37, 300)) {
        val a = run(seed, width)
        assert(a.map(_._1) == a.indices.map(_.toLong), "offsets are 0, 1, 2, …")
        assert(same(a, run(seed, width)), s"seed $seed width $width")
      }
      assert(!same(run(seed, 300), run(seed + 1, 300)), s"seed $seed")

      // uniform keys: about 80/15/5 create/update/delete, each delete
      // followed by its tombstone, and unframed frames interleaved
      val u = new Gen.Source(seed, Gen.Uniform).events(2000, corruptPerMille = 20)
      val kinds = u.kinds.groupBy(identity).map { case (k, ks) => k -> ks.length }
      def n(k: Byte) = kinds.getOrElse(k, 0)
      assert(n(Gen.Create) > n(Gen.Update) && n(Gen.Update) > n(Gen.Delete) &&
        n(Gen.Delete) > 0 && n(Gen.Corrupt) > 0, s"seed $seed: $kinds")
      assert((0 until u.size - 1).forall(i => u.kinds(i) != Gen.Delete ||
        (u.kinds(i + 1) == Gen.Tombstone && u.ids(i + 1) == u.ids(i))), s"seed $seed")
      // zipf keys: the head key carries far more than a uniform share
      val z = new Gen.Source(seed, Gen.Zipf(500, 1.2)).events(2000)
      val ids = (0 until z.size).filter(z.isData).map(z.ids)
      assert(ids.groupBy(identity).values.map(_.size).max > ids.size / 10,
        s"seed $seed")
    }
  }
}
