package graft.warehouse

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[TableStore.recommend]] must replay BENCHNOTES.md's measured
  * crossover table ("Bucketed-store crossover MEASURED"): the measured
  * winners at each (target, batch, key-shape) point are the
  * recommendations. */
class TableStoreRecommendSpec extends SparkSpec {
  import spark.implicits._
  import TableStore.{Bucketed, Mor}

  private val local = 4.0 / 64 // the measured bucket-localized shape
  private val uniform = 1.0

  test("recommend replays the measured crossover table") {
    // (target_rows, batch_rows, touched_fraction) -> measured winner
    val table = Seq(
      (400_000L, 10_000L, local) -> Mor, //   40:1 parity → MOR's flat wins
      (400_000L, 10_000L, uniform) -> Mor, //            0.4× — never
      (4_000_000L, 10_000L, local) -> Mor, // 400:1 parity (0.94 vs 0.86)
      (4_000_000L, 10_000L, uniform) -> Mor, //          0.5×
      (40_000_000L, 10_000L, local) -> Bucketed, // 4000:1 → 1.5× win
      (40_000_000L, 10_000L, uniform) -> Mor) //         0.6×
    for (((t, b, f), want) <- table)
      assert(TableStore.recommend(t, b, f) == want,
        s"target=$t batch=$b touched=$f")
  }

  test("rule edges: empty batch and the 1000:1 crossover") {
    assert(TableStore.recommend(1_000_000L, 0L, local) == Mor)
    assert(TableStore.recommend(10_000_000L, 10_000L, local) == Bucketed)
    assert(TableStore.recommend(9_999_999L, 10_000L, local) == Mor)
    // local ratio but not local keys
    assert(TableStore.recommend(10_000_000L, 10_000L, 0.26) == Mor)
  }

  test("touchedBucketFraction probe: localized keys low, uniform keys ~1") {
    // keys drawn from 2 PK values → at most 2/64 buckets
    val localBatch = (1 to 1000).map(i => (if (i % 2 == 0) 7L else 9L, i))
      .toDF("pk", "v")
    val fLocal = TableStore.touchedBucketFraction(localBatch, Seq("pk"), 64)
    assert(fLocal <= 2.0 / 64)
    // 10k distinct keys over 64 buckets → essentially all touched
    val uniformBatch = (1 to 10000).map(i => (i.toLong, i)).toDF("pk", "v")
    val fUni = TableStore.touchedBucketFraction(uniformBatch, Seq("pk"), 64)
    assert(fUni > 0.9)
    // and the probe feeds the rule end to end
    assert(TableStore.recommend(100_000_000L, 1000L, fLocal) == Bucketed)
    assert(TableStore.recommend(100_000_000L, 10_000L, fUni) == Mor)
  }
}
