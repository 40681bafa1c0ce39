package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** In-engine distributed training of a linear quality scorer — the
  * "classifier-based filtering" step of a corpus pipeline (a small model
  * distills rule-based teachers into a smooth score used for threshold
  * sweeps and importance sampling), trained WITHOUT leaving the engine.
  *
  * Method: full-batch gradient descent on logistic loss. Each iteration
  * is ONE aggregate over the corpus — the gradient is a sum of per-row
  * contributions — so training cost is `iters` map-reduce passes with no
  * driver-resident data beyond the weight vector. At 100 TB that is the
  * only shape that works: the model is m doubles, the data never moves,
  * and partial aggregation absorbs the row stream.
  *
  * Bit-exact cross-engine replay (the catalog's oracle discipline, same
  * devices as PageRank):
  *  - activation is the "fast sigmoid" σ(z) = 0.5 + 0.5·z/(1+|z|) —
  *    add/mul/div/abs only, every step an IEEE op both engines perform
  *    identically (no transcendental `exp`, whose last-ulp behavior is
  *    library-specific);
  *  - per-row gradient contributions are quantized to scaled BIGINTs
  *    (`round(g·1e6)`) and SUMMED EXACTLY — float summation order never
  *    matters;
  *  - the weight update divides scaled longs with truncation toward
  *    zero (Scala `Long./` == DuckDB `//`), so the weight trajectory is
  *    integer-exact and iteration t+1's plan embeds iteration t's
  *    weights as literals.
  */
object QualityModel {

  /** Fixed-point scale for weights and gradient quantization. */
  val Scale = 1000000L

  /** σ(z) ≈ 0.5 + 0.5·z/(1+|z|): monotone, (0,1)-bounded, arithmetic
    * only. Gradient of logistic loss is used with this activation as a
    * drop-in (standard fast-sigmoid practice). */
  def fastSigmoid(z: Column): Column =
    lit(0.5) + lit(0.5) * z / (lit(1.0) + abs(z))

  private def zExpr(weightsScaled: Seq[Long], feats: Seq[Column]): Column =
    weightsScaled.zip(feats).map { case (wq, f) =>
      lit(wq.toDouble / Scale.toDouble) * f
    }.reduce(_ + _) // left fold — a fixed association order

  /** One gradient-descent step: returns the per-feature EXACT scaled
    * gradient sums Σ round((p−y)·f_j·Scale). */
  private def gradient(df: DataFrame, feats: Seq[Column], label: Column,
      weightsScaled: Seq[Long]): Seq[Long] = {
    val p = fastSigmoid(zExpr(weightsScaled, feats))
    val err = p - label
    val aggs = feats.zipWithIndex.map { case (f, j) =>
      sum(round(err * f * lit(Scale.toDouble)).cast(LongType)).as(s"g$j")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    feats.indices.map(j => if (row.isNullAt(j)) 0L else row.getLong(j))
  }

  /** Train `iters` full-batch steps from zero weights; `lrNum` is the
    * integer learning-rate numerator (effective step = lrNum/n per unit
    * gradient). Returns the scaled weight vector. */
  def train(df: DataFrame, feats: Seq[Column], label: Column,
      iters: Int = 3, lrNum: Long = 4L): Seq[Long] = {
    val n = df.count()
    require(n > 0, "cannot train on an empty corpus")
    var wq = Seq.fill(feats.size)(0L)
    (1 to iters).foreach { _ =>
      val g = gradient(df, feats, label, wq)
      wq = wq.zip(g).map { case (w, gj) => w - (lrNum * gj) / n }
    }
    wq
  }

  /** Score with a trained (scaled) weight vector. */
  def score(feats: Seq[Column], weightsScaled: Seq[Long]): Column =
    fastSigmoid(zExpr(weightsScaled, feats))
}
