package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Corpus-trained bigram language model + per-document negative
  * log-likelihood — perplexity-style quality filtering (the CCNet
  * recipe: score documents against an in-domain LM, drop the tail) with
  * the LM TRAINED IN-ENGINE from the same corpus it scores.
  *
  * Scale shape: bigram and unigram count tables are vocab-bounded, not
  * corpus-bounded — one (w1,w2) shuffle and one (w) shuffle build them;
  * scoring joins the exploded bigram stream against them (AQE turns
  * both into broadcasts when the vocab fits, which a whitespace-token
  * vocab does) and folds per-doc. Nothing is ever quadratic.
  *
  * Replay: token/bigram counts and vocab size are exact integers;
  * p(w2|w1) = (c12+1)/(c1+V) is a fixed tree of IEEE ops; each bigram's
  * −ln(p) is quantized to a scaled BIGINT and summed EXACTLY, so the
  * per-doc total is independent of summation order (the QualityModel
  * device — a raw double sum over an unbounded bigram stream would be
  * order-sensitive and engine-divergent).
  */
object LangModel {

  val Scale = 1000000L

  /** Per-doc normalized-token arrays (shared tokenizer with
    * dedup/BM25). */
  private def tokCol = TextOps.tokens(TextOps.normalized(col("__text")))

  /** Add-one-smoothed per-doc NLL: (id, n_bigrams, nll_scaled, avg_nll).
    * Every doc survives — zero-bigram docs score 0. */
  def bigramNll(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // tokenization is the expensive projection and four consumers read
    // it (unigram counts, vocab size, bigram counts, scoring join) —
    // materialize the token-ARRAY frame once (r19: previously the token
    // stream and the bigram stream each re-ran the regex tokenizer —
    // two corpus passes; both now derive from one checkpointed array
    // frame, a cheap explode/transform per consumer)
    // lazy (the rfm chained-rank pattern): the vocab-size count below is
    // an eager action over `arr` anyway — it materializes the seam, so
    // an eager checkpoint here would pay a whole extra job for nothing
    val arr = docs.select(col(idCol), col(textCol).as("__text"))
      .select(col(idCol), tokCol.as("__t"))
      .localCheckpoint(false)
    graft.core.Metrics.deferUnpersist(arr)
    val toks = arr.select(col(idCol), explode(col("__t")).as("w"))
    val uni = toks.groupBy(col("w").as("w1")).agg(count(lit(1)).as("c1"))
    val vocab = toks.select(col("w")).distinct().count()
    val bi = arr
      .select(col(idCol), explode(expr(
        """CASE WHEN size(__t) < 2 THEN array()
          |ELSE transform(sequence(0, size(__t) - 2),
          |  i -> struct(__t[i] AS w1, __t[i + 1] AS w2)) END""".stripMargin))
        .as("__b"))
      .select(col(idCol), col("__b.w1").as("w1"), col("__b.w2").as("w2"))
      .localCheckpoint()
    graft.core.Metrics.deferUnpersist(bi)
    val big = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))

    val p = (col("c2").cast(DoubleType) + lit(1.0)) /
      (col("c1").cast(DoubleType) + lit(vocab.toDouble))
    val scored = bi
      .join(big, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .select(col(idCol),
        round(-log(p) * lit(Scale.toDouble)).cast(LongType).as("__nq"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__nq")).as("nll_scaled"))

    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll_scaled"), lit(0L)).as("nll_scaled"),
        when(coalesce(col("n_bigrams"), lit(0L)) > 0,
          round(coalesce(col("nll_scaled"), lit(0L)).cast(DoubleType) /
            lit(Scale.toDouble) / col("n_bigrams").cast(DoubleType), 4))
          .otherwise(lit(0.0)).as("avg_nll"))
  }
}
