package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Smoothed-unigram negative sampling (Mikolov et al. 2013 §2.2,
  * arXiv:1310.4546) — the contrastive-training staple: sample k
  * negatives per anchor from the vocabulary under P(w) ∝ count(w)^0.75
  * (the 3/4 power lifts the tail so rare words are ever seen as
  * negatives). Deterministic: draws are md5-derived uniforms
  * (`seed:anchor:j`), so both engines — and every re-run — pick the
  * identical negatives; the ^0.75 weight is the ONE float surface,
  * quantized once to integer 1e-4 (the L43 discipline), after which
  * the cumulative table, the modulo draw and the interval lookup are
  * exact integers.
  *
  * Scale shape: the vocabulary cumulative is the shared L87
  * partition-offset prefix sum (no single-task global window — local
  * window per range-partition + a one-row-per-partition offset
  * collect), checkpointed once (vocab-sized); draws are a narrow
  * projection (k rows per anchor, no state); the draw→token lookup is
  * L39's bucketized point-in-interval join — a plain hash join on
  * (bucket), never a sort or a cross product. At 100 TB the vocab
  * table is millions of rows and every stage above is
  * vocabulary-scale, not corpus-scale, except the one token count. */
object NegativeSampling {

  /** `(anchor, j, neg_token, u)` — k draws per non-null anchor id.
    * `tokens` extracts the token array from `textCol`. */
  def sample(corpus: DataFrame, textCol: String,
      tokens: Column => Column, anchors: DataFrame, anchorCol: String,
      k: Int, seed: String): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1, 1000], got $k")
    val spark = corpus.sparkSession
    val tf = corpus.filter(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      // quantize the ^0.75 weight ONCE — everything after is integer
      .select(col("token").as("v"),
        floor(pow(col("cnt").cast("double"), lit(0.75)) * lit(10000)
          + lit(0.5)).cast("long").as("c_all"))
    val chain = scala.collection.mutable.ArrayBuffer[DataFrame]()
    // the total weight rides out of the offset collect (r17): max
    // cum_all = Σ c_all, so the old agg-and-collect job is gone
    val (cum0, tot) = KsDrift.cumulativeByValue(tf,
        spark.sessionState.conf.numShufflePartitions, chain)
    val cum = cum0.localCheckpoint(false)
    cum.count() // one job materializes the prefix-sum chain
    chain.foreach(Checkpoints.release)
    require(tot > 0, "negative sampling over an empty vocabulary")
    val vocab = cum.select(col("v").as("neg_token"),
      (col("cum_all") - col("c_all")).as("lo"),
      (col("cum_all") - 1).as("hi"),
      lit(1).as("__one"))
    val draws = anchors
      .filter(col(anchorCol).isNotNull)
      .select(col(anchorCol).as("anchor"),
        explode(sequence(lit(1), lit(k))).as("j"))
      .select(col("anchor"), col("j"),
        pmod(conv(substring(md5(concat(lit(s"$seed:"),
            col("anchor").cast("string"), lit(":"),
            col("j").cast("string")).cast("binary")), 1, 13), 16, 10)
          .cast("long"), lit(tot)).as("u"),
        lit(1).as("__one"))
    RangeJoin.pointInInterval(draws, vocab, Seq("__one"),
        "u", "lo", "hi", bucketWidth = math.max(tot / 64, 1L))
      .select(col("anchor"), col("j"), col("neg_token"), col("u"))
  }
}
