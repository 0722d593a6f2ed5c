package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Bpe

class BpeLearnSpec extends SparkSpec {
  import spark.implicits._

  /** Plain-Scala port of the scripts/learn_bpe.py loop: pair counts
    * over ALL adjacent positions weighted by word frequency, argmax
    * with ties to the lexicographically largest pair, leftmost
    * non-overlapping application. */
  private def refLearn(texts: Seq[String], n: Int): Seq[(String, String, Long)] = {
    var vocab = texts.flatMap(t => "[a-z]+".r.findAllIn(t.toLowerCase))
      .groupBy(identity).map { case (w, ws) =>
        w.map(_.toString).toVector -> ws.size.toLong }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var stop = false
    for (_ <- 1 to n if !stop) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
        pairs((syms(i), syms(i + 1))) = pairs.getOrElse(
          (syms(i), syms(i + 1)), 0L) + f
      if (pairs.isEmpty) stop = true
      else {
        val ((a, b), c) = pairs.maxBy { case ((a, b), c) => (c, a, b) }
        out += ((a, b, c))
        vocab = vocab.groupBy { case (syms, _) =>
          val r = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              r += a + b; i += 2
            } else { r += syms(i); i += 1 }
          }
          r.toVector
        }.map { case (syms, vs) => syms -> vs.map(_._2).sum }
      }
    }
    out.toSeq
  }

  // both r18 dispatch paths: the normal dispatch routes these corpora to
  // the driver kernel, distributedOnly forces the distributed round loop
  // — the two must agree merge for merge
  private def run(texts: Seq[String], n: Int) = {
    val df = texts.zipWithIndex.map(_.swap).toDF("id", "text")
    val local = BpeLearn.learn(df, "text", n).map(m => (m.lhs, m.rhs, m.cnt))
    val dist = LocalDispatch.distributedOnly(BpeLearn.learn(df, "text", n))
      .map(m => (m.lhs, m.rhs, m.cnt))
    assert(local === dist, "local kernel ≡ distributed round loop")
    local
  }

  test("learned merges match the reference trainer on a seeded corpus") {
    val texts = Seq(
      "the cat sat on the mat and the cat ate the rat",
      "a banana and a bandana in the cabana",
      "lower lowest newer newest wider widest",
      "aaa aaaa aa baa aab") // overlap-heavy: all-adjacent counting vs
                             // non-overlapping application diverge here
    assert(run(texts, 15) === refLearn(texts, 15))
  }

  test("tie-break: equal counts go to the lexicographically largest pair") {
    // "xy" and "ab" both appear exactly twice; (x,y) > (a,b)
    val texts = Seq("xy ab xy ab")
    val got = run(texts, 2)
    assert(got === refLearn(texts, 2))
    assert(got.head._1 == "x" && got.head._2 == "y")
  }

  test("learned table is well-formed and drops into Bpe.tokenCounts") {
    val texts = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("text").as[String].take(50).toSeq
    val merges = BpeLearn.learn(
      texts.zipWithIndex.map(_.swap).toDF("id", "text"), "text", 20)
      .map(m => (m.lhs, m.rhs))
    assert(merges.size === 20)
    assert(Bpe.wellFormed(merges), "learned merges must be well-formed")
    // applying the learned table must not crash and must reduce counts
    val df = texts.zipWithIndex.map(_.swap).toDF("doc_id", "text")
    val withLearned = Bpe.tokenCounts(df, "doc_id", "text", merges)
      .agg(sum("bpe_tokens")).as[Long].head()
    val charsOnly = Bpe.tokenCounts(df, "doc_id", "text", Seq.empty)
      .agg(sum("bpe_tokens")).as[Long].head()
    assert(withLearned < charsOnly,
      "20 learned merges must shrink the symbol count")
  }
}
