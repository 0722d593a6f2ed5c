package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SetSimJoinSpec extends SparkSpec {
  import spark.implicits._

  // Reference implementation: exhaustive exact Jaccard over distinct
  // string 3-gram shingles (what the engine computes modulo 64-bit
  // shingle-hash collisions — none on these tiny vocabularies).
  private def bruteForce(docs: Seq[(Long, String)], shingleLen: Int,
      threshold: Double): Seq[(Long, Long, Double)] = {
    def sh(t: String): Set[String] = {
      val toks = t.trim match {
        case "" => Array.empty[String]
        case s  => s.split("\\s+")
      }
      toks.sliding(shingleLen).filter(_.length == shingleLen)
        .map(_.mkString(" ")).toSet
    }
    val sets = docs.map { case (id, t) => id -> sh(t) }
    for {
      (a, sa) <- sets
      (b, sb) <- sets
      if a < b
      u = (sa | sb).size
      if u > 0
      j = BigDecimal((sa & sb).size.toDouble / u)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= threshold
    } yield (a, b, j)
  }

  // distributed = true runs under distributedOnly, forcing the
  // distributed cascade (the r18 size dispatch's over-bound path); the
  // normal dispatch takes the driver kernel on these tiny corpora —
  // property tests run BOTH so local ≡ distributed stays pinned
  private val BothPaths = Seq(false, true)

  private def run(docs: Seq[(Long, String)], threshold: Double,
      maxTokenGroup: Int = Int.MaxValue,
      distributed: Boolean = false): Seq[(Long, Long, Double)] =
    onPath(distributed)(SetSimJoin.pairs(docs.toDF("doc_id", "text"),
        "doc_id", "text", shingleLen = 3, threshold = threshold,
        maxTokenGroup = maxTokenGroup)
      .orderBy(col("id_a"), col("id_b"))
      .as[(Long, Long, Double)].collect().toSeq)

  test("hand case: exact dup, near dup above and below threshold") {
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog",       // J = 1
      3L -> "the quick brown fox jumps over the lazy cat",       // high J
      4L -> "a completely different sentence about nothing here",
      5L -> "")                                                  // empty set
    val got = run(docs, threshold = 0.5)
    assert(got === bruteForce(docs, 3, 0.5))
    assert(got.map(p => (p._1, p._2)) === Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(got.head._3 === 1.0)
  }

  test("threshold 1.0: only identical shingle sets pair (prefix length 1)") {
    val docs = Seq(
      1L -> "w1 w2 w3 w4 w5",
      2L -> "w1 w2 w3 w4 w5",
      3L -> "w1 w2 w3 w4 w6")
    val got = run(docs, threshold = 1.0)
    assert(got === Seq((1L, 2L, 1.0)))
  }

  test("property: equals exhaustive brute force at several thresholds (seeded)") {
    val rnd = new scala.util.Random(63)
    for (trial <- 1 to 8) {
      val vocab = (0 until 12).map(i => s"v$i")
      val nDocs = rnd.nextInt(25) + 5
      // small vocab ⇒ shingle overlap across random docs is common, so
      // every threshold band gets exercised without hand-planted dups
      val docs = (1 to nDocs).map { i =>
        i.toLong -> (0 until rnd.nextInt(15) + 3)
          .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      } ++ Seq((nDocs + 1).toLong -> "", (nDocs + 2).toLong -> "x y")
      val threshold = Seq(0.3, 0.5, 0.8)(rnd.nextInt(3))
      val want = bruteForce(docs, 3, threshold)
      for (distributed <- BothPaths) {
        val got = run(docs, threshold, distributed = distributed)
        assert(got === want,
          s"trial $trial threshold=$threshold distributed=$distributed " +
            s"docs=$docs")
      }
    }
  }

  test("property: duplicated + lightly mutated corpus, full recall vs brute force") {
    val rnd = new scala.util.Random(64)
    val vocab = (0 until 20).map(i => s"w$i")
    val originals = (1 to 10).map { i =>
      i.toLong -> (0 until 12).map(_ => vocab(rnd.nextInt(vocab.size)))
    }
    val mutated = originals.map { case (id, toks) =>
      val t = toks.toArray
      t(rnd.nextInt(t.length)) = vocab(rnd.nextInt(vocab.size))
      (id + 100) -> t.toSeq
    }
    val docs = (originals ++ mutated).map { case (id, t) => id -> t.mkString(" ") }
    for (threshold <- Seq(0.4, 0.6, 0.9); distributed <- BothPaths) {
      val got = run(docs, threshold, distributed = distributed)
      val want = bruteForce(docs, 3, threshold)
      assert(got === want, s"threshold=$threshold distributed=$distributed")
    }
  }

  test("maxTokenGroup cap is a documented exactness valve: capped run loses pairs") {
    // 6 identical docs: every prefix token group has 6 members → a cap of
    // 2 drops the group and with it every pair; uncapped finds all 15
    val docs = (1L to 6L).map(_ -> "a b c d e f g h")
    for (distributed <- BothPaths) {
      assert(run(docs, 0.9, distributed = distributed).size === 15)
      assert(run(docs, 0.9, maxTokenGroup = 2,
        distributed = distributed).isEmpty)
    }
  }

  // ---------------------------------------------- containment (L125, r12)

  /** Exhaustive directed containment reference: C(A→B) = |A∩B|/|A| over
    * distinct string 3-gram shingles, integer threshold compare, 6-dp
    * half-up report — the operator's documented semantics replayed. */
  private def bruteForceContainment(docs: Seq[(Long, String)],
      threshold: Double): Seq[(Long, Long, Double)] = {
    def sh(t: String): Set[String] = {
      val toks = t.trim match {
        case "" => Array.empty[String]
        case s  => s.split("\\s+")
      }
      toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }
    val t6 = math.round(threshold * 1e6)
    val sets = docs.map { case (id, t) => id -> sh(t) }
    (for {
      (a, sa) <- sets
      (b, sb) <- sets
      if a != b && sa.nonEmpty
      inter = (sa & sb).size.toLong
      if inter * 1000000L >= t6 * sa.size
      c = BigDecimal(inter.toDouble / sa.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    } yield (a, b, c)).sortBy(p => (p._1, p._2))
  }

  private def runContainment(docs: Seq[(Long, String)], threshold: Double,
      maxTokenGroup: Int = Int.MaxValue,
      distributed: Boolean = false): Seq[(Long, Long, Double)] =
    onPath(distributed)(SetSimJoin.containmentPairs(
        docs.toDF("doc_id", "text"), "doc_id", "text", shingleLen = 3,
        threshold = threshold, maxTokenGroup = maxTokenGroup)
      .orderBy(col("id_a"), col("id_b"))
      .as[(Long, Long, Double)].collect().toSeq)

  test("containment: a quote inside a long doc scores 1.0 one way only " +
      "(the Jaccard gap)") {
    val long = (1 to 40).map(i => s"t$i").mkString(" ")
    val quote = (10 to 15).map(i => s"t$i").mkString(" ") // 6 tokens ⊂ long
    val docs = Seq(1L -> long, 2L -> quote,
      3L -> "totally unrelated words live here now")
    val got = runContainment(docs, 0.8)
    assert(got === Seq((2L, 1L, 1.0))) // quote→long only, never reversed
    // and the symmetric join at the same threshold misses it entirely
    assert(run(docs, 0.8).isEmpty)
  }

  test("containment property: equals the exhaustive directed scan (seeded)") {
    val rnd = new scala.util.Random(65)
    for (trial <- 1 to 8) {
      val vocab = (0 until 12).map(i => s"v$i")
      val nDocs = rnd.nextInt(20) + 5
      val base = (1 to nDocs).map { i =>
        i.toLong -> (0 until rnd.nextInt(15) + 3)
          .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      // planted quotes: token-window slices of random docs, so real
      // subset-containments exist in every trial
      val quotes = (1 to 3).map { q =>
        val (srcId, text) = base(rnd.nextInt(base.size))
        val toks = text.split(" ")
        val from = rnd.nextInt(math.max(1, toks.length - 4))
        (srcId + 1000L * q) -> toks.slice(from, from + 5).mkString(" ")
      }
      val docs = base ++ quotes ++ Seq((9000L + trial) -> "")
      val threshold = Seq(0.5, 0.8, 1.0)(rnd.nextInt(3))
      val want = bruteForceContainment(docs, threshold)
      for (distributed <- BothPaths) {
        val got = runContainment(docs, threshold, distributed = distributed)
        assert(got === want,
          s"trial $trial threshold=$threshold distributed=$distributed " +
            s"docs=$docs")
      }
    }
  }

  test("containmentJoin: probe slice against a corpus equals the " +
      "self-join filtered to probe rows (delegation + restriction)") {
    val rnd = new scala.util.Random(66)
    val vocab = (0 until 10).map(i => s"v$i")
    val docs = (1 to 25).map { i =>
      i.toLong -> (0 until rnd.nextInt(12) + 4)
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val probeIds = docs.map(_._1).filter(_ % 5 == 0).toSet
    val probe = docs.filter(d => probeIds(d._1))
    for (distributed <- BothPaths) {
      val cross = onPath(distributed)(SetSimJoin.containmentJoin(
          probe.toDF("doc_id", "text"), docs.toDF("doc_id", "text"),
          "doc_id", "text", threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
        .as[(Long, Long, Double)].collect().toSeq)
      val selfFiltered =
        runContainment(docs, 0.5, distributed = distributed)
          .filter(p => probeIds(p._1))
      assert(cross === selfFiltered, s"distributed=$distributed")
      // shared-id self-pairs never appear
      assert(cross.forall(p => p._1 != p._2))
    }
  }

  test("containmentJoin finds a planted eval leak against the corpus") {
    val train = Seq(
      1L -> (1 to 30).map(i => s"t$i").mkString(" "),
      2L -> "totally different words all the way here now")
    val eval = Seq(100L -> (5 to 12).map(i => s"t$i").mkString(" "),
      101L -> "never seen anywhere in training text")
    val got = SetSimJoin.containmentJoin(eval.toDF("doc_id", "text"),
        train.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.8)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got === Seq((100L, 1L, 1.0))) // the leak, and only the leak
  }

  test("containment maxTokenGroup caps the INDEX side: capped run loses pairs") {
    val docs = (1L to 6L).map(_ -> "a b c d e f g h")
    // 6 identical docs: 30 directed pairs uncapped, none with cap 2
    for (distributed <- BothPaths) {
      assert(runContainment(docs, 0.9, distributed = distributed).size === 30)
      assert(runContainment(docs, 0.9, maxTokenGroup = 2,
        distributed = distributed).isEmpty)
    }
  }
}
