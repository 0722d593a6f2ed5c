package graft.operators

import graft.SparkSpec

class KsDriftSpec extends SparkSpec {
  import spark.implicits._

  // driver reference: the textbook grid — evaluate |cA·n2 − cB·n1| at
  // EVERY distinct corpus value (the engine evaluates only at the
  // group's own jump points; equality here proves the interval-endpoint
  // argument)
  private def reference(rows: Seq[(String, Long)]) = {
    val vals = rows.map(_._2).distinct.sorted
    val n = rows.size.toLong
    rows.groupBy(_._1).map { case (g, rs) =>
      val n1 = rs.size.toLong
      val n2 = n - n1
      val ksNum = vals.map { v =>
        val ca = rs.count(_._2 <= v).toLong
        val call = rows.count(_._2 <= v).toLong
        math.abs(ca * n2 - (call - ca) * n1)
      }.max
      (g, n1, n2, ksNum, ksNum.toDouble / (n1 * n2).toDouble)
    }.toSeq.sortBy(_._1)
  }

  // every assertion runs BOTH dispatch paths (r18), pinned equal: the
  // driver kernel (normal dispatch) and, under distributedOnly, the
  // distributed cascade over the persisted pair table
  private def run(rows: Seq[(String, Long)], parts: Int = 32) = {
    def ks() = KsDrift.perGroup(rows.toDF("source", "v"), "source", "v",
        parts)
      .as[(String, Long, Long, Long, Double)].collect().toSeq.sortBy(_._1)
    val local = ks()
    val dist = LocalDispatch.distributedOnly(ks())
    assert(local === dist, s"local/distributed KS paths diverged (parts=$parts)")
    local
  }

  test("hand case: disjoint supports give KS = 1, identical samples give 0") {
    // a: {1,2,3}, b: {10,20,30} — fully separated, D = 1
    val sep = Seq("a" -> 1L, "a" -> 2L, "a" -> 3L,
      "b" -> 10L, "b" -> 20L, "b" -> 30L)
    val got = run(sep)
    assert(got === reference(sep))
    assert(got.forall(_._5 === 1.0d))
    // identical distributions — D = 0
    val same = Seq("a" -> 5L, "a" -> 7L, "b" -> 5L, "b" -> 7L)
    assert(run(same).forall(_._4 === 0L))
  }

  test("sup attained strictly BETWEEN group jump points (term2/term0 matter)") {
    // group a = {10}; rest = {1..9, 11}. The max deviation for a sits
    // at v=9 (before a's only jump): cA=0, cB=9 → |0·10 − 9·1| = 9.
    // term1 alone (at v=10) gives |1·10 − 9·1| = 1 — a term0-only case.
    val rows = (1L to 9L).map("b" -> _) ++ Seq("a" -> 10L, "b" -> 11L)
    val got = run(rows)
    assert(got === reference(rows))
    assert(got.find(_._1 == "a").get._4 === 9L)
  }

  test("property: engine matches the every-value grid reference (seeded)") {
    val rnd = new scala.util.Random(91)
    for (trial <- 1 to 5) {
      val groups = Seq("s1", "s2", "s3", "s4")
      val rows = (1 to 200).map { _ =>
        val g = groups(rnd.nextInt(groups.size))
        // skewed-by-group distributions so D is nontrivial
        val v = (rnd.nextGaussian() * 10 + groups.indexOf(g) * 6).toLong
        (g, v)
      }
      // negative values exercise the long cast path end to end
      for (parts <- Seq(1, 7)) {
        assert(run(rows, parts) === reference(rows),
          s"trial $trial parts=$parts")
      }
    }
  }

  test("partition-offset prefix sum equals a single-partition cumsum") {
    val perVal = (1L to 500L).map(v => (v, v % 7 + 1))
      .toDF("v", "c_all")
    for (parts <- Seq(1, 5, 64)) {
      val chain = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.DataFrame]
      val (cum, nTotal) = KsDrift.cumulativeByValue(perVal, parts, chain)
      val got = cum.as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
      chain.foreach(Checkpoints.release)
      var acc = 0L
      val want = (1L to 500L).map { v =>
        acc += v % 7 + 1; (v, v % 7 + 1, acc)
      }
      assert(got === want, s"parts=$parts")
      assert(nTotal === want.last._3, s"nTotal parts=$parts")
    }
  }

  test("non-string group columns keep the classic distributed path") {
    // the r18 driver kernel dispatches only on string group columns;
    // a long-typed group must still compute (and keep its type)
    val rows = Seq(1L -> 1L, 1L -> 5L, 2L -> 3L, 2L -> 9L, 2L -> 9L)
    val got = KsDrift.perGroup(rows.toDF("g", "v"), "g", "v")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq.sortBy(_._1)
    val want = reference(rows.map { case (g, v) => (g.toString, v) })
      .map { case (g, n1, n2, kn, ks) => (g.toLong, n1, n2, kn, ks) }
    assert(got === want)
  }

  test("a lone group scores ks 0.0, not NaN (ADVICE r10 division guard)") {
    val got = run(Seq("only" -> 1L, "only" -> 2L, "only" -> 3L))
    assert(got === Seq(("only", 3L, 0L, 0L, 0.0)))
  }

  test("hygiene: null groups and null values drop") {
    val df = Seq[(String, java.lang.Long)](
      ("a", 1L), ("a", 2L), (null, 3L), ("b", null), ("b", 5L))
      .toDF("source", "v")
    for (distributed <- Seq(false, true)) {
      val got = onPath(distributed)(KsDrift.perGroup(df, "source", "v")
        .as[(String, Long, Long, Long, Double)].collect().toSeq.sortBy(_._1))
      assert(got === reference(Seq("a" -> 1L, "a" -> 2L, "b" -> 5L)),
        s"distributed=$distributed")
    }
  }
}
