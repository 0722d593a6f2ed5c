package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PageRankSpec extends SparkSpec {
  import spark.implicits._

  /** Reference model — identical integer recurrence on driver-side
    * longs; equality against it is exact, never approximate. */
  private def reference(edges: Seq[(Long, Long)], iters: Int,
      dampE3: Long = 850L): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val n = nodes.size.toLong
    val deg = e.groupBy(_._1).map { case (s, xs) => s -> xs.size.toLong }
    val base = Math.floorDiv((1000L - dampE3) * 1000000000L, 1000L * n)
    var pr = nodes.map(_ -> Math.floorDiv(1000000000L, n)).toMap
    for (_ <- 1 to iters) {
      val infl = e.groupBy(_._2).map { case (d, in) =>
        d -> in.map { case (s, _) => Math.floorDiv(pr(s), deg(s)) }.sum
      }
      pr = nodes.map(v => v ->
        (base + Math.floorDiv(dampE3 * infl.getOrElse(v, 0L), 1000L))).toMap
    }
    pr
  }

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    PageRank.ranks(edges.toDF("src", "dst"), "src", "dst", iters)
      .as[(Long, Long)].collect().toMap

  test("a symmetric 2-cycle is a fixpoint of the uniform start") {
    // pr0 = 5e8 each; step = 75e6 + (850·5e8) DIV 1000 = 5e8 again
    val got = run(Seq((1L, 2L), (2L, 1L)), iters = 5)
    assert(got === Map(1L -> 500000000L, 2L -> 500000000L))
  }

  test("dangling sink drains the source (leaky simple variant)") {
    val edges = Seq((1L, 2L)) // 2 has no out-edges
    for (k <- 1 to 3)
      assert(run(edges, k) === reference(edges, k), s"at k=$k")
    // after one step the source holds only the teleport base
    assert(run(edges, 1)(1L) === 75000000L)
  }

  test("matches the reference model exactly on an irregular graph") {
    // hub-spoke + cycle + dangling tail, deterministic edge list
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 1L), (3L, 1L), (4L, 5L),
      (5L, 1L), (5L, 6L), (6L, 7L), (7L, 5L), (8L, 1L), (1L, 8L))
    assert(run(edges, 5) === reference(edges, 5))
  }

  test("duplicate and null edges are pruned before anything counts") {
    val clean = Seq((1L, 2L), (2L, 1L), (1L, 3L))
    val dirty = (clean ++ clean).toDF("src", "dst")
      .unionByName(Seq((Option.empty[Long], Option(9L)))
        .toDF("src", "dst"))
    val got = PageRank.ranks(dirty, "src", "dst", 3)
      .as[(Long, Long)].collect().toMap
    assert(got === reference(clean, 3))
  }

  test("partitioning-invariant (exact integers shuffle-order-proof)") {
    // distributedOnly pins the DISTRIBUTED loop — the property under
    // test is shuffle-order-proofness, which the driver path can't show
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 2L), (5L, 3L))
    val df = edges.toDF("src", "dst")
    val (a, b) = LocalDispatch.distributedOnly {
      (PageRank.ranks(df.repartition(1), "src", "dst", 4)
        .as[(Long, Long)].collect().toMap,
        PageRank.ranks(df.repartition(17, col("dst")), "src", "dst", 4)
          .as[(Long, Long)].collect().toMap)
    }
    assert(a === b)
    assert(a === reference(edges, 4))
  }

  test("local driver path ≡ distributed loop (r17 size dispatch)") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val edges = Seq.fill(80) {
        (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)
      }.filter(e => e._1 != e._2).distinct
      val df = edges.toDF("src", "dst")
      val local = PageRank.ranks(df, "src", "dst", 4)
        .as[(Long, Long)].collect().toMap
      val dist = LocalDispatch.distributedOnly(
        PageRank.ranks(df, "src", "dst", 4).as[(Long, Long)].collect().toMap)
      assert(local === dist, s"trial $trial")
      assert(local === reference(edges, 4), s"trial $trial vs reference")
    }
  }

  test("guards: iteration/damping ranges, empty graph") {
    val df = Seq((1L, 2L)).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      PageRank.ranks(df, "src", "dst", iterations = 0)
    }
    intercept[IllegalArgumentException] {
      PageRank.ranks(df, "src", "dst", 5, dampE3 = 1001L)
    }
    intercept[IllegalArgumentException] {
      PageRank.ranks(Seq.empty[(Long, Long)].toDF("src", "dst"),
        "src", "dst", 1)
    }
  }
}
