package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec

class KCoreSpec extends SparkSpec {
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], k: Int, rounds: Int = 8) =
    KCore.vertices(edges.toDF("id_a", "id_b"), "id_a", "id_b", k, rounds)
      .as[(Long, Long)].collect().toSeq.sortBy(_._1)

  // driver reference: peel to the TRUE fixpoint
  private def fixpoint(edges: Seq[(Long, Long)], k: Int) = {
    var e = edges.filter(p => p._1 != p._2)
      .map(p => (p._1 min p._2, p._1 max p._2)).distinct
    var stable = false
    while (!stable) {
      val deg = e.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
        .map { case (v, xs) => v -> xs.size }
      val keep = deg.filter(_._2 >= k).keySet
      val e2 = e.filter(p => keep(p._1) && keep(p._2))
      stable = e2 == e
      e = e2
    }
    e.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
      .map { case (v, xs) => (v, xs.size.toLong) }.toSeq.sortBy(_._1)
  }

  test("hand case: triangle core survives, tails peel away transitively") {
    // triangle 1-2-3 with a chain 3-4-5 hanging off: at k=2 the chain
    // peels in TWO rounds (5 first, then 4) — transitivity matters
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
    assert(run(g, k = 2) === Seq((1L, 2L), (2L, 2L), (3L, 2L)))
    // k=3: nothing survives (triangle degrees are 2)
    assert(run(g, k = 3) === Seq.empty)
    // k=1: only the hygiene applies
    assert(run(g, k = 1) === fixpoint(g, 1))
  }

  test("property: default rounds reach the true fixpoint on random graphs (seeded)") {
    val rnd = new scala.util.Random(80)
    for (trial <- 1 to 5) {
      val n = rnd.nextInt(25) + 8
      val edges = (for {
        a <- 1L to n.toLong; b <- (a + 1) to n.toLong
        if rnd.nextDouble() < 0.12
      } yield (a, b)).toSeq
      for (k <- Seq(2, 3)) {
        assert(run(edges, k) === fixpoint(edges, k),
          s"trial $trial k=$k edges=$edges")
      }
    }
  }

  test("local driver path ≡ distributed loop (r17 size dispatch)") {
    val rnd = new scala.util.Random(81)
    for (trial <- 1 to 3) {
      val n = rnd.nextInt(20) + 10
      val edges = (for {
        a <- 1L to n.toLong; b <- (a + 1) to n.toLong
        if rnd.nextDouble() < 0.15
      } yield (a, b)).toSeq
      for (k <- Seq(2, 3); rounds <- Seq(1, 8)) {
        val df = edges.toDF("id_a", "id_b")
        val local = KCore.vertices(df, "id_a", "id_b", k, rounds)
          .as[(Long, Long)].collect().toSeq.sortBy(_._1)
        val dist = LocalDispatch.distributedOnly(
          KCore.vertices(df, "id_a", "id_b", k, rounds)
            .as[(Long, Long)].collect().toSeq.sortBy(_._1))
        assert(local === dist, s"trial $trial k=$k rounds=$rounds")
      }
    }
  }

  test("held distributed results outlive later calls and a GC") {
    // two results stay valid while their caller holds them, however many
    // calls follow: no operator-side pool may free a result's blocks
    def cycle(n: Long, off: Long) = spark.range(n).select(
      (col("id") + off).as("id_a"), ((col("id") + 1) % n + off).as("id_b"))
    def kcore(n: Long, off: Long) = LocalDispatch.distributedOnly(
      KCore.vertices(cycle(n, off), "id_a", "id_b", k = 2, rounds = 1))
    def rows(df: DataFrame) =
      df.as[(Long, Long)].collect().toSeq.sortBy(_._1)
    val a = kcore(6, 0)
    val b = kcore(4, 10)
    (1 to 5).foreach(i => kcore(3, 100 * i).count()) // old pool held 4
    System.gc()
    assert(rows(a) === (0L to 5L).map(v => (v, 2L)))
    assert(rows(b) === (10L to 13L).map(v => (v, 2L)))
  }

  test("long chain needs its rounds: 1 round is NOT the fixpoint, 8 are") {
    // a 10-vertex path at k=2 peels one endpoint pair per round; the
    // fixed-round CONTRACT makes partial peels well-defined (and the
    // oracle replays them), but the default must cover this depth
    val path = (1L to 9L).map(i => (i, i + 1))
    assert(run(path, k = 2, rounds = 1).nonEmpty) // partial peel
    assert(run(path, k = 2, rounds = 8) === Seq.empty) // fixpoint
  }
}
