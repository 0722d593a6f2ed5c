package graft.operators

import graft.SparkSpec

class TrianglesSpec extends SparkSpec {
  import spark.implicits._

  // every census goes through BOTH paths — the normal dispatch routes
  // these small fixtures to the r18 driver kernel, distributedOnly forces
  // the distributed cascade — and the two must agree digit for digit
  private def stats(edges: Seq[(Long, Long)]) = {
    val df = edges.toDF("a", "b")
    val local = Triangles.stats(df, "a", "b")
      .as[(Long, Long, Long, Long, Long)].head()
    val dist = LocalDispatch.distributedOnly(Triangles.stats(df, "a", "b")
      .as[(Long, Long, Long, Long, Long)].head())
    assert(local === dist, "local kernel ≡ distributed cascade")
    local
  }

  // brute force over the canonical undirected simple graph
  private def brute(edges: Seq[(Long, Long)]) = {
    val e = edges.filter(p => p._1 != p._2)
      .map(p => (p._1 min p._2, p._1 max p._2)).toSet
    val vs = e.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
    val deg = vs.map(v => v -> e.count(p => p._1 == v || p._2 == v)).toMap
    val tris = (for {
      Seq(x, y, z) <- vs.combinations(3)
      if e((x, y)) && e((x, z)) && e((y, z))
    } yield 1).size
    val wedges = deg.values.map(d => d.toLong * (d - 1) / 2).sum
    val gcc = if (wedges == 0) 0L else 3L * tris * 1000000L / wedges
    (vs.size.toLong, e.size.toLong, wedges, tris.toLong, gcc)
  }

  test("hand graphs: triangle, K4, star, path") {
    // one triangle: 3 wedges, gcc = 1
    assert(stats(Seq((1L, 2L), (2L, 3L), (3L, 1L))) ===
      (3L, 3L, 3L, 1L, 1000000L))
    // K4: C(4,3)=4 triangles, 12 wedges, gcc = 1
    val k4 = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    assert(stats(k4) === (4L, 6L, 12L, 4L, 1000000L))
    // star: no triangles, C(4,2)=6 wedges, gcc = 0
    assert(stats(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))) ===
      (5L, 4L, 6L, 0L, 0L))
    // path: no triangles, 2 wedges
    assert(stats(Seq((1L, 2L), (2L, 3L), (3L, 4L))) ===
      (4L, 3L, 2L, 0L, 0L))
  }

  test("edge-list hygiene: self-loops, duplicates, reversed duplicates collapse") {
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L),
      (2L, 2L))
    assert(stats(messy) === (3L, 3L, 3L, 1L, 1000000L))
    // empty graph (everything hygiene-dropped): zeros, not nulls
    assert(stats(Seq((7L, 7L))) === (0L, 0L, 0L, 0L, 0L))
  }

  test("property: matches brute force on random graphs (seeded)") {
    val rnd = new scala.util.Random(68)
    for (trial <- 1 to 6) {
      val n = rnd.nextInt(20) + 5
      val p = 0.15 + rnd.nextDouble() * 0.35
      val edges = for {
        a <- 1L to n.toLong; b <- (a + 1) to n.toLong
        if rnd.nextDouble() < p
      } yield (a, b)
      if (edges.nonEmpty) {
        assert(stats(edges) === brute(edges), s"trial $trial n=$n p=$p")
      }
    }
  }

  test("degreeAssortativity: star/path are -1, regular graph is null, reference parity") {
    def assort(edges: Seq[(Long, Long)]) = {
      val df = edges.toDF("a", "b")
      val local = Triangles.degreeAssortativity(df, "a", "b")
        .as[(Long, Option[Double])].head()
      val dist = LocalDispatch.distributedOnly(Triangles
        .degreeAssortativity(df, "a", "b")
        .as[(Long, Option[Double])].head())
      assert(local === dist, "local kernel ≡ distributed cascade")
      local
    }
    // hub-leaf topologies: perfectly disassortative
    assert(assort(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))) ===
      (4L, Some(-1.0)))
    assert(assort(Seq((1L, 2L), (2L, 3L))) === (2L, Some(-1.0)))
    // 4-cycle: every degree 2 → zero variance → honestly null
    assert(assort(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))) ===
      (4L, None))
    // reference parity on a random graph
    val rnd = new scala.util.Random(79)
    val edges = (for {
      a <- 1L to 15L; b <- (a + 1) to 15L if rnd.nextDouble() < 0.3
    } yield (a, b)).toSeq
    val (nE, Some(got)) = assort(edges)
    assert(nE === edges.size)
    val deg = edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (v, xs) => v -> xs.size.toLong }
    val pts = edges.flatMap { case (a, b) =>
      Seq((deg(a), deg(b)), (deg(b), deg(a))) }
    val n = pts.size.toLong
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxx = pts.map(p => p._1 * p._1).sum
    val syy = pts.map(p => p._2 * p._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val want = BigDecimal(
      (n * sxy - sx * sy).toDouble /
        math.sqrt((n * sxx - sx * sx).toDouble) /
        math.sqrt((n * syy - sy * sy).toDouble))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got === want)
  }

  test("skew: a celebrity vertex cannot quadratically expand the wedge join") {
    // hub 0 touches everyone (degree 60) but sits LAST in the (deg, id)
    // order, so its oriented out-degree is 0 — its wedges come from the
    // leaves, 1 each. Triangles = the 30 (hub, 2i, 2i+1) fans.
    val fan = (1L to 60L).map(i => (0L, i)) ++
      (1L to 30L).map(i => (2 * i - 1, 2 * i))
    val got = stats(fan)
    assert(got === brute(fan))
    assert(got._4 === 30L)
  }
}
