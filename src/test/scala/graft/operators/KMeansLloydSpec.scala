package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class KMeansLloydSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(rows: (Long, Seq[Float])*) =
    rows.toSeq.toDF("vec_id", "embedding")

  test("two well-separated blobs recover their membership in one round") {
    // blob A around 0.0, blob B around 1.0; seeds = ids 1 and 2 (one in
    // each blob by construction)
    val df = vecs(
      1L -> Seq(0.01f, 0.02f), 2L -> Seq(1.00f, 0.99f),
      3L -> Seq(0.03f, 0.00f), 4L -> Seq(0.98f, 1.02f),
      5L -> Seq(0.02f, 0.01f), 6L -> Seq(1.01f, 1.00f))
    val got = KMeansLloyd.fit(df, "vec_id", "embedding", k = 2, rounds = 1)
      .orderBy(col("vec_id"))
      .as[(Long, Int, Long)].collect().toSeq
    assert(got.map(r => r._1 -> r._2) ===
      Seq(1L -> 0, 2L -> 1, 3L -> 0, 4L -> 1, 5L -> 0, 6L -> 1))
    // dist_q is the exact integer squared distance to the round-1
    // centroid of blob A: mean of quantized (10000,20000),(30000,0),
    // (20000,10000) = (20000,10000); vec 1 → (-10000)^2+10000^2
    assert(got.head._3 === 200000000L)
  }

  test("argmin ties break to the smaller cluster index") {
    // seeds 1 and 2 are distinct but equidistant from vec 3
    val df = vecs(
      1L -> Seq(0.0f), 2L -> Seq(2.0f), 3L -> Seq(1.0f))
    val got = KMeansLloyd.fit(df, "vec_id", "embedding", k = 2, rounds = 0)
      .orderBy(col("vec_id")).as[(Long, Int, Long)].collect()
    assert(got(2)._2 === 0) // tie at dist 1e12 → cluster 0
    assert(got(2)._3 === 1000000L * 1000000L)
  }

  test("empty cluster keeps its previous centroid") {
    // both seeds inside one blob: after round 1 every vector assigns to
    // the updated cluster-0 mean; cluster 1's centroid must survive
    // unchanged so round 2 still has a total distance function
    val df = vecs(
      1L -> Seq(0.0f), 2L -> Seq(0.1f), 3L -> Seq(0.05f), 4L -> Seq(0.02f))
    val got = KMeansLloyd.fit(df, "vec_id", "embedding", k = 2, rounds = 3)
      .orderBy(col("vec_id")).as[(Long, Int, Long)].collect()
    assert(got.forall(r => r._2 == 0 || r._1 == 2L))
  }

  test("negative components floor-divide correctly in the mean") {
    // quantized values -1000000 and -500000 → sum -1500000, n=2 →
    // pmod floor = -750000 (truncation would give -750000 too; use an
    // odd pair to force the difference: -3 // 2 = -2 floor, -1 trunc)
    val df = vecs(
      1L -> Seq(-0.000001f), 2L -> Seq(-0.000002f), 9L -> Seq(5f))
    val got = KMeansLloyd.fit(df, "vec_id", "embedding", k = 2, rounds = 1)
      .orderBy(col("vec_id")).as[(Long, Int, Long)].collect()
    // cluster 0 mean of quantized (-1, -2) floors to -2, not -1:
    // vec 1 (q=-1) → dist (-1 - -2)^2 = 1
    assert(got(0)._3 === 1L)
  }

  test("driver reference-model agreement on a seeded corpus") {
    val rnd = new scala.util.Random(7)
    val dim = 6
    val data = (1L to 120L).map(i =>
      i -> Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
    val k = 5; val rounds = 3
    // plain-Scala replay of the declared integer recurrence
    def q(v: Seq[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 1000000 + 0.5).toLong).toArray
    val qs = data.map { case (id, v) => id -> q(v) }.toMap
    var cents = data.sortBy(_._1).take(k).map(p => qs(p._1).clone).toArray
    def assign(v: Array[Long]): (Int, Long) =
      cents.zipWithIndex.map { case (c, j) =>
        (v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum, j)
      }.min match { case (d, j) => (j, d) }
    for (_ <- 1 to rounds) {
      val groups = qs.toSeq.groupBy { case (_, v) => assign(v)._1 }
      cents = cents.zipWithIndex.map { case (c, j) =>
        groups.get(j) match {
          case Some(members) =>
            val n = members.size.toLong
            Array.tabulate(dim)(d =>
              Math.floorDiv(members.map(_._2(d)).sum, n))
          case None => c
        }
      }
    }
    val expect = data.map { case (id, _) =>
      val (j, d) = assign(qs(id)); (id, j, d)
    }
    val got = KMeansLloyd.fit(data.toDF("vec_id", "embedding"),
        "vec_id", "embedding", k, rounds)
      .orderBy(col("vec_id")).as[(Long, Int, Long)].collect().toSeq
    assert(got === expect)
  }

  test("local driver path ≡ distributed loop (r17 size dispatch)") {
    val rnd = new scala.util.Random(13)
    val data = (1L to 90L).map(i =>
      i -> Seq.fill(4)((rnd.nextDouble() * 2 - 1).toFloat))
    val df = data.toDF("vec_id", "embedding")
    for ((k, rounds) <- Seq((3, 2), (5, 3))) {
      val local = KMeansLloyd.fit(df, "vec_id", "embedding", k, rounds)
        .orderBy(col("vec_id")).as[(Long, Int, Long)].collect().toSeq
      val dist = LocalDispatch.distributedOnly(
        KMeansLloyd.fit(df, "vec_id", "embedding", k, rounds)
          .orderBy(col("vec_id")).as[(Long, Int, Long)].collect().toSeq)
      assert(local === dist, s"k=$k rounds=$rounds")
      val ml = KMeansLloyd.fitModel(df, "vec_id", "embedding", k, rounds)
      val md = LocalDispatch.distributedOnly(
        KMeansLloyd.fitModel(df, "vec_id", "embedding", k, rounds))
      assert(ml.centroids.map(_.toSeq) === md.centroids.map(_.toSeq),
        s"centroids k=$k rounds=$rounds")
    }
  }

  test("ragged dimensions are rejected, empty corpus is rejected") {
    intercept[IllegalArgumentException] {
      KMeansLloyd.fit(vecs(1L -> Seq(1f, 2f), 2L -> Seq(1f)),
        "vec_id", "embedding", k = 2, rounds = 1)
    }
    intercept[IllegalArgumentException] {
      KMeansLloyd.fit(vecs(), "vec_id", "embedding", k = 2, rounds = 1)
    }
  }
}
