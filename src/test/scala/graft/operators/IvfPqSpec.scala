package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class IvfPqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")

  test("fitPq is digit-identical to per-block KMeansLloyd fits") {
    // the one-aggregation-per-round fused trainer must reproduce m
    // INDEPENDENT Lloyd runs over the sliced subvectors exactly —
    // codes AND integer squared distances
    val m = 4; val ksub = 8; val rounds = 2
    val dim = 64; val sub = dim / m
    val pq = IvfPq.fitPq(emb, "vec_id", "embedding", m, ksub, rounds)
    val got = pq.codes.orderBy(col("vec_id"), col("block"))
      .as[(Long, Int, Int, Long)].collect().toSeq
    val want = (0 until m).flatMap { j =>
      KMeansLloyd.fit(
          emb.select(col("vec_id"),
            slice(col("embedding"), j * sub + 1, sub).as("embedding")),
          "vec_id", "embedding", ksub, rounds)
        .as[(Long, Int, Long)].collect().toSeq
        .map { case (id, c, d) => (id, j, c, d) }
    }.sortBy(r => (r._1, r._2))
    assert(got === want)
    // the packed layout is the same assignment, ordered by block
    val packed = pq.packed.orderBy(col("vec_id"))
      .as[(Long, Seq[Int])].collect().toSeq
    val byId = want.groupBy(_._1)
    packed.foreach { case (id, codes) =>
      assert(codes === byId(id).sortBy(_._2).map(_._3))
    }
  }

  test("local driver path ≡ distributed trainer (r17 size dispatch)") {
    val m = 4; val ksub = 8; val rounds = 2
    val local = IvfPq.fitPq(emb, "vec_id", "embedding", m, ksub, rounds)
    val dist = LocalDispatch.distributedOnly(
      IvfPq.fitPq(emb, "vec_id", "embedding", m, ksub, rounds))
    assert(local.books.map(_.map(_.toSeq)) ===
      dist.books.map(_.map(_.toSeq)))
    val lc = local.codes.orderBy(col("vec_id"), col("block"))
      .as[(Long, Int, Int, Long)].collect().toSeq
    val dc = dist.codes.orderBy(col("vec_id"), col("block"))
      .as[(Long, Int, Int, Long)].collect().toSeq
    assert(lc === dc)
    val lp = local.packed.orderBy(col("vec_id"))
      .as[(Long, Seq[Int])].collect().toSeq
    val dp = dist.packed.orderBy(col("vec_id"))
      .as[(Long, Seq[Int])].collect().toSeq
    assert(lp === dp)
  }

  test("fitPq on a corpus smaller than ksub adapts the codebook size") {
    // ADVICE r10: ksub=8 over 3 vectors used to seed 3 codebook rows
    // but scan indices 0..7 — element_at past the literal's end is a
    // runtime error under ANSI. The effective k must follow the seed
    // count, same as KMeansLloyd.
    val tiny = emb.orderBy(col("vec_id")).limit(3)
    val pq = IvfPq.fitPq(tiny, "vec_id", "embedding", 4, 8, 2)
    assert(pq.books.head.length === 3)
    val codes = pq.codes.select(col("code")).as[Int].collect()
    assert(codes.nonEmpty && codes.forall(c => c >= 0 && c < 3))
  }

  test("fitPqResidual is digit-identical to per-block fits on the residuals") {
    val m = 4; val ksub = 8; val rounds = 2
    val dim = 64; val sub = dim / m; val nlist = 8
    val coarse = KMeansLloyd.fitModel(emb, "vec_id", "embedding", nlist, 2)
    val pq = IvfPq.fitPqResidual(emb, "vec_id", "embedding", coarse,
      m, ksub, rounds)
    val got = pq.codes.orderBy(col("vec_id"), col("block"))
      .as[(Long, Int, Int, Long)].collect().toSeq
    // residuals computed independently driver-side from the model
    val assign = coarse.assign.select(col("vec_id"), col("cluster"))
      .as[(Long, Int)].collect().toMap
    val quant = KMeansLloyd.quantize(emb, "vec_id", "embedding")
      .as[(Long, Seq[Long])].collect().toSeq
    val spark2 = spark; import spark2.implicits._
    val resid = quant.map { case (id, q) =>
      val c = coarse.centroids(assign(id))
      (id, q.zipWithIndex.map { case (v, i) => v - c(i) })
    }
    val want = (0 until m).flatMap { j =>
      // per-block KMeansLloyd over the residual slice, scaled back to
      // floats so quantize() reproduces the integers exactly (q/1e6
      // double-folds to the same value for these magnitudes)
      KMeansLloyd.fit(
          resid.map { case (id, r) =>
            (id, r.slice(j * sub, (j + 1) * sub).map(_ / 1e6).toArray) }
            .toDF("vec_id", "embedding"),
          "vec_id", "embedding", ksub, rounds)
        .as[(Long, Int, Long)].collect().toSeq
        .map { case (id, c, d) => (id, j, c, d) }
    }.sortBy(r => (r._1, r._2))
    assert(got === want)
  }

  test("full probe + corpus-wide rerank equals brute force exactly") {
    // with every list probed and rerank covering the corpus, the PQ
    // stage is a pure candidate pass-through and the exact float
    // rerank must reproduce bruteForceTopK digit-for-digit
    val queries = emb.filter(col("vec_id") < 5)
    val corpus = emb.filter(col("vec_id") >= 5)
    val want = Similarity.bruteForceTopK(queries, corpus, k = 3)
      .orderBy(col("query_id"), col("rank"))
      .as[(Long, Long, Double, Int)].collect().toSeq
    for (res <- Seq(false, true)) {
      val got = IvfPq.ivfPqTopK(queries, corpus, k = 3,
          nlist = 8, nprobe = 8, rerank = 1000, residual = res)
        .select(col("query_id"), col("neighbor_id"), col("sim"),
          col("rank"))
        .orderBy(col("query_id"), col("rank"))
        .as[(Long, Long, Double, Int)].collect().toSeq
      assert(got === want, s"residual=$res")
    }
  }

  test("ADC selection matches a plain-Scala PQ reimplementation") {
    // k = rerank = 1 with every list probed: the returned neighbor IS
    // the ADC argmin — checked against an independent driver-side
    // lookup-table scorer built from the model's books and codes
    val queries = emb.filter(col("vec_id") < 5)
    val corpus = emb.filter(col("vec_id") >= 5)
    val m = 4; val ksub = 8; val rounds = 2; val sub = 16
    val pq = IvfPq.fitPq(corpus, "vec_id", "embedding", m, ksub, rounds)
    val codes = pq.packed.as[(Long, Seq[Int])].collect().toMap
    val qvecs = KMeansLloyd.quantize(queries, "vec_id", "embedding")
      .as[(Long, Seq[Long])].collect().toSeq.sortBy(_._1)
    val want = qvecs.map { case (qid, qv) =>
      val lut = Array.tabulate(m, ksub) { (j, c) =>
        val cent = pq.books(j)(c)
        var s = 0L; var i = 0
        while (i < sub) {
          val d = qv(j * sub + i) - cent(i); s += d * d; i += 1
        }
        s
      }
      val best = codes.toSeq.map { case (nid, cs) =>
        (cs.zipWithIndex.map { case (c, j) => lut(j)(c) }.sum, nid)
      }.min // (adc, neighbor_id) lexicographic — the engine's tie rule
      qid -> best._2
    }
    val got = IvfPq.ivfPqTopK(queries, corpus, k = 1,
        nlist = 8, nprobe = 8, m = m, ksub = ksub, pqRounds = rounds,
        rerank = 1)
      .select(col("query_id"), col("neighbor_id"))
      .orderBy(col("query_id")).as[(Long, Long)].collect().toSeq
    assert(got === want)
  }
}
