package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measurement utility (not a test): the IVF-PQ scoring-path trade at a
  * corpus size where the volume term dominates — full-scan scoring of
  * every (query, candidate) pair under the three at-rest layouts the
  * ANN family ships:
  *
  *   fp32   — exact cosine over 64 floats        (256 B/vector moved)
  *   int8   — quantized cosine over packed bytes  (64 B/vector)
  *   PQ-ADC — m=8 LUT adds over code ints         (8 codes/vector)
  *
  * Vectors are deterministic hash-derived pseudo-randoms so the probe
  * needs no fixture on disk. Run with
  * `sbt "Test/runMain graft.operators.PqProbe [corpusRows] [queries]"`.
  * Wall-clock on one box measures the COMPUTE side of the trade; the
  * at-scale claim is primarily bytes in the shuffle/scan (SCALE.md),
  * which follows from the layouts by arithmetic. */
object PqProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val nq = args.lift(1).map(_.toInt).getOrElse(64)
    val spark = graft.GraftSession(8)
    import spark.implicits._

    // deterministic pseudo-random vectors: per-(id, dim) xxhash folded
    // to [-1, 1) doubles, cast float — same recipe class the testdata
    // generator uses, no disk fixture needed
    def vecs(ids: DataFrame): DataFrame = ids.select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), d =>
        ((xxhash64(col("id"), d) % 1000000L).cast("double") / 500000.0 - 1.0)
          .cast("float")).as("embedding"))
    val corpus = vecs(spark.range(nq, n.toLong + nq).toDF("id"))
      .localCheckpoint()
    val queries = vecs(spark.range(0, nq.toLong).toDF("id"))
      .localCheckpoint()

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"$label%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    // warm the join/codegen paths once
    corpus.count(); queries.count()

    // fp32 exact cosine full scan (the q_v1 brute-force shape, no top-k
    // window — scoring only, so the three paths compare like for like)
    time(s"fp32 cosine  ($n x $nq)") {
      corpus.crossJoin(broadcast(queries.select(
          col("vec_id").as("query_id"), col("embedding").as("qv"))))
        .select(Similarity.cosineNative(col("embedding"), col("qv")).as("s"))
        .agg(sum(col("s"))).collect()
    }

    // int8 quantized cosine over packed codes (the q_v6 volume path)
    val cc = Similarity.int8Codes(corpus, "vec_id", "embedding")
      .localCheckpoint()
    val qc = Similarity.int8Codes(queries, "vec_id", "embedding")
      .select(col("id").as("qid"), col("code").as("qa")).localCheckpoint()
    cc.count(); qc.count()
    time(s"int8 cosine  ($n x $nq)") {
      cc.crossJoin(broadcast(qc))
        .as[(Long, Array[Byte], Long, Array[Byte])]
        .map { case (_, b, _, a) =>
          var dot = 0L; var na = 0L; var nb = 0L; var i = 0
          val m = math.min(a.length, b.length)
          while (i < m) {
            val x = a(i).toLong; val y = b(i).toLong
            dot += x * y; na += x * x; nb += y * y; i += 1
          }
          if (na == 0L || nb == 0L) 0.0
          else dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
        }.agg(sum(col("value"))).collect()
    }

    // PQ-ADC: m=8 LUT adds per candidate (the q_v9 volume path)
    val pq = time("pq fit (m=8 ksub=8 r=2)") {
      IvfPq.fitPq(corpus, "vec_id", "embedding", m = 8, ksub = 8,
        rounds = 2)
    }
    val sub = pq.books.head.head.length
    val bookLit = typedlit(pq.books.map(_.map(_.toSeq)))
    val lutCol = transform(sequence(lit(0), lit(7)), j =>
      transform(element_at(bookLit, j + 1), cent =>
        aggregate(zip_with(slice(col("q"), j * sub + 1, lit(sub)), cent,
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)))
    val luts = KMeansLloyd.quantize(queries, "vec_id", "embedding")
      .select(col("id").as("qid"), lutCol.as("lut")).localCheckpoint()
    luts.count()
    // both forms of the per-candidate sum: the interpreted HOF and the
    // unrolled codegen'd element_at chain ivfPqTopK ships
    time(s"pq-adc HOF   ($n x $nq)") {
      pq.packed.crossJoin(broadcast(luts))
        .select(aggregate(zip_with(col("lut"), col("codes"),
          (l, cd) => element_at(l, cd + 1)), lit(0L),
          (acc, x) => acc + x).cast("double").as("adc"))
        .agg(sum(col("adc"))).collect() // double checksum: the summed
        // integer distances overflow BIGINT at 12.8M candidates
    }
    val adcExpr = (0 until 8).map(j =>
        element_at(element_at(col("lut"), j + 1),
          element_at(col("codes"), j + 1) + 1))
      .reduce(_ + _)
    time(s"pq-adc unroll($n x $nq)") {
      pq.packed.crossJoin(broadcast(luts))
        .select(adcExpr.cast("double").as("adc"))
        .agg(sum(col("adc"))).collect()
    }
    spark.stop()
  }
}
