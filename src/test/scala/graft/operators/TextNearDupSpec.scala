package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextAnalysis

class TextNearDupSpec extends SparkSpec {
  import spark.implicits._

  test("tokens/tokenCount: whitespace runs, trim, empty-string guard") {
    val df = Seq("a  b\tc", "  x ", "", "   ").toDF("t")
    val counts = df.select(TextAnalysis.tokenCount(col("t"))).as[Int].collect()
    assert(counts.toSeq == Seq(3, 1, 0, 0))
  }

  test("tokenChunks: stride windows, short tail, empty-doc guard") {
    val df = Seq("w1 w2 w3 w4 w5 w6 w7 w8 w9 w10", "only three words", "")
      .toDF("t")
    val got = df.select(TextAnalysis.tokenChunks(col("t"), 4, 3))
      .as[Seq[String]].collect()
    // no start past len-chunk+stride: the "w10"-only chunk a naive
    // starts-to-the-end scheme would emit is a strict sub-span of the
    // previous window — a duplicate passage downstream
    assert(got(0) === Seq("w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10"))
    assert(got(1) === Seq("only three words"))
    assert(got(2) === Seq.empty)
    // tumbling (stride == chunk): partition, no overlap, nothing dropped
    val tumb = df.limit(1).select(TextAnalysis.tokenChunks(col("t"), 4, 4))
      .as[Seq[String]].head()
    assert(tumb === Seq("w1 w2 w3 w4", "w5 w6 w7 w8", "w9 w10"))
  }

  test("property: tokenChunks matches reference windows; full coverage iff stride <= chunk (seeded)") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 15) {
      val n = rnd.nextInt(60) + 1
      val chunk = rnd.nextInt(10) + 1
      val stride = rnd.nextInt(10) + 1
      val words = (1 to n).map(i => s"t$i")
      val got = Seq(words.mkString(" ")).toDF("t")
        .select(TextAnalysis.tokenChunks(col("t"), chunk, stride))
        .as[Seq[String]].head()
      // last start clamped at n: a start past the document's end would
      // yield an empty-string chunk (ADVICE r4 — corpus artifact)
      val starts = 1 to math.max(math.min(n, n - chunk + stride), 1) by stride
      val want = starts.map(s => words.slice(s - 1, s - 1 + chunk).mkString(" "))
      assert(got === want, s"trial $trial n=$n chunk=$chunk stride=$stride")
      assert(!got.contains(""), s"trial $trial empty chunk")
      // stride <= chunk ⇒ windows tile with overlap: every token appears;
      // stride > chunk skips tokens BY DESIGN (subsampled windows)
      if (stride <= chunk) {
        val covered = starts.flatMap(s => s until math.min(s + chunk, n + 1)).toSet
        assert(covered === (1 to n).toSet, s"trial $trial coverage")
      }
    }
  }

  test("charEntropy: hand values, empty-doc zero, spaces count as chars") {
    val df = Seq((1L, "aabb"), (2L, "abcd"), (3L, ""), (4L, "aaaa"),
      (5L, "ab ab")).toDF("doc_id", "t")
    val got = TextAnalysis.charEntropy(df, "doc_id", "t")
      .as[(Long, Double)].collect().toMap
    assert(got(1L) === 1.0)  // two symbols, uniform
    assert(got(2L) === 2.0)  // four symbols, uniform
    assert(got(3L) === 0.0)  // empty
    assert(got(4L) === 0.0)  // single symbol
    // "ab ab": counts a=2 b=2 space=1, n=5 →
    // log2(5) − (2·1 + 2·1 + 0)/5 = 2.321928… − 0.8
    assert(math.abs(got(5L) - (math.log(5) / math.log(2) - 0.8)) < 1e-6)
  }

  test("wordShingles: ordered n-grams, distinct, short-doc guard") {
    val sh = Seq("a b c d").toDF("t")
      .select(TextAnalysis.wordShingles(col("t"), 3)).as[Seq[String]].head()
    assert(sh == Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("t")
      .select(TextAnalysis.wordShingles(col("t"), 3)).as[Seq[String]].head()
    assert(short.isEmpty)
  }

  test("jaccard: exact set semantics") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val j = df.select(TextAnalysis.jaccard(col("x"), col("y"))).as[Double].head()
    assert(math.abs(j - 2.0 / 4.0) < 1e-12)
    val empty = Seq((Seq.empty[String], Seq.empty[String])).toDF("x", "y")
    assert(empty.select(TextAnalysis.jaccard(col("x"), col("y")))
      .as[Double].head() == 0.0)
  }

  test("langId discriminates crafted multilingual text; ties go alphabetical") {
    val df = Seq(
      "the cat sat on the mat and it is that",      // en
      "el perro que corre y la casa de los gatos",  // es
      "der hund und die katze ist nicht da",        // de
      "le chat et les souris est pour des amis",    // fr
      "nothing matching here xyzzy",                // und
      "the la"                                      // 1-1 en/es+fr tie → de? no: en=1,es=1,fr=1 → alphabetical first max = en
    ).toDF("t")
    val got = df.select(TextAnalysis.langId(col("t"))).as[String].collect().toSeq
    assert(got == Seq("en", "es", "de", "fr", "und", "en"))
  }

  test("bpeishTokenCount splits words, digits and punctuation boundaries") {
    val df = Seq(("hello world", 2), ("abc123def", 3), ("a,b.c", 5), ("", 0))
      .toDF("t", "want")
    val bad = df.filter(TextAnalysis.bpeishTokenCount(col("t")) =!= col("want"))
    assert(bad.count() == 0)
  }

  test("withLangId (staged) agrees with the inline langId expression") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(100)
    val staged = TextAnalysis.withLangId(docs, "text")
      .select("doc_id", "lid").as[(Long, String)].collect().toMap
    val inline = docs.select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lid"))
      .as[(Long, String)].collect().toMap
    assert(staged == inline)
  }

  test("tfidf: counts and smoothed idf match a hand computation") {
    val docs = Seq((1L, "a b a"), (2L, "a c"), (3L, "c c d")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidf(docs, "doc_id", "text")
      .as[(Long, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    def score(tf: Long, df: Long) =
      BigDecimal(tf * (math.log(4.0 / (df + 1.0)) + 1.0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got((1L, "a")) == ((2L, 2L, score(2, 2)))) // 'a' in docs 1,2
    assert(got((2L, "c")) == ((1L, 2L, score(1, 2))))
    assert(got((3L, "d")) == ((1L, 1L, score(1, 1))))
    assert(got.size == 6) // (1,a),(1,b),(2,a),(2,c),(3,c),(3,d)
  }

  test("fingerprint normalizes case and whitespace") {
    val df = Seq(("Hello  World ", "hello world")).toDF("a", "b")
    val same = df.select(
      (TextAnalysis.fingerprint(col("a")) === TextAnalysis.fingerprint(col("b")))
        .as("eq")).as[Boolean].head()
    assert(same)
  }

  test("exactByContent: doubled corpus dedups to one row per text, min id kept") {
    val docs = Seq((10L, "x y z"), (20L, "x y z"), (30L, "p q r")).toDF("doc_id", "text")
    val kept = NearDup.exactByContent(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(10L, 30L))
  }

  test("minhash LSH finds exactly the exhaustive >=0.5-Jaccard pairs (sf0.001)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    // exhaustive ground truth (test-only! the operator must never all-pairs)
    val sh = docs.select(col("doc_id").as("id"),
      TextAnalysis.wordShingles(col("text"), 3).as("sh"))
    val a = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    val truth = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(TextAnalysis.jaccard(col("sh_a"), col("sh_b")), 6).as("j"))
      .filter(col("j") >= 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(truth.nonEmpty, "testdata should contain planted near-dups")
    val got = NearDup.minhashPairs(docs, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == truth)
  }

  test("simhash: no false positives, measured recall; ensemble is exact") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val minhash = NearDup.minhashPairs(docs, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val simhash = NearDup.simhashPairs(docs, "doc_id", "text", 3,
      maxHamming = 7, chunks = 8, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // SimHash-64 is majority-vote noisy on low-structure text: subset of
    // the truth (confirm step guarantees no false positives), recall high
    // but not 1 — that's the measured property, not a bug.
    assert(simhash.subsetOf(minhash))
    val recall = simhash.size.toDouble / minhash.size
    assert(recall >= 0.8, f"simhash recall $recall%.2f")
    // the ensemble (minhash ∪ simhash candidates) restores exactness
    val ensemble = NearDup.ensemblePairs(docs, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(ensemble == minhash)
  }

  test("r18 size dispatch: local kernels equal the distributed sketch pipelines") {
    // the driver kernels must reproduce the BANDING behavior (not the
    // exhaustive answer — banding recall is probabilistic and the
    // operator contract is the sketch): force the distributed path with
    // distributedOnly and compare bit for bit, at a threshold where
    // banding misses are possible and with both sketch families
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet
    for ((nh, bd) <- Seq((128, 32), (16, 4))) {
      val local = collect(NearDup.minhashPairs(docs, "doc_id", "text", 3,
        0.5, numHashes = nh, bands = bd))
      val dist = LocalDispatch.distributedOnly(collect(NearDup.minhashPairs(
        docs, "doc_id", "text", 3, 0.5, numHashes = nh, bands = bd)))
      assert(local == dist, s"minhash local≠distributed at k=$nh b=$bd")
    }
    assert(
      collect(NearDup.simhashPairs(docs, "doc_id", "text", 3,
        maxHamming = 7, chunks = 8, threshold = 0.5)) ==
      LocalDispatch.distributedOnly(collect(NearDup.simhashPairs(docs,
        "doc_id", "text", 3, maxHamming = 7, chunks = 8, threshold = 0.5))),
      "simhash local≠distributed")
    assert(
      collect(NearDup.ensemblePairs(docs, "doc_id", "text", 3, 0.5)) ==
      LocalDispatch.distributedOnly(collect(
        NearDup.ensemblePairs(docs, "doc_id", "text", 3, 0.5))),
      "ensemble local≠distributed")
  }

  test("r18 band keys: the driver kernel's XXH64 equals the Catalyst column") {
    // bandKeyOf must group EXACTLY like xxhash64(lit(b), slice(sig, ..))
    // — compare the full (id, band, key) set both ways
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(60)
    val sh = NearDup.hashedShingles(docs, "doc_id", "text", 3)
    val dist = NearDup.bandKeyRows(sh, 16, 4)
      .as[(Long, Int, Long)].collect().toSet
    val sd = NearDup.seeds(16)
    val local = NearDup.collectSets(sh).filter(_._2.nonEmpty).flatMap {
      case (id, hs) =>
        val sig = NearDup.minhashSigOf(hs, sd)
        (0 until 4).map(b => (id, b, NearDup.bandKeyOf(b, sig, 4)))
    }.toSet
    assert(local == dist)
  }

  test("minhash signature is reproducible across partitionings") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(50)
    def sig(parts: Int) = docs.repartition(parts)
      .select(col("doc_id"), NearDup.minhashSignature(
        TextAnalysis.wordShingles(col("text"), 3), 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sig(1) == sig(7))
  }

  test("materialized near-dup results hold a BOUNDED cache set (LRU)") {
    val base = spark.read.parquet(s"$sf0001/documents.parquet")
    NearDup.releaseMaterialized()
    val before = spark.sparkContext.getPersistentRDDs.size
    // distinct plan per call (different limit) so the bound is exercised
    // even if a future Spark dedupes plan-equal persists. Forced onto the
    // DISTRIBUTED path (distributedOnly): the r18 driver kernel returns
    // LocalRelations whose persists the CacheManager plan-dedupes — the
    // LRU exists for the over-bound results this exercises.
    for (i <- 1 to 12) LocalDispatch.distributedOnly(
      NearDup.minhashPairs(base.limit(18 + i), "doc_id", "text",
        threshold = 0.8).count())
    Thread.sleep(200) // let non-blocking unpersists drain
    val live = spark.sparkContext.getPersistentRDDs.size - before
    assert(live <= 10, // 8 LRU results + in-flight slack
      s"$live cached entries survive 12 near-dup calls — unbounded leak")
    assert(live >= 7, s"only $live entries live — recent results not warm")
    NearDup.releaseMaterialized()
    Thread.sleep(200)
    val after = spark.sparkContext.getPersistentRDDs.size - before
    assert(after <= 1, s"releaseMaterialized left $after entries")
  }

  test("winnowing: shared runs >= w+k-1 tokens share a sketch element (guarantee)") {
    val k = 3; val w = 4 // guarantee horizon = w + k - 1 = 6 tokens
    val shared = (1 to 10).map(i => s"common$i") // 10-token shared run
    val rnd = new scala.util.Random(7)
    def noise(n: Int, tag: String) = (1 to n).map(_ => s"$tag${rnd.nextInt(10000)}")
    val docs = Seq(
      (1L, (noise(30, "a") ++ shared ++ noise(30, "b")).mkString(" ")),
      (2L, (noise(25, "c") ++ shared ++ noise(35, "d")).mkString(" ")), // shifted
      (3L, noise(70, "e").mkString(" "))                                // unrelated
    ).toDF("doc_id", "text")
    val sk = TextAnalysis.withWinnowing(docs, "text", k = k, w = w)
      .select(col("doc_id"), col("sketch")).as[(Long, Seq[Long])]
      .collect().toMap
    // 1 and 2 share the run at DIFFERENT positions → sketches intersect
    assert((sk(1L).toSet & sk(2L).toSet).nonEmpty,
      "docs sharing a >= w+k-1 run must share a sketch element")
    // 3 shares nothing → empty intersection (hash collisions aside)
    assert((sk(1L).toSet & sk(3L).toSet).isEmpty)
    // sketch density ≈ 2/(w+1) of positions — well below 1
    val positions = 70 - k + 1
    assert(sk(3L).size < positions / 2)
  }

  test("winnowing edge cases: empty doc, doc shorter than one window") {
    val docs = Seq((1L, ""), (2L, "just three words"), (3L, "a b c d"))
      .toDF("doc_id", "text")
    val sk = TextAnalysis.withWinnowing(docs, "text", k = 3, w = 4)
      .select(col("doc_id"), col("sketch")).as[(Long, Seq[Long])]
      .collect().toMap
    assert(sk(1L).isEmpty)          // no tokens → no k-grams
    assert(sk(2L).size == 1)        // one 3-gram → its own minimum
    assert(sk(3L).size == 1)        // 2 k-gram positions < w → one window
  }
}
