package graft

import org.apache.spark.sql.functions._

import graft.operators.NearDup

/** End-to-end properties of the composed training-data prep pipeline. */
class LlmPrepSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet")
  private lazy val prepped = LlmPrep.run(docs)

  test("survivors are a subset of the input with all stages applied") {
    val rows = prepped.select(col("doc_id"), col("split"), col("quality"))
      .as[(Long, String, Double)].collect()
    assert(rows.nonEmpty && rows.length <= docs.count())
    val inputIds = docs.select(col("doc_id")).as[Long].collect().toSet
    rows.foreach { case (id, split, q) =>
      assert(inputIds(id))
      assert(Set("train", "val", "test")(split))
      assert(q > 0.7)
    }
  }

  test("no near-duplicate pair survives the prune") {
    val left = prepped.select(col("doc_id"), col("text"))
    assert(NearDup.minhashPairs(left, "doc_id", "text",
      threshold = 0.8).count() === 0)
  }

  test("packs never span a (source, split) boundary and are contiguous") {
    // contiguity is only an invariant when every doc fits the budget
    // (an oversize doc legally overhangs and skips a pack number) —
    // assert the precondition so this test fails loudly, not spuriously,
    // if the corpus ever grows such a doc
    val over = prepped.filter(col("n_toks") > 512).count()
    assert(over === 0, s"$over docs exceed the pack budget; the contiguity " +
      "assertion below no longer applies — re-derive it")
    val byShard = prepped
      .select(col("source"), col("split"), col("pack_id"))
      .as[(String, String, Long)].collect()
      .groupBy(t => (t._1, t._2))
    byShard.foreach { case (shard, rows) =>
      val packs = rows.map(_._3).distinct.sorted
      assert(packs.head === 0L && packs === (0L to packs.last),
        s"shard $shard packs not contiguous: ${packs.toSeq}")
    }
  }

  test("consolidateClusters keeps only component minima where the per-pair rule keeps more") {
    // transitive star via doc 3: with 40 base tokens (38 base shingles)
    // and 6-token distinct tails, J(1,3) = J(2,3) = 38/44 ≈ 0.86 >= 0.8
    // but J(1,2) = 38/50 = 0.76 < 0.8. Per-pair rule: 3 is the larger id
    // of both pairs -> keeps {1, 2}. Component rule: cluster {1,2,3} keeps
    // only its minimum {1}. minQuality = 0 so ONLY the keeper rule is
    // under test.
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val star = Seq(
      (1L, s"$base a1 a2 a3 a4 a5 a6", "s"),
      (2L, s"$base b1 b2 b3 b4 b5 b6", "s"),
      (3L, base, "s"),
      (9L, (1 to 46).map(i => s"u$i").mkString(" "), "s")
    ).toDF("doc_id", "text", "source")
    val perPair = LlmPrep.run(star, minQuality = 0.0)
      .select(col("doc_id")).as[Long].collect().toSet
    val byCluster = LlmPrep.run(star, minQuality = 0.0,
        consolidateClusters = true)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(perPair == Set(1L, 2L, 9L))
    assert(byCluster == Set(1L, 9L))
    NearDup.releaseMaterialized()
  }

  test("capPerSource bounds every source and agrees with the standalone cap") {
    val capped = LlmPrep.run(docs, capPerSource = Some(3))
    val counts = capped.groupBy("source").count().as[(String, Long)].collect()
    assert(counts.nonEmpty && counts.forall(_._2 <= 3))
    // same survivors as applying the standalone operator to the uncapped
    // pipeline's corpus (the cap stage sits after the quality filter and
    // must pick from exactly that set)
    val manual = graft.operators.Sampling.capPerGroup(
      prepped.select("doc_id", "source"), "source", col("doc_id"), 3)
      .select("doc_id").as[Long].collect().toSet
    assert(capped.select("doc_id").as[Long].collect().toSet === manual)
  }

  test("pipeline is deterministic: identical assignment on a reshuffled input") {
    val again = LlmPrep.run(docs.repartition(7))
      .select(col("doc_id"), col("split"), col("pack_id"))
      .as[(Long, String, Long)].collect().toSet
    val first = prepped.select(col("doc_id"), col("split"), col("pack_id"))
      .as[(Long, String, Long)].collect().toSet
    assert(first === again)
  }
}
