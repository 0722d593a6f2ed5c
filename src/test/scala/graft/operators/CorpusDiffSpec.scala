package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CorpusDiffSpec extends SparkSpec {
  import spark.implicits._

  test("all four statuses, by hand") {
    val oldSnap = Seq(
      (1L, "kept the same"),
      (2L, "will be edited"),
      (3L, "will be deleted")).toDF("doc_id", "text")
    val newSnap = Seq(
      (1L, "kept the same"),
      (2L, "was edited"),
      (4L, "brand new")).toDF("doc_id", "text")
    val got = CorpusDiff.diff(oldSnap, newSnap, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
    val rep = CorpusDiff.report(oldSnap, newSnap, "doc_id", "text")
      .as[(String, Long, String)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rep === Map("unchanged" -> ((1L, "1")), "changed" -> ((1L, "2")),
      "removed" -> ((1L, "3")), "added" -> ((1L, "4"))))
  }

  test("id_sum witness is a canonical digit STRING (r7 driver-red pin)") {
    // r7's only driver-red was this column: bit-exact DECIMAL(38,0)
    // values hash-mismatching across engines' binary decimal layouts.
    // The representation contract is now part of the operator: the
    // witness column is StringType, rendered as plain digits with no
    // scale markers, even for sums past 2^63.
    val big = 4000000000L // 4e9 — pairwise sums exceed Int, stress rendering
    val oldSnap = Seq((big, "a"), (big + 1, "b"), (big + 2, "c"))
      .toDF("doc_id", "text")
    val rep = CorpusDiff.report(oldSnap, oldSnap, "doc_id", "text")
    import org.apache.spark.sql.types.StringType
    assert(rep.schema("id_sum").dataType === StringType)
    val Seq((st, n, w)) =
      rep.as[(String, Long, String)].collect().toSeq
    assert((st, n, w) === (("unchanged", 3L, "12000000003")))
    assert(w.forall(_.isDigit), s"non-canonical witness rendering: $w")
  }

  test("null content is a value, not absence (review)") {
    // review-caught: a raw md5 null would read the row as ABSENT —
    // a null-text doc present only in old must be 'removed', not 'added'
    val oldSnap = Seq((1L, Option.empty[String]), (2L, Option.empty[String]),
      (3L, Some("real"))).toDF("doc_id", "text")
    val newSnap = Seq((2L, Some("now filled")), (3L, Option.empty[String]))
      .toDF("doc_id", "text")
    val got = CorpusDiff.diff(oldSnap, newSnap, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(got === Map(
      1L -> "removed",   // null-text doc gone from new
      2L -> "changed",   // null -> real content
      3L -> "changed"))  // real content -> null
  }

  test("null ids drop from both snapshots") {
    val oldSnap = Seq((Some(1L), "a"), (None, "ghost")).toDF("doc_id", "text")
    val newSnap = Seq((Some(1L), "a"), (None, "ghost2")).toDF("doc_id", "text")
    val got = CorpusDiff.diff(oldSnap, newSnap, "doc_id", "text")
      .as[(Long, String)].collect().toSeq
    assert(got === Seq(1L -> "unchanged"))
  }

  test("the join ships fingerprints, not documents") {
    // the scale contract: both sides project to (id, md5) BEFORE the
    // full-outer join, so the shuffle payload is fixed-width and the
    // join's output schema carries no content column
    val dir = tmpDir("cdiff")
    spark.range(1000)
      .select($"id".as("doc_id"),
        concat(lit("x" * 1000), $"id".cast("string")).as("text"))
      .write.mode("overwrite").parquet(dir)
    val snap = spark.read.parquet(dir)
    val out = CorpusDiff.diff(snap, snap, "doc_id", "text")
    out.collect()
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    // AQE hides the join behind stage-wrapper leaves — recurse through them
    def joinsIn(p: SparkPlan): Seq[Seq[Attribute]] = p match {
      case a: AdaptiveSparkPlanExec => joinsIn(a.executedPlan)
      case q: QueryStageExec => joinsIn(q.plan)
      case j: SortMergeJoinExec =>
        Seq(j.output) ++ j.children.flatMap(joinsIn)
      case j: ShuffledHashJoinExec =>
        Seq(j.output) ++ j.children.flatMap(joinsIn)
      case other => other.children.flatMap(joinsIn)
    }
    val joins = joinsIn(out.queryExecution.executedPlan)
    assert(joins.nonEmpty, "expected a shuffled join in the diff plan")
    val cols = joins.flatten.map(_.name).toSet
    assert(!cols.contains("text"),
      s"join output carries document content: $cols")
  }

  // ------------------------------------------------------------- fuzzy

  test("fuzzy diff splits changed into edited vs rewritten") {
    val oldSnap = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "the quick brown fox jumps over the lazy dog"),
      (4L, "to be removed")).toDF("doc_id", "text")
    val newSnap = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten v2"),
      (3L, "completely different content with no shared trigrams anywhere"),
      (5L, "freshly added")).toDF("doc_id", "text")
    val got = CorpusDiff.fuzzyDiff(oldSnap, newSnap, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    // doc 2: 8 shared trigrams of 9 union (J = 0.889 >= 0.8) -> edited;
    // doc 3: zero shared trigrams -> rewritten
    assert(got === Map(1L -> "unchanged", 2L -> "edited",
      3L -> "rewritten", 4L -> "removed", 5L -> "added"))
    val rep = CorpusDiff
      .fuzzyReport(oldSnap, newSnap, "doc_id", "text")
      .as[(String, Long, String)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rep === Map("unchanged" -> ((1L, "1")), "edited" -> ((1L, "2")),
      "rewritten" -> ((1L, "3")), "removed" -> ((1L, "4")),
      "added" -> ((1L, "5"))))
  }

  test("fuzzy threshold is an exact integer compare at the boundary") {
    // old has 4 trigrams, new 5, all 4 shared: J = 4/5 = 0.8 exactly.
    // At thresholdE6 = 800000 the >= compare admits it (edited); one
    // ppm higher excludes it (rewritten) — no float division anywhere.
    val oldSnap = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val newSnap = Seq((1L, "a b c d e f g")).toDF("doc_id", "text")
    def statusAt(thr: Long): String =
      CorpusDiff.fuzzyDiff(oldSnap, newSnap, "doc_id", "text",
          thresholdE6 = thr)
        .as[(Long, String)].collect().head._2
    assert(statusAt(800000L) === "edited")
    assert(statusAt(800001L) === "rewritten")
  }

  test("changed docs below shingle length have no n-gram evidence -> rewritten") {
    val oldSnap = Seq((1L, "xx yy")).toDF("doc_id", "text")
    val newSnap = Seq((1L, "zz ww")).toDF("doc_id", "text")
    val got = CorpusDiff.fuzzyDiff(oldSnap, newSnap, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "rewritten"))
  }

  // ----------------------------------------------------------- rekeyed

  test("rekeyed pairs a removed doc with its re-keyed added twin only") {
    val oldSnap = Seq(
      (1L, "stable document stays put keeping both id and its content"),
      (2L, "the relocated document text which is long enough to match"),
      (3L, "plain removal with nothing resembling it among the additions"),
      (4L, "plain removal with nothing resembling it among the additions"))
      .toDF("doc_id", "text")
    val newSnap = Seq(
      (1L, "stable document stays put keeping both id and its content"),
      (10L, "the relocated document text which is long enough to match v2"),
      (11L, "a genuinely new document unrelated to anything seen before"))
      .toDF("doc_id", "text")
    // both dispatch paths (r18 size dispatch: distributedOnly forces the
    // distributed cascade) must agree with the expectation
    for (distributed <- Seq(false, true)) {
      val got = onPath(distributed)(CorpusDiff.rekeyed(oldSnap, newSnap,
          "doc_id", "text")
        .as[(Long, Long, Double)].collect().toSeq)
      // exactly the (2 -> 10) move; docs 3/4 are IDENTICAL same-side
      // removals — they certainly share bands, so only the cross-side
      // candidate prune keeps them out
      assert(got.map(p => (p._1, p._2)) === Seq((2L, 10L)),
        s"distributed=$distributed")
      assert(got.head._3 >= 0.8)
    }
  }

  test("rekeyed orients (old_id, new_id) regardless of id order") {
    // the added id is SMALLER than the removed id, so the banding
    // pair (id_a < id_b) arrives flipped — orientation must still be
    // old -> new
    val oldSnap = Seq(
      (20L, "the migrating document body long enough to band and match"))
      .toDF("doc_id", "text")
    val newSnap = Seq(
      (5L, "the migrating document body long enough to band and match"))
      .toDF("doc_id", "text")
    for (distributed <- Seq(false, true)) {
      val got = onPath(distributed)(CorpusDiff.rekeyed(oldSnap, newSnap,
          "doc_id", "text")
        .as[(Long, Long, Double)].collect().toSeq)
      assert(got === Seq((20L, 5L, 1.0)), s"distributed=$distributed")
    }
  }

  test("rekeyed ignores ids present in both snapshots") {
    // an id that survives is neither removed nor added — even if its
    // content also appears verbatim under a fresh id (a COPY, not a
    // move, stays out of the re-key report's pool on the old side)
    val text = "a document body long enough to produce shingle bands here"
    val oldSnap = Seq((1L, text)).toDF("doc_id", "text")
    val newSnap = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
    val got = CorpusDiff.rekeyed(oldSnap, newSnap, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.isEmpty)
  }
}
