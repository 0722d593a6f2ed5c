package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE merge-table LEARNING (Sennrich et al. 2016,
  * arXiv:1508.07909) — the training loop behind [[graft.functions.Bpe]]'s
  * merge-table APPLICATION, which until r10 ran only driver-side in
  * `scripts/learn_bpe.py` (VERDICT r9 #5). Each round is:
  *
  *  1. ONE map-side-combinable pair aggregation — every adjacent symbol
  *     pair of every distinct word, weighted by corpus frequency,
  *     `groupBy(lhs, rhs).sum(freq)`;
  *  2. a 1-ROW argmax collect (max count, ties to the lexicographically
  *     LARGEST pair — the learn_bpe.py rule, deterministic);
  *  3. a narrow leftmost-non-overlapping merge application over the
  *     symbol arrays (an `aggregate` fold — no shuffle), checkpointed
  *     per round with the KCore/PageRank release chain.
  *
  * The corpus-sized work happens ONCE: word extraction + frequency
  * aggregation collapse the corpus to its distinct-word table, and all
  * rounds iterate on that (the standard BPE trainer shape — vocabulary
  * is millions of words at 100 TB, not petabytes). Driver traffic is one
  * (lhs, rhs, cnt) row per round.
  *
  * Exactness contract (the KMeansLloyd generated-oracle discipline):
  * counts are exact BIGINTs, the argmax total order is
  * `(cnt, lhs, rhs)` descending, and application is leftmost
  * non-overlapping — which is also exactly what one boundary-safe
  * SQL REPLACE pass does, so the per-round recurrence replays in
  * DuckDB with the engine's learned prefix as literals
  * ([[graft.queries.LlmPipeline]]'s q_t28 dynamic oracle recomputes
  * every round's pair counts and argmax itself; a wrong engine merge at
  * any round mismatches that round's row). Words are `[a-z]+` of the
  * lowercased corpus, the learn_bpe.py convention (keeps every symbol
  * SQL-quote-safe). Learned tables are well-formed by construction —
  * each side is a char or an earlier output — so they drop straight
  * into [[graft.functions.Bpe.tokenCounts]].
  */
object BpeLearn {

  final case class Merge(rank: Int, lhs: String, rhs: String, cnt: Long)

  /** Distinct-word frequency table of the corpus: `[a-z]+` runs of the
    * lowercased text, one row per distinct word with its occurrence
    * count — the only corpus-sized aggregation in the trainer. */
  def vocab(df: DataFrame, textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(explode(split(lower(col(textCol)), "[^a-z]+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Leftmost non-overlapping application of one merge to a symbol
    * array, as a fold: append each symbol; when the running tail equals
    * `a` and the next symbol is `b`, fuse them. A tail produced by this
    * round's own fusion is `a+b`, which can never equal `a` (b is
    * nonempty), so the fold cannot re-merge overlapping occurrences —
    * the same left-to-right rule as SQL REPLACE and learn_bpe.py. */
  private def applyMerge(syms: org.apache.spark.sql.Column, a: String,
      b: String): org.apache.spark.sql.Column =
    aggregate(syms, array().cast("array<string>"), (acc, s) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(s))))

  /** Adjacent-pair counts of the current symbolization, weighted by
    * word frequency — the round's ONE shuffle, map-side combinable
    * (plan-pinned in PlanAuditSpec: a corpus-hot pair like ("t","h")
    * must partial-aggregate, not serialize into one reduce task). */
  private[graft] def pairCounts(state: DataFrame): DataFrame =
    state.filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(transform(
          sequence(lit(0), size(col("syms")) - 2),
          i => struct(element_at(col("syms"), i + 1).as("l"),
            element_at(col("syms"), i + 2).as("r")))).as("p"))
      .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
      .agg(sum(col("freq")).as("cnt"))

  /** Learn `nMerges` merges from the corpus. Stops early if no adjacent
    * pair remains (every word fully fused).
    *
    * Size dispatch (r18, the PageRank/Clusters discipline): the
    * corpus-sized work — [[vocab]] — always runs distributed; the ROUND
    * LOOP is 12+ iterations of (one shuffle + a 1-row collect + a
    * checkpoint job) whose inputs never exceed the vocabulary. When the
    * total word chars (= symbol cells) fit [[LocalDispatch.fitsCells]]
    * the loop runs on the driver with the identical pair counts,
    * (cnt, lhs, rhs)-desc argmax (symbols are [a-z]+, where Java and
    * UTF8 binary order agree) and leftmost non-overlapping application
    * — BpeLearnSpec pins local ≡ distributed ≡ the reference trainer.
    * Above the bound the distributed loop runs unchanged. */
  def learn(df: DataFrame, textCol: String, nMerges: Int): Seq[Merge] = {
    require(nMerges >= 1 && nMerges <= 10000,
      s"nMerges must be in [1, 10000], got $nMerges")
    val v = vocab(df, textCol).localCheckpoint(false)
    // one job: materializes the vocab checkpoint AND sizes the dispatch
    val cells = {
      val r = v.agg(coalesce(sum(length(col("word"))), lit(0L))).head()
      r.getLong(0)
    }
    if (LocalDispatch.fitsCells(cells)) {
      val spark = df.sparkSession
      import spark.implicits._
      val words = v.select(col("word"), col("freq"))
        .as[(String, Long)].collect()
      Checkpoints.release(v)
      return localLearn(words, nMerges)
    }
    var state = v
      .select(col("word"), split(col("word"), "").as("syms"), col("freq"))
      .localCheckpoint(false)
    state.count() // materialize before releasing the vocab parent
    Checkpoints.release(v)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var done = false
    for (r <- 1 to nMerges if !done) {
      val top = pairCounts(state)
        .orderBy(col("cnt").desc, col("lhs").desc, col("rhs").desc)
        .limit(1).collect() // 1 row — the round's winning pair
      if (top.isEmpty) done = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += Merge(r, a, b, top(0).getLong(2))
        val next = state
          .select(col("word"), applyMerge(col("syms"), a, b).as("syms"),
            col("freq"))
          .localCheckpoint(false)
        next.count() // materialize before releasing the parent
        Checkpoints.release(state)
        state = next
      }
    }
    Checkpoints.release(state)
    merges.toSeq
  }

  /** Driver kernel of the [[learn]] round loop — the identical
    * recurrence over the collected (word, freq) table: all-adjacent
    * pair counts weighted by freq, argmax with ties to the
    * lexicographically LARGEST (lhs, rhs) (ASCII symbols — Java order ≡
    * the UTF8 binary order the distributed sort uses), leftmost
    * non-overlapping application (the lookahead loop ≡ the
    * [[applyMerge]] fold: a fused tail `a+b` can never re-match `a`). */
  private def localLearn(words: Array[(String, Long)],
      nMerges: Int): Seq[Merge] = {
    var state: Array[(Array[String], Long)] =
      words.map { case (w, f) => (w.map(_.toString).toArray, f) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var done = false
    for (r <- 1 to nMerges if !done) {
      val pairs = new java.util.HashMap[(String, String), Long]()
      state.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          pairs.merge((syms(i), syms(i + 1)), f, _ + _)
          i += 1
        }
      }
      if (pairs.isEmpty) done = true
      else {
        var bestK: (String, String) = null
        var bestC = 0L
        pairs.forEach { (k, c) =>
          if (bestK == null || c > bestC || (c == bestC &&
              (k._1 > bestK._1 || (k._1 == bestK._1 && k._2 > bestK._2)))) {
            bestK = k; bestC = c
          }
        }
        val (a, b) = bestK
        merges += Merge(r, a, b, bestC)
        state = state.map { case (syms, f) =>
          var changed = false
          var i = 0
          while (!changed && i < syms.length - 1) {
            changed = syms(i) == a && syms(i + 1) == b
            i += 1
          }
          if (!changed) (syms, f)
          else {
            val out = new scala.collection.mutable.ArrayBuffer[String](
              syms.length)
            var j = 0
            while (j < syms.length) {
              if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
                out += a + b; j += 2
              } else { out += syms(j); j += 1 }
            }
            (out.toArray, f)
          }
        }
      }
    }
    merges.toSeq
  }

  /** [[learn]] as a battery-shaped frame: (rank, lhs, rhs, cnt). */
  def learnDf(spark: SparkSession, df: DataFrame, textCol: String,
      nMerges: Int): DataFrame = {
    import spark.implicits._
    learn(df, textCol, nMerges).toDF().orderBy(col("rank"))
  }

  /** The generated DuckDB replay of [[learn]] over the `documents`
    * table: for every round the oracle recomputes the pair counts over
    * the current symbolization and emits ITS OWN argmax — only the
    * APPLICATION prefix rides the engine's learned merges as literal
    * boundary-safe REPLACEs (the [[graft.functions.Bpe]] q_t13
    * mechanism; one REPLACE pass ≡ leftmost non-overlapping, the same
    * rule [[learn]] folds with). A wrong engine merge at round j makes
    * the oracle's round-j row differ, so the whole learned sequence is
    * verified, not echoed (the q_t20 dynamic-oracle discipline: Verify
    * runs queries before dumping oracle SQL). */
  def oracleSql(merges: Seq[Merge]): String = {
    require(merges.nonEmpty, "oracleSql over an empty merge sequence")
    val R = merges.length
    val sb = new StringBuilder(
      """WITH w AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
            FROM (SELECT unnest(regexp_split_to_array(lower(text),
                    '[^a-z]+')) AS word
                  FROM documents WHERE text IS NOT NULL)
            WHERE word <> '' GROUP BY word),
          s0 AS (SELECT array_to_string(list_transform(
                   string_split(word, ''), x -> '(' || x || ')'), ' ')
                   AS t, freq FROM w)""")
    for (r <- 1 to R) {
      sb.append(s""",
          t$r AS (SELECT string_split(t, ' ') AS tok, freq
                  FROM s${r - 1}),
          p$r AS (SELECT trim(tok[CAST(i AS INTEGER)], '()') AS lhs,
                    trim(tok[CAST(i + 1 AS INTEGER)], '()') AS rhs,
                    CAST(SUM(freq) AS BIGINT) AS cnt
                  FROM t$r, unnest(range(1, len(tok))) AS u(i)
                  GROUP BY lhs, rhs),
          a$r AS (SELECT CAST($r AS INTEGER) AS rank, lhs, rhs, cnt
                  FROM p$r
                  ORDER BY cnt DESC, lhs DESC, rhs DESC LIMIT 1)""")
      if (r < R) {
        val m = merges(r - 1)
        sb.append(s""",
          s$r AS (SELECT REPLACE(t, '(${m.lhs}) (${m.rhs})',
                    '(${m.lhs}${m.rhs})') AS t, freq FROM s${r - 1})""")
      }
    }
    sb.append("\n         " +
      (1 to R).map(r => s"SELECT * FROM a$r").mkString("\n         UNION ALL\n         "))
    sb.append("\n         ORDER BY rank")
    sb.toString
  }
}
