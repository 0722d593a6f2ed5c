package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** N-gram language-model quality scoring — the CCNet-style perplexity
  * filter (Wenzek et al. 2019, "CCNet: Extracting High Quality
  * Monolingual Datasets from Web Crawl Data", arXiv:1911.00359): score
  * every document by its perplexity under a word-bigram model and let
  * the pipeline keep the low-perplexity (fluent) head. Complements the
  * surface-statistics quality score ([[graft.functions.TextAnalysis]]):
  * that one sees length/punctuation/stopword shape, this one sees
  * whether the WORD SEQUENCE is likely — gibberish with good surface
  * stats scores badly here and nowhere else.
  *
  * Model: add-one (Laplace) smoothed bigrams over the reference corpus,
  * `P(w2|w1) = (c2(w1,w2) + 1) / (c1(w1) + V)` with `c1` the context
  * count (occurrences of `w1` as a bigram left side), `V` the reference
  * vocabulary size, and unseen contexts scoring the uniform `1/V`. The
  * reference defaults to the scored corpus itself (self-perplexity, the
  * deterministic oracle-checkable form); pass a curated `reference` for
  * the CCNet shape proper (score web text under a clean-corpus model).
  *
  * Oracle parity (the float discipline): each position's negative log
  * prob is quantized ONCE to integer 1e-4 nats —
  * `floor(ln((c1+V)/(c2+1)) * 1e4 + 0.5)` — and everything downstream
  * (per-doc sum, perplexity) is exact BIGINT arithmetic or derived from
  * those identical integers, so per-doc totals are order-independent
  * and DuckDB reproduces them bit-for-bit; the only cross-engine float
  * surface is one libm `ln`/`exp` per value, inside a half-up floor
  * with ~1e-11 boundary mass. Output per doc: `n_bigrams`, `nll_e4`
  * (total NLL in 1e-4 nats), `ppl_milli`
  * (`floor(exp(nll/n) * 1000 + 0.5)`, NULL when the doc has no
  * bigram).
  *
  * Scale shape: model fit is two hash aggregations on narrow string
  * keys; V is a 1-row broadcast (the TF-IDF pattern); scoring is one
  * equi-join of per-doc bigrams against the model — hash-partitioned,
  * AQE-broadcast when the reference (CCNet's is bounded by design) fits.
  * Token hashes are NOT used: the model keys stay raw token strings so
  * the oracle joins on identical values; at 100 TB the join keys would
  * move to xxhash64 pairs with the same plan shape. Head/middle/tail
  * binning composes downstream via the exact-quantile operator
  * ([[MedianImpute]]) rather than a global sort here. */
object LmScore {

  /** (doc_id, n_bigrams, nll_e4, ppl_milli) per input row, ordered by
    * the caller. `reference` trains the model (defaults to `df`). */
  def bigramPerplexity(df: DataFrame, idCol: String, textCol: String,
      reference: Option[DataFrame] = None): DataFrame = {
    val ref = reference.getOrElse(df)
    val refBg = bigrams(ref, idCol, textCol)
    val c2 = refBg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val c1 = refBg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = ref
      .select(explode_outer(TextAnalysis.tokens(col(textCol))).as("t"))
      .filter(col("t").isNotNull)
      .agg(count_distinct(col("t")).as("v"))

    val scored = bigrams(df, idCol, textCol)
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab)) // 1 row — reference vocabulary size
      .select(col("__id"),
        // quantize HERE, once per position; everything after is integer
        floor(log((coalesce(col("c1"), lit(0L)) + col("v")) /
            (coalesce(col("c2"), lit(0L)) + lit(1.0))) *
          lit(10000.0) + lit(0.5)).as("nll"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("nll_e4"))

    perDoc(df, idCol, scored)
  }

  /** Interpolated Kneser–Ney bigram perplexity — the smoothing the
    * actual CCNet/KenLM fluency filter runs (Kneser & Ney 1995; Chen &
    * Goodman 1998 §2.7; Heafield et al. 2013, the KenLM estimator;
    * Wenzek et al. 2019 §3.2). Where add-one ([[bigramPerplexity]])
    * hands every unseen bigram the SAME uniform mass — overcharging
    * fluent text that merely uses rare-but-valid continuations — KN
    * discounts each seen bigram by a fixed `D` and redistributes that
    * mass by CONTINUATION probability: how many distinct contexts a
    * word follows, not how often it occurs ("Francisco" is frequent
    * but only ever follows "San", so it gets little unseen-context
    * mass). Per position:
    *
    *   pc(w2)    = (N1+(·,w2) + 1) / (T + V)       — continuation prob,
    *     add-one smoothed over the T distinct bigram types so unseen
    *     words keep nonzero mass (the open-vocabulary guard standing in
    *     for KenLM's <unk>; documented deviation from closed-vocab KN)
    *   seen ctx:   p = (max(c2 − D, 0) + D·N1+(w1,·)·pc) / c1
    *   unseen ctx: p = pc
    *
    * All model quantities are exact integers (c2, c1, the two distinct-
    * neighbor counts, T, V); the per-position float pipeline is fixed
    * operation order both engines replay, quantized ONCE to integer
    * 1e-4 nats (the L43 discipline) — downstream is exact BIGINT.
    *
    * Scale shape — identical to add-one plus two aggregations that are
    * SMALLER than the ones already paid: both distinct-neighbor counts
    * and T come off the (w1, w2) count table (grid-sized, already
    * reduced), not the corpus; scoring is the same per-position
    * equi-join with two extra narrow model joins. */
  def knBigramPerplexity(df: DataFrame, idCol: String, textCol: String,
      reference: Option[DataFrame] = None,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0, 1), got $discount")
    val ref = reference.getOrElse(df)
    val refBg = bigrams(ref, idCol, textCol)
    // the reduced type table feeds FOUR frames (scoring join, context,
    // continuation, T) — checkpoint it or the reference corpus
    // re-tokenizes once per consumer (the ExactSubstr r9 lesson)
    val c2t = refBg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
      .localCheckpoint(false)
    // context table: c1 = Σ c2 (occurrences as left side), n1p = the
    // distinct-continuation count — both off the reduced type table
    val ctx = c2t.groupBy(col("w1"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1p"))
    val cont = c2t.groupBy(col("w2")).agg(count(lit(1)).as("n1c"))
    val types = c2t.agg(count(lit(1)).as("t"))
    val vocab = ref
      .select(explode_outer(TextAnalysis.tokens(col(textCol))).as("tok"))
      .filter(col("tok").isNotNull)
      .agg(count_distinct(col("tok")).as("v"))
    val stats = types.crossJoin(vocab) // 1 row × 1 row

    val d = lit(discount)
    // fixed fp operation order, mirrored token-for-token in the oracle
    val pc = (coalesce(col("n1c"), lit(0L)) + lit(1.0)) /
      (col("t") + col("v"))
    val seen = (greatest(coalesce(col("c2"), lit(0L)) - d, lit(0.0)) +
      d * col("n1p") * pc) / col("c1")
    val scored = bigrams(df, idCol, textCol)
      .join(c2t, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(broadcast(stats)) // 1 row — (T, V)
      .select(col("__id"),
        // quantize HERE, once per position (negative log, half-up)
        floor(log(when(col("c1").isNull, pc).otherwise(seen)) *
          lit(-10000.0) + lit(0.5)).as("nll"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("nll_e4"))

    perDoc(df, idCol, scored)
  }

  /** Interpolated trigram Kneser–Ney perplexity (r12, L127; VERDICT r11
    * #7) — [[knBigramPerplexity]] extended to order 3 with the textbook
    * interpolated backoff chain (Chen & Goodman 1998 §2.7's recursive
    * form; order 3 is the KenLM order CCNet actually runs):
    *
    *   p1(w3)        = (N1+(·w3) + 1) / (T + V)          — the L93
    *     continuation unigram, add-one open-vocabulary guard unchanged
    *     (N1+ off the BIGRAM type table; same documented deviation)
    *   p2(w3|w2)     = (max(ck(w2,w3) − D, 0) + D·N1+(w2·)·p1) / cks(w2)
    *     where ck(w2,w3) = N1+(·w2w3) is the CONTINUATION count (distinct
    *     left contexts of the trigram type) — the Kneser–Ney middle
    *     layer counts types, never tokens — and cks(w2) = Σ ck(w2,·);
    *     unseen middle context falls through to p1
    *   p3(w3|w1w2)   = (max(c3 − D, 0) + D·N1+(w1w2·)·p2) / c12
    *     with raw trigram counts at the top order (KN discounts raw
    *     counts only at the highest order); unseen (w1,w2) falls
    *     through to p2 — and a seen context GUARANTEES cks exists (a
    *     trigram (w1,w2,x) implies ck(w2,x)), so the fallthrough chain
    *     is total.
    *
    * Same exactness contract as L93: every model quantity is an exact
    * integer off grid-sized type tables; the per-position float chain
    * is fixed operation order mirrored token-for-token in the oracle,
    * quantized ONCE to integer 1e-4 nats. Output per doc: `n_trigrams`,
    * `nll_e4`, `ppl_milli` (NULL when the doc has no trigram).
    *
    * Scale shape: ONE extra corpus-scale aggregation vs L93 (the
    * trigram type table); everything else — both continuation tables,
    * contexts, T — reduces off type tables, never the corpus; scoring
    * is the same per-position equi-join with three narrow model joins
    * and a 1-row (T, V) broadcast. */
  def knTrigramPerplexity(df: DataFrame, idCol: String, textCol: String,
      reference: Option[DataFrame] = None,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0, 1), got $discount")
    val ref = reference.getOrElse(df)
    // trigram type table — feeds the scoring join, ctx3 and the middle
    // continuation table (checkpoint or the reference re-tokenizes per
    // consumer — the r11 lesson, same as c2t below)
    val c3t = trigrams(ref, idCol, textCol)
      .groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c3"))
      .localCheckpoint(false)
    val ctx3 = c3t.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c3")).as("c12"), count(lit(1)).as("n1p12"))
    // middle layer: continuation counts ck(w2,w3) = distinct w1, its
    // context totals — feeds scoring + ctx2, checkpoint too
    val ck23 = c3t.groupBy(col("w2"), col("w3"))
      .agg(count(lit(1)).as("ck"))
      .localCheckpoint(false)
    val ctx2 = ck23.groupBy(col("w2"))
      .agg(sum(col("ck")).as("cks"), count(lit(1)).as("n1p2"))
    // unigram continuation off the BIGRAM type table (the L93 pc)
    val c2t = bigrams(ref, idCol, textCol)
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
      .localCheckpoint(false)
    val cont = c2t.groupBy(col("w2")).agg(count(lit(1)).as("n1c"))
      .select(col("w2").as("w3"), col("n1c"))
    val types = c2t.agg(count(lit(1)).as("t"))
    val vocab = ref
      .select(explode_outer(TextAnalysis.tokens(col(textCol))).as("tok"))
      .filter(col("tok").isNotNull)
      .agg(count_distinct(col("tok")).as("v"))
    val stats = types.crossJoin(vocab) // 1 row × 1 row

    val d = lit(discount)
    // fixed fp operation order, mirrored token-for-token in the oracle
    val pc = (coalesce(col("n1c"), lit(0L)) + lit(1.0)) /
      (col("t") + col("v"))
    val p2 = when(col("cks").isNull, pc)
      .otherwise((greatest(coalesce(col("ck"), lit(0L)) - d, lit(0.0)) +
        d * col("n1p2") * pc) / col("cks"))
    val p3 = when(col("c12").isNull, p2)
      .otherwise((greatest(coalesce(col("c3"), lit(0L)) - d, lit(0.0)) +
        d * col("n1p12") * p2) / col("c12"))
    val scored = trigrams(df, idCol, textCol)
      .join(c3t, Seq("w1", "w2", "w3"), "left")
      .join(ctx3, Seq("w1", "w2"), "left")
      .join(ck23, Seq("w2", "w3"), "left")
      .join(ctx2, Seq("w2"), "left")
      .join(cont, Seq("w3"), "left")
      .crossJoin(broadcast(stats)) // 1 row — (T, V)
      .select(col("__id"),
        // quantize HERE, once per position (negative log, half-up)
        floor(log(p3) * lit(-10000.0) + lit(0.5)).as("nll"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_trigrams"), sum(col("nll")).as("nll_e4"))

    perDoc(df, idCol, scored, "n_trigrams")
  }

  /** Per-doc trigram rows — the [[bigrams]] staging discipline at
    * order 3. */
  private def trigrams(d: DataFrame, id: String, text: String): DataFrame =
    d.select(col(id).as("__id"), TextAnalysis.tokens(col(text)).as("tk"))
      .select(col("__id"), explode_outer(when(size(col("tk")) < 3,
          array().cast("array<struct<w1:string,w2:string,w3:string>>"))
        .otherwise(transform(sequence(lit(1), size(col("tk")) - 2),
          i => struct(element_at(col("tk"), i).as("w1"),
            element_at(col("tk"), i + 1).as("w2"),
            element_at(col("tk"), i + 2).as("w3"))))).as("tg"))
      .filter(col("tg").isNotNull)
      .select(col("__id"), col("tg.w1").as("w1"), col("tg.w2").as("w2"),
        col("tg.w3").as("w3"))

  /** Per-doc bigram rows with the token-hash staging discipline: tk is
    * its own projection so the position lambda reads a materialized
    * array (TextAnalysis.positionalShingleHashesFromTokens's lesson)
    * outer + null filter (the q_t6 lesson): plain explode would
    * rebuild the bigram array inside the inferred size()>0 filter */
  private def bigrams(d: DataFrame, id: String, text: String): DataFrame =
      d.select(col(id).as("__id"), TextAnalysis.tokens(col(text)).as("tk"))
        .select(col("__id"), explode_outer(when(size(col("tk")) < 2,
            array().cast("array<struct<w1:string,w2:string>>"))
          .otherwise(transform(sequence(lit(1), size(col("tk")) - 1),
            i => struct(element_at(col("tk"), i).as("w1"),
              element_at(col("tk"), i + 1).as("w2"))))).as("bg"))
        .filter(col("bg").isNotNull)
        .select(col("__id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  /** Re-attach per-doc aggregates to EVERY input row (docs without a
    * scoreable n-gram keep 0/0/NULL) and derive the perplexity from the
    * exact integer totals. `countName` is the n-gram count column the
    * caller's aggregation produced (n_bigrams / n_trigrams). */
  private def perDoc(df: DataFrame, idCol: String, scored: DataFrame,
      countName: String = "n_bigrams"): DataFrame =
    df.select(col(idCol).as("__id"))
      .join(scored, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col(countName), lit(0L)).as(countName),
        coalesce(col("nll_e4"), lit(0L)).as("nll_e4"),
        when(col(countName) > 0,
          floor(exp(col("nll_e4").cast("double") / lit(10000.0) /
            col(countName)) * lit(1000.0) + lit(0.5)))
          .as("ppl_milli"))
}
