package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact set-similarity self-join with prefix filtering — the AllPairs /
  * PPJoin family (Bayardo et al., WWW'07; Vernica et al., SIGMOD'10 for
  * the MapReduce formulation): every document pair with shingle-set
  * Jaccard ≥ threshold, with **100% recall guaranteed by construction**.
  *
  * This is the deterministic complement to the MinHash-LSH path
  * ([[NearDup.minhashPairs]]): banding recall is probabilistic
  * (P[detect] = 1−(1−j^r)^b — near 1 but not 1), while the prefix
  * filter is a *lossless* candidate screen, so the output is exactly
  * the exhaustive all-pairs answer at any threshold. The price is that
  * candidate volume tracks token-frequency skew instead of a tunable
  * band count — use this when an auditable "no pair missed" guarantee
  * matters (decontamination evidence, dedup compliance reports), LSH
  * when approximate recall at controlled cost is enough.
  *
  * Algorithm: order each document's distinct shingle hashes by global
  * rarity (document frequency asc, hash asc — one corpus-wide order);
  * a pair with Jaccard ≥ t must share ≥ ⌈t·|A|⌉ shingles with EACH side
  * A (|∩| ≥ t·|∪| ≥ t·|A|), so if none of the first
  * p_A = |A| − ⌈t·|A|⌉ + 1 ordered shingles of A were shared, the ≥⌈t·|A|⌉
  * shared ones would have to fit in the remaining ⌈t·|A|⌉ − 1 slots —
  * contradiction. Moreover the GLOBALLY SMALLEST shared shingle is in
  * both prefixes (if it were past either prefix, that side's shared
  * set would again be squeezed into too few slots), so joining prefix
  * tokens against prefix tokens loses nothing. Candidates then pass
  * the size filter (min·10⁶ ≥ t₆·max — necessary since |∩| ≤ min and
  * |∪| ≥ max) and the exact [[NearDup.confirmJaccard]] verification.
  *
  * Scale shape: document frequency is one map-side-combinable groupBy
  * over exploded shingle hashes; per-set ordering is one
  * sort_array(collect_list) — deterministic because (df, hash) is
  * unique within a set; pair generation reuses [[NearDup.bucketPairs]]
  * (one groupBy, JIT'd in-bucket expansion, never a self-join of the
  * corpus). The rarest-first order is what bounds the quadratic term:
  * a shingle lands in a prefix only when it is among that document's
  * (1−t) rarest fraction, so corpus-wide boilerplate shingles appear in
  * prefixes only for documents consisting almost entirely of such
  * shingles — i.e. for genuine mass-duplicate clusters, where the
  * output itself is quadratic. `maxTokenGroup` is the robustness valve
  * for that regime (drops pair expansion for prefix-token groups above
  * the cap, reported by [[NearDup.bucketPairs]] semantics): the
  * default Int.MaxValue keeps the join exact; capped runs trade the
  * recall guarantee for bounded cost exactly like LSH's bucket cap.
  *
  * Reference anchor: the near-dup surface of the reference's dedup
  * checks (qb_invoices_backfill `transform_dedup.py` drops exact key
  * duplicates); this operator is the corpus-scale exact-similarity
  * generalization the LLM-data extension ships alongside L2/L44. */
object SetSimJoin {

  // Size dispatch (r18, guide §1.2 — the KMeansLloyd/Clusters
  // discipline): when the total shingle cells (Σ|hs| over the frame(s))
  // fit `LocalDispatch.fitsCells` the whole prefix-filter join runs on
  // the driver. The distributed cascade is ~6 shuffle stages (doc
  // frequency, rarity prefixes, the token-bucket pair expansion, two size
  // probes, the melt-join confirm) whose per-stage fixed cost dominates
  // on gate-scale corpora (measured: 2.4–3.7 s per call at sf0.1 for a
  // 5,000-doc / 1.5M-cell corpus), while the kernel is a few hundred ms
  // of hash-map work over the SAME hashed shingle sets. Above the bound
  // the distributed cascade runs unchanged; both paths replicate the
  // identical integer prefix/size arithmetic and the identical rounding,
  // pinned local ≡ distributed in SetSimJoinSpec.

  /** (id_a, id_b, jaccard) for every unordered pair with exact distinct
    * `shingleLen`-gram Jaccard ≥ `threshold`, id_a < id_b, jaccard
    * rounded to 6 dp (the near-dup family's oracle convention). Ids must
    * be numeric (upcast to long — [[NearDup.bucketPairs]]'s contract)
    * and UNIQUE: duplicate ids would merge their shingle sets through
    * the per-id grouping and double-count document frequency (the
    * CorpusDiff precondition, same reason).
    * Empty shingle sets (documents shorter than `shingleLen` tokens)
    * never pair: their Jaccard is 0 by the family's convention. */
  def pairs(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, threshold: Double = 0.8,
      maxTokenGroup: Int = Int.MaxValue): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold $threshold outside (0, 1] — at 0 the prefix is the " +
        "whole set and the join is all-pairs by definition")
    // integer ppm form so the prefix/size arithmetic is exact: a float
    // ceil(t·n) landing one short would silently break the recall proof
    val t6 = math.round(threshold * 1e6)
    NearDup.materialized { cache =>
      val sh = cache(NearDup.hashedShingles(df, idCol, textCol, shingleLen))
      // one agg fills the shared cache AND sizes the dispatch
      val cells = NearDup.shCells(sh)
      if (LocalDispatch.fitsCells(cells)) {
        val sets = NearDup.collectSets(sh)
        localPairsDF(df.sparkSession,
          localJaccardPairs(sets, t6, threshold, maxTokenGroup), "jaccard")
      } else {
        val prefix = prefixRows(exploded(sh), t6)
        val cand = NearDup.bucketPairs(
          prefix.select(col("id"), lit(0).as("band"), col("key")),
          maxTokenGroup)
        // size filter: J ≥ t forces min(|A|,|B|)·10⁶ ≥ t₆·max(|A|,|B|);
        // the size table is two slim columns — AQE broadcasts it into
        // both probes when small, and the filter runs before the (more
        // expensive) shingle-set confirm either way
        val sizes = sh.select(col("id"), size(col("hs")).cast("long").as("n"))
        val sized = cand
          .join(sizes.select(col("id").as("id_a"), col("n").as("__na")), "id_a")
          .join(sizes.select(col("id").as("id_b"), col("n").as("__nb")), "id_b")
          .filter(least(col("__na"), col("__nb")) * lit(1000000L) >=
            lit(t6) * greatest(col("__na"), col("__nb")))
          .select(col("id_a"), col("id_b"))
        NearDup.confirmJaccard(cache(sized), sh, threshold)
      }
    }
  }

  private def localPairsDF(spark: org.apache.spark.sql.SparkSession,
      rows: Seq[(Long, Long, Double)], scoreCol: String): DataFrame = {
    import spark.implicits._
    rows.toDF("id_a", "id_b", scoreCol)
  }

  /** Driver kernel of [[pairs]] — the identical prefix-filter pipeline
    * over collected sets: document frequency, (df, g) rarity order,
    * p = n − ⌈t·n⌉ + 1 prefixes, token-group pair expansion with the
    * same `maxTokenGroup` skip and sorted-id (a < b) order, the same
    * min/max size filter, the same |A∩B|/(|A|+|B|−|A∩B|) confirm with
    * the same 6-dp round — integer/IEEE arithmetic step for step, so
    * local ≡ distributed is by construction (spec-pinned). */
  private def localJaccardPairs(sets: Array[(Long, Array[Long])], t6: Long,
      threshold: Double, maxTokenGroup: Int): Seq[(Long, Long, Double)] = {
    val dfreq = new java.util.HashMap[Long, Long]()
    sets.foreach { case (_, hs) =>
      hs.foreach(g => dfreq.merge(g, 1L, _ + _))
    }
    val byId = new java.util.HashMap[Long, Array[Long]]()
    val groups = new java.util.HashMap[Long, java.util.ArrayList[Long]]()
    sets.foreach { case (id, hs) =>
      byId.put(id, hs)
      val n = hs.length.toLong
      if (n > 0) {
        val ceilT = (t6 * n + 999999L) / 1000000L
        val p = (n - ceilT + 1L).toInt
        if (p > 0) {
          val ord = hs.map(g => (dfreq.get(g).longValue(), g)).sorted
          var i = 0
          while (i < p) {
            val g = ord(i)._2
            var lst = groups.get(g)
            if (lst == null) {
              lst = new java.util.ArrayList[Long](); groups.put(g, lst)
            }
            lst.add(id)
            i += 1
          }
        }
      }
    }
    val cand = new java.util.HashSet[(Long, Long)]()
    groups.forEach { (_, lst) =>
      if (lst.size >= 2 && lst.size <= maxTokenGroup) {
        val ids = new Array[Long](lst.size)
        var i = 0
        while (i < ids.length) { ids(i) = lst.get(i); i += 1 }
        java.util.Arrays.sort(ids)
        i = 0
        while (i < ids.length) {
          var j = i + 1
          while (j < ids.length) {
            cand.add((ids(i), ids(j))); j += 1
          }
          i += 1
        }
      }
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    cand.forEach { case (a, b) =>
      val ha = byId.get(a); val hb = byId.get(b)
      val na = ha.length.toLong; val nb = hb.length.toLong
      if (math.min(na, nb) * 1000000L >= t6 * math.max(na, nb)) {
        val inter = NearDup.intersectCount(ha, hb)
        val union = na + nb - inter
        val jac = if (union == 0L) 0.0 else inter.toDouble / union.toDouble
        val rounded = NearDup.round6(jac)
        if (rounded >= threshold) out += ((a, b, rounded))
      }
    }
    out.toSeq
  }

  /** Driver kernel of the containment join — same pipeline replication:
    * df over the shared-id-space union, probe prefixes, full-index
    * token groups with the `maxTokenGroup` index-side skip, the
    * n_b·10⁶ ≥ t₆·n_a size filter, the integer-exact
    * inter·10⁶ ≥ t₆·n_a confirm and the 6-dp rounded score. */
  private def localContainment(probeSets: Array[(Long, Array[Long])],
      indexSets: Array[(Long, Array[Long])], t6: Long,
      maxTokenGroup: Int): Seq[(Long, Long, Double)] = {
    // union id space: index rows win; probe rows absent from the index
    // join in (identical sets for shared ids by contract)
    val byId = new java.util.HashMap[Long, Array[Long]]()
    indexSets.foreach { case (id, hs) => byId.put(id, hs) }
    probeSets.foreach { case (id, hs) =>
      if (!byId.containsKey(id)) byId.put(id, hs)
    }
    val dfreq = new java.util.HashMap[Long, Long]()
    byId.forEach { (_, hs) =>
      hs.foreach(g => dfreq.merge(g, 1L, _ + _))
    }
    // full-set token groups over the INDEX side (the probe joins prefix
    // tokens against index full lists)
    val groups = new java.util.HashMap[Long, java.util.ArrayList[Long]]()
    indexSets.foreach { case (id, hs) =>
      hs.foreach { g =>
        var lst = groups.get(g)
        if (lst == null) {
          lst = new java.util.ArrayList[Long](); groups.put(g, lst)
        }
        lst.add(id)
      }
    }
    val cand = new java.util.HashSet[(Long, Long)]()
    probeSets.foreach { case (a, _) =>
      val hs = byId.get(a) // shared-id contract: same set either side
      val n = hs.length.toLong
      if (n > 0) {
        val ceilT = (t6 * n + 999999L) / 1000000L
        val p = (n - ceilT + 1L).toInt
        if (p > 0) {
          val ord = hs.map(g => (dfreq.get(g).longValue(), g)).sorted
          var i = 0
          while (i < p) {
            val lst = groups.get(ord(i)._2)
            if (lst != null && lst.size <= maxTokenGroup) {
              var j = 0
              while (j < lst.size) {
                val b = lst.get(j).longValue()
                if (b != a) cand.add((a, b))
                j += 1
              }
            }
            i += 1
          }
        }
      }
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    cand.forEach { case (a, b) =>
      val ha = byId.get(a); val hb = byId.get(b)
      val na = ha.length.toLong; val nb = hb.length.toLong
      if (nb * 1000000L >= t6 * na && na > 0L) {
        val inter = NearDup.intersectCount(ha, hb)
        if (inter * 1000000L >= t6 * na)
          out += ((a, b, NearDup.round6(inter.toDouble / na.toDouble)))
      }
    }
    out.toSeq
  }

  /** Exploded (id, g) shingle rows — outer + null filter (the q_t6
    * InferFiltersFromGenerate lesson: plain explode over the computed
    * shingle array would re-evaluate it inside an inferred size()>0
    * pushdown). */
  private def exploded(sh: DataFrame): DataFrame =
    sh.select(col("id"), explode_outer(col("hs")).as("g"))
      .filter(col("g").isNotNull)

  /** Per-document rarity-ordered prefix tokens (id, key): order each
    * set's distinct shingle hashes by corpus document frequency asc then
    * hash asc (one corpus-wide total order; (df, g) is unique within a
    * set so sort_array makes collect_list order irrelevant), keep the
    * first p = n − ⌈t·n⌉ + 1. The SAME prefix length serves both the
    * symmetric Jaccard join and the asymmetric containment join —
    * in both cases the required overlap with the prefix-holder A is
    * ≥ ⌈t·|A|⌉, which is exactly what the pigeonhole needs. */
  private def prefixRows(ex: DataFrame, t6: Long): DataFrame = {
    // `ex` carries distinct (id, g) rows, so count(1) IS document freq
    val dfreq = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val ordered = ex.join(dfreq, "g")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("g")))).as("ord"))
    // p = n − ⌈t·n⌉ + 1 with the ceil as exact long arithmetic
    val n = size(col("ord")).cast("long")
    val ceilT = call_function("div", lit(t6) * n + lit(999999L),
      lit(1000000L))
    ordered
      .select(col("id"), explode_outer(slice(
        transform(col("ord"), _.getField("g")),
        lit(1), (n - ceilT + lit(1L)).cast("int"))).as("key"))
      .filter(col("key").isNotNull)
  }

  /** Exact containment-similarity self-join (r12, L125; VERDICT r11 #5;
    * the prefix filter's containment form — Chaudhuri, Ganti &
    * Kaushik ICDE'06 SSJoin primitive): every DIRECTED pair (A, B),
    * A ≠ B, with C(A→B) = |A∩B| / |A| ≥ threshold — the
    * quote-inclusion / syndication detector. Symmetric Jaccard scores a
    * short document fully contained in a long one LOW (the union is
    * large); containment scores it 1.0 — the gap [[pairs]] leaves open.
    *
    * Recall proof (100%, by construction): C(A→B) ≥ t ⇒ |A∩B| ≥
    * ⌈t·|A|⌉; if NONE of A's first |A| − ⌈t·|A|⌉ + 1 rarity-ordered
    * tokens were in B, the ≥⌈t·|A|⌉ shared tokens would have to fit in
    * the remaining ⌈t·|A|⌉ − 1 slots — contradiction. So the PROBE
    * prefix (A, the contained side) joined against the INDEX side's
    * FULL token list (B carries no prefix: containment puts no lower
    * bound on B's shared FRACTION, only on its shared COUNT) loses
    * nothing. The only size condition is the necessary asymmetric one —
    * |B| ≥ ⌈t·|A|⌉ (since |A∩B| ≤ |B|) — there is NO symmetric
    * min/max filter, which is precisely why Jaccard machinery cannot
    * be reused wholesale.
    *
    * Scale shape: document frequency + rarity prefixes shared with
    * [[pairs]]; candidates come from a side-tagged probe×index bucket
    * expansion (ONE groupBy per token, the taggedBucketPairs
    * discipline — never a self-join of the corpus); `maxTokenGroup`
    * caps the INDEX membership of a token bucket (a corpus-stopword
    * token indexes everyone — the valve trades recall for bounded
    * cost exactly like the LSH caps; default keeps the join exact).
    * Confirmation is the melt-join-regroup shape scoring ONLY
    * candidates. Output: (id_a, id_b, containment) — id_a the
    * CONTAINED side, both directions reported independently when both
    * clear the threshold.
    *
    * PRECONDITION (r17, ADVICE): ids are UNIQUE within each frame.
    * The r17 fast paths dropped the defensive dropDuplicates steps the
    * generic path carried, so duplicate ids within a frame now inflate
    * document frequencies and prefix lengths instead of being silently
    * collapsed — out-of-contract inputs no longer degrade gracefully. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, threshold: Double = 0.8,
      maxTokenGroup: Int = Int.MaxValue): DataFrame =
    containmentJoinImpl(df, df, idCol, textCol, shingleLen, threshold,
      maxTokenGroup, same = true)

  /** The two-frame form of [[containmentPairs]] (r12): directed pairs
    * (id_a ∈ probe, id_b ∈ index) with C(A→B) ≥ threshold — the
    * DECONTAMINATION shape ("which eval items are ≥ t contained in
    * some training document"), where the probe side is typically a
    * bounded eval set and the index side the corpus. Ids must share
    * one id space across both frames (a probe and an index row with
    * the same id are the same document and never pair — the self-join
    * case); passing the SAME frame twice IS the self-join:
    * [[containmentPairs]] delegates here, and the spec's exhaustive
    * property covers the delegation. [[containmentPairs]]'s unique-id
    * precondition applies to each frame (the r17 fast paths dropped the
    * defensive per-frame dedup).
    *
    * The rarity order that drives the prefixes is computed over the
    * distinct (id, token) rows of BOTH frames — the order is a
    * performance heuristic only (ANY fixed global order preserves the
    * pigeonhole recall proof), so the cross-frame result is exact
    * regardless; distinctness makes self-delegation produce literally
    * the single-frame order. Scale: with |probe| ≪ |index| the
    * expansion is bounded by probe-prefix mass × per-token index df —
    * the oracle's exhaustive replay is |probe| × |index| and stays
    * affordable at EVERY SF when the probe side is a bounded eval
    * slice (unlike the self-join's quadratic oracle). */
  def containmentJoin(probe: DataFrame, index: DataFrame, idCol: String,
      textCol: String, shingleLen: Int = 3, threshold: Double = 0.8,
      maxTokenGroup: Int = Int.MaxValue): DataFrame =
    containmentJoinImpl(probe, index, idCol, textCol, shingleLen,
      threshold, maxTokenGroup, same = false)

  /** Shared body. `same = true` is the self-join fast path (r17
    * optimization, guide §1.2 "don't compute things you throw away"):
    * with probe ≡ index, the generic path computed hashedShingles TWICE
    * (two persisted frames, two fill counts), deduplicated the doubled
    * exploded token set through a full dropDuplicates shuffle, semi-
    * joined prefixes against the probe ids (a tautology), and unioned +
    * re-deduplicated the confirm shingle table — all identity
    * transformations when the two frames are the same. The self path
    * computes each once; the emitted rows are identical by construction
    * (exploded(sh) is already distinct per (id, g), prefix ids ⊆ probe
    * ids, and shP ∪ shI dedup-by-id = shP). */
  private def containmentJoinImpl(probe: DataFrame, index: DataFrame,
      idCol: String, textCol: String, shingleLen: Int,
      threshold: Double, maxTokenGroup: Int, same: Boolean): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold $threshold outside (0, 1] — at 0 every pair qualifies")
    val t6 = math.round(threshold * 1e6)
    NearDup.materialized { cache =>
      val shP = cache(NearDup.hashedShingles(probe, idCol, textCol,
        shingleLen))
      val shI = if (same) shP
        else cache(NearDup.hashedShingles(index, idCol, textCol,
          shingleLen))
      // the Σ|hs| aggs fill both caches AND size the dispatch
      val cells = NearDup.shCells(shP) +
        (if (same) 0L else NearDup.shCells(shI))
      if (LocalDispatch.fitsCells(cells)) {
        val pSets = NearDup.collectSets(shP)
        val iSets = if (same) pSets else NearDup.collectSets(shI)
        localPairsDF(probe.sparkSession,
          localContainment(pSets, iSets, t6, maxTokenGroup), "containment")
      } else containmentDistributed(shP, shI, same, t6, maxTokenGroup, cache)
    }
  }

  /** The distributed containment cascade (the pre-r18 body, unchanged —
    * the over-bound path of [[containmentJoinImpl]]'s size dispatch). */
  private def containmentDistributed(shP: DataFrame, shI: DataFrame,
      same: Boolean, t6: Long, maxTokenGroup: Int,
      cache: DataFrame => DataFrame): DataFrame = {
      // one global rarity order over the distinct (id, token) rows of
      // both frames; prefixes restricted to probe ids. Self case: the
      // exploded rows are already distinct per (id, g) and every prefix
      // id IS a probe id — skip the dedup shuffle and the semi-join.
      // Cross-frame dedup rides the slim id column, not the exploded
      // token set (r17, guide §2.3): a shared id carries an IDENTICAL
      // shingle set by the shared-id-space contract, so distinct
      // (id, g) rows of the union = index rows + probe rows whose id is
      // absent from the index — one anti-join on ids instead of a
      // full-width dropDuplicates shuffle of every exploded token row
      // (the old form shuffled the doubled token set; q_d14's index
      // explosion is the corpus). Identical rows by construction; like
      // the dropDuplicates form, inputs violating the shared-id
      // contract are out of scope.
      val exAll =
        if (same) exploded(shP)
        else exploded(shI).unionAll(exploded(
          shP.join(shI.select(col("id")), Seq("id"), "left_anti")))
      val prefixAll = prefixRows(exAll, t6)
      val prefix =
        if (same) prefixAll
        else prefixAll.join(shP.select(col("id")), Seq("id"), "left_semi")
      val cand = taggedTokenPairs(prefix, exploded(shI), maxTokenGroup)
      // necessary size condition: |A∩B| ≤ |B| forces n_b ≥ ⌈t·n_a⌉
      def sizes(sh: DataFrame) =
        sh.select(col("id"), size(col("hs")).cast("long").as("n"))
      val sized = cand
        .join(sizes(shP).select(col("id").as("id_a"), col("n").as("__na")),
          "id_a")
        .join(sizes(shI).select(col("id").as("id_b"), col("n").as("__nb")),
          "id_b")
        .filter(col("__nb") * lit(1000000L) >= lit(t6) * col("__na"))
        .select(col("id_a"), col("id_b"))
      // one shingle table for the melt-join confirm; shared ids carry
      // identical sets by the shared-id-space contract — same anti-join
      // dedup as exAll (dropDuplicates("id") shuffled every hs array)
      val shingles =
        if (same) shP
        else shI.unionAll(
          shP.join(shI.select(col("id")), Seq("id"), "left_anti"))
      confirmContainment(cache(sized), shingles, t6)
  }

  /** Directed probe×index candidate pairs: one bucket per token, probe
    * rows are prefix tokens (side 1, the CONTAINED candidate = id_a),
    * index rows are full token lists (side 0 = id_b). The
    * StreamingNearDup.taggedBucketPairs discipline: ONE groupBy,
    * JIT'd flatMap expansion, explicit repartition first (AQE would
    * coalesce the tiny bucket table to ~1 task and serialize the
    * expansion). Buckets whose INDEX membership exceeds
    * `maxTokenGroup` contribute no pairs (the skew valve). */
  private def taggedTokenPairs(probe: DataFrame, index: DataFrame,
      maxTokenGroup: Int): DataFrame = {
    val spark = probe.sparkSession
    import spark.implicits._
    // A probe-key semi-join pruning the index explosion was tried and
    // MEASURED SLOWER at sf0.1 (min-of-3: 3.1 vs 3.9 s) — the rarity-
    // ordered prefixes collectively touch most of the distinct shingle
    // mass on a small-vocabulary corpus, so the two extra shuffles buy
    // no pruning; grouping the full index explosion directly wins.
    // Revisit on a corpus whose prefix-key set is genuinely sparse.
    val tagged = index.select(col("g").as("key"),
        col("id").cast("long"), lit(0).as("side"))
      .unionAll(probe.select(col("key"),
        col("id").cast("long"), lit(1).as("side")))
    tagged.groupBy(col("key"))
      .agg(collect_set(struct(col("side"), col("id"))).as("rows"))
      .select(col("rows")).as[Array[(Int, Long)]]
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .mapPartitions { buckets =>
        buckets.flatMap { rows =>
          val idx = rows.collect { case (0, id) => id }
          val prb = rows.collect { case (1, id) => id }
          if (prb.isEmpty || idx.isEmpty || idx.length > maxTokenGroup)
            Iterator.empty
          else for {
            a <- prb.iterator
            b <- idx
            if a != b
          } yield (a, b)
        }
      }.toDF("id_a", "id_b").distinct()
  }

  /** Exact containment confirmation over candidate pairs — the
    * melt-join-regroup shape of [[NearDup.confirmJaccard]] (pairs side
    * broadcast by AQE, corpus scanned once, never per role), scoring
    * C(A→B) = |hs_a ∩ hs_b| / |hs_a| and keeping ≥ t. The THRESHOLD
    * compare is integer-exact (inter·10⁶ ≥ t₆·n_a — no float at the
    * decision boundary); the reported score is the family's 6-dp
    * rounded double. */
  private def confirmContainment(pairsDf: DataFrame, shingles: DataFrame,
      t6: Long): DataFrame = {
    val pairStruct = struct(col("id_a"), col("id_b")).as("pair")
    val melted = pairsDf
      .select(col("id_a").as("id"), pairStruct, lit("a").as("role"))
      .unionAll(pairsDf.select(col("id_b").as("id"), pairStruct,
        lit("b").as("role")))
    val inter = size(array_intersect(col("hs_a"), col("hs_b"))).cast("long")
    val na = size(col("hs_a")).cast("long")
    melted.join(shingles, "id")
      .groupBy(col("pair"))
      .agg(
        first(when(col("role") === "a", col("hs")), ignoreNulls = true)
          .as("hs_a"),
        first(when(col("role") === "b", col("hs")), ignoreNulls = true)
          .as("hs_b"))
      .filter(na > 0 && inter * lit(1000000L) >= lit(t6) * na)
      .select(col("pair.id_a").as("id_a"), col("pair.id_b").as("id_b"),
        round(inter.cast("double") / na, 6).as("containment"))
  }
}
