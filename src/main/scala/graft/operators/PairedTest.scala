package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Paired / blocked rank tests (r17, L199/L200; Wilcoxon 1945,
  * Biometrics 1; Friedman 1937, JASA 32) — the PAIRED members the
  * comparison panel lacked: [[RankTest.mannWhitney]] and friends all
  * compare INDEPENDENT cohorts, but the sharpest questions in a
  * pipeline are paired ("did THIS user's spend move between their
  * first and last purchase", "do the k event types rank consistently
  * WITHIN each user") — pairing removes the between-unit variance
  * that drowns an unpaired test, and the binary member of the family
  * (McNemar, L170) already ships.
  *
  * Both statistics are exact-integer cascades on DOUBLED midranks
  * (the [[RankTest.kruskalWallis]] construction — doubling keeps
  * every tied midrank integral and the 2s cancel in the statistic):
  *
  * [[wilcoxonSignedRank]] — zero differences DROP (the classic
  * Wilcoxon convention; their count rides along as `n_zero`), |d| is
  * midranked over the per-panel magnitude grid, and with
  * W2+ = Σ_{d>0} r2(|d|), Δ2 = W2+ − n(n+1)/2, T = Σ(t³−t):
  *   z² = Δ²/Var = 12·Δ2² / (2n(n+1)(2n+1) − T)
  * ONE [[Exact.dfloor]]: z2_e6 = ⌊12·10⁶·Δ2²/(2n(n+1)(2n+1) − T)⌋
  * (the quotient is 10⁶·z² ≤ ~3·10⁶·n — but Δ2² ≤ n⁴ passes Long at
  * n ~ 5·10⁴, so the floor must be decimal from day one; the JT
  * class). All-tied |d| never zeroes the denominator
  * (2n(n+1)(2n+1) − (n³−n) = 3n(n+1)² > 0); n = 0 after the zero
  * drop ⇒ NULL statistics. d_sign = sign(Δ2) (+1 = the positive
  * differences carry the rank mass); p_e6 through
  * [[PValue.normTail2E6]] (z ~ N(0,1) under H₀), sig vs χ²₁.
  * Capacity: 12·10⁶·n⁴ < 10³⁸ ⇒ n ≤ ~10⁷ pairs/panel (subsample
  * beyond; the verdict is long decided).
  *
  * [[friedman]] — duplicate (block, treatment) observations are
  * SUMMED into one cell first (the documented convention — Friedman
  * is defined on one value per cell), blocks missing any of the
  * panel's k treatments DROP (complete-block design, `n_blocks`
  * counts survivors), values are midranked WITHIN each block
  * (doubled), and with R2_j = Σ_blocks r2_ij, A2 = Σ_ij r2_ij²,
  * C2 = n·k·(k+1)², S2 = Σ_j (R2_j − n(k+1))²:
  *   Q = (k−1)·S2 / (A2 − C2)
  * (Conover's tie-general form; with no ties it reduces to the
  * textbook 12/(nk(k+1))·ΣR² − 3n(k+1) — proved in spec). ONE
  * [[Exact.dfloor]]: q_e6 = ⌊10⁶·(k−1)·S2/(A2 − C2)⌋. A2 = C2
  * (every block fully tied) ⇒ NULL; k < 2 ⇒ NULL. Q ~ χ²_{k−1}
  * under H₀: sig vs [[RankTest.Chi2Crit95E6ByDf]], df > 8 ⇒ NULL
  * verdict (the table's documented edge). Capacity: S2 ≤ k³·n²
  * keeps 10⁶·k⁴·n² < 10³⁸ for any realistic (n, k); the quotient
  * ≤ 10⁶·n·(k−1) fits LONG to n ~ 10¹²/k.
  *
  * Scale shape: signed-rank collapses the corpus map-side to the
  * (panel, |d|) magnitude grid — the window and everything after
  * are grid-sized. Friedman's within-block midranks ride a window
  * over (panel, block, value) cells — blocks are k-bounded so each
  * partition is tiny and the state is (cells)-sized; the treatment
  * sums and the final panel row are grid aggregations. */
object PairedTest {

  /** Signed-rank over (panelCol, dCol) differences: emits (panelCol,
    * n, n_zero, w2_plus, z2_e6, d_sign, p_e6, sig). */
  def wilcoxonSignedRank(df: DataFrame, panelCol: String,
      dCol: String): DataFrame = {
    Reserved.guard(Seq(panelCol),
      Seq("__d", "__a", "__t", "__tp", "__below", "__r2", "__zero",
        "n", "n_zero", "w2_plus", "z2_e6", "d_sign", "p_e6", "sig"),
      "PairedTest")
    val d38 = "decimal(38,0)"
    val base = df
      .filter(col(panelCol).isNotNull && col(dCol).isNotNull)
      .select(col(panelCol), col(dCol).cast("long").as("__d"))
    val zeros = base.groupBy(col(panelCol))
      .agg(sum(when(col("__d") === 0L, 1L).otherwise(0L)).as("n_zero"))
    val grid = base.filter(col("__d") =!= 0L)
      .groupBy(col(panelCol), abs(col("__d")).as("__a"))
      .agg(count(lit(1)).as("__t"),
        sum(when(col("__d") > 0L, 1L).otherwise(0L)).as("__tp"))
    val w = Window.partitionBy(col(panelCol)).orderBy(col("__a"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val agg = grid
      .withColumn("__below", coalesce(sum(col("__t")).over(w), lit(0L)))
      .groupBy(col(panelCol))
      .agg(sum(col("__t")).as("n"),
        sum(col("__tp") * (lit(2L) * col("__below") + col("__t")
          + lit(1L))).as("__r2"),
        sum(col("__t") * col("__t") * col("__t") - col("__t"))
          .as("__tie"))
    val nn = col("n").cast(d38)
    val delta2 = col("__r2").cast(d38) -
      Exact.dfloor(nn * (nn + lit(1L).cast(d38)), lit(2L).cast(d38))
    val denom = lit(2L).cast(d38) * nn * (nn + lit(1L).cast(d38)) *
      (lit(2L).cast(d38) * nn + lit(1L).cast(d38)) -
      col("__tie").cast(d38)
    val z2 = Exact.dfloor(lit(12000000L).cast(d38) * delta2 * delta2,
      denom)
    zeros.join(agg, Seq(panelCol), "left")
      .select(col(panelCol),
        coalesce(col("n"), lit(0L)).as("n"), col("n_zero"),
        col("__r2").as("w2_plus"),
        when(col("n").isNull || col("n") === 0L,
          lit(null).cast("long"))
          .otherwise(z2.cast("long")).as("z2_e6"),
        when(col("n").isNull, lit(null).cast("long"))
          .otherwise(signum(delta2).cast("long")).as("d_sign"))
      .withColumn("p_e6", PValue.normTail2E6(col("z2_e6")))
      .withColumn("sig",
        (col("z2_e6").isNotNull &&
          col("z2_e6") >= Funnel.Chi2Crit95E6).cast("long"))
  }

  /** Friedman over (panelCol, blockCol, treatCol, valueCol): emits
    * (panelCol, n_blocks, k, q_e6, sig). */
  def friedman(df: DataFrame, panelCol: String, blockCol: String,
      treatCol: String, valueCol: String): DataFrame = {
    Reserved.guard(Seq(panelCol),
      Seq("__b", "__c", "__v", "__t", "__below", "__r2", "__k",
        "__kb", "__a2", "__s2", "n_blocks", "k", "q_e6", "sig"),
      "PairedTest")
    val d38 = "decimal(38,0)"
    // one value per cell: duplicates SUM (documented convention).
    // The corpus-sized aggregation keeps its map-side partial + own
    // exchange (guide §2.3 — aggregate before you shuffle). `cells` is
    // then referenced by FOUR downstream consumers (panel-k, block-k,
    // the complete-block join, the ranked join), and without
    // materialization the plan DUPLICATES the corpus scan+aggregation
    // per consumer (36 parquet scans in q_a37's pre-r18 plan). One
    // cells-sized repartition establishes the (panel, block)
    // partitioning the grid aggregation, the midrank window and both
    // joins all ride (guide §2.4), and the lazy localCheckpoint
    // materializes the subtree ONCE (the Clusters discipline). Measured
    // A/B at sf0.1, alternated in one session, min-of-3: plain 1.20 s /
    // repart-only 1.29 / ckpt-only 1.08 / ckpt+repart 1.04. Blocks are
    // high-cardinality (users), so the partitioning spreads at scale.
    val cells = df
      .filter(col(panelCol).isNotNull && col(blockCol).isNotNull &&
        col(treatCol).isNotNull && col(valueCol).isNotNull)
      .select(col(panelCol), col(blockCol).cast("string").as("__b"),
        col(treatCol).cast("string").as("__c"),
        col(valueCol).cast("long").as("__v"))
      .groupBy(col(panelCol), col("__b"), col("__c"))
      .agg(sum(col("__v")).as("__v"))
      .repartition(col(panelCol), col("__b"))
      .localCheckpoint(false)
    // panel-wide treatment count k, then complete blocks only
    val kPanel = cells.select(col(panelCol), col("__c")).distinct()
      .groupBy(col(panelCol)).agg(count(lit(1)).as("__k"))
    val kBlock = cells.groupBy(col(panelCol), col("__b"))
      .agg(count(lit(1)).as("__kb"))
    val complete = cells
      .join(kBlock, Seq(panelCol, "__b"))
      .join(kPanel, Seq(panelCol))
      .filter(col("__kb") === col("__k"))
    // doubled midranks WITHIN each block over its value grid
    val vg = complete.groupBy(col(panelCol), col("__b"), col("__v"))
      .agg(count(lit(1)).as("__t"))
    val w = Window.partitionBy(col(panelCol), col("__b"))
      .orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val vgb = vg.withColumn("__below",
      coalesce(sum(col("__t")).over(w), lit(0L)))
    val ranked = complete.join(vgb, Seq(panelCol, "__b", "__v"))
      .select(col(panelCol), col("__b"), col("__c"), col("__k"),
        (lit(2L) * col("__below") + col("__t") + lit(1L)).as("__r2"))
    val perTreat = ranked.groupBy(col(panelCol), col("__c"))
      .agg(max(col("__k")).as("__k"),
        count(lit(1)).as("n_blocks"),
        sum(col("__r2")).as("__rsum"),
        sum(col("__r2").cast(d38) * col("__r2").cast(d38)).as("__a2c"))
    val nk1 = col("n_blocks").cast(d38) *
      (col("__k") + 1L).cast(d38)
    val panel = perTreat.groupBy(col(panelCol))
      .agg(max(col("__k")).as("k"), max(col("n_blocks")).as("n_blocks"),
        sum(col("__a2c")).as("__a2"),
        sum((col("__rsum").cast(d38) - nk1) *
          (col("__rsum").cast(d38) - nk1)).as("__s2"))
    val c2 = col("n_blocks").cast(d38) * col("k").cast(d38) *
      (col("k") + 1L).cast(d38) * (col("k") + 1L).cast(d38)
    val q = Exact.dfloor(lit(1000000L).cast(d38) *
      (col("k") - 1L).cast(d38) * col("__s2"), col("__a2") - c2)
    panel
      .withColumn("q_e6",
        when(col("k") < 2L || col("__a2") === c2,
          lit(null).cast("long"))
          .otherwise(q.cast("long")))
      .withColumn("sig",
        when(col("q_e6").isNull, lit(0L))
          .when(col("k") - 1L > 8L, lit(null).cast("long"))
          .otherwise((col("q_e6") >=
            element_at(typedlit(RankTest.Chi2Crit95E6ByDf),
              (col("k") - 1L).cast("int"))).cast("long")))
      .select(col(panelCol), col("n_blocks"), col("k"), col("q_e6"),
        col("sig"))
  }
}
