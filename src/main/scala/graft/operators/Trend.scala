package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Volume-trend detection — per group, the OLS slope of the daily
  * record count over the day index: the ingestion-health monitor next
  * to [[Drift]] (is this source ramping, steady, or silently dying?).
  * The reference's volumetry queries count records per window
  * (`README.md:211-218`'s verification surface); this is the TREND of
  * that count, the number an on-call reads before the count hits zero.
  *
  * Exactness (the q_a13 moment discipline): the series is (x = day
  * index, y = that day's count) — integers by construction, no
  * quantization step at all; the five moments (m, Σx, Σy, Σx², Σxy)
  * are exact integral sums widened to DECIMAL(38,0); slope and
  * intercept derive from those identical integers with the SAME op
  * sequence on both engines (one cast-to-double per term, round 6 dp):
  *   slope = (m·Σxy − Σx·Σy) / (m·Σx² − Σx·Σx)
  *   icept = (Σy − slope_unrounded·Σx) / m
  * Day index is a truncation-safe pmod floor of epoch-micros (the
  * q_v7/q_e16 rule — pre-epoch timestamps must not drift a day).
  * Declared semantics: days with ZERO records are absent from the
  * series (a grid-fill would need the observation horizon, a caller
  * fact); groups with a single day emit null slope/intercept (den 0).
  *
  * Scale shape: two map-side-combinable aggregates — corpus → (group,
  * day) counts → per-group moments; nothing after the first aggregate
  * is larger than groups × days, and the output is grid-sized. */
object Trend {

  private val DayUs = 86400000000L

  /** The (group, day-index, count) series shared by both trend
    * statistics; zero-count days absent by declared semantics. */
  private def dailySeries(df: DataFrame, groupCol: String,
      usCol: Column): DataFrame = {
    val us = usCol.cast("long")
    df.filter(col(groupCol).isNotNull && us.isNotNull)
      .select(col(groupCol), (us - pmod(us, lit(DayUs))).as("__d0"))
      .select(col(groupCol), expr(s"__d0 DIV ${DayUs}L").as("x"))
      .groupBy(col(groupCol), col("x"))
      .agg(count(lit(1)).as("y"))
  }

  /** (group, n_days, total, slope6, icept6) from an epoch-MICROS
    * column; null timestamps and null groups drop. */
  def dailyVolumeSlope(df: DataFrame, groupCol: String,
      usCol: Column): DataFrame = {
    // integer DIV, never float division: the exact-multiple dividend
    // sits near 2^51 where a double round-trip is an accident waiting
    val daily = dailySeries(df, groupCol, usCol)
    val m = daily.groupBy(col(groupCol))
      .agg(count(lit(1)).as("m"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"))
    def d(c: Column): Column = c.cast("double")
    val slope = d(col("m") * col("sxy") - col("sx") * col("sy")) /
      d(col("m") * col("sxx") - col("sx") * col("sx"))
    // m = 1 ⟺ zero denominator (one observed day): no trend, null out
    val one = col("m") === 1
    m.select(col(groupCol), col("m").as("n_days"),
      col("sy").cast("long").as("total"),
      when(one, lit(null).cast("double"))
        .otherwise(round(slope, 6)).as("slope6"),
      when(one, lit(null).cast("double"))
        .otherwise(round((d(col("sy")) - slope * d(col("sx"))) /
          d(col("m")), 6)).as("icept6"))
  }

  /** Mann–Kendall monotone-trend test over the same daily series —
    * the SIGNIFICANCE companion to [[dailyVolumeSlope]]'s magnitude
    * (Mann 1945, Kendall 1975): S = Σ_{i<j} sign(y_j − y_i) is
    * distribution-free, outlier-robust (a one-day ingestion spike
    * moves OLS arbitrarily, S by at most n−1) and EXACT-INTEGER end
    * to end, including the tie-adjusted variance in its standard
    * 18-scaled form:
    *   18·Var(S) = n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5).
    * Callers compute Z = (S∓1)/√(Var) driver-side if they want a
    * p-value — the engine output stays hash-exact integers.
    *
    * Scale shape: the pair self-join is quadratic in DAYS PER GROUP,
    * not in rows — a decade-long series is ~3.7k days → ~7M pairs per
    * group, generated by a group-partitioned equi-join over the
    * already-aggregated (group, day, count) table (corpus rows never
    * pair). Both the series and tie aggregates are map-side
    * combinable. */
  def dailyVolumeMannKendall(df: DataFrame, groupCol: String,
      usCol: Column): DataFrame = {
    val daily = dailySeries(df, groupCol, usCol)
    val a = daily.select(col(groupCol), col("x").as("xi"),
      col("y").as("yi"))
    val b = daily.select(col(groupCol), col("x").as("xj"),
      col("y").as("yj"))
    val sgn = when(col("yj") > col("yi"), 1L)
      .when(col("yj") < col("yi"), -1L).otherwise(0L)
    val sStat = a.join(b, Seq(groupCol))
      .filter(col("xi") < col("xj"))
      .groupBy(col(groupCol))
      .agg(sum(sgn).as("s_stat"))
    val ties = daily.groupBy(col(groupCol), col("y"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_check"),
        sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
          .as("tie_sum"))
    daily.groupBy(col(groupCol)).agg(count(lit(1)).as("n_days"))
      .join(ties.drop("n_check"), Seq(groupCol))
      .join(sStat, Seq(groupCol), "left")
      .select(col(groupCol), col("n_days"),
        // a 1-day group has no pairs: absent from sStat, S = 0
        coalesce(col("s_stat"), lit(0L)).as("s_stat"),
        (col("n_days") * (col("n_days") - 1) *
          (lit(2) * col("n_days") + 5) - col("tie_sum")).as("var18"))
  }

  /** Exact windowed EWMA of the daily series — the SMOOTHED member of
    * the volume panel (L80 slope, L89 trend significance, L100
    * pointwise anomaly, this = "what's the current level"): over the
    * trailing `window` OBSERVED days (current inclusive), weights halve
    * going back (newest 2^(k−1) … oldest 2⁰, normalizer 2^k − 1 — the
    * α=1/2 exponential kernel truncated to the window, renormalized so
    * warm-up days are exact too). Everything is integer: the weighted
    * sum folds left-to-right with a doubling power accumulator, and the
    * single division is an exact floor to 1e-6 units. `dev_e6 =
    * y·10⁶ − ewma_e6` is the level-deviation the on-call reads.
    * Same scale shape as the rest of the panel: windows run over the
    * PRE-AGGREGATED (group, day, count) series, never corpus rows. */
  def dailyVolumeEwma(df: DataFrame, groupCol: String,
      usCol: Column, window: Int = 8): DataFrame = {
    require(window >= 1 && window <= 62,
      s"window $window outside [1, 62] (2^k must fit a long)")
    val daily = dailySeries(df, groupCol, usCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("x"))
      .rowsBetween(-(window - 1), 0)
    daily
      .withColumn("__arr", collect_list(col("y")).over(w))
      .withColumn("k", size(col("__arr")))
      .withColumn("__num", expr(
        """aggregate(__arr,
             struct(CAST(0 AS BIGINT) AS s, CAST(1 AS BIGINT) AS p),
             (acc, v) -> struct(acc.s + v * acc.p, acc.p * 2L),
             acc -> acc.s)"""))
      .select(col(groupCol), col("x"), col("y"), col("k"),
        expr("__num * 1000000L DIV (shiftleft(1L, k) - 1L)").as("ewma_e6"))
      .withColumn("dev_e6", col("y") * lit(1000000L) - col("ewma_e6"))
  }

  /** One-sided CUSUM change detection (Page 1954) over the daily
    * series — the SEQUENTIAL member of the volume panel: where L100's
    * Hampel flags single weird days, CUSUM accumulates small persistent
    * upward shifts until they cross a decision threshold. The textbook
    * recurrence `S_t = max(0, S_{t−1} + (y_t − μ − k))` is sequential
    * state no SQL window computes — this operator uses the exact
    * prefix identity instead: with P_t the running sum of deviations,
    * `S_t = P_t − min(0, min_{j≤t} P_j)` — two plain windows, fully
    * replayable. Integer throughout: the baseline mean over the
    * `warmup` first observed days rides as its NUMERATOR (sum), all
    * deviations scale by `warmup`, so `s_w = warmup·S` and the alarm
    * compares s_w > warmup·h exactly. Warm-up rows and groups shorter
    * than `warmup`+1 report NULL (the a17 convention).
    * Scale: windows over the pre-aggregated series, never corpus
    * rows — the volume-panel contract. */
  def dailyVolumeCusum(df: DataFrame, groupCol: String, usCol: Column,
      warmup: Int = 7, slack: Long = 2L, h: Long = 10L): DataFrame = {
    require(warmup >= 1 && warmup <= 1000,
      s"warmup $warmup outside [1, 1000]")
    require(slack >= 0L && h >= 1L, "slack >= 0 and h >= 1 required")
    val daily = dailySeries(df, groupCol, usCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("x"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
    daily
      .withColumn("rn", row_number().over(w))
      .withColumn("base",
        sum(when(col("rn") <= warmup, col("y"))).over(wAll))
      .withColumn("nd", max(col("rn")).over(wAll))
      // deviations only past warm-up, scaled by `warmup` to stay exact
      .withColumn("d", when(col("rn") > warmup && col("nd") > warmup,
        col("y") * warmup - col("base") - lit(slack * warmup)))
      .withColumn("p", sum(col("d")).over(w))
      .withColumn("s_w", when(col("d").isNotNull,
        col("p") - least(min(col("p")).over(w), lit(0L))))
      .select(col(groupCol), col("x"), col("y"), col("s_w"),
        when(col("s_w").isNotNull,
          (col("s_w") > lit(h * warmup)).cast("int")).as("alarm"))
  }

  /** Pointwise volume-anomaly detection by trailing-window
    * median-absolute-deviation (the Hampel identifier — Hampel 1974,
    * JASA 69; Davies & Gather 1993): flag day d when its count
    * deviates from the trailing `window` days' median by more than
    * (kMilli/1000)·MAD. The POINTWISE member of the volume panel:
    * [[dailyVolumeSlope]] answers "is this source ramping or dying"
    * and [[dailyVolumeMannKendall]] "is the trend significant" —
    * this one answers "was TUESDAY weird", and median/MAD make it
    * robust to the very spikes it hunts (one earlier spike inside the
    * window moves a mean/σ detector arbitrarily, the median by one
    * rank; the classic masking failure, spec-pinned).
    *
    * Exactness: counts are integers; the lower-median convention makes
    * med and MAD integers (window elements are BIGINTs; for odd
    * `window` the middle element, even → the lower of the two); the
    * verdict is the exact integer compare |y − med|·1000 > kMilli·mad.
    * Days with fewer than `window` PRECEDING observed days emit NULL
    * med/mad/anom (warm-up, never a guess); the frame is over OBSERVED
    * days (a source silent for a week contributes no rows — gap
    * semantics documented, a dense-calendar variant would join a
    * generated day spine first).
    *
    * Scale: the window runs over the PRE-AGGREGATED (group, day,
    * count) series — group-partitioned, series-sized (a decade ≈ 3.7k
    * rows per group), never corpus rows; the per-row sort/transform
    * touches `window`-length arrays (plan-time constant). Output:
    * (group, x, y, med, mad, anom). */
  def dailyVolumeMadAnomaly(df: DataFrame, groupCol: String,
      usCol: Column, window: Int = 7, kMilli: Int = 3000): DataFrame = {
    require(window >= 2 && window <= 1000,
      s"window $window outside [2, 1000]")
    require(kMilli >= 1, s"kMilli $kMilli must be >= 1")
    val lowerMedIdx = (window + 1) / 2 // 1-based, lower median
    val daily = dailySeries(df, groupCol, usCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("x"))
      .rowsBetween(-window, -1)
    val withArr = daily
      .withColumn("__arr", sort_array(collect_list(col("y")).over(w)))
      .withColumn("med", when(size(col("__arr")) === window,
        element_at(col("__arr"), lowerMedIdx)))
      .withColumn("mad", when(col("med").isNotNull,
        element_at(
          sort_array(transform(col("__arr"), v => abs(v - col("med")))),
          lowerMedIdx)))
    withArr.select(col(groupCol), col("x"), col("y"), col("med"),
      col("mad"),
      when(col("med").isNotNull,
        (abs(col("y") - col("med")) * 1000 > lit(kMilli.toLong) * col("mad"))
          .cast("int")).as("anom"))
  }

  /** 1-based lower-median index of an n-element sorted array. */
  private def lowerMedIdx(n: Column): Column =
    call_function("div", n + lit(1L), lit(2L)).cast("int")

  /** Single-changepoint detection by binary segmentation over the
    * daily series (r13, L148; Scott & Knott 1974; the one-split core
    * of the binary-segmentation family, Truong et al. 2020 review) —
    * "WHERE did the level shift": [[dailyVolumeCusum]] accumulates
    * evidence THAT a drift happened; this returns the best split
    * point and how much of the series' variance the two-level model
    * explains. The split s maximizes the between-segment sum of
    * squares R(s) = (ΣL)²/n_L + (ΣR)²/n_R − (Σy)²/n.
    *
    * Integer-exact (quantize-once): with prefix sums all in LONGs,
    *   R_num(s) = (ΣL)²·n_R·n + (ΣR)²·n_L·n − (Σy)²·n_L·n_R
    * over the common denominator D = n_L·n_R·n; the ONE quantization
    * is `gain_e6 = ⌊10⁶·R_num/D⌋` via [[Exact.dfloor]] (SQL `div`
    * would cast the quotient ≈ 10⁶·n·V² to LONG and wrap past
    * n·V² ≳ 9.2·10¹² — a 10⁹-rows/day stream crosses it and the
    * ARGMAX ordering corrupts; r17 sweep). The argmax
    * ranks by (gain_e6 DESC, split_x ASC) — a deterministic integer
    * sort both engines replay — and `explained_ppm =
    * div(10⁶·R_num, n_L·n_R·S_num)` with S_num = n·Σy² − (Σy)² (the
    * total deviance ×n; explained_ppm = 10⁶ exactly iff the two-level
    * model fits perfectly, 0 iff the split explains nothing). Groups
    * with < 2 observed days emit no row (no split exists); S_num = 0
    * (constant series) emits NULL explained_ppm with gain 0.
    *
    * Scale: prefix sums are one per-group sort window over the
    * series-sized daily grid; candidate scoring and the argmax are
    * grid work. Output: (group, n_days, split_x, n_l, n_r, gain_e6,
    * explained_ppm) — split_x is the FIRST day index of the right
    * segment. */
  def changepoint(df: DataFrame, groupCol: String,
      usCol: Column): DataFrame = {
    val daily = dailySeries(df, groupCol, usCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("x"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val tot = daily.groupBy(col(groupCol).as("__tg"))
      .agg(count(lit(1)).as("__n"), sum(col("y")).as("__sy"),
        sum(col("y") * col("y")).as("__syy"))
    val d38 = "decimal(38,0)"
    val cand = daily
      .withColumn("__nl", count(lit(1)).over(w))
      .withColumn("__sl", coalesce(sum(col("y")).over(w), lit(0L)))
      .filter(col("__nl") >= 1L) // a split needs a non-empty left side
      .join(tot, col(groupCol) === col("__tg"))
    val nl = col("__nl").cast(d38)
    val nr = (col("__n") - col("__nl")).cast(d38)
    val n = col("__n").cast(d38)
    val sl = col("__sl").cast(d38)
    val sr = (col("__sy") - col("__sl")).cast(d38)
    val sy = col("__sy").cast(d38)
    val rNum = sl * sl * nr * n + sr * sr * nl * n - sy * sy * nl * nr
    val sNum = n * col("__syy").cast(d38) - sy * sy
    // gain's quotient ≈ 10⁶·n·V² exceeds Long once n·V² ≳ 9.2·10¹²
    // (10⁹-rows/day streams cross it), where the SQL `div` would wrap
    // and corrupt the ARGMAX ordering — the JT div-to-LONG class (r17
    // sweep): rank on the exact decimal floor, emit the LONG cast
    // (representability of gain_e6 itself still needs n·V² ≤ 9.2·10¹²,
    // now stated rather than silently wrapped)
    val scored = cand.select(col(groupCol), col("x").as("split_x"),
      col("__n").as("n_days"), col("__nl").as("n_l"),
      (col("__n") - col("__nl")).as("n_r"),
      Exact.dfloor(rNum * lit(1000000L).cast(d38),
        nl * nr * n).as("__gain"),
      when(sNum === lit(0L).cast(d38), lit(null).cast("long"))
        .otherwise(call_function("div",
          rNum * lit(1000000L).cast(d38), nl * nr * sNum))
        .as("explained_ppm"))
    val best = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("__gain").desc, col("split_x").asc)
    scored
      .withColumn("__rk", row_number().over(best))
      .filter(col("__rk") === 1)
      .select(col(groupCol), col("n_days"), col("split_x"), col("n_l"),
        col("n_r"), col("__gain").cast("long").as("gain_e6"),
        col("explained_ppm"))
  }

  /** Lead–lag cross-correlation between the daily volume series of
    * every ordered group pair (r13, L147) — "which signal LEADS
    * which": corr(a at day x, b at day x+lag) across a bounded lag
    * window, the product-analytics question behind campaign→signup→
    * purchase causality hunches and the ops question behind
    * error-rate→traffic-drop forensics. A positive-corr ridge at
    * lag = +k reads "a leads b by k days".
    *
    * Exactness discipline (the q_a13 grouped-corr convention): the
    * five moments are exact integral sums over the ALIGNED day
    * overlap (both series observed at x and x+lag — per-lag n varies
    * and is emitted), one double correlation at the end, rounded to
    * 6 dp; degenerate cells (n < 2 or either variance 0) emit NULL
    * rather than a NaN. Lags span [−maxLag, +maxLag]; the pair list
    * is ordered and excludes a = b.
    *
    * Scale: the join is (group-pair, day+lag)-keyed over the
    * PRE-AGGREGATED daily grid — |pairs|·|lags|·|days| rows, never
    * corpus rows; moments are one map-side-combinable aggregation. */
  def leadLag(df: DataFrame, groupCol: String, usCol: Column,
      maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1 && maxLag <= 30, s"maxLag $maxLag outside [1, 30]")
    val daily = dailySeries(df, groupCol, usCol)
    val a = daily.select(col(groupCol).as("type_a"), col("x"),
      col("y").as("__ya"))
    val b = daily.select(col(groupCol).as("type_b"), col("x").as("__xb"),
      col("y").as("__yb"))
    val lags = (-maxLag to maxLag).map(_.toLong)
    val joined = a
      .withColumn("lag", explode(array(lags.map(lit): _*)))
      .join(b, col("type_a") =!= col("type_b")
        && col("__xb") === col("x") + col("lag"))
    // Moment products in DECIMAL(38,0) BEFORE the multiply (ADVICE
    // r13): a LONG product would silently wrap above ~3e9 rows/day
    // while the DuckDB oracle raises on BIGINT overflow — a
    // cross-engine divergence. Decimal first removes the bound.
    val ya = col("__ya").cast("decimal(38,0)")
    val yb = col("__yb").cast("decimal(38,0)")
    val m = joined.groupBy(col("type_a"), col("type_b"), col("lag"))
      .agg(count(lit(1)).as("n_days"),
        sum(ya).as("__sa"),
        sum(yb).as("__sb"),
        sum(ya * ya).as("__saa"),
        sum(yb * yb).as("__sbb"),
        sum(ya * yb).as("__sab"))
    def d(c: Column): Column = c.cast("double")
    val vx = col("n_days") * col("__saa") - col("__sa") * col("__sa")
    val vy = col("n_days") * col("__sbb") - col("__sb") * col("__sb")
    val cov = col("n_days") * col("__sab") - col("__sa") * col("__sb")
    m.select(col("type_a"), col("type_b"), col("lag"), col("n_days"),
      when(col("n_days") < 2L || vx === lit(0L).cast("decimal(38,0)")
          || vy === lit(0L).cast("decimal(38,0)"),
        lit(null).cast("double"))
        .otherwise(round(d(cov) / sqrt(d(vx)) / sqrt(d(vy)), 6))
        .as("corr6"))
  }

  /** Theil–Sen robust slope over the daily series (Theil 1950, Sen
    * 1968 JASA — the median of pairwise slopes): completes the trend
    * panel — [[dailyVolumeSlope]] gives the least-squares MAGNITUDE
    * (a single spike drags it arbitrarily), [[dailyVolumeMannKendall]]
    * the SIGNIFICANCE, this the robust magnitude (breakdown point
    * ~29%: up to that fraction of wild days moves the estimate only
    * by ranks).
    *
    * Integer-exact (quantize-once): per day pair i < j the quantized
    * slope is `div(10⁶·(y_j − y_i), x_j − x_i)` — integer truncation
    * toward zero, identical on both engines, the ONE quantization;
    * `slope_e6` is the exact lower-median of those pair slopes, and
    * `icept_e6` the exact lower-median of `10⁶·y − slope_e6·x` (the
    * Theil–Sen intercept convention at the already-chosen slope —
    * derived FROM the quantized slope, never a second float). One
    * observed day ⇒ no pairs ⇒ NULL slope/intercept. Capacity:
    * |slope_e6|·x_max must fit a LONG — with epoch-day x ≈ 2·10⁴ that
    * allows |slope| up to ~4.6·10¹² counts/day, far past any daily
    * volume; 10⁶·y needs y < 9.2·10¹² rows/day. Both documented, not
    * guarded — they sit orders beyond the operator's domain.
    *
    * Scale shape, stated honestly: the pair frame is grid²-sized —
    * the self-join expands the PRE-AGGREGATED daily series (m days ⇒
    * m(m−1)/2 rows per group: a month 435, a decade ≈ 6.8M — series²,
    * never corpus²), then two per-group sort-window rank selects over
    * that frame. The retrospective-audit class, like the exhaustive
    * oracles; for corpus-scale TREND questions the OLS/MK pair
    * remains the streaming-shaped answer. */
  def dailyVolumeTheilSen(df: DataFrame, groupCol: String,
      usCol: Column): DataFrame = {
    val daily = dailySeries(df, groupCol, usCol)
    val a = daily.select(col(groupCol), col("x").as("__x1"),
      col("y").as("__y1"))
    val b = daily.select(col(groupCol).as("__g2"), col("x").as("__x2"),
      col("y").as("__y2"))
    val pairs = a.join(b, col(groupCol) === col("__g2")
        && col("__x1") < col("__x2"))
      .select(col(groupCol), call_function("div",
        lit(1000000L) * (col("__y2") - col("__y1")),
        col("__x2") - col("__x1")).as("__s"))
    val counts = pairs.groupBy(col(groupCol).as("__cg"))
      .agg(count(lit(1)).as("n_pairs"))
    val slope = pairs
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(groupCol)).orderBy(col("__s"))).cast("long"))
      .join(counts, col(groupCol) === col("__cg")
        && col("__rn") === call_function("div", col("n_pairs") + 1L,
          lit(2L)))
      .select(col(groupCol).as("__sg"), col("n_pairs"),
        col("__s").as("slope_e6"))
    val withSlope = daily
      .join(slope, col(groupCol) === col("__sg"), "left")
      .withColumn("__r",
        lit(1000000L) * col("y") - col("slope_e6") * col("x"))
    val nDays = daily.groupBy(col(groupCol).as("__ng"))
      .agg(count(lit(1)).as("n_days"))
    val icept = withSlope.filter(col("slope_e6").isNotNull)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(groupCol)).orderBy(col("__r"))).cast("long"))
      .join(nDays, col(groupCol) === col("__ng")
        && col("__rn") === call_function("div", col("n_days") + 1L,
          lit(2L)))
      .select(col(groupCol).as("__ig"), col("__r").as("icept_e6"))
    nDays.select(col("__ng").as(groupCol), col("n_days"))
      .join(slope.select(col("__sg"), col("n_pairs"),
        col("slope_e6")), col(groupCol) === col("__sg"), "left")
      .join(icept, col(groupCol) === col("__ig"), "left")
      .select(col(groupCol), col("n_days"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        col("slope_e6"), col("icept_e6"))
  }

  /** Weekday-profile seasonal adjustment + residual Hampel screen
    * (r13, L143): remove each group's period-7 volume rhythm before
    * anomaly-hunting — the screen [[dailyVolumeMadAnomaly]] cannot be:
    * that operator's trailing window is BLIND to weekly rhythm, so a
    * legitimately-quiet Sunday flags every single week. Here the
    * per-(group, phase) exact lower-median forms the seasonal profile,
    * residual r = y − med_phase, and the Hampel identifier runs on the
    * WHOLE-series residuals: anom ⇔ |r − med_r|·1000 > kMilli·mad_r
    * (lower-median med_r, lower-median MAD — every statistic an
    * integer, the verdict an exact integer compare). Retrospective
    * audit semantics, deliberately: whole-series medians need the
    * whole series, where the MadAnomaly variant is the
    * trailing/streaming-shaped one — the two are documented
    * complements.
    *
    * Phase convention, documented not guessed: `dow = x mod 7` is a
    * PHASE index (phase 0 = the epoch day-0 phase, a Thursday); the
    * adjustment only needs the period-7 grouping, not weekday names.
    *
    * Exactness/edge: counts and medians are BIGINTs; a phase observed
    * once has med_phase = its own count (residual 0); mad_r = 0
    * degenerates the fence to "any deviation from the median residual
    * flags" — the standard Hampel caveat, shared with the trailing
    * variant. Scale: everything past [[dailySeries]] is series-sized
    * (group × ≤3.7k days/decade) — two grid aggregations with sorted
    * arrays and two grid joins; nothing corpus-shaped. Output:
    * (group, x, y, dow, med_dow, resid, anom). */
  def weekdayAdjustedAnomaly(df: DataFrame, groupCol: String,
      usCol: Column, kMilli: Int = 3000): DataFrame = {
    require(kMilli >= 1, s"kMilli $kMilli must be >= 1")
    val daily = dailySeries(df, groupCol, usCol)
      .withColumn("dow", pmod(col("x"), lit(7L)))
    val prof = daily.groupBy(col(groupCol).as("__pg"),
        col("dow").as("__pd"))
      .agg(sort_array(collect_list(col("y"))).as("__arr"))
      .select(col("__pg"), col("__pd"),
        element_at(col("__arr"), lowerMedIdx(size(col("__arr"))
          .cast("long"))).as("med_dow"))
    val resid = daily
      .join(prof, col(groupCol) === col("__pg")
        && col("dow") === col("__pd"))
      .select(col(groupCol), col("x"), col("y"), col("dow"),
        col("med_dow"), (col("y") - col("med_dow")).as("resid"))
    val stats = resid.groupBy(col(groupCol).as("__sg"))
      .agg(sort_array(collect_list(col("resid"))).as("__rarr"))
      .select(col("__sg"),
        element_at(col("__rarr"), lowerMedIdx(size(col("__rarr"))
          .cast("long"))).as("__medr"), col("__rarr"))
      .select(col("__sg"), col("__medr"),
        element_at(sort_array(transform(col("__rarr"),
          v => abs(v - col("__medr")))),
          lowerMedIdx(size(col("__rarr")).cast("long"))).as("__madr"))
    resid.join(stats, col(groupCol) === col("__sg"))
      .select(col(groupCol), col("x"), col("y"), col("dow"),
        col("med_dow"), col("resid"),
        (abs(col("resid") - col("__medr")) * 1000
          > lit(kMilli.toLong) * col("__madr")).cast("int").as("anom"))
  }

  /** Multi-changepoint RECURSIVE binary segmentation (r14, L150;
    * VERDICT r13 #4 — the multi-split extension of [[changepoint]],
    * the classic greedy scheme of the Truong et al. 2020 review):
    * split the whole series at its best point, then recurse into each
    * half INDEPENDENTLY, `depth` levels deep — up to 2^depth − 1
    * shifts — emitting the SEGMENT TABLE (per group: ordered segments
    * with bounds, day count, volume, level), the piecewise-constant
    * model a capacity planner actually reads.
    *
    * Penalized stop, integer-exact: a segment's best split is ACCEPTED
    * iff its `explained_ppm` — the exact-rational fraction of the
    * SEGMENT's deviance the two-level model explains, quantized once
    * by `div` exactly as in [[changepoint]] — reaches
    * `minExplainedPpm`; a rejected or degenerate (constant, < 2 days)
    * segment becomes a leaf. `depth = 1, minExplainedPpm = 0`
    * recovers [[changepoint]]'s split exactly (spec-pinned). The
    * relative-gain stop needs no logarithm, so the DuckDB oracle
    * replays it exactly (a BIC stop would pin a log table instead —
    * the L93 discipline — traded away here for exactness at equal
    * practical power).
    *
    * Determinism: each level's argmax orders by (gain_e6 DESC, x ASC)
    * — the [[changepoint]] integer sort — and segment ids follow the
    * bit-path convention seg' = 2·seg + (x ≥ split), collision-free
    * because EVERY segment doubles its id each level (a frozen leaf
    * maps to 2·seg). Output hides the internal ids behind `seg_idx` =
    * rank by segment start.
    *
    * Scale: each level is one per-(group, seg) prefix-sum window +
    * one grid aggregation + one grid equi-join over the SERIES-sized
    * daily grid — corpus rows collapse once, before level 1. Levels
    * are eagerly `localCheckpoint`ed (grid-sized frames; `depth` ≤ 3
    * extra jobs) so the plan does not grow 3^depth branches;
    * intermediate levels release their blocks immediately, the final
    * level lives as long as the result ([[Checkpoints]]). Output:
    * (group, seg_idx, seg_lo_x, seg_hi_x, n_days, sum_y,
    * mean_e6 = div(10⁶·sum_y, n_days)). */
  def changepointSegments(df: DataFrame, groupCol: String, usCol: Column,
      depth: Int = 2, minExplainedPpm: Long = 100000): DataFrame = {
    require(depth >= 1 && depth <= 3, s"depth $depth outside [1, 3]")
    require(minExplainedPpm >= 0L && minExplainedPpm <= 1000000L,
      s"minExplainedPpm $minExplainedPpm outside [0, 1e6]")
    Reserved.guard(Seq(groupCol), Seq("seg", "seg_idx", "seg_lo_x",
      "seg_hi_x", "n_days", "sum_y", "mean_e6", "x", "y"),
      "Trend.changepointSegments")
    val d38 = "decimal(38,0)"
    var assign = dailySeries(df, groupCol, usCol)
      .withColumn("seg", lit(0L))
      .localCheckpoint() // corpus collapses to the grid exactly once
    for (_ <- 1 to depth) {
      val tot = assign.groupBy(col(groupCol).as("__tg"),
          col("seg").as("__ts"))
        .agg(count(lit(1)).as("__n"), sum(col("y")).as("__sy"),
          sum(col("y") * col("y")).as("__syy"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(groupCol), col("seg")).orderBy(col("x"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)
      val cand = assign
        .withColumn("__nl", count(lit(1)).over(w))
        .withColumn("__sl", coalesce(sum(col("y")).over(w), lit(0L)))
        .filter(col("__nl") >= 1L)
        .join(tot, col(groupCol) === col("__tg")
          && col("seg") === col("__ts"))
      val nl = col("__nl").cast(d38)
      val nr = (col("__n") - col("__nl")).cast(d38)
      val n = col("__n").cast(d38)
      val sl = col("__sl").cast(d38)
      val sr = (col("__sy") - col("__sl")).cast(d38)
      val sy = col("__sy").cast(d38)
      val rNum = sl * sl * nr * n + sr * sr * nl * n - sy * sy * nl * nr
      val sNum = n * col("__syy").cast(d38) - sy * sy
      val best = org.apache.spark.sql.expressions.Window
        .partitionBy(col(groupCol), col("seg"))
        .orderBy(col("gain_e6").desc, col("x").asc)
      // rank key only (never emitted): exact decimal floor so the
      // argmax cannot wrap at 10⁹-rows/day volumes (the r17 sweep)
      val acc = cand.select(col(groupCol), col("seg"), col("x"),
          Exact.dfloor(rNum * lit(1000000L).cast(d38),
            nl * nr * n).as("gain_e6"),
          when(sNum === lit(0L).cast(d38), lit(null).cast("long"))
            .otherwise(call_function("div",
              rNum * lit(1000000L).cast(d38), nl * nr * sNum))
            .as("explained_ppm"))
        .withColumn("__rk", row_number().over(best))
        .filter(col("__rk") === 1
          && col("explained_ppm") >= minExplainedPpm)
        .select(col(groupCol).as("__ag"), col("seg").as("__as"),
          col("x").as("__split_x"))
      val next = assign
        .join(acc, col(groupCol) === col("__ag")
          && col("seg") === col("__as"), "left")
        .select(col(groupCol), col("x"), col("y"),
          (col("seg") * 2 + when(col("__split_x").isNotNull
            && col("x") >= col("__split_x"), 1L).otherwise(0L)).as("seg"))
        .localCheckpoint()
      Checkpoints.release(assign)
      assign = next
    }
    val segs = assign.groupBy(col(groupCol), col("seg"))
      .agg(min(col("x")).as("seg_lo_x"), max(col("x")).as("seg_hi_x"),
        count(lit(1)).as("n_days"), sum(col("y")).as("sum_y"))
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("seg_lo_x"))
    segs.select(col(groupCol),
      row_number().over(ord).cast("long").as("seg_idx"),
      col("seg_lo_x"), col("seg_hi_x"), col("n_days"), col("sum_y"),
      call_function("div",
        col("sum_y").cast(d38) * lit(1000000L).cast(d38),
        col("n_days").cast(d38)).as("mean_e6"))
  }

  /** Daily-volume overdispersion index (r14, L152) — the Fano factor
    * / variance-to-mean ratio of the per-day count series, the
    * standard "is this stream Poisson-like or bursty" screen (Fano
    * 1947; VMR = 1 for Poisson, > 1 overdispersed/clumped, < 1
    * under-dispersed/regular): the DISTRIBUTIONAL complement of the
    * trend panel — OLS/MK ask "is volume drifting", Burst asks "which
    * minutes spiked", this asks whether day-to-day variation as a
    * whole exceeds what independent arrivals explain.
    *
    * Integer-exact (quantize-once): with S = Σy, Q = Σy² over n days,
    * the population VMR = ((nQ − S²)/n²) / (S/n) = (nQ − S²)/(n·S) —
    * ONE quantization `vmr_e6 = div(10⁶·(nQ − S²), n·S)` in
    * DECIMAL(38,0). Binding term (re-derived, r14 self-review):
    * 10⁶·n·Q ≤ 10⁶·n²·y_max² < 10³⁸ holds for daily volume ≤ 10¹¹
    * over ≤ 10⁴ days (10⁶·10⁸·10²² = 10³⁶) — at 10¹² rows/day it
    * reaches the 10³⁸ lip, so the documented capacity is 10¹¹,
    * orders past the operator's domain, documented not guarded.
    * S = 0 (all-zero days can't occur — a day exists only by having
    * rows) means S ≥ n ≥ 1: the denominator never zeroes; a
    * single-day group emits vmr_e6 = 0 (no variance) with n_days = 1,
    * honest and defined.
    *
    * Scale: one corpus collapse to the daily grid (map-side
    * combinable), one grid aggregation per group. Output: (group,
    * n_days, total, vmr_e6). */
  def dailyVolumeDispersion(df: DataFrame, groupCol: String,
      usCol: Column): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = dailySeries(df, groupCol, usCol)
    val agg = daily.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_days"), sum(col("y")).as("total"),
        // y² in DECIMAL before the multiply (the r13-ADVICE leadLag
        // class): a LONG product would wrap above ~3e9 rows/day
        sum(col("y").cast(d38) * col("y").cast(d38)).as("__q"))
    val n = col("n_days").cast(d38)
    val s = col("total").cast(d38)
    val q = col("__q").cast(d38)
    agg.select(col(groupCol), col("n_days"), col("total"),
      call_function("div",
        (n * q - s * s) * lit(1000000L).cast(d38), n * s).as("vmr_e6"))
  }
}
