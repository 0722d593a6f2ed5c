package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact two-sample Kolmogorov–Smirnov drift — per group, the KS
  * distance between the group's value distribution and the REST of the
  * corpus: D = sup_v |F_g(v) − F_rest(v)|. The drift family's
  * distribution-level member next to PSI buckets (L43 Drift) and
  * per-source KL token divergence (L78): PSI needs a bucketing choice
  * and KL a smoothing constant; KS is parameter-free and exact, the
  * standard "did this source's length/score distribution move?"
  * monitoring cut.
  *
  * Exact-integer contract: with group size n1 and rest size n2, D =
  * max_v |cA(v)·n2 − cB(v)·n1| / (n1·n2); the numerator is exact
  * BIGINT (the a13/a15 moment discipline) and only the final ratio is
  * one IEEE double division both engines perform identically.
  * Precondition: n1·n2 and the cross products stay under 2⁶³ — holds
  * to ~3·10⁹ rows per side; beyond that the ratio form needs DECIMAL.
  *
  * Scale shape — the two ways this does NOT compute:
  *  - No group×value GRID. The textbook SQL form cross-joins groups
  *    with the distinct-value domain (|S|·|V| rows — the DuckDB oracle
  *    does exactly that, at oracle scale). The engine instead evaluates
  *    the sup only at each group's OWN jump points: between consecutive
  *    group values cA is constant and cumAll is monotone, so the
  *    interval max sits at one of the two cumAll endpoints — term1 (at
  *    v_i), term2 (just before v_{i+1}, via lead), term0 (before v_1).
  *    Rows processed = Σ_g |distinct values of g| ≤ distinct (group,
  *    value) pairs — corpus-bounded, grid-free.
  *  - No single-task global window. The corpus CDF (cumAll) is a
  *    partition-offset prefix sum over the distinct-value table:
  *    range-partition by value, per-partition local cumsum (windows
  *    PARTITIONED by partition id — parallel), per-partition totals
  *    collected (one row per partition — the bounded-collect class) and
  *    broadcast back as offsets. The per-group windows ride each
  *    group's distinct-value rows (value-domain-bounded, and the hot
  *    side of the corpus is the REST, which never enters a window).
  *
  * Everything else is key-partitioned groupBy/join on (value) or
  * (group); nothing shuffles raw rows after the first per-(group,
  * value) count, which partial-aggregates map-side. */
object KsDrift {

  /** Corpus-wide running sum over the distinct-value table `perVal(v,
    * c_all)` without a global single-partition window: range-partition
    * on v, window per partition id, driver-side offset fold (one row
    * per partition). Returns lazy (v, c_all, cum_all) DEPENDING on a
    * checkpoint appended to `chain` — the checkpoint is load-bearing
    * for cross-action consistency (the offset collect and the final
    * query are separate actions; an un-pinned repartitionByRange could
    * re-sample different boundaries between them) and the caller
    * releases it only after materializing everything built on top.
    *
    * Also returns nTotal = Σ c_all: the per-partition totals collected
    * for the offset fold already carry the corpus count, so the caller
    * no longer pays a separate aggregate-and-head job to learn it
    * (r17 optimization — one fewer Spark job per perGroup call). */
  private[graft] def cumulativeByValue(perVal: DataFrame,
      partitions: Int,
      chain: scala.collection.mutable.ArrayBuffer[DataFrame])
      : (DataFrame, Long) = {
    val spark = perVal.sparkSession
    val local = perVal.repartitionByRange(partitions, col("v"))
      .withColumn("pid", spark_partition_id())
    val wLocal = Window.partitionBy(col("pid")).orderBy(col("v"))
    val cached = local
      .withColumn("cum_local", sum(col("c_all")).over(wLocal))
      .localCheckpoint(false)
    chain += cached
    // one row per partition — bounded driver traffic
    val totals = cached.groupBy(col("pid"))
      .agg(sum(col("c_all")).as("tot"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = totals.scanLeft((Int.MinValue, 0L)) {
      case ((_, acc), (pid, tot)) => (pid, acc + tot)
    }.sliding(2).collect { case Array((_, off), (pid, _)) => (pid, off)
    }.toSeq
    import spark.implicits._
    val offDf = offsets.toDF("pid", "off")
    val cum = cached
      .join(broadcast(offDf), Seq("pid"))
      .select(col("v"), col("c_all"),
        (col("cum_local") + col("off")).as("cum_all"))
    (cum, totals.map(_._2).sum)
  }

  /** Per-group exact KS vs rest-of-corpus: (g, n1, n2, ks_num, ks)
    * where ks = ks_num / (n1·n2) ∈ [0, 1]. Null groups/values drop
    * (the battery's hygiene contract). Requires ≥2 groups for the
    * rest-side to be nonempty (a lone group scores ks_num 0 and
    * ks 0.0 — the division is guarded, never 0/0).
    *
    * Size dispatch (r18, the Clusters/KMeansLloyd discipline): the
    * corpus-sized work is exactly ONE aggregation — the distinct
    * (g, v, c_s) table; every later stage (corpus CDF, per-group
    * windows, joins) is fixed cost over that table. For a string group
    * column, the pair table is aggregated once (persisted) and counted;
    * when the distinct pairs fit [[LocalDispatch.fitsPairs]] the
    * identical jump-point arithmetic runs as a driver kernel
    * ([[localPerGroup]]), above it the distributed cascade runs from
    * the same shared pair table (deriving perVal from it — one corpus
    * scan instead of the pre-r18 two). Non-string group columns keep
    * the classic path. */
  def perGroup(df: DataFrame, groupCol: String, valueCol: String,
      cdfPartitions: Int = 32): DataFrame = {
    val d = normalized(df, groupCol, valueCol)
    if (d.schema("g").dataType == org.apache.spark.sql.types.StringType) {
      val pairs = d.groupBy(col("g"), col("v"))
        .agg(count(lit(1)).as("c_s")).persist()
      try {
        // fills the cache both branches read; sizes the dispatch
        val nPairs = pairs.count()
        if (LocalDispatch.fitsPairs(nPairs)) localPerGroup(pairs)
        else materialize(buildFromPairs(pairs, cdfPartitions))
      } finally pairs.unpersist(blocking = false)
    } else materialize(
      buildUncheckpointed(df, groupCol, valueCol, cdfPartitions))
  }

  /** Materialize the distributed build: checkpoint the output, run the
    * ONE job that computes the lazy chain, and release the chain. */
  private def materialize(built: (DataFrame, Seq[DataFrame])): DataFrame = {
    val (out, chain) = built
    val result = out.localCheckpoint(false)
    result.count() // ONE job materializes the lazy chain
    chain.foreach(Checkpoints.release)
    result
  }

  private def normalized(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame =
    df.select(col(groupCol).as("g"),
        col(valueCol).cast("long").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)

  /** Driver kernel of [[perGroup]] — the identical exact-integer KS over
    * the collected (g, v, c_s) pair table: same corpus CDF at each
    * distinct value, same three interval-endpoint terms (t1 at the jump,
    * t2 just before the group's next jump via the group-local successor,
    * t0 before the first jump), same `ks_num.toDouble / (n1·n2).toDouble`
    * IEEE division and lone-group guard — local ≡ distributed digit for
    * digit (KsDriftSpec runs every test on both paths). Collected rows
    * are bounded by [[LocalDispatch.fitsPairs]]. */
  private def localPerGroup(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val rows = pairs.as[(String, Long, Long)].collect()
    val cAll = new java.util.HashMap[Long, Long]()
    rows.foreach { case (_, v, c) => cAll.merge(v, c, _ + _) }
    val vs = new Array[Long](cAll.size())
    var vi = 0
    val vIt = cAll.keySet().iterator()
    while (vIt.hasNext) { vs(vi) = vIt.next(); vi += 1 }
    java.util.Arrays.sort(vs)
    val cumAll = new java.util.HashMap[Long, Long]()
    var running = 0L
    vs.foreach { v => running += cAll.get(v); cumAll.put(v, running) }
    val nTotal = running
    val out = rows.groupBy(_._1).iterator.map { case (g, rs) =>
      val sorted = rs.sortBy(_._2)
      var n1 = 0L
      sorted.foreach(r => n1 += r._3)
      val n2 = nTotal - n1
      var ca = 0L
      var ksNum = 0L
      var i = 0
      while (i < sorted.length) {
        val v = sorted(i)._2
        ca += sorted(i)._3
        val cum = cumAll.get(v)
        val t1 = math.abs(ca * n2 - (cum - ca) * n1)
        val cumBeforeNext =
          if (i + 1 < sorted.length) {
            val vn = sorted(i + 1)._2
            cumAll.get(vn) - cAll.get(vn)
          } else nTotal
        val t2 = math.abs(ca * n2 - (cumBeforeNext - ca) * n1)
        val t0 = if (i == 0) (cum - cAll.get(v)) * n1 else 0L
        val m = math.max(t1, math.max(t2, t0))
        if (m > ksNum) ksNum = m
        i += 1
      }
      val ks = if (nTotal == n1) 0.0
        else ksNum.toDouble / (n1 * n2).toDouble
      (g, n1, n2, ksNum, ks)
    }.toSeq
    out.toDF("g", "n1", "n2", "ks_num", "ks")
  }

  /** The full lazy plan plus its live checkpoint chain — exposed so
    * PlanAuditSpec can pin the PRE-checkpoint shape (the
    * fitUncheckpointed lesson); callers must release the chain after
    * materializing. */
  private[graft] def buildUncheckpointed(df: DataFrame, groupCol: String,
      valueCol: String, cdfPartitions: Int)
      : (DataFrame, Seq[DataFrame]) = {
    val d = normalized(df, groupCol, valueCol)
    buildFromPairs(d.groupBy(col("g"), col("v"))
      .agg(count(lit(1)).as("c_s")), cdfPartitions)
  }

  /** The distributed cascade over the distinct (g, v, c_s) pair table.
    * perVal is DERIVED from the pairs (c_all(v) = Σ_g c_s — identical
    * counts; r18: one corpus scan instead of two when the caller shares
    * a persisted pair table between the size probe and this build). */
  private def buildFromPairs(perGroupVal: DataFrame, cdfPartitions: Int)
      : (DataFrame, Seq[DataFrame]) = {
    val chain = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val perVal = perGroupVal.groupBy(col("v"))
      .agg(sum(col("c_s")).as("c_all"))
    // nTotal rides out of the offset collect — the old separate
    // agg-and-head job re-scanned cumAll for a scalar the partition
    // totals already summed to (r17; the checkpoint now materializes
    // inside the caller's single result job instead)
    val (cumAll0, nTotal) = cumulativeByValue(perVal, cdfPartitions, chain)
    val cumAll = cumAll0.localCheckpoint(false)
    chain += cumAll
    val w = Window.partitionBy(col("g")).orderBy(col("v"))
    val terms = perGroupVal
      .join(cumAll, Seq("v"))
      .withColumn("ca", sum(col("c_s")).over(w))
      // cumAll just BEFORE the next group jump: cum_all(v_next) −
      // c_all(v_next); beyond the last jump the interval max is 0 by
      // n1+n2 cancellation, folded in via the nTotal sentinel
      .withColumn("cum_before_next",
        coalesce(lead(col("cum_all") - col("c_all"), 1).over(w),
          lit(nTotal)))
      .withColumn("rn", row_number().over(w))
    val n1s = perGroupVal.groupBy(col("g")).agg(sum(col("c_s")).as("n1"))
    def dev(cum: Column): Column = {
      val n1 = col("n1"); val n2 = lit(nTotal) - col("n1")
      abs(col("ca") * n2 - (cum - col("ca")) * n1)
    }
    val out = terms
      .join(broadcast(n1s), Seq("g"))
      .withColumn("t1", dev(col("cum_all")))
      .withColumn("t2", dev(col("cum_before_next")))
      // the open interval BEFORE the group's first jump: cA = 0, the
      // deviation grows with cumAll, so only the right endpoint matters
      .withColumn("t0", when(col("rn") === 1,
        (col("cum_all") - col("c_all")) * col("n1")).otherwise(lit(0L)))
      .groupBy(col("g"), col("n1"))
      .agg(max(greatest(col("t1"), col("t2"), col("t0"))).as("ks_num"))
      .select(col("g"), col("n1"), (lit(nTotal) - col("n1")).as("n2"),
        col("ks_num"),
        // a lone group has n2 = 0: its CDF is compared against itself,
        // sup deviation 0 by definition — guard the division or 0/0
        // yields NaN (ADVICE r10)
        when(lit(nTotal) === col("n1"), lit(0.0))
          .otherwise(col("ks_num").cast("double") /
            (col("n1") * (lit(nTotal) - col("n1"))).cast("double"))
          .as("ks"))
    (out, chain.toSeq)
  }

  /** The oracle's grid form (oracle scale only): groups × distinct
    * values, cumulative counts by two windows, the same exact-integer
    * numerator and one double division. Caller supplies `d(g, v)`. */
  private[graft] def oracleSql: String =
    """vals AS MATERIALIZED (SELECT v, COUNT(*) AS c_all FROM d GROUP BY v),
       srcs AS MATERIALIZED (SELECT g, COUNT(*) AS n1 FROM d GROUP BY g),
       tot AS MATERIALIZED (SELECT COUNT(*) AS n FROM d),
       sv AS MATERIALIZED (SELECT g, v, COUNT(*) AS c_s FROM d GROUP BY g, v),
       grid AS MATERIALIZED (
         SELECT s.g, s.n1, x.v, x.c_all, COALESCE(sv.c_s, 0) AS c_s
         FROM srcs s CROSS JOIN vals x
         LEFT JOIN sv ON sv.g = s.g AND sv.v = x.v),
       cum AS MATERIALIZED (
         SELECT g, n1, v,
           SUM(c_s) OVER (PARTITION BY g ORDER BY v) AS ca,
           SUM(c_all) OVER (PARTITION BY g ORDER BY v) AS call
         FROM grid)
       SELECT c.g, c.n1, t.n - c.n1 AS n2,
         CAST(MAX(ABS(c.ca * (t.n - c.n1) - (c.call - c.ca) * c.n1))
              AS BIGINT) AS ks_num,
         CASE WHEN t.n = c.n1 THEN 0.0
              ELSE CAST(MAX(ABS(c.ca * (t.n - c.n1) - (c.call - c.ca) * c.n1))
                   AS DOUBLE) / (c.n1 * (t.n - c.n1)) END AS ks
       FROM cum c CROSS JOIN tot t
       GROUP BY c.g, c.n1, t.n
       ORDER BY c.g"""
}
