package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Quantile normalization (Bolstad et al. 2003, Bioinformatics 19(2))
  * — the distribution-matching feature-prep step: replace each group's
  * value with the POOLED distribution's order statistic at the same
  * quantile, so every group ends up with an identical value
  * distribution (classifier scores from different sources, sensor
  * scales, lab batches). The defining property — equal-size groups map
  * to the IDENTICAL sorted target multiset — is spec-pinned.
  *
  * Exact: the target index is `(r−1)·N DIV n_g + 1` (1-based rank r in
  * the group, group size n_g, pooled size N — pure integer floor
  * arithmetic), and the target VALUE passes through from the input
  * untouched (no interpolation, the discrete form), so both engines
  * emit bit-identical doubles. Rank ties break by the id column —
  * total order, deterministic.
  *
  * Scale shape: the per-group rank is a group-partitioned sort (the
  * honest cost of ranking — group-scale, not corpus-scale, per task);
  * the pooled order statistics come from the shared L87
  * partition-offset prefix sum over DISTINCT values (no single-task
  * global window), checkpointed once; the index→value lookup is L39's
  * bucketized point-in-interval join. One corpus shuffle per stage,
  * nothing collects beyond one scalar and the per-partition offsets. */
object QuantileNormalize {

  /** `(idCol, groupCol, v, target_v)`: each row's value replaced by the
    * pooled order statistic at its within-group quantile. Null ids,
    * groups or values drop (hygiene contract). */
  def toPooled(df: DataFrame, idCol: String, groupCol: String,
      valueCol: String): DataFrame = {
    val e = df
      .filter(col(idCol).isNotNull && col(groupCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(idCol).as("id"), col(groupCol).as("g"),
        col(valueCol).cast("double").as("v"))
    val w = Window.partitionBy(col("g")).orderBy(col("v"), col("id"))
    val ranked = e
      .withColumn("r", row_number().over(w))
      .withColumn("ng",
        count(lit(1)).over(Window.partitionBy(col("g"))))
    val chain = scala.collection.mutable.ArrayBuffer[DataFrame]()
    // the pooled count rides out of the offset collect (r17): max
    // cum_all = Σ c_all, so the old agg-and-collect job is gone
    val (pooled0, n) = KsDrift.cumulativeByValue(
        e.groupBy(col("v")).agg(count(lit(1)).as("c_all")),
        e.sparkSession.sessionState.conf.numShufflePartitions, chain)
    val pooled = pooled0.localCheckpoint(false)
    pooled.count()
    chain.foreach(Checkpoints.release)
    require(n > 0, "quantile normalization over an empty input")
    val targets = pooled.select(col("v").as("target_v"),
      (col("cum_all") - col("c_all") + 1).as("lo"),
      col("cum_all").as("hi"), lit(1).as("__one"))
    val indexed = ranked.select(col("id"), col("g"), col("v"),
      (expr(s"(r - 1) * ${n}L DIV ng") + 1).as("idx"),
      lit(1).as("__one"))
    RangeJoin.pointInInterval(indexed, targets, Seq("__one"),
        "idx", "lo", "hi", bucketWidth = math.max(n / 128, 1L))
      .select(col("id"), col("g"), col("v"), col("target_v"))
  }
}
