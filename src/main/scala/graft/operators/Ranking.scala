package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-free dense ranking within groups — the scalable form of
  * `row_number() OVER (PARTITION BY g ORDER BY k)`. The window form
  * routes EVERY row of a group into one task's sort (the measured
  * ParagraphDedup hot-unit pathology: a hot group serializes, 2.1× at
  * 90% skew and unboundedly worse as the group grows); this operator
  * never sorts more than one range-partition in one task, whatever the
  * group distribution:
  *
  *  1. range-repartition + local sort on (group, key…) — a hot group
  *     SPANS partitions instead of owning one task;
  *  2. freeze the layout with one localCheckpoint (range boundaries
  *     are sampled per-RDD, so two executions of the same plan may
  *     split differently — the checkpoint makes the partition ids and
  *     within-partition sequence ONE consistent assignment for the
  *     offset aggregate and the output);
  *  3. `monotonically_increasing_id` exposes the within-partition
  *     sequence (low 33 bits) — groups are CONTIGUOUS after the local
  *     sort, so `seq − min(seq)` is the within-(partition, group)
  *     index with no second corpus shuffle;
  *  4. one GRID-sized aggregate (partitions × groups rows) prefix-sums
  *     per group across ascending partition ids (range partition i
  *     holds keys ≤ partition i+1 by contract) — a window over the
  *     GRID, never the corpus — and re-enters as a broadcast join:
  *     r = offset + (seq − min_seq).
  *
  * Total cost: ONE corpus shuffle (the range exchange), one grid
  * aggregate, one broadcast join, narrow math. Deterministic whenever
  * `(keys…)` is unique within its group — ties would land arbitrarily
  * at sampled partition boundaries, so the contract requires a total
  * key (append the row id, as every caller here does). */
object Ranking {

  private val SeqMask = (1L << 33) - 1

  /** Input `df` plus an `out` column: the 0-based dense index of each
    * row within its `groupCol` group under ascending `keys` order.
    * `keys` must totally order each group (unique). Null groups rank
    * within the null group (grouping semantics, not a free pass). */
  def indexWithinGroups(df: DataFrame, groupCol: String,
      keys: Seq[Column], out: String = "r"): DataFrame = {
    require(keys.nonEmpty, "at least one order key")
    require(!df.columns.contains(out),
      s"output column '$out' collides with an input column")
    Seq("__rk_pid", "__rk_seq").foreach(c =>
      require(!df.columns.contains(c), s"input column '$c' is reserved"))
    val sorted = df
      .repartitionByRange((col(groupCol) +: keys).map(_.asc): _*)
      .sortWithinPartitions((col(groupCol) +: keys).map(_.asc): _*)
      .withColumn("__rk_pid", spark_partition_id())
      .withColumn("__rk_seq",
        monotonically_increasing_id().bitwiseAND(lit(SeqMask)))
      .localCheckpoint(false)
    // GRID-sized (partitions × groups): the only window in the operator
    // runs over this frame, never the corpus
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__rk_g"))
      .orderBy(col("__rk_pid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = sorted.groupBy(col("__rk_pid"),
        col(groupCol).as("__rk_g"))
      .agg(min(col("__rk_seq")).as("__m0"), count(lit(1)).as("__c"))
      .select(col("__rk_pid"), col("__rk_g"), col("__m0"),
        coalesce(sum(col("__c")).over(w), lit(0L)).as("__off"))
    val joined = sorted.join(broadcast(offsets),
      sorted("__rk_pid") === offsets("__rk_pid") &&
        sorted(groupCol) <=> offsets("__rk_g"))
    // checkpoint + materialize the RESULT so the sorted input can be
    // released now: a lazy result would keep depending on it, and a
    // recompute would sample fresh range boundaries (review-caught r9)
    val result = joined.select(
      (sorted.columns.filterNot(c => c == "__rk_pid" || c == "__rk_seq")
        .map(sorted(_)) :+
        (col("__off") + col("__rk_seq") - col("__m0")).as(out)): _*)
      .localCheckpoint(false)
    result.count()
    Checkpoints.release(sorted)
    result
  }
}
