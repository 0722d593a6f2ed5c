package graft.operators

import org.apache.spark.sql.DataFrame

/** Storage release for `localCheckpoint`-backed frames.
  *
  * `Dataset.unpersist` is a NO-OP for localCheckpoint storage: it goes
  * through the CacheManager, which never saw the checkpoint RDD — the
  * blocks must be released on the RDD itself. Iterative operators
  * (Clusters' label rounds) and multi-action protocols (StreamingNearDup's
  * confirm set) otherwise accumulate one checkpoint's worth of blocks per
  * round/batch until driver GC happens to collect the RDD reference —
  * on a long-running stream that is an executor-memory leak.
  *
  * One shared helper (VERDICT r4 #5): Clusters and StreamingNearDup each
  * carried a private copy; divergence here would silently reintroduce the
  * leak class in whichever copy rotted.
  *
  * Ownership rule for checkpoint-backed RESULTS: an operator hands its
  * result to the caller and keeps no reference to it. The result stays
  * valid, re-queryable, for as long as the caller can reach it — no
  * later call can free it. `RDD.localCheckpoint` registers the blocks
  * with Spark's `ContextCleaner`, which frees them once the caller drops
  * the result and a driver GC collects it; a caller that wants the
  * storage back now calls [[release]] on the result. Intermediate rounds
  * are the operator's own and it releases them eagerly. */
object Checkpoints {

  /** Unpersist the checkpoint RDD(s) behind a localCheckpoint'ed frame —
    * swallows failures from frames whose session has since stopped. */
  def release(df: DataFrame): Unit =
    try df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = false))
    catch { case scala.util.control.NonFatal(_) => () }
}
