package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-dup cluster consolidation — connected components over a confirmed
  * pair set, so a pipeline can keep exactly ONE representative per
  * duplicate cluster instead of applying a per-pair keeper rule.
  *
  * Why per-pair rules aren't enough: with confirmed pairs (1,3) and
  * (2,3), the "drop the larger id of any pair" rule (LlmPrep's default)
  * keeps BOTH 1 and 2 even though they sit in one transitive cluster.
  * Production corpus dedup (C4/RefinedWeb-style MinHash pipelines)
  * consolidates to components and keeps one representative per component.
  *
  * Algorithm: alternating neighbor-min propagation + pointer jumping
  * (label doubling) over the undirected pair graph. Each round is two
  * hash joins and one aggregation — all shuffle-partitioned on id, no
  * driver-side graph state. Propagation alone converges in O(diameter)
  * rounds; the pointer-jump step (lbl ← lbl(lbl)) halves chain heights so
  * convergence is O(log n) rounds even on a worst-case path graph —
  * `ClustersSpec` proves it with a 200-node chain against a 50-round cap.
  *
  * Iterative-plan discipline: every round references the previous label
  * table several times (propagate join, combine, self-join ×2), so a
  * SQL-cache-only loop grows the LOGICAL plan ~6× per round — execution
  * stays cached but analysis walks an exponentially larger tree (measured:
  * minutes by round ~8). Each round's labels are therefore
  * `localCheckpoint`ed — the canonical Spark treatment for iterative
  * algorithms (GraphFrames does the same): the plan collapses to a
  * LogicalRDD leaf, keeping analysis constant-time per round.
  * Intermediate rounds' checkpoint blocks are released eagerly; the
  * result's label table lives as long as the caller holds the result
  * ([[Checkpoints]]).
  *
  * Convergence is detected without an extra join: labels are initialized
  * at min(id, min neighbor) and only ever DECREASE, so the label sum is a
  * monotone fixpoint witness — one cheap scalar aggregate per round
  * (summed as decimal so 2⁶³-scale ids cannot overflow).
  *
  * Scale: the input is the CONFIRMED near-dup pair set — orders of
  * magnitude smaller than the corpus (pairs, not documents). 100 TB
  * shape: |pairs| ~ duplicated-doc count, every join is key-partitioned
  * on bigint ids, nothing is broadcast or collected; checkpoint storage
  * is MEMORY_AND_DISK so a huge pair set degrades to disk, not OOM. */
object Clusters {

  /** (id, cluster) for every node appearing in `pairs`; `cluster` is the
    * smallest id reachable from the node (component minimum), so the
    * mapping is deterministic and engine-portable. Ids follow the
    * near-dup battery's bigint contract.
    *
    * Size dispatch (r17 optimization, guide §1.2): the iterative loop
    * pays ~4 distributed jobs per round regardless of data size — on the
    * sf0.1 pair sets (hundreds of edges) that fixed scheduling cost IS
    * the operator's wall time (measured 1.4–2.7 s per call inside
    * q_e15/q_d5). An edge table whose directed rows fit
    * [[LocalDispatch.fitsEdges]] is therefore solved by a driver-side
    * union-find — the same bounded-collect class as the engine's
    * grid/page collects — and larger graphs take the distributed loop
    * unchanged. Both paths emit the identical (id, component-minimum)
    * mapping; ClustersSpec pins local ≡ distributed on random graphs
    * and forces the distributed path ([[LocalDispatch.distributedOnly]])
    * for the pointer-jump convergence proof. */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxIter: Int = 50): DataFrame = {
    val spark = pairs.sparkSession
    // null ids dropped up front (ADVICE r17): the local path's typed
    // collect would NPE on a null where the distributed path emitted a
    // null-id row — one defined behavior for both paths (battery
    // callers pre-filter, so this is contract hardening, not a result
    // change)
    val half = pairs
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("long").as("src"),
        col(bCol).cast("long").as("dst"))
    // Lazy checkpoints throughout: the per-round checksum action
    // materializes the round's checkpoint in the SAME job, so each round
    // costs ONE Spark job instead of two (measured: the eager form spent
    // ~9 s of scheduling overhead on a 477-node sf0.1 pair set).
    val edges = half
      .union(half.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(false)

    // One count materializes the checkpoint (the first round's
    // aggregation paid this anyway) and sizes the dispatch.
    val nEdges = edges.count()
    if (LocalDispatch.fitsEdges(nEdges)) {
      import spark.implicits._
      val es = edges.as[(Long, Long)].collect()
      Checkpoints.release(edges)
      // Union-find, larger root parented under the smaller — roots are
      // component minima by construction (the ClustersSpec reference
      // model, now the engine's small-graph path).
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.getOrDefault(c, c) != c) {
          val nxt = parent.get(c); parent.put(c, r); c = nxt
        }
        r
      }
      es.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      val nodes = new java.util.TreeSet[java.lang.Long]()
      es.foreach { case (a, _) => nodes.add(a) } // both directions present
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](
        nodes.size())
      nodes.forEach(id => out += ((id.longValue(), find(id.longValue()))))
      return out.toSeq.toDF("id", "cluster")
    }

    // lbl(u) = min(u, min neighbor) — one aggregation over the edges.
    var labels = edges.groupBy("src")
      .agg(min(col("dst")).as("m"))
      .select(col("src").as("id"), least(col("src"), col("m")).as("lbl"))
      .localCheckpoint(false)
    var sum = checksum(labels)

    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      // Neighbor-min propagation: each node adopts the smallest label in
      // its neighborhood (including its own).
      val viaNbr = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("lbl")).as("nlbl"))
      val propagated = labels.join(viaNbr, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      // Pointer jump: lbl ← lbl(lbl). Every label is itself a node id
      // (the min of some neighborhood), so the inner self-join is total.
      val jumped = propagated
        .join(propagated.select(col("id").as("lbl"), col("lbl").as("lbl2")),
          Seq("lbl"))
        .select(col("id"), least(col("lbl"), col("lbl2")).as("lbl"))
        .localCheckpoint(false) // materialized by the checksum action
      val newSum = checksum(jumped)
      Checkpoints.release(labels) // previous round's blocks
      labels = jumped
      converged = newSum == sum
      sum = newSum
      it += 1
    }
    Checkpoints.release(edges)
    labels.select(col("id"), col("lbl").as("cluster"))
  }

  /** Corpus with every near-dup cluster collapsed to its component-minimum
    * representative: docs that appear in `pairs` under a non-minimal id
    * are dropped; everything else (including pair-free docs) survives. */
  def consolidate(docs: DataFrame, pairs: DataFrame, idCol: String,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val losers = connectedComponents(pairs, aCol, bCol)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Decimal label sum — the fixpoint witness (monotone decreasing). */
  private def checksum(labels: DataFrame): java.math.BigDecimal =
    labels.agg(sum(col("lbl").cast("decimal(38,0)")))
      .head().getDecimal(0)
}
