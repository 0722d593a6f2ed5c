package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Quantized-integer PageRank — entity-importance scoring over a link
  * graph (the web-curation signal behind crawl prioritization and the
  * classic "which suppliers/customers matter" graph rollup), computed
  * so that every engine agrees on every digit.
  *
  * The standard recurrence pr'(v) = (1−d)/N + d·Σ pr(u)/deg(u) runs
  * entirely in scaled integers: ranks are parts-per-1e9 (`pr_e9`),
  * damping is the rational dampE3/1000, and each step is
  *   pr'_e9(v) = (1000−dampE3)·10⁹ DIV (1000·N)
  *             + (dampE3 · Σ (pr_e9(u) DIV deg(u))) DIV 1000
  * — floor division on nonnegative longs at every stage, so a fixed
  * iteration count yields the IDENTICAL integer vector on any engine
  * (no float accumulation order to disagree on) and the result is
  * exactly oracle-checkable with unrolled SQL. Dangling nodes (no
  * out-edges) leak their mass, the textbook simple variant — the
  * deliberate bias is shared with the oracle by construction.
  *
  * Scale shape: per iteration, ONE key-partitioned join of the edge
  * list against the rank vector and one groupBy(dst) sum — the
  * canonical distributed PR step. The out-degree is folded INTO the
  * rank vector once up front (it never changes), so no second join
  * rides every round. Rounds are `localCheckpoint`ed LAZILY so plans
  * don't grow (the Clusters discipline) and the whole chain
  * materializes in a single job at the end — each round's blocks cache
  * as the lineage runs through them, so nothing is recomputed and no
  * per-round action pays job-scheduling overhead; intermediate rounds'
  * blocks are released the moment the final vector is materialized.
  * Nothing ever collects: N is the one driver-side scalar (a count). */
object PageRank {

  /** (id, pr_e9) for every vertex of the (deduplicated, null-pruned)
    * edge list after exactly `iterations` quantized steps from the
    * uniform start 10⁹ DIV N. */
  def ranks(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 5, dampE3: Long = 850L): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"iterations must be in [1, 100], got $iterations")
    require(dampE3 >= 0L && dampE3 <= 1000L,
      s"dampE3 is parts-per-thousand in [0, 1000], got $dampE3")
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint(false)

    // Size dispatch (r17 optimization, the Clusters discipline): the
    // distributed loop is 3 shuffles per iteration — measured 4.2 s of
    // q_g1's 5.0 s at sf0.1 for a 16k-node graph, pure per-stage fixed
    // cost. When the directed edges fit `LocalDispatch.fitsEdges` the
    // identical quantized-integer recurrence runs on the driver: every
    // step is floor division / integer sums, so the two paths agree on
    // every digit (PageRankSpec pins local ≡ distributed and the
    // unrolled oracle gates both at 3 SFs).
    val nEdges = e.count() // materializes the checkpoint; sizes dispatch
    if (LocalDispatch.fitsEdges(nEdges)) {
      val spark = edges.sparkSession
      import spark.implicits._
      val es = e.as[(Long, Long)].collect()
      Checkpoints.release(e)
      require(es.nonEmpty, "PageRank over an empty edge list")
      val deg = new java.util.HashMap[Long, Long]()
      val nodeSet = new java.util.TreeSet[java.lang.Long]()
      es.foreach { case (s0, d0) =>
        deg.merge(s0, 1L, _ + _); nodeSet.add(s0); nodeSet.add(d0)
      }
      val n = nodeSet.size().toLong
      val base = Math.floorDiv((1000L - dampE3) * 1000000000L, 1000L * n)
      var pr = new java.util.HashMap[Long, Long]()
      nodeSet.forEach(id =>
        pr.put(id, Math.floorDiv(1000000000L, n)))
      for (_ <- 1 to iterations) {
        val inflow = new java.util.HashMap[Long, Long]()
        es.foreach { case (s0, d0) =>
          inflow.merge(d0, Math.floorDiv(pr.get(s0), deg.get(s0)), _ + _)
        }
        val next = new java.util.HashMap[Long, Long]()
        nodeSet.forEach(id => next.put(id,
          base + Math.floorDiv(
            dampE3 * inflow.getOrDefault(id, 0L), 1000L)))
        pr = next
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](
        nodeSet.size())
      nodeSet.forEach(id => out += ((id.longValue(), pr.get(id))))
      return out.toSeq.toDF("id", "pr_e9")
    }

    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct()
      .localCheckpoint(false)
    val n = nodes.count() // materializes the checkpoint; the 1 scalar
    require(n > 0, "PageRank over an empty edge list")
    val base = Math.floorDiv((1000L - dampE3) * 1000000000L, 1000L * n)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
    // the rank vector carries its (constant) out-degree: one join per
    // round instead of two; pure sinks keep deg 0 — they never appear
    // as a join src, so the divisor is never 0 where it's used
    var pr = nodes
      .join(outdeg.withColumnRenamed("src", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("__deg"), lit(0L)).as("__deg"),
        lit(Math.floorDiv(1000000000L, n)).as("pr_e9"))
      .localCheckpoint(false)
    val rounds = scala.collection.mutable.ArrayBuffer(pr)
    for (_ <- 1 to iterations) {
      val inflow = e
        .join(pr.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst"), expr("pr_e9 DIV __deg").as("__c"))
        .groupBy(col("dst"))
        .agg(sum(col("__c")).as("__in"))
      pr = pr.select(col("id"), col("__deg"))
        .join(inflow.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .select(col("id"), col("__deg"),
          (lit(base) +
            expr(s"(${dampE3}L * coalesce(__in, 0L)) DIV 1000"))
            .as("pr_e9"))
        .localCheckpoint(false)
      rounds += pr
    }
    val result = pr.select(col("id"), col("pr_e9")).localCheckpoint(false)
    result.count() // ONE job runs the whole lazy chain, caching per round
    rounds.foreach(Checkpoints.release)
    Checkpoints.release(e)
    Checkpoints.release(nodes)
    result
  }
}
