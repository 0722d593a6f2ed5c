package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterated peeling — the graph family's
  * density filter next to reach (L31 components), influence (L62
  * PageRank) and cohesion (L67 triangles): repeatedly delete vertices
  * of degree < k; what survives is the subgraph where everyone keeps ≥k
  * neighbors INSIDE the survivor set — the standard "engaged core" cut
  * (community kernels, spam-farm detection, coordination cliques).
  *
  * Fixed round count by CONTRACT: each round is one degree aggregate +
  * two semi-joins, and the oracle replays exactly `rounds` unrolled
  * peels — so the answer is engine-exact whether or not the fixpoint
  * was reached (the spec measures convergence: peeling stabilizes in
  * ≤ diameter-ish rounds, and KCoreSpec proves the default converges
  * on its fixtures by comparing against an iterate-to-stability run).
  *
  * Scale shape: the Clusters/PageRank loop discipline — per-round
  * lazy `localCheckpoint` (constant-size plans, one job materializes
  * the whole chain), intermediate blocks released; the result's blocks
  * live as long as the caller holds it ([[Checkpoints]]). Everything is
  * key-partitioned on vertex ids; nothing collects. */
object KCore {

  /** Surviving (id, degree) after `rounds` peels at threshold `k` —
    * degree is the RESIDUAL degree inside the survivor subgraph.
    * Self-loops/duplicate/reversed edges collapse first (the census
    * family's hygiene); vertices peeled to isolation disappear. */
  def vertices(edges: DataFrame, aCol: String, bCol: String, k: Int,
      rounds: Int = 8): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    require(rounds >= 1, s"rounds $rounds must be >= 1")
    var e = edges
      .select(least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(false)

    // Size dispatch (r17, the Clusters/PageRank discipline): `rounds`
    // peels are 3 shuffles each even in the single materializing job —
    // pure fixed cost on gate-scale graphs. When the canonical edges fit
    // `LocalDispatch.fitsEdges` the identical peel sequence runs on the
    // driver (degree count → keep d ≥ k → filter edges), which
    // is exact by construction; KCoreSpec pins local ≡ distributed and
    // the unrolled oracle gates both.
    val nEdges = e.count() // materializes the checkpoint; sizes dispatch
    if (LocalDispatch.fitsEdges(nEdges)) {
      val spark = edges.sparkSession
      import spark.implicits._
      var es = e.as[(Long, Long)].collect()
      Checkpoints.release(e)
      for (_ <- 1 to rounds) {
        val deg = new java.util.HashMap[Long, Long]()
        es.foreach { case (a, b) =>
          deg.merge(a, 1L, _ + _); deg.merge(b, 1L, _ + _)
        }
        es = es.filter { case (a, b) => deg.get(a) >= k && deg.get(b) >= k }
      }
      val deg = new java.util.HashMap[Long, Long]()
      es.foreach { case (a, b) =>
        deg.merge(a, 1L, _ + _); deg.merge(b, 1L, _ + _)
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](
        deg.size())
      val ids = new java.util.TreeSet[java.lang.Long]()
      deg.keySet().forEach(v => ids.add(v))
      ids.forEach(id => out += ((id.longValue(), deg.get(id))))
      return out.toSeq.toDF("id", "d")
    }
    val chain = scala.collection.mutable.ArrayBuffer(e)
    def degrees(edgeSet: DataFrame): DataFrame =
      edgeSet.select(col("a").as("v"))
        .unionAll(edgeSet.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
    for (_ <- 1 to rounds) {
      val keep = degrees(e).filter(col("d") >= k).select(col("v"))
      e = e
        .join(keep.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
        .localCheckpoint(false)
      chain += e
    }
    val result = degrees(e)
      .select(col("v").as("id"), col("d")).localCheckpoint(false)
    result.count() // ONE job materializes the whole lazy chain
    chain.foreach(Checkpoints.release)
    result
  }

  /** The oracle's unrolled peel chain: CTEs `v1/e1 … v<rounds>/e<rounds>`
    * continuing from a caller-supplied `e0(a, b)`, plus the final
    * survivor-degree select — generated from the same parameters so
    * engine and oracle cannot drift. */
  private[graft] def oracleCtes(k: Int, rounds: Int): String = {
    // AS MATERIALIZED is load-bearing (the clusterOracle lesson): DuckDB
    // inlines plain CTEs, and each round references its predecessor 3× —
    // un-materialized, e<rounds> re-expands e0 3^rounds times (measured:
    // the probe died on file handles before finishing)
    val peels = (1 to rounds).map { i =>
      s"""v$i AS MATERIALIZED (SELECT v FROM
                    (SELECT a AS v FROM e${i - 1}
                     UNION ALL SELECT b AS v FROM e${i - 1})
                  GROUP BY v HAVING COUNT(*) >= $k),
          e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
                  WHERE a IN (SELECT v FROM v$i)
                    AND b IN (SELECT v FROM v$i))"""
    }.mkString(",\n")
    s"""$peels
       SELECT v AS id, COUNT(*) AS d
       FROM (SELECT a AS v FROM e$rounds UNION ALL SELECT b AS v FROM e$rounds)
       GROUP BY v ORDER BY id"""
  }
}
