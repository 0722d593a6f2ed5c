package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community detection by synchronous label propagation (LPA,
  * Raghavan et al. 2007) — the graph family's PARTITIONING member next
  * to reach (L31 components), influence (L62 PageRank), cohesion (L67
  * triangles) and density (L75 k-core): every vertex starts in its own
  * community and repeatedly adopts the label held by the PLURALITY of
  * its neighbors, so densely-linked regions snap to one label in a few
  * rounds while bridges between regions stay contested. Connected
  * components answers "can they touch?"; LPA answers "do they cluster?"
  * — on a co-activity graph that is the bot-ring / audience-segment
  * cut.
  *
  * Determinism by CONTRACT (the KCore discipline): classic LPA is
  * notoriously run-dependent (random tie-breaks, random vertex order).
  * This one is a pure function of (edges, rounds): updates are fully
  * SYNCHRONOUS (round r reads only round r-1 labels — no vertex-order
  * dependence) and plurality ties break to the SMALLEST label. The
  * oracle replays exactly `rounds` unrolled updates, so engine and
  * oracle agree whether or not the labeling has stabilized (synchronous
  * LPA on bipartite-ish structure can 2-cycle forever — a fixed round
  * count is the only engine-portable stopping rule; LabelPropSpec
  * measures actual stabilization on its fixtures).
  *
  * Per-round plan: one hash join (directed edges ⋈ labels on dst, both
  * sides key-partitioned), one partial-aggregated count per (vertex,
  * neighbor label), and one struct-max argmax — max(struct(cnt, -lbl))
  * picks the plurality label with min-label tie-break WITHOUT a window
  * (the L79 lesson: a row_number over a hot vertex's label multiset
  * sorts one task; the struct-max stays map-side combinable). Labels
  * are lazily `localCheckpoint`ed each round (constant-size plans —
  * the Clusters/KCore/PageRank loop discipline), intermediates
  * released; the result is the caller's ([[Checkpoints]]).
  *
  * Scale shape: everything is key-partitioned on vertex ids; the only
  * shuffled payload is (vertex, label, count) rows — bounded by the
  * DISTINCT neighbor-label count, which plurality adoption itself
  * collapses round over round. Nothing collects, nothing broadcasts
  * beyond AQE's own choices. Reference surface: the co-activity graph
  * of SURVEY §2 L67 (reference builds no graphs; this is extension
  * surface). */
object LabelProp {

  /** (id, community) for every vertex of `edges` after `rounds`
    * synchronous plurality updates; community is the round-`rounds`
    * label (the smallest id wins ties at every step, so label values
    * are always some vertex id of the graph). Self-loops, duplicate
    * and reversed edges collapse first; null endpoints drop. */
  def communities(edges: DataFrame, aCol: String, bCol: String,
      rounds: Int = 4): DataFrame = {
    require(rounds >= 1, s"rounds $rounds must be >= 1")
    val und = edges
      .select(least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(false)

    // Size dispatch (r17, the Clusters/PageRank/KCore discipline): when
    // the canonical edges fit `LocalDispatch.fitsEdges` the identical
    // synchronous plurality recurrence runs on the driver — counts per
    // (vertex, neighbor label), max count, ties to the SMALLEST label,
    // exactly the roundUpdate semantics (LabelPropSpec pins local ≡
    // distributed; the unrolled oracle gates both).
    val nEdges = und.count() // materializes the checkpoint
    if (LocalDispatch.fitsEdges(nEdges)) {
      val spark = edges.sparkSession
      import spark.implicits._
      val es = und.as[(Long, Long)].collect()
      Checkpoints.release(und)
      val nbrs = new java.util.HashMap[Long, java.util.ArrayList[Long]]()
      def nb(v: Long) = {
        var l = nbrs.get(v)
        if (l == null) { l = new java.util.ArrayList[Long](); nbrs.put(v, l) }
        l
      }
      es.foreach { case (a, b) => nb(a).add(b); nb(b).add(a) }
      var lbl = new java.util.HashMap[Long, Long]()
      nbrs.keySet().forEach(v => lbl.put(v, v))
      for (_ <- 1 to rounds) {
        val next = new java.util.HashMap[Long, Long]()
        val prev = lbl
        nbrs.forEach { (v, ns) =>
          val cnt = new java.util.HashMap[Long, Long]()
          ns.forEach(u => cnt.merge(prev.get(u), 1L, _ + _))
          var bestLbl = Long.MaxValue; var bestCnt = -1L
          cnt.forEach { (l, c) =>
            if (c > bestCnt || (c == bestCnt && l < bestLbl)) {
              bestCnt = c; bestLbl = l
            }
          }
          next.put(v, bestLbl)
        }
        lbl = next
      }
      val ids = new java.util.TreeSet[java.lang.Long]()
      nbrs.keySet().forEach(v => ids.add(v))
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](
        ids.size())
      ids.forEach(v => out += ((v.longValue(), lbl.get(v.longValue()))))
      return out.toSeq.toDF("id", "community")
    }

    // directed both ways: every (src, dst) with dst a neighbor of src
    val dir = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
    var labels = dir.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("lbl"))
      .localCheckpoint(false)
    val chain = scala.collection.mutable.ArrayBuffer(und, labels)
    for (_ <- 1 to rounds) {
      labels = roundUpdate(dir, labels).localCheckpoint(false)
      chain += labels
    }
    val result = labels.select(col("v").as("id"),
      col("lbl").as("community")).localCheckpoint(false)
    result.count() // ONE job materializes the whole lazy chain
    chain.foreach(Checkpoints.release)
    result
  }

  /** One synchronous plurality update of `labels(v, lbl)` over the
    * directed edge set `dir(src, dst)` — exposed un-checkpointed so
    * PlanAuditSpec can pin the round's shape (the fitUncheckpointed
    * lesson: communities()'s own output plans as a bare RDD scan,
    * which would make a pin vacuous). */
  private[graft] def roundUpdate(dir: DataFrame,
      labels: DataFrame): DataFrame =
    dir.join(labels.select(col("v").as("dst"), col("lbl")), Seq("dst"))
      .groupBy(col("src"), col("lbl"))
      .agg(count(lit(1)).as("cnt"))
      // argmax without a window: max cnt, ties to the SMALLEST label
      // (labels are nonneg vertex ids, so -lbl is order-reversing)
      .groupBy(col("src").as("v"))
      .agg(max(struct(col("cnt"), (-col("lbl")).as("neg"))).as("best"))
      .select(col("v"), (-col("best.neg")).as("lbl"))

  /** The oracle's unrolled update chain: CTEs `l0 … l<rounds>`
    * continuing from a caller-supplied `e0(a, b)` (canonical a<b
    * edges), plus the final (id, community) select — generated from
    * the same `rounds` so engine and oracle cannot drift (the KCore
    * generator discipline). */
  private[graft] def oracleCtes(rounds: Int): String = {
    // AS MATERIALIZED is load-bearing (the clusterOracle lesson):
    // each round references its predecessor through a join DuckDB
    // would otherwise re-inline per reference.
    val updates = (1 to rounds).map { i =>
      s"""n$i AS MATERIALIZED (
            SELECT d.src AS v, l.lbl, COUNT(*) AS cnt
            FROM dir d JOIN l${i - 1} l ON d.dst = l.v
            GROUP BY d.src, l.lbl),
          l$i AS MATERIALIZED (
            SELECT v, lbl FROM (
              SELECT v, lbl,
                ROW_NUMBER() OVER (PARTITION BY v
                  ORDER BY cnt DESC, lbl ASC) AS rn
              FROM n$i) AS r WHERE rn = 1)"""
    }.mkString(",\n")
    s"""dir AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
              UNION ALL SELECT b AS src, a AS dst FROM e0),
        l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS lbl
              FROM dir),
        $updates
        SELECT v AS id, lbl AS community FROM l$rounds ORDER BY id"""
  }
}
