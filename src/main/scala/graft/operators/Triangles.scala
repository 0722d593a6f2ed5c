package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact triangle census + global clustering coefficient — the graph
  * cohesion panel next to L62's PageRank (influence) and L31's connected
  * components (reach): how CLIQUISH is the interaction graph, not just
  * how connected. Triangle density separates a community structure from
  * a star/broadcast structure with the same degree counts, and its
  * trend across corpus snapshots is a drift signal component counts
  * cannot see.
  *
  * Algorithm: compact-forward / degree-ordered orientation (Latapy,
  * TCS 2008; the MapReduce form is Suri & Vassilvitskii's "last
  * reducer" construction, WWW'11). Each undirected edge is oriented
  * from its (degree, id)-smaller endpoint to the larger; every triangle
  * then has exactly ONE vertex with two out-edges (the (deg,id)-least),
  * so counting [wedge (u→v, u→w) with an oriented edge v→w] counts each
  * triangle exactly once — no /3 correction, no double joins per
  * orientation.
  *
  * Scale shape: the orientation is the whole point — a vertex's
  * ORIENTED out-degree is at most O(√(2m)) (it only keeps edges toward
  * higher-degree endpoints, and there can be at most √(2m) vertices of
  * degree ≥ √(2m)), so the wedge self-join expands at most m·√(2m)
  * candidate rows regardless of raw degree skew. An un-oriented wedge
  * join would square a celebrity vertex's 10⁸ degree; this one caps it
  * at √(2m) per vertex by construction. All joins are key-partitioned
  * on vertex ids; the one-row aggregates combine via 1×1 cross joins;
  * nothing corpus-sized is collected or broadcast (the degree table —
  * |V| slim rows — rides AQE's broadcast decision). When the edges fit
  * [[LocalDispatch.fitsTriangleEdges]] the identical arithmetic runs as
  * a driver kernel instead (r18 — the multi-join cascade is pure
  * per-stage fixed cost at that size); the distributed shape above is
  * the >bound path.
  *
  * Exactness: counts are counts; the clustering coefficient is emitted
  * as `gcc_e6` = ⌊3·triangles·10⁶ / wedges⌋ in integral arithmetic —
  * digit-identical on any engine, no float surface. */
object Triangles {

  /** One-row census over an undirected edge list: (n_vertices, n_edges,
    * n_wedges, n_triangles, gcc_e6). Self-loops and null endpoints are
    * dropped; parallel/reversed duplicate edges collapse (an edge list
    * is a SET of unordered pairs). `n_wedges` = Σ_v C(deg v, 2) — the
    * gcc denominator (closed + open length-2 paths); `gcc_e6` = 0 on a
    * wedgeless graph. Ids follow the graph family's bigint contract. */
  def stats(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    NearDup.materialized { cache =>
      val e0 = cache(edges
        .select(least(col(aCol), col(bCol)).cast("long").as("a"),
          greatest(col(aCol), col(bCol)).cast("long").as("b"))
        .filter(col("a").isNotNull && col("b").isNotNull &&
          col("a") =!= col("b"))
        .distinct())
      // fill the shared cache before branches race on it; sizes the
      // size dispatch (r18, the PageRank/Clusters discipline)
      val nEdges = e0.count()
      if (LocalDispatch.fitsTriangleEdges(nEdges)) localStats(e0)
      else {
        val deg = cache(
          e0.select(col("a").as("v")).unionAll(e0.select(col("b").as("v")))
            .groupBy(col("v")).agg(count(lit(1)).as("d")))
        deg.count()
        // orient a→b when (deg a, a) < (deg b, b); carry the head's order
        // key so the wedge pair (v, w) below is ordered by the SAME total
        // order the orientation uses — that is what makes v→w the only
        // closing edge a triangle can have
        val keyed = e0
          .join(deg.select(col("v").as("a"), col("d").as("__da")), "a")
          .join(deg.select(col("v").as("b"), col("d").as("__db")), "b")
        def key(d: String, v: String) =
          struct(col(d).as("d"), col(v).as("v")) // shared field names so the
            // two CASE branches below carry one struct type
        val aFirst = key("__da", "a") < key("__db", "b")
        val oriented = cache(keyed.select(
          when(aFirst, col("a")).otherwise(col("b")).as("src"),
          when(aFirst, col("b")).otherwise(col("a")).as("dst"),
          when(aFirst, key("__db", "b")).otherwise(key("__da", "a")).as("kd")))
        oriented.count()
        val w1 = oriented.select(col("src"), col("dst").as("wa"), col("kd").as("ka"))
        val w2 = oriented.select(col("src"), col("dst").as("wb"), col("kd").as("kb"))
        val wedgePairs = w1.join(w2, "src").filter(col("ka") < col("kb"))
          .select(col("wa"), col("wb"))
        val triAgg = wedgePairs
          .join(oriented.select(col("src").as("wa"), col("dst").as("wb")),
            Seq("wa", "wb"))
          .agg(count(lit(1)).as("n_triangles"))
        // coalesce: sum over an EMPTY degree table is null, and a null
        // wedge count would null-poison gcc_e6 on an edgeless input
        // (review-caught) — an empty graph reports honest zeros
        val degAgg = deg.agg(count(lit(1)).as("n_vertices"),
          coalesce(sum(call_function("div",
              col("d") * (col("d") - lit(1L)), lit(2L))), lit(0L))
            .cast("long").as("n_wedges"))
        val edgeAgg = e0.agg(count(lit(1)).as("n_edges"))
        degAgg.crossJoin(edgeAgg).crossJoin(triAgg)
          .select(col("n_vertices"), col("n_edges"), col("n_wedges"),
            col("n_triangles"),
            when(col("n_wedges") === 0L, lit(0L))
              .otherwise(call_function("div",
                lit(3L) * col("n_triangles") * lit(1000000L), col("n_wedges")))
              .as("gcc_e6"))
      }
    }

  /** Driver kernel of [[stats]] — the identical census over the collected
    * (normalized, deduplicated) edge list: same (deg, id) orientation,
    * same ka < kb wedge order, same floor-div gcc quantization, so local
    * ≡ distributed digit for digit (TrianglesSpec runs every test on both
    * paths). The distributed cascade is 2 joins + a wedge self-join + the
    * closure join of pure per-stage fixed cost — measured ~1.4 s of
    * q_g2's 2.4 s at sf0.1 for a 23k-edge graph. */
  private def localStats(e0: DataFrame): DataFrame = {
    val spark = e0.sparkSession
    import spark.implicits._
    val es = e0.as[(Long, Long)].collect()
    val deg = new java.util.HashMap[Long, Long]()
    es.foreach { case (a, b) =>
      deg.merge(a, 1L, _ + _); deg.merge(b, 1L, _ + _)
    }
    val nV = deg.size().toLong
    var wedges = 0L
    deg.forEach((_, d) => wedges += Math.floorDiv(d * (d - 1L), 2L))
    // orient each edge from its (deg, id)-smaller endpoint; out-lists
    // sorted by the head's (deg, id) key replicate the ka < kb wedge
    // order, and the oriented-edge set answers the closure probe
    val outs = new java.util.HashMap[Long, java.util.ArrayList[Long]]()
    val orientedSet = new java.util.HashSet[(Long, Long)]()
    es.foreach { case (a, b) =>
      val da = deg.get(a); val db = deg.get(b)
      val aFirst = da < db || (da == db && a < b)
      val (s, d) = if (aFirst) (a, b) else (b, a)
      var lst = outs.get(s)
      if (lst == null) { lst = new java.util.ArrayList[Long](); outs.put(s, lst) }
      lst.add(d)
      orientedSet.add((s, d))
    }
    var tri = 0L
    val ord = new java.util.Comparator[Long] {
      def compare(x: Long, y: Long): Int = {
        val c = java.lang.Long.compare(deg.get(x), deg.get(y))
        if (c != 0) c else java.lang.Long.compare(x, y)
      }
    }
    outs.forEach { (_, lst) =>
      lst.sort(ord)
      val n = lst.size()
      var i = 0
      while (i < n - 1) {
        val wa = lst.get(i)
        var j = i + 1
        while (j < n) {
          if (orientedSet.contains((wa, lst.get(j)))) tri += 1
          j += 1
        }
        i += 1
      }
    }
    val gcc = if (wedges == 0L) 0L
      else Math.floorDiv(3L * tri * 1000000L, wedges)
    Seq((nV, es.length.toLong, wedges, tri, gcc))
      .toDF("n_vertices", "n_edges", "n_wedges", "n_triangles", "gcc_e6")
  }

  /** Degree assortativity — Newman's r: the Pearson correlation of the
    * endpoint degrees over all (directed-both-ways) edges. Positive =
    * hubs attach to hubs (social graphs), negative = hubs attach to
    * leaves (infrastructure/star topologies) — the one-number structure
    * summary next to [[stats]]' cohesion census. Same exact-moment
    * discipline as q_a13: degrees are exact integers, the five moments
    * are integral sums in DECIMAL(38,0) (a billion-edge graph overflows
    * LONG on Σd²·pairs), and the correlation derives from identical
    * integers with one cast-to-double per term + IEEE sqrt — the
    * oracle replays digit-for-digit. Both orientations of each edge
    * contribute (the standard symmetrization), so the measure is
    * exchange-symmetric without halving tricks. Output: one row
    * (n_edges, assortativity6); null correlation (zero variance — e.g.
    * a regular graph) surfaces as null, honestly. */
  def degreeAssortativity(edges: DataFrame, aCol: String,
      bCol: String): DataFrame =
    NearDup.materialized { cache =>
      val e0 = cache(edges
        .select(least(col(aCol), col(bCol)).cast("long").as("a"),
          greatest(col(aCol), col(bCol)).cast("long").as("b"))
        .filter(col("a").isNotNull && col("b").isNotNull &&
          col("a") =!= col("b"))
        .distinct())
      // fills the shared cache; sizes the size dispatch (r18)
      val nEdges = e0.count()
      if (LocalDispatch.fitsTriangleEdges(nEdges)) localAssortativity(e0)
      else {
        val deg = e0.select(col("a").as("v")).unionAll(e0.select(col("b").as("v")))
          .groupBy(col("v")).agg(count(lit(1)).as("d"))
        val keyed = e0
          .join(deg.select(col("v").as("a"), col("d").as("__da")), "a")
          .join(deg.select(col("v").as("b"), col("d").as("__db")), "b")
        val sym = keyed.select(col("__da").as("x"), col("__db").as("y"))
          .unionAll(keyed.select(col("__db").as("x"), col("__da").as("y")))
        val m = sym.agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(38,0)")).as("sx"),
          sum(col("y").cast("decimal(38,0)")).as("sy"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
          sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"),
          sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"))
        def d(c: Column) = c.cast("double")
        val vx = d(col("n") * col("sxx") - col("sx") * col("sx"))
        val vy = d(col("n") * col("syy") - col("sy") * col("sy"))
        // explicit zero-variance guard: under ANSI a double divide-by-zero
        // THROWS (it is not a silent NaN), and a regular graph genuinely
        // has no degree variance to correlate
        m.select(call_function("div", col("n"), lit(2L)).as("n_edges"),
          when(vx > 0 && vy > 0,
            round(d(col("n") * col("sxy") - col("sx") * col("sy")) /
              sqrt(vx) / sqrt(vy), 6))
            .otherwise(lit(null).cast("double")).as("assortativity6"))
      }
    }

  /** Driver kernel of [[degreeAssortativity]] — the identical Newman's r
    * over the collected edge list: the five moments are exact BigInt sums
    * (the DECIMAL(38,0) twin), each converted to double with the same
    * round-to-nearest the decimal→double cast performs, then the same
    * `(n·sxy − sx·sy) / √vx / √vy` IEEE derivation and Catalyst
    * `round(_, 6)` (BigDecimal HALF_UP). Zero variance surfaces as null
    * on both paths. TrianglesSpec runs every test on both paths. */
  private def localAssortativity(e0: DataFrame): DataFrame = {
    val spark = e0.sparkSession
    import spark.implicits._
    val es = e0.as[(Long, Long)].collect()
    val deg = new java.util.HashMap[Long, Long]()
    es.foreach { case (a, b) =>
      deg.merge(a, 1L, _ + _); deg.merge(b, 1L, _ + _)
    }
    // symmetrized moments: each edge contributes (da, db) AND (db, da)
    var sx = BigInt(0); var sxx = BigInt(0); var sxy = BigInt(0)
    es.foreach { case (a, b) =>
      val da = BigInt(deg.get(a)); val db = BigInt(deg.get(b))
      sx += da + db
      sxx += da * da + db * db
      sxy += 2 * da * db
    }
    val n = BigInt(2L * es.length)
    // sy ≡ sx and syy ≡ sxx exactly (same integers), so vy ≡ vx bitwise
    // and the distributed `/ √vx / √vy` is `/ √vx / √vx` here
    val vx = (n * sxx - sx * sx).toDouble
    val r6: Option[Double] =
      if (vx > 0) Some(NearDup.round6(
        (n * sxy - sx * sx).toDouble / math.sqrt(vx) / math.sqrt(vx)))
      else None
    Seq((es.length.toLong, r6)).toDF("n_edges", "assortativity6")
  }
}
