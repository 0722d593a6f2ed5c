package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Common-neighbor link prediction — the classic "who should be
  * connected next" graph feature (Liben-Nowell & Kleinberg 2003;
  * Adamic & Adar 2003): for every NON-adjacent vertex pair that shares
  * at least one neighbor, the shared-neighbor count and the
  * Adamic–Adar score Σ_z 1/ln(deg z) over the shared neighbors z —
  * hub neighbors count for less. In a data-curation stack this is the
  * candidate generator for entity-graph completion and the "related
  * sources" suggestion surface next to L67's triangle census.
  *
  * Determinism: each neighbor's 1/ln(deg z) contribution is quantized
  * ONCE to integer 1e-6 (floor half-up, the L43 float discipline), so
  * per-pair scores are exact BIGINT sums the oracle replays
  * token-for-token. A shared neighbor is adjacent to both endpoints, so
  * deg(z) ≥ 2 and ln(deg z) > 0 — the division is total by
  * construction, no guard needed.
  *
  * Scale shape (r18 — the bucketPairs/minhashSignatures kernel
  * discipline replaced the r11 self-join form): wedge enumeration is
  * ONE groupBy(center) collecting each center's sorted leaf list, then
  * a JIT'd per-partition flatMap emitting the Σ_z deg(z)² wedge tuples
  * (the L67 triangle-census budget; hot hubs are bounded upstream by
  * the bucketPairs `maxBucketSize` valve exactly as in q_g3/q_g5).
  * The center's degree IS the leaf-list length, so the former separate
  * degree aggregation + |V|-row weight join disappear — the weight is
  * computed in the kernel with the identical float path. Downstream:
  * one (a, b) partial agg fed straight from the kernel (the wedge set
  * is never shuffled raw), one anti-join against the edge set to keep
  * non-adjacent pairs. The top-k surfaces via TakeOrderedAndProject —
  * no global sort. */
object LinkPredict {

  /** `(a, b, cn, aa_e6)` for non-adjacent pairs with ≥ 1 shared
    * neighbor. `edges` must be undirected-canonical (a < b, distinct,
    * non-null) — exactly what `NearDup.bucketPairs` emits.
    *
    * Shuffle order matters here (measured 7.9 s → see SCALE.md): the
    * degree weight joins the |adj|-sized adjacency BEFORE wedge
    * expansion (never the wedge set), and the (a, b) aggregation runs
    * BEFORE the adjacency anti-join — the wedge set (Σ deg², 16M rows
    * at sf0.1 vs 220k adjacency rows) feeds straight from the
    * expansion join into a map-side-combining partial agg and is never
    * shuffled again; the anti-join then sees one row per candidate
    * PAIR, not per wedge. Dropping adjacent pairs after aggregation is
    * semantically identical to dropping their wedges before it. */
  def adamicAdar(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    // the canonical edge set feeds FIVE plan branches (both adjacency
    // directions, the weight join, the probe side, the final
    // anti-join) — un-checkpointed, each branch re-runs the upstream
    // bucket expansion + distinct (measured: ~5 re-executions dominated
    // the 10 s sf0.1 cost); lazily checkpointed it computes once.
    // Its blocks live as long as the returned frame ([[Checkpoints]]).
    val e = edges.select(col(aCol).cast("long").as("a"),
        col(bCol).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") < col("b"))
      .distinct()
      .localCheckpoint(false)
    // both directions: one row per (center z, leaf u); (z, u) is unique
    // because e is distinct and canonical, so each center's leaf count
    // IS its degree — no separate degree aggregation or weight join.
    val adj = e.select(col("a").as("z"), col("b").as("u"))
      .unionAll(e.select(col("b").as("z"), col("a").as("u")))
    // Wedge expansion as a JIT'd per-group kernel (r18; previously a
    // z-keyed self-join: two repartitions + a sort-merge producing the
    // same Σ deg² tuples — measured A/B at sf0.1 in one session,
    // min-of-2 warm: join form 4.78 s, kernel 3.0 s class). Leaf lists
    // are sorted so emitted pairs are (a < b) canonical; the center's
    // 1/ln(deg) weight is quantized ONCE in the kernel with the exact
    // float path the former `floor(1e6 / log(d) + 0.5)` column used
    // (scala.math.log == java.lang.Math.log; floor/cast semantics
    // identical on these finite positives). Degree-1 centers emit no
    // pairs (they need two leaves), which also keeps ln(d) > 0 total.
    // The explicit repartition is load-bearing (the bucketPairs
    // lesson): the grouped adjacency is a few MB, so AQE would coalesce
    // the expansion to ~1 task — and then the Σdeg² wedge set (16M
    // rows at sf0.1 from 220k adjacency rows) expands serially.
    val spark = edges.sparkSession
    import spark.implicits._
    val shuffleN = spark.sessionState.conf.numShufflePartitions
    val wedges = adj.groupBy(col("z"))
      .agg(sort_array(collect_list(col("u"))).as("us"))
      .select(col("us")).as[Array[Long]]
      .repartition(shuffleN)
      .mapPartitions { groups =>
        groups.flatMap { us =>
          val d = us.length
          if (d < 2) Iterator.empty
          else {
            val w = math.floor(1000000.0 / math.log(d.toDouble) + 0.5)
              .toLong
            for {
              i <- us.indices.iterator
              j <- (i + 1) until d
            } yield (us(i), us(j), w)
          }
        }
      }
      .toDF("a", "b", "w_e6")
    wedges
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cn"), sum(col("w_e6")).as("aa_e6"))
      .join(e, Seq("a", "b"), "left_anti")
  }
}
