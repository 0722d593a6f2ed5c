package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** Near-duplicate detection for LLM training corpora (BASELINE.json north
  * star): exact content dedup, MinHash + LSH banding, SimHash + Hamming
  * banding, and exact n-gram Jaccard confirmation.
  *
  * Scale design — the cardinal rule is NEVER all-pairs. Both sketches reduce
  * O(n²) comparison to:
  *   1. a per-row signature over hashed shingle sets (one scan; shingles are
  *      64-bit hashes, not strings — no per-shingle allocation),
  *   2. ONE hash-shuffle groupBy on (bandIndex, bandKey); candidate pairs
  *      are generated inside each bucket, so docs sharing no band never
  *      meet and the signature is computed exactly once (a self-join shape
  *      would evaluate it once per join branch — 2× the scan cost),
  *   3. exact Jaccard confirmation on the (few) candidate pairs only.
  * At 100 TB: one scan + one small shuffle of (band, key, id) triples;
  * degenerate hot buckets (mass-duplicated boilerplate) are capped by
  * `maxBucketSize` — a capped bucket means "everything here is the same
  * document family" and is better handled by exact dedup on the band key.
  *
  * Determinism: hash family is xxhash64 with fixed per-function seeds — no
  * RNG state, so signatures are reproducible across runs/partitionings
  * (unlike `org.apache.spark.ml.feature.MinHashLSH`'s random coefficients).
  *
  * Id contract: `idCol` must be upcastable to bigint (the signature and
  * pair-expansion kernels run on primitive longs — a JIT'd long loop is
  * the whole reason these paths are fast). String or composite ids: derive
  * a surrogate (`xxhash64`/`monotonically_increasing_id`) and join the
  * original back on the pair output.
  */
object NearDup {

  /** Hook for persisting shared subplans; `identity` = no caching. */
  type Cache = DataFrame => DataFrame

  /** Runs `body`, persisting every DataFrame it routes through the supplied
    * cache hook, eagerly materializes the (tiny) result into its own
    * persisted DataFrame, then unpersists the intermediates.
    *
    * Why: a near-dup pipeline references its shingle table, signature table
    * and candidate set from several plan branches; Spark re-executes each
    * referenced subtree per branch, so the UNcached ensemble plan scanned
    * the corpus 9× (measured round 2: 28 s of a 70.8 s bench, VERDICT r2
    * #1). With the shared frames persisted the corpus is scanned once; the
    * final pair set is tiny, so eager materialization costs nothing at any
    * scale.
    *
    * The result is cached via persist (not localCheckpoint): lineage
    * survives eviction, and the returned plan still prints the full cached
    * subtree, so plan audits (cross-product checks etc.) keep seeing the
    * real pipeline. Because callers routinely wrap and discard the handle
    * (`.orderBy(...)` on top makes `unpersist` unreachable), the module
    * keeps an LRU of the last [[MaxMaterialized]] result caches and evicts
    * the oldest — a session calling near-dup operators in a loop holds a
    * BOUNDED set of (tiny) pair-set caches instead of leaking one per
    * call; an evicted result that is re-queried recomputes from lineage.
    * [[releaseMaterialized]] drops them all. */
  private[operators] def materialized(body: Cache => DataFrame): DataFrame = {
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val cache: Cache = { df => cached += df; df.persist() }
    try {
      val result = body(cache).persist()
      // Fill the result cache while intermediates are live. If the action
      // fails (or the thread is interrupted) the result never made it into
      // liveResults, so unpersist it here — otherwise its cache entry
      // leaks with no owner (ADVICE r3).
      try result.count()
      catch {
        case t: Throwable =>
          try result.unpersist(blocking = false)
          catch { case scala.util.control.NonFatal(_) => () }
          throw t
      }
      liveResults.synchronized {
        liveResults.addLast(result)
        if (liveResults.size > MaxMaterialized)
          safeUnpersist(liveResults.removeFirst())
      }
      result
    } finally cached.foreach(_.unpersist(blocking = false))
  }

  /** Cap on concurrently-cached materialized results (each is a small
    * confirmed-pair set). Every invocation's plan embeds fresh
    * mapPartitions closures, so entries are plan-DISTINCT (verified: 12
    * identical calls hold exactly 8 entries) — but [[safeUnpersist]] still
    * guards the plan-equal case for future closure-free bodies. */
  private val MaxMaterialized = 8
  private val liveResults = new java.util.ArrayDeque[DataFrame]()

  /** Unpersist an evicted result unless a newer live entry shares its
    * canonical plan (CacheManager dedupes plan-equal persists, so that
    * unpersist would kill the shared entry); swallow failures from a
    * DataFrame whose SparkSession has since been stopped — eviction of a
    * dead session's leftovers must not fail the live session's query. */
  private def safeUnpersist(df: DataFrame): Unit =
    try {
      val it = liveResults.iterator()
      var shared = false
      while (it.hasNext && !shared)
        shared = it.next().queryExecution.logical
          .sameResult(df.queryExecution.logical)
      if (!shared) df.unpersist(blocking = false)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Release every live materialized result cache (long-lived sessions /
    * tests that want a clean slate). */
  def releaseMaterialized(): Unit = liveResults.synchronized {
    while (!liveResults.isEmpty)
      safeUnpersist(liveResults.removeFirst())
  }

  // ---------------------------------------------------------------- exact

  /** Exact dedup by normalized content (md5 fingerprint): keeps, per
    * distinct text, the row with the smallest `idCol` — deterministic
    * keeper, single hash-shuffle on the fingerprint. */
  def exactByContent(df: DataFrame, textCol: String, idCol: String): DataFrame =
    Dedup.firstByKey(
      df.withColumn("__fp", TextAnalysis.fingerprint(col(textCol))),
      "__fp", idCol).drop("__fp")

  // -------------------------------------------------------------- minhash

  /** Base 64-bit hash of each shingle — kept for API compatibility and
    * staging; prefer `TextAnalysis.shingleHashesFromTokens` end-to-end. */
  def shingleHashes(shingles: Column): Column =
    transform(shingles, s => xxhash64(s))

  /** k-element MinHash signature from pre-hashed shingles:
    * sig[i] = min over shingles of mix(h, seed_i). Empty sets → null.
    * NOTE: higher-order Catalyst lambdas are interpreted (outside
    * whole-stage codegen) — this expression form costs ~13 s for
    * 5000 docs × 128 hashes on the bench. Kept for composability/tests;
    * the pipeline path uses [[minhashSignatures]] (mapPartitions, JIT'd). */
  def minhashFromHashes(hashed: Column, numHashes: Int): Column =
    when(size(hashed) === 0, lit(null))
      .otherwise(array((0 until numHashes).map(i =>
        array_min(transform(hashed, h => xxhash64(h, lit(i))))): _*))

  /** k-element MinHash signature of a string-shingle column. */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    minhashFromHashes(shingleHashes(shingles), numHashes)

  /** splitmix64 finalizer — the per-function mixer for signature loops.
    * Pure, fixed constants → reproducible across runs/partitionings. */
  @inline private[operators] def mix64(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private[operators] def seeds(k: Int): Array[Long] =
    Array.tabulate(k)(i => mix64(i.toLong * 0x9E3779B97F4A7C15L + 0x6A09E667F3BCC909L))

  /** MinHash signatures for ("id", "hs") via mapPartitions — the genuine
    * per-partition imperative case: a k×|hs| min-loop over longs is JIT'd
    * scalar code (~1 s) where the equivalent k interpreted Catalyst
    * lambdas cost ~13 s (measured, 5000 docs, k=128). Narrow, no shuffle.
    * Empty shingle sets are dropped (they can't be near anything). */
  def minhashSignatures(d: DataFrame, numHashes: Int): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    val sd = seeds(numHashes)
    d.select(col("id").cast("long"), col("hs")).as[(Long, Array[Long])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, hs) =>
          if (hs.isEmpty) Iterator.empty
          else Iterator.single((id, minhashSigOf(hs, sd)))
        }
      }.toDF("id", "sig")
  }

  /** Per-document MinHash signature — the one kernel both the
    * distributed mapPartitions path and the r18 driver kernel call, so
    * the two cannot drift (`hs` non-empty). */
  private[operators] def minhashSigOf(hs: Array[Long],
      sd: Array[Long]): Array[Long] = {
    val sig = Array.fill(sd.length)(Long.MaxValue)
    var si = 0
    while (si < hs.length) {
      val h = hs(si)
      var i = 0
      while (i < sd.length) {
        val v = mix64(h ^ sd(i))
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      si += 1
    }
    sig
  }

  /** (bandIndex, bandKey) pairs for LSH banding: the signature is split into
    * `bands` contiguous bands of `numHashes/bands` hashes; each band hashes
    * to one 64-bit key. Two docs collide iff some band is identical. */
  def bandKeys(sig: Column, numHashes: Int, bands: Int): Column = {
    val r = numHashes / bands
    array((0 until bands).map(b =>
      struct(lit(b).as("band"), xxhash64(lit(b), slice(sig, b * r + 1, r)).as("key"))): _*)
  }

  /** All unordered id pairs (a < b) within each (band, key) bucket — the
    * banding join realized as ONE groupBy + in-bucket pair expansion
    * instead of a self-join (signature computed once, one shuffle of small
    * triples). Buckets above `maxBucketSize` are dropped: a bucket that
    * big is a mass-duplication cluster, not a near-dup candidate list
    * (quadratic pair expansion there is the all-pairs trap re-entering
    * through the back door). */
  private[graft] def bucketPairs(exploded: DataFrame,
      maxBucketSize: Int): DataFrame = {
    val spark = exploded.sparkSession
    import spark.implicits._
    // Pair expansion is a JIT'd typed flatMap: the expression form
    // (nested transform/slice lambdas) is interpreted per element and cost
    // ~10 s at ~10M candidate pairs (dense-bucket regime, measured via
    // Similarity.lshNearDupPairs at sf0.1).
    //
    // The repartition before the expansion matters: the bucket table is a
    // few KB, so AQE coalesces the groupBy output to ~1 partition — and
    // then the (potentially quadratic) pair expansion runs on ONE task.
    // Spreading the buckets first keeps expansion + the distinct's partial
    // aggregation parallel (measured: 5-6 s single-task → ~1 s at 32
    // threads in the dense-bucket regime).
    // The explicit long cast makes the id contract uniform across entry
    // points: any id upcastable to bigint works (int/short ids arrive here
    // un-cast when callers build their own band-key rows); genuinely
    // non-numeric ids are rejected at analysis, same as the signature
    // kernels (ADVICE r3 — the typed pair-expansion kernel needs a
    // primitive key, so the old accept-any-orderable-id form is gone by
    // design; see the entry-point scaladoc).
    exploded.groupBy(col("band"), col("key"))
      .agg(sort_array(collect_set(col("id").cast("long"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucketSize))
      .select(col("ids")).as[Array[Long]]
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .mapPartitions { buckets =>
        buckets.flatMap { ids =>
          for {
            i <- ids.indices.iterator
            j <- (i + 1) until ids.length
          } yield (ids(i), ids(j))
        }
      }.toDF("id_a", "id_b").distinct()
  }

  /** (id, band, key) rows — the banding representation shared by the batch
    * candidate generator and the streaming history probe (one definition,
    * so the two paths cannot drift). */
  private[graft] def bandKeyRows(d: DataFrame, numHashes: Int,
      bands: Int): DataFrame =
    // outer + null filter (the q_t6 lesson): plain explode would
    // rebuild the band-key array inside the inferred size()>0 filter
    minhashSignatures(d, numHashes)
      .select(col("id"),
        explode_outer(bandKeys(col("sig"), numHashes, bands)).as("bk"))
      .filter(col("bk").isNotNull)
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))

  /** Candidate id pairs (a < b) from MinHash-LSH banding over a hashed
    * shingle-set column ("id", "hs"). */
  def minhashCandidates(d: DataFrame, numHashes: Int = 128, bands: Int = 32,
      maxBucketSize: Int = 10000): DataFrame =
    bucketPairs(bandKeyRows(d, numHashes, bands), maxBucketSize)

  /** Hashed shingle sets ("id", "hs") for a text column — token hashes are
    * staged as their own projection so tokenization runs once per row. */
  private[graft] def hashedShingles(df: DataFrame, idCol: String,
      textCol: String, shingleLen: Int): DataFrame =
    df.select(col(idCol).as("id"),
        TextAnalysis.tokenHashes(col(textCol)).as("th"))
      .select(col("id"),
        TextAnalysis.shingleHashesFromTokens(col("th"), shingleLen).as("hs"))

  /** MinHash-LSH near-duplicate pairs with exact confirmation: candidates
    * from banding, then exact shingle-set Jaccard, keep >= `threshold`.
    * Output: (id_a, id_b, jaccard) — deterministic, so it is oracle-checkable
    * against an exhaustive exact computation. Candidate recall: P[detect] =
    * 1-(1-j^r)^b; at the defaults (r=4, b=32) j=0.7 → 0.9998, j=0.9 → ~1. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, threshold: Double = 0.5,
      numHashes: Int = 128, bands: Int = 32): DataFrame =
    materialized { cache =>
      val sh = cache(hashedShingles(df, idCol, textCol, shingleLen))
      val cells = shCells(sh) // fills the shared cache AND sizes the dispatch
      if (LocalDispatch.fitsCells(cells)) {
        val sets = collectSets(sh)
        val cand = localMinhashCandidates(sets, numHashes, bands,
          maxBucketSize = 10000)
        localConfirmJaccard(df.sparkSession, sets, cand, threshold)
      } else
        confirmJaccard(cache(minhashCandidates(sh, numHashes, bands)), sh,
          threshold)
    }

  /** Join candidate pairs back to their shingle sets and keep pairs with
    * exact Jaccard >= threshold. Only candidate pairs are scored — never
    * all-pairs. Melt-join-regroup shape: the pair list unpivots to one row
    * per (pair, role), joins the shingle table ONCE (pairs side is small →
    * AQE broadcasts it; the corpus is scanned once, not once per role),
    * then regroups the two arrays per pair. */
  def confirmJaccard(pairs: DataFrame, shingles: DataFrame,
      threshold: Double): DataFrame = {
    val pairStruct = struct(col("id_a"), col("id_b")).as("pair")
    val melted = pairs.select(col("id_a").as("id"), pairStruct, lit("a").as("role"))
      .unionAll(pairs.select(col("id_b").as("id"), pairStruct, lit("b").as("role")))
    // |A∪B| = |A|+|B|−|A∩B|: hs arrays are DISTINCT-element sets
    // (shingleHashesFromTokens ends in array_distinct), so the union
    // size is arithmetic and array_union's per-pair allocate+re-dedup
    // of both arrays is dropped (r17, guide §2.3 narrow-the-work).
    // Measured NEUTRAL at sf0.1 (43k candidate pairs: min-of-3 1.02 s
    // old vs 1.07 s new — stage overhead dominates at gate scale); the
    // win is the removed O(|A|+|B|) allocation per candidate pair,
    // which is real at payload scale. Same IEEE division as
    // TextAnalysis.jaccard (double / double), identical result bit for
    // bit; the union===0 guard keeps the empty-set convention (0.0).
    val inter = size(array_intersect(col("hs_a"), col("hs_b")))
      .cast("double")
    val union = size(col("hs_a")) + size(col("hs_b")) -
      size(array_intersect(col("hs_a"), col("hs_b")))
    val jac = when(union === 0, lit(0.0)).otherwise(inter / union)
    melted.join(shingles, "id")
      .groupBy(col("pair"))
      .agg(
        first(when(col("role") === "a", col("hs")), ignoreNulls = true).as("hs_a"),
        first(when(col("role") === "b", col("hs")), ignoreNulls = true).as("hs_b"))
      .select(col("pair.id_a").as("id_a"), col("pair.id_b").as("id_b"),
        round(jac, 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash per id from hashed shingles ("id", "hs"): bit j of the
    * result is 1 iff the majority of shingle hashes have bit j set.
    * mapPartitions (JIT'd bit-count loop), narrow, NO shuffle — the
    * explode+groupBy formulation with 64 sum aggregates cost ~19 s on the
    * 5000-doc bench (the wide aggregate loses whole-stage codegen); this
    * runs in under a second. Empty shingle sets dropped. */
  def simhashFromHashes(d: DataFrame): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    d.select(col("id").cast("long"), col("hs")).as[(Long, Array[Long])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, hs) =>
          if (hs.isEmpty) Iterator.empty
          else Iterator.single((id, simhashOf(hs)))
        }
      }.toDF("id", "simhash")
  }

  /** Per-document SimHash — shared by the distributed kernel and the
    * r18 driver kernel (`hs` non-empty). */
  private[operators] def simhashOf(hs: Array[Long]): Long = {
    val counts = new Array[Int](64)
    var si = 0
    while (si < hs.length) {
      val h = hs(si)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      si += 1
    }
    var sim = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) > 0) sim |= (1L << j)
      j += 1
    }
    sim
  }

  /** SimHash near-duplicate pairs: band the 64-bit signature into `chunks`
    * pieces (pigeonhole: hamming < chunks ⇒ some chunk equal), bucket-group
    * on (chunkIdx, chunkValue), confirm hamming <= maxHamming, then exact
    * Jaccard >= threshold (same output contract as [[minhashPairs]]).
    *
    * Chunk width = 64/chunks bits drives bucket fan-out: 2^width key values
    * per band. chunks=16 (4-bit keys) puts every doc in ~n/16-sized buckets
    * — quadratic pair expansion, 8M candidate pairs / 18 s at just 5000
    * docs (measured). The default 8 chunks × 8 bits keeps buckets ~n/256
    * and still guarantees detection at hamming <= 7, which covers the
    * J ≳ 0.8 band SimHash is actually good for; production 100 TB configs
    * go further (4 × 16-bit, hamming <= 3). */
  /** Hamming-confirmed SimHash candidate pairs over hashed shingles
    * ("id", "hs"). */
  def simhashCandidates(sh: DataFrame, maxHamming: Int = 7, chunks: Int = 8,
      maxBucketSize: Int = 10000, cache: Cache = identity): DataFrame = {
    require(64 % chunks == 0, "chunks must divide 64")
    val w = 64 / chunks
    // sig is referenced from 3 branches (banding explode + both sides of
    // the hamming confirm) — cached by the pairs entry points.
    val sig = cache(simhashFromHashes(sh))
    val exploded = sig.select(col("id"),
        explode(array((0 until chunks).map(i =>
          struct(lit(i).as("band"),
            shiftright(col("simhash"), i * w)
              .bitwiseAND((1L << w) - 1).as("key"))): _*)).as("c"))
      .select(col("id"), col("c.band").as("band"), col("c.key").as("key"))
    val cand = bucketPairs(exploded, maxBucketSize)
    // hamming confirm needs both signatures back; cand is small → broadcast
    val xa = sig.select(col("id").as("id_a"), col("simhash").as("sim_a"))
    val xb = sig.select(col("id").as("id_b"), col("simhash").as("sim_b"))
    cand.join(xa, "id_a").join(xb, "id_b")
      .filter(bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= maxHamming)
      .select(col("id_a"), col("id_b"))
  }

  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, maxHamming: Int = 7, chunks: Int = 8,
      threshold: Double = 0.5, maxBucketSize: Int = 10000): DataFrame =
    materialized { cache =>
      val sh = cache(hashedShingles(df, idCol, textCol, shingleLen))
      val cells = shCells(sh) // fills the shared cache AND sizes the dispatch
      if (LocalDispatch.fitsCells(cells)) {
        val sets = collectSets(sh)
        val cand = localSimhashCandidates(sets, maxHamming, chunks,
          maxBucketSize)
        localConfirmJaccard(df.sparkSession, sets, cand, threshold)
      } else
        confirmJaccard(
          cache(simhashCandidates(sh, maxHamming, chunks, maxBucketSize,
            cache)),
          sh, threshold)
    }

  /** Ensemble near-dup: MinHash ∪ SimHash candidates → one exact-Jaccard
    * confirm. The production pattern when recall matters: SimHash-64's
    * per-bit majorities are noisy on low-structure text (measured: misses
    * J≈0.95 pairs at hamming 8-9), while MinHash banding recall at these
    * thresholds is ~1 — the union keeps MinHash's recall guarantee and
    * SimHash's cheap early signal; the confirm step dedups and filters
    * false positives from both. */
  def ensemblePairs(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, threshold: Double = 0.5,
      numHashes: Int = 128, bands: Int = 32,
      maxHamming: Int = 7, chunks: Int = 8): DataFrame =
    materialized { cache =>
      val sh = cache(hashedShingles(df, idCol, textCol, shingleLen))
      val cells = shCells(sh) // fills the shared cache AND sizes the dispatch
      if (LocalDispatch.fitsCells(cells)) {
        val sets = collectSets(sh)
        val cand = localMinhashCandidates(sets, numHashes, bands,
          maxBucketSize = 10000)
        cand.addAll(localSimhashCandidates(sets, maxHamming, chunks,
          maxBucketSize = 10000))
        localConfirmJaccard(df.sparkSession, sets, cand, threshold)
      } else {
        val cand = cache(minhashCandidates(sh, numHashes, bands)
          .unionAll(simhashCandidates(sh, maxHamming, chunks, cache = cache))
          .distinct())
        confirmJaccard(cand, sh, threshold)
      }
    }

  // ------------------------------------------- r18 driver kernels

  // When the total shingle cells (Σ|hs|) fit `LocalDispatch.fitsCells`
  // the sketch pipelines run on the driver (guide §1.2): signature
  // computation is narrow, but the banding groupBy, the pair expansion's
  // repartition + distinct and the melt-join confirm are 5+ shuffle
  // stages of pure fixed cost on gate-scale corpora (2–3.4 s per call at
  // sf0.1, measured), while the same arithmetic over the collected sets
  // is a few hundred ms. Over the bound the distributed pipelines run
  // unchanged; the per-doc signature kernels are SHARED functions and
  // the band keys are computed with Spark's own XXH64, so local ≡
  // distributed bit for bit (spec-pinned).

  /** Σ|hs| over a (cached) hashed-shingle frame — ONE job that also
    * fills the cache (null hs counts 0, like the exploded forms). */
  private[operators] def shCells(sh: DataFrame): Long = {
    val r = sh.agg(sum(size(col("hs")))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Collected (id, SORTED hs) rows for the driver kernels. Null ids
    * drop (the distributed pair expansion's collect_set does the same);
    * null sets read as empty. Sorting enables the O(|A|+|B|)
    * merge-intersect in the confirms — set contents are unchanged, and
    * the signature kernels are order-independent (min / per-bit
    * majorities over the same multiset). */
  private[operators] def collectSets(sh: DataFrame): Array[(Long, Array[Long])] = {
    val spark = sh.sparkSession
    import spark.implicits._
    sh.select(col("id").cast("long"), col("hs"))
      .filter(col("id").isNotNull)
      .as[(Long, Array[Long])].collect()
      .map { case (id, hs0) =>
        val hs = if (hs0 == null) Array.empty[Long] else hs0.clone()
        java.util.Arrays.sort(hs)
        (id, hs)
      }
  }

  /** |A ∩ B| of two sorted long arrays. */
  private[operators] def intersectCount(a: Array[Long], b: Array[Long]): Long = {
    var i = 0; var j = 0; var n = 0L
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { n += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    n
  }

  /** Spark's `round(col, 6)` on DoubleType, replicated digit for digit
    * (java BigDecimal.valueOf + HALF_UP — the same canonical-string
    * construction Catalyst uses). */
  private[operators] def round6(v: Double): Double =
    java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The band key the distributed [[bandKeys]] column computes —
    * `xxhash64(lit(band), slice(sig, band·r+1, r))` — via Spark's own
    * XXH64 (seed 42, int then array elements, the HashExpression
    * iteration order), so the grouping is value-identical. */
  private[operators] def bandKeyOf(band: Int, sig: Array[Long],
      r: Int): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    var h = XXH64.hashInt(band, 42L)
    var i = band * r
    val end = i + r
    while (i < end) { h = XXH64.hashLong(sig(i), h); i += 1 }
    h
  }

  /** In-group pair expansion shared by the local candidate generators —
    * [[bucketPairs]] semantics: sorted distinct ids, groups of
    * 2..maxBucketSize only, pairs (a < b), global dedup via the set. */
  private def expandGroup(lst: java.util.ArrayList[Long],
      maxBucketSize: Int, into: java.util.HashSet[(Long, Long)]): Unit = {
    if (lst.size >= 2 && lst.size <= maxBucketSize) {
      val ids = new Array[Long](lst.size)
      var i = 0
      while (i < ids.length) { ids(i) = lst.get(i); i += 1 }
      java.util.Arrays.sort(ids)
      i = 0
      while (i < ids.length) {
        var j = i + 1
        while (j < ids.length) { into.add((ids(i), ids(j))); j += 1 }
        i += 1
      }
    }
  }

  /** Driver kernel of [[minhashCandidates]]: the shared signature
    * kernel per doc, Spark-identical band keys, bucketPairs expansion. */
  private[operators] def localMinhashCandidates(sets: Array[(Long, Array[Long])],
      numHashes: Int, bands: Int,
      maxBucketSize: Int): java.util.HashSet[(Long, Long)] = {
    val sd = seeds(numHashes)
    val r = numHashes / bands
    val groups = new java.util.HashMap[(Int, Long), java.util.ArrayList[Long]]()
    sets.foreach { case (id, hs) =>
      if (hs.nonEmpty) {
        val sig = minhashSigOf(hs, sd)
        var b = 0
        while (b < bands) {
          val k = (b, bandKeyOf(b, sig, r))
          var lst = groups.get(k)
          if (lst == null) {
            lst = new java.util.ArrayList[Long](); groups.put(k, lst)
          }
          lst.add(id)
          b += 1
        }
      }
    }
    val cand = new java.util.HashSet[(Long, Long)]()
    groups.forEach((_, lst) => expandGroup(lst, maxBucketSize, cand))
    cand
  }

  /** Driver kernel of [[simhashCandidates]]: shared per-doc SimHash,
    * the same chunk keys ((sim >> i·w) & mask), bucketPairs expansion,
    * the same Hamming confirm. */
  private def localSimhashCandidates(sets: Array[(Long, Array[Long])],
      maxHamming: Int, chunks: Int,
      maxBucketSize: Int): java.util.HashSet[(Long, Long)] = {
    require(64 % chunks == 0, "chunks must divide 64")
    val w = 64 / chunks
    val mask = (1L << w) - 1
    val sims = new java.util.HashMap[Long, Long]()
    val groups = new java.util.HashMap[(Int, Long), java.util.ArrayList[Long]]()
    sets.foreach { case (id, hs) =>
      if (hs.nonEmpty) {
        val sim = simhashOf(hs)
        sims.put(id, sim)
        var i = 0
        while (i < chunks) {
          val k = (i, (sim >> (i * w)) & mask)
          var lst = groups.get(k)
          if (lst == null) {
            lst = new java.util.ArrayList[Long](); groups.put(k, lst)
          }
          lst.add(id)
          i += 1
        }
      }
    }
    val all = new java.util.HashSet[(Long, Long)]()
    groups.forEach((_, lst) => expandGroup(lst, maxBucketSize, all))
    val cand = new java.util.HashSet[(Long, Long)]()
    all.forEach { case (a, b) =>
      if (java.lang.Long.bitCount(sims.get(a) ^ sims.get(b)) <= maxHamming)
        cand.add((a, b))
    }
    cand
  }

  /** Driver form of [[confirmJaccard]] over collected sorted sets —
    * identical |A∩B| / (|A|+|B|−|A∩B|) arithmetic, identical 6-dp
    * rounding, same ≥ threshold compare. */
  private[operators] def localConfirmJaccard(spark: org.apache.spark.sql.SparkSession,
      sets: Array[(Long, Array[Long])],
      cand: java.util.HashSet[(Long, Long)], threshold: Double): DataFrame = {
    import spark.implicits._
    localConfirmJaccardRows(sets, cand, threshold)
      .toDF("id_a", "id_b", "jaccard")
  }

  /** Row form of [[localConfirmJaccard]] for callers that remap the
    * output columns (CorpusDiff.rekeyed). */
  private[operators] def localConfirmJaccardRows(
      sets: Array[(Long, Array[Long])],
      cand: java.util.HashSet[(Long, Long)],
      threshold: Double): Seq[(Long, Long, Double)] = {
    val byId = new java.util.HashMap[Long, Array[Long]]()
    sets.foreach { case (id, hs) => byId.put(id, hs) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    cand.forEach { case (a, b) =>
      val ha = byId.get(a); val hb = byId.get(b)
      val na = ha.length.toLong; val nb = hb.length.toLong
      val inter = intersectCount(ha, hb)
      val union = na + nb - inter
      val jac = if (union == 0L) 0.0 else inter.toDouble / union.toDouble
      val rounded = round6(jac)
      if (rounded >= threshold) out += ((a, b, rounded))
    }
    out.toSeq
  }
}
