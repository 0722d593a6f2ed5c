package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Plan-hygiene invariants — the properties that keep these queries viable
  * at 100 TB, asserted against the actual physical plans so a regression
  * (a lost pushdown, a sneaky cross product, a de-broadcast) fails CI
  * rather than surfacing as a cluster bill. */
class PlanAuditSpec extends SparkSpec {

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf0001)

  private def executedPlan(df: DataFrame): String = {
    df.collect() // materialize so AQE settles on the final plan
    df.queryExecution.executedPlan.toString
  }

  test("q_f1: window filter pushes a raw-column range into the parquet scan") {
    val plan = executedPlan(q("q_f1_window_filter"))
    assert(plan.contains("PushedFilters: [GreaterThanOrEqual(o_orderdate")
      || plan.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual"),
      s"no pushed range on o_orderdate:\n${plan.take(2000)}")
  }

  test("q_p2: column pruning — scan reads only the 3 projected columns") {
    val plan = executedPlan(q("q_p2_project"))
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.contains("c_custkey") && readSchema.contains("c_acctbal")
      && readSchema.contains("c_nationkey"))
    assert(!readSchema.contains("c_name") && !readSchema.contains("c_comment"),
      s"scan reads unprojected columns: $readSchema")
  }

  test("q_j4: AQE chooses a broadcast join for the dim side (no forced hint)") {
    val plan = executedPlan(q("q_j4_join_agg"))
    assert(plan.contains("BroadcastHashJoin"),
      s"dim join did not broadcast:\n${plan.take(2000)}")
  }

  test("near-dup and ANN queries never contain a cross product") {
    // r8: q_v2/q_v4 became recall REPORTS that embed the exact
    // brute-force baseline on purpose (|queries|=5 broadcast against the
    // corpus — the q_v1 shape, bounded by the query-set size, still no
    // shuffle cartesian). The audit therefore distinguishes: a
    // CartesianProduct (shuffle cartesian, corpus × corpus) is banned
    // everywhere; a BroadcastNestedLoopJoin is banned in the INDEX
    // queries' candidate generation, which stays equi-join banding —
    // pinned by auditing the raw index operators separately below.
    for (name <- Seq("q_d2_minhash_neardup", "q_d3_neardup_ensemble",
        "q_v2_ann_lsh", "q_d4x_embedding_neardup_lsh", "q_v4_ann_ivf",
        "q_v12_ann_mips", "q_lp_training_prep")) {
      val plan = executedPlan(q(name))
      assert(!plan.contains("CartesianProduct"),
        s"$name plan contains a shuffle cartesian")
    }
    // the index paths themselves (candidate generation + scoring) must
    // be pure equi-joins — no loop join of any kind
    val e = graft.Tables(spark, sf0001, "embeddings")
    for ((label, df) <- Seq(
        "lshTopK" -> graft.operators.Similarity.lshTopK(
          e.filter(col("vec_id") < 5), e.filter(col("vec_id") >= 5), k = 3),
        "ivfTopK" -> graft.operators.Similarity.ivfTopK(
          e.filter(col("vec_id") < 5), e.filter(col("vec_id") >= 5), k = 3),
        // r10: IVF-PQ — coarse lists meet probes via cluster equi-join,
        // ADC scoring joins per-query LUTs and m-int code arrays by key
        "ivfPqTopK" -> graft.operators.IvfPq.ivfPqTopK(
          e.filter(col("vec_id") < 5), e.filter(col("vec_id") >= 5),
          k = 3, nlist = 8, nprobe = 2))) {
      val plan = executedPlan(df)
      assert(!plan.contains("CartesianProduct")
        && !plan.contains("BroadcastNestedLoopJoin"),
        s"$label plan contains a cross product")
    }
  }

  test("partitioned sink layout: partition filter prunes directories at the scan") {
    // the per-window parquet layout (SURVEY §7.1 M5; IdempotentAppend's
    // partCols) exists so window-scoped re-reads touch one directory —
    // pin that the filter actually becomes a PartitionFilter and only
    // the matching directory's files are opened
    import org.apache.spark.sql.functions.{col, input_file_name}
    val dir = java.nio.file.Files.createTempDirectory("graft_part")
      .toString + "/sink"
    spark.range(0, 1000)
      .select(col("id"), (col("id") % 10).as("win"))
      .write.mode("overwrite").partitionBy("win").parquet(dir)
    val df = spark.read.parquet(dir).filter(col("win") === 3)
    val plan = executedPlan(df)
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*win[^\\]]*\\].*"),
      s"no partition filter in:\n$plan")
    import spark.implicits._
    val files = df.select(input_file_name()).distinct().as[String].collect()
    assert(files.nonEmpty && files.forall(_.contains("win=3")),
      s"scan touched non-pruned files: ${files.mkString(",")}")
  }

  test("r8 pair/graph operators: equi-joins only, no cross product of any kind") {
    // SetSimJoin's prefix join, FuzzyJoin's deletion blocking and
    // Triangles' wedge closure are all bucket/key joins by construction —
    // a loop join appearing in any of them is the all-pairs trap
    // re-entering (the 100 TB killer these designs exist to avoid)
    for (name <- Seq("q_d9_setsim_exact", "q_j10_fuzzy_match",
        "q_e15_safe_split", "q_j11_fuzzy_link", "q_qr7_contamination_matrix",
        "q_t25_vocab_encode")) {
      val plan = executedPlan(q(name))
      assert(!plan.contains("CartesianProduct"),
        s"$name plan contains a shuffle cartesian")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plan contains a loop join")
    }
    // Triangles combines its three ONE-ROW aggregates via broadcast loop
    // joins (the Drift/vocab shape — bounded by construction); the
    // corpus-scale wedge/closure joins must still never be a shuffle
    // cartesian
    val g2 = executedPlan(q("q_g2_triangles"))
    assert(!g2.contains("CartesianProduct"),
      "q_g2 plan contains a shuffle cartesian")
  }

  test("LM perplexity: model joins are equi-joins; the only loop join is the 1-row vocab") {
    // The bigram-model scoring join (per-doc bigrams vs c2/c1 counts)
    // must hash-partition on the token keys — at 100 TB a nested loop
    // there is quadratic. The single BroadcastNestedLoopJoin allowed is
    // the 1-row vocabulary-size scalar (the TF-IDF corpus-stats pattern).
    for (name <- Seq("q_t16_lm_perplexity", "q_t17_ccnet_buckets",
        "q_d7_semantic_prune")) {
      val plan = executedPlan(q(name))
      assert(!plan.contains("CartesianProduct"),
        s"$name plan contains a cartesian product")
      // count in the FINAL section only — AQE's toString repeats the
      // tree under "== Initial Plan ==", which would double-count
      val finalPlan = plan.split("== Initial Plan ==").head
      val loops = "BroadcastNestedLoopJoin".r.findAllIn(finalPlan).size
      assert(loops <= 1, s"$name has $loops loop joins (max 1 allowed — " +
        s"the 1-row vocab broadcast):\n${finalPlan.take(2000)}")
    }
  }

  test("paragraph dedup: winner election partial-aggregates; no cross product") {
    // The keeper join must hash on (sha, id, pos) and the winner
    // election must carry a partial HashAggregate — the property that
    // stops a corpus-wide boilerplate unit serializing one task.
    val plan = executedPlan(q("q_d8_paragraph_dedup"))
    assert(!plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"),
      s"q_d8 plan contains a cross product")
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("partial_min")
      || finalPlan.contains("partial_min".toUpperCase),
      s"q_d8 winner election lost its partial aggregate:\n${finalPlan.take(2000)}")
  }

  test("DSIR: weight table broadcasts into the scoring join; only 1-row loop joins") {
    // The fitted model is ≤ m rows and must BROADCAST against the
    // corpus-sized feature stream — a shuffled join there repartitions
    // the whole corpus by bucket (m distinct keys: catastrophic skew).
    // q_e9 routes through the materialized-result cache, whose
    // InMemoryRelation print nests whole AQE subtrees — count loop
    // joins on the UNCACHED fit+score composition instead (the same
    // operator plan without cache-print duplication): the only ones
    // allowed are the 1-row totals broadcasts — nt×nr construction,
    // totals into the weight fit, totals into the scoring smoothing
    // default — three, each 1-row.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val (w, tot) = graft.operators.Dsir.importanceWeights(docs,
      docs.filter(org.apache.spark.sql.functions.col("lang") === "en"),
      "doc_id", "text", 1024)
    val uncached = executedPlan(
      graft.operators.Dsir.score(docs, "doc_id", "text", w, tot, 1024))
    assert(!uncached.contains("CartesianProduct"),
      "DSIR score plan contains a cartesian product")
    val finalPlan = uncached.split("== Initial Plan ==").head
    assert(finalPlan.contains("BroadcastHashJoin"),
      s"DSIR weight join is not broadcast:\n${finalPlan.take(2000)}")
    val loops = "BroadcastNestedLoopJoin".r.findAllIn(finalPlan).size
    assert(loops <= 3, s"DSIR has $loops loop joins (max 3 — the 1-row " +
      s"totals broadcasts):\n${finalPlan.take(2000)}")
    // and the cached query itself stays cartesian-free
    val plan = executedPlan(q("q_e9_dsir_select"))
    assert(!plan.contains("CartesianProduct"),
      "q_e9 plan contains a cartesian product")
  }

  test("as-of and range joins plan as hash joins on the real tables (no nested loop)") {
    // op-level specs pin this on synthetic frames; these pin the REAL
    // query plans (parquet scans, AQE on) — the inequality predicates
    // must ride a window / a bucket equi-join, never a per-key loop
    for (name <- Seq("q_j5_asof_join", "q_j5x_asof_chunked",
        "q_j6_range_join", "q_j7_interval_overlap")) {
      val plan = executedPlan(q(name))
      assert(!plan.contains("CartesianProduct")
        && !plan.contains("BroadcastNestedLoopJoin"),
        s"$name degenerated to a pair scan:\n${plan.take(2000)}")
    }
  }

  test("q_d3 ensemble reads the documents parquet ~once, not 9x (r2 #1)") {
    // Round 2's plan re-executed the shared shingle/signature subtrees 9×
    // (9 parquet scans, 28 s of the bench). With the shared frames
    // persisted, the file is read once to fill the cache (+ footers).
    // Measured at the filesystem layer — FileSystem statistics count real
    // I/O; cached reads don't touch the FS.
    import scala.jdk.CollectionConverters._
    val fileLen = {
      val d = new java.io.File(s"$sf0001/documents.parquet")
      if (d.isDirectory) d.listFiles().map(_.length()).sum else d.length()
    }
    def bytesRead: Long =
      org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
        .iterator().asScala
        .filter(_.getScheme == "file")
        .map(s => Option(s.getLong("bytesRead")).map(_.longValue()).getOrElse(0L))
        .sum
    spark.read.parquet(s"$sf0001/documents.parquet").schema // footer warm
    val before = bytesRead
    val out = q("q_d3_neardup_ensemble")
    out.collect()
    val delta = bytesRead - before
    assert(delta <= 4 * fileLen,
      f"ensemble read $delta bytes = ${delta.toDouble / fileLen}%.1fx the " +
        "documents parquet — shared subplans are re-executing again")
  }

  test("coalescingDateWindow pushes Or(IsNotNull, range) for real columns") {
    // F2 at scale (r2 plan-audit note): with a real primary column (the
    // reference's invoice TxnDate shape) the derived disjunction reaches
    // the parquet scan — row-group skipping on both branches.
    import org.apache.spark.sql.functions._
    val dir = tmpDir("f2push")
    spark.range(200).select(
        col("id"),
        when(col("id") % 2 === 0,
          concat(lit("1995-06-"),
            lpad(((col("id") % 28) + 1).cast("string"), 2, "0")))
          .as("txn_date"),
        to_timestamp(concat(lit("199"), (col("id") % 10).cast("string"),
          lit("-03-15 12:00:00"))).as("last_updated"))
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val filtered = graft.operators.WindowFilters.coalescingDateWindow(
      df, col("txn_date"), col("last_updated"), "1995-01-01", "1995-12-31")
    // semantics: even ids always pass (primary in range); odd ids pass iff
    // last_updated lands in 1995 → id % 10 == 5
    val got = filtered.select("id").collect().map(_.getLong(0)).toSet
    val want = (0L until 200L).filter(i => i % 2 == 0 || i % 10 == 5).toSet
    assert(got == want)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [Or(IsNotNull(txn_date)"),
      s"derived disjunction not pushed:\n${plan.take(2000)}")
    // and the oracle-checked staged variant pushes the same disjunction
    val qPlan = executedPlan(q("q_f2x_coalesce_pushdown"))
    assert(qPlan.contains("Or(IsNotNull(txn_date)"),
      s"q_f2x lost the pushed disjunction:\n${qPlan.take(2000)}")
  }

  test("aggregate battery stays in whole-stage codegen") {
    val plan = executedPlan(q("q_a6_groupby_multi"))
    assert(plan.contains("*(") , "TPC-H Q1 skeleton lost codegen")
  }

  test("r9 operators: no cross product; ExactSubstr survivors anti-join") {
    for (name <- Seq("q_d10_exact_substr", "q_v8_kmeans",
        "q_e18_interleave", "q_qr9_source_divergence",
        "q_a15_volume_trend")) {
      val plan = executedPlan(q(name))
      assert(!plan.contains("CartesianProduct"),
        s"$name plan contains a shuffle cartesian")
    }
    // the coverage subtraction is a LEFT ANTI hash join on (id, tp) —
    // a loop-join here would be corpus × covered
    val d10 = executedPlan(q("q_d10_exact_substr"))
    assert(d10.contains("LeftAnti"), s"no anti-join in q_d10 plan")
    assert(!d10.contains("NestedLoop"), s"q_d10 anti-join went loop-shaped")
  }

  test("r10 operators: no cross product; BPE pair counts partial-aggregate") {
    for (name <- Seq("q_m6_perceptual_neardup", "q_t28_bpe_learn",
        "q_v10_pq_codes", "q_d11_cdc_chunk_dedup",
        "q_a16_mann_kendall")) {
      val plan = executedPlan(q(name))
      assert(!plan.contains("CartesianProduct")
        && !plan.contains("BroadcastNestedLoopJoin"),
        s"$name plan contains a cross product")
    }
    // the trainer's per-round shape: adjacent-pair counts must carry a
    // partial HashAggregate (map-side combine) — corpus-wide hot pairs
    // ("th", "e ") would otherwise serialize into single reduce tasks
    val docs = graft.Tables(spark, sf0001, "documents")
    val pairs = graft.operators.BpeLearn.vocab(docs, "text")
      .select(col("word"), org.apache.spark.sql.functions.split(
        col("word"), "").as("syms"), col("freq"))
      .filter(org.apache.spark.sql.functions.size(col("syms")) >= 2)
    val plan = executedPlan(graft.operators.BpeLearn.pairCounts(pairs))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("partial_sum"),
      s"BPE pair counting lost its map-side combine:\n${finalPlan.take(1500)}")
  }

  test("label propagation round: no window, plurality counts partial-aggregate") {
    // q_g5's scale claim: the per-round argmax is a struct-max
    // AGGREGATE, not a row_number window (a hot vertex's label multiset
    // would sort in one task), and the (vertex, label) plurality count
    // carries a map-side combine. Pin the PRE-checkpoint round frame.
    import org.apache.spark.sql.functions.{col, expr}
    val dir = spark.range(0, 1000).select(
      (col("id") % 97).as("src"), (col("id") % 89).as("dst"))
    val labels = spark.range(0, 97).select(
      col("id").as("v"), col("id").as("lbl"))
    val out = graft.operators.LabelProp.roundUpdate(dir, labels)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Window"),
      s"label-prop argmax went window-shaped:\n${plan.take(1500)}")
    assert(plan.contains("partial_count"),
      s"plurality count lost its map-side combine:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"label-prop round contains a cross product")
    val g5 = executedPlan(q("q_g5_label_prop"))
    assert(!g5.contains("CartesianProduct") &&
      !g5.contains("BroadcastNestedLoopJoin"),
      "q_g5 plan contains a cross product")
  }

  test("Hilbert walk stays codegen'd; top-50 is TakeOrdered, not a global sort") {
    // r11: the walk is ONE native expression (graft_hilbert) inside a
    // codegen'd project — the r10 24-projection chain fused into a 21KB
    // whole-stage method HotSpot refused to JIT (HilbertProbe); the
    // loop form must stay both present and inside codegen. Top-50 must
    // plan as a top-k heap, never a full sort.
    val df = q("q_x15_hilbert")
    // the physical toString elides aggregate result expressions, so the
    // native-expression presence pins on the optimized plan
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("graft_hilbert"),
      s"q_x15 no longer uses the native hilbert expression:\n${opt.take(1200)}")
    val plan = executedPlan(df)
    assert(plan.contains("*("),
      s"hilbert projection chain fell out of codegen:\n${plan.take(1200)}")
    assert(plan.contains("TakeOrderedAndProject"),
      s"q_x15 top-50 planned as a global sort:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Join"),
      "q_x15 plan grew a join")
  }

  test("RRF fusion: page-sized inputs, the only cross product is the 1-query broadcast") {
    // the fusion must join two TOP-K PAGES (TakeOrdered/limit frames),
    // never corpora: the BM25 page plans as TakeOrderedAndProject, the
    // dense page's only nested-loop is the deliberate corpus × ONE-ROW
    // broadcast of the query vector (bruteForceTopK's scoring shape),
    // and no unbroadcast cartesian appears anywhere
    val plan = executedPlan(q("q_t29_hybrid_rrf"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"q_t29 lexical page lost its top-k heap:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct"),
      "q_t29 plan contains an unbroadcast cartesian")
    // AQE's toString repeats the tree (Final + Initial) — count the
    // final section only; the two permitted nested-loops are 1-row
    // broadcasts by construction (BM25's corpus stats, the dense
    // query vector)
    val finalPlan = plan.split("== Initial Plan ==").head
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(finalPlan).length
    assert(bnlj <= 2,
      s"q_t29 grew $bnlj nested-loop joins (expected only the two 1-row broadcasts)")
  }

  test("KN perplexity: model joins are equi-joins, the only cross is the 1-row stats") {
    // the KN additions over add-one (continuation + context tables) must
    // enter as hash equi-joins off the reduced type table — the only
    // nested-loop is the deliberate (T, V) 1-row broadcast
    val plan = executedPlan(q("q_t30_kn_perplexity"))
    assert(!plan.contains("CartesianProduct"),
      "q_t30 plan contains an unbroadcast cartesian")
    // two permitted 1-row nested-loops: T × V (1-row × 1-row) and the
    // (T, V) broadcast onto the scored positions
    val finalPlan = plan.split("== Initial Plan ==").head
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(finalPlan).length
    assert(bnlj <= 2,
      s"q_t30 grew $bnlj nested-loop joins (expected only the two 1-row stats crosses)")
  }

  test("PCA projection: the component rides as a literal — no join, no shuffle") {
    // fitPc1's corpus work is one kernel pass + one grid aggregation;
    // the projection the battery materializes must be a NARROW
    // projection over the scan (pc enters as a literal) — any Join or
    // Exchange here means the model round-tripped through a shuffle
    val plan = executedPlan(q("q_v13_pca_pc1"))
    assert(!plan.contains("Join"), s"q_v13 projection grew a join:\n" +
      plan.take(1200))
    // the only exchange is the battery's ORDER BY vec_id range sort —
    // no hash shuffle means no hidden aggregation/join in the scoring
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(!finalPlan.contains("hashpartitioning"),
      s"q_v13 projection hash-shuffles:\n${finalPlan.take(1200)}")
    assert(finalPlan.contains("aggregate(zip_with"),
      "q_v13 lost the literal-component dot projection")
  }

  test("hard negatives: struct-extreme aggregation, not a per-anchor window") {
    // both triplet legs must come from map-side-combinable max(struct)
    // aggregations (the L79 hot-group lesson) — a window row_number
    // here would serialize each anchor's candidate list into one task
    val plan = executedPlan(q("q_v14_hard_negatives"))
    assert(!plan.contains("Window"),
      s"q_v14 selection regressed to a window:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct"),
      "q_v14 plan contains an unbroadcast cartesian")
  }

  test("DP counts: one aggregation, noise as narrow projection — no join at all") {
    // the release must be the grouped count plus per-GROUP-row md5/ln
    // arithmetic: any Join/Window means noise round-tripped through a
    // second shuffle
    val plan = executedPlan(q("q_p6_dp_counts"))
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"q_p6 grew a join or window:\n${plan.take(1200)}")
    val finalPlan = plan.split("== Initial Plan ==").head
    assert("HashAggregate".r.findAllIn(finalPlan).length <= 2,
      s"q_p6 aggregates more than the one partial+final count:\n" +
        finalPlan.take(1200))
  }

  test("CMS: estimates broadcast-join the grid-sized sketch") {
    // the sketch is ≤ d·w rows — estimate lookups must broadcast it,
    // never sort-merge the probe side against it
    val plan = executedPlan(q("q_qr12_cms_heavy"))
    assert(plan.contains("BroadcastHashJoin"),
      s"q_qr12 estimate lost the broadcast:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct"),
      "q_qr12 plan contains a cartesian")
  }

  test("Luhn audit: per-candidate fold, single scan family, no cartesian") {
    // candidates explode from the regex ONCE; the Luhn fold evaluates
    // per candidate row (bounded per doc) and the only join is the
    // LEFT join-back of the per-doc aggregate
    val plan = executedPlan(q("q_t31_luhn_audit"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q_t31 plan contains a cross product:\n${plan.take(1200)}")
    assert(!plan.contains("Window"), "q_t31 grew a window")
  }

  test("KS drift: no grid cross-join, no single-task global window") {
    // the operator's whole scale claim is what it does NOT do: the
    // oracle's source×value CROSS JOIN grid, and a partition-less
    // window for the corpus CDF. Pin the PRE-checkpoint build.
    val docs = graft.Tables(spark, sf0001, "documents")
    val (out, chain) = graft.operators.KsDrift.buildUncheckpointed(
      docs, "source", "n_chars", cdfPartitions = 8)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"KS drift grew the grid cross product:\n${plan.take(1500)}")
    // every window must carry a partition spec: windowspecdefinition's
    // first arg is the partition column list — a GLOBAL window renders
    // as windowspecdefinition(<order>#... ASC, i.e. no partition cols
    val globalWindows = "windowspecdefinition\\(\\w+#\\d+L? ASC".r
      .findAllIn(plan).toSeq
    assert(globalWindows.isEmpty,
      s"KS drift grew a partition-less global window: $globalWindows")
    chain.foreach(graft.operators.Checkpoints.release)
  }

  test("k-means final assignment is a narrow projection (no join, no window)") {
    // distance argmin against literal centroids: the PRE-CHECKPOINT
    // assignment frame (fitUncheckpointed — fit()'s own output plans
    // as a bare RDD scan, which would make this pin vacuous) must
    // contain no join, window, or exchange — the operator's scale
    // claim is that assignment never shuffles
    val out = graft.operators.KMeansLloyd.fitUncheckpointed(
      graft.Tables(spark, sf0001, "embeddings"), "vec_id", "embedding",
      k = 4, rounds = 1)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Window") &&
      !plan.contains("Exchange"),
      s"k-means assignment is not narrow:\n${plan.take(1500)}")
  }

  test("interleave positions are a projection over the ranking (no v-sort join)") {
    // the ranking itself sits behind its result checkpoint (its shape
    // is asserted in RankingSpec); what this pin protects is the
    // POSITION math above it — the per-source stats must fold in as
    // literals, never as a join of the corpus against a stats table or
    // a global sort by virtual time
    val plan = executedPlan(q("q_e18_interleave"))
    val joins = "(?i)sortmergejoin|shuffledhashjoin|broadcasthashjoin".r
      .findAllIn(plan).toSeq
    assert(joins.isEmpty,
      s"interleave joined what it should have folded: $joins")
  }

  test("CDC apply: struct-max compaction, no window, top not a global sort") {
    // the changelog compaction must stay a map-side-combinable
    // max(struct) aggregate — a row_number window over a hot key would
    // serialize that key's whole version history into one task
    val plan = executedPlan(q("q_j12_cdc_apply"))
    assert(!plan.contains("Window"),
      s"q_j12 compaction regressed to a window:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "q_j12 plan contains a cross product")
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("partial_max") ||
      finalPlan.contains("partial_finalmerge_max") ||
      "partial.*max".r.findFirstIn(finalPlan).nonEmpty,
      s"q_j12 compaction lost its map-side combine:\n${finalPlan.take(1200)}")
  }

  test("Bradley-Terry: iterations never touch Spark — result is a local table") {
    // the corpus collapses to the items² grid in one aggregation inside
    // fit(); the 10 MM rounds are driver arithmetic, so the RESULT frame
    // must be a literal local table with no corpus lineage (the PCA
    // zero-jobs-per-round discipline)
    val plan = executedPlan(q("q_e19_bradley_terry"))
    assert(plan.contains("LocalTableScan"),
      s"q_e19 result is not a driver-materialized grid:\n${plan.take(800)}")
    assert(!plan.contains("FileScan"),
      s"q_e19 re-reads the corpus per round:\n${plan.take(800)}")
  }

  test("Zipf slope: per-source ranking runs as WindowGroupLimit, not a full sort") {
    // the rank<=k filter must push into WindowGroupLimit so each map
    // partition keeps only top-k per source before the shuffle — a
    // plain window would sort the whole vocabulary per source
    val plan = executedPlan(q("q_t33_zipf_slope"))
    assert(plan.contains("WindowGroupLimit"),
      s"q_t33 ranking lost its group-limit pushdown:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct"),
      "q_t33 plan contains a cross product")
  }

  test("record linkage: EM never touches Spark — result is a local table") {
    // the pair corpus collapses to the 2^3 pattern grid in one
    // aggregation inside emPatterns(); 8 EM rounds are driver
    // arithmetic (the BT/PCA discipline)
    val plan = executedPlan(q("q_j13_record_linkage"))
    assert(plan.contains("LocalTableScan"),
      s"q_j13 result is not a driver-materialized grid:\n${plan.take(800)}")
    assert(!plan.contains("FileScan"),
      s"q_j13 re-reads the corpus per round:\n${plan.take(800)}")
  }

  test("DoReMi weights: rounds never touch Spark — result is a local table") {
    // the corpus pays one perplexity pass; the grid collects under the
    // MaxDomains require and the MW rounds are BigInt driver math (the
    // BradleyTerry/record-linkage discipline)
    val plan = executedPlan(q("q_e22_doremi_weights"))
    assert(plan.contains("LocalTableScan"),
      s"q_e22 result is not a driver-materialized grid:\n${plan.take(800)}")
    assert(!plan.contains("FileScan"),
      s"q_e22 re-reads the corpus per round:\n${plan.take(800)}")
  }

  test("containment join: no cartesian, no loop join — banded equi-join only") {
    val plan = executedPlan(q("q_d13_containment"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q_d13 plan contains a cross product:\n${plan.take(1500)}")
  }

  test("KMV sketch: the per-group k-smallest runs as WindowGroupLimit") {
    // the scale contract: InferWindowGroupLimit must push the
    // dense_rank <= k filter into a partial group-limit before the
    // exchange, so a hot group never serializes its distinct set into
    // one window task (the L79 lesson, sidestepped by rank pushdown)
    val plan = executedPlan(q("q_s14_kmv_distinct"))
    assert(plan.contains("WindowGroupLimit"),
      s"q_s14 rank filter did not push down:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "q_s14 plan contains a cross product")
  }

  test("quantile sketch: the per-group bottom-k runs as WindowGroupLimit") {
    // the q_s14 scale contract, row_number flavor: the rn <= k filter
    // must push into a partial group-limit before the exchange, so a
    // hot group never serializes its full row set into one window task
    val plan = executedPlan(q("q_s15_quantile_sketch"))
    assert(plan.contains("WindowGroupLimit"),
      s"q_s15 rank filter did not push down:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "q_s15 plan contains a cross product")
  }

  test("r13 wave-2/3 queries: no cartesian anywhere") {
    // the pairwise/self-join shapes (theil-sen pairs, manifest union,
    // burst windows, seasonal joins, rank-drift replication) must all
    // ride equi-joins; the only nested-loop joins allowed are the
    // documented small-frame broadcasts (qr16's 4-row lang frame)
    for (name <- Seq("q_a21_theil_sen", "q_e27_burst_detection",
        "q_e28_seasonal_anomaly", "q_s16_manifest_digest",
        "q_qr16_rank_drift", "q_m8_magic_sniff")) {
      val plan = executedPlan(q(name))
      assert(!plan.contains("CartesianProduct"),
        s"$name plan contains a cartesian:\n${plan.take(1200)}")
    }
  }

  test("r13 wave-4/5 queries: no cartesian anywhere") {
    // the pin-coverage gap flagged by the r13 verdict: e29's lag grid
    // join, a22's tot-join, v20's marginal self-join, v21's rank-back
    // join, t43's scan chain — none may fall to a shuffle cartesian
    for (name <- Seq("q_e29_lead_lag", "q_a22_changepoint",
        "q_v20_rater_kappa", "q_v21_conformal_bound", "q_t43_url_canon")) {
      val plan = executedPlan(q(name))
      assert(!plan.contains("CartesianProduct"),
        s"$name plan contains a cartesian:\n${plan.take(1200)}")
    }
  }

  test("lead-lag: the lag join stays an extracted equi-join, never a loop join") {
    // q_e29's join condition is `type_a =!= type_b && __xb === x + lag`
    // — correctness AND scale both hang on Catalyst extracting the
    // `__xb = x + lag` equality as the join key. Nothing else guards
    // that extraction: a silent fall to BroadcastNestedLoopJoin over
    // |types|·|days|·|lags| rows would pass value checks at sf0.1 and
    // melt at corpus scale. Pin the physical join class.
    val plan = executedPlan(q("q_e29_lead_lag"))
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin"),
      s"q_e29 lag join lost its equi-key extraction:\n${plan.take(1500)}")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"q_e29 lag join fell to a loop join:\n${plan.take(1500)}")
  }

  test("changepoint segments: grid tail is cartesian-free; levels are " +
      "checkpoint-bounded") {
    // q_a23's per-level split/remap joins run inside eager
    // localCheckpoint jobs (the iterative-loop discipline), so the
    // final plan must be just the grid aggregation + seg_idx window
    // over a checkpoint scan — no join of any kind survives to the
    // tail, and nothing corpus-sized can hide there
    val plan = executedPlan(q("q_a23_changepoint_segments"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("Join"),
      s"q_a23 tail grew a join:\n${plan.take(1200)}")
    assert(plan.contains("Scan ExistingRDD"),
      s"q_a23 lost its checkpoint boundary:\n${plan.take(1200)}")
  }

  test("exact PSI: no shuffle cartesian — the only loop join is the " +
      "1-row totals broadcast") {
    // q_qr17's shape: two partial-aggregated bucket counts, a B-row
    // outer join, the documented 1-row broadcast (q_e26's allowed
    // class), then narrow integer math — a CartesianProduct anywhere
    // means a corpus-sized frame leaked into the stats tail
    val plan = executedPlan(q("q_qr17_psi_exact"))
    assert(!plan.contains("CartesianProduct"),
      s"q_qr17 plan contains a cartesian:\n${plan.take(1500)}")
  }

  test("r14 stats panel: no shuffle cartesian (dispersion, benford, " +
      "diversity)") {
    // a24 is two aggregations and nothing else; qr18's only loop join
    // is the broadcast 9-row digit spine; qr19 is two aggregations —
    // a CartesianProduct anywhere means a corpus frame leaked into
    // grid math
    for (name <- Seq("q_a24_dispersion", "q_qr18_benford_chisq",
        "q_qr19_lang_diversity", "q_qr20_gini",
        "q_a25_weighted_quantiles")) {
      val plan = executedPlan(q(name))
      assert(!plan.contains("CartesianProduct"),
        s"$name plan contains a cartesian:\n${plan.take(1200)}")
    }
  }

  test("rank-family wave: kruskal grid join and auc chain stay " +
      "cartesian-free") {
    // q_qr21's cohort-grid ↔ value-grid join is an equi-join on
    // (panel, value) — a loop join there would be grid² at corpus
    // scale; q_v22 composes mannWhitney, whose only wide ops are the
    // grid aggregation and the per-panel sort window
    for (name <- Seq("q_qr21_kruskal", "q_v22_auc")) {
      val plan = executedPlan(q(name))
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name plan fell to a loop join:\n${plan.take(1500)}")
    }
  }

  test("jsd drift: grid math only — the one loop join is the 1-row " +
      "totals broadcast") {
    // q_qr22 rides categoricalExact's shape: B-row outer join + 1-row
    // broadcast; a shuffle cartesian would mean a corpus frame leaked
    val plan = executedPlan(q("q_qr22_jsd"))
    assert(!plan.contains("CartesianProduct"),
      s"q_qr22 plan contains a cartesian:\n${plan.take(1500)}")
  }

  test("dims audit: join-free, window-free — scan-fused slice + one " +
      "aggregation") {
    // the q_m11 scale contract (the q_m9 convention): blob build AND
    // header parse are codegen'd expressions fused into the scan; the
    // audit is a single map-side-combinable hash agg
    val plan = executedPlan(q("q_m11_dims_audit"))
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"q_m11 grew a join:\n${plan.take(1200)}")
    assert(!plan.contains("Window"),
      s"q_m11 grew a window:\n${plan.take(1200)}")
    assert(plan.contains("HashAggregate"),
      s"q_m11 lost its hash aggregation:\n${plan.take(1200)}")
  }

  test("jpeg dims: route filter + kernel + one aggregation, join-free") {
    // q_m12's scale contract: the jpeg-magic sniff filter fuses into
    // the scan so the kernel only sees routed rows; the audit is one
    // map-side-combinable hash agg
    val plan = executedPlan(q("q_m12_jpeg_dims"))
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"q_m12 grew a join:\n${plan.take(1200)}")
    assert(plan.contains("HashAggregate"),
      s"q_m12 lost its hash aggregation:\n${plan.take(1200)}")
  }

  test("independence: margin joins stay panel equi-joins, no cartesian") {
    // q_qr23's full r×c grid is the margin×margin join ON PANEL —
    // category-sized by construction; a shuffle cartesian would mean
    // a corpus frame leaked into the grid math
    val plan = executedPlan(q("q_qr23_independence"))
    assert(!plan.contains("CartesianProduct"),
      s"q_qr23 plan contains a cartesian:\n${plan.take(1500)}")
  }

  test("survival: tenure-grid windows only; the one loop join is the " +
      "1-row horizon broadcast") {
    // q_e30's corpus-shaped work is ONE per-user aggregation; the
    // risk-set/curve windows run over the tenure grid (day-span
    // bounded). The only nested-loop join allowed is the documented
    // 1-row horizon broadcast in durations().
    val plan = executedPlan(q("q_e30_churn_survival"))
    assert(!plan.contains("CartesianProduct"),
      s"q_e30 plan contains a cartesian:\n${plan.take(1500)}")
    // count in the FINAL section only (the AQE toString repeat)
    val finalPlan = plan.split("== Initial Plan ==").head
    val loops = "BroadcastNestedLoopJoin".r.findAllIn(finalPlan).size
    assert(loops <= 1,
      s"q_e30 grew $loops loop joins (1-row horizon broadcast allows 1)")
  }

  test("simpson + logrank: grid math only past the first aggregation") {
    // q_qr24 is two aggregations (stratum cells, panel rollup);
    // q_e31's loop joins are the two documented 1-row broadcasts
    // (horizon, min-entry-day) — count them, allow nothing else
    val p24 = executedPlan(q("q_qr24_simpson"))
    assert(!p24.contains("Join") && !p24.contains("CartesianProduct"),
      s"q_qr24 grew a join:\n${p24.take(1200)}")
    val p31 = executedPlan(q("q_e31_logrank"))
    assert(!p31.contains("CartesianProduct"),
      s"q_e31 plan contains a cartesian:\n${p31.take(1500)}")
    // the durations subtree re-expands per panel branch, each carrying
    // its 1-row horizon broadcast: aa (1) + entry_cohort (horizon in
    // the min-day agg, horizon in the main frame, the min-day join —
    // 3). All four are 1-row broadcasts; anything more is a leak.
    val finalPlan = p31.split("== Initial Plan ==").head
    val loops = "BroadcastNestedLoopJoin".r.findAllIn(finalPlan).size
    assert(loops <= 4,
      s"q_e31 grew $loops loop joins (four 1-row broadcasts allowed)")
  }

  test("spearman + lift: grid joins stay equi-joins; the lift loop " +
      "join is the 1-row universe broadcast") {
    // q_a26's rank-back joins ride (leg, value) equi-keys over value
    // grids; q_qr25's basket self-join rides the basket equi-key with
    // the a<b filter — a cartesian in either means a corpus leak
    for (name <- Seq("q_a26_spearman", "q_qr25_flag_lift")) {
      val plan = executedPlan(q(name))
      assert(!plan.contains("CartesianProduct"),
        s"$name plan contains a cartesian:\n${plan.take(1500)}")
      val finalPlan = plan.split("== Initial Plan ==").head
      val loops = "BroadcastNestedLoopJoin".r.findAllIn(finalPlan).size
      assert(loops <= 1,
        s"$name grew $loops loop joins (1-row totals broadcast allows 1)")
    }
  }

  test("codec audit: join-free — the declared label rides the walk kernel") {
    // r16 (VERDICT r15 #1): q_m10's declared column is carried
    // THROUGH metadataTagged instead of joined back, so the blob
    // tree is evaluated once and nothing joins — the old join-back
    // shape doubled the synthetic-container expression across both
    // branches and overran the 64 KB whole-stage-codegen limit
    val plan = executedPlan(q("q_m10_codec_audit"))
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"q_m10 grew a join back:\n${plan.take(1500)}")
    assert(plan.contains("HashAggregate"),
      s"q_m10 lost its hash aggregation:\n${plan.take(1500)}")
  }

  test("ogg metadata: join-free, window-free — route, kernel, one aggregation") {
    // the q_m9/q_m15 scale contract on the Ogg surface (r16):
    // checkpointed blob frame, sniff-route filter, one mapPartitions
    // page walk, one map-side-combinable hash agg
    val plan = executedPlan(q("q_m16_ogg_metadata"))
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"q_m16 grew a join:\n${plan.take(1200)}")
    assert(!plan.contains("Window"),
      s"q_m16 grew a window:\n${plan.take(1200)}")
    assert(plan.contains("HashAggregate"),
      s"q_m16 lost its hash aggregation:\n${plan.take(1200)}")
  }

  test("flac metadata: join-free, window-free — route, kernel, one aggregation") {
    // the m16 scale contract on the FLAC surface (r17): checkpointed
    // blob frame, sniff-route filter, one mapPartitions block walk,
    // one map-side-combinable hash agg
    val plan = executedPlan(q("q_m17_flac_metadata"))
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"q_m17 grew a join:\n${plan.take(1200)}")
    assert(!plan.contains("Window"),
      s"q_m17 grew a window:\n${plan.take(1200)}")
    assert(plan.contains("HashAggregate"),
      s"q_m17 lost its hash aggregation:\n${plan.take(1200)}")
  }

  test("webm metadata: join-free, window-free — route, kernel, one aggregation") {
    // the q_m9 scale contract on the EBML surface (r16): checkpointed
    // blob frame, sniff-route filter, one mapPartitions VINT walk,
    // one map-side-combinable hash agg — nothing joins, nothing
    // shuffles twice
    val plan = executedPlan(q("q_m15_webm_metadata"))
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"q_m15 grew a join:\n${plan.take(1200)}")
    assert(!plan.contains("Window"),
      s"q_m15 grew a window:\n${plan.take(1200)}")
    assert(plan.contains("HashAggregate"),
      s"q_m15 lost its hash aggregation:\n${plan.take(1200)}")
  }

  test("mp4 metadata: join-free, window-free — scan, kernel, one aggregation") {
    // the q_m9 scale contract: blob build is a codegen'd expression
    // chain fused into the scan, the box walk is one mapPartitions
    // kernel, and the audit is a single map-side-combinable hash agg —
    // nothing shuffles twice, nothing joins
    val plan = executedPlan(q("q_m9_mp4_metadata"))
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"q_m9 grew a join:\n${plan.take(1200)}")
    assert(!plan.contains("Window"),
      s"q_m9 grew a window:\n${plan.take(1200)}")
    assert(plan.contains("HashAggregate"),
      s"q_m9 lost its hash aggregation:\n${plan.take(1200)}")
  }

  test("funnel significance: no cartesian — the 1-row median frame broadcasts") {
    // the z² legs ride grid-sized equi-joins; the only nested-loop
    // join allowed is the documented 1-row median-stat broadcast
    val plan = executedPlan(q("q_e26_funnel_significance"))
    assert(!plan.contains("CartesianProduct"),
      s"q_e26 plan contains a cartesian:\n${plan.take(1500)}")
  }

  test("HTML extraction: join-free, window-free, UDF-free — pure scan+explode+agg") {
    // the 100 TB contract for the curation front: one codegen'd string
    // chain per page, one posexplode, one hash aggregation — nothing
    // that shuffles twice or serializes a hot key
    val plan = executedPlan(q("q_t39_html_extract"))
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"q_t39 grew a join:\n${plan.take(1200)}")
    assert(!plan.contains("Window"),
      s"q_t39 grew a window:\n${plan.take(1200)}")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"q_t39 fell off codegen into a UDF:\n${plan.take(1200)}")
    assert(plan.contains("Generate"),
      s"q_t39 lost its block explode:\n${plan.take(1200)}")
  }

  test("HLL sketch: register collapse is a hash aggregate, no cartesian") {
    // q_s17's scale contract: the corpus collapses through ONE
    // map-side-combinable (group, j) MAX — at most 256 rows per group
    // cross the exchange — and the merge/estimate tail is grid math.
    // A cartesian or loop join anywhere means a corpus frame leaked;
    // a Window would mean the registers serialized through one task.
    val plan = executedPlan(q("q_s17_hll"))
    assert(plan.contains("HashAggregate"),
      s"q_s17 lost its register hash aggregation:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q_s17 plan contains a cross product:\n${plan.take(1500)}")
    assert(!plan.contains("Window"),
      s"q_s17 grew a window:\n${plan.take(1200)}")
  }

  test("mutual information: grid-only tail, no cartesian, window-free") {
    // q_qr26's shape: one map-side (panel, r, c) collapse, then
    // margin/total grid aggs and three ln chains over grid frames,
    // all equi-joined on panel — a cartesian or a window anywhere
    // means a corpus-sized frame leaked into the information math
    val plan = executedPlan(q("q_qr26_mutual_info"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q_qr26 plan contains a cross product:\n${plan.take(1500)}")
    assert(!plan.contains("Window"),
      s"q_qr26 grew a window:\n${plan.take(1200)}")
  }

  test("paired-test wave: mcnemar and cochran Q stay join-light grid math") {
    // q_v23 is ONE conditional-count aggregation and grid arithmetic —
    // join-free; q_v24 is two aggregation passes equi-joined on panel.
    // A cartesian or a window anywhere means a corpus frame leaked.
    for (name <- Seq("q_v23_mcnemar", "q_v24_cochran_q")) {
      val plan = executedPlan(q(name))
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name plan contains a cross product:\n${plan.take(1500)}")
      assert(!plan.contains("Window"),
        s"$name grew a window:\n${plan.take(1200)}")
    }
    assert(!executedPlan(q("q_v23_mcnemar")).contains("Join"),
      "q_v23 should be join-free")
  }

  test("fleiss kappa: two grid agg passes, panel equi-joins, no cartesian") {
    val plan = executedPlan(q("q_v25_fleiss_kappa"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q_v25 plan contains a cross product:\n${plan.take(1500)}")
    assert(!plan.contains("Window"),
      s"q_v25 grew a window:\n${plan.take(1200)}")
  }

  test("acf family: day-keyed lag equi-join, never a loop join") {
    // the L147 lesson applied to q_e32/q_e33: the lag join's equi-key
    // is the EXTRACTED `__xb === x + lag` equality — nothing else
    // guards the extraction, and a silent fall to
    // BroadcastNestedLoopJoin over |days|·|lags| rows would pass
    // value checks at sf0.1 and melt at scale
    for (name <- Seq("q_e32_acf", "q_e33_ljung_box")) {
      val plan = executedPlan(q(name))
      assert(plan.contains("SortMergeJoin")
          || plan.contains("BroadcastHashJoin"),
        s"$name lag join lost its equi-key extraction:\n${plan.take(1500)}")
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"$name lag join fell to a loop join:\n${plan.take(1500)}")
    }
  }

  test("pr-curve and cvm: value-grid windows only, no cartesian") {
    // both collapse the corpus map-side to the distinct-value grid
    // BEFORE their sort window (the mannWhitney class) — a window
    // whose input is not grid-sized, or any cross product, is a
    // scale leak
    for (name <- Seq("q_v26_avg_precision", "q_qr27_cvm")) {
      val plan = executedPlan(q(name))
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name plan contains a cross product:\n${plan.take(1500)}")
      assert(plan.contains("HashAggregate"),
        s"$name lost its grid collapse:\n${plan.take(1200)}")
    }
  }

  test("readability: join-free window-free codegen scan + one aggregation") {
    // q_t44 is a pure column cascade per doc fused into the scan,
    // then ONE hash aggregation — the t39/t43 class
    val plan = executedPlan(q("q_t44_readability"))
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"q_t44 grew a join or window:\n${plan.take(1200)}")
    assert(plan.contains("HashAggregate"),
      s"q_t44 lost its aggregation:\n${plan.take(1200)}")
  }

  test("hill: the top-(k+1) filter pushes down as WindowGroupLimit") {
    // the L124/L135 scale contract: each map task ships at most k+1
    // rows per group — a hot group never serializes its full row set
    val plan = executedPlan(q("q_qr28_hill"))
    assert(plan.contains("WindowGroupLimit"),
      s"q_qr28 rank filter did not push down:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q_qr28 plan contains a cross product:\n${plan.take(1500)}")
  }

  test("centroid drift and perm test: map-side collapse, no cartesian, no window") {
    // q_d15: one posexplode + (panel, dim) conditional sums — a
    // 64-row grid per panel; q_a27: the replicate fan-out is a JIT'd
    // mapPartitions kernel since r17 (the explode-by-B form pushed
    // |rows|·B tuples through the hash aggregate) — the blowup must
    // never materialize as raw rows. Neither may grow a window or a
    // cross product.
    for (name <- Seq("q_d15_centroid_drift", "q_a27_perm_test")) {
      val plan = executedPlan(q(name))
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name plan contains a cross product:\n${plan.take(1500)}")
      assert(!plan.contains("Window"),
        s"$name grew a window:\n${plan.take(1200)}")
    }
    assert(executedPlan(q("q_d15_centroid_drift")).contains("Generate"),
      "q_d15 lost its posexplode")
    assert(executedPlan(q("q_a27_perm_test")).contains("MapPartitions"),
      "q_a27 lost its replicate kernel")
  }

  test("mp3 header walk: per-partition kernel + one aggregation, join-free") {
    // the q_m9 kernel class: blob bytes never shuffle; the plan is
    // the synthetic-blob projection, the mapPartitions kernel, and
    // ONE hash aggregation
    val plan = executedPlan(q("q_m13_mp3_metadata"))
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"q_m13 grew a join or window:\n${plan.take(1200)}")
    assert(plan.contains("HashAggregate"),
      s"q_m13 lost its aggregation:\n${plan.take(1200)}")
  }

  test("audio quality audit: per-partition kernel + one aggregation, join-free") {
    val plan = executedPlan(q("q_m14_audio_quality"))
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"q_m14 grew a join or window:\n${plan.take(1200)}")
    assert(plan.contains("HashAggregate"),
      s"q_m14 lost its aggregation:\n${plan.take(1200)}")
  }

  test("ca trend: one conditional-count collapse, join-light grid tail") {
    val plan = executedPlan(q("q_qr29_ca_trend"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q_qr29 plan contains a cross product:\n${plan.take(1500)}")
    assert(!plan.contains("Window"),
      s"q_qr29 grew a window:\n${plan.take(1200)}")
  }

  test("bh fdr: corpus collapses in the perm stage; windows only on the test grid") {
    // q_qr30's heavy lift is the 512-replicate fan-out, a JIT'd
    // mapPartitions kernel since r17 (the explode form pushed 51M
    // tuples through the hash aggregate) — the BH windows then run
    // over a 20-row test grid. No cartesian anywhere; the panel
    // explode (20 static sources per doc) and the kernel must both
    // be present.
    val plan = executedPlan(q("q_qr30_bh_fdr"))
    assert(!plan.contains("CartesianProduct"),
      s"q_qr30 plan contains a cartesian:\n${plan.take(1500)}")
    assert(plan.contains("Generate"),
      s"q_qr30 lost its panel explode:\n${plan.take(1200)}")
    assert(plan.contains("MapPartitions"),
      s"q_qr30 lost its replicate kernel:\n${plan.take(1200)}")
  }

  test("robust-location means: join-free rank windows, one hash agg " +
      "(q_a20 trimmed / q_a29 winsorized)") {
    // r16 (VERDICT r15 #4): the only recent queries without pins —
    // both are the L122 rank-window machinery: one sort window per
    // flag for row_number, the unbounded frames for n/vlo/vhi, then
    // ONE map-side-combinable hash aggregation; a join or cartesian
    // appearing here would mean the clamp/trim boundaries started
    // materializing via self-joins (corpus² at scale)
    for (name <- Seq("q_a20_trimmed_mean", "q_a29_winsorized_mean")) {
      val plan = executedPlan(q(name))
      assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
        s"$name grew a join:\n${plan.take(1500)}")
      assert(plan.contains("Window"),
        s"$name lost its rank window:\n${plan.take(1200)}")
      assert(plan.contains("HashAggregate") ||
        plan.contains("ObjectHashAggregate") ||
        plan.contains("SortAggregate"),
        s"$name lost its aggregation:\n${plan.take(1200)}")
    }
  }

  test("kendall tau-b: the pair join stays a leg equi-join, never a shuffle cartesian") {
    // the x-range condition rides as a residual on the leg equi-key
    // (the TheilSen/leadLag extraction class) — a fall to a shuffle
    // CartesianProduct would be corpus-squared without the per-leg
    // bound
    val plan = executedPlan(q("q_a28_kendall"))
    assert(!plan.contains("CartesianProduct"),
      s"q_a28 pair join fell to a shuffle cartesian:\n${plan.take(1500)}")
  }

  test("anova/brown-forsythe: one moment pass, grid math after " +
      "(a31's median join is grid-sized, join-free for a30)") {
    // r16 (L188/L189): a30 is ONE map-side-combinable (panel, cohort)
    // moment aggregation + cohort-grid arithmetic — no join at all;
    // a31 adds the (panel, cohort, value)-grid median rank selection
    // and one grid equi-join, never a cartesian
    val a30 = executedPlan(q("q_a30_anova_f"))
    assert(!a30.contains("Join") && a30.contains("HashAggregate"),
      s"q_a30 grew a join or lost its agg:\n${a30.take(1200)}")
    val a31 = executedPlan(q("q_a31_brown_forsythe"))
    assert(!a31.contains("CartesianProduct") &&
      !a31.contains("BroadcastNestedLoopJoin"),
      s"q_a31 median join fell to a loop join:\n${a31.take(1200)}")
  }

  test("reshaping surface: pivot/unpivot/grouping-sets stay single-pass " +
      "Expand/agg plans, join-free; w4's frame is RANGE, not ROWS") {
    // r17 (X12/X13/W2-ext): a pinned-value pivot is ONE hash aggregate
    // (a value-less pivot would add a distinct-discovery pass); unpivot
    // and rollup/cube ride Expand — never a join or k separate scans
    val x16 = executedPlan(q("q_x16_pivot"))
    assert(!x16.contains("Join") && x16.contains("HashAggregate"),
      s"q_x16 grew a join or lost its agg:\n${x16.take(1200)}")
    val x17 = executedPlan(q("q_x17_unpivot"))
    assert(!x17.contains("Join") && x17.contains("Expand"),
      s"q_x17 must melt via Expand, join-free:\n${x17.take(1200)}")
    val a35 = executedPlan(q("q_a35_grouping_sets"))
    assert(!a35.contains("Join") && a35.contains("Expand") &&
      a35.contains("HashAggregate"),
      s"q_a35 must aggregate via Expand, join-free:\n${a35.take(1200)}")
    // the trailing-7-day window must be a RANGE frame over the daily
    // grid (a ROWS frame silently misreads gapped days), join-free
    val w4 = executedPlan(q("q_w4_range_frame"))
    assert(!w4.contains("Join") && w4.contains("Window") &&
      w4.contains("RangeFrame, -6"),
      s"q_w4 lost its RANGE frame:\n${w4.take(1200)}")
  }

  test("rank eval: page-bounded windows + equi-joins, no cartesian") {
    // r17 (L201): candidate pages ride per-qid windows; the BM25 leg
    // joins a 20-row page back to documents on the doc_id equi-key.
    // The only loop join allowed is BM25's own 1-row corpus-stats
    // broadcast (the documented TF-IDF pattern, counted in the FINAL
    // plan section only — AQE's toString repeats the tree)
    val plan = executedPlan(q("q_t45_ndcg"))
    assert(!plan.contains("CartesianProduct"),
      s"q_t45 grew a cartesian:\n${plan.take(1200)}")
    val finalPlan = plan.split("== Initial Plan ==").head
    val loops = "BroadcastNestedLoopJoin".r.findAllIn(finalPlan).size
    assert(loops <= 1, s"q_t45 has $loops loop joins (max 1 — the " +
      s"1-row BM25 stats broadcast):\n${finalPlan.take(2000)}")
    assert(plan.contains("Window"),
      s"q_t45 lost its ranking windows:\n${plan.take(800)}")
  }

  test("paired tests: grid collapses + bounded windows, no cartesian") {
    // r17 (L199/L200): a36 collapses to the (panel, |d|) magnitude
    // grid map-side before its window; a37's midranks ride windows
    // over k-bounded block partitions with grid equi-joins — neither
    // may grow a cartesian or loop join
    for (name <- Seq("q_a36_signed_rank", "q_a37_friedman")) {
      val plan = executedPlan(q(name))
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name grew a cartesian/loop join:\n${plan.take(1200)}")
      assert(plan.contains("Window") && plan.contains("HashAggregate"),
        s"$name lost its grid/window shape:\n${plan.take(1200)}")
    }
  }

  test("shape panel: one power-sum pass, scalar math after, join-free") {
    // r16 (L195): a34 is ONE map-side-combinable (panel) power-sum
    // aggregation + per-panel scalar arithmetic — nothing joins,
    // nothing windows
    val plan = executedPlan(q("q_a34_shape_panel"))
    assert(!plan.contains("Join") && !plan.contains("Window") &&
      plan.contains("HashAggregate"),
      s"q_a34 grew a join/window or lost its agg:\n${plan.take(1200)}")
  }

  test("jonckheere: cohort-bounded grid joins only, no cartesian") {
    // r16 (L193): the cohort×value-grid fill and the cohort-pair join
    // are k-bounded (k ≤ tens) equi-joins on (panel, v) with the
    // score-order residual — a shuffle cartesian would be corpus²
    val plan = executedPlan(q("q_a33_jonckheere"))
    assert(!plan.contains("CartesianProduct"),
      s"q_a33 plan contains a shuffle cartesian:\n${plan.take(1500)}")
  }

  test("mantel-haenszel: one conditional-count pass, stratum-grid math, " +
      "join-free") {
    // r16 (L192): the qr24 shape — ONE map-side (panel, stratum)
    // cell aggregation collapses the corpus, the cascade and the
    // panel rollup are grid math; a join here would mean the strata
    // started materializing pairwise
    val plan = executedPlan(q("q_qr32_mantel_haenszel"))
    assert(!plan.contains("Join") && plan.contains("HashAggregate"),
      s"q_qr32 grew a join or lost its agg:\n${plan.take(1200)}")
  }

  test("dunn + chapman: pair/stat joins stay equi or 1-row broadcast") {
    // r16 (L190/L191): a32's cohort-pair join rides the panel
    // equi-key with the c_a < c_b residual; d16's only loop joins are
    // the documented 1-row-aggregate broadcasts (three stat frames +
    // the truth count) — a shuffle cartesian anywhere is corpus²
    for (name <- Seq("q_a32_dunn_fdr", "q_d16_dup_coverage")) {
      val plan = executedPlan(q(name))
      assert(!plan.contains("CartesianProduct"),
        s"$name plan contains a shuffle cartesian:\n${plan.take(1500)}")
    }
  }

  test("drift dashboard: no shuffle cartesian across all three families") {
    // r16 (VERDICT r15 #7): q_qr31 composes qr11's KS (grid-free jump
    // points), qr16's MW (4-row lang broadcast is the one allowed
    // BNLJ class) and a16's MK (day-grid equi self-join) — a shuffle
    // CartesianProduct anywhere would be corpus² at scale
    val plan = executedPlan(q("q_qr31_drift_fdr"))
    assert(!plan.contains("CartesianProduct"),
      s"q_qr31 plan contains a shuffle cartesian:\n${plan.take(1500)}")
    assert(plan.contains("Window"),
      s"q_qr31 lost the BH rank window:\n${plan.take(1200)}")
  }

  test("kendall inversion form: equi-joins only — no pair frame of any kind") {
    // r16 (VERDICT r15 #3): the O(grid log grid) form must never fall
    // back to a pair join — every join is a grid-sized equi-join
    // (rank attach, level attach, margins) and the inversions come
    // from bit-level windows over the explode
    val plan = executedPlan(q("q_a28x_kendall_inversions"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q_a28x grew a loop/pair join:\n${plan.take(1500)}")
    assert(plan.contains("Window"),
      s"q_a28x lost its bit-level windows:\n${plan.take(1200)}")
    assert(plan.contains("Generate"),
      s"q_a28x lost its level explode:\n${plan.take(1200)}")
  }

  test("link prediction: top-100 via TakeOrdered, no cartesian, no window") {
    val plan = executedPlan(q("q_g6_link_predict"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"q_g6 top-k became a global sort:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "q_g6 plan contains a cross product")
    assert(!plan.contains("Window"),
      s"q_g6 grew a window:\n${plan.take(1200)}")
  }
}
