package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AsOf, ParagraphDedup, Sessions, Skew}

/** Measurement harness behind SCALE.md's hot-key numbers (VERDICT r6 #2
  * and #3): generates a synthetic ~10M-event corpus at several skew
  * levels, then measures wall-clock for
  *
  *  - plain vs chunked `Sessions.sessionize`,
  *  - plain vs chunked `AsOf.joinPriorOrEqual`,
  *  - the bounded (≤64-partition) vs full-scan `Skew.hotKeyShare` probe,
  *  - `ParagraphDedup.markKeepers`' partial-aggregated winner election
  *    vs the window row_number formulation under unit skew,
  *
  * and records which plan the auto-probe picks on each fixture. The
  * chunked widths are the ones `Skew.autoChunkWidth`'s policy would
  * size (~8 chunks per shuffle partition), so the numbers measure the
  * SHIPPED policy, not a hand-tuned width. Results print as a markdown
  * table (pasted into SCALE.md with the host's cal constant noted).
  *
  * Fixture shape: `hotPct`% of rows belong to ONE entity, clustered in
  * id/time order (the bot-burst shape — worst case for both the
  * serialized window task and a partition-head probe); the rest spread
  * uniformly over 100k entities. Timestamps tick 1 ms per row, so the
  * hot entity's burst is also dense in time. The fixture is written to
  * parquet and read back with a small maxPartitionBytes so the 10M-row
  * table scans as a few hundred partitions — the partition-count regime
  * a real multi-TB table lives in, which is what makes the bounded
  * probe's O(sample) vs O(data) gap visible. */
object ScaleProbe {

  private def timeIt(reps: Int)(f: => Unit): Double =
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }.min

  private def genEvents(spark: SparkSession, n: Long, hotPct: Int,
      path: String): Unit =
    spark.range(0, n, 1, 256).select(
        when(col("id") < n * hotPct / 100, 0L)
          .otherwise(pmod(xxhash64(col("id")), lit(100000L))).as("user_id"),
        (col("id") * 1000L).as("us"), // 1 ms cadence
        col("id").as("event_id"))
      .write.mode("overwrite").parquet(path)

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "10000000").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val base = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale")
    // scan the ~10M-row fixture as ~256 partitions — the partition
    // count a multi-TB table has with 128 MB splits; this is what the
    // probe's partition bound is FOR
    val spark = GraftSession(cpus,
      "spark.sql.files.maxPartitionBytes" -> (1 << 20).toString,
      "spark.sql.files.openCostInBytes" -> "0")

    // SPARK_GRAFT_SCALE_SECTIONS=events,paradedup selects which fixture
    // families run (each regenerates + measures for minutes).
    val sections = sys.env.getOrElse("SPARK_GRAFT_SCALE_SECTIONS",
      "events,paradedup").split(",").map(_.trim).toSet

    val gap = java.time.Duration.ofHours(1)
    println(s"| fixture | op | plain s | chunked s | speedup | auto picks |")
    println(s"|---|---|---|---|---|---|")

    for (hotPct <- Seq(0, 50, 90) if sections("events")) {
      val path = s"$base/events_hot$hotPct"
      genEvents(spark, n, hotPct, path)
      val ev = spark.read.parquet(path)
      val nParts = ev.rdd.getNumPartitions

      // --- probe cost + decision (the auto path, measured end-to-end)
      val keyed = ev.select(col("user_id"))
      val tProbe = timeIt(2)(Skew.hotKeyShare(keyed))
      val tProbeFull = timeIt(2)(Skew.hotKeyShare(keyed, maxParts = Int.MaxValue))
      val width = Skew.autoChunkWidth(ev, Seq(col("user_id")), col("us"))
      System.err.println(f"[scale] hot$hotPct%-3d parts=$nParts " +
        f"probe=${tProbe}%.2fs full=${tProbeFull}%.2fs width=$width")

      // --- sessionize: plain vs the policy-sized chunk width
      val wSess = width.getOrElse( // uniform fixture: size as the policy would
        (n * 1000L) / (cpus.toLong * 8L))
      def consumeSess(cw: Option[Long]): Unit =
        Sessions.sessionize(ev, "user_id", col("us"), col("event_id"), gap,
            chunkWidth = cw, autoChunk = false)
          .agg(sum(col("session_idx"))).collect()
      val sPlain = timeIt(2)(consumeSess(None))
      val sChunk = timeIt(2)(consumeSess(Some(wSess)))
      println(f"| hot$hotPct ($nParts parts) | sessionize | $sPlain%.1f | " +
        f"$sChunk%.1f | ${sPlain / sChunk}%.1fx | " +
        (if (width.isDefined) "chunked |" else "plain |"))

      // --- as-of: every event enriched with the latest prior purchase
      val views = ev.select(col("user_id"), col("us"), col("event_id"))
      val purchases = ev.filter(pmod(col("event_id"), lit(100)) === 0)
        .select(col("user_id"), col("us"), col("event_id").as("purchase_id"))
      def consumeAsOf(cw: Option[Long]): Unit =
        AsOf.joinPriorOrEqual(views, purchases, Seq("user_id"), "us", "us",
            "purchase_id", chunkWidth = cw, autoChunk = false)
          .agg(count(col("purchase_id"))).collect()
      val aPlain = timeIt(2)(consumeAsOf(None))
      val aChunk = timeIt(2)(consumeAsOf(Some(wSess)))
      println(f"| hot$hotPct | as-of join | $aPlain%.1f | $aChunk%.1f | " +
        f"${aPlain / aChunk}%.1fx | " +
        (if (width.isDefined) "chunked |" else "plain |"))

      println(f"| hot$hotPct | skew probe (bounded vs full scan) | " +
        f"$tProbeFull%.2f | $tProbe%.2f | ${tProbeFull / tProbe}%.1fx | — |")
    }

    // --- co-located bucketed layout (L52): the same 10M×10M equi-join
    // through plain parquet (both sides shuffle every run) vs two
    // co-bucketed catalog tables (zero exchanges — the layout shuffle
    // was paid once at write time). The MEASURED quantity is the
    // recurring per-run cost a pipeline pays forever.
    if (sections("bucketed")) {
      import graft.operators.Bucketed
      spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_scale " +
        s"LOCATION '$base/warehouse'")
      val fact = spark.range(0, n, 1, 256).select(
        pmod(xxhash64(col("id")), lit(1000000L)).as("k"),
        (col("id") % 97L).as("a"))
      val dim = spark.range(0, n, 1, 256).select(
        pmod(xxhash64(col("id") + 7L), lit(1000000L)).as("k"),
        (col("id") % 89L).as("b"))
      fact.write.mode("overwrite").parquet(s"$base/plain_fact")
      dim.write.mode("overwrite").parquet(s"$base/plain_dim")
      val tLayout = timeIt(1) {
        Bucketed.materialize(fact, "graft_scale.b_fact", Seq("k"), cpus)
        Bucketed.materialize(dim, "graft_scale.b_dim", Seq("k"), cpus)
      }
      def consumePlain(): Unit =
        spark.read.parquet(s"$base/plain_fact")
          .join(spark.read.parquet(s"$base/plain_dim"), Seq("k"))
          .agg(sum(col("a") * col("b"))).collect()
      def consumeBucketed(): Unit =
        Bucketed.table(spark, "graft_scale.b_fact")
          .join(Bucketed.table(spark, "graft_scale.b_dim"), Seq("k"))
          .agg(sum(col("a") * col("b"))).collect()
      val tPlain = timeIt(2)(consumePlain())
      val tBuck = timeIt(2)(consumeBucketed())
      System.err.println(f"[scale] bucketed layout cost (one-time) = " +
        f"$tLayout%.1f s")
      println(f"| 10M x 10M join | plain parquet vs co-bucketed | " +
        f"$tPlain%.1f | $tBuck%.1f | ${tPlain / tBuck}%.1fx | " +
        f"layout $tLayout%.1f s once |")
    }

    // --- paragraph-dedup winner election (L45): the shipped
    // partial-aggregated groupBy(hash)→min(struct) vs the obvious
    // window row_number-per-unit formulation, under unit skew (one
    // boilerplate unit owning hotPct% of all rows — the nav-header
    // shape). The window form routes every copy of the hot unit into
    // ONE task's sort; the agg form collapses them map-side.
    for (hotPct <- Seq(0, 50, 90) if sections("paradedup")) {
      val path = s"$base/units_hot$hotPct"
      spark.range(0, n, 1, 256).select(
          (col("id") / 8L).cast("long").as("doc_id"),
          pmod(col("id"), lit(8L)).cast("int").as("pos"),
          when(pmod(xxhash64(col("id")), lit(100L)) < hotPct,
              lit("subscribe to our newsletter for updates"))
            .otherwise(concat(lit("unique unit "), col("id"))).as("unit"))
        .write.mode("overwrite").parquet(path)
      val units = spark.read.parquet(path)
      // shipped: one partial-aggregated groupBy(unit), winner rides min
      def consumeAgg(): Unit =
        ParagraphDedup.keepers(units, "doc_id", "pos", "unit")
          .agg(count(lit(1))).collect()
      // straw man A: window row_number per unit — the hot unit's copies
      // all sort in one task
      def consumeWindow(): Unit = {
        import org.apache.spark.sql.expressions.Window
        units.withColumn("rn", row_number().over(
            Window.partitionBy(col("unit"))
              .orderBy(col("doc_id"), col("pos"))))
          .agg(sum((col("rn") === 1).cast("long"))).collect()
      }
      // straw man B: flag via groupBy + join back on a sha fingerprint —
      // three unit-level shuffles re-shipping a 64-char hash
      def consumeJoinBack(): Unit = {
        val hashed = units.withColumn("h", sha2(col("unit"), 256))
        val w2 = hashed.groupBy(col("h"))
          .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
          .select(col("h").as("wh"), col("w")("doc_id").as("wid"),
            col("w")("pos").as("wpos"))
        hashed.join(w2, col("h") === col("wh") &&
            col("doc_id") === col("wid") && col("pos") === col("wpos"),
            "left")
          .agg(sum(col("wid").isNotNull.cast("long"))).collect()
      }
      val tAgg = timeIt(2)(consumeAgg())
      val tWin = timeIt(2)(consumeWindow())
      val tJb = timeIt(2)(consumeJoinBack())
      println(f"| hot$hotPct | paragraph-dedup winner election " +
        f"(agg / window / join-back) | $tWin%.1f win, $tJb%.1f jb | " +
        f"$tAgg%.1f | ${tWin / tAgg}%.1fx, ${tJb / tAgg}%.1fx | — |")
    }

    // --- incremental aggregate maintenance (L71, r8): the recurring
    // cost a sink pays per batch — full recompute over base ∪ batch
    // (what a naive pipeline reruns forever) vs the monoid merge of the
    // stored partial table with partials(batch). The gap IS the design:
    // merge cost is O(batch)+O(groups) and never touches base rows.
    if (sections("incagg")) {
      import graft.operators.IncrementalAgg
      val basePath = s"$base/incagg_base"
      def gen(lo: Long, hi: Long, parts: Int) =
        spark.range(lo, hi, 1, parts).select(
          pmod(xxhash64(col("id")), lit(1000L)).cast("string").as("g"),
          (pmod(col("id"), lit(100000L)).cast("double") / 100.0).as("v"))
      gen(0, n, 256).write.mode("overwrite").parquet(basePath)
      val baseRows = spark.read.parquet(basePath)
      val partPath = s"$base/incagg_partials"
      IncrementalAgg.partials(baseRows, Seq("g"), "v")
        .write.mode("overwrite").parquet(partPath)
      val batch = gen(n, n + n / 100, 8)
      def consumeRecompute(): Unit =
        IncrementalAgg.partials(baseRows.unionByName(batch), Seq("g"), "v")
          .collect()
      def consumeMerge(): Unit =
        IncrementalAgg.merge(spark.read.parquet(partPath),
          IncrementalAgg.partials(batch, Seq("g"), "v"), Seq("g"))
          .collect()
      val tRe = timeIt(2)(consumeRecompute())
      val tMe = timeIt(2)(consumeMerge())
      println(f"| 10M base + 1%% batch | full recompute vs partial merge " +
        f"| $tRe%.1f | $tMe%.2f | ${tRe / tMe}%.0fx | history untouched |")
    }

    // --- Gini rank-sum collapse (L155, r14): the shipped
    // distinct-value-grid form vs the naive per-unit row_number form,
    // on the shape the design exists for — ONE group with corpus-many
    // units over a narrow value domain (a doc-granularity Gini within
    // one hot source). The window form sorts every unit of the group
    // in one task; the grid form's window runs over |distinct values|
    // rows (~2k here) after two map-side-combinable aggs.
    if (sections("gini")) {
      import graft.operators.Concentration
      val path = s"$base/gini_units"
      spark.range(0, n, 1, 256).select(
          lit("g").as("g"), col("id").as("unit"),
          (lit(100L) + pmod(xxhash64(col("id")), lit(1900L))).as("mass"))
        .write.mode("overwrite").parquet(path)
      val units = spark.read.parquet(path)
      def consumeGrid(): Unit =
        Concentration.gini(units, "g", "unit", col("mass")).collect()
      // straw man: rank every unit with row_number, then the same
      // rational — the pre-r14 textbook formulation
      def consumeWindow(): Unit = {
        import org.apache.spark.sql.expressions.Window
        val d38 = "decimal(38,0)"
        val ranked = units.groupBy(col("g"), col("unit"))
          .agg(sum(col("mass")).as("x"))
          .withColumn("i", row_number().over(
            Window.partitionBy(col("g"))
              .orderBy(col("x").asc, col("unit").asc)))
        ranked.groupBy(col("g"))
          .agg(count(lit(1)).as("nu"), sum(col("x")).as("s"),
            sum(col("i").cast(d38) * col("x").cast(d38)).as("ix"))
          .select(call_function("div",
            (lit(2L).cast(d38) * col("ix")
              - (col("nu").cast(d38) + lit(1L).cast(d38))
                * col("s").cast(d38)) * lit(1000000L).cast(d38),
            col("nu").cast(d38) * col("s").cast(d38)))
          .collect()
      }
      val tGrid = timeIt(2)(consumeGrid())
      val tWin = timeIt(2)(consumeWindow())
      println(f"| 10M units, 1 group, 1900 values | gini " +
        f"(window vs value-grid) | $tWin%.1f | $tGrid%.1f | " +
        f"${tWin / tGrid}%.1fx | — |")
    }

    // --- mergeable sketch economics (L124 KMV + L135 quantile sketch,
    // r13): the metadata-fold claim with numbers — a 1% delta folded
    // into a PERSISTED sketch table (grid×k rows) vs re-sketching the
    // full corpus. The incagg shape, for the two r12/r13 sketches.
    if (sections("sketches")) {
      import graft.operators.{Kmv, QuantileSketch}
      val basePath = s"$base/sketch_base"
      def gen(lo: Long, hi: Long, parts: Int) =
        spark.range(lo, hi, 1, parts).select(
          pmod(xxhash64(col("id")), lit(1000L)).cast("string").as("g"),
          pmod(xxhash64(col("id") + 7), lit(300000L)).as("k"),
          col("id"))
      gen(0, n, 256).write.mode("overwrite").parquet(basePath)
      val baseRows = spark.read.parquet(basePath)
      val kmvPath = s"$base/sketch_kmv"
      val qsPath = s"$base/sketch_qs"
      Kmv.sketch(baseRows, Seq("g"), "k", 32)
        .write.mode("overwrite").parquet(kmvPath)
      QuantileSketch.sketch(baseRows, Seq("g"), "k", "id", 64)
        .write.mode("overwrite").parquet(qsPath)
      val batch = gen(n, n + n / 100, 8)
      def kmvRe(): Unit =
        Kmv.sketch(baseRows.unionByName(batch), Seq("g"), "k", 32)
          .collect()
      def kmvMe(): Unit =
        Kmv.merge(spark.read.parquet(kmvPath),
          Kmv.sketch(batch, Seq("g"), "k", 32), Seq("g"), 32).collect()
      def qsRe(): Unit =
        QuantileSketch.sketch(baseRows.unionByName(batch), Seq("g"),
          "k", "id", 64).collect()
      def qsMe(): Unit =
        QuantileSketch.merge(spark.read.parquet(qsPath),
          QuantileSketch.sketch(batch, Seq("g"), "k", "id", 64),
          Seq("g"), 64).collect()
      val tKr = timeIt(2)(kmvRe()); val tKm = timeIt(2)(kmvMe())
      println(f"| ${n / 1000000}M base + 1%% batch | KMV re-sketch vs merge " +
        f"| $tKr%.1f | $tKm%.2f | ${tKr / tKm}%.0fx | base untouched |")
      val tQr = timeIt(2)(qsRe()); val tQm = timeIt(2)(qsMe())
      println(f"| ${n / 1000000}M base + 1%% batch | qsketch re-sketch vs merge " +
        f"| $tQr%.1f | $tQm%.2f | ${tQr / tQm}%.0fx | base untouched |")
    }

    // --- HLL sketch economics (L168, r15): the third sketch family's
    // merge-vs-recompute asymmetry, same fixture shape as `sketches` —
    // persisted register table + 1% delta, register-wise-max fold vs
    // full corpus re-sketch.
    if (sections("hll")) {
      import graft.operators.Hll
      val basePath = s"$base/hll_base"
      def gen(lo: Long, hi: Long, parts: Int) =
        spark.range(lo, hi, 1, parts).select(
          pmod(xxhash64(col("id")), lit(1000L)).cast("string").as("g"),
          pmod(xxhash64(col("id") + 7), lit(300000L)).cast("string")
            .as("k"))
      gen(0, n, 256).write.mode("overwrite").parquet(basePath)
      val baseRows = spark.read.parquet(basePath)
      val hllPath = s"$base/hll_sketch"
      Hll.sketch(baseRows, Seq("g"), "k")
        .write.mode("overwrite").parquet(hllPath)
      val batch = gen(n, n + n / 100, 8)
      def hllRe(): Unit =
        Hll.sketch(baseRows.unionByName(batch), Seq("g"), "k").collect()
      def hllMe(): Unit =
        Hll.merge(spark.read.parquet(hllPath)
          .unionByName(Hll.sketch(batch, Seq("g"), "k")), Seq("g"))
          .collect()
      val tr = timeIt(2)(hllRe()); val tm = timeIt(2)(hllMe())
      println(f"| ${n / 1000000}M base + 1%% batch | HLL re-sketch vs merge " +
        f"| $tr%.1f | $tm%.2f | ${tr / tm}%.0fx | base untouched |")
    }

    // --- exact edit-distance matching (L69, r8): wall-clock scaling of
    // the deletion-neighborhood self-join on synthetic entity keys —
    // 10% planted single-char typos (the true-pair load), d=1. The
    // quadratic baseline is 10⁵× infeasible at the top size; the claim
    // is that blocked-exact stays near-linear in corpus size.
    // --- header-slice vs decode (L160, r14): the pre-decode
    // resolution screen's claim with numbers — parsing dims from ≤26
    // header bytes as a codegen'd slice vs ImageIO-decoding the blob
    // (the only pre-L160 way to learn dimensions). REAL tiny PNGs (32
    // distinct, pre-encoded once) so the decode side does genuine
    // work; production images are far larger, so the measured ratio
    // is a floor on the real saving.
    if (sections("dims")) {
      import graft.operators.{ImageHeaders, Multimodal}
      val blobs: Seq[Array[Byte]] = (0 until 32).map { i =>
        val img = new java.awt.image.BufferedImage(64 + i, 48 + i,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      }
      val nd = n / 10 // 1M blobs at the default N
      val path = s"$base/dims_blobs"
      spark.range(0, nd, 1, 256).select(col("id"),
          element_at(typedlit(blobs), pmod(col("id"), lit(32L))
            .cast("int") + 1).as("content"))
        .write.mode("overwrite").parquet(path)
      val packed = spark.read.parquet(path)
      def consumeHeader(): Unit =
        ImageHeaders.withDims(packed, "content")
          .agg(count(col("width")), sum(col("width")),
            sum(col("height"))).collect()
      def consumeDecode(): Unit = {
        import spark.implicits._
        packed.select(col("id"), col("content"))
          .as[(Long, Array[Byte])]
          .mapPartitions(_.map { case (_, b) =>
            Multimodal.decodeImage(b) match {
              case Some(d) => (1L, d.width.toLong, d.height.toLong)
              case None => (0L, 0L, 0L)
            }
          })
          .toDF("ok", "w", "h")
          .agg(sum(col("ok")), sum(col("w")), sum(col("h"))).collect()
      }
      val tHdr = timeIt(2)(consumeHeader())
      val tDec = timeIt(2)(consumeDecode())
      println(f"| ${nd / 1000000}M real PNG blobs | dims " +
        f"(decode kernel vs header slice) | $tDec%.1f | $tHdr%.1f | " +
        f"${tDec / tHdr}%.1fx | — |")
    }

    if (sections("fuzzy")) {
      import graft.operators.FuzzyJoin
      // NOTE the fixture is deliberately DENSE: every base key is lev-1
      // from ~up to 81 digit-neighbors, so the output is tens of pairs
      // per key — a worst-realistic ER load, not just the planted typos
      for (nKeys <- Seq(100000L, 250000L, 500000L)) {
        val baseKeys = spark.range(0, nKeys, 1, 64).select(
          col("id"),
          concat(lit("Entity#"), lpad(col("id").cast("string"), 9, "0"))
            .as("name"))
        val typos = baseKeys.filter(pmod(col("id"), lit(10L)) === 0)
          .select((col("id") + nKeys).as("id"),
            concat(lit("Entity#"),
              substring(lpad(col("id").cast("string"), 9, "0"), 1, 8),
              lit("X")).as("name"))
        val path = s"$base/fuzzy_$nKeys"
        baseKeys.unionAll(typos).write.mode("overwrite").parquet(path)
        val keys = spark.read.parquet(path)
        var nPairs = -1L
        val t = timeIt(2) {
          nPairs = FuzzyJoin.selfPairs(keys, "id", "name", maxDist = 1)
            .count()
        }
        println(f"| ${nKeys / 1000}k keys (+10%% typos) | fuzzy selfPairs " +
          f"d=1 | $t%.1f | — | — | $nPairs pairs |")
      }
    }

    // --- exact set-similarity join (L63, r8): wall-clock scaling of the
    // prefix-filtered EXACT join vs MinHash-LSH on the same corpora —
    // the claim under test is that the rarest-first prefix keeps the
    // exact join in LSH's complexity class (both near-linear in corpus
    // size), not the all-pairs class, including with planted duplicate
    // families. Random 12-token docs over a 50k vocabulary; 10% of docs
    // carry a 1-token-mutated duplicate (the true-pair load).
    if (sections("setsim")) {
      import graft.operators.{NearDup, SetSimJoin}
      for (nDocs <- Seq(25000L, 50000L, 100000L)) {
        val bodyCols = (0 until 12).map(j =>
          concat(lit("w"), pmod(xxhash64(col("id") * 31 + j, lit(j)),
            lit(50000L))))
        val docsBase = spark.range(0, nDocs, 1, 64).select(
          col("id").as("doc_id"), concat_ws(" ", bodyCols: _*).as("text"))
        val dups = docsBase.filter(pmod(col("doc_id"), lit(10L)) === 0)
          .select((col("doc_id") + nDocs).as("doc_id"),
            regexp_replace(col("text"), "\\S+$", "wdup").as("text"))
        val path = s"$base/setsim_$nDocs"
        docsBase.unionAll(dups).write.mode("overwrite").parquet(path)
        val corpus = spark.read.parquet(path)
        var nExact = -1L
        var nLsh = -1L
        val tExact = timeIt(2) {
          nExact = SetSimJoin.pairs(corpus, "doc_id", "text",
            threshold = 0.8).count()
        }
        val tLsh = timeIt(2) {
          nLsh = NearDup.minhashPairs(corpus, "doc_id", "text",
            threshold = 0.8).count()
        }
        println(f"| ${nDocs / 1000}k docs (+10%% dups) | exact SetSimJoin " +
          f"vs LSH | $tExact%.1f ($nExact pairs) | $tLsh%.1f " +
          f"($nLsh pairs) | ${tExact / tLsh}%.1fx | both exact-recall here |")
      }
    }
    // --- skew-free within-group ranking (L79, r9): the shipped
    // range-partition + grid-offset Ranking.indexWithinGroups vs the
    // window row_number formulation, under group skew — the same
    // pathology class the paragraph-dedup section measures, but for an
    // operator whose OUTPUT is the rank (no aggregate escape hatch).
    if (sections("blocklist")) {
      import graft.operators.BlocklistScan
      // The pattern-count axis (L128's claim measured): Aho–Corasick is
      // O(len + matches) per doc regardless of |patterns|; the naive
      // family is O(len × patterns). The naive comparator here is the
      // CHEAPEST member of that family — one codegen'd `contains` flag
      // per pattern (existence only, not counts — strictly less work
      // than what matching semantics would need), so every measured gap
      // UNDERSTATES the real one.
      val vocab = (0 until 1000).map(i => s"w$i")
      val nd = 200000
      val path = s"$base/blocklist_docs"
      spark.range(0, nd, 1, 64).select(col("id"),
          concat_ws(" ", (0 until 40).map(j =>
            element_at(lit(vocab.toArray),
              (pmod(xxhash64(col("id"), lit(j)), lit(1000L)) + 1)
                .cast("int"))): _*).as("text"))
        .write.mode("overwrite").parquet(path)
      val docs = spark.read.parquet(path)
      val rng = new scala.util.Random(7)
      for (k <- Seq(16, 128, 1024, 8192)) {
        val pats = (0 until k).map { i =>
          if (i % 4 == 0)
            s"${vocab(rng.nextInt(1000))} ${vocab(rng.nextInt(1000))}"
          else vocab(rng.nextInt(1000))
        }.distinct
        def consumeAc(): Unit =
          BlocklistScan.scan(docs, "id", "text", pats)
            .agg(sum(col("n_hits"))).collect()
        val tAc = timeIt(2)(consumeAc())
        // a left-deep reduce(_ + _) of the per-pattern flags overflows
        // the driver stack (Column-node converter recursion) at ~1k
        // terms — the naive form can't even be EXPRESSED at blocklist
        // scale without a balanced tree; measured finding, kept here
        def balSum(cs: Seq[Column]): Column =
          if (cs.size == 1) cs.head
          else balSum(cs.grouped(2).map(g =>
            if (g.size == 2) g(0) + g(1) else g(0)).toSeq)
        def consumeNaive(): Unit =
          docs.select(balSum(pats.map(p =>
              when(col("text").contains(p), 1L).otherwise(0L))).as("f"))
            .agg(sum(col("f"))).collect()
        val tN = timeIt(2)(consumeNaive())
        println(f"| ${pats.size} patterns, 200k docs | blocklist " +
          f"(naive contains-flags vs Aho–Corasick) | $tN%.1f | $tAc%.1f " +
          f"| ${tN / tAc}%.1fx | — |")
      }
    }

    if (sections("ranking")) {
      import graft.operators.Ranking
      for (hotPct <- Seq(0, 50, 90)) {
        val path = s"$base/ranking_hot$hotPct"
        spark.range(0, n, 1, 256).select(
            col("id"),
            when(pmod(xxhash64(col("id")), lit(100L)) < hotPct, lit("hot"))
              .otherwise(pmod(xxhash64(col("id"), lit(7)), lit(5000L))
                .cast("string")).as("g"))
          .write.mode("overwrite").parquet(path)
        val rows = spark.read.parquet(path)
        def consumeRanked(): Unit =
          Ranking.indexWithinGroups(rows, "g", Seq(col("id")))
            .agg(sum(col("r"))).collect()
        def consumeWindow(): Unit = {
          import org.apache.spark.sql.expressions.Window
          rows.withColumn("r", row_number().over(
              Window.partitionBy(col("g")).orderBy(col("id"))) - 1)
            .agg(sum(col("r"))).collect()
        }
        val tR = timeIt(2)(consumeRanked())
        val tW = timeIt(2)(consumeWindow())
        println(f"| hot$hotPct | within-group ranking (window vs " +
          f"range+offset) | $tW%.1f | $tR%.1f | ${tW / tR}%.1fx | — |")
      }
      // the Interleave regime: FEW huge groups — a window gets at most
      // |groups|-way parallelism (every task sorts n/|G| rows), while
      // range+offset spreads every group over all partitions
      for (nGroups <- Seq(4, 20)) {
        val path = s"$base/ranking_few$nGroups"
        spark.range(0, n, 1, 256).select(
            col("id"),
            pmod(xxhash64(col("id")), lit(nGroups.toLong)).cast("string")
              .as("g"))
          .write.mode("overwrite").parquet(path)
        val rows = spark.read.parquet(path)
        def consumeRanked(): Unit =
          Ranking.indexWithinGroups(rows, "g", Seq(col("id")))
            .agg(sum(col("r"))).collect()
        def consumeWindow(): Unit = {
          import org.apache.spark.sql.expressions.Window
          rows.withColumn("r", row_number().over(
              Window.partitionBy(col("g")).orderBy(col("id"))) - 1)
            .agg(sum(col("r"))).collect()
        }
        val tR = timeIt(2)(consumeRanked())
        val tW = timeIt(2)(consumeWindow())
        println(f"| $nGroups huge groups | within-group ranking (window " +
          f"vs range+offset) | $tW%.1f | $tR%.1f | ${tW / tR}%.1fx | — |")
      }
    }
    spark.stop()
  }
}
