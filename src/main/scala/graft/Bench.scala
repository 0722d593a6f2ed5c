package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — driver contract: print ONE unadorned JSON line
  * `{"metric":"total","value":N,"unit":"sec","cal_cs":C,"queries":{...},
  * "sf":...}` (build.sbt sets `outputStrategy := StdoutOutput` so sbt
  * does not wrap the line in `[info]` — BENCH_r01.json had
  * `"parsed": null` for that).
  *
  * `cal_cs` is a same-run calibration constant: a fixed synthetic
  * sort+hash-agg (no parquet) timed on this host in this JVM, in
  * centiseconds — sampled BEFORE and AFTER the battery, min kept (r7:
  * a start-only probe repeatedly caught transient stalls the battery
  * itself didn't see). The sandbox host swings ±40% across rounds, so
  * raw cross-round query deltas are unreadable; `query_time / cal` is
  * the host-normalized form (SURVEY §6). Per-query keys are the short SURVEY
  * §2 ids ("d4x"), mapped from SparkEntry.queries names by stripping
  * "q_" and keeping the first underscore segment.
  *
  * Vs round 1: a warmup pass primes codegen/classloading (first-query
  * warmup was ~3.6 s of q_x9's recorded time), failures are recorded
  * per-query in an `"errors"` map instead of being swallowed as plausible
  * timings, and row counts are kept so a query that regresses to 0 rows is
  * visible. Timings go to stderr as they happen for stall diagnosis.
  *
  * Vs round 6: the line can carry a `"reran":[...]` key — the adaptive
  * stall correction (VERDICT r6 #1). A mid-run host stall spans both
  * back-to-back repeats of a query, so r6 published 3-5× phantom
  * regressions on 14 queries; now any non-io_bound query measuring over
  * [[RerunFactor]]× its previous-round cal-normalized time (shipped in
  * `resources/graft/bench_prior.json`, refreshed per round by
  * `scripts/make_bench_prior.py`) re-runs once AFTER the full battery —
  * when a transient stall has moved on — and the min is kept. */
object Bench {

  /** Side-effecting queries whose wall-time is dominated by sink I/O (the
    * J3 protocol writes the sink twice; S4 writes+reads a CSV copy) —
    * flagged on stderr so the analytic per-query numbers aren't read as
    * query cost. Their legitimate I/O spread exempts them from the
    * PRIOR-based stall re-run; since r18 they re-run on a reading over
    * [[RerunFactor]]× their measured band TOP instead (VERDICT r17 #3:
    * m7 recorded a 63 s host stall against a ~10.5 s band and the full
    * exemption let it stand). */
  private[graft] val IoBound = Set("q_j3_idempotent_append", "q_s4_csv",
    "q_s7_empty_shortcircuit", "q_d6_delta_neardup", "q_s9_jsonl",
    "q_s10_orc", "q_s12_schema_evolution", "q_m7_perceptual_delta",
    "q_s13_avro", "q_d12_cdc_delta")

  /** Re-run factor: a first-pass measurement over `factor` × the
    * previous round's cal-normalized time is a stall suspect. Was 3.0
    * through r12; lowered to 2.0 after q_a5 (r12) recorded a 2.53×
    * host-stall blowup that slipped under the 3× trigger (VERDICT r12
    * #1 — the judge's min-of-5 A/B restored the 0.72 norm, so the
    * reading was exactly the stall class the pass exists to catch).
    * 2× is still well above the observed cal-NORMALIZED noise tail
    * (≤1.34× in r12, on a degraded host — uniform host shift divides
    * out through cal), and a false positive costs one extra run of one
    * query, so the asymmetry favors the lower trigger. */
  private[graft] val RerunFactor = 2.0

  /** Is this first-pass time a stall suspect? `priorNormSec` is the
    * previous round's `sec / cal` for the same query (None ⇒ new query,
    * never a suspect). The 0.075 floor on the prior keeps sub-15 ms
    * queries — where scheduler jitter alone spans 3× — from
    * hair-triggering re-runs (floor raised 0.05 → 0.075 alongside the
    * 3→2 factor drop so the absolute tiny-query threshold is unchanged
    * at 0.15 cal-normalized seconds). */
  private[graft] def stallSuspect(sec: Double, calSec: Double,
      priorNormSec: Option[Double]): Boolean =
    priorNormSec.exists(p => sec / calSec > RerunFactor * math.max(p, 0.075))

  /** The adaptive re-measure pass (VERDICT r6 #1), separated from main
    * so the stall path is unit-testable with an injected runner: for
    * each non-skipped first-pass result flagged by [[stallSuspect]],
    * run `rerunSec` once more and keep the MIN; returns the corrected
    * results plus the short keys that re-ran (for the JSON "reran"
    * field). Runs AFTER the full first pass on purpose — a transient
    * host stall spans back-to-back repeats of one query but not the
    * whole battery plus the tail re-runs.
    *
    * io_bound queries (r18, VERDICT r17 #3): previously exempt outright
    * — their times legitimately swing with host I/O — which let m7's
    * 63 s stall stand against its ~10.5 s band top in BENCH_r17 (~50 s
    * of the total). Now a query flagged `ioBound` re-runs when its
    * cal-normalized reading exceeds [[RerunFactor]] × its measured band
    * TOP (`bandTopNorm`, from bench_prior.json's `bands_sec`): the band
    * already encodes the query's legitimate I/O spread, so only a
    * genuinely out-of-band blowup triggers. io_bound queries without a
    * band never re-run (unchanged exemption). */
  private[graft] def adaptivePass(firstPass: Seq[(String, Double)],
      calSec: Double, priorNorm: Map[String, Double],
      shortKeys: Map[String, String], skip: String => Boolean,
      rerunSec: String => Double,
      ioBound: String => Boolean = _ => false,
      bandTopNorm: Map[String, Double] = Map.empty)
      : (Seq[(String, Double)], List[String]) = {
    var reran = List.empty[String]
    val corrected = firstPass.map { case (name, sec) =>
      val sk = shortKeys.getOrElse(name, name)
      val suspect =
        if (ioBound(name))
          bandTopNorm.get(sk).exists(top => sec / calSec > RerunFactor * top)
        else stallSuspect(sec, calSec, priorNorm.get(sk))
      if (skip(name) || !suspect)
        name -> sec
      else {
        val sec2 = rerunSec(name)
        System.err.println(
          f"[bench] $name RERUN stall-suspect: $sec%.3f -> $sec2%.3f s")
        reran ::= sk
        name -> math.min(sec, sec2)
      }
    }
    (corrected, reran)
  }

  /** Previous round's cal-normalized per-query times, from the
    * classpath resource `graft/bench_prior.json` (written by
    * `scripts/make_bench_prior.py` from the round's BENCH line).
    * Missing/malformed resource ⇒ empty map ⇒ no re-runs — the bench
    * must never fail on its own calibration data. */
  private[graft] def loadPriorNorm(): Map[String, Double] = try {
    val in = getClass.getResourceAsStream("/graft/bench_prior.json")
    if (in == null) Map.empty
    else try {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      val cal = node.get("cal_cs").asDouble() / 100.0
      val qs = node.get("queries")
      import scala.jdk.CollectionConverters._
      qs.fieldNames().asScala.map(k => k -> qs.get(k).asDouble() / cal).toMap
    } finally in.close()
  } catch { case _: Throwable => Map.empty }

  /** Previous rounds' measured io_bound band TOPS, cal-normalized by the
    * prior's own cal (`bands_sec` in bench_prior.json: absolute sf0.1
    * seconds with the documented host-I/O spread). Missing/malformed ⇒
    * empty ⇒ io_bound queries keep their full exemption. */
  private[graft] def loadPriorBandTopNorm(): Map[String, Double] = try {
    val in = getClass.getResourceAsStream("/graft/bench_prior.json")
    if (in == null) Map.empty
    else try {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      val cal = node.get("cal_cs").asDouble() / 100.0
      val bands = node.get("bands_sec")
      if (bands == null) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        bands.fieldNames().asScala
          .map(k => k -> bands.get(k).get(1).asDouble() / cal).toMap
      }
    } finally in.close()
  } catch { case _: Throwable => Map.empty }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    // Bench-battery parity (VERDICT r7 #5): every CORRECTNESS key is a
    // bench key — the r2-r7 plan-variant exclusion (4 queries held back
    // to protect the 2000-char stdout tail) is gone; the precision
    // ladder below absorbs the extra ~50 bytes without losing the line.
    // Optional subset filter for local iteration: SPARK_GRAFT_ONLY=q_a1,q_x2
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.contains(n))
    }

    // Warmup: prime parquet reader, codegen, shuffle and broadcast paths
    // once so the first measured query doesn't pay JVM/classloader costs.
    // Root cause of the round-1 "q_x2 stall" (BENCH_r01 20.96 s, VERDICT r1
    // #4): the FIRST `lower()` call in the JVM pays ~10 s of one-time
    // collation/case-mapping init (measured in round 1 by timing one query
    // twice in a fresh JVM: `lower()` select 10.9 s, the identical query
    // immediately after 0.4 s) — data-size
    // independent and billed to whichever query hits it first. Touch that
    // path, plus JSON and window subsystems, in warmup instead.
    {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val w = spark.read.parquet(s"$sfDir/region.parquet")
      w.join(broadcast(w.select(col("r_regionkey"))), "r_regionkey")
        .groupBy(col("r_name")).count().collect()
      spark.range(2).select(
        lower(lit("Warmup")), upper(lit("w")),
        base64(lit("w").cast("binary")),
        to_json(struct(lit(1).as("a"))),
        get_json_object(lit("""{"k":1}"""), "$.k"),
        md5(lit("w")), xxhash64(lit("w")),
        substring(lit("warmup"), 1, 3)).collect()
      spark.range(10).select(col("id"),
        row_number().over(Window.orderBy(col("id"))).as("rn")).collect()
      // The near-dup/ANN signature loops (mapPartitions minhash/simhash/
      // bucket hashing) and the localCheckpoint machinery pay ~2-3 s of
      // one-time JIT/classloading — data-size independent, billed to
      // whichever near-dup query runs first. Touch them on a 3-row corpus.
      import spark.implicits._
      val docs3 = Seq((1L, "a b c d e a b c d e"), (2L, "a b c d e a b c d f"),
        (3L, "x y z w v u t s r q")).toDF("doc_id", "text")
      graft.operators.NearDup.ensemblePairs(docs3, "doc_id", "text").count()
      val vecs3 = spark.range(3).select(col("id").as("vec_id"),
        array((0 until 4).map(i => (col("id") + i).cast("float")): _*)
          .as("embedding"))
      graft.operators.Similarity.lshNearDupPairs(vecs3, 0.99, dim = 4).count()
      // r4 additions: typed shingle-explode (decontaminate), the iterative
      // CC loop (checkpoint machinery), and the boilerplate df join pay
      // their own one-time classload/codegen (~4-5 s billed to whichever
      // query ran first otherwise; measured on q_t9).
      graft.operators.Decontaminate.overlaps(docs3, docs3.limit(1),
        "doc_id", "text", shingleLen = 2).count()
      val cc = graft.operators.Clusters.connectedComponents(
        docs3.select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b")))
      cc.count()
      graft.operators.Checkpoints.release(cc)
      graft.operators.Boilerplate.stats(docs3, "doc_id", "text",
        shingleLen = 2, minDf = 2).count()
      graft.operators.NearDup.releaseMaterialized()
    }

    // Calibration constant (VERDICT r5 #1): a fixed-seed synthetic
    // sort + hash-agg over GENERATED data (no parquet, no disk) timed on
    // this very run and emitted as "cal" (centiseconds) in the JSON line.
    // The sandbox host swings ±40% between rounds (measured via same-code
    // git-stash A/B, r4/r5), which made official cross-round per-query
    // deltas unreadable; dividing any query's time by the SAME line's cal
    // normalizes out host speed. The workload is deterministic by
    // construction (id-derived keys, no RNG), wide enough to exercise
    // shuffle + codegen + sort, and sized ~1 s so its own measurement
    // noise stays small; min of 3 runs drops GC/scheduler outliers.
    // The constant is sampled on BOTH sides of the battery and the min
    // taken: three of this round's four local runs caught a transient
    // host stall in a START-only probe (cal 145/240 cs while the
    // battery's own queries ran at normal speed), which would have made
    // every cal-normalized cross-round delta misread ~3-5×. A stall
    // would have to span the whole run to own both samples — and then
    // it would slow the queries identically, which is exactly when a
    // large cal is the truthful reading.
    def calOnce(): Double = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      spark.range(0, 8_000_000L, 1, 32)
        .select(col("id"), pmod(xxhash64(col("id")), lit(4096)).as("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
        .sort(col("s").desc)
        .limit(5).collect()
      (System.nanoTime() - t0) / 1e9
    }
    val calStart = (1 to 3).map(_ => calOnce()).min
    System.err.println(f"[bench] calibration (pre-battery) $calStart%6.3f s")

    // Min of N runs per query. Default 2: single-shot numbers showed
    // occasional 3-4× outliers deep into a 50-query session (context
    // cleaner/GC pauses landing on one query), and the min of two runs
    // reports the query's actual steady-state cost; the JSON records the
    // repeat count. SPARK_GRAFT_REPEAT overrides.
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "2").toInt
    // Short per-query keys (VERDICT r5 #3): the SURVEY §2 id alone ("d4x",
    // not "q_d4x_embedding_neardup_lsh") — the full-name mapping is static
    // in SparkEntry.queries (strip "q_", keep the first "_"-segment).
    // Falls back to the full name on the (currently impossible) collision
    // so two queries can never silently merge.
    val shortKeys: Map[String, String] = {
      val ids = selected.keysIterator.map(n =>
        n -> n.stripPrefix("q_").split("_").head).toMap
      val counts = ids.values.groupBy(identity).map { case (k, v) => k -> v.size }
      ids.map { case (n, id) => n -> (if (counts(id) > 1) n else id) }
    }
    var rows = Map.empty[String, Long]
    var errors = Map.empty[String, String]
    def measureOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try {
        val n = fn(spark, sfDir).count()
        rows += name -> n
      } catch {
        case e: Throwable =>
          // full detail to stderr; the JSON line carries a SHORT form —
          // at 200 chars per error, two failures would push the line
          // past the driver's 2000-char tail window and lose the whole
          // bench (the round-3 failure mode, re-entering via errors)
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
          errors += name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(40)}"
      }
      (System.nanoTime() - t0) / 1e9
    }
    val firstPass = selected.toSeq.map { case (name, fn) =>
      val sec = (1 to repeat).map(_ => measureOnce(name, fn)).min
      System.err.println(f"[bench] $name%-28s ${sec}%8.3f s rows=${rows.getOrElse(name, -1L)}")
      name -> sec
    }

    // Adaptive re-measure (VERDICT r6 #1): a mid-run host stall spans
    // BOTH back-to-back repeats of a query, so min-of-2 alone recorded
    // 3-5× phantom regressions on 14 queries in r6. After the full pass
    // — by which time a transient stall has moved on — any non-io_bound
    // query whose cal-normalized time exceeds ~3× its stored
    // previous-round value (resources/graft/bench_prior.json, refreshed
    // each round by scripts/make_bench_prior.py) is re-run once and the
    // min taken; the JSON line records which under "reran" so a
    // cross-round reader can see the correction happened.
    // post-battery calibration sample — see the calOnce rationale
    val calEnd = (1 to 2).map(_ => calOnce()).min
    val calSec = math.min(calStart, calEnd)
    System.err.println(
      f"[bench] calibration (post-battery) $calEnd%6.3f s -> cal $calSec%6.3f s")

    val priorNorm = loadPriorNorm()
    // io_bound queries re-run only on a >2× band-top blowup (r18 —
    // VERDICT r17 #3: m7's 63 s stall stood because the set was exempt)
    val (results, reran) = adaptivePass(firstPass, calSec, priorNorm,
      shortKeys, skip = n => errors.contains(n),
      rerunSec = n => measureOnce(n, selected(n)),
      ioBound = IoBound, bandTopNorm = loadPriorBandTopNorm())

    def jm(m: Iterable[(String, String)]) =
      m.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    // Centisecond precision, locale-independent. The driver keeps only the
    // LAST 2000 chars of output, and an over-long line loses its HEAD —
    // round 3's bench went unparsed that way (BENCH_r03.json "parsed":
    // null: 3-decimal timings + io_bound/repeat keys pushed 67 queries to
    // 2030 chars). 2 decimals is still 5-50× below run-to-run variance;
    // io_bound/repeat live on stderr now; errors/n_err are emitted only
    // when a query failed. 77 queries ≈ 1.9 KB at 2 decimals; the
    // line(scale) fallback below degrades precision before overflow.
    // trailing zeros stripped ("0.50"→"0.5") — worth ~50 bytes across the
    // battery, which is real headroom against the 2000-char tail window
    def fmtAt(scale: Int)(v: Double): String = {
      val d = java.math.BigDecimal.valueOf(v)
        .setScale(scale, java.math.RoundingMode.HALF_UP)
        .stripTrailingZeros()
      d.toPlainString
    }
    def fmt(v: Double): String = fmtAt(2)(v)
    val total = results.map(_._2).sum
    System.err.println(
      s"[bench] io_bound=${IoBound.toSeq.sorted.mkString(",")} repeat=$repeat")
    // Separate subtotals (VERDICT r2 #8): the reference-surface relational
    // battery vs the LLM-extension battery, so one heavy extension query
    // can't read as "engine slow" in the headline number.
    val llmNames = graft.queries.LlmPipeline.queries.keySet
    val subLlm = results.collect { case (n, s) if llmNames(n) => s }.sum
    val subRel = total - subLlm
    // sf as basename ("sf0.1"): the full dir path spent 16 bytes of the
    // 2000-char budget on a constant prefix
    val sfName = new java.io.File(sfDir).getName
    val es = jm(errors.map { case (k, v) =>
      shortKeys.getOrElse(k, k) ->
        ("\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\"") })
    // n_err appears only when nonzero — absence means a clean run.
    // `withMessages = false` keeps only the count: error texts are
    // 40-char-bounded at capture, but MANY failures could still push even
    // the lowest-precision line past the tail window (ADVICE r4) — the
    // count survives, the messages live on stderr.
    def errField(withMessages: Boolean): String =
      if (errors.isEmpty) ""
      else if (withMessages) s""""errors":$es,"n_err":${errors.size},"""
      else s""""n_err":${errors.size},"""
    // "reran" names the stall-suspect queries the adaptive pass
    // re-measured (empty ⇒ key absent): the cross-round reader's signal
    // that a published number was already corrected for a mid-run stall
    val rr = if (reran.isEmpty) ""
      else reran.sorted.map("\"" + _ + "\"").mkString(""""reran":[""", ",", "],")
    def lineWith(qKey: String, perQuery: Double => String,
        withMessages: Boolean = true): String = {
      val qs = jm(results.map { case (k, v) => shortKeys(k) -> perQuery(v) })
      val cal = Math.round(calSec * 100)
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","cal_cs":$cal,"$qKey":$qs,$rr${errField(withMessages)}"sub":{"rel":${fmt(subRel)},"llm":${fmt(subLlm)}},"sf":"$sfName"}"""
    }
    def line(perQuery: Double => String, withMessages: Boolean = true): String =
      lineWith("queries", perQuery, withMessages)
    // Centisecond integers under a SELF-DESCRIBING key ("queries_cs", so
    // a cross-round diff can never silently misread the unit): 10 ms
    // resolution everywhere at ~1 char per sub-second query over the
    // integer-seconds floor — the densest format that still carries
    // sub-second granularity for the whole battery.
    val lineCs = lineWith("queries_cs", v => Math.round(v * 100).toString)
    // Tiered precision: 2 decimals where granularity matters (sub-second
    // queries — the judge diffs these across rounds), 1 decimal above
    // (±0.05 s is far below host noise at that magnitude).
    def tiered(v: Double): String = if (v < 1) fmtAt(2)(v) else fmtAt(1)(v)
    // next degradation step keeps sub-10s granularity at 1 decimal and
    // only rounds the handful of big protocol queries to whole seconds
    def tiered0(v: Double): String = if (v < 10) fmtAt(1)(v) else fmtAt(0)(v)
    // The driver keeps only the LAST 2000 chars of stdout; a line past
    // that loses its HEAD and the whole bench goes unparsed (the r3
    // failure). Ladder: full 2-decimal → tiered → 1-decimal → shed error
    // messages → 0-decimal, degrading precision before losing the round's
    // numbers. The 1975 cutoff leaves 24 bytes of margin; nothing else
    // reaches stdout (sbt [success] suppressed, Spark logs on stderr).
    val ladder = Seq(line(fmt), line(tiered), lineCs, line(fmtAt(1)),
      line(tiered0), line(tiered0, withMessages = false),
      line(fmtAt(0), withMessages = false))
    System.err.println(
      s"[bench] ladder lengths=${ladder.map(_.length).mkString(",")}")
    val out = ladder.find(_.length <= 1975)
      .getOrElse(line(fmtAt(0), withMessages = false))
    System.err.println(s"[bench] json line length=${out.length}")
    // FULL-precision per-query detail to a FILE, every run (r12): at
    // 212 battery queries even the centisecond rung overflows the
    // 2000-char stdout tail and the ladder degrades to whole seconds —
    // which zeroes most sub-second queries and destroys the cross-round
    // per-query diff. The stdout line remains the driver contract
    // (total/cal/subtotals always survive); the detail file carries
    // what the line can no longer fit. make_bench_prior.py prefers it.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "bench_detail.json")
    try {
      val detail = lineWith("queries_cs", v => Math.round(v * 100).toString)
      java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
        detail.getBytes("UTF-8"))
      System.err.println(s"[bench] detail written to $detailPath")
    } catch { case e: Exception =>
      System.err.println(s"[bench] detail write failed: $e")
    }
    // The one contract line, on stdout, no decoration:
    println(out)
    spark.stop()
  }
}
