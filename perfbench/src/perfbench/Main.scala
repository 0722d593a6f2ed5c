package perfbench

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Runs one workload and prints two JSON lines on stdout: the run context,
  * then the result (`correct`, `attempted`, `failed`, `metrics`).
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <scratch dir> --data <battery tables dir> --rows <rows json>
  * }}}
  *
  * Untraced, the run sets up once cold and then `SetupRounds` times more (a
  * new session and the workload's state each time; `setup_s` is the median
  * of the warm rounds, the cold one goes to the context line), warms up as
  * the workload asks, then measures passes until `--seconds` have passed
  * and the workload's `minPasses` succeeded. Traced, it sets up once, runs
  * one untraced pass to warm up, alternates untraced and traced passes for
  * the same time and ends on an untraced pass. */
object Main {
  /** Warm set-ups after the cold one; the first JVM session of a run takes
    * several times longer and swings with the host. */
  val SetupRounds = 3
  val Windows = 3 // and a re-run of the first
  val BaseSinkRows = 10000

  private val json = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val nproc = Runtime.getRuntime.availableProcessors()

    def build(): Workload = workload match {
      case "incremental_windows" => new IncrementalWindows(seed, Windows, BaseSinkRows, work)
      case "operator_battery" => new OperatorBattery(opt("data"), rowCounts(opt("rows")))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val w = build()

    var spark: SparkSession = null
    val setups = (0 to (if (trace) 0 else SetupRounds)).map { _ =>
      if (spark != null) spark.stop()
      System.gc()
      val t0 = System.nanoTime()
      spark = session(nproc, work)
      w.setup(spark)
      Workload.seconds(t0)
    }

    var attempted = 0L
    var failed = 0L
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    /** A pass that fails any check, or throws, gives no timing. Each pass
      * starts after a full GC, so none pays for its predecessor's garbage. */
    def measured(pass: => Pass): Option[Pass] = {
      System.gc()
      val p = try Right(pass)
        catch { case NonFatal(e) => Left(e) }
      p match {
        case Right(p) =>
          attempted += p.checks
          failed += p.failures.size
          failures ++= p.failures
          if (p.failures.isEmpty) Some(p) else None
        case Left(e) =>
          attempted += 1
          failed += 1
          failures += s"${e.getClass.getSimpleName}: ${e.getMessage}"
          e.printStackTrace()
          None
      }
    }

    val tw = System.nanoTime()
    // a traced run always warms up: its overhead compares warm passes
    measured(if (trace) w.pass(spark, None) else w.warmUp(spark))
    val warmUp = Workload.seconds(tw)
    val calBefore = calibrate(spark)
    val t0 = System.nanoTime()
    val untraced = scala.collection.mutable.ArrayBuffer.empty[Pass]
    val traced = scala.collection.mutable.ArrayBuffer.empty[(Map[String, Double], Double)]
    val tracer = if (trace) Some(new Tracer(spark, nproc)) else None
    var rounds = 0
    val minPasses = if (trace) 1 else w.minPasses
    while (Workload.seconds(t0) < seconds ||
        (untraced.size < minPasses && rounds < minPasses + 2)) {
      rounds += 1
      val plain = measured(w.pass(spark, None))
      untraced ++= plain
      tracer.foreach { t =>
        t.begin()
        measured(w.pass(spark, Some(t))).foreach { p =>
          val (m, sec) = t.end(p.seconds, p.cachedBytesLeft)
          attempted += 1
          // the traced composition must report what Pipeline.run reports
          if (plain.exists(_.reports != p.reports)) {
            failed += 1
            failures += s"traced reports ${p.reports} != ${plain.get.reports}"
          } else traced += m -> sec
        }
      }
    }
    // traced passes ran between untraced ones, so JIT warming over the
    // run biases their ratio neither way
    if (trace) untraced ++= measured(w.pass(spark, None))
    if (untraced.isEmpty || (trace && traced.isEmpty)) {
      spark.stop()
      w.tearDown()
      finish(attempted, math.max(failed, 1L), Map.empty,
        Map("workload" -> workload, "failures" -> failures.take(20)))
      return
    }
    val calAfter = calibrate(spark)

    val passSec = median(untraced.map(_.seconds).toSeq)
    val batches = untraced.flatMap(_.batches).sorted.toSeq
    // the highest percentile with at least ten batches beyond it; with
    // fewer than 40 batches, a quarter of them
    val beyond = math.min(10, batches.size / 4)
    val tail = batches(batches.size - 1 - beyond)
    val tailPct = 100.0 * (batches.size - beyond) / batches.size
    val metrics: Map[String, (Double, String)] =
      if (!trace) Map(
        "pass_s" -> (passSec -> "s"),
        "batch_p50_s" -> (median(batches) -> "s"),
        "batch_tail_s" -> (tail -> "s"),
        "setup_s" -> (median(setups.tail) -> "s"))
      else {
        val keys = traced.head._1.keys
        keys.map { k =>
          k -> (median(traced.map(_._1(k)).toSeq) -> unitOf(k))
        }.toMap + ("trace.overhead" ->
          (median(traced.map(_._2).toSeq) / passSec -> "ratio"))
      }
    val inserted = untraced.map(_.rowsInserted).sum
    val context = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "nproc" -> nproc,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString,
      "calibration_s" -> Map("before" -> calBefore, "after" -> calAfter),
      "setup_cold_s" -> setups.head, "setup_s" -> setups.tail,
      "warm_up_s" -> warmUp, "passes_s" -> untraced.map(_.seconds),
      "batches_s" -> untraced.map(_.batches),
      "batches" -> batches.size,
      "batch_tail" -> Map("percentile" -> tailPct, "n" -> batches.size),
      "sink_files_added" -> median(untraced.map(_.filesAdded.toDouble).toSeq),
      "sink_bytes_per_record" ->
        (if (inserted > 0) untraced.map(_.bytesAdded).sum.toDouble / inserted else 0.0),
      "cached_bytes_left" -> untraced.map(_.cachedBytesLeft),
      "failed_frac" -> failed.toDouble / math.max(1L, attempted),
      "failures" -> failures.take(20))
    spark.stop()
    w.tearDown()
    finish(attempted, failed, metrics, context)
  }

  /** Units of the per-layer metrics, by name. */
  def unitOf(k: String): String =
    if (k.endsWith("_s") || k.endsWith(".s")) "s"
    else if (k.contains("bytes")) "bytes"
    else if (k.endsWith("_mb")) "MB"
    else if (Seq("ratio", "utilization", "per_batch_row", "overhead").exists(k.endsWith)) "ratio"
    else if (k.endsWith("plan_chars")) "chars"
    else "count"

  private def finish(attempted: Long, failed: Long,
      metrics: Map[String, (Double, String)], context: Map[String, Any]): Unit = {
    println(json.writeValueAsString(java.util.Map.of("context", toJava(context))))
    val m = new java.util.TreeMap[String, Any]()
    metrics.foreach { case (k, (v, u)) => m.put(k, java.util.Map.of("value", v, "unit", u)) }
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("correct", failed == 0 && metrics.nonEmpty)
    out.put("attempted", math.max(1L, attempted))
    out.put("failed", failed)
    out.put("metrics", m)
    println(json.writeValueAsString(out))
  }

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => java.util.List.of(s.map(toJava(_).asInstanceOf[AnyRef]).toSeq: _*)
    case x => x
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def rowCounts(path: String): Map[String, Long] = {
    val node = json.readTree(new java.io.File(path))
    import scala.jdk.CollectionConverters._
    node.fieldNames().asScala.map(k => k -> node.get(k).asLong()).toMap
  }

  /** A fixed sort + hash aggregate over generated rows, timed; reported
    * beside the metrics and never used to rescale them. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 1000000L, 1, 8)
      .select(col("id"), pmod(xxhash64(col("id")), lit(1024)).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
      .sort(col("s").desc).limit(5).collect()
    Workload.seconds(t0)
  }

  def session(nproc: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
