package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.Pipeline.RunReport
import graft.operators.{Envelope, IdempotentAppend, QualityReport}

/** One pass of a workload: its wall time, the latency of every batch in
  * it, and the outcome of every check it made. */
final case class Pass(seconds: Double, batches: Seq[Double], checks: Int,
    failures: Seq[String], filesAdded: Long, bytesAdded: Long,
    rowsInserted: Long, cachedBytesLeft: Long, reports: Seq[RunReport])

/** Files and bytes of the parquet files under a directory. */
final case class DirSize(files: Long, bytes: Long, buckets: Set[String]) {
  def -(o: DirSize): DirSize =
    DirSize(files - o.files, bytes - o.bytes, buckets -- o.buckets)
}

object DirSize {
  def apply(dir: String): DirSize = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return DirSize(0, 0, Set.empty)
    val s = Files.walk(root)
    try {
      val parts = s.iterator().asScala.filter { p =>
        Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")
      }.toSeq
      DirSize(parts.size.toLong, parts.map(Files.size).sum,
        parts.map(p => root.relativize(p).toString).toSet)
    } finally s.close()
  }
}

/** Checks collected during one pass. */
final class Checks {
  var made = 0
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  def apply(what: String, got: Any, want: Any): Unit = {
    made += 1
    if (got != want) failures += s"$what: got $got, want $want"
  }
}

trait Workload {
  /** Builds the state every pass starts from; repeatable. */
  def setup(spark: SparkSession): Unit
  /** Passes an untraced run measures at least; it reports their median. */
  def minPasses: Int = 1
  /** One measured pass; `trace` runs the layer-by-layer composition. */
  def pass(spark: SparkSession, trace: Option[Tracer]): Pass
  /** Work run once before measuring, so passes measure a warm JVM. */
  def warmUp(spark: SparkSession): Pass = pass(spark, None)
  def tearDown(): Unit = ()
}

object Workload {
  val PageSize = 100 // Pipeline.run's page size
  val Buckets = 64   // Pipeline.run's default bucket count

  def rmrf(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Records what the pass left cached, then clears it: `Pipeline.run`
    * keeps its extract cached, and a later pass must not inherit it. */
  def isolate(spark: SparkSession): Long = {
    val left = cachedBytes(spark)
    spark.catalog.clearCache()
    left
  }

  def report(spark: SparkSession, sink: String): (Long, Long, Long) = {
    val r = QualityReport(spark.read.parquet(sink), "id", "ingested_at_utc").head()
    (r.getAs[Long]("total"), r.getAs[Long]("null_ids"), r.getAs[Long]("duplicate_ids"))
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** One backfill of `[lo, hi]`: `Pipeline.run` untraced, or the same
    * calls made one by one under `trace`. */
  def backfill(spark: SparkSession, trace: Option[Tracer], fetcher: QboPages,
      sink: String, lo: String, hi: String): RunReport = trace match {
    case None => Pipeline.run(spark, fetcher, sink, lo, hi, Buckets)
    case Some(t) => t.pipeline(fetcher, sink, lo, hi, PageSize, Buckets)
  }
}

import Workload._

/** `incremental_windows`: a ten-page entity, updated over 60 days,
  * backfilled as consecutive 8-day windows that step 5 days, so each window
  * overlaps the last by three days, into a pre-built sink that every pass
  * restores. A window keeps about one record in eight of the ten pages.
  * The pass ends by re-running its first window, which must insert 0. */
final class IncrementalWindows(seed: Long, windows: Int, baseRows: Int,
    work: String) extends Workload {
  private val firstDay = "2025-01-01"
  private val gen = QboPages(seed, 1000, "W", firstDay, 60)
  private val bounds = (0 until windows).map { k =>
    val lo = LocalDate.parse(firstDay).plusDays(5L * k)
    (lo.toString, lo.plusDays(7).toString)
  } :+ ((firstDay, LocalDate.parse(firstDay).plusDays(7).toString))
  /** Per window: what it must report, given the windows before it. */
  private val expected = {
    val recs = gen.planted
    var present = Set.empty[String]
    bounds.map { case (lo, hi) =>
      val e = Expected(recs, lo, hi, present)
      present ++= e.fresh
      e
    }
  }
  private val base = s"$work/sink-base"
  private val sink = s"$work/sink-windows"

  /** The pre-built sink: `baseRows` customers of other ids, written the way
    * the pipeline writes, through the bucketed append. */
  def setup(spark: SparkSession): Unit = {
    rmrf(base)
    val rows = spark.range(1, baseRows + 1L, 1, 8).select(
      concat(lit("B"), col("id")).as("Id"),
      concat(lit("Customer B"), col("id")).as("DisplayName"),
      (col("id") % 2 === 0).as("Active"),
      (col("id") * 7 % 100000 / 100.0).as("Balance"),
      struct(lit("2023-06-01T09:00:00-07:00").as("CreateTime"),
        date_format(date_add(lit("2024-01-01").cast("date"),
          (col("id") % 365).cast("int")), "yyyy-MM-dd'T'16:52:08-07:00")
          .as("LastUpdatedTime")).as("MetaData"))
    val env = Envelope.project(rows, col("Id"), "customer", "2024-01-01",
      "2024-12-31")
    val n = IdempotentAppend.toBucketedParquet(env, base, "id", Buckets)
    require(n == baseRows, s"base sink got $n rows, want $baseRows")
  }

  def pass(spark: SparkSession, trace: Option[Tracer]): Pass =
    run(spark, trace, bounds.size)

  override def warmUp(spark: SparkSession): Pass = run(spark, None, 1)

  /** Restores the sink, then backfills the first `upTo` windows. */
  private def run(spark: SparkSession, trace: Option[Tracer], upTo: Int): Pass = {
    rmrf(sink)
    copyTree(base, sink)
    val before = DirSize(sink)
    val check = new Checks
    val fetcher = gen.copy(counters = trace.map(_.counters))
    val t0 = System.nanoTime()
    val runs = bounds.zip(expected).zipWithIndex.take(upTo).map {
      case (((lo, hi), e), k) =>
        val tb = System.nanoTime()
        val r = backfill(spark, trace, fetcher, sink, lo, hi)
        val sec = seconds(tb)
        check(s"window $k filtered", r.filtered, e.windowed)
        check(s"window $k inserted", r.inserted, e.fresh.size.toLong)
        (sec, r)
    }
    val (total, nulls, dups) = trace match {
      case None => report(spark, sink)
      case Some(t) => t("report")(report(spark, sink))
    }
    val sec = seconds(t0)
    val files = DirSize(sink) - before
    trace.foreach(_.sinkWrite(files))
    val added = expected.take(upTo).map(_.fresh.size.toLong).sum
    check("report.total", total, baseRows + added)
    check("report.null_ids", nulls, 0L)
    check("report.duplicate_ids", dups, 0L)
    val left = isolate(spark)
    Pass(sec, runs.map(_._1), check.made, check.failures.toSeq, files.files,
      files.bytes, added, left, runs.map(_._2))
  }

  override def tearDown(): Unit = { rmrf(sink); rmrf(base) }
}

/** `operator_battery`: a fixed slice of the oracle battery, each query
  * counted the way the battery's own bench counts it. */
final class OperatorBattery(dataDir: String, expectedRows: Map[String, Long])
    extends Workload {
  import OperatorBattery.Queries
  require(Queries.forall(expectedRows.contains),
    s"no recorded row count for ${Queries.filterNot(expectedRows.contains)}")
  private val fns = Queries.map(q => q -> graft.SparkEntry.queries(q))

  /** One warm pass swings with the host; the median of two holds. */
  override def minPasses: Int = 2

  /** Opens every table the slice reads. */
  def setup(spark: SparkSession): Unit =
    Seq("customer", "orders", "lineitem", "events", "documents")
      .foreach(t => graft.Tables(spark, dataDir, t).schema)

  def pass(spark: SparkSession, trace: Option[Tracer]): Pass = {
    val check = new Checks
    val t0 = System.nanoTime()
    val batches = fns.map { case (q, fn) =>
      val tq = System.nanoTime()
      val rows = trace match {
        case None => fn(spark, dataDir).count()
        case Some(t) => t(s"op.$q")(fn(spark, dataDir).count())
      }
      val sec = seconds(tq)
      check(s"$q rows", rows, expectedRows(q))
      sec
    }
    val sec = seconds(t0)
    val left = isolate(spark)
    Pass(sec, batches, check.made, check.failures.toSeq, 0, 0, 0, left, Nil)
  }
}

object OperatorBattery {
  val Queries: Seq[String] = Seq("q_j4_join_agg", "q_lp_training_prep",
    "q_g1_pagerank", "q_g2_triangles", "q_d9_setsim_exact",
    "q_e15_safe_split", "q_d2_minhash_neardup", "q_qr5_rekeyed",
    "q_t28_bpe_learn", "q_t17_ccnet_buckets", "q_j3_idempotent_append",
    "q_d12_cdc_delta")
}
