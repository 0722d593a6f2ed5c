package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.Pipeline.RunReport
import graft.operators.{Dedup, Envelope, IdempotentAppend, WindowFilters}
import graft.plans.Schemas
import graft.sources.PaginatedRest

/** The traced pass. It makes `Pipeline.run`'s calls one at a time, each in
  * its own span, and adds side probes (a count of the extract, of null ids
  * after parsing, of envelope rows and of distinct ids) in `probe.` spans
  * that are left out of the pass time and the engine totals. */
final class Tracer(spark: SparkSession, nproc: Int) {
  private val spans = new Spans(spark)
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val maxes = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq
  var counters: FetchCounters = FetchCounters(spark.sparkContext)

  def apply[T](span: String)(body: => T): T = spans(span)(body)

  def begin(): Unit = {
    spans.register()
    spans.reset()
    sums.clear(); maxes.clear()
    counters = FetchCounters(spark.sparkContext)
    heap.foreach(_.resetPeakUsage())
  }

  private def add(k: String, v: Double): Unit = sums(k) += v
  private def max(k: String, v: Double): Unit = maxes(k) = math.max(maxes(k), v)

  def pipeline(fetcher: QboPages, sink: String, lo: String, hi: String,
      pageSize: Int, buckets: Int): RunReport = {
    val raw = spans("sources")(PaginatedRest.read(spark, fetcher, pageSize = pageSize))
    max("sources.out_partitions", raw.rdd.getNumPartitions)
    max("sources.plan_chars", raw.queryExecution.optimizedPlan.toString.length)
    spans("probe.downstream_count")(raw.count())
    val parsed = PaginatedRest.parsed(raw, Schemas.customer).select(col("rec.*"))
    add("parse.null_ids",
      spans("probe.parse")(parsed.filter(col("Id").isNull).count()))
    val windowed = WindowFilters.dateWindow(parsed,
      col("MetaData.LastUpdatedTime"), lo, hi)
    val env = Envelope.project(windowed, col("Id"), "customer", lo, hi)
    val envRows = spans("probe.envelope")(env.count())
    val distinct = spans("probe.dedup")(
      Dedup.byKey(WindowFilters.dropNullKeys(env, "id"), "id").count())
    val inserted = spans("append")(
      IdempotentAppend.toBucketedParquet(env, sink, "id", buckets))
    val filtered = spans("pipeline.count")(windowed.count())
    add("envelope.rows", envRows)
    add("append.rows_inserted", inserted)
    add("append.rows_skipped", distinct - inserted)
    add("append.dedup_rows_removed", envRows - distinct)
    RunReport(filtered, inserted)
  }

  /** The parquet files the pass added to its sink. */
  def sinkWrite(d: DirSize): Unit = {
    add("append.files_written", d.files)
    add("append.bytes_written", d.bytes)
    add("append.buckets_written",
      d.buckets.flatMap(f => Option(java.nio.file.Paths.get(f).getParent)).size)
  }

  /** The per-layer metrics of the pass that took `passSeconds`, and that
    * pass's time without its probes. */
  def end(passSeconds: Double, cachedBytesLeft: Long): (Map[String, Double], Double) = {
    val st = spans.snapshot()
    spans.unregister()
    def s(span: String): SpanStats = st.getOrElse(span, new SpanStats)
    val program = st.filter { case (k, _) => k != "other" && !k.startsWith("probe.") }.values
    val probeSec = st.collect { case (k, v) if k.startsWith("probe.") => v.wallNs / 1e9 }.sum
    val traced = passSeconds - probeSec
    val append = s("append")
    def scan(span: SpanStats, metric: String): Long = span.nodeMetrics.collect {
      case (("FileSourceScan", m), v) if m == metric => v
    }.sum
    val count = s("pipeline.count")
    val busy = program.map(_.busyMs).sum / 1e3
    val calls = counters.calls.value.toDouble
    val probeRows = scan(append, "numOutputRows").toDouble
    val ops = st.filter(_._1.startsWith("op."))
    val m = Map[String, Double](
      "sources.read_s" -> s("sources").wallNs / 1e9,
      "sources.fetch_calls" -> calls,
      "sources.pages_nonempty" -> counters.nonEmpty.value.toDouble,
      "sources.useful_fetch_ratio" ->
        (if (calls > 0) counters.nonEmpty.value / calls else 0.0),
      "sources.retries" -> counters.throttles.value.toDouble,
      "sources.fetch_wait_s" -> counters.waitNs.value / 1e9,
      "sources.jobs" -> s("sources").jobs.toDouble,
      "sources.tasks" -> s("sources").tasks.toDouble,
      "sources.out_partitions" -> maxes("sources.out_partitions"),
      "sources.plan_chars" -> maxes("sources.plan_chars"),
      "sources.downstream_count_s" -> s("probe.downstream_count").wallNs / 1e9,
      "window.rows_in" -> count.node("InMemoryTableScan", "numOutputRows").toDouble,
      "window.rows_out" -> count.node("Filter", "numOutputRows").toDouble,
      "parse.null_ids" -> sums("parse.null_ids"),
      "envelope.rows" -> sums("envelope.rows"),
      "append.s" -> append.wallNs / 1e9,
      "append.jobs" -> append.jobs.toDouble,
      "append.stages" -> append.stages.toDouble,
      "append.tasks" -> append.tasks.toDouble,
      "append.touched_buckets" ->
        math.max(scan(append, "numPartitions").toDouble, sums("append.buckets_written")),
      "append.probe_files_read" -> scan(append, "numFiles").toDouble,
      "append.probe_rows_read" -> probeRows,
      "append.probe_rows_per_batch_row" ->
        (if (sums("envelope.rows") > 0) probeRows / sums("envelope.rows") else 0.0),
      "append.rows_inserted" -> sums("append.rows_inserted"),
      "append.rows_skipped" -> sums("append.rows_skipped"),
      "append.dedup_rows_removed" -> sums("append.dedup_rows_removed"),
      "append.shuffle_write_bytes" -> append.shuffleWriteBytes.toDouble,
      "append.spill_bytes" -> append.spillBytes.toDouble,
      "append.files_written" -> sums("append.files_written"),
      "append.bytes_written" -> sums("append.bytes_written"),
      "pipeline.count_s" -> count.wallNs / 1e9,
      "pipeline.count_jobs" -> count.jobs.toDouble,
      "pipeline.cached_bytes_left" -> cachedBytesLeft.toDouble,
      "report.s" -> s("report").wallNs / 1e9,
      "operators.shuffle_bytes" -> ops.values.map(_.shuffleWriteBytes).sum.toDouble,
      "spark.jobs" -> program.map(_.jobs).sum.toDouble,
      "spark.stages" -> program.map(_.stages).sum.toDouble,
      "spark.tasks" -> program.map(_.tasks).sum.toDouble,
      "spark.task_busy_s" -> busy,
      "spark.task_gc_s" -> program.map(_.gcMs).sum / 1e3,
      "spark.sched_delay_s" -> program.map(_.schedMs).sum / 1e3,
      "spark.slot_utilization" -> (if (traced > 0) busy / (traced * nproc) else 0.0),
      "spark.shuffle_bytes" -> program.map(_.shuffleWriteBytes).sum.toDouble,
      "jvm.heap_peak_mb" -> heap.map(_.getPeakUsage.getUsed).sum / 1048576.0) ++
      OperatorBattery.Queries.flatMap { q =>
        val o = s(s"op.$q")
        Seq(s"operators.${q}_s" -> o.wallNs / 1e9, s"operators.${q}_jobs" -> o.jobs.toDouble)
      }
    (m, traced)
  }
}
