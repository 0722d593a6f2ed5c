package graft.sources

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators._
import graft.sources.PaginatedRest._

/** Fixture fetchers live at top level — a fetcher defined inside the suite
  * would capture the (non-serializable) ScalaTest engine via $outer. */
object RestFixtures {
  /** `total` records "1".."total", page = maxResults slice; JSON shaped like
    * a QBO entity (FIXTURES.md §5 records). */
  final case class FixtureFetcher(total: Int) extends PageFetcher {
    def fetch(startPosition: Long, maxResults: Int): Seq[String] = {
      val from = startPosition.toInt
      val to = math.min(from + maxResults - 1, total)
      if (from > total) Seq.empty
      else (from to to).map(i =>
        s"""{"Id":"$i","DisplayName":"Customer $i","MetaData":
           {"LastUpdatedTime":"2025-08-0${i % 9 + 1}T16:52:08-07:00"}}""")
    }
  }
  /** Throttles the first 2 attempts of page 1 (JVM-wide state — local mode). */
  object Flaky extends PageFetcher {
    def fetch(startPosition: Long, maxResults: Int): Seq[String] =
      if (startPosition == 1 && FlakyState.count.getAndIncrement() < 2)
        throw new ThrottledException("429", Some(1L))
      else FixtureFetcher(29).fetch(startPosition, maxResults)
  }
  /** [[FixtureFetcher]]'s records without their "Id" field. */
  final case class NoIdFetcher(total: Int) extends PageFetcher {
    def fetch(startPosition: Long, maxResults: Int): Seq[String] =
      FixtureFetcher(total).fetch(startPosition, maxResults)
        .map(_.replaceFirst("\"Id\":\"\\d+\",", ""))
  }
  /** [[FixtureFetcher]]'s records with record `bad` replaced by one that
    * is not JSON. */
  final case class MalformedFetcher(total: Int, bad: Int) extends PageFetcher {
    def fetch(startPosition: Long, maxResults: Int): Seq[String] =
      FixtureFetcher(total).fetch(startPosition, maxResults).zipWithIndex
        .map { case (r, i) => if (startPosition + i == bad) "NOT JSON" else r }
  }
  object AlwaysThrottled extends PageFetcher {
    def fetch(s: Long, m: Int): Seq[String] = throw new ThrottledException("429")
  }
}

/** S1-S3 + the canonical e2e scenario (FIXTURES.md §7): 29 records, window
  * filter keeps all, idempotent append 29, re-run appends 0 — replicating
  * the observed 2025-09-13 reference run. */
class PaginatedRestSpec extends SparkSpec {
  import RestFixtures._

  test("short-page stop: exactly ceil(total/pageSize) useful pages, no runaway") {
    val df = PaginatedRest.read(spark, FixtureFetcher(29), pageSize = 100)
    assert(df.count() == 29)
    assert(df.select(max(col("page_number"))).head.getLong(0) == 1)
  }

  test("multi-page scan with waves: 250 records over pageSize=100") {
    val df = PaginatedRest.read(spark, FixtureFetcher(250), pageSize = 100, wave = 2)
    assert(df.count() == 250)
    // pages 1,2 full; page 3 short — provenance columns intact
    val pages = df.groupBy("page_number").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pages == Map(1L -> 100L, 2L -> 100L, 3L -> 50L))
    // the waves come back flat: at most one partition per slot, each
    // page's rows once — also when the scan runs more waves than slots
    val slots = spark.sparkContext.defaultParallelism
    val flat = PaginatedRest.read(spark, FixtureFetcher(250), pageSize = 25, wave = 2)
    try {
      for (d <- Seq(df, flat)) {
        assert(d.rdd.getNumPartitions <= slots,
          s"${d.rdd.getNumPartitions} partitions for $slots slots")
        assert(d.count() == 250)
      }
      val perPage = flat.groupBy("page_number")
        .agg(count(lit(1)).as("n"), countDistinct(col("record")).as("d"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(perPage == (1L to 10L).map(_ -> (25L, 25L)).toMap)
    } finally { df.unpersist(); flat.unpersist() }
  }

  test("exact page boundary: total == k*pageSize terminates via empty page") {
    val df = PaginatedRest.read(spark, FixtureFetcher(200), pageSize = 100, wave = 2)
    assert(df.count() == 200)
  }

  test("429 retry with backoff: throttled pages retry and succeed (S2)") {
    val retry = RetryPolicy(maxRetries = 3, initialBackoffMs = 500,
      sleeper = RestSleeper.record)
    val df = PaginatedRest.read(spark, Flaky, pageSize = 100, retry = retry)
    assert(df.count() == 29)
    assert(FlakyState.count.get() >= 3) // 2 throttles + 1 success
    assert(FlakyState.sleeps.size() == 2)
  }

  test("retry exhaustion propagates the throttle error") {
    val retry = RetryPolicy(maxRetries = 1, sleeper = RestSleeper.ignore)
    intercept[Exception] {
      PaginatedRest.read(spark, AlwaysThrottled, pageSize = 10, retry = retry)
        .count()
    }
  }

  test("multi-wave read leaves ONE cache handle; unpersist frees everything") {
    // VERDICT r2 #4 / ADVICE r2: waves used to stay cached for the session.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = PaginatedRest.read(spark, FixtureFetcher(250), pageSize = 100,
      wave = 2)
    assert(df.count() == 250)
    val during = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(during.size <= 1,
      s"read left ${during.size} cached RDDs (wave caches not released)")
    df.unpersist(blocking = true)
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(after.isEmpty, "the caller's single unpersist must free all caches")
  }

  test("Pipeline.run: the composed main replicates the observed 29/29/0 run") {
    val sink = tmpDir("pipeline")
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    val first = graft.Pipeline.run(spark, graft.sources.MockQboApi(29), sink,
      "2024-01-01", "2025-12-31")
    assert(first.filtered == 29 && first.inserted == 29)
    val second = graft.Pipeline.run(spark, graft.sources.MockQboApi(29), sink,
      "2024-01-01", "2025-12-31")
    assert(second.inserted == 0)
    // each run releases its extract cache
    assert((spark.sparkContext.getPersistentRDDs.keySet -- cached).isEmpty)
  }

  test("Pipeline.run: a window no record falls in reports (0, 0) and adds no file") {
    val sink = tmpDir("pipeline_nowindow")
    graft.Pipeline.run(spark, graft.sources.MockQboApi(29), sink,
      "2024-01-01", "2025-12-31")
    def files(): Set[String] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(sink))
      try s.iterator().asScala.map(_.toString).toSet finally s.close()
    }
    val before = files()
    val r = graft.Pipeline.run(spark, graft.sources.MockQboApi(29), sink,
      "2020-01-01", "2020-12-31")
    assert(r == graft.Pipeline.RunReport(0, 0))
    assert(files() == before)
  }

  test("Pipeline.run: window rows that all lack an id are counted, none inserted") {
    // the append's stages come out empty, so the observed window count
    // is absent and must not read as 0
    val sink = tmpDir("pipeline_noid")
    val r = graft.Pipeline.run(spark, NoIdFetcher(29), sink,
      "2024-01-01", "2025-12-31")
    assert(r == graft.Pipeline.RunReport(29, 0))
    assert(!new java.io.File(sink).exists())
  }

  test("Pipeline.run: a malformed record is dropped, the other 28 land once") {
    val sink = tmpDir("pipeline_malformed")
    val first = graft.Pipeline.run(spark, MalformedFetcher(29, bad = 7), sink,
      "2024-01-01", "2025-12-31")
    assert(first == graft.Pipeline.RunReport(28, 28))
    val ids = spark.read.parquet(sink).select("id").collect().map(_.getString(0))
    assert(ids.sorted.toSeq == (1 to 29).filter(_ != 7).map(_.toString).sorted)
    val second = graft.Pipeline.run(spark, MalformedFetcher(29, bad = 7), sink,
      "2024-01-01", "2025-12-31")
    assert(second.inserted == 0)
  }

  test("e2e: extract → window filter → envelope → idempotent append ×2 → report") {
    val sink = tmpDir("e2e")
    def runOnce(): Long = {
      val raw = PaginatedRest.read(spark, FixtureFetcher(29), pageSize = 100)
      val parsed = PaginatedRest.parsed(raw, graft.plans.Schemas.customer)
        .select(col("rec.*"), col("page_number"), col("start_position"))
      val windowed = WindowFilters.dateWindow(parsed,
        col("MetaData.LastUpdatedTime"), "2024-01-01", "2025-12-31")
      val env = Envelope.project(
        windowed.drop("page_number", "start_position"),
        col("Id"), "customer", "2024-01-01", "2025-12-31")
      IdempotentAppend.toParquet(env, sink, "id")
    }
    assert(runOnce() == 29, "first run inserts all 29")   // observed run: 29 in
    assert(runOnce() == 0, "identical re-run inserts 0")  // re-run: 0
    val report = QualityReport(spark.read.parquet(sink), "id", "ingested_at_utc")
      .select("total", "distinct_ids", "null_ids", "duplicate_ids")
      .head()
    assert(report.getLong(0) == 29 && report.getLong(1) == 29
      && report.getLong(2) == 0 && report.getLong(3) == 0)
  }
}

/** JVM-wide state for the throttling test (tasks run in the same JVM under
  * local mode; an object survives task serialization). */
object FlakyState {
  val count = new AtomicInteger(0)
  val sleeps = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
}

/** Serializable sleepers (a suite-local lambda would capture the suite). */
object RestSleeper {
  val record: Long => Unit = ms => { FlakyState.sleeps.add(ms); () }
  val ignore: Long => Unit = _ => ()
}
