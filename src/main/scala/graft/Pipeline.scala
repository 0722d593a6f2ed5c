package graft

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.plans.Schemas
import graft.sources.{MockQboApi, PaginatedRest}

/** The composed backfill pipeline as ONE runnable main — the reference's
  * primary entry point end-to-end (SURVEY.md §3.1): paginated extract →
  * parse → date-window filter → envelope projection → dedup/null-filter →
  * idempotent append → verification report, then an identical re-run that
  * must insert 0. Replicates the observed 2025-09-13 run
  * (29 in / 29 inserted / 0 on re-run —
  * qb_customers_backfill/.logs/3/20250913T032201/).
  *
  * Unlike the reference's Mage 2-block DAG with a disk handoff between
  * loader and exporter, the whole pipeline is one lazy Spark plan per
  * action — the only barrier is the idempotence probe-before-append inside
  * IdempotentAppend (an action boundary, SURVEY §3.3). Past the extract, a
  * run is the append's two actions; the window count is observed on them.
  *
  * Usage: runMain graft.Pipeline [sinkDir] [nRecords] [lo] [hi]
  */
object Pipeline {

  final case class RunReport(filtered: Long, inserted: Long)

  /** One pipeline run against any fetcher; returns (rows passing the
    * window filter, rows actually inserted). Frees the extract's cache. */
  def run(spark: SparkSession, fetcher: PaginatedRest.PageFetcher,
      sink: String, lo: String, hi: String,
      numBuckets: Int = 64): RunReport = {
    val raw = PaginatedRest.read(spark, fetcher, pageSize = 100)
    try {
      val parsed = PaginatedRest.parsed(raw, Schemas.customer)
        .select(col("rec.*"))
      val filtered = Observation()
      val windowed = WindowFilters.dateWindow(parsed,
        col("MetaData.LastUpdatedTime"), lo, hi)
        .observe(filtered, count(lit(1)).as("n"))
      val env = Envelope.project(windowed, col("Id"), "customer", lo, hi)
      val inserted = IdempotentAppend.toBucketedParquet(env, sink, "id", numBuckets)
      // AQE drops the metric when the append's first stage comes out empty
      // (an empty window, or no row with an id): only then recount
      val n = filtered.get.get("n").fold(windowed.count())(_.asInstanceOf[Long])
      RunReport(n, inserted)
    } finally raw.unpersist()
  }

  def main(args: Array[String]): Unit = {
    val n = args.lift(1).map(_.toInt).getOrElse(29)
    val lo = args.lift(2).getOrElse("2024-01-01")
    val hi = args.lift(3).getOrElse("2025-12-31")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession(cpus,
      "spark.master" -> sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
    // Default sink is session-keyed (VERDICT r9 #1): a fixed machine-wide
    // tmp path would let two concurrent pipeline runs probe each other's
    // half-written sink and double-insert; an explicit arg overrides.
    val sink = args.lift(0).getOrElse(
      Tables.stagedPath(spark, "pipeline", "pipeline_sink"))

    val fetcher = MockQboApi(n)
    val first = run(spark, fetcher, sink, lo, hi)
    println(s"[pipeline] run 1: filtered=${first.filtered} inserted=${first.inserted}")
    val second = run(spark, fetcher, sink, lo, hi)
    println(s"[pipeline] run 2 (idempotent re-run): inserted=${second.inserted}")
    println("[pipeline] verification report:")
    QualityReport(spark.read.parquet(sink), "id", "ingested_at_utc")
      .show(truncate = false)
    spark.stop()
  }
}
