package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[IdempotentAppend.toBucketedStore]] — the r18 multi-sink single-job
  * append: one parquet root partitioned by (__sink, __bucket), per-sink
  * inserted counts observed on the write itself, each sink readable as
  * an ordinary bucketed dataset at its `__sink=` subdirectory. */
class BucketedStoreSpec extends SparkSpec {
  import spark.implicits._

  private def sinkDf(rows: (Long, String)*) = rows.toDF("id", "v")
  private def keyDf(rows: (String, Long)*) = rows.toDF("k", "n")

  test("two sinks, two batches: idempotent per-sink inserts, union-schema isolation") {
    val store = tmpDir("store1")
    val c1 = IdempotentAppend.toBucketedStore(store, 4, Seq(
      IdempotentAppend.StoreSink("a", sinkDf(1L -> "x", 2L -> "y"), "id"),
      IdempotentAppend.StoreSink("b", keyDf("p" -> 10L), "k")))
    assert(c1 === Map("a" -> 2L, "b" -> 1L))

    // second batch: one replayed key per sink inserts 0, fresh rows land
    val c2 = IdempotentAppend.toBucketedStore(store, 4, Seq(
      IdempotentAppend.StoreSink("a", sinkDf(2L -> "y", 3L -> "z"), "id"),
      IdempotentAppend.StoreSink("b", keyDf("p" -> 10L, "q" -> 20L), "k")))
    assert(c2 === Map("a" -> 1L, "b" -> 1L))

    // per-sink readers see their own rows only, with their own columns
    val a = spark.read.parquet(IdempotentAppend.sinkPath(store, "a"))
    assert(a.select("id").as[Long].collect().toSet === Set(1L, 2L, 3L))
    assert(a.select("v").as[String].collect().toSet === Set("x", "y", "z"))
    val b = spark.read.parquet(IdempotentAppend.sinkPath(store, "b"))
    assert(b.select("k", "n").as[(String, Long)].collect().toSet ===
      Set(("p", 10L), ("q", 20L)))
    // the bucket partition column is inferred for probe pruning
    assert(a.columns.contains(IdempotentAppend.BucketCol))
  }

  test("a fully-replayed batch observes 0 inserts per sink") {
    val store = tmpDir("store2")
    IdempotentAppend.toBucketedStore(store, 4, Seq(
      IdempotentAppend.StoreSink("a", sinkDf(1L -> "x"), "id"),
      IdempotentAppend.StoreSink("b", keyDf("p" -> 10L), "k")))
    val c = IdempotentAppend.toBucketedStore(store, 4, Seq(
      IdempotentAppend.StoreSink("a", sinkDf(1L -> "x"), "id"),
      IdempotentAppend.StoreSink("b", keyDf("p" -> 10L), "k")))
    assert(c === Map("a" -> 0L, "b" -> 0L))
  }

  test("job economy: the 2-sink store append runs strictly fewer jobs than two per-sink appends") {
    // the point of the store: the per-sink touched-collect / observed
    // write action pairs collapse to one collect plus one observed write.
    // Raw Spark job counts include AQE shuffle-stage materialization on
    // both paths, so the pin is RELATIVE: same data, same layouts,
    // multi-append vs two toBucketedParquet appends.
    def countJobs(body: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      // job-start events post synchronously with submission, which has
      // completed once the actions return; a short grace drains the bus
      try body finally {
        Thread.sleep(200)
        spark.sparkContext.removeSparkListener(listener)
      }
      jobs.get
    }
    val multi = tmpDir("store_jobs_m")
    val single = tmpDir("store_jobs_s")
    IdempotentAppend.toBucketedStore(multi, 4, Seq(
      IdempotentAppend.StoreSink("a", sinkDf(1L -> "x"), "id"),
      IdempotentAppend.StoreSink("b", keyDf("p" -> 10L), "k")))
    IdempotentAppend.toBucketedParquet(sinkDf(1L -> "x"), s"$single/a",
      "id", numBuckets = 4)
    IdempotentAppend.toBucketedParquet(keyDf("p" -> 10L), s"$single/b",
      "k", numBuckets = 4)
    val jm = countJobs {
      val c = IdempotentAppend.toBucketedStore(multi, 4, Seq(
        IdempotentAppend.StoreSink("a", sinkDf(1L -> "x", 2L -> "y"), "id"),
        IdempotentAppend.StoreSink("b", keyDf("q" -> 20L), "k")))
      assert(c === Map("a" -> 1L, "b" -> 1L))
    }
    val js = countJobs {
      assert(IdempotentAppend.toBucketedParquet(sinkDf(1L -> "x", 2L -> "y"),
        s"$single/a", "id", numBuckets = 4) === 1L)
      assert(IdempotentAppend.toBucketedParquet(keyDf("q" -> 20L),
        s"$single/b", "k", numBuckets = 4) === 1L)
    }
    info(s"multi-append jobs=$jm, per-sink appends jobs=$js")
    assert(jm < js, s"multi-append must run fewer jobs: $jm vs $js")
  }

  test("bucketCols decouple the probe layout from the dedup key") {
    val store = tmpDir("store3")
    val rows = Seq(("1:0", 1L, 0, 42L), ("1:1", 1L, 1, 77L))
      .toDF("__k", "id", "band", "key")
    IdempotentAppend.toBucketedStore(store, 8, Seq(
      IdempotentAppend.StoreSink("bands", rows, "__k",
        bucketCols = Seq("band", "key"))))
    val read = spark.read.parquet(IdempotentAppend.sinkPath(store, "bands"))
    // rows land in the bucket their (band, key) hash to — the probe's expr
    val expect = rows.select(col("__k"), IdempotentAppend.bucketExpr(
      Seq(col("band"), col("key")), 8).as("b")).as[(String, Long)]
      .collect().toMap
    val got = read.select(col("__k"),
        col(IdempotentAppend.BucketCol).cast("long")).as[(String, Long)]
      .collect().toMap
    assert(got === expect)
  }
}
