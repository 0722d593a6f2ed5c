package graft.operators

import java.sql.DriverManager

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The reference's core sink contract (README.md:176-187): re-running the
  * same window inserts 0 — including the failure scenario that crashed the
  * reference 4 times (S8 UniqueViolation, BASELINE.md last row). */
class IdempotentAppendSpec extends SparkSpec {
  import spark.implicits._

  private def batch(ids: (Int, String)*) = ids.toSeq.toDF("id", "v")

  test("idempotence: write twice == write once (flat parquet)") {
    val sink = tmpDir("flat")
    val b = batch(1 -> "a", 2 -> "b", 3 -> "c")
    assert(IdempotentAppend.toParquet(b, sink, "id") == 3)
    assert(IdempotentAppend.toParquet(b, sink, "id") == 0) // re-run: 0
    assert(spark.read.parquet(sink).count() == 3)
  }

  test("overlapping batch inserts only the fresh keys") {
    val sink = tmpDir("overlap")
    IdempotentAppend.toParquet(batch(1 -> "a", 2 -> "b"), sink, "id")
    val n = IdempotentAppend.toParquet(batch(2 -> "B", 3 -> "c"), sink, "id")
    assert(n == 1)
    val rows = spark.read.parquet(sink).orderBy("id").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(rows(1).getString(1) == "b") // first write wins, no overwrite
  }

  test("null keys filtered, in-batch duplicates deduped (F3+J1 front half)") {
    val sink = tmpDir("nulldup")
    val b = Seq((Some(1), "a"), (None, "x"), (Some(1), "a2"), (Some(2), "b"))
      .toDF("id", "v")
    assert(IdempotentAppend.toParquet(b, sink, "id") == 2)
  }

  test("empty input short-circuits without touching the sink (S7)") {
    val sink = tmpDir("empty")
    val empty = batch().filter(lit(false))
    assert(IdempotentAppend.toParquet(empty, sink, "id") == 0)
    assert(!new java.io.File(sink).exists())
  }

  test("bucketed sink: idempotent and probe reads only touched buckets") {
    val sink = tmpDir("bucketed")
    val big = (1 to 400).map(i => i -> s"v$i").toDF("id", "v")
    assert(IdempotentAppend.toBucketedParquet(big, sink, "id", numBuckets = 16) == 400)
    assert(IdempotentAppend.toBucketedParquet(big, sink, "id", numBuckets = 16) == 0)
    // a one-key batch probes only its own bucket's files
    val one = batch(7 -> "x")
    val probed = IdempotentAppend.probeFiles(one, sink, "id", numBuckets = 16)
    val all = spark.read.parquet(sink)
      .select(input_file_name()).distinct().count()
    assert(probed.nonEmpty && probed.length < all,
      s"probe read ${probed.length}/$all files — pruning not effective")
    assert(probed.forall(_.contains("__bucket=")),
      "probed files should come from bucket partition dirs")
    // and appending it stays idempotent across bucket layout
    assert(IdempotentAppend.toBucketedParquet(one, sink, "id", numBuckets = 16) == 0)
    // compaction: one file per touched bucket partition dir
    val after = spark.read.parquet(sink)
    val files = after.select(input_file_name()).distinct().count()
    val dirs = after.select(IdempotentAppend.BucketCol).distinct().count()
    assert(files == dirs, s"$files files for $dirs partition dirs")
  }

  /** One Spark job start: its description, and whether it ran inside a
    * query execution (a listing or footer-inference job runs outside). */
  private case class JobStart(desc: String, inQuery: Boolean)

  /** The jobs `body` starts, in order. The listener sees job starts in
    * order, so once a marker job's start arrives, every start before it
    * has been recorded. */
  private def jobsOf(body: => Unit): Seq[JobStart] = {
    val tag = "graft.spec.jobs"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[JobStart]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty(tag))) match {
          case Some("body") =>
            seen.add(JobStart(
              String.valueOf(j.properties.getProperty("spark.job.description")),
              j.properties.getProperty("spark.sql.execution.id") != null))
          case Some("marker") => drained.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      body
      sc.setLocalProperty(tag, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
    seen.toArray(Array.empty[JobStart]).toSeq
  }

  private def listingJobs(jobs: Seq[JobStart]): Int =
    jobs.count(_.desc.startsWith("Listing leaf files"))

  /** A 1000-row sink of ids 1..1000 in 64 buckets. */
  private def sink1000(prefix: String): String = {
    val sink = tmpDir(prefix)
    val base = (1 to 1000).map(i => i -> s"v$i").toDF("id", "v")
    assert(IdempotentAppend.toBucketedParquet(base, sink, "id", 64) == 1000)
    sink
  }

  test("bucketed sink: a small batch's probe runs no listing job and no footer job") {
    // Spark lists more than 32 directories in a job of its own, and a
    // parquet read without a schema reads footers in another; both run
    // outside any query execution. The probe of a batch touching ≤ 32 of
    // 64 buckets lists only its own directories and names its schema.
    val sink = sink1000("bucketed_listing")
    val jobs = jobsOf {
      assert(IdempotentAppend.toBucketedParquet(batch(5 -> "x", 1001 -> "y"),
        sink, "id", 64) == 1)
    }
    val listing = listingJobs(jobs)
    val inferring = jobs.count(j => !j.inQuery && !j.desc.startsWith("Listing"))
    assert(listing == 0, s"$listing listing job(s)")
    assert(inferring == 0, s"$inferring schema-inference job(s)")
  }

  test("bucketed sink: a probe of more than 32 bucket directories runs no listing job") {
    // Above 32 paths Spark's own file listing runs as a job; the probe
    // hands Spark the driver's listing of the touched directories instead.
    val sink = sink1000("bucketed_listing_wide")
    val wide = (901 to 1100).map(i => i -> s"w$i").toDF("id", "v")
    val touched = wide.select(IdempotentAppend.bucketExpr(Seq(col("id")), 64))
      .distinct().count()
    assert(touched > 32, s"the batch touches only $touched buckets")
    val jobs = jobsOf {
      assert(IdempotentAppend.toBucketedParquet(wide, sink, "id", 64) == 100)
    }
    assert(listingJobs(jobs) == 0,
      s"${listingJobs(jobs)} listing job(s): ${jobs.map(_.desc).mkString("; ")}")
  }

  test("bucketed sink: an append into an existing sink runs at most 4 jobs, one file per bucket") {
    // touched collect, probe broadcast, one exchange, write
    val sink = sink1000("bucketed_jobs")
    def files = spark.read.parquet(sink).select(input_file_name()).distinct().count()
    // 200 keys, half present (901..1000), half fresh (1001..1100), and
    // in-batch duplicates of both kinds
    val keys = (901 to 1100).map(i => i -> s"w$i") ++
      (901 to 920).map(i => i -> s"d$i") ++ (1001 to 1020).map(i => i -> s"d$i")
    val b = keys.toDF("id", "v")
    val freshDirs = (1001 to 1100).toDF("id")
      .select(IdempotentAppend.bucketExpr(Seq(col("id")), 64)).distinct().count()
    val before = files
    val jobs = jobsOf {
      assert(IdempotentAppend.toBucketedParquet(b, sink, "id", 64) == 100)
    }
    assert(jobs.size <= 4, s"${jobs.size} jobs: ${jobs.map(_.desc).mkString("; ")}")
    val after = spark.read.parquet(sink)
    assert(after.count() == 1100 && after.select("id").distinct().count() == 1100)
    assert(files - before == freshDirs,
      s"${files - before} files added for $freshDirs bucket directories")
    assert(IdempotentAppend.toBucketedParquet(b, sink, "id", 64) == 0)
    assert(spark.read.parquet(sink).count() == 1100)
  }

  test("bucketed sink: the probe skips _ and . files and a crashed writer's _temporary") {
    val sink = tmpDir("bucketed_stray")
    assert(IdempotentAppend.toBucketedParquet(
      (1 to 100).map(i => i -> s"v$i").toDF("id", "v"), sink, "id", 8) == 100)
    val fresh = (101 to 140).map(i => i -> s"v$i").toDF("id", "v")
    val bucket = fresh.select(IdempotentAppend.bucketExpr(Seq(col("id")), 8))
      .head().getLong(0)
    // a parquet file holding every fresh key: were the probe to read it,
    // the fresh rows would count as present
    val strayDir = tmpDir("bucketed_stray_src")
    fresh.select("id").coalesce(1).write.parquet(strayDir)
    val stray = new java.io.File(strayDir).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    def plant(to: java.io.File): Unit = {
      to.getParentFile.mkdirs()
      java.nio.file.Files.copy(stray.toPath, to.toPath)
    }
    val dir = new java.io.File(sink, s"${IdempotentAppend.BucketCol}=$bucket")
    assert(dir.isDirectory)
    plant(new java.io.File(dir, "_tmp"))
    java.nio.file.Files.write(new java.io.File(dir, ".hidden").toPath,
      "not parquet".getBytes("UTF-8"))
    plant(new java.io.File(sink,
      s"_temporary/0/${IdempotentAppend.BucketCol}=$bucket/part-x.parquet"))
    val b = fresh.union((91 to 100).map(i => i -> s"r$i").toDF("id", "v"))
    assert(IdempotentAppend.toBucketedParquet(b, sink, "id", 8) == 40)
    assert(IdempotentAppend.toBucketedParquet(b, sink, "id", 8) == 0)
    assert(spark.read.parquet(sink).count() == 140)
  }

  test("bucketed sink: disk bucket = bucketExpr; one observed write counts") {
    val sink = tmpDir("bucketexpr")
    def b(ids: Range) = ids.map(i => i -> s"v$i").toDF("id", "v")
    assert(IdempotentAppend.toBucketedParquet(b(1 to 200), sink, "id", 8) == 200)
    // replay: every row hashes to the same bucket, the probe finds it
    assert(IdempotentAppend.toBucketedParquet(b(1 to 200), sink, "id", 8) == 0)
    // bucket assignment on disk matches the shared bucketExpr — a prober
    // using it prunes consistently with the writer
    val onDisk = spark.read.parquet(sink)
      .select(col(IdempotentAppend.BucketCol).cast("long").as("d"),
        IdempotentAppend.bucketExpr(Seq(col("id")), 8).as("e"))
      .filter(col("d") =!= col("e")).count()
    assert(onDisk == 0, "disk bucket diverges from bucketExpr")
    // the count comes from the write itself: rows land and are counted
    assert(IdempotentAppend.toBucketedParquet(b(201 to 240), sink, "id", 8) == 40L)
    assert(spark.read.parquet(sink).count() == 240)
    // and the write was probe-guarded: replaying it appends nothing new
    assert(IdempotentAppend.toBucketedParquet(b(201 to 240), sink, "id", 8) == 0L)
    assert(spark.read.parquet(sink).count() == 240)
  }

  test("bucketed sink: a crash between the touched collect and the write commits nothing") {
    val sink = tmpDir("bucketed_crash")
    assert(IdempotentAppend.toBucketedParquet(batch((1 to 10).map(i => i -> s"v$i"): _*),
      sink, "id", 8) == 10)
    // The payload UDF throws for id 25. Column pruning keeps it out of the
    // touched collect, whose projection runs clean, so the call fails in
    // the write. The ids come from a range, not a local Seq, so the
    // optimizer cannot fold the UDF over them at plan time.
    val payload = udf((i: Int) =>
      if (i == 25) throw new IllegalStateException("payload fault") else s"v$i")
    val ids = spark.range(1, 31).select(col("id").cast("int").as("id"))
    val faulty = ids.withColumn("v", payload(col("id")))
    assert(faulty.select(IdempotentAppend.bucketExpr(Seq(col("id")), 8)).distinct()
      .collect().nonEmpty)
    intercept[Exception](IdempotentAppend.toBucketedParquet(faulty, sink, "id", 8))
    assert(spark.read.parquet(sink).count() == 10, "a failed write left rows behind")
    val healed = ids.withColumn("v", concat(lit("v"), col("id").cast("string")))
    assert(IdempotentAppend.toBucketedParquet(healed, sink, "id", 8) == 20)
    assert(IdempotentAppend.toBucketedParquet(healed, sink, "id", 8) == 0)
    val after = spark.read.parquet(sink)
    assert(after.count() == 30 && after.select("id").distinct().count() == 30)
  }

  test("JDBC (Derby embedded): conflict-skipping insert is idempotent") {
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE sink_t (id INT PRIMARY KEY, v VARCHAR(20))")
    conn.close()
    val b = batch(1 -> "a", 2 -> "b", 3 -> "c")
    val n1 = IdempotentAppend.toJdbc(b, url, "sink_t", "id",
      dialect = IdempotentAppend.Derby)
    val n2 = IdempotentAppend.toJdbc(b, url, "sink_t", "id",
      dialect = IdempotentAppend.Derby)
    assert(n1 == 3, s"first run inserted $n1")
    assert(n2 == 0, s"re-run inserted $n2")
    val c2 = DriverManager.getConnection(url)
    val rs = c2.createStatement().executeQuery("SELECT COUNT(*) FROM sink_t")
    rs.next()
    assert(rs.getInt(1) == 3)
    c2.close()
  }

  test("JDBC read-probe (S5): spark.read.jdbc keys + anti-join append") {
    val url = "jdbc:derby:memory:graftprobe;create=true"
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE probe_t (id INT PRIMARY KEY, v VARCHAR(20))")
    conn.close()
    val b1 = batch(1 -> "a", 2 -> "b")
    assert(IdempotentAppend.toJdbcWithProbe(b1, url, "probe_t", "id",
      IdempotentAppend.Derby) == 2)
    // probe sees the existing keys; only key 3 is fresh
    val keys = IdempotentAppend.jdbcKeys(spark, url, "probe_t", "id")
    assert(keys.count() == 2)
    val b2 = batch(2 -> "B", 3 -> "c")
    assert(IdempotentAppend.toJdbcWithProbe(b2, url, "probe_t", "id",
      IdempotentAppend.Derby) == 1)
    // same protocol with a partitioned probe read
    val b3 = batch(3 -> "C", 4 -> "d")
    assert(IdempotentAppend.toJdbcWithProbe(b3, url, "probe_t", "id",
      IdempotentAppend.Derby, probePartitions = 2) == 1)
  }

  test("bucketed sink: batch that empties after the null-key filter inserts 0") {
    // ADVICE r2: `touched` was an empty array here and reduce() threw —
    // the protocol contract says null keys are filtered, not fatal.
    val sink = tmpDir("bucketed_empty")
    assert(IdempotentAppend.toBucketedParquet(batch(1 -> "a"), sink, "id", 8) == 1)
    val allNull = Seq((Option.empty[Int], "x"), (Option.empty[Int], "y"))
      .toDF("id", "v")
    assert(IdempotentAppend.toBucketedParquet(allNull, sink, "id", 8) == 0)
    assert(spark.read.parquet(sink).count() == 1)
    // into a sink that does not exist yet: 0, and no directory created
    val absent = tmpDir("bucketed_empty_new")
    assert(IdempotentAppend.toBucketedParquet(allNull, absent, "id", 8) == 0)
    assert(!new java.io.File(absent).exists())
  }

  test("jdbcKeys partitioned probe: >1 partition, identical anti-join result") {
    val url = "jdbc:derby:memory:graftpart;create=true"
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE part_t (id INT PRIMARY KEY, v VARCHAR(20))")
    conn.close()
    val existing = (1 to 20).map(i => i -> s"v$i")
    assert(IdempotentAppend.toJdbc(batch(existing: _*), url, "part_t", "id",
      IdempotentAppend.Derby) == 20)
    val k1 = IdempotentAppend.jdbcKeys(spark, url, "part_t", "id")
      .withColumnRenamed("ID", "id") // Derby upper-cases identifiers
    val k3 = IdempotentAppend.jdbcKeys(spark, url, "part_t", "id",
        numPartitions = 3)
      .withColumnRenamed("ID", "id")
    assert(k3.rdd.getNumPartitions > 1,
      s"partitioned probe read ${k3.rdd.getNumPartitions} partition(s)")
    assert(k1.count() == 20 && k3.count() == 20)
    val b = batch(19 -> "s", 20 -> "t", 21 -> "u", 22 -> "w")
    def fresh(keys: org.apache.spark.sql.DataFrame) =
      b.join(keys, Seq("id"), "left_anti")
        .select("id").as[Int].collect().toSet
    assert(fresh(k1) == Set(21, 22) && fresh(k3) == Set(21, 22))
  }

  test("jdbcKeys partitioned probe works on a DATE key (string bounds)") {
    val url = "jdbc:derby:memory:graftdate;create=true"
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE date_t (d DATE PRIMARY KEY, v VARCHAR(10))")
    val ps = conn.prepareStatement("INSERT INTO date_t VALUES (?, ?)")
    for (i <- 1 to 12) {
      ps.setDate(1, java.sql.Date.valueOf(f"2024-$i%02d-01"))
      ps.setString(2, s"m$i")
      ps.executeUpdate()
    }
    conn.close()
    val keys = IdempotentAppend.jdbcKeys(spark, url, "date_t", "d",
      numPartitions = 3)
    assert(keys.count() == 12)
    assert(keys.rdd.getNumPartitions > 1)
  }

  test("dialect SQL shape: the statements a production backend would run") {
    // The Postgres path never executes in this image (no driver jar) — pin
    // its statement text and bind order against a recorded expectation so
    // the one path a production user runs isn't the one never looked at.
    val (pg, pgTwice) = IdempotentAppend.Postgres.insertIgnore(
      "raw.qb_customers", Seq("id", "payload"), "id")
    assert(pg == "INSERT INTO raw.qb_customers (id,payload) VALUES (?,?) " +
      "ON CONFLICT (id) DO NOTHING")
    assert(!pgTwice, "Postgres binds each column exactly once")
    val (db, dbTwice) = IdempotentAppend.Derby.insertIgnore(
      "t", Seq("id", "v"), "id")
    assert(db == "INSERT INTO t (id,v) SELECT ?,? FROM SYSIBM.SYSDUMMY1 " +
      "WHERE NOT EXISTS (SELECT 1 FROM t t WHERE t.id = ?)")
    assert(dbTwice, "NOT EXISTS dialects bind the key a second time")
    val (an, anTwice) = IdempotentAppend.AnsiNotExists.insertIgnore(
      "t", Seq("id", "v"), "id")
    assert(an == "INSERT INTO t (id,v) SELECT ?,? FROM (VALUES (1)) v(x) " +
      "WHERE NOT EXISTS (SELECT 1 FROM t t WHERE t.id = ?)")
    assert(anTwice)
  }

  test("insertedFromBatch: real counts summed; SUCCESS_NO_INFO → probe delta") {
    // ADVICE r2: drivers with server-side batching (Postgres
    // reWriteBatchedInserts) return -2 per statement; the count must fall
    // back to pending - existingBefore instead of reporting 0.
    val NI = java.sql.Statement.SUCCESS_NO_INFO
    assert(IdempotentAppend.insertedFromBatch(Array(1, 0, 1), 3, 99) == 2)
    assert(IdempotentAppend.insertedFromBatch(Array(NI, NI, NI), 3, 1) == 2)
    assert(IdempotentAppend.insertedFromBatch(Array(NI, 1), 2, 2) == 0)
    assert(IdempotentAppend.insertedFromBatch(Array.empty[Int], 0, 0) == 0)
  }

  test("S8 divergence: concurrent-duplicate batch does NOT raise, inserts once") {
    // the reference's observed bug: same batch landing twice (fallback blind
    // append) crashed on UniqueViolation; ours converges to one copy.
    val sink = tmpDir("s8")
    val dup = batch(1 -> "a", 1 -> "a", 2 -> "b", 2 -> "b")
    assert(IdempotentAppend.toParquet(dup, sink, "id") == 2)
    assert(IdempotentAppend.toParquet(dup, sink, "id") == 0)
    assert(spark.read.parquet(sink).count() == 2)
  }
}
