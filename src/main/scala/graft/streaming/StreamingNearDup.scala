package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}

import graft.operators.{IdempotentAppend, NearDup}

/** Streaming near-duplicate filtering — the continuous form of the L2
  * MinHash pipeline, and the operation a crawl-ingest pipeline actually
  * runs: admit each incoming document only if it is not a near-duplicate
  * of anything ALREADY ADMITTED (earlier in this batch or in any earlier
  * batch).
  *
  * State design: the dedup history lives in parquet tables (admitted
  * band keys + admitted shingle sets), NOT in the streaming state store —
  * at 100 TB of accumulated corpus the state store cannot hold shingle
  * sets, while a parquet history is restart-safe, shared across queries,
  * and joins as an ordinary (prunable, AQE-planned) table. The per-batch
  * kernel is the same signature → band-bucket → exact-confirm shape as
  * the batch operator (NearDup.minhashPairs); the history append goes
  * through the J3 idempotent protocol, so a REPLAYED micro-batch admits 0
  * new documents — exactly-once without sink transactions.
  *
  * Scale notes (VERDICT r4 #2 — the bucketed layout is WIRED now): both
  * history tables live in one [[IdempotentAppend.toBucketedStore]]
  * hash-bucket store (appended in a single write job per batch, r18)
  * — bands bucketed by (band, key) so the candidate probe reads
  * only the partition directories the batch's own band keys hash to, and
  * shingles bucketed by id so the exact-confirm reads only the buckets of
  * ids that actually collided. Probe cost is O(history/buckets × touched
  * buckets): independent of total history size for micro-batches, never
  * worse than a full scan for backfill-sized ones. Candidate generation
  * is a single (band, key) groupBy over tagged history+batch rows —
  * in-batch pairs and batch-vs-history pairs fall out of one shuffle,
  * with per-side hot-bucket caps (a band key that accumulated a
  * mass-duplicate family must not re-open the quadratic join).
  *
  * Dedup semantics (conservative family drop, standard for training-data
  * dedup): within a batch the smallest id of a confirmed near-dup family
  * is the keeper; any doc confirmed against a smaller-id batch doc OR any
  * history doc is dropped — even if that smaller doc is itself dropped,
  * its family is represented in the corpus by its own keeper. */
object StreamingNearDup {

  final case class BatchStats(batchId: Long, in: Long, dupOfHistory: Long,
    dupInBatch: Long, admitted: Long)

  /** History layout (r18): ONE store root partitioned by (__sink, __bucket)
    * so both history tables append in a single write job per batch
    * (guide §2.4/§6 — the per-batch protocol was action-count bound; the
    * shingle and band appends each paid their own collect/count/write).
    * Each sink stays readable as an ordinary bucketed dataset at its
    * `__sink=` subdirectory. */
  def storeDir(h: String): String = s"$h/store"
  def bandsDir(h: String): String =
    graft.operators.IdempotentAppend.sinkPath(storeDir(h), "bands")
  def shinglesDir(h: String): String =
    graft.operators.IdempotentAppend.sinkPath(storeDir(h), "shingles")

  /** In-bucket pair expansion over side-tagged (band, key, id) rows —
    * side 0 = history, side 1 = batch. ONE groupBy produces both pair
    * families: in-batch (id_a < id_b, so the smallest id keeps) and
    * history-vs-batch (history id on the "a" side, so the confirm marks
    * the NEW doc as the duplicate — including the replay self-pair
    * id_a == id_b when a batch doc is already admitted). Hot-bucket caps
    * apply per side: a bucket whose batch membership exceeds
    * `maxBucketSize` contributes no pairs at all (matching the batch
    * operator's rule); an over-cap HISTORY side drops only the cross
    * pairs. The same JIT'd-flatMap + pre-repartition discipline as
    * NearDup.bucketPairs (AQE would coalesce the tiny bucket table to ~1
    * task and serialize the quadratic expansion). */
  private[streaming] def taggedBucketPairs(hist: DataFrame, batch: DataFrame,
      maxBucketSize: Int): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val tagged = hist.select(col("band"), col("key"),
        col("id").cast("long"), lit(0).as("side"))
      .unionAll(batch.select(col("band"), col("key"),
        col("id").cast("long"), lit(1).as("side")))
    tagged.groupBy(col("band"), col("key"))
      .agg(collect_set(struct(col("side"), col("id"))).as("rows"))
      .select(col("rows")).as[Array[(Int, Long)]]
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .mapPartitions { buckets =>
        buckets.flatMap { rows =>
          val hist = rows.collect { case (0, id) => id }.sorted
          val bat = rows.collect { case (1, id) => id }.sorted
          val inBatch =
            if (bat.length < 2 || bat.length > maxBucketSize) Iterator.empty
            else for {
              i <- bat.indices.iterator
              j <- (i + 1) until bat.length
            } yield (bat(i), bat(j))
          val cross =
            if (hist.isEmpty || hist.length > maxBucketSize ||
              bat.isEmpty || bat.length > maxBucketSize) Iterator.empty
            else for {
              a <- hist.iterator
              b <- bat
            } yield (a, b)
          inBatch ++ cross
        }
      }.toDF("id_a", "id_b")
  }

  /** Run one batch through the history-aware near-dup filter: returns
    * stats and appends the ADMITTED docs' band keys + shingle sets to the
    * history. Also the batch-backfill entry point (a backfill is just a
    * big batch). `admitted` counts NEWLY inserted docs, so a replayed
    * batch reports admitted=0. `historyBuckets` sizes both stores'
    * hash-bucket layout (pruning granularity vs files-per-append); a
    * history dir must keep the bucket count it was created with. */
  def dedupBatch(batch: DataFrame, historyDir: String, batchId: Long = -1L,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.8, shingleLen: Int = 3,
      numHashes: Int = 128, bands: Int = 32,
      maxBucketSize: Int = 10000, historyBuckets: Int = 16): BatchStats = {
    val spark = batch.sparkSession
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def cache(df: DataFrame): DataFrame = { cached += df; df.persist() }
    var checkpointed: Option[DataFrame] = None
    try {
      // id is normalized to LONG here, before anything derives from it:
      // the shingle store is hash-bucketed on id at WRITE time and pruned
      // at PROBE time via bucketExpr over the pair table's id_a (always
      // long) — xxhash64 hashes IntegerType and LongType differently, so
      // an int-id batch would otherwise write buckets the prober never
      // reads and history near-dups would be silently admitted.
      val sh = cache(NearDup.hashedShingles(batch, idCol, textCol, shingleLen)
        .withColumn("id", col("id").cast("long")))
      // same banding derivation as the batch operator — shared helper, so
      // the streaming path cannot drift from NearDup.minhashCandidates.
      // BOTH caches (sh and keys) fill during the first single-threaded
      // action below — the band-buckets collect when history exists, the
      // explicit count otherwise — before any branches race on them.
      val keys = cache(NearDup.bandKeyRows(sh, numHashes, bands))

      val fs = new Path(historyDir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      // Both history sinks commit in ONE write job (r18), so a crash can
      // leave EITHER subset visible; each read guards on its own path and
      // every partial state self-heals on replay:
      //  - shingles without bands: docs are invisible to the band probe,
      //    re-admit; the shingle re-insert is a 0-row idempotent append
      //    and the bands catch up (the pre-r18 ordering argument).
      //  - bands without shingles: docs SELF-COLLIDE as history dups; the
      //    shingle append below includes the self-collided ids, so their
      //    shingle sets are backfilled (without this, every future
      //    near-dup of a stranded doc would be silently admitted).
      val hasBands = fs.exists(new Path(bandsDir(historyDir)))
      val hasShingles = fs.exists(new Path(shinglesDir(historyDir)))

      val bandBucket =
        IdempotentAppend.bucketExpr(Seq(col("band"), col("key")), historyBuckets)
      // Bucket-pruned history probe: the batch's band keys hash to a
      // bounded set of bucket dirs (≤ historyBuckets longs, driver-side) —
      // only those directories are read, then a semi-join narrows to the
      // exact colliding keys. Cached: the relevant set feeds both the pair
      // expansion and the shingle-store pruning below.
      if (!hasBands) keys.count()
      val cand = cache(
        (if (!hasBands) NearDup.bucketPairs(keys, maxBucketSize)
         else {
           // Bucket-pruned history probe: the batch's band keys hash to a
           // bounded set of bucket dirs (≤ historyBuckets longs, driver-
           // side) — only those directories are read, then a semi-join
           // narrows to the exact colliding keys before pair expansion.
           val touched = keys.select(bandBucket.as("b")).distinct()
             .collect().map(_.getLong(0))
           val hist = spark.read.parquet(bandsDir(historyDir))
             .filter(col(IdempotentAppend.BucketCol).isin(touched: _*))
             .select(col("id"), col("band"), col("key"))
             .join(keys.select(col("band"), col("key")).distinct(),
               Seq("band", "key"), "left_semi")
           taggedBucketPairs(hist, keys, maxBucketSize)
         }).distinct()) // same pair can collide in several bands

      // exact confirm needs both sides' shingle sets: batch ∪ the history
      // buckets of ids that actually collided (cross pairs put every
      // possible history id on the "a" side). The touched-bucket collect
      // doubles as cand's MATERIALIZING action — the same honest-stats
      // discipline as lshNearDupPairs: the typed pair-expansion's static
      // estimate undershoots ~1000×, and letting the confirm join plan
      // against an unmaterialized cand could statically broadcast a
      // huge pair side at scale.
      val allSh =
        if (!hasShingles) sh
        else {
          val idBucket =
            IdempotentAppend.bucketExpr(Seq(col("id_a")), historyBuckets)
          val touched = cand.select(idBucket.as("b")).distinct()
            .collect().map(_.getLong(0))
          if (touched.isEmpty) sh
          else sh.unionAll(
            spark.read.parquet(shinglesDir(historyDir))
              .filter(col(IdempotentAppend.BucketCol).isin(touched: _*))
              .select(col("id"), col("hs")))
        }
      // The confirmed pair set is localCheckpoint'ed — NOT merely cached —
      // because this batch later APPENDS to the history paths the cand /
      // confirm plans read, and Spark's CacheManager.recacheByPath would
      // invalidate and recompute those caches against the batch's OWN
      // writes (every admitted doc then "collides" with itself, admitting
      // 0). Checkpointing cuts the path lineage; the pair set is tiny.
      val confirmed =
        NearDup.confirmJaccard(cand, allSh, threshold).localCheckpoint()
      checkpointed = Some(confirmed)

      val batchIds = sh.select(col("id"))
      val batchIdsA = batchIds.withColumnRenamed("id", "id_a")
      // history-dup: the keeper (id_a) is a history doc — including the
      // REPLAY case where the batch doc's own id is already admitted and
      // collides with itself (id_a == id_b)
      val dupVsHistory = cache(
        confirmed.filter(col("id_a") === col("id_b"))
          .select(col("id_b").as("id"))
          .unionAll(
            confirmed.join(batchIdsA, Seq("id_a"), "left_anti")
              .select(col("id_b").as("id")))
          .distinct())
      val dupInBatch = cache(
        confirmed.filter(col("id_a") =!= col("id_b"))
          .join(batchIdsA, Seq("id_a"), "left_semi") // keeper ∈ batch
          .select(col("id_b").as("id")).distinct()
          .join(dupVsHistory, Seq("id"), "left_anti"))

      // cached: the append below re-derives its input from this set
      // across the touched-partition collect and the write
      val admittedIds = cache(batchIds
        .join(dupVsHistory, Seq("id"), "left_anti")
        .join(dupInBatch, Seq("id"), "left_anti"))
      // SELF-collided batch ids (id already admitted): normally their
      // shingle re-insert is a 0-row idempotent append, but after a
      // partial store commit that left band rows WITHOUT shingle sets
      // this is the heal that backfills them (see the crash note above)
      val selfIds = confirmed.filter(col("id_a") === col("id_b"))
        .select(col("id_b").as("id")).distinct()

      // counts FIRST, in ONE job (the four frames union into a single
      // tagged aggregate; the persisted dup sets fill their caches as
      // side effects): |admitted| = in − dupHist − dupBatch (the three
      // sets partition the batch), so the append below can be skipped
      // entirely on a replay that admits nothing and heals nothing. At
      // toy scale this protocol is action-count bound; every saved job
      // is real wall time. If a batch carries duplicate ids, nIn
      // over-counts and nAdmitted only OVER-estimates (nIn ≥ distinct ≥
      // dupHist + dupBatch + |admitted|), so the skip stays
      // conservative: nAdmitted == 0 still implies admitted = ∅.
      val statRows = batchIds.select(lit(0).as("s"))
        .unionAll(dupVsHistory.select(lit(1).as("s")))
        .unionAll(dupInBatch.select(lit(2).as("s")))
        .unionAll(selfIds.select(lit(3).as("s")))
        .groupBy(col("s")).count().collect()
      def statOf(s: Int): Long = statRows
        .collectFirst { case r: Row if r.getInt(0) == s => r.getLong(1) }
        .getOrElse(0L)
      val (nIn, nDupHist, nDupBatch, nSelf) =
        (statOf(0), statOf(1), statOf(2), statOf(3))
      val nAdmitted = nIn - nDupHist - nDupBatch

      // idempotent history append (J3): a replayed batch re-derives the
      // same ids, which already exist → inserts 0. Both sinks commit in
      // ONE observed write job (r18, guide §2.4): previously the shingle
      // append paid collect+count+write and the band append
      // collect+write — five jobs where one collect and one write
      // suffice. The shingle side additionally carries the self-collided
      // ids so a stranded-bands partial commit backfills (`inserted`
      // then reports those healed docs — they only now became durably
      // admitted). Band rows are keyed by (id, band) — unique per
      // admitted doc per band — but BUCKETED by (band, key), the probe's
      // join columns.
      val inserted = if (nAdmitted == 0L && nSelf == 0L) 0L else {
        val admittedSh = sh.join(admittedIds.unionAll(selfIds),
          Seq("id"), "left_semi")
        val admittedKeys = keys.join(admittedIds, Seq("id"), "left_semi")
          .select(concat(col("id"), lit(":"), col("band")).as("__k"),
            col("id"), col("band"), col("key"))
        val counts = IdempotentAppend.toBucketedStore(
          storeDir(historyDir), historyBuckets, Seq(
            IdempotentAppend.StoreSink("shingles", admittedSh, "id"),
            IdempotentAppend.StoreSink("bands", admittedKeys, "__k",
              bucketCols = Seq("band", "key"))))
        counts("shingles")
      }

      BatchStats(batchId, nIn, nDupHist, nDupBatch, inserted)
    } finally {
      cached.foreach(_.unpersist(blocking = false))
      // a long-running dedupSink stream otherwise accumulates one
      // checkpoint per micro-batch (see Checkpoints' scaladoc)
      checkpointed.foreach(graft.operators.Checkpoints.release)
    }
  }

  /** Streaming writer: every micro-batch flows through [[dedupBatch]];
    * per-batch stats surface through `onBatch` (metrics hook). */
  def dedupSink(docs: DataFrame, historyDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.8, shingleLen: Int = 3,
      numHashes: Int = 128, bands: Int = 32,
      maxBucketSize: Int = 10000, historyBuckets: Int = 16,
      onBatch: BatchStats => Unit = _ => ()): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onBatch(dedupBatch(batch, historyDir, batchId, idCol, textCol,
          threshold, shingleLen, numHashes, bands, maxBucketSize,
          historyBuckets))
        ()
      }
}
