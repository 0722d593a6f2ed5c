package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ClustersSpec extends SparkSpec {
  import spark.implicits._

  /** Reference model: union-find over the same edge list. */
  private def ufComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // roots are already component minima because the union rule always
    // parents the larger root under the smaller one
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("connectedComponents matches union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 60 + trial * 20
      val edges = Seq.fill(n) {
        val a = rnd.nextInt(50).toLong; val b = rnd.nextInt(50).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      val got = Clusters
        .connectedComponents(edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(got == ufComponents(edges), s"trial $trial")
    }
  }

  test("200-node chain converges via pointer jumping (O(log n) rounds)") {
    // Diameter 199 >> maxIter 50: neighbor propagation alone CANNOT
    // finish — only the lbl <- lbl(lbl) doubling step makes this converge,
    // so this test fails if the jump is ever dropped. distributedOnly
    // forces the DISTRIBUTED path (the r17 size dispatch would otherwise
    // solve this tiny graph on the driver and the jump would go untested).
    val chain = (0L until 199L).map(i => (i, i + 1))
    val got = LocalDispatch.distributedOnly(
      Clusters.connectedComponents(chain.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect())
    assert(got.length == 200)
    assert(got.forall(_._2 == 0L))
  }

  test("local union-find path ≡ distributed loop (r17 size dispatch)") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val edges = Seq.fill(120) {
        val a = rnd.nextInt(80).toLong; val b = rnd.nextInt(80).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      val df = edges.toDF("id_a", "id_b")
      val local = Clusters.connectedComponents(df)
        .as[(Long, Long)].collect().toMap
      val dist = LocalDispatch.distributedOnly(
        Clusters.connectedComponents(df).as[(Long, Long)].collect().toMap)
      assert(local == dist, s"trial $trial")
      assert(local == ufComponents(edges), s"trial $trial vs reference")
    }
  }

  test("two components + self-contained determinism across runs") {
    val pairs = Seq((1L, 3L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
    assert(Clusters.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap == expect)
    assert(Clusters.connectedComponents(pairs.repartition(7))
      .as[(Long, Long)].collect().toMap == expect)
  }

  test("consolidate keeps one representative per cluster + pair-free docs") {
    // per-pair keeper (LlmPrep rule) would keep BOTH 1 and 2 here; the
    // component rule keeps only the component minimum
    val docs = Seq(1L, 2L, 3L, 7L).toDF("doc_id")
    val pairs = Seq((1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Clusters.consolidate(docs, pairs, "doc_id")
      .as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 7L))
  }

  test("empty pair set yields empty mapping without failing") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Clusters.connectedComponents(empty).count() == 0)
  }

  test("intermediate checkpoints are released; results bounded + releasable") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    // distributedOnly: the checkpoint-lifecycle contract under test is
    // the distributed loop's (the local path holds no checkpoints at all)
    val result =
      LocalDispatch.distributedOnly(Clusters.connectedComponents(pairs))
    result.count()
    // only the held RESULT's checkpoint may remain (intermediate rounds
    // and the edge table are released inside the loop)...
    val during = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(during.size <= 1, s"unreleased intermediates: $during")
    // ...and its owner's release drops the rest (delta-based: suites
    // share the JVM-wide session)
    Checkpoints.release(result)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked cache ids: $leaked")
  }
}
