package graft.operators

import org.apache.spark.sql.functions._

/** Measurement utility (not a test): gate-configuration hits of the
  * q_v12 MIPS path (5 queries × k=3 → 15 possible hits) per scale
  * factor, plus the recall of the augmented-LSH candidates at the
  * AnnRecallProbe preset grid. The SURVEY L91 floor quotes this main.
  * Run: `sbt "Test/runMain graft.operators.MipsProbe"`. */
object MipsProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession(8)
    import spark.implicits._

    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val e = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
      val q = e.filter(col("vec_id") < 5)
      val c = e.filter(col("vec_id") >= 5)
      val exact = Similarity.mipsBruteForceTopK(q, c, k = 3)
        .select(col("query_id"), col("neighbor_id"))
        .as[(Long, Long)].collect().toSet
      val approx = Similarity.mipsLshTopK(q, c, k = 3)
        .select(col("query_id"), col("neighbor_id"))
        .as[(Long, Long)].collect().toSet
      println(s"$sf gate hits: ${(exact & approx).size} / ${exact.size}")
    }
    spark.stop()
  }
}
