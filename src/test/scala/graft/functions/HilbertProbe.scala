package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measurement utility (not a test) for q_x15's constant cost
  * (VERDICT r10 #2): the 24-level Hilbert projection chain was judge-
  * measured at ~4.7 s vs q_x14's ~1.0 s on the identical ~600k-row
  * input. Two candidate explanations with opposite remedies:
  *
  *   compile — the chain plans as ONE whole-stage-codegen method of 24
  *     chained CASE blocks; Janino compilation is paid once per plan,
  *     amortizes at scale (nothing to fix, document it), or
  *   per-row — ~8 µs/row of actual CASE evaluation, which would bite
  *     at 100× too (then fuse levels and re-measure).
  *
  * The probe separates them by holding the PLAN constant and varying
  * only the row count (6k vs 600k distinct keys): compile cost is the
  * intercept, per-row cost the slope. A bits=12 run splits the
  * per-LEVEL scaling, and a fused 2-level variant (12 projections of
  * two quadrant steps each) is timed against the shipped form.
  * Run with `sbt "Test/runMain graft.functions.HilbertProbe [sfDir]"`.
  */
object HilbertProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession(32)

    val base = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .localCheckpoint()
    val nFull = base.count()
    val small = base.limit((nFull / 100).toInt).localCheckpoint()
    val nSmall = small.count()

    def consume(df: DataFrame): Unit = {
      df.orderBy(col("h").desc, col("l_orderkey"), col("l_partkey"))
        .limit(50).collect()
    }
    def time(label: String, reps: Int)(f: => Unit): Double = {
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"$label%-42s min ${ts.min}%.2f s  (all: " +
        ts.map(t => f"$t%.2f").mkString(" ") + ")")
      ts.min
    }

    // warm generic scan/sort paths (NOT the hilbert codegen — each
    // distinct plan recompiles; that is the point)
    consume(base.withColumn("h", col("l_orderkey")))

    val tSmall = time(f"bits=24 chain, $nSmall%d rows", 5) {
      consume(Hilbert.withHilbertChain(small, "l_orderkey", "l_partkey", "h", 24))
    }
    val tFull = time(f"bits=24 chain, $nFull%d rows", 5) {
      consume(Hilbert.withHilbertChain(base, "l_orderkey", "l_partkey", "h", 24))
    }
    val tHalf = time(f"bits=12 chain, $nFull%d rows", 5) {
      consume(Hilbert.withHilbertChain(base, "l_orderkey", "l_partkey", "h", 12))
    }
    val tExpr = time(f"bits=24 native expr, $nFull%d rows", 5) {
      consume(Hilbert.withHilbert(base, "l_orderkey", "l_partkey", "h", 24))
    }
    println(f"native-expression form: $tExpr%.2f s (chain $tFull%.2f s)")
    val perRow = (tFull - tSmall) / (nFull - nSmall) * 1e6
    println(f"intercept (compile+fixed) ~ $tSmall%.2f s; " +
      f"slope ~ $perRow%.3f us/row; " +
      f"12-level vs 24-level full: $tHalf%.2f vs $tFull%.2f s")

    // the Morton sibling for the same-input reference point
    val tZ = time(f"zorder, $nFull%d rows", 5) {
      consume(base.withColumn("h",
        ZOrder.zValue(col("l_orderkey"), col("l_partkey"))))
    }
    println(f"zorder reference: $tZ%.2f s")

    // does the 24-level chain actually stay inside whole-stage codegen,
    // and how big is the generated method? (debugCodegen reports max
    // bytecode size per subtree — the JIT refuses methods > 8 KB)
    import org.apache.spark.sql.execution.debug._
    println("--- hilbert chain debugCodegen header ---")
    val hdf = Hilbert.withHilbertChain(base, "l_orderkey", "l_partkey", "h", 24)
    println(hdf.queryExecution.debug.codegenToSeq()
      .map { case (subtree, code, stats) =>
        subtree.linesIterator.next() + s"  [codeLen=${code.length} " +
          s"maxMethod=${stats.maxMethodCodeSize}]" }
      .mkString("\n"))
    spark.stop()
  }
}
