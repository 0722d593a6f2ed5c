package graft

import java.nio.file.{Files, Paths}

/** Optimization-round diagnostic main: dump `explain("formatted")` for
  * named queries (or every query) to one file each, for the committed
  * plan evidence under plans/r{N}/ (the judge reads the files, not a
  * live Spark). Also times each query with min-of-`SPARK_GRAFT_REPEAT`
  * runs of the bench's `.count()` action so a plan file and a timing
  * come from the same session.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> [q_name...]
  * (no names = all queries). Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "2").toInt
    val spark = GraftSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    new java.io.File(outDir).mkdirs()
    val selected =
      if (names.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1)
      else names.flatMap { n =>
        SparkEntry.queries.get(n) match {
          case Some(fn) => Some(n -> fn)
          case None =>
            System.err.println(s"[plandump] unknown query $n — skipped")
            None
        }
      }
    selected.foreach { case (name, fn) =>
      val short = name.stripPrefix("q_").split("_").head
      spark.sparkContext.setJobDescription(name)
      try {
        val secs = (1 to repeat).map { _ =>
          val t0 = System.nanoTime()
          val n = fn(spark, sfDir).count()
          val s = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[plandump] $name%-28s $s%8.3f s rows=$n")
          s
        }
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val header = f"-- $name  sf=$sfDir  min(${repeat}x)=${secs.min}%.3f s\n"
        Files.writeString(Paths.get(s"$outDir/${short}_$suffix.txt"),
          header + plan)
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
