package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession for the whole test JVM (Test/fork := true) — specs mix
  * this in; the session dies with the forked JVM. */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession(4, "spark.app.name" -> "graft-test")
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** `body` under [[graft.operators.LocalDispatch.distributedOnly]] when
    * `distributed`, else with the normal size dispatch — for specs that
    * loop over both paths. */
  def onPath[T](distributed: Boolean)(body: => T): T =
    if (distributed) graft.operators.LocalDispatch.distributedOnly(body)
    else body

  def tmpDir(prefix: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_test_${prefix}_" +
      java.util.UUID.randomUUID().toString.take(8)
}
