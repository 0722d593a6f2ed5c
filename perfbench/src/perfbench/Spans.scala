package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters of one span: every job, stage, task and executed plan
  * that ran while the span was the driver thread's current label. */
final class SpanStats {
  var wallNs = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var busyMs = 0L
  var gcMs = 0L
  var schedMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** Summed SQL metrics per (plan node name, metric name). */
  val nodeMetrics = mutable.Map.empty[(String, String), Long]

  def node(name: String, metric: String): Long =
    nodeMetrics.getOrElse((name, metric), 0L)
}

/** Attributes Spark's scheduler and SQL events to the span in flight. The
  * driver thread names its span in a local property, which every job
  * started from that thread carries; stages, tasks and SQL executions are
  * then mapped to the span through their job. */
final class Spans(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private val Key = "perfbench.span"
  private val stats = new ConcurrentHashMap[String, SpanStats]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val execSpan = new ConcurrentHashMap[Long, String]()

  private def of(span: String): SpanStats =
    stats.computeIfAbsent(span, _ => new SpanStats)

  /** Plan metrics of the execution whose end event is being delivered:
    * the session's execution-listener bus sits ahead of this listener on
    * the shared queue, so `onSuccess` sees each end event just before
    * `onOtherEvent` does, and the latter knows its execution id. */
  @volatile private var ended: Option[Seq[((String, String), Long)]] = None

  def register(): this.type = {
    spark.listenerManager.register(this)
    spark.sparkContext.addSparkListener(this)
    this
  }

  def unregister(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Runs `body` as span `name`; its wall time adds to the span. */
  def apply[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, name)
    val t0 = System.nanoTime()
    try body
    finally {
      of(name).synchronized { of(name).wallNs += System.nanoTime() - t0 }
      sc.setLocalProperty(Key, outer)
    }
  }

  /** The counters of every span, once all posted events are seen. */
  def snapshot(): Map[String, SpanStats] = {
    PerfbenchBus.drain(spark.sparkContext)
    stats.asScala.toMap
  }

  def reset(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    stats.clear(); stageSpan.clear(); execSpan.clear(); counted.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Key))).getOrElse("other")
    val s = of(span)
    s.synchronized { s.jobs += 1 }
    e.stageIds.foreach(stageSpan.put(_, span))
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execSpan.putIfAbsent(id.toLong, span))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = of(stageSpan.getOrDefault(e.stageInfo.stageId, "other"))
    s.synchronized { s.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val s = of(stageSpan.getOrDefault(e.stageId, "other"))
    val info = e.taskInfo
    val sched = info.duration - m.executorDeserializeTime - m.executorRunTime -
      m.resultSerializationTime - (if (info.gettingResultTime > 0)
        info.finishTime - info.gettingResultTime else 0L)
    s.synchronized {
      s.tasks += 1
      s.busyMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.schedMs += math.max(0L, sched)
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Cached relations whose plan metrics were already counted: a cached
    * plan runs in the first action that reads it, and only there. */
  private val counted = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val found = mutable.ArrayBuffer.empty[((String, String), Long)]
    def visit(p: SparkPlan): Unit = {
      val name = p match {
        case _: FileSourceScanExec => "FileSourceScan"
        case _ => p.nodeName
      }
      p.metrics.foreach { case (k, v) => found += ((name, k) -> v.value) }
      p match {
        case m: InMemoryTableScanExec if counted.add(m.relation.cacheBuilder) =>
          walk(m.relation.cachedPlan)
        case _ =>
      }
    }
    def walk(plan: SparkPlan): Unit = {
      foreach(plan)(visit)
      subqueriesAll(plan).foreach(sq => foreach(sq)(visit))
    }
    walk(qe.executedPlan)
    ended = Some(found.toSeq)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd => ended.foreach { found =>
      ended = None
      val s = of(execSpan.getOrDefault(end.executionId, "other"))
      s.synchronized {
        found.foreach { case (k, v) =>
          s.nodeMetrics(k) = s.nodeMetrics.getOrElse(k, 0L) + v }
      }
    }
    case _ =>
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}
