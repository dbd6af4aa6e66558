package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval around a call the benchmark makes into an engine
  * module. Counters are filled by the listeners while the span is the
  * innermost open one.
  */
final class Span(val id: Int, val parent: Int, val name: String, val startNs: Long) {
  @volatile var endNs: Long = 0L
  val counters = new ConcurrentHashMap[String, java.lang.Double]()
  def add(key: String, v: Double): Unit =
    counters.merge(key, v, (a: java.lang.Double, b: java.lang.Double) => a + b)
  def get(key: String): Double = Option(counters.get(key)).map(_.doubleValue).getOrElse(0.0)
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** Spans plus the three listeners that attribute Spark's own counters to
  * them. Spans stay in memory until the run ends.
  *
  * Attribution: jobs carry the innermost span id as a local property (the
  * stream thread inherits it when a drain starts), so job, stage and task
  * counters land on the span that launched them. Planning and streaming
  * progress callbacks carry no such tag; they go to the innermost open
  * span, which is exact because every span boundary first waits for the
  * listener bus to deliver what was posted before it.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  @volatile private var current: Span = null

  /** When false, [[span]] only runs its body: the untraced half of a
    * traced run, used to measure the tracing overhead.
    */
  var active = false

  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      PerfbenchBus.drain(sc)
      val parent = current
      val s = new Span(spans.length, if (parent == null) -1 else parent.id, name, System.nanoTime())
      spans += s
      byId.put(s.id, s)
      current = s
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        PerfbenchBus.drain(sc)
        current = parent
        sc.setLocalProperty(Tracer.Key, if (parent == null) null else parent.id.toString)
      }
    }

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).map(_.getProperty(Tracer.Key)).orNull
      if (tag == null) return
      val s = byId.get(tag.toInt)
      if (s == null) return
      s.add("jobs", 1)
      e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      if (s == null || e.taskMetrics == null) return
      val m = e.taskMetrics
      s.add("tasks", 1)
      s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      s.add("input_records", m.inputMetrics.recordsRead.toDouble)
      s.add("exec_cpu_ms", m.executorCpuTime / 1e6)
      s.add("exec_run_ms", m.executorRunTime.toDouble)
      s.add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  private object PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val s = current
      if (s == null) return
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      s.add("plan_ms", planMs)
      s.add("queries", 1)
      s.add("scans", collectWithSubqueries(qe.executedPlan) {
        case f: FileSourceScanExec => f
        case b: BatchScanExec => b
      }.length.toDouble)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val s = current
      if (s == null) return
      s.add("batches", 1)
      e.progress.durationMs.asScala.foreach { case (k, v) => s.add(s"stream.$k", v.doubleValue) }
    }
  }

  def install(): Unit = {
    sc.addSparkListener(JobListener)
    spark.listenerManager.register(PlanListener)
    spark.streams.addListener(StreamListener)
  }

  def uninstall(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(JobListener)
    spark.listenerManager.unregister(PlanListener)
    spark.streams.removeListener(StreamListener)
  }

  /** Counter `key` averaged over the spans named `name` (0 when none). */
  def meanOf(name: String, key: String): Double = {
    val xs = spans.filter(_.name == name)
    if (xs.isEmpty) 0.0 else xs.map(_.get(key)).sum / xs.length
  }

  /** Wall time of the spans named `name`, averaged (0 when none). */
  def meanWallMs(name: String): Double = {
    val xs = spans.filter(_.name == name)
    if (xs.isEmpty) 0.0 else xs.map(_.wallMs).sum / xs.length
  }

  def spansJson(limit: Int): Seq[Map[String, Any]] =
    spans.take(limit).map { s =>
      Map[String, Any]("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startNs / 1e6, "wall_ms" -> s.wallMs,
        "counters" -> s.counters.asScala.toSeq.sortBy(_._1).map { case (k, v) => k -> v.doubleValue }.toMap)
    }.toSeq
}

object Tracer {
  val Key = "perfbench.span"
}
