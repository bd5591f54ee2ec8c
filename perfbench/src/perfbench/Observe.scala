package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-level totals for one span, one pass, or the whole run. */
final class Totals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskNs = 0L
  var cpuNs = 0L
  var maxTaskNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def add(o: Totals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskNs += o.taskNs; cpuNs += o.cpuNs
    maxTaskNs = math.max(maxTaskNs, o.maxTaskNs)
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }

  def copy(): Totals = { val t = new Totals; t.add(this); t }

  /** `this - before` for the additive fields; the max is not additive,
    * so a per-window max comes from [[Observer.takeWindowMaxTaskNs]]. */
  def minus(before: Totals): Totals = {
    val t = new Totals
    t.jobs = jobs - before.jobs; t.stages = stages - before.stages
    t.tasks = tasks - before.tasks; t.taskNs = taskNs - before.taskNs
    t.cpuNs = cpuNs - before.cpuNs
    t.shuffleWriteBytes = shuffleWriteBytes - before.shuffleWriteBytes
    t.spillBytes = spillBytes - before.spillBytes
    t
  }
}

/** One executed plan node: identity (so a cached plan seen by several
  * queries counts once), description and metric values. */
final case class PlanNode(identity: Int, desc: String, metrics: Map[String, Long])

/** One executed SQL query as seen by the `QueryExecutionListener`. */
final case class QueryRecord(planMs: Double, nodes: Seq[PlanNode])

/** Everything the benchmark learns about the program, learned only
  * through Spark's public observers:
  *
  *  - a `SparkListener` for jobs, stages and task metrics; a job is
  *    attributed to the span named by the `perfbench.span` local
  *    property that was set on the driver thread when it was submitted
  *  - a `QueryExecutionListener` for the Catalyst phase times
  *    (`QueryPlanningTracker`) and the executed plan's node metrics
  *  - `CodegenMetrics` and `CodeGenerator.compileTime` for codegen
  *  - the JVM's garbage-collector beans
  *
  * Listener events arrive asynchronously. [[drain]] runs a tagged
  * one-task marker job and waits for its end event: both listeners sit
  * on Spark's shared listener queue, so every event posted before the
  * marker has been handled once the marker's end arrives.
  */
final class Observer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private val sc: SparkContext = spark.sparkContext
  private val SpanKey = "perfbench.span"
  private val MarkerKey = "perfbench.marker"

  private val lock = new Object
  private val run = new Totals
  private val bySpan = mutable.Map.empty[String, Totals]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val markerJobs = mutable.Map.empty[Int, String]
  private val markerStages = mutable.Set.empty[Int]
  private val markersSeen = ConcurrentHashMap.newKeySet[String]()
  private val queries = mutable.ArrayBuffer.empty[QueryRecord]
  private val markerSeq = new AtomicLong()
  private var maxTaskNsWindow = 0L

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  private def prop(props: java.util.Properties, key: String): String =
    Option(props).flatMap(p => Option(p.getProperty(key))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val marker = prop(e.properties, MarkerKey)
    if (marker.nonEmpty) {
      markerJobs(e.jobId) = marker
      markerStages ++= e.stageIds
    } else {
      run.jobs += 1
      val s = prop(e.properties, SpanKey)
      if (s.nonEmpty) bySpan.getOrElseUpdate(s, new Totals).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    markerJobs.remove(e.jobId).foreach(markersSeen.add)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    lock.synchronized {
      val id = e.stageInfo.stageId
      if (prop(e.properties, MarkerKey).nonEmpty) markerStages += id
      else {
        run.stages += 1
        val s = prop(e.properties, SpanKey)
        stageSpan(id) = s
        if (s.nonEmpty) bySpan.getOrElseUpdate(s, new Totals).stages += 1
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    if (!markerStages.contains(e.stageId)) {
      val t = new Totals
      t.tasks = 1
      val m = e.taskMetrics
      if (m != null) {
        t.taskNs = m.executorRunTime * 1000000L
        t.cpuNs = m.executorCpuTime
        t.maxTaskNs = t.taskNs
        t.shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten
        t.spillBytes = m.diskBytesSpilled
      }
      run.add(t)
      maxTaskNsWindow = math.max(maxTaskNsWindow, t.taskNs)
      val s = stageSpan.getOrElse(e.stageId, "")
      if (s.nonEmpty) bySpan.getOrElseUpdate(s, new Totals).add(t)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs.toDouble).sum
    val nodes = try collectNodes(qe.executedPlan) catch { case _: Exception => Nil }
    lock.synchronized { queries += QueryRecord(planMs, nodes) }
  }

  /** Every executed plan node, looking through adaptive query stages
    * and into the plans of cached relations. */
  private def collectNodes(plan: SparkPlan): Seq[PlanNode] =
    collect(plan) { case p: SparkPlan => p }.flatMap {
      case m: InMemoryTableScanExec =>
        node(m) +: collectNodes(m.relation.cachedPlan)
      case p => Seq(node(p))
    }

  private def node(p: SparkPlan): PlanNode =
    PlanNode(System.identityHashCode(p), p.simpleString(200),
      p.metrics.map { case (k, v) => k -> v.value })

  /** Block until every listener event posted so far has been handled. */
  def drain(): Unit = {
    val tag = s"m${markerSeq.incrementAndGet()}"
    val prevSpan = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, null)
    sc.setLocalProperty(MarkerKey, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally {
      sc.setLocalProperty(MarkerKey, null)
      sc.setLocalProperty(SpanKey, prevSpan)
    }
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!markersSeen.remove(tag)) {
      require(System.nanoTime() < deadline, "listener bus did not drain within 30 s")
      Thread.sleep(1)
    }
  }

  def setSpan(id: String): Unit = sc.setLocalProperty(SpanKey, id)

  def totals(): Totals = lock.synchronized(run.copy())
  def spanTotals(id: String): Totals =
    lock.synchronized(bySpan.get(id).map(_.copy()).getOrElse(new Totals))

  /** Largest single task since the last call. */
  def takeWindowMaxTaskNs(): Long = lock.synchronized {
    val m = maxTaskNsWindow; maxTaskNsWindow = 0L; m
  }

  def queryCount: Int = lock.synchronized(queries.length)
  def queriesSince(i: Int): Seq[QueryRecord] =
    lock.synchronized(queries.drop(i).toList)

  def detach(): Unit = {
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

/** Process-wide counters that need no listener. */
object Jvm {
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def codegenCompiles(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def codegenNs(): Long = CodeGenerator.compileTime

  /** Peak resident set size of this JVM (`VmHWM`), in MB. */
  def peakRssMb(): Double = statusKb("VmHWM:") / 1024.0

  private def statusKb(key: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(key))
      .map(_.drop(key.length).trim.split("\\s+")(0).toDouble).getOrElse(-1.0)
    finally src.close()
  }

  /** Aggregate steal ticks from `/proc/stat` (-1 where unsupported). */
  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).get
        .trim.split("\\s+")(8).toLong
      finally src.close()
    } catch { case _: Throwable => -1L }

  def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}
