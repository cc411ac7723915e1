package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** What the listener accumulates for one span (one op, or one phase
  * of an op). Jobs are attributed to the span whose id was in the
  * submitting thread's `perfbench.span` local property.
  */
final class SpanStats {
  var jobs = 0; var stages = 0; var tasks = 0; var failedTasks = 0
  var jobRunMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var bytesRead = 0L; var rowsRead = 0L
  var bytesWritten = 0L; var rowsWritten = 0L
  var checkpointJobs = 0; var checkpointMs = 0L
  val checkpointSites = mutable.Map.empty[String, Int]
  var pinnedBytes = 0L
  var analysisNs = 0L; var optimizationNs = 0L; var planningNs = 0L
  var exchanges = 0; var wscgNodes = 0; var planNodes = 0
  var seconds = 0.0
}

/** One SparkListener + QueryExecutionListener for the whole run.
  * Light mode (the timed runs) records only RDD block updates and
  * input records, which the end-to-end metrics need; full mode (the
  * traced run) records everything a span carries.
  */
final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  @volatile var full = false
  private val byId = mutable.Map.empty[Int, SpanStats]
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (Long, Boolean)]
  @volatile private var current = -1 // span id of the op in flight, for block updates
  private var nextId = 0
  val total = new SpanStats

  private def statsOf(id: Int): Option[SpanStats] = if (id < 0) None else byId.get(id)

  /** Runs `body` as span; returns its result and the span's stats. */
  def span[T](body: => T): (T, SpanStats) = {
    val s = new SpanStats
    val id = synchronized { nextId += 1; byId(nextId) = s; nextId }
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("perfbench.span")
    sc.setLocalProperty("perfbench.span", id.toString)
    val prevCur = current
    current = id
    val t0 = System.nanoTime()
    try (body, s)
    finally {
      s.seconds = (System.nanoTime() - t0) / 1e9
      if (full) drain()
      sc.setLocalProperty("perfbench.span", prev)
      current = prevCur
    }
  }

  /** Waits until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.perfbenchshim.Shim.drainListenerBus(spark)

  private def spanOfProps(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty("perfbench.span"))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val id = spanOfProps(e.properties)
    jobSpan(e.jobId) = id
    e.stageIds.foreach(stageSpan(_) = id)
    val ckpt = e.stageInfos.map(_.name).find(_.startsWith("localCheckpoint at"))
    jobStart(e.jobId) = (e.time, ckpt.isDefined)
    if (full) Seq(statsOf(id), Some(total)).flatten.foreach { s =>
      s.jobs += 1; s.stages += e.stageInfos.size
      ckpt.foreach { site =>
        s.checkpointJobs += 1
        s.checkpointSites(site) = s.checkpointSites.getOrElse(site, 0) + 1
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val id = jobSpan.getOrElse(e.jobId, -1)
    jobStart.remove(e.jobId).foreach { case (t0, ckpt) =>
      if (full) Seq(statsOf(id), Some(total)).flatten.foreach { s =>
        s.jobRunMs += e.time - t0
        s.jobIntervals += ((t0, e.time))
        if (ckpt) s.checkpointMs += e.time - t0
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val id = stageSpan.getOrElse(e.stageId, -1)
    val m = e.taskMetrics
    Seq(statsOf(id), Some(total)).flatten.foreach { s =>
      if (m != null) {
        s.rowsRead += m.inputMetrics.recordsRead
        s.bytesRead += m.inputMetrics.bytesRead
      }
      if (full) {
        s.tasks += 1
        if (!e.taskInfo.successful) s.failedTasks += 1
        if (m != null) {
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.bytesWritten += m.outputMetrics.bytesWritten
          s.rowsWritten += m.outputMetrics.recordsWritten
        }
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      Seq(statsOf(current), Some(total)).flatten.foreach(_.pinnedBytes += b.memSize + b.diskSize)
  }

  /** QueryExecution callbacks arrive on the listener bus, not on the
    * submitting thread, so they are attributed to the op in flight;
    * `span` drains the bus before it closes, which keeps that exact.
    */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (full) synchronized {
      val phases = qe.tracker.phases
      def ns(p: String): Long = phases.get(p).map(_.durationMs * 1000000L).getOrElse(0L)
      val (ex, wscg, nodes) = shape(qe.executedPlan)
      Seq(statsOf(current), Some(total)).flatten.foreach { s =>
        s.analysisNs += ns("analysis"); s.optimizationNs += ns("optimization")
        s.planningNs += ns("planning")
        s.exchanges += ex; s.wscgNodes += wscg; s.planNodes += nodes
      }
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** (exchanges, operators inside whole-stage codegen, operators) of
    * a physical plan, looking through AQE into the final stages.
    */
  private def shape(plan: SparkPlan): (Int, Int, Int) = {
    var ex = 0; var inWscg = 0; var nodes = 0
    def countWscg(p: SparkPlan): Int = p match {
      case _: InputAdapter => 0
      case other => 1 + other.children.map(countWscg).sum
    }
    foreach(plan) {
      case _: AdaptiveSparkPlanExec | _: QueryStageExec | _: InputAdapter | _: ReusedExchangeExec => ()
      case w: WholeStageCodegenExec => inWscg += countWscg(w.child)
      case e: Exchange => ex += 1; nodes += 1
      case _ => nodes += 1
    }
    (ex, inWscg, nodes)
  }
}

/** JVM-wide counters read around a traced pass. */
object Jvm {
  import scala.jdk.CollectionConverters._
  import java.lang.management.{ManagementFactory, MemoryType}
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakBytes: Long = heapPools.map(_.getPeakUsage.getUsed).sum
  def codegenNs: Long = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  def codegenCompiles: Long = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
