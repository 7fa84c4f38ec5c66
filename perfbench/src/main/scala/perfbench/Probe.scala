package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative counts; differences of two snapshots attribute work to the
  * call made between them.
  */
final case class Counts(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskCpuNs: Long = 0, taskRunMs: Long = 0, gcMs: Long = 0,
    inputBytes: Long = 0, inputRecords: Long = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    fsReadOps: Long = 0, fsWriteOps: Long = 0, fsBytesRead: Long = 0, fsBytesWritten: Long = 0,
    queries: Long = 0, analysisMs: Long = 0, optimizationMs: Long = 0, planningMs: Long = 0,
    dsv2FilesScanned: Long = 0) {
  def -(o: Counts): Counts = Counts(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskCpuNs - o.taskCpuNs, taskRunMs - o.taskRunMs, gcMs - o.gcMs,
    inputBytes - o.inputBytes, inputRecords - o.inputRecords,
    shuffleReadBytes - o.shuffleReadBytes, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes,
    fsReadOps - o.fsReadOps, fsWriteOps - o.fsWriteOps,
    fsBytesRead - o.fsBytesRead, fsBytesWritten - o.fsBytesWritten,
    queries - o.queries, analysisMs - o.analysisMs, optimizationMs - o.optimizationMs,
    planningMs - o.planningMs, dsv2FilesScanned - o.dsv2FilesScanned)
  def +(o: Counts): Counts = this - (Counts() - o)
}

/** Listens to Spark from outside the program: job, stage and task events
  * from the listener bus, planning phases of every finished query, and the
  * Hadoop FileSystem statistics of the JVM. Read only after [[drain]].
  */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private var c = Counts()
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val intervals = ArrayBuffer.empty[(String, String, Long, Long)]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def drain(): Unit = PerfbenchBridge.drainListenerBus(spark.sparkContext)

  /** Drained cumulative counts, with the FileSystem statistics read now. */
  def counts(): Counts = {
    drain()
    val fs = FileSystem.getAllStatistics.asScala
    synchronized(c).copy(
      fsReadOps = fs.map(s => s.getReadOps.toLong + s.getLargeReadOps).sum,
      fsWriteOps = fs.map(_.getWriteOps.toLong).sum,
      fsBytesRead = fs.map(_.getBytesRead).sum,
      fsBytesWritten = fs.map(_.getBytesWritten).sum)
  }

  /** Spark-side intervals (layer, name, startUs, endUs) since the last call. */
  def takeIntervals(): Seq[(String, String, Long, Long)] = {
    drain()
    synchronized { val out = intervals.toSeq; intervals.clear(); out }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1, stages = c.stages + e.stageInfos.size)
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => intervals += (("exec", s"job${e.jobId}", s * 1000L, e.time * 1000L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) c = c.copy(
      tasks = c.tasks + 1,
      taskCpuNs = c.taskCpuNs + m.executorCpuTime,
      taskRunMs = c.taskRunMs + m.executorRunTime,
      gcMs = c.gcMs + m.jvmGCTime,
      inputBytes = c.inputBytes + m.inputMetrics.bytesRead,
      inputRecords = c.inputRecords + m.inputMetrics.recordsRead,
      shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
    else c = c.copy(tasks = c.tasks + 1)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    // a query that failed before planning has no executed plan to inspect
    val files = scala.util.Try(Probe.scans(qe.executedPlan).map(Probe.filesOf).sum).getOrElse(0L)
    synchronized {
      c = c.copy(queries = c.queries + 1,
        analysisMs = c.analysisMs + ms(QueryPlanningTracker.ANALYSIS),
        optimizationMs = c.optimizationMs + ms(QueryPlanningTracker.OPTIMIZATION),
        planningMs = c.planningMs + ms(QueryPlanningTracker.PLANNING),
        dsv2FilesScanned = c.dsv2FilesScanned + files)
      Seq(QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING).foreach { p =>
        phases.get(p).foreach(s => intervals += (("catalyst", p, s.startTimeMs * 1000L, s.endTimeMs * 1000L)))
      }
    }
  }
}

object Probe {
  /** Nodes of a physical plan, through adaptive stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** DSv2 scan nodes of a physical plan. */
  def scans(p: SparkPlan): Seq[BatchScanExec] = nodes(p).collect { case b: BatchScanExec => b }

  /** File scans (V1 or DSv2) of a physical plan: the datasets it reads. */
  def fileScans(p: SparkPlan): Int =
    nodes(p).count { case _: FileSourceScanExec | _: BatchScanExec => true; case _ => false }

  def filesOf(b: BatchScanExec): Long =
    b.inputPartitions.map {
      case f: FilePartition => f.files.length.toLong
      case _ => 0L
    }.sum
}
