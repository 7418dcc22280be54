package graftperf

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Totals of one measurement window (a unit, or one span's jobs). */
final class Totals {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var taskMs = 0L; var taskCpuNs = 0L; var taskWaitMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var peakExecMem = 0L; var resultBytes = 0L; var recordsRead = 0L
  var commitMs = 0L; var planMs = 0L
  var leafScans = 0L; var memScans = 0L
  val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  def asMap: Map[String, Double] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "task_s" -> taskMs / 1e3,
    "task_cpu_s" -> taskCpuNs / 1e9, "task_wait_s" -> taskWaitMs / 1e3,
    "shuffle_write_mb" -> shuffleWrite / 1048576.0,
    "shuffle_read_mb" -> shuffleRead / 1048576.0,
    "spill_mb" -> spill / 1048576.0,
    "peak_exec_mem_mb" -> peakExecMem / 1048576.0,
    "result_mb" -> resultBytes / 1048576.0,
    "records_read" -> recordsRead.toDouble,
    "commit_s" -> commitMs / 1e3, "plan_s" -> planMs / 1e3,
    "leaf_scans" -> leafScans.toDouble, "mem_scans" -> memScans.toDouble)

  /** Seconds of [t0, t1] (epoch ms) during which no task ran. */
  def idleMs(t0: Long, t1: Long): Long = {
    var covered = 0L; var edge = t0
    taskSpans.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > edge) { covered += b - math.max(a, edge); edge = b }
      }
    (t1 - t0) - covered
  }
}

/** Benchmark-owned SparkListener + QueryExecutionListener. Counters go
  * to the current unit window and, through job tags, to the innermost
  * open span ("gp-span-<id>") the job was submitted under. Write
  * executions are recognised from their physical plan; their commit
  * time is the execution end minus the last task end of its jobs. */
final class Counters(sideTableRoot: String) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private var window = new Totals
  val bySpan = mutable.HashMap.empty[Int, Totals]
  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val jobExec = mutable.HashMap.empty[Int, Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val writeExecs = mutable.HashMap.empty[Long, Long]

  private val writeNodes = Seq("InsertIntoHadoopFsRelationCommand",
    "SaveIntoDataSourceCommand", "AppendData", "OverwriteByExpression",
    "OverwritePartitionsDynamic", "WriteToDataSourceV2", "CreateTableAsSelect",
    "ReplaceTableAsSelect")

  def reset(): Unit = synchronized { window = new Totals }
  def snapshot(): Totals = synchronized { window }

  private def targets(jobId: Option[Int]): Seq[Totals] =
    window +: jobId.flatMap(jobSpan.get).map(s =>
      bySpan.getOrElseUpdate(s, new Totals)).toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("spark.job.tags"))).foreach { t =>
      val spans = t.split(",").filter(_.startsWith("gp-span-"))
        .map(_.stripPrefix("gp-span-").toInt)
      if (spans.nonEmpty) jobSpan(e.jobId) = spans.max
    }
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => jobExec(e.jobId) = x.toLong)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    targets(Some(e.jobId)).foreach(_.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    targets(stageJob.get(id)).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    val job = stageJob.get(e.stageId)
    val m = Option(e.taskMetrics)
    targets(job).foreach { t =>
      t.tasks += 1
      if (!info.successful) t.failedTasks += 1
      t.taskMs += info.finishTime - info.launchTime
      t.taskWaitMs += math.max(0L,
        info.launchTime - stageSubmit.getOrElse(e.stageId, info.launchTime))
      t.taskSpans += ((info.launchTime, info.finishTime))
      m.foreach { m =>
        t.taskCpuNs += m.executorCpuTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.diskBytesSpilled
        t.peakExecMem = math.max(t.peakExecMem, m.peakExecutionMemory)
        t.resultBytes += m.resultSize
        t.recordsRead += m.inputMetrics.recordsRead
      }
    }
    job.flatMap(jobExec.get).foreach { x =>
      writeExecs.get(x).foreach(last =>
        writeExecs(x) = math.max(last, info.finishTime))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val plan = Option(s.physicalPlanDescription).getOrElse("")
      if (writeNodes.exists(n => plan.contains(n))) writeExecs(s.executionId) = 0L
    }
    case end: SparkListenerSQLExecutionEnd => synchronized {
      writeExecs.remove(end.executionId).filter(_ > 0).foreach { last =>
        window.commitMs += math.max(0L, end.time - last)
      }
    }
    case _ => ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit = {
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum
    val leaves = try collectLeaves(qe.executedPlan) catch { case _: Throwable => Nil }
    val scans = leaves.collect {
      case m: InMemoryTableScanExec => true
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains(sideTableRoot))
      case _: BatchScanExec => false
    }
    synchronized {
      window.planMs += planMs
      window.leafScans += scans.size
      window.memScans += scans.count(identity)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}
