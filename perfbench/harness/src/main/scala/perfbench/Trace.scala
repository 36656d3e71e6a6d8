package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor-side statistics of one statement: everything its jobs did,
  * tied to the statement by the job group the harness sets around it. */
final class GroupStats {
  var jobs = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var aqeUpdates = 0
  /** (submission, completion) wall-clock ms of every job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** max/median task time of every stage that ran two or more tasks. */
  val stageSkews = mutable.ArrayBuffer.empty[Double]
}

/** Collects job, stage, task and adaptive-replan events per job group.
  * Events arrive on Spark's listener thread; readers call [[stats]] only
  * after the bus is drained. */
final class StatementListener extends SparkListener {
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val executionGroup = new ConcurrentHashMap[Long, String]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()

  private def group(g: String): GroupStats = groups.computeIfAbsent(g, _ => new GroupStats)

  def stats(g: String): GroupStats = groups.getOrDefault(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { id =>
      jobGroup.put(e.jobId, id)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageGroup.put(s, id))
      group(id).synchronized { group(id).jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.get(e.jobId)).foreach { id =>
      val s = group(id)
      s.synchronized { s.jobIntervals += ((jobStart.get(e.jobId), e.time)) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { id =>
      val s = group(id)
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          s.spillBytes += m.diskBytesSpilled
          s.inputBytes += m.inputMetrics.bytesRead
          s.inputRecords += m.inputMetrics.recordsRead
        }
      }
      val ts = stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
      ts.synchronized { ts += e.taskInfo.duration }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    for (g <- Option(stageGroup.get(id)); ts <- Option(stageTaskMs.remove(id)) if ts.size >= 2) {
      val sorted = ts.sorted
      val median = math.max(sorted(sorted.size / 2), 1L)
      val s = group(g)
      s.synchronized { s.stageSkews += sorted.last.toDouble / median }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(g => executionGroup.put(s.executionId, g))
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      Option(executionGroup.get(u.executionId)).foreach { g =>
        val s = group(g)
        s.synchronized { s.aqeUpdates += 1 }
      }
    case _ => ()
  }

}

final case class PlanFacts(exchanges: Int, filesRead: Long)

/** Final (post-AQE) physical plan facts of the statements' own query
  * executions: exchanges and files scanned, read once the execution has
  * finished so adaptive re-planning is complete. */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val watching = ConcurrentHashMap.newKeySet[QueryExecution]()
  private val facts = new ConcurrentHashMap[QueryExecution, PlanFacts]()

  /** Record facts for `qe` when it finishes (statements' own executions only). */
  def watch(qe: QueryExecution): Unit = watching.add(qe)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (watching.remove(qe)) {
      val plan = qe.executedPlan
      val exchanges = collectWithSubqueries(plan) { case e: Exchange => e }.size
      val files = collectWithSubqueries(plan) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      facts.put(qe, PlanFacts(exchanges, files))
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    watching.remove(qe)

  def of(qe: QueryExecution): Option[PlanFacts] = Option(facts.get(qe))
}
