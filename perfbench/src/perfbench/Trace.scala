package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener-side spans of a traced run: SQL executions, jobs and stages
  * from the scheduler's events, and one planning record per
  * QueryExecution. Records are JSON lines kept in memory and written out
  * when the run ends; all times are epoch milliseconds, so they nest
  * with the harness's op/build/action spans by time containment.
  *
  * Task metrics are summed per stage at the boundary where they are
  * reported, so a stage record carries its own work counts.
  */
final class Trace extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val records = new ConcurrentLinkedQueue[String]()

  private val execStart = mutable.Map[Long, (Long, Long)]()
  private val jobStart = mutable.Map[Int, (Long, Option[Long], Int, Boolean)]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val stageSums = mutable.Map[Int, Array[Long]]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized {
      execStart(e.executionId) = (e.time, e.rootExecutionId.getOrElse(e.executionId))
    }
    case e: SparkListenerSQLExecutionEnd => synchronized {
      execStart.remove(e.executionId).foreach { case (start, root) =>
        records.add(Json.obj("kind" -> "sql", "id" -> e.executionId,
          "root" -> root, "start" -> start, "end" -> e.time))
      }
    }
    case e: SparkListenerSQLAdaptiveExecutionUpdate =>
      records.add(Json.obj("kind" -> "aqe", "exec" -> e.executionId,
        "t" -> System.currentTimeMillis()))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    // the long call site is the user stack that submitted the job
    val fromSources = e.stageInfos.exists(_.details.contains("graft.sources."))
    jobStart(e.jobId) = (e.time, exec, e.stageInfos.size, fromSources)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (start, exec, stages, src) =>
      records.add(Json.obj("kind" -> "job", "id" -> e.jobId,
        "exec" -> exec.getOrElse(-1L), "start" -> start, "end" -> e.time,
        "stages" -> stages, "sources" -> src))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
      e.taskInfo.duration
    if (m != null) {
      val s = stageSums.getOrElseUpdate(e.stageId, new Array[Long](8))
      s(0) += m.executorRunTime
      s(1) += m.executorCpuTime
      s(2) += m.jvmGCTime
      s(3) += m.shuffleWriteMetrics.bytesWritten
      s(4) += m.shuffleReadMetrics.totalBytesRead
      s(5) += m.diskBytesSpilled
      s(6) += m.inputMetrics.bytesRead
      s(7) += m.outputMetrics.bytesWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val durations = stageTasks.remove(info.stageId).getOrElse(mutable.ArrayBuffer())
      .sorted
    val straggler =
      if (durations.isEmpty) 0L else durations.last - durations(durations.size / 2)
    val s = stageSums.remove(info.stageId).getOrElse(new Array[Long](8))
    records.add(Json.obj("kind" -> "stage", "id" -> info.stageId,
      "job" -> stageJob.getOrElse(info.stageId, -1),
      "start" -> info.submissionTime.getOrElse(-1L),
      "end" -> info.completionTime.getOrElse(-1L),
      "tasks" -> durations.size, "run_ms" -> s(0), "cpu_ns" -> s(1),
      "gc_ms" -> s(2), "shuffle_write" -> s(3), "shuffle_read" -> s(4),
      "spill_disk" -> s(5), "input" -> s(6), "output" -> s(7),
      "straggler_ms" -> straggler))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = plan(funcName, qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = plan(funcName, qe)

  private def plan(funcName: String, qe: QueryExecution): Unit =
    try planRecord(funcName, qe)
    catch { case scala.util.control.NonFatal(_) => () } // plan never built

  private def planRecord(funcName: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val broadcasts = collect(qe.executedPlan) { case b: BroadcastExchangeExec => b }
    val broadcastMs = broadcasts.map { b =>
      Seq("collectTime", "buildTime", "broadcastTime")
        .flatMap(b.metrics.get).map(_.value).sum
    }.sum
    val start = if (phases.isEmpty) -1L else phases.values.map(_.startTimeMs).min
    val end = if (phases.isEmpty) -1L else phases.values.map(_.endTimeMs).max
    records.add(Json.obj("kind" -> "plan", "func" -> funcName,
      "start" -> start, "end" -> end,
      "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning"),
      "broadcasts" -> broadcasts.size, "broadcast_ms" -> broadcastMs))
  }

  def lines: Seq[String] = records.asScala.toSeq
}

/** Just enough JSON writing for flat records of numbers, booleans and
  * strings.
  */
object Json {
  def str(s: String): String = "\"" + graft.Bench.jsonEscape(s) + "\""

  def obj(fields: (String, Any)*): String = fields.map { case (k, v) =>
    val value = v match {
      case s: String  => str(s)
      case d: Double  => if (d.isNaN || d.isInfinite) "null" else d.toString
      case b: Boolean => b.toString
      case n: Number  => n.toString
      case null       => "null"
      case other      => str(other.toString)
    }
    s"${str(k)}:$value"
  }.mkString("{", ",", "}")
}
