package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** What the listener bus delivered while one step ran: its jobs, stages,
  * Catalyst phase times, AQE re-plans and the RDD blocks it stored.
  * Every field is a plain value, so the run writes it out as JSON as is.
  */
final class StepTrace {
  type Rec = mutable.LinkedHashMap[String, Any]
  val jobs = mutable.LinkedHashMap.empty[Int, Rec]
  val stages = mutable.ArrayBuffer.empty[Rec]
  val queries = mutable.ArrayBuffer.empty[Rec]
  val taskCount = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  val taskMs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  val rdds = mutable.Set.empty[Int]
  var blockBytes = 0L
  var aqeUpdates = 0

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs.values.toSeq.map(_.toMap),
    "stages" -> stages.toSeq.map(_.toMap),
    "queries" -> queries.toSeq.map(_.toMap),
    "aqe_updates" -> aqeUpdates,
    "checkpoints" -> rdds.size,
    "checkpoint_b" -> blockBytes)
}

/** Records scheduler, execution and Catalyst events into the step that is
  * open. The runner drains the bus before it opens and after it closes a
  * step, so an event always reaches the step that posted it.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  @volatile var current: StepTrace = null

  private def on(f: StepTrace => Unit): Unit = {
    val t = current
    if (t != null) t.synchronized(f(t))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = on { t =>
    t.jobs(e.jobId) = mutable.LinkedHashMap(
      "id" -> e.jobId, "start" -> e.time, "end" -> e.time,
      "stage_ids" -> e.stageIds,
      "group" -> Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = on { t =>
    t.jobs.get(e.jobId).foreach { j =>
      j("end") = e.time
      j("ok") = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = on { t =>
    t.taskCount(e.stageId) += 1
    t.taskMs(e.stageId) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = on { t =>
    val si = e.stageInfo
    val m = si.taskMetrics
    val rec = mutable.LinkedHashMap[String, Any](
      "id" -> si.stageId, "attempt" -> si.attemptNumber(),
      "submit" -> si.submissionTime.getOrElse(0L),
      "complete" -> si.completionTime.getOrElse(0L),
      "tasks" -> t.taskCount(si.stageId), "task_ms" -> t.taskMs(si.stageId),
      "ok" -> si.failureReason.isEmpty)
    if (m != null) rec ++= Seq(
      "cpu_ns" -> m.executorCpuTime, "gc_ms" -> m.jvmGCTime,
      "shuffle_read_b" -> m.shuffleReadMetrics.totalBytesRead,
      "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten,
      "spill_b" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "input_b" -> m.inputMetrics.bytesRead, "input_rows" -> m.inputMetrics.recordsRead,
      "output_b" -> m.outputMetrics.bytesWritten, "output_rows" -> m.outputMetrics.recordsWritten)
    t.stages += rec
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = on { t =>
    val b = e.blockUpdatedInfo
    b.blockId match {
      case RDDBlockId(rdd, _) if b.storageLevel.isValid =>
        t.rdds += rdd
        t.blockBytes += b.memSize + b.diskSize
      case _ =>
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate => on(_.aqeUpdates += 1)
    case _ =>
  }

  private def phaseMs(qe: QueryExecution, phase: String): Long =
    qe.tracker.phases.get(phase).map(_.durationMs).getOrElse(0L)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    query(funcName, qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    query(funcName, qe, ok = false)

  private def query(funcName: String, qe: QueryExecution, ok: Boolean): Unit = on { t =>
    t.queries += mutable.LinkedHashMap(
      "func" -> funcName, "ok" -> ok,
      "analysis_ms" -> phaseMs(qe, "analysis"),
      "optimization_ms" -> phaseMs(qe, "optimization"),
      "planning_ms" -> phaseMs(qe, "planning"))
  }
}
