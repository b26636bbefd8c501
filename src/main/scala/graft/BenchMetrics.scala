package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-query byte accounting for [[Bench]]: wall
  * clock at one scale factor can't distinguish a plan that got leaner
  * from a machine that got quieter (the r12 134-vs-163 s ambiguity) —
  * shuffle read/write, spill and input bytes are machine-independent
  * plan facts, so recording them next to the wall numbers turns every
  * future "noise or regression?" debate into a lookup.
  *
  * Attribution is by JOB GROUP, not by a mutable "current query"
  * field: [[Bench]] wraps each run in `setJobGroup(<query>#<pass>)`,
  * `onJobStart` (processed in submission order on the listener
  * thread) maps the job's stages to that group, and
  * `onStageCompleted` charges the stage's task metrics to the mapped
  * group. Everything happens on the bus thread in event order, so a
  * stage finishing after the driver has already moved to the next
  * query still lands on the RIGHT query — the race a volatile
  * current-name design would lose.
  *
  * The listener bus is asynchronous, so totals must not be read until
  * the queue drains: [[Bench]] runs a marker job under
  * [[BenchMetricsListener.FlushGroup]] after the last pass and polls
  * [[flushSeen]] — the bus is ordered, so once the marker's job-start
  * has been processed, every earlier event has been too.
  *
  * Skipped stages (reused exchanges) never complete, so re-used work
  * is charged once, to the pass that actually executed it — byte
  * totals are "bytes this run moved", the number a scale argument
  * needs.
  */
final class BenchMetricsListener extends SparkListener {

  final class Bytes {
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spillDisk = 0L
    var spillMem = 0L
    var input = 0L
  }

  private val stageToGroup = scala.collection.concurrent.TrieMap.empty[Int, String]
  /** group name → accumulated bytes (group = "<query>#<pass>"). */
  val byGroup = scala.collection.concurrent.TrieMap.empty[String, Bytes]
  @volatile var flushSeen = false

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val g = Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g == BenchMetricsListener.FlushGroup) flushSeen = true
    else if (g != null) j.stageInfos.foreach(si => stageToGroup.put(si.stageId, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageToGroup.remove(e.stageInfo.stageId).foreach { g =>
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        val b = byGroup.getOrElseUpdate(g, new Bytes)
        b.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        b.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        b.spillDisk += m.diskBytesSpilled
        b.spillMem += m.memoryBytesSpilled
        b.input += m.inputMetrics.bytesRead
      }
    }
}

object BenchMetricsListener {
  /** Job group of the drain marker job — never attributed. */
  val FlushGroup = "graft-bench-flush"
}
