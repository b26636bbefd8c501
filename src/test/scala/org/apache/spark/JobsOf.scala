package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The test-side job counter: the start events of the jobs a body
  * launches. Jobs are attributed through a thread-local property, which
  * the broadcast and subquery threads and a stream's execution thread
  * inherit from the thread that runs the body. The `private[spark]`
  * listener bus is drained before the count starts and after the body
  * returns, so the events cover every job the body launched and every
  * listener event it posted (query-execution listeners included).
  */
object JobsOf {

  private val Tag = "graft.test.jobsOf"

  def apply(sc: SparkContext)(body: => Unit): Seq[SparkListenerJobStart] = {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Tag) != null) started.add(e)
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    sc.setLocalProperty(Tag, "1")
    try body
    finally {
      sc.setLocalProperty(Tag, null)
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
    started.toArray(Array.empty[SparkListenerJobStart]).toSeq
  }
}
