package org.apache.spark

/** Access to the `private[spark]` listener-bus drain: the traced run
  * waits for every event posted so far to reach its listeners before it
  * closes a step, so each event lands on the step that caused it.
  */
object PerfBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
