package org.apache.spark

/** Test access to the `private[spark]` listener bus: block until every
  * event posted so far has reached its listeners, so a job count read
  * afterwards covers every job the measured call launched.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
