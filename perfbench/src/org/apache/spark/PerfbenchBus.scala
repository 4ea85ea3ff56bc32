package org.apache.spark

/** Access to the listener bus barrier, which is `private[spark]`. The
  * traced run waits on it after every op so that each op's events are
  * delivered before the next op starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
