package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus, whose `waitUntilEmpty` is
  * `private[spark]`: specs that count jobs or stages drain it before
  * reading their listener's counts. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
