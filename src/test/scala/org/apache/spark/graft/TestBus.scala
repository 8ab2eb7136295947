package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; a test that counts events
  * drains it so every event of the code under test has been delivered
  * before it reads the count. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
