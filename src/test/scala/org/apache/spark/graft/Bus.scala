package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus's drain, which Spark keeps package-private: a spec
  * reads its listener counters only after every event an operation
  * posted has been delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
