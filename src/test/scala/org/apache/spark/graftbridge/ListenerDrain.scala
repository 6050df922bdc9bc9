package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test bridge to the `private[spark]` listener bus: blocks until every
  * event posted so far has reached every listener, so a spec can read
  * a SparkListener's tallies right after the action it measured. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
