// The listener bus is asynchronous and its drain is private[spark]; the
// benchmark waits on it before reading its listener's counters.
package org.apache.spark.perfbench

import org.apache.spark.SparkContext

object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
