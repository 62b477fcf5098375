package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark summarises its listeners only after every posted event has
  * been delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
