package org.apache.spark

/** Access to the driver's listener bus, which Spark keeps private: block
  * until every event posted so far has reached every listener, so a
  * listener's counts are complete when they are read.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
