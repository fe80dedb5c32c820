package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event. The
  * benchmark calls it before attaching or detaching its trace listeners,
  * so that a traced pass keeps all of its events and an untraced one
  * contributes none. It lives in this package because the bus is
  * package-private.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
