package org.apache.spark

/** The listener bus's drain, which Spark keeps `private[spark]`: a spec
  * that counts jobs with a `SparkListener` drains the bus before it
  * reads the count.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
