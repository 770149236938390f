package org.apache.spark

/** The one private Spark hook the benchmark needs: block until the listener
  * bus has delivered every queued event, so a job's task and stage events
  * are all recorded before its per-layer figures are read.
  */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
