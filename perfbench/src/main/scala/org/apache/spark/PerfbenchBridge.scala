package org.apache.spark

/** The one package-private Spark hook the benchmark needs: block until
  * the listener bus has delivered every event posted so far, so span
  * counters are complete before they are read. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
