package org.apache.spark

/** The one private Spark hook the benchmark needs: draining the listener
  * bus, so that task and job events of a finished action have reached
  * the benchmark's listener before its counters are sampled.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
