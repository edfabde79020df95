package org.apache.spark

/** Listener-bus barrier for the benchmark's tracer: counts read after
  * `drain` include every event posted before it. The bus is
  * `private[spark]`, hence this one-method bridge in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
