package org.apache.spark

/** The listener bus drain is package-private to Spark; the benchmark's
  * tracer needs it so every job and task event of a traced run has been
  * delivered before spans are attributed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
