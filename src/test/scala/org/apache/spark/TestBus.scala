package org.apache.spark

/** The listener bus drain is package-private to Spark; specs that
  * attribute jobs to a request need every job event of it delivered
  * before they look. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
