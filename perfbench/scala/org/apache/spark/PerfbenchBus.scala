package org.apache.spark

/** The listener bus delivers Spark events asynchronously. The traced run
  * drains it before it reads its counters, so that every job, stage, task
  * and query execution of a traced block has reached the listeners. The
  * drain is `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
