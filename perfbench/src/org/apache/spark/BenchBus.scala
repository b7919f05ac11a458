package org.apache.spark

/** Waits until every posted listener event has been delivered, so a traced
  * run reads complete job, stage and query-execution records before it
  * attributes them. Lives in Spark's package because the listener bus is
  * package-private. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
