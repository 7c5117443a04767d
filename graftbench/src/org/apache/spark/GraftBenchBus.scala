package org.apache.spark

/** Access to the `private[spark]` listener bus, so the benchmark's tracer
  * can wait until every job, stage and task event of a run has been
  * delivered before it reads its counters. Lives in this package solely
  * for access.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
