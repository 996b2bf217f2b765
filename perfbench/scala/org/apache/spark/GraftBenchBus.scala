package org.apache.spark

/** The one Spark-internal hook the benchmark needs: block until every
  * event already posted to the listener bus has been delivered, so the
  * counters a listener read afterwards are complete. Lives in this
  * package because `SparkContext.listenerBus` is `private[spark]`. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
