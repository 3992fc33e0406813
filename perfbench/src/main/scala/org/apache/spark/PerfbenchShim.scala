package org.apache.spark

/** The one package-private call the benchmark needs: wait until every
  * posted listener event has been delivered, so counters read after an
  * operation include its last task.
  */
object PerfbenchShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
