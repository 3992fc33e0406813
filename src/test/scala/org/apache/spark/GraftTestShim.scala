package org.apache.spark

/** Test access to the `private[spark]` listener bus: a listener sees every
  * event of the actions run so far only after the bus has drained.
  */
object GraftTestShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
