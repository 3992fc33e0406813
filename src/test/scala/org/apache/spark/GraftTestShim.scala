package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test access to the `private[spark]` listener bus: a listener sees every
  * event of the actions run so far only after the bus has drained.
  */
object GraftTestShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `body`'s result and the number of jobs launched while it ran. */
  def jobsDuring[T](sc: SparkContext)(body: => T): (T, Int) = {
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    }
    drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      drain(sc)
      (out, listener.synchronized(jobs))
    } finally sc.removeSparkListener(listener)
  }
}
