package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts, on every thread (stream and
  * broadcast threads included). Listener events arrive asynchronously,
  * so the count is read only once the listener bus is idle; the bus
  * is `private[spark]`, hence this package. */
object JobCounter {
  def apply[A](sc: SparkContext)(body: => A): (A, Int) = {
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, n.get)
    } finally sc.removeSparkListener(listener)
  }
}
