package org.apache.spark.graftspec

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark jobs a block starts, for specs that pin job counts. It lives in
  * Spark's package for `listenerBus.waitUntilEmpty`, which the public API
  * does not offer: the bus is drained before the listener is added and
  * again before the count is read, so no earlier job is counted and no
  * job of the block is missed. Only jobs submitted from the calling
  * thread, tagged with a local property, count, so another thread's
  * jobs on the shared session do not. */
object JobCount {
  private val Tag = "graft.spec.jobCount"
  private val seq = new AtomicInteger

  /** The block's result and the number of Spark jobs it started. */
  def of[T](sc: SparkContext)(body: => T): (T, Int) = {
    val token = seq.incrementAndGet().toString
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Tag) == token) n.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    sc.setLocalProperty(Tag, token)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, n.get)
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
  }
}
