package org.apache.spark

import org.apache.spark.scheduler.SparkListenerInterface
import scala.jdk.CollectionConverters._

/** Test access to a context's listener bus, whose accessors are
  * `private[spark]` (placed in Spark's package for that reason). */
object ListenerBusProbe {
  /** Every listener registered on `sc`'s bus, over all its queues. */
  def listeners(sc: SparkContext): Seq[SparkListenerInterface] =
    sc.listenerBus.listeners.asScala.toSeq

  /** Blocks until every event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
