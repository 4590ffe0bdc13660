package org.apache.spark

/** The listener bus's drain, whose accessor is `private[spark]` (placed
  * in Spark's package for that reason, like `sql.GraftLeaf`). */
object GraftBus {
  /** Blocks until every event posted so far has been delivered to every
    * listener; throws a `TimeoutException` after 10 s. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
