package org.apache.spark.sql

/** Zero-copy fresh-leaf rewrap for iterative plans (placed in Spark's
  * package to reach `internalCreateDataFrame`, the same constructor
  * `Dataset.ofRows` paths use — public-source Spark API surface).
  *
  * Iterative operators truncate lineage per round with
  * `localCheckpoint` and must also RE-ALIAS the result (fresh
  * AttributeReferences) because each round self-joins the state with
  * itself; `Dataset.checkpoint` reuses the child plan's output
  * attributes, so the established idiom was
  * `createDataFrame(chk.rdd, chk.schema)` — which pays an
  * InternalRow → Row → InternalRow encoder round-trip (an extra
  * deserialize/serialize pass in EVERY subsequent scan of the state,
  * plus per-round encoder analysis on the driver).
  *
  * `fresh` keeps the materialized checkpoint RDD as-is (InternalRow,
  * zero copies) and wraps it in a new LogicalRDD leaf whose attributes
  * are freshly generated from the schema — the same fresh-alias
  * guarantee with none of the conversion. */
object GraftLeaf {
  def fresh(checkpointed: DataFrame): DataFrame =
    checkpointed.sparkSession.asInstanceOf[classic.SparkSession].internalCreateDataFrame(
      rows(checkpointed), checkpointed.schema, isStreaming = false)

  /** The frame's rows as the engine's internal RDD — no Row conversion. */
  def rows(df: DataFrame): org.apache.spark.rdd.RDD[catalyst.InternalRow] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd
}

/** A frame computed through ONE hash shuffle, built with the frame: its
  * leaf holds the `ShuffleDependency`, so every action over `frame` (and
  * over any frame derived from it) reads the map output the first action
  * wrote, and Spark's DAGScheduler skips the map stage for every action
  * after the first. `mapPlan` is the executed plan of the map side; its
  * metrics (an `observe` node's, say) are filled by that one map stage.
  * Nothing is cached: the shuffle files live as long as the frame and are
  * freed by the ContextCleaner once it is dropped. */
final class SharedShuffle private[sql] (val frame: DataFrame, val mapPlan: execution.SparkPlan,
                                        dep: org.apache.spark.ShuffleDependency[_, _, _]) {
  /** Whether every map output of the shuffle has been written. */
  def mapped: Boolean = org.apache.spark.SparkEnv.get.mapOutputTracker match {
    case m: org.apache.spark.MapOutputTrackerMaster => m.findMissingPartitions(dep.shuffleId).exists(_.isEmpty)
    case _ => false
  }
}

object SharedShuffle {
  import execution.{ShuffledRowRDD, UnsafeRowSerializer}
  import execution.exchange.ShuffleExchangeExec
  import execution.metric.{SQLShuffleReadMetricsReporter, SQLShuffleWriteMetricsReporter}

  /** `df` hash-partitioned on all its columns into the session's
    * `spark.sql.shuffle.partitions` reducers (the initial count AQE
    * would start from), with `reduce` run over each reducer's binary
    * rows. When `df`'s plan holds no exchange, building its RDD starts
    * no job. The shuffle is Spark's own, as `ShuffleExchangeExec`
    * prepares it. */
  def apply(df: DataFrame)(reduce: Iterator[catalyst.InternalRow] => Iterator[catalyst.InternalRow]): SharedShuffle = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    val output = qe.executedPlan.output
    val sc = session.sparkContext
    val dep = ShuffleExchangeExec.prepareShuffleDependency(qe.toRdd, output,
      catalyst.plans.physical.HashPartitioning(output, session.sessionState.conf.numShufflePartitions),
      new UnsafeRowSerializer(output.size), SQLShuffleWriteMetricsReporter.createShuffleWriteMetrics(sc))
    val rows = new ShuffledRowRDD(dep, SQLShuffleReadMetricsReporter.createShuffleReadMetrics(sc))
      .mapPartitions(reduce)
    new SharedShuffle(session.internalCreateDataFrame(rows, df.schema, isStreaming = false),
      qe.executedPlan, dep)
  }
}
