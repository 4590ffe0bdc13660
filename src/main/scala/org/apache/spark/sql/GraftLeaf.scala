package org.apache.spark.sql

/** The row path of iterative plans (placed in Spark's package to reach
  * `internalCreateDataFrame`, the same constructor `Dataset.ofRows`
  * paths use, and the planner's preparation rules).
  *
  * Iterative operators truncate lineage per round and must also
  * RE-ALIAS the result (fresh AttributeReferences), because each round
  * self-joins the state with itself. `Dataset.checkpoint` keeps the
  * child plan's attributes, and `createDataFrame(chk.rdd, chk.schema)`
  * pays an InternalRow → Row → InternalRow round-trip in every later
  * scan of the state. [[checkpoint]] wraps the checkpointed
  * InternalRows as they are in a new LogicalRDD leaf whose attributes
  * are freshly generated from the schema.
  *
  * '''Thread-scoped AQE off.''' A loop turns AQE off in its own
  * thread's `SQLConf` (`SQLConf.withExistingConf`), never in the
  * session. The planner's width rules read that thread conf, but
  * whether a query runs adaptively is decided from the session's conf.
  * So when the calling thread's conf has AQE off, [[rows]] prepares the
  * frame's physical plan with the main-query (non-adaptive) rule set,
  * exchange reuse included, and executes it: no query-stage job per
  * exchange, and the session's other queries stay adaptive. */
object GraftLeaf {
  import catalyst.InternalRow
  import execution.{GraftPlan, SQLExecutionRDD}
  import internal.SQLConf
  import org.apache.spark.rdd.RDD

  /** `df`'s rows checkpointed and wrapped as a fresh leaf: `reliable`
    * writes them to the SparkContext's checkpoint dir now (one job);
    * otherwise a lazy local checkpoint, materialized by the first
    * action that reads the leaf. Each row is copied first, as
    * `Dataset.checkpoint` does: an executed plan reuses its row
    * objects. */
  def checkpoint(df: DataFrame, reliable: Boolean): DataFrame = {
    val kept = rows(df).map(_.copy())
    if (reliable) { kept.checkpoint(); kept.doCheckpoint() }
    else kept.localCheckpoint()
    df.sparkSession.asInstanceOf[classic.SparkSession].internalCreateDataFrame(
      kept, df.schema, isStreaming = false)
  }

  /** The frame's rows as the engine's internal RDD, no Row conversion:
    * `queryExecution.toRdd`, or, when the calling thread's conf has AQE
    * off, the rows of the non-adaptive plan (see the object doc). */
  def rows(df: DataFrame): RDD[InternalRow] = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    val session = qe.sparkSession
    if (threadConf(session).adaptiveExecutionEnabled) qe.toRdd
    else session.withActive(new SQLExecutionRDD(
      GraftPlan.nonAdaptive(session, qe.sparkPlan).execute(), session.sessionState.conf))
  }

  /** The conf that plans `spark`'s queries on this thread: an enclosing
    * `SQLConf.withExistingConf` scope's, else the session's. */
  def threadConf(spark: SparkSession): SQLConf =
    spark.asInstanceOf[classic.SparkSession].withActive(SQLConf.get)
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

package execution {
  /** The planner's rule sets are `private[execution]`, hence this object. */
  object GraftPlan {
    /** `plan` prepared with the main-query rule set and no adaptive
      * rule: what `QueryExecution.executedPlan` is with AQE off, exchange
      * reuse included (`prepareExecutedPlan` uses the subquery set). */
    def nonAdaptive(session: classic.SparkSession, plan: SparkPlan): SparkPlan =
      QueryExecution.prepareForExecution(
        QueryExecution.preparations(session, None, subquery = false), plan.clone())
  }
}
