package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.internal.SQLConf

/** The round loop of the iterative plan family (CC / SCC / k-core /
  * PageRank / BFS-style relaxations …): [[fixpoint]] runs every
  * driver-synchronized loop, so truncation, round budget, change
  * detection and the loop's session conf are decided in one place.
  *
  * '''Steps are partition-invariant.''' Every operator in this family
  * is partitioning-invariant by contract (partial-aggregable messages,
  * deterministic tie-breaks; test-asserted per plan), so the shuffle
  * width and AQE setting a loop runs under change only its per-round
  * fixed cost, never a result.
  *
  * '''One size rule.''' Every fast path of the family is decided
  * here, from bytes MEASURED by [[measure]] (the same single job that
  * counts a materialized input's rows) against the session's own byte
  * settings; no row or core count enters either decision:
  *  - [[bcast]] hints a per-round join side only when its bytes fit
  *    `spark.sql.autoBroadcastJoinThreshold` (≤ 0: never), so a session
  *    that turns broadcasts off gets none from the loops either;
  *  - a loop's shuffle width is its bytes over
  *    `spark.sql.adaptive.advisoryPartitionSizeInBytes`, the size AQE
  *    coalesces post-shuffle partitions to.
  *
  * '''Loop conf scope.''' At production scale each round's shuffle
  * dominates and the session defaults are right. On a working set of a
  * few MB a round's compute is sub-millisecond but pays a fixed
  * overhead: with AQE on every Exchange materializes as its own
  * query-stage job, and every exchange runs
  * `spark.sql.shuffle.partitions` tasks however few rows flow through
  * it. A fixpoint therefore sizes its shuffle width from the measured
  * bytes of its materialized input: when that width is below the
  * current one, the loop's rounds plan at that width (≥ 1), and with
  * `aqeOff` also without AQE; a large working set (or [[SessionWidth]])
  * keeps the current conf. The scope is the loop's own thread: it
  * clones the thread's conf, never writes the session's, so queries on
  * other threads of the session plan as before, and a nested loop
  * starts from its enclosing loop's conf. The returned plans execute
  * after the scope, under the session's own conf.
  *
  * '''Round budget.''' A fixpoint runs at most `maxRounds` rounds.
  * [[Until.Budget]] loops run all of them (PageRank's iterations,
  * Sssp's hop bound: the count is the contract). [[Until.Done]] and
  * [[Until.Unchanged]] loops stop early once they settle; if the budget
  * runs out first they stop quietly with the last state, or, when
  * `fail` is given, throw the loop's own error (a cycle in TopoLayers,
  * an unconverged CC or Mis).
  *
  * '''Change detection.''' [[Until.Unchanged]] runs one signature
  * action per round and compares it with the one carried from the last
  * round (the initial state's comes first, inside the scope, unless the
  * caller already paid for it, e.g. with the measure that sized the loop). A round that
  * leaves the signature unchanged changed nothing, so the loop returns
  * the state it carried (already materialized) and drops the round's.
  *
  * '''Truncation.''' Steps truncate their per-round frames with
  * [[mat]], one policy for the family: a reliable `checkpoint` when the
  * SparkContext has a checkpoint dir (survives executor loss), else a
  * lazy `localCheckpoint` materialized by the round's own action.
  */
object Iter {

  /** `bytes` for a loop that keeps the session's shuffle width. */
  val SessionWidth = Long.MaxValue

  /** Broadcast-hint `df` when `bytes`, a measured bound on its size,
    * fits the session's `spark.sql.autoBroadcastJoinThreshold`;
    * identity otherwise, and always when the threshold is ≤ 0 (an
    * explicit hint would override the session's "no broadcasts"). At
    * production scale the state exceeds the threshold and every join
    * keeps its scale-out shuffle path. Rationale (guide §2.4/§3.1): a
    * round's state⋈edges join already ends as a broadcast join at
    * runtime via AQE when the state is tiny — but only after
    * materializing each shuffle stage as its own scheduled job (~3-5
    * extra jobs per round, the dominant cost of a sub-second round).
    * The explicit hint gives the same plan with the
    * stage-materialization jobs skipped, and leaves the big cached edge
    * side entirely exchange-free. A per-node state of a few longs is
    * bounded by twice the edge bytes (nodes ≤ 2·edges, and an edge row
    * is as wide), which is the bound most loops pass. */
  def bcast(df: DataFrame, bytes: Long): DataFrame = {
    val limit = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (limit > 0 && bytes >= 0 && bytes <= limit) org.apache.spark.sql.functions.broadcast(df)
    else df
  }

  /** Per-round lineage truncation + fresh attribute ids, zero-copy: a
    * reliable eager checkpoint when a checkpoint dir is set, else a lazy
    * local checkpoint (materialized by the round's one change-detection
    * action, in the same job), wrapped as a fresh leaf WITHOUT the
    * InternalRow→Row→InternalRow encoder round-trip of the
    * `createDataFrame(chk.rdd, chk.schema)` idiom (see
    * [[org.apache.spark.sql.GraftLeaf]]). Fresh ids let a round
    * self-join or union its own state. */
  def mat(df: DataFrame): DataFrame = org.apache.spark.sql.GraftLeaf.checkpoint(df,
    reliable = df.sparkSession.sparkContext.getCheckpointDir.isDefined)

  /** What ONE job learns about a frame: its row count, the bytes of its
    * rows in Spark's binary row format (what a broadcast or a shuffle
    * of them moves), and an order-insensitive content hash (xor of the
    * rows' xxhash64, so independent of partitioning and row order).
    * Equal measures of a loop's state before and after a round mean the
    * round changed nothing. */
  final case class Measure(rows: Long, bytes: Long, hash: Long)

  /** [[Measure]] `df` in ONE job: rows are summed as they stream, with
    * no partial-aggregate exchange (which under AQE `Dataset.count`
    * schedules as a job of its own). On a [[mat]] leaf it is the
    * cheapest signature action, and it materializes the leaf. */
  def measure(df: DataFrame): Measure = {
    import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}
    val schema = df.schema
    val (rows, bytes, hash) = org.apache.spark.sql.GraftLeaf.rows(df).mapPartitions { it =>
      lazy val toUnsafe = UnsafeProjection.create(schema)
      var n, b, h = 0L
      it.foreach { r =>
        val u = r match { case u: UnsafeRow => u; case o => toUnsafe(o) }
        n += 1
        b += u.getSizeInBytes
        h ^= XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      }
      Iterator.single((n, b, h))
    }.fold((0L, 0L, 0L))((x, y) => (x._1 + y._1, x._2 + y._2, x._3 ^ y._3))
    Measure(rows, bytes, hash)
  }

  /** The first row of `df` (a one-row aggregate, say), read like
    * [[measure]] reads its rows, so an `aqeOff` loop's signature adds no
    * query-stage job. */
  def first(df: DataFrame): InternalRow = org.apache.spark.sql.GraftLeaf.rows(df).first()

  /** When a [[fixpoint]] stops before its round budget runs out. */
  sealed trait Until[-S]
  object Until {
    /** Never early: the round count is the loop's contract. */
    case object Budget extends Until[Any]
    /** Settled once `done(state)` holds, tested before every round (the
      * step already took the count it reads). */
    final case class Done[S](done: S => Boolean) extends Until[S]
    /** Settled after a round whose `signature` equals the carried one.
      * The initial state's signature is `initial` when the caller has
      * already paid for it, else the loop's first action. */
    final case class Unchanged[S, A](signature: S => A, initial: Option[A] = None)
      extends Until[S]
  }

  /** Run `step(state, round)` (round = 0, 1, …) from `init` until the
    * loop settles per `until` or `maxRounds` rounds have run, inside the
    * loop conf scope sized from `bytes` (see the object doc). When the
    * budget ends an unsettled [[Until.Done]]/[[Until.Unchanged]] loop,
    * `fail` (if given) builds the exception to throw from the last
    * state. Returns the final state and the number of rounds run. */
  def fixpoint[S](spark: SparkSession, bytes: Long, init: S)(
      maxRounds: Int, until: Until[S] = Until.Budget, aqeOff: Boolean = false,
      fail: Option[S => Throwable] = None)(step: (S, Int) => S): (S, Int) =
    withLoopConf(spark, bytes, aqeOff) {
      var state = init
      var rounds = 0
      var sig: Any = until match {
        case Until.Unchanged(signature, initial) => initial.getOrElse(signature(init))
        case _ => ()
      }
      var settled = until match { case Until.Done(done) => done(state); case _ => false }
      while (!settled && rounds < maxRounds) {
        val next = step(state, rounds)
        rounds += 1
        until match {
          case Until.Budget => state = next
          case Until.Done(done) => state = next; settled = done(next)
          case Until.Unchanged(signature, _) =>
            val s = signature(next)
            settled = s == sig
            if (!settled) { state = next; sig = s }
        }
      }
      if (!settled && until != Until.Budget) fail.foreach(f => throw f(state))
      (state, rounds)
    }

  /** Run `body` with the shuffle width derived from `bytes` (the
    * materialized input's measured bytes over the session's
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes`) and, with
    * `aqeOff`, AQE disabled, in a clone of this thread's conf
    * (`SQLConf.withExistingConf`): queries planned on this thread see
    * the loop's values, other threads and the session's conf see none.
    * No-op when the derived width would not shrink the current one (the
    * session's, or an enclosing loop's) — the production configuration
    * always wins at scale. Outside this object only SemDedup uses it,
    * for its pair stage + CC.
    *
    * AQE normally stays ON: its runtime size observation converts a
    * loop's state⋈edges joins to broadcast (checkpointed leaves carry
    * no stats, so the static planner would pick sort-merge), and it
    * materializes independent join sides concurrently (q_scc measured
    * 8.7 s with AQE off + width 1 vs 6.8 s when the rounds relied on
    * that). `aqeOff` is for loops whose per-round joins ALL carry
    * [[bcast]] hints: the static plan is then already the AQE plan, and
    * AQE would only add one scheduled query-stage job per exchange.
    * Whether a query runs adaptively is read from the session, so the
    * loop's [[mat]], [[measure]] and [[first]] run the non-adaptive
    * plan themselves; a Dataset action inside an `aqeOff` loop would
    * still run adaptively. */
  private[graft] def withLoopConf[A](spark: SparkSession, bytes: Long,
                                     aqeOff: Boolean = false)(body: => A): A = {
    val current = org.apache.spark.sql.GraftLeaf.threadConf(spark)
    val advisory = current.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val width = math.max(1L, (math.max(0L, bytes) - 1) / advisory + 1)
    if (width >= current.numShufflePartitions) body
    else {
      val loop = current.clone()
      loop.setConf(SQLConf.SHUFFLE_PARTITIONS, width.toInt)
      if (aqeOff) loop.setConf(SQLConf.ADAPTIVE_EXECUTION_ENABLED, false)
      SQLConf.withExistingConf(loop)(body)
    }
  }
}
