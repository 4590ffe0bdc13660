package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.model.Model._
import graft.spec.DumpSpec
import graft.emit.TripleEmitter
import graft.sources.EntityCorpus

/** Structured-Streaming face of the engine (SURVEY §2.9).
  *
  * The reference is a push-based streaming pipeline without event time:
  * per-entity state only, progress on a processing-time timer
  * (`processors/ProgressReporter.java:24-66`). The faithful Spark shape
  * is a file-source stream with `Trigger.AvailableNow` driving the same
  * parse → filter → flatMap emitters — the emitter needs no state across
  * entities, so the streaming plan is stateless (watermark-free) and
  * scales like the batch plan.
  */
object StreamingPipeline {

  val corpusSchema: StructType = StructType(Seq(
    StructField("repo", StringType), StructField("path", StringType),
    StructField("commit", StringType), StructField("lang", StringType),
    StructField("content", StringType)))

  /** Streaming triples: Pipeline.triples' gate chain and emission over
    * a file stream. Note: no global dedup here (that needs a batch pass
    * or watermarked stateful dedup downstream). */
  def streamTriples(spark: SparkSession, corpusDir: String, spec: DumpSpec,
                    sites: TripleEmitter.Sites = EntityCorpus.sites): Dataset[Triple] = {
    import spark.implicits._
    val raw = spark.readStream.schema(corpusSchema).parquet(corpusDir)
    graft.Pipeline.includedDocs(raw, spec, excludeLexemes = true).flatMap { d =>
      val nd = graft.Pipeline.normalize(d)
      if (TripleEmitter.isSerializable(nd)) TripleEmitter.emit(spec, nd, sites) else Nil
    }
  }

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Events file stream. The file source requires a directory; for a
    * bare parquet file, stage a symlink inside a temp dir (zero-copy). */
  def eventsStream(spark: SparkSession, eventsDir: String,
                   options: Map[String, String] = Map.empty): DataFrame = {
    val base = if (eventsDir.endsWith(".parquet")) {
      val d = java.nio.file.Files.createTempDirectory("graft-events-stream")
      java.nio.file.Files.createSymbolicLink(
        d.resolve("part-0.parquet"), java.nio.file.Paths.get(eventsDir))
      d.toString
    } else eventsDir
    spark.readStream.options(options).schema(eventsSchema).parquet(base)
  }

  /** Windowed event aggregation with watermark (late-data-safe tumbling
    * window; the A2 progress-count analog as an event-time operator). */
  def eventWindowCounts(spark: SparkSession, eventsDir: String,
                        window_ : String = "1 hour", watermark: String = "2 hours"): DataFrame = {
    eventsStream(spark, eventsDir)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
  }

  /** Streaming approximate-distinct: per-window HyperLogLog REGISTER
    * state ((window, reg) → max rho, the
    * [[graft.operators.Sketch.regRho]] derivation) — "distinct users
    * per hour" over an unbounded stream in ≤ 2^b rows of state per
    * window instead of a per-window distinct-set that grows with the
    * traffic. Register max is merge-associative, so the result is
    * micro-batch-split invariant by construction, and the final state
    * equals the batch sketch over the same files (the oracle contract).
    * Read the estimate off the registers with
    * [[graft.operators.Sketch.estimateFromRegs]] keyed by window. */
  def windowedDistinctRegisters(spark: SparkSession, eventsDir: String,
                                valueCol: String = "user_id",
                                window_ : String = "1 hour",
                                watermark: String = "2 hours",
                                b: Int = 8): DataFrame = {
    val (reg, rho) = graft.operators.Sketch.regRho(col(valueCol), b)
    eventsStream(spark, eventsDir)
      .withWatermark("ts", watermark)
      .select(window(col("ts"), window_).as("w"), reg.as("reg"), rho.as("rho"))
      .groupBy(col("w"), col("reg")).agg(max("rho").as("rho"))
  }

  /** Streaming approximate-frequency: per-window Count-Min register
    * state — the counting counterpart of [[windowedDistinctRegisters]]
    * ("how often did each user/token hit, per hour" in ≤ 4·width state
    * rows per window). Counts sum associatively, so the state is
    * micro-batch-split invariant and equals the batch sketch over the
    * same files; point estimates read off via
    * [[graft.operators.Sketch.cmsLookup]] against a window's slice. */
  def windowedCmsRegisters(spark: SparkSession, eventsDir: String,
                           valueCol: String = "user_id",
                           window_ : String = "1 hour",
                           watermark: String = "2 hours",
                           width: Int = 64): DataFrame =
    eventsStream(spark, eventsDir)
      .withWatermark("ts", watermark)
      .select(window(col("ts"), window_).as("w"),
        explode(graft.operators.Sketch.cmsPairs(col(valueCol), width)).as("p"))
      .select(col("w"), col("p.row").cast("long").as("row"), col("p.col").as("col"))
      .groupBy(col("w"), col("row"), col("col"))
      .agg(count(lit(1)).as("cnt"))

  /** Streaming per-window mergeable QUANTILE-sketch state: the log2
    * (DDSketch-at-γ=2) histogram keyed by event-time window — "p50/p99
    * of the value per hour" in ≤ 64 state rows per window, completing
    * the windowed sketch family (distinct = HLL registers, frequency =
    * CMS registers, quantiles = this). Bin counts SUM and min/max
    * MERGE associatively ⇒ micro-batch-split invariant and ≡ the batch
    * [[graft.operators.Profiling.log2Histogram]] over the same files
    * (the oracle contract); quantiles read off a window's slice with
    * the [[graft.operators.Profiling.log2Quantiles]] cumulative walk. */
  def windowedLog2Histogram(spark: SparkSession, eventsDir: String,
                            valueCol: String = "user_id",
                            window_ : String = "1 hour",
                            watermark: String = "2 hours"): DataFrame = {
    val v = col(valueCol).cast("long")
    eventsStream(spark, eventsDir)
      .withWatermark("ts", watermark)
      .select(window(col("ts"), window_).as("w"),
        when(v <= 0, lit(0L)).otherwise(length(conv(v, 10, 2)).cast("long")).as("bin"),
        v.as("v"))
      .groupBy(col("w"), col("bin"))
      .agg(count(lit(1)).as("n"), min("v").as("min_v"), max("v").as("max_v"))
  }

  /** Streaming per-window keyed counts — the state behind exact
    * windowed top-k ("top users per hour"). One count row per
    * (window, key): bounded by the per-window KEY CARDINALITY, not the
    * traffic (each event folds into its count map-side) — right when
    * the key domain is bounded (users, types, hosts); for unbounded
    * domains use [[windowedCmsRegisters]] + heavy-hitter verify
    * instead. Counts sum associatively ⇒ micro-batch-split invariant
    * and ≡ the batch groupBy over the same files (the oracle contract);
    * rank off the final state with
    * [[graft.functions.TopKAgg.groupTopK]]. */
  def windowedKeyCounts(spark: SparkSession, eventsDir: String,
                        keyCol: String = "user_id",
                        window_ : String = "1 hour",
                        watermark: String = "2 hours"): DataFrame =
    eventsStream(spark, eventsDir)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"), col(keyCol).as("k"))
      .agg(count(lit(1)).as("cnt"))

  /** Stream-static join: enrich the event stream with a slowly-changing
    * dimension table (user → segment, doc → license, …). Stateless on
    * the stream side — Spark re-plans the static side per micro-batch,
    * so a dimension refresh is picked up without restarting the query —
    * and the static side is broadcast (dimension tables are small by
    * definition; a 100 TB stream never shuffles for the join). */
  def enrichedEvents(spark: SparkSession, eventsDir: String, dim: DataFrame,
                     streamKey: String, dimKey: String): DataFrame =
    eventsStream(spark, eventsDir)
      .join(broadcast(dim), col(streamKey) === col(dimKey), "left_outer")

  /** Stream-stream interval join with bounded state: purchases joined to
    * the same user's clicks from the preceding `windowMinutes` — the
    * streaming face of the as-of/attribution joins. BOTH sides carry a
    * watermark and the join condition time-bounds the match window, so
    * Spark can GC each side's state as event time advances (without the
    * interval bound, stream-stream state grows forever). Inner join:
    * rows emit as soon as both sides arrive; equality with the batch
    * interval join over the same files is the oracle contract. */
  def purchaseClickJoin(spark: SparkSession, eventsDir: String,
                        windowMinutes: Int = 360,
                        watermark: String = "2 hours"): DataFrame = {
    val purchases = eventsStream(spark, eventsDir)
      .where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("pts"))
      .withWatermark("pts", watermark)
    val clicks = eventsStream(spark, eventsDir)
      .where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("cts"))
      .withWatermark("cts", watermark)
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("cts") >= col("pts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
        col("cts") <= col("pts"))
      .select(col("purchase_id"), col("click_id"), col("user_id"))
  }

  /** Stream-stream LEFT OUTER interval join — attribution that also
    * reports the UNATTRIBUTED purchases. The outer side is the hard
    * streaming surface: a purchase with no click can only emit once the
    * click-side watermark has passed its whole match window (Spark
    * holds it in state until then, then emits with nulls) — which is
    * exactly why both watermarks AND the time-bound condition are
    * mandatory here, not just advisable: without them the engine could
    * neither GC state nor ever prove "no match will arrive". On a
    * bounded replay the result equals the batch left join (the oracle
    * contract). */
  def purchaseClickJoinLeft(spark: SparkSession, eventsDir: String,
                            windowMinutes: Int = 360,
                            watermark: String = "2 hours"): DataFrame = {
    val purchases = eventsStream(spark, eventsDir)
      .where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("pts"))
      .withWatermark("pts", watermark)
    val clicks = eventsStream(spark, eventsDir)
      .where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("cts"))
      .withWatermark("cts", watermark)
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("cts") >= col("pts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
        col("cts") <= col("pts"),
      "left_outer")
      .select(col("purchase_id"), col("click_id"), col("user_id"))
  }

  /** Stream-stream FULL OUTER interval join — completes the outer-join
    * matrix (inner / left / full): unattributed purchases AND orphan
    * clicks both surface with nulls, each emitting only once the
    * OPPOSITE side's watermark has provably passed its match window —
    * so this exercises the both-sides null-emission + state-GC path
    * the left join only exercises on one side. `user_id` is coalesced
    * across sides (an orphan click has no purchase-side user). On a
    * bounded replay the result equals the batch FULL join (the oracle
    * contract, via the same flush-sentinel technique as the left
    * variant). */
  def purchaseClickJoinFull(spark: SparkSession, eventsDir: String,
                            windowMinutes: Int = 360,
                            watermark: String = "2 hours"): DataFrame = {
    val purchases = eventsStream(spark, eventsDir)
      .where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("pts"))
      .withWatermark("pts", watermark)
    val clicks = eventsStream(spark, eventsDir)
      .where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("cts"))
      .withWatermark("cts", watermark)
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("cts") >= col("pts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
        col("cts") <= col("pts"),
      "full_outer")
      .select(col("purchase_id"), col("click_id"),
        coalesce(col("user_id"), col("c_user")).as("user_id"))
  }

  /** Streaming dedup with bounded state: duplicates dropped within the
    * watermark horizon (`dropDuplicatesWithinWatermark`) — the streaming
    * face of D1/exact dedup; state is GC'd as the watermark advances, so
    * it runs forever on an unbounded stream. */
  def streamingDedup(spark: SparkSession, eventsDir: String,
                     keys: Seq[String] = Seq("user_id", "event_type"),
                     watermark: String = "2 hours"): DataFrame = {
    eventsStream(spark, eventsDir)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)
      .select(keys.map(col): _*)
  }

  case class UserSession(user_id: Long, events: Long, lastTs: Long)
  case class SessionUpdate(user_id: Long, events: Long)

  case class SessState(startSec: Long, endSec: Long, n: Long)
  case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp,
                           session_end: java.sql.Timestamp, n_events: Long)

  /** Streaming sessionization via flatMapGroupsWithState (the batch
    * analog is q_sessionize's gaps-and-islands): per-user sessions close
    * after `gapSec` of event-time silence and are emitted exactly once —
    * either when a later event observes the gap, or when the EVENT-TIME
    * TIMEOUT fires as the watermark passes session_end + gap (so idle
    * users' last sessions still flush and their state is dropped —
    * bounded state on an unbounded stream). Events are sorted per
    * invocation; correctness across micro-batches holds for data within
    * the watermark like every event-time operator here. */
  def userSessions(events: Dataset[(Long, java.sql.Timestamp)],
                   gapSec: Long = 3600L): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    def close(user: Long, s: SessState): ClosedSession =
      ClosedSession(user, new java.sql.Timestamp(s.startSec * 1000),
        new java.sql.Timestamp(s.endSec * 1000), s.n)
    events.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)], state: GroupState[SessState]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            // watermark passed end+gap: the open session is final
            val out = state.getOption.map(close(user, _)).iterator
            state.remove()
            out
          } else {
            val sorted = rows.map(_._2.getTime / 1000).toArray.sorted
            val closed = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
            var cur = state.getOption
            sorted.foreach { t =>
              cur match {
                case Some(s) if t - s.endSec > gapSec =>
                  closed += close(user, s)
                  cur = Some(SessState(t, t, 1))
                case Some(s) =>
                  cur = Some(SessState(s.startSec, math.max(s.endSec, t), s.n + 1))
                case None =>
                  cur = Some(SessState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.endSec + gapSec) * 1000)
            }
            closed.iterator
          }
      }
  }

  /** Streaming CDC-apply (foreachBatch → [[graft.sources.SnapshotTable]]
    * MERGE): the incremental lakehouse-maintenance loop — a keyed event
    * stream continuously upserted into a versioned snapshot table, the
    * shape a live KG store takes between full rebuilds.
    *
    * Per micro-batch: reduce to ONE row per key (argmax by
    * (ts, event_id) — a partial-aggregable max(struct), no window),
    * drop updates STALER than the table's current row for that key
    * (one key-join against the table — the standard out-of-order
    * CDC-apply guard), then one atomic MERGE commit. The guard makes
    * the final state independent of how the stream was micro-batched
    * or ordered: any replay converges to the global per-key
    * (ts, event_id) argmax (test-asserted with shuffled multi-batch
    * splits), and a crash-replayed batch re-merges idempotently (its
    * rows are no longer fresher than the table).
    *
    * Partitioning: `bucket = user_id % nBuckets` — key-stable by
    * construction, so MERGE's partition-scoped COW invariant holds and
    * each commit rewrites only the buckets its keys touch. */
  def mergeStreamToTable(spark: SparkSession, eventsDir: String, table: String,
                         nBuckets: Int = 8,
                         maxFilesPerTrigger: Option[Int] = None)
  : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.sources.SnapshotTable
    val src0 = eventsStream(spark, eventsDir,
      maxFilesPerTrigger.map(n => "maxFilesPerTrigger" -> n.toString).toMap)
    src0.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val reduced = batch
        .groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("b"))
        .select(col("user_id"), (col("user_id") % nBuckets).as("bucket"),
          col("b.ts").as("ts"), col("b.event_id").as("event_id"),
          col("b.event_type").as("event_type"))
      val fresh =
        if (SnapshotTable.currentVersion(table) == 0) reduced
        else {
          val cur = SnapshotTable.read(spark, table)
            .select(col("user_id"),
              struct(col("ts"), col("event_id")).as("_cur"))
          reduced.join(cur, Seq("user_id"), "left")
            .filter(col("_cur").isNull ||
              struct(col("ts"), col("event_id")) > col("_cur"))
            .drop("_cur")
        }
      if (!fresh.isEmpty)
        SnapshotTable.merge(spark, table, fresh, "bucket", Seq("user_id"))
      ()
    }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
  }

  /** Custom keyed state via mapGroupsWithState: running per-user event
    * counts (the KeyValueGroupedDataset stateful-op surface). */
  def userRunningCounts(events: Dataset[(Long, java.sql.Timestamp)]): Dataset[SessionUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)], state: GroupState[UserSession]) =>
          val prior = state.getOption.getOrElse(UserSession(user, 0L, 0L))
          var n = prior.events; var last = prior.lastTs
          rows.foreach { r => n += 1; last = math.max(last, r._2.getTime) }
          state.update(UserSession(user, n, last))
          SessionUpdate(user, n)
      }
  }
}
