package graft

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import graft.spec.{DumpSpec, SpecJson}
import graft.sources.EntityCorpus
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

/** Multi-spec batch worker — the reference's production path
  * (`Backend.java:100-156`): claim pending specs, run them all over ONE
  * shared scan, persist per-spec stats + run metadata, report progress.
  *
  * Claim protocol (S7): the reference claims work transactionally in
  * MariaDB (`Database.createRun` 3-step token, `Database.java:56-103`).
  * Here the same exactly-once guarantee rides on two filesystem
  * primitives that are atomic on POSIX and HDFS alike:
  *
  *  - CLAIM: `Files.createFile(_meta/claims/<spec>-<sha8>.claim)` —
  *    atomic create-if-absent; exactly one concurrent worker wins each
  *    spec. The claim name embeds the spec-content sha, so editing a
  *    spec re-opens it under a fresh claim.
  *  - DONE: `_meta/done/<spec>.tsv` (content sha + runId + A1/A5 stats),
  *    written via temp-file + ATOMIC_MOVE *after* the spec's triple
  *    partition is fully committed. Crash between claim and done leaves
  *    a stale claim; workers take over claims older than `staleClaimMs`
  *    by atomically renaming them aside (rename is the CAS — only one
  *    taker wins).
  *
  * A spec is COMPLETE iff its done marker records the sha256 of its
  * exact spec JSON AND the corpus fingerprint it was computed from, and
  * its triple partition is live in the snapshot table's current
  * manifest; re-runs skip completed specs without recomputation
  * (resume, north rule), while a new corpus version re-opens every
  * spec — resume never serves triples computed from different input. Output is an Iceberg-style
  * snapshot table (`sources.SnapshotTable`, `$outDir/triples`): each
  * worker pass is ONE atomic REPLACE-PARTITIONS commit swapping exactly
  * the specs it claimed, so a re-run of a crashed spec replaces only
  * that spec's partition, a crash before commit leaves only invisible
  * orphan files (vacuumable), every run is a time-travelable snapshot
  * version, and per-spec triple counts come free from the manifest's
  * parquet-footer row counts (no recount scan).
  *
  * One corpus pass per worker pass, like the reference's `DumpRunner`:
  * the A1 counters (entities, statements) are `observe` metrics on the
  * multiplexed scan, read from an `Observation` after the commit; the
  * per-file lineage manifest (`_meta/manifests/<runId>`) is built on the
  * driver from the committed snapshot's footer stats (row count and
  * `subj` min/max; `part` = the file's ordinal in its spec partition);
  * and the report is printed from the done markers already in hand.
  *
  * Progress (A2) comes from a SparkListener counting task rows on a
  * timer, like the reference's `ProgressReporter.java:24-66`; both are
  * removed when the pass ends, whether it succeeds or fails.
  *
  * Usage: runMain graft.Backend <specsDir> <corpusParquet|gen:N> <outDir> [cores]
  */
object Backend {

  case class StatsRow(runId: String, dumpId: String, entityCount: Long,
                      statementCount: Long, tripleCount: Long)
  case class RunReport(runId: String, produced: Seq[String], skipped: Seq[String],
                       stats: Seq[StatsRow])

  private def specSha(json: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(json.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  private def atomicWrite(target: Path, content: String): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = target.getParent.resolve(target.getFileName.toString + ".tmp-" +
      java.util.UUID.randomUUID.toString.take(8))
    Files.writeString(tmp, content)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Cheap deterministic identity of the corpus argument WITHOUT
    * scanning data: the argument itself for generated corpora; for a
    * path, the sha of the sorted (relative-name, size) file listing. A
    * new dump/table version changes the listing, so done markers keyed
    * on the old corpus stop matching and specs recompute — resume must
    * never serve spec results computed from a different corpus. (Dumps
    * and lakehouse tables are immutable-by-version, which is exactly
    * the property this keys on; an in-place same-size byte edit is out
    * of scope.) */
  private[graft] def corpusFingerprint(corpusArg: String): String = {
    val p = Paths.get(corpusArg)
    val desc =
      if (!Files.exists(p)) corpusArg
      else if (Files.isDirectory(p)) {
        val sb = new StringBuilder(corpusArg)
        val walk = Files.walk(p)
        try walk.sorted().forEach { f =>
          if (Files.isRegularFile(f))
            sb.append('\n').append(p.relativize(f)).append('\t').append(Files.size(f))
        } finally walk.close()
        sb.toString
      } else s"$corpusArg\t${Files.size(p)}"
    specSha(desc)
  }

  /** atomic create-if-absent claim; stale claims are taken over via an
    * atomic rename (exactly one taker can win the rename). */
  private def tryClaim(claimsDir: Path, name: String, sha: String, runId: String,
                       staleClaimMs: Long): Boolean = {
    Files.createDirectories(claimsDir)
    val claim = claimsDir.resolve(s"$name-${sha.take(8)}.claim")
    try {
      Files.createFile(claim)
      Files.writeString(claim, s"$runId\t${System.currentTimeMillis}\n")
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        val age = try System.currentTimeMillis - Files.getLastModifiedTime(claim).toMillis
                  catch { case _: Exception => 0L }
        if (age <= staleClaimMs) false
        else try { // stale: rename aside (the CAS), then re-claim
          Files.move(claim, claimsDir.resolve(s"$name-${sha.take(8)}.stale-$runId"),
            StandardCopyOption.ATOMIC_MOVE)
          tryClaim(claimsDir, name, sha, runId, staleClaimMs)
        } catch { case _: Exception => false }
    }
  }

  /** One worker pass: claim every pending spec it can, produce the
    * claimed specs in ONE multiplexed scan, commit done markers.
    * Safe to run concurrently from any number of workers over the same
    * specsDir/outDir — each spec is produced exactly once. */
  def run(spark: SparkSession, specsDir: String, corpusArg: String, outDir: String,
          staleClaimMs: Long = 30 * 60 * 1000L): RunReport = {
    import spark.implicits._

    // ---- S7 intake: directory-scan of spec JSONs ----
    val specFiles = new java.io.File(specsDir).listFiles()
      .filter(f => f.getName.endsWith(".json"))
      .sortBy(_.getName)
      .flatMap { f =>
        val json = new String(Files.readAllBytes(f.toPath), "UTF-8")
        try Some((f.getName.stripSuffix(".json"), json, SpecJson.parse(json)))
        catch { case e: Exception =>
          System.err.println(s"[backend] skipping unparseable spec ${f.getName}: ${e.getMessage}")
          None
        }
      }.toSeq
    require(specFiles.nonEmpty, s"no parseable specs in $specsDir")
    // completion identity = spec content AND corpus version: either
    // changing re-opens the spec (stale-resume guard)
    val corpusFp = corpusFingerprint(corpusArg)
    def identSha(json: String): String = specSha(json + "\n@corpus:" + corpusFp)
    val runId = "run-" + java.util.UUID.randomUUID.toString.take(8)
    val startedAt = java.time.Instant.now.toString
    val doneDir = Paths.get(s"$outDir/_meta/done")
    val claimsDir = Paths.get(s"$outDir/_meta/claims")

    val table = s"$outDir/triples"

    def doneRecord(name: String): Option[Array[String]] = {
      val p = doneDir.resolve(s"$name.tsv")
      if (Files.exists(p)) Some(Files.readString(p).trim.split("\t")) else None
    }
    // complete = done marker with matching sha AND the spec's partition
    // is live in the current snapshot (or the marker says it emitted 0
    // triples — an empty partition writes no files)
    def isComplete(name: String, sha: String): Boolean =
      doneRecord(name).exists { f =>
        f.headOption.contains(sha) && (
          f.lift(4).contains("0") || {
            val v = sources.SnapshotTable.currentVersion(table)
            v > 0 && sources.SnapshotTable.snapshotAt(table, v)
              .partitions.get(name).exists(_.nonEmpty)
          })
      }

    // ---- claim every pending spec this worker can win ----
    val (skipped, pending) = specFiles.partition { case (n, j, _) => isComplete(n, identSha(j)) }
    skipped.foreach { case (n, _, _) => println(s"[backend] resume: $n already complete, skipping") }
    val claimed = pending.filter { case (n, j, _) =>
      tryClaim(claimsDir, n, identSha(j), runId, staleClaimMs)
    }
    pending.diff(claimed).foreach { case (n, _, _) =>
      println(s"[backend] $n claimed by another worker, skipping")
    }

    // ---- A2: progress reporter (processing-time timer over listener
    // counts); both are torn down however the pass ends
    val rowsSeen = new AtomicLong()
    val progress = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) rowsSeen.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(progress)
    val timer = new java.util.Timer("graft-progress", true)
    try {
      timer.scheduleAtFixedRate(new java.util.TimerTask {
        def run(): Unit = System.err.println(s"[backend] progress: ~${rowsSeen.get} input records read")
      }, 10000, 10000)

      val corpus =
        if (corpusArg.startsWith("gen:")) EntityCorpus.generate(spark, corpusArg.drop(4).toLong).toDF()
        else if (corpusArg.endsWith(".gz") || corpusArg.endsWith(".bz2") || corpusArg.endsWith(".zst")
          || corpusArg.contains("dump")) EntityCorpus.readDump(spark, corpusArg)
        else spark.read.parquet(corpusArg)

      // ---- D3/S3: ONE multiplexed pass serves every claimed spec,
      // committed as ONE atomic REPLACE-PARTITIONS snapshot (only the
      // claimed specId partitions are swapped; completed ones keep their
      // files; concurrent workers serialize through the manifest CAS).
      // The A1 counters ride the same pass as observed metrics; the
      // observation name is run-unique because concurrent workers share
      // one session.
      val specs = claimed.map { case (name, _, spec) => name -> spec }.toSeq
      val counters = Observation(s"graft_backend_counters_$runId")
      val t0 = System.nanoTime()
      // Range-partition on (specId, subj) rather than hashing specId
      // alone: one-partition-per-spec would funnel a whole spec's output
      // through ONE task (a 100 TB spec = one writer), while ranging over
      // the subject splits each spec across many tasks AND gives every
      // output file a tight subject interval — which the manifest records
      // as per-file min/max stats, so subject-range reads skip files
      // (Iceberg file-skipping). Sorting within partitions keeps row
      // groups aligned with the range for parquet-level stats too.
      val outParts = math.max(specs.size,
        spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
      // the claimed specs' committed files: triple counts and lineage
      // come straight off their footer stats — no recount job
      val committed: Map[String, Seq[sources.SnapshotTable.FileEntry]] =
        if (specs.isEmpty) Map.empty
        else {
          val snap = sources.SnapshotTable.commit(
            Pipeline.triplesMultiplexed(corpus, specs, counters = Some(counters))
              .repartitionByRange(outParts, col("specId"), col("subj"))
              .sortWithinPartitions("specId", "subj"),
            table, "specId", replace = true, statsCols = Seq("subj"),
            // claimed specs that emit ZERO triples still swap out their old
            // partition (a re-opened spec must never keep serving triples
            // computed from the previous spec/corpus version)
            clearPartitions = specs.map(_._1))
          specs.map { case (n, _) => n -> snap.partitions.getOrElse(n, Nil) }.toMap
        }

      // ---- per-spec stats (A1/A5) for the claimed set, then commit the
      // done markers LAST (data is already durable; crash before a marker
      // only re-runs that spec, which the partition replace absorbs)
      val allCounters =
        if (specs.nonEmpty) Pipeline.observedCounters(counters, specs)
        else Map.empty[String, (Long, Long)]
      claimed.foreach { case (name, json, _) =>
        val (ents, stmts) = allCounters(name)
        atomicWrite(doneDir.resolve(s"$name.tsv"),
          s"${identSha(json)}\t$runId\t$ents\t$stmts\t${committed(name).map(_.rows).sum}\n")
      }
      val finishedAt = java.time.Instant.now.toString

      // per-file lineage manifest for this worker's claimed partitions,
      // straight from the commit's footer stats: `part` is the file's
      // ordinal within its spec partition (manifest order)
      if (specs.nonEmpty)
        specs.flatMap { case (n, _) =>
          committed(n).zipWithIndex.map { case (f, i) =>
            val subj = f.stats.get("subj")
            (n, i, f.rows, subj.map(_.min).orNull, subj.map(_.max).orNull)
          }
        }.toDF("specId", "part", "triples", "min_subj", "max_subj")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/_meta/manifests/$runId")

      // ---- metadata tables (the MariaDB analog), run-scoped so
      // concurrent workers never overwrite each other's parquet dirs;
      // the done markers are the authoritative cross-run state
      specFiles.map { case (n, j, _) => (n, j, startedAt) }.toSeq
        .toDF("dumpId", "specJson", "createdAt")
        .write.mode("overwrite").parquet(s"$outDir/_meta/db/$runId/dump")
      Seq((runId, startedAt, finishedAt, rowsSeen.get)).toDF(
        "runId", "startedAt", "finishedAt", "count")
        .write.mode("overwrite").parquet(s"$outDir/_meta/db/$runId/run")

      // ---- A5: run-level report over ALL done markers, including other
      // workers' output
      val stats = {
        val rows = scala.collection.mutable.ArrayBuffer.empty[StatsRow]
        if (Files.exists(doneDir))
          Files.newDirectoryStream(doneDir, "*.tsv").forEach { p =>
            val f = Files.readString(p).trim.split("\t")
            if (f.length >= 5)
              rows += StatsRow(f(1), p.getFileName.toString.stripSuffix(".tsv"),
                f(2).toLong, f(3).toLong, f(4).toLong)
          }
        rows.toSeq.sortBy(_.dumpId)
      }
      stats.toDF().write.mode("overwrite").parquet(s"$outDir/_meta/db/$runId/dump_stats")
      val secs = (System.nanoTime() - t0) / 1e9
      stats.foreach(r => println(
        s"[backend] ${r.dumpId} | ${r.entityCount} | ${r.statementCount} | ${r.tripleCount}"))
      println(f"[backend] run=$runId specs=${specs.size} wall=$secs%.1fs out=$outDir")
      RunReport(runId, specs.map(_._1), skipped.map(_._1).toSeq, stats)
    } finally {
      timer.cancel()
      spark.sparkContext.removeSparkListener(progress)
    }
  }

  def main(args: Array[String]): Unit = {
    val specsDir = if (args.length > 0) args(0) else "src/main/resources/specs"
    val corpusArg = if (args.length > 1) args(1) else "gen:20000"
    val outDir = if (args.length > 2) args(2) else "/tmp/graft-backend"
    val cores = if (args.length > 3) args(3) else sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-backend")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, specsDir, corpusArg, outDir)
    spark.stop()
  }
}
