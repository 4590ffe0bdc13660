package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.spec.{DumpSpec, SpecJson}
import graft.obs.RunRecord
import graft.sources.{DriverParquet, EntityCorpus}
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

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
  * multiplexed scan ([[Pipeline.triplesCounted]]), read after the
  * commit from the map stage of the one dedup shuffle that the commit's
  * jobs share; the
  * per-file lineage manifest (`_meta/manifests/<runId>`) is built on the
  * driver from the committed snapshot's footer stats (row count and
  * `subj` min/max; `part` = the file's ordinal in its spec partition);
  * and the report is printed from the done markers already in hand. The
  * manifest and the run metadata tables are a few rows each, written on
  * the driver ([[sources.DriverParquet]]) without a Spark job.
  *
  * The pass runs as the steps `open` and `commit` of an
  * [[obs.RunRecord]], which counts only this run's jobs (concurrent
  * workers on one session keep separate counts) and is printed as one
  * `[graft.obs] {json}` line. Progress (A2) is its live input-row count
  * on a timer, like the reference's `ProgressReporter.java:24-66`;
  * `run.count` is the `commit` step's input rows, and the done markers'
  * A1 counters are that step's counters. The timer and the record's
  * listener are removed however the pass ends.
  *
  * Usage: runMain graft.Backend <specsDir> <corpus> <outDir> [cores]
  *
  * `corpus` is read by [[sources.EntityCorpus.open]]: `gen:<n>` (the
  * synthetic corpus), `dump:<path>` or a path ending in `.gz`, `.bz2`,
  * `.zst` or `.zstd` (a line-JSON dump on any Hadoop filesystem, its
  * dialect sniffed from the first document), and any other path is a
  * parquet corpus table.
  */
object Backend {

  case class StatsRow(runId: String, dumpId: String, entityCount: Long,
                      statementCount: Long, tripleCount: Long)
  case class RunReport(runId: String, produced: Seq[String], skipped: Seq[String],
                       stats: Seq[StatsRow], record: RunRecord.Record)

  /** Schemas of the run's metadata tables under `_meta`. */
  private val ManifestSchema =
    StructType.fromDDL("specId string, part int, triples bigint, min_subj string, max_subj string")
  private val DumpSchema = StructType.fromDDL("dumpId string, specJson string, createdAt string")
  private val RunSchema =
    StructType.fromDDL("runId string, startedAt string, finishedAt string, count bigint")
  private val DumpStatsSchema = StructType.fromDDL(
    "runId string, dumpId string, entityCount bigint, statementCount bigint, tripleCount bigint")

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
    * path (a dump's without its `dump:` prefix), the sha of the sorted
    * (relative-name, size) file listing. A
    * new dump/table version changes the listing, so done markers keyed
    * on the old corpus stop matching and specs recompute — resume must
    * never serve spec results computed from a different corpus. (Dumps
    * and lakehouse tables are immutable-by-version, which is exactly
    * the property this keys on; an in-place same-size byte edit is out
    * of scope.) */
  private[graft] def corpusFingerprint(corpusArg: String): String = {
    val path = EntityCorpus.dumpPath(corpusArg).getOrElse(corpusArg)
    val p = Paths.get(path)
    val desc =
      if (!Files.exists(p)) path
      else if (Files.isDirectory(p)) {
        val sb = new StringBuilder(path)
        val walk = Files.walk(p)
        try walk.sorted().forEach { f =>
          if (Files.isRegularFile(f))
            sb.append('\n').append(p.relativize(f)).append('\t').append(Files.size(f))
        } finally walk.close()
        sb.toString
      } else s"$path\t${Files.size(p)}"
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

    // ---- A2: progress reporter, a timer over the run record's live
    // input-row count; the record's listener and the timer are torn down
    // however the pass ends
    val timer = new java.util.Timer("graft-progress", true)
    val (committed, record) = try RunRecord.collect(spark, runId) { rec =>
      timer.scheduleAtFixedRate(new java.util.TimerTask {
        def run(): Unit = System.err.println(s"[backend] progress: ~${rec.inputRows} input records read")
      }, 10000, 10000)
      val (corpus, format) = rec.step("open")(EntityCorpus.open(spark, corpusArg))

      // ---- D3/S3: ONE multiplexed pass serves every claimed spec,
      // committed as ONE atomic REPLACE-PARTITIONS snapshot (only the
      // claimed specId partitions are swapped; completed ones keep their
      // files; concurrent workers serialize through the manifest CAS).
      // The A1 counters ride the same pass as observed metrics.
      val specs = claimed.map { case (name, _, spec) => name -> spec }.toSeq
      // Range-partition on (specId, subj) rather than hashing specId
      // alone: one-partition-per-spec would funnel a whole spec's output
      // through ONE task (a 100 TB spec = one writer), while ranging over
      // the subject splits each spec across many tasks AND gives every
      // output file a tight subject interval — which the manifest records
      // as per-file min/max stats, so subject-range reads skip files
      // (Iceberg file-skipping). Sorting within partitions keeps row
      // groups aligned with the range for parquet-level stats too. No
      // fixed partition count: AQE sizes the write tasks from the
      // measured shuffle bytes.
      // the claimed specs' committed files: triple counts and lineage
      // come straight off their footer stats — no recount job
      if (specs.isEmpty) Map.empty[String, Seq[sources.SnapshotTable.FileEntry]]
      else {
        val pass = Pipeline.triplesCounted(corpus, specs, format)
        val snap = rec.step("commit")(sources.SnapshotTable.commit(
          pass.triples
            .repartitionByRange(col("specId"), col("subj"))
            .sortWithinPartitions("specId", "subj"),
          table, "specId", replace = true, statsCols = Seq("subj"),
          // claimed specs that emit ZERO triples still swap out their old
          // partition (a re-opened spec must never keep serving triples
          // computed from the previous spec/corpus version)
          clearPartitions = specs.map(_._1)))
        val observed = pass.counters
        rec.addCounters("commit", specs.flatMap { case (n, _) =>
          Seq(s"$n.entities" -> observed(n)._1, s"$n.statements" -> observed(n)._2)
        })
        specs.map { case (n, _) => n -> snap.partitions.getOrElse(n, Nil) }.toMap
      }
    } finally timer.cancel()
    val finishedAt = java.time.Instant.now.toString

    // ---- per-spec stats (A1/A5) for the claimed set, then commit the
    // done markers LAST (data is already durable; crash before a marker
    // only re-runs that spec, which the partition replace absorbs)
    claimed.foreach { case (name, json, _) =>
      val observed = record.step("commit").counters
      atomicWrite(doneDir.resolve(s"$name.tsv"),
        s"${identSha(json)}\t$runId\t${observed(s"$name.entities")}\t${observed(s"$name.statements")}" +
          s"\t${committed(name).map(_.rows).sum}\n")
    }

    // per-file lineage manifest for this worker's claimed partitions,
    // straight from the commit's footer stats: `part` is the file's
    // ordinal within its spec partition (manifest order)
    if (committed.nonEmpty)
      DriverParquet.write(spark, s"$outDir/_meta/manifests/$runId", ManifestSchema,
        claimed.flatMap { case (n, _, _) =>
          committed(n).zipWithIndex.map { case (f, i) =>
            val subj = f.stats.get("subj")
            (n, i, f.rows, subj.map(_.min).orNull, subj.map(_.max).orNull)
          }
        })

    // ---- metadata tables (the MariaDB analog), run-scoped so
    // concurrent workers never overwrite each other's parquet dirs;
    // the done markers are the authoritative cross-run state. A few
    // rows each, written on the driver (no Spark job). `count` is the
    // input rows of this run's own corpus pass.
    DriverParquet.write(spark, s"$outDir/_meta/db/$runId/dump", DumpSchema,
      specFiles.map { case (n, j, _) => (n, j, startedAt) })
    val inputRows = record.steps.find(_.name == "commit").fold(0L)(_.metrics.inputRows)
    DriverParquet.write(spark, s"$outDir/_meta/db/$runId/run", RunSchema,
      Seq((runId, startedAt, finishedAt, inputRows)))

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
    DriverParquet.write(spark, s"$outDir/_meta/db/$runId/dump_stats", DumpStatsSchema, stats)
    stats.foreach(r => println(
      s"[backend] ${r.dumpId} | ${r.entityCount} | ${r.statementCount} | ${r.tripleCount}"))
    println(f"[backend] run=$runId specs=${claimed.size} wall=${record.wallS}%.1fs out=$outDir")
    println(record.line)
    RunReport(runId, claimed.map(_._1).toSeq, skipped.map(_._1).toSeq, stats, record)
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
