package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Minimal Iceberg-style snapshot table over parquet — the engine-side
  * stand-in for the north rule's "partitioned Iceberg graph tables"
  * (sandbox has no Iceberg runtime; SCALE.md maps each piece onto the
  * real thing). Implements the four properties the pipeline actually
  * relies on, with the same commit protocol shape as the Iceberg spec's
  * optimistic metadata commit:
  *
  *  - **Snapshot isolation.** Data files are written first under a
  *    commit-unique directory; a snapshot exists only once its manifest
  *    `v<N>.json` is atomically published. Readers resolve the highest
  *    published version — a crashed writer's orphan data files are
  *    invisible (and reclaimed by `vacuum`).
  *  - **Atomic CAS commit.** Concurrent committers race on
  *    `Files.createFile(v<N>.claim)` (O_EXCL — exactly one winner per
  *    version, POSIX and HDFS alike; Iceberg's metadata-pointer swap).
  *    The loser rebases: recomputes its manifest against the new head
  *    and retries at N+1. Manifest content is staged to a temp file and
  *    atomically moved onto the claimed name, so a reader never
  *    observes a partial manifest.
  *  - **REPLACE PARTITION.** A commit either appends file groups or
  *    swaps out exactly the partitions it rewrote (the reference's
  *    resume unit: one spec = one partition, `Backend` done markers);
  *    untouched partitions keep their existing files — no rewrite
  *    amplification at 100 TB.
  *  - **Time travel + manifest pruning.** `readAt(version)` reconstructs
  *    any retained snapshot; `read(..., partitions = ...)` prunes at the
  *    MANIFEST level — unwanted partitions' files are never even listed,
  *    the Iceberg manifest-pruning analog (a directory listing of a
  *    10^12-file table is itself a scale bug).
  *
  * All metadata ops are driver-side and O(partitions + files-per-commit)
  * — the data path stays fully distributed.
  */
object SnapshotTable {

  /** Per-file, per-column min/max harvested from the parquet footer —
    * the Iceberg file-stats analog. `kind` is "long" (numeric compare)
    * or "string" (lexical compare). */
  case class ColStats(kind: String, min: String, max: String) {
    def mayContain(lo: String, hi: String): Boolean =
      if (kind == "long") !(max.toLong < lo.toLong || min.toLong > hi.toLong)
      else !(max < lo || min > hi)
  }
  case class FileEntry(path: String, rows: Long,
                       stats: Map[String, ColStats] = Map.empty)
  case class Snapshot(version: Int, parent: Int, operation: String, partitionCol: String,
                      partitions: Map[String, Seq[FileEntry]]) {
    def files: Seq[String] = partitions.values.flatten.map(_.path).toSeq
    def rowCount: Long = partitions.values.flatten.map(_.rows).sum
  }

  private val mapper = new ObjectMapper()

  private def metaDir(table: String): Path = Paths.get(table, "_snap")

  /** directory listing with the stream closed (Files.list leaks an fd
    * if the stream isn't consumed-and-closed) */
  private def ls(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private def render(s: Snapshot): String = {
    val root = mapper.createObjectNode()
    root.put("version", s.version); root.put("parent", s.parent)
    root.put("operation", s.operation); root.put("partitionCol", s.partitionCol)
    val parts = root.putObject("partitions")
    s.partitions.toSeq.sortBy(_._1).foreach { case (p, fs) =>
      val arr = parts.putArray(p)
      fs.foreach { f =>
        val o = arr.addObject(); o.put("path", f.path); o.put("rows", f.rows)
        if (f.stats.nonEmpty) {
          val st = o.putObject("stats")
          f.stats.toSeq.sortBy(_._1).foreach { case (c, cs) =>
            val e = st.putObject(c)
            e.put("kind", cs.kind); e.put("min", cs.min); e.put("max", cs.max)
          }
        }
      }
    }
    root.toString
  }

  private def parse(json: String): Snapshot = {
    val n = mapper.readTree(json)
    val parts = n.get("partitions").asInstanceOf[ObjectNode]
    val m = parts.properties().asScala.map { e =>
      e.getKey -> e.getValue.asInstanceOf[ArrayNode].asScala.map { f =>
        val stats = Option(f.get("stats")).map(_.asInstanceOf[ObjectNode].properties().asScala
          .map(s => s.getKey -> ColStats(s.getValue.get("kind").asText,
            s.getValue.get("min").asText, s.getValue.get("max").asText)).toMap)
          .getOrElse(Map.empty[String, ColStats])
        FileEntry(f.get("path").asText, f.get("rows").asLong, stats)
      }.toSeq
    }.toMap
    Snapshot(n.get("version").asInt, n.get("parent").asInt,
      n.get("operation").asText, n.get("partitionCol").asText, m)
  }

  /** Highest published snapshot version, or 0 if the table is empty. */
  def currentVersion(table: String): Int = {
    val dir = metaDir(table)
    if (!Files.isDirectory(dir)) 0
    else ls(dir).map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json").toInt }
      .foldLeft(0)(math.max)
  }

  def snapshotAt(table: String, version: Int): Snapshot = {
    require(version > 0, s"no snapshot v$version in $table")
    parse(Files.readString(metaDir(table).resolve(s"v$version.json")))
  }

  def history(table: String): Seq[Snapshot] =
    (1 to currentVersion(table)).map(snapshotAt(table, _))

  /** Hive partition-directory name sentinel for a null partition value. */
  val NullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Commit `df` (must contain `partitionCol`). `replace = true` swaps
    * the partitions present in `df`; `replace = false` appends. Returns
    * the committed snapshot. Safe under concurrent committers: CAS +
    * rebase-and-retry, each writer's data lands exactly once.
    *
    * `clearPartitions` (replace mode): partitions the caller CLAIMED but
    * that may have produced zero rows. `partitionBy` writes no directory
    * for an empty partition, so without this a re-run that legitimately
    * emits nothing would leave the partition's OLD files live — serving
    * stale data. Claimed-but-absent keys are committed as explicitly
    * empty partitions (the manifest records them with zero files).
    *
    * Crash recovery: a committer that dies between claiming `v<N>.claim`
    * and publishing `v<N>.json` must not wedge the table. A loser that
    * waits out `manifestWaitMs` without seeing the manifest checks the
    * claim's age; once it exceeds `staleClaimMs` the claim is atomically
    * renamed aside (rename is the CAS — exactly one stealer wins) and
    * the commit retries. Same zombie contract as Backend's worker
    * claims: `staleClaimMs` must exceed any plausible pause of a LIVE
    * committer between claim and publish (the claim is taken immediately
    * before the already-staged manifest is moved into place, so the gap
    * is milliseconds of driver-side I/O, not job time). */
  def commit(df: DataFrame, table: String, partitionCol: String,
             replace: Boolean = false, statsCols: Seq[String] = Nil,
             clearPartitions: Seq[String] = Nil,
             manifestWaitMs: Long = 30000L,
             staleClaimMs: Long = 10 * 60 * 1000L): Snapshot = {
    val commitId = java.util.UUID.randomUUID.toString.take(12)
    val dataRel = s"data-$commitId"
    val dataDir = Paths.get(table, dataRel)
    // 1. data files first — invisible until a manifest references them
    df.write.partitionBy(partitionCol).parquet(dataDir.toString)
    // per-partition file inventory of THIS commit only (footer row counts),
    // read with the session's Hadoop conf so `spark.hadoop.*` settings
    // (object-store credentials, ...) apply
    val hadoopConf = df.sparkSession.sessionState.newHadoopConf()
    // manifest keys carry the LOGICAL partition value: Spark path-escapes
    // special chars (space/':'/'%' → %XX) in the directory name, so the
    // key is unescaped here — read() then restores the exact original
    // value and caller-supplied `partitions=`/`clearPartitions` filters
    // match without the caller knowing the escaping rules. A null
    // partition value keeps its directory sentinel as the key (read()
    // restores it as SQL NULL).
    val written: Map[String, Seq[FileEntry]] =
      ls(dataDir)
        .filter(p => p.getFileName.toString.startsWith(s"$partitionCol="))
        .map { pd =>
          val raw = pd.getFileName.toString.stripPrefix(s"$partitionCol=")
          val part = if (raw == NullPartition) raw
            else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(raw)
          val files = ls(pd)
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .map { f =>
              val (rows, stats) = parquetFooter(f, statsCols, hadoopConf)
              FileEntry(s"$dataRel/${pd.getFileName}/${f.getFileName}", rows, stats)
            }
          part -> files
        }.toMap
    val newParts: Map[String, Seq[FileEntry]] =
      clearPartitions.filterNot(written.contains).map(_ -> Seq.empty[FileEntry]).toMap ++ written
    // 2. CAS commit with rebase-and-retry
    Files.createDirectories(metaDir(table))
    var committed: Snapshot = null
    while (committed == null) {
      val head = currentVersion(table)
      val base = if (head == 0) Map.empty[String, Seq[FileEntry]]
                 else snapshotAt(table, head).partitions
      val merged =
        if (replace) base ++ newParts
        else newParts.foldLeft(base) { case (acc, (p, fs)) =>
          acc.updated(p, acc.getOrElse(p, Nil) ++ fs)
        }
      val snap = Snapshot(head + 1, head,
        if (replace) "replace-partitions" else "append", partitionCol, merged)
      val claim = metaDir(table).resolve(s"v${snap.version}.claim")
      try {
        Files.createFile(claim) // O_EXCL: exactly one winner per version
        val tmp = metaDir(table).resolve(s"v${snap.version}.tmp")
        Files.writeString(tmp, render(snap))
        Files.move(tmp, metaDir(table).resolve(s"v${snap.version}.json"),
          StandardCopyOption.ATOMIC_MOVE)
        committed = snap
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          // lost the race: wait for the winner's manifest, rebase, retry
          val winner = metaDir(table).resolve(s"v${head + 1}.json")
          val deadline = System.nanoTime() + manifestWaitMs * 1000000L
          while (!Files.exists(winner) && System.nanoTime() < deadline) Thread.sleep(20)
          if (!Files.exists(winner)) {
            // no manifest after the wait: either the claimer is merely
            // slow (young claim — keep waiting via the outer loop) or it
            // died between claim and publish (old claim — steal it, or
            // the table is wedged forever). The rename is the CAS:
            // exactly one stealer wins; everyone else just retries.
            val age = try System.currentTimeMillis - Files.getLastModifiedTime(claim).toMillis
                      catch { case _: Exception => 0L } // claim gone: retry
            if (age > staleClaimMs) {
              try Files.move(claim,
                metaDir(table).resolve(s"v${head + 1}.claim.stale-$commitId"),
                StandardCopyOption.ATOMIC_MOVE)
              catch { case _: Exception => () } // another stealer won — fine
            }
          }
      }
    }
    committed
  }

  /** Footer read without a Spark job (tiny driver-side metadata read,
    * same as Iceberg's per-file stats): row count + min/max for the
    * requested columns (long + string columns supported; others, and
    * all-null row groups, simply record no stats — pruning keeps the
    * file, which is always safe). */
  private def parquetFooter(file: Path, statsCols: Seq[String],
                            conf: org.apache.hadoop.conf.Configuration): (Long, Map[String, ColStats]) = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val want = statsCols.toSet
      val acc = scala.collection.mutable.Map.empty[String, ColStats]
      val statsOk = scala.collection.mutable.Set.empty[String] ++ want
      r.getFooter.getBlocks.asScala.foreach { b =>
        b.getColumns.asScala.foreach { cc =>
          val name = cc.getPath.toDotString
          if (want.contains(name)) {
            val st = cc.getStatistics
            if (st == null || !st.hasNonNullValue) statsOk -= name
            else {
              val (kind, mn, mx) = (st.genericGetMin, st.genericGetMax) match {
                case (a: java.lang.Long, b: java.lang.Long) => ("long", a.toString, b.toString)
                case (a: java.lang.Integer, b: java.lang.Integer) => ("long", a.toString, b.toString)
                case (a: org.apache.parquet.io.api.Binary, b: org.apache.parquet.io.api.Binary) =>
                  ("string", a.toStringUsingUTF8, b.toStringUsingUTF8)
                case _ => (null, null, null)
              }
              if (kind == null) statsOk -= name
              else acc.get(name) match {
                case None => acc(name) = ColStats(kind, mn, mx)
                case Some(c) =>
                  val lt: (String, String) => Boolean =
                    if (kind == "long") (x, y) => x.toLong < y.toLong else (x, y) => x < y
                  acc(name) = ColStats(kind,
                    if (lt(mn, c.min)) mn else c.min, if (lt(c.max, mx)) mx else c.max)
              }
            }
          }
        }
      }
      (r.getRecordCount, acc.filter { case (k, _) => statsOk.contains(k) }.toMap)
    } finally r.close()
  }

  /** Read a snapshot (default: current). `partitions` prunes at the
    * manifest level — only the named partitions' files are listed.
    * `range = Some((col, lo, hi))` additionally skips files whose
    * manifest min/max for `col` cannot intersect [lo, hi] (Iceberg
    * file-skipping; files without stats for `col` are kept — pruning is
    * a pure optimization, never a filter, so callers still apply their
    * predicate). The partition column is restored as STRING (its
    * manifest key form); cast at the call site if the original type was
    * numeric. */
  def read(spark: SparkSession, table: String, version: Int = 0,
           partitions: Option[Seq[String]] = None,
           range: Option[(String, String, String)] = None): DataFrame = {
    val v = if (version > 0) version else currentVersion(table)
    require(v > 0, s"snapshot table $table is empty")
    val snap = snapshotAt(table, v)
    val chosen = partitions match {
      case Some(ps) => snap.partitions.view.filterKeys(ps.toSet).toMap
      case None     => snap.partitions
    }
    val keep: FileEntry => Boolean = range match {
      case Some((c, lo, hi)) => f => f.stats.get(c).forall(_.mayContain(lo, hi))
      case None              => _ => true
    }
    val reads = chosen.toSeq.sortBy(_._1).map { case (part, fs) => part -> fs.filter(keep) }
      .filter(_._2.nonEmpty)
    def paths(fs: Seq[FileEntry]): Seq[String] = fs.map(f => s"$table/${f.path}")
    // manifest keys are unescaped logical values (see commit); the Hive
    // sentinel round-trips a null partition value
    def tagged(df: DataFrame, part: String): DataFrame = df.withColumn(snap.partitionCol,
      if (part == NullPartition) lit(null).cast("string") else lit(part))
    reads match {
      case Seq() => spark.emptyDataFrame
      case (part0, fs0) +: rest =>
        // the schema is inferred once (one footer job), from the first
        // partition, and handed to every other partition's read
        val first = spark.read.parquet(paths(fs0): _*)
        rest.foldLeft(tagged(first, part0)) { case (acc, (part, fs)) =>
          acc.unionByName(tagged(spark.read.schema(first.schema).parquet(paths(fs): _*), part))
        }
    }
  }

  /** Keyed MERGE (Iceberg/Delta `MERGE INTO` analog, copy-on-write):
    * upsert `updates` into the table by `keyCols` — matched keys are
    * replaced, unmatched keys are inserted, and rows whose optional
    * `tombstoneCol` is true DELETE their key. Only the partitions the
    * updates touch are rewritten (read → anti-join old rows on key →
    * union updates → ONE atomic replace-partitions commit); untouched
    * partitions keep their files, and older versions stay readable
    * until vacuum (time travel across the merge).
    *
    * Scale shape: the distinct-partition collect is bounded by the
    * table's partition count (control plane); the rewrite reads and
    * shuffles ONLY affected partitions — the Iceberg COW cost model.
    * Invariant: keys must be partition-stable (an update may not move a
    * key to a different partition value — the standard partition-scoped
    * COW assumption; a cross-partition move needs the old partition in
    * the update set as a tombstone).
    *
    * Invariant: `updates` must be key-unique — a key appearing twice
    * (two updates, or an update AND a tombstone) is ambiguous, and
    * Iceberg/Delta `MERGE INTO` raise on multiple matches; so do we
    * (checked with one partial-aggregable count over the update set —
    * update sets are deltas, small next to the table rewrite). */
  def merge(spark: SparkSession, table: String, updates: DataFrame,
            partitionCol: String, keyCols: Seq[String],
            tombstoneCol: Option[String] = None,
            statsCols: Seq[String] = Nil): Snapshot = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val dup = updates.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_n")).filter(col("_n") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"merge: update set has duplicate rows for key ${dup.headOption.orNull} " +
        "(multiple updates, or an update and a tombstone, for one key) — " +
        "MERGE requires key-unique updates, matching Iceberg/Delta MERGE INTO")
    val affected = updates.select(col(partitionCol).cast("string")).distinct()
      .collect().map(r => if (r.isNullAt(0)) NullPartition else r.getString(0)).toSeq
    val ins = tombstoneCol.map(c => updates.filter(!col(c)).drop(c)).getOrElse(updates)
    val merged =
      if (currentVersion(table) == 0) ins // merge into an empty table = insert
      else {
        val current = read(spark, table, partitions = Some(affected))
        if (current.columns.isEmpty) ins // no affected partition existed yet
        else ins.unionByName(
          current.join(updates.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")
            .select(ins.columns.map(col).toSeq: _*))
      }
    // rewrite each affected partition as ONE task's output (the
    // compact() convention — "each key lands on exactly one task"):
    // without this the anti-join's shuffle width fans every rewritten
    // partition into shuffle-partition-count small files, which every
    // subsequent read (and the CDC diff) pays for (guide §6 small
    // files). Same caveat as compact(): a partition bigger than one
    // healthy file should be split upstream by the partition key.
    import org.apache.spark.sql.functions.{col => c}
    commit(merged.repartition(c(partitionCol)), table, partitionCol, replace = true,
      statsCols = statsCols, clearPartitions = affected)
  }

  /** Small-file compaction (Iceberg `rewrite_data_files` analog):
    * partitions whose file count exceeds `maxFiles` — the inevitable
    * debris of many small append commits — are rewritten into one file
    * per partition (`repartition(partitionCol)`: each key lands on
    * exactly one task) and published as ONE atomic replace-partitions
    * snapshot. Untouched partitions keep their files; readers pinned to
    * older versions still see the pre-compaction files until `vacuum`
    * reclaims them past the retention window; content is bag-identical
    * (test-asserted). Returns None when nothing needs compacting.
    * For partitions larger than one healthy file, split the key space
    * upstream (the Backend already range-partitions on (specId, subj)
    * precisely so partitions stay file-sized). */
  def compact(spark: SparkSession, table: String, maxFiles: Int = 8,
              statsCols: Seq[String] = Nil): Option[Snapshot] = {
    import org.apache.spark.sql.functions.col
    val head = currentVersion(table)
    if (head == 0) return None
    val snap = snapshotAt(table, head)
    val over = snap.partitions.filter(_._2.size > maxFiles).keys.toSeq.sorted
    if (over.isEmpty) return None
    val df = read(spark, table, partitions = Some(over))
      .repartition(col(snap.partitionCol))
    Some(commit(df, table, snap.partitionCol, replace = true, statsCols = statsCols,
      clearPartitions = over))
  }

  /** Partitions whose FILE LISTS differ between two snapshots — the
    * manifest-level pruning behind [[changes]]: commits here are
    * copy-on-write (append adds files, replace swaps a partition's
    * whole file list), so a partition with an identical file list in
    * both manifests provably holds identical rows and needs no scan.
    * Pure metadata (no Spark job). Includes partitions present in only
    * one snapshot. */
  def changedPartitions(table: String, fromVersion: Int, toVersion: Int): Seq[String] = {
    val a = snapshotAt(table, fromVersion).partitions
    val b = snapshotAt(table, toVersion).partitions
    (a.keySet ++ b.keySet).filter { p =>
      a.getOrElse(p, Nil).map(_.path).toSet != b.getOrElse(p, Nil).map(_.path).toSet
    }.toSeq.sorted
  }

  /** CDC read (Delta `table_changes` / Iceberg incremental-read analog):
    * the row-level diff between two snapshot versions, keyed by
    * `keyCols` — each changed key yields `insert`, `delete`, or an
    * `update_pre` + `update_post` pair (the pre/post-image convention
    * of Delta CDF); unchanged rows are dropped. Columns = the table's
    * columns + `change`.
    *
    * Scale shape: [[changedPartitions]] prunes both scans to partitions
    * whose manifests differ (metadata only — a merge touching 1 of 10k
    * partitions diffs 1 partition), then ONE full-outer equi-join on
    * the key struct + a struct inequality. No window, no collect. */
  def changes(spark: SparkSession, table: String, fromVersion: Int, toVersion: Int,
              keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, struct}
    val changed = changedPartitions(table, fromVersion, toVersion)
    // a snapshot with no surviving partition reads as an empty
    // zero-column frame — treat it as an absent side
    val a0 = read(spark, table, version = fromVersion, partitions = Some(changed))
    val b0 = read(spark, table, version = toVersion, partitions = Some(changed))
    val cols: Seq[String] =
      if (b0.columns.nonEmpty) b0.columns.toSeq else a0.columns.toSeq
    if (cols.isEmpty) return spark.emptyDataFrame // no changed partitions
    require(a0.columns.isEmpty || b0.columns.isEmpty || a0.columns.toSeq == cols,
      s"CDC schema drift between v$fromVersion and v$toVersion of $table")
    def pack(df: DataFrame): DataFrame =
      df.select(struct(cols.map(col): _*).as("r"),
        struct(keyCols.map(col): _*).as("k"))
    val a = if (a0.columns.isEmpty) None else Some(pack(a0))
    val b = if (b0.columns.isEmpty) None else Some(pack(b0))
    def tagged(df: DataFrame, tag: String): DataFrame =
      df.select(col("r.*")).withColumn("change", lit(tag))
    (a, b) match {
      case (None, None)     => spark.emptyDataFrame
      case (None, Some(bb)) => tagged(bb, "insert")
      case (Some(aa), None) => tagged(aa, "delete")
      case (Some(aa), Some(bb)) =>
        val j = aa.as("a").join(bb.as("b"), col("a.k") === col("b.k"), "full_outer")
          .localCheckpoint()
        val ins = j.filter(col("a.k").isNull)
          .select(col("b.r.*")).withColumn("change", lit("insert"))
        val del = j.filter(col("b.k").isNull)
          .select(col("a.r.*")).withColumn("change", lit("delete"))
        val upd = j.filter(col("a.k").isNotNull && col("b.k").isNotNull &&
          col("a.r") =!= col("b.r"))
        ins.unionByName(del)
          .unionByName(upd.select(col("a.r.*")).withColumn("change", lit("update_pre")))
          .unionByName(upd.select(col("b.r.*")).withColumn("change", lit("update_post")))
    }
  }

  /** Drop snapshots older than `retain` versions behind head and delete
    * data files referenced by NO retained snapshot — reclaims both
    * expired history and crashed writers' orphan commits.
    *
    * `orphanMinAgeMs` guards the race with an IN-FLIGHT commit: a
    * committer writes its data dir before publishing the manifest, so a
    * young unreferenced dir may be a commit about to happen, not a
    * crashed one — only dirs untouched for this long are treated as
    * orphans (Iceberg's `older_than` on remove_orphan_files; expired
    * files inside still-referenced dirs carry no such race, since a
    * commit only ever references its own new dir). */
  def vacuum(table: String, retain: Int = 1,
             orphanMinAgeMs: Long = 60 * 60 * 1000L): Seq[String] = {
    val head = currentVersion(table)
    if (head == 0) return Nil
    val keepFrom = math.max(1, head - retain + 1)
    val live: Set[String] =
      (keepFrom to head).flatMap(v => snapshotAt(table, v).files).toSet
    // expire old manifests (+ any stale-renamed claims of PUBLISHED
    // versions — garbage the moment the version's manifest exists)
    (1 until keepFrom).foreach { v =>
      Files.deleteIfExists(metaDir(table).resolve(s"v$v.json"))
      Files.deleteIfExists(metaDir(table).resolve(s"v$v.claim"))
    }
    ls(metaDir(table)).foreach { p =>
      val n = p.getFileName.toString
      val i = n.indexOf(".claim.stale-")
      if (i > 1 && n.startsWith("v") &&
          n.substring(1, i).forall(_.isDigit) && n.substring(1, i).toInt <= head)
        Files.deleteIfExists(p)
    }
    // delete unreferenced data: whole commit dirs with no live file
    // (orphans from crashed writers + fully-expired commits), and
    // individual expired parquet files inside still-live commit dirs
    val root = Paths.get(table)
    val liveDirs: Set[String] = live.map(_.takeWhile(_ != '/'))
    val deleted = Seq.newBuilder[String]
    def ageMs(p: Path): Long =
      try System.currentTimeMillis - Files.getLastModifiedTime(p).toMillis
      catch { case _: Exception => 0L }
    ls(root).filter(_.getFileName.toString.startsWith("data-")).foreach { cd =>
      val walked = { val w = Files.walk(cd); try w.iterator().asScala.toSeq finally w.close() }
      if (!liveDirs.contains(cd.getFileName.toString)) {
        // possibly an in-flight commit's dir: only reclaim once every
        // file in it has been quiet for orphanMinAgeMs
        if (walked.forall(ageMs(_) >= orphanMinAgeMs))
        walked.sortBy(-_.getNameCount).foreach { p => // leaves first
          if (Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
            deleted += root.relativize(p).toString
          Files.deleteIfExists(p)
        }
      } else walked.foreach { p =>
        val rel = root.relativize(p).toString
        if (Files.isRegularFile(p) && rel.endsWith(".parquet") && !live.contains(rel)) {
          Files.delete(p); deleted += rel
        }
      }
    }
    deleted.result()
  }
}
