package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable
import java.nio.file.{Files, Paths}

/** Iceberg-style snapshot table: atomic commit, snapshot isolation,
  * REPLACE PARTITION, time travel, manifest pruning, concurrent-commit
  * CAS, vacuum of orphans + expired history. */
class SnapshotTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def freshTable(): String =
    Files.createTempDirectory("graft-snaptable").toString

  def docs(rows: (Long, String, Long)*) =
    rows.toSeq.toDF("doc_id", "lang", "n_chars")

  test("append commits accumulate; current read sees the union") {
    val t = freshTable()
    SnapshotTable.commit(docs((1, "en", 10), (2, "de", 20)), t, "lang")
    SnapshotTable.commit(docs((3, "en", 30)), t, "lang")
    val cur = SnapshotTable.read(spark, t)
      .select($"doc_id", $"lang", $"n_chars").as[(Long, String, Long)].collect().toSet
    assert(cur == Set((1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L)))
    assert(SnapshotTable.currentVersion(t) == 2)
  }

  test("replace-partitions swaps only the rewritten partitions; time travel sees v1") {
    val t = freshTable()
    SnapshotTable.commit(docs((1, "en", 10), (2, "de", 20), (3, "en", 30)), t, "lang")
    SnapshotTable.commit(docs((9, "en", 99)), t, "lang", replace = true)
    val v2 = SnapshotTable.read(spark, t).select($"doc_id").as[Long].collect().toSet
    assert(v2 == Set(9L, 2L), "en replaced, de untouched")
    val v1 = SnapshotTable.read(spark, t, version = 1)
      .select($"doc_id").as[Long].collect().toSet
    assert(v1 == Set(1L, 2L, 3L), "time travel reconstructs the pre-replace state")
    assert(SnapshotTable.snapshotAt(t, 2).operation == "replace-partitions")
  }

  test("manifest pruning lists only requested partitions' files") {
    val t = freshTable()
    SnapshotTable.commit(docs((1, "en", 10), (2, "de", 20), (3, "zh", 30)), t, "lang")
    val de = SnapshotTable.read(spark, t, partitions = Some(Seq("de")))
    assert(de.select($"doc_id").as[Long].collect().toSeq == Seq(2L))
    // pruning happened at the FILE-LIST level, not as a post-scan filter
    // (inputFiles, not the plan string — Spark truncates long paths in
    // the rendered plan, which made a substring assert length-flaky)
    val files = de.inputFiles
    assert(files.nonEmpty && files.forall(_.contains("lang=de")), files.mkString(", "))
  }

  test("uncommitted data (crashed writer) is invisible and vacuumed") {
    val t = freshTable()
    SnapshotTable.commit(docs((1, "en", 10)), t, "lang")
    // simulate a writer that died after data, before manifest
    docs((666, "en", 1)).write.partitionBy("lang").parquet(s"$t/data-deadbeef")
    assert(SnapshotTable.read(spark, t).select($"doc_id").as[Long].collect().toSeq == Seq(1L))
    // default age guard spares a FRESH unreferenced dir — it may be an
    // in-flight commit that just hasn't published its manifest yet
    val sparing = SnapshotTable.vacuum(t)
    assert(!sparing.exists(_.startsWith("data-deadbeef/")) &&
      Files.exists(Paths.get(t, "data-deadbeef")), "young dir must survive the default vacuum")
    // with the guard off (test stands in for an hour passing) it's an orphan
    val removed = SnapshotTable.vacuum(t, orphanMinAgeMs = 0L)
    assert(removed.exists(_.startsWith("data-deadbeef/")), s"orphan not vacuumed: $removed")
    assert(!Files.exists(Paths.get(t, "data-deadbeef")))
    // the live snapshot still reads
    assert(SnapshotTable.read(spark, t).count() == 1)
  }

  test("vacuum expires old snapshots but keeps every retained version readable") {
    val t = freshTable()
    SnapshotTable.commit(docs((1, "en", 10), (2, "de", 20)), t, "lang")
    SnapshotTable.commit(docs((9, "en", 99)), t, "lang", replace = true)
    SnapshotTable.commit(docs((5, "fr", 50)), t, "lang")
    SnapshotTable.vacuum(t, retain = 2)
    // v1's en files are referenced by no retained snapshot → gone
    intercept[Exception](SnapshotTable.read(spark, t, version = 1).collect())
    assert(SnapshotTable.read(spark, t, version = 2).count() == 2)
    assert(SnapshotTable.read(spark, t, version = 3).count() == 3)
  }

  test("concurrent committers: CAS gives distinct versions, no lost update") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = freshTable()
    val futures = (0 until 4).map { i =>
      Future(SnapshotTable.commit(docs((100L + i, "en", i.toLong)), t, "lang"))
    }
    val snaps = Await.result(Future.sequence(futures), 120.seconds)
    assert(snaps.map(_.version).toSet == Set(1, 2, 3, 4), "each commit won a distinct version")
    val all = SnapshotTable.read(spark, t).select($"doc_id").as[Long].collect().toSet
    assert(all == Set(100L, 101L, 102L, 103L), "no commit lost under the race")
  }

  test("per-file column stats: subject-range reads skip files (Iceberg file-skipping)") {
    import spark.implicits._
    val t = freshTable()
    // 4 files with disjoint doc_id intervals via range partitioning
    val df = (0L until 400L).map(i => (i, "en", i % 7)).toDF("doc_id", "lang", "n_chars")
      .repartitionByRange(4, $"doc_id").sortWithinPartitions("doc_id")
    val snap = SnapshotTable.commit(df, t, "lang", statsCols = Seq("doc_id"))
    val files = snap.partitions("en")
    assert(files.size == 4 && files.forall(_.stats.get("doc_id").exists(_.kind == "long")),
      s"expected 4 files with long doc_id stats: $files")
    // numeric compare matters: lexically "150" < "99" would mis-prune
    val pruned = SnapshotTable.read(spark, t, range = Some(("doc_id", "150", "160")))
    assert(pruned.inputFiles.length < 4, "manifest stats must skip non-overlapping files")
    assert(pruned.filter($"doc_id".between(150, 160)).count() == 11)
    // pruning is an optimization, not a filter: a no-stats column keeps all files
    assert(SnapshotTable.read(spark, t, range = Some(("lang", "a", "z")))
      .inputFiles.length == 4)
  }

  test("triple-table shape: per-partition row counts in the manifest match the data") {
    val t = freshTable()
    val triples = Seq(("s1", "p", "o1", 0L), ("s2", "p", "o2", 1L), ("s3", "p", "o3", 0L))
      .toDF("subj", "pred", "obj", "bucket")
    val snap = SnapshotTable.commit(triples, t, "bucket")
    assert(snap.rowCount == 3)
    val perPart = snap.partitions.view.mapValues(_.map(_.rows).sum).toMap
    assert(perPart == Map("0" -> 2L, "1" -> 1L))
    val back = SnapshotTable.read(spark, t)
      .select($"subj", $"bucket".cast("long")).as[(String, Long)].collect().toSet
    assert(back == Set(("s1", 0L), ("s2", 1L), ("s3", 0L)))
  }

  test("compact: many small appends -> one file per partition, bag-identical, time-travel intact") {
    val t = freshTable()
    // 12 append commits leave >= 12 files in the 'en' partition
    (1 to 12).foreach(i => SnapshotTable.commit(docs((i.toLong, "en", i * 10L)), t, "lang"))
    SnapshotTable.commit(docs((100, "de", 5)), t, "lang")
    val before = SnapshotTable.read(spark, t)
      .select($"doc_id", $"lang", $"n_chars").as[(Long, String, Long)].collect().toSet
    val vBefore = SnapshotTable.currentVersion(t)
    assert(SnapshotTable.snapshotAt(t, vBefore).partitions("en").size >= 12)

    val snap = SnapshotTable.compact(spark, t, maxFiles = 8)
    assert(snap.isDefined && snap.get.operation == "replace-partitions")
    val after = SnapshotTable.snapshotAt(t, SnapshotTable.currentVersion(t))
    assert(after.partitions("en").size == 1, after.partitions("en").toString)
    assert(after.partitions("de").size == 1, "untouched partition keeps its files")
    val got = SnapshotTable.read(spark, t)
      .select($"doc_id", $"lang", $"n_chars").as[(Long, String, Long)].collect().toSet
    assert(got == before, "compaction must not change content")
    // pre-compaction version still reconstructs (vacuum not run)
    val old = SnapshotTable.read(spark, t, version = vBefore)
      .select($"doc_id").as[Long].collect().toSet
    assert(old == before.map(_._1))
    // idempotent: nothing left to compact
    assert(SnapshotTable.compact(spark, t, maxFiles = 8).isEmpty)
  }

  test("abandoned claim (committer died before publishing) is stolen; table never wedges") {
    val t = freshTable()
    SnapshotTable.commit(docs((1, "en", 10)), t, "lang")
    // simulate a committer that died between createFile(v2.claim) and
    // publishing v2.json — before the fix this permanently wedged the
    // table (every later commit lost the CAS and require-failed)
    Files.createFile(Paths.get(t, "_snap", "v2.claim"))
    val snap = SnapshotTable.commit(docs((2, "de", 20)), t, "lang",
      manifestWaitMs = 150, staleClaimMs = 100)
    assert(snap.version == 2, "commit must advance past the dead claim")
    val cur = SnapshotTable.read(spark, t).select($"doc_id").as[Long].collect().toSet
    assert(cur == Set(1L, 2L))
    // the abandoned claim was renamed aside; vacuum reclaims the rename
    // once v2 is published
    def snapFiles(): Seq[String] =
      new java.io.File(s"$t/_snap").list().toSeq
    assert(snapFiles().exists(_.contains(".claim.stale-")),
      "the dead claim should have been renamed aside, not deleted blind")
    SnapshotTable.vacuum(t, retain = 10)
    assert(!snapFiles().exists(_.contains(".claim.stale-")),
      s"vacuum must reclaim stale renames: ${snapFiles()}")
    // a YOUNG claim (live committer) is respected: the commit keeps
    // waiting rather than stealing — verified by publishing the manifest
    // from 'another committer' mid-wait
    Files.createFile(Paths.get(t, "_snap", "v3.claim"))
    val publisher = new Thread(() => {
      Thread.sleep(300)
      Files.writeString(Paths.get(t, "_snap", "v3.json"),
        Files.readString(Paths.get(t, "_snap", "v2.json"))
          .replace("\"version\":2", "\"version\":3").replace("\"parent\":1", "\"parent\":2"))
    })
    publisher.start()
    val snap2 = SnapshotTable.commit(docs((3, "zh", 30)), t, "lang",
      manifestWaitMs = 150, staleClaimMs = 60000)
    publisher.join()
    assert(snap2.version == 4, "young claim respected: rebase onto the published v3")
  }

  test("partition values with path-special chars and null round-trip exactly") {
    val t = freshTable()
    val weird = "a b:c%d"
    val df = Seq((1L, weird, 10L), (2L, null.asInstanceOf[String], 20L), (3L, "plain", 30L))
      .toDF("doc_id", "lang", "n_chars")
    SnapshotTable.commit(df, t, "lang")
    val back = SnapshotTable.read(spark, t)
      .select($"doc_id", $"lang").as[(Long, Option[String])].collect().toSet
    assert(back == Set((1L, Some(weird)), (2L, None), (3L, Some("plain"))),
      s"escaped partition values must round-trip: $back")
    // manifest-level pruning works on the LOGICAL (unescaped) value
    val pruned = SnapshotTable.read(spark, t, partitions = Some(Seq(weird)))
      .select($"doc_id").as[Long].collect().toSeq
    assert(pruned == Seq(1L))
    // and replace-partitions keyed on the logical value swaps the right one
    SnapshotTable.commit(Seq((9L, weird, 90L)).toDF("doc_id", "lang", "n_chars"),
      t, "lang", replace = true)
    val after = SnapshotTable.read(spark, t)
      .select($"doc_id").as[Long].collect().toSet
    assert(after == Set(9L, 2L, 3L), s"replace must key on the unescaped value: $after")
  }

  test("replace with clearPartitions swaps out partitions that produced zero rows") {
    val t = freshTable()
    SnapshotTable.commit(docs((1, "en", 10), (2, "de", 20)), t, "lang")
    // re-run of both partitions where 'en' legitimately emits nothing:
    // without clearPartitions the old 'en' files would stay live (stale)
    SnapshotTable.commit(docs((9, "de", 90)), t, "lang",
      replace = true, clearPartitions = Seq("en", "de"))
    val cur = SnapshotTable.read(spark, t)
      .select($"doc_id", $"lang").as[(Long, String)].collect().toSet
    assert(cur == Set((9L, "de")), s"stale 'en' rows must be gone: $cur")
    assert(SnapshotTable.snapshotAt(t, 2).partitions("en").isEmpty,
      "the manifest records the claimed-but-empty partition explicitly")
    // time travel still reconstructs v1
    val v1 = SnapshotTable.read(spark, t, version = 1)
      .select($"doc_id").as[Long].collect().toSet
    assert(v1 == Set(1L, 2L))
    // an entirely empty commit (all claimed partitions empty) also works
    SnapshotTable.commit(docs().limit(0), t, "lang",
      replace = true, clearPartitions = Seq("de"))
    assert(SnapshotTable.read(spark, t).count() == 0)
  }

  test("merge: upsert + insert + tombstone delete; untouched partition keeps its files") {
    val t = freshTable()
    SnapshotTable.commit(
      docs((1, "en", 10), (2, "en", 20), (3, "de", 30), (4, "fr", 40)), t, "lang")
    val deFiles = SnapshotTable.snapshotAt(t, 1).partitions("de").map(_.path)
    // update 1, insert 9, delete 2 — en only; de/fr untouched
    val updates = Seq(
      (1L, "en", 11L, false), (9L, "en", 90L, false), (2L, "en", 20L, true))
      .toDF("doc_id", "lang", "n_chars", "del")
    SnapshotTable.merge(spark, t, updates, "lang", Seq("doc_id"),
      tombstoneCol = Some("del"))
    val cur = SnapshotTable.read(spark, t)
      .select($"doc_id", $"lang", $"n_chars").as[(Long, String, Long)].collect().toSet
    assert(cur == Set((1L, "en", 11L), (9L, "en", 90L), (3L, "de", 30L), (4L, "fr", 40L)))
    // COW: the de partition's data files are byte-identical entries —
    // the merge rewrote only the affected (en) partition
    val snap2 = SnapshotTable.snapshotAt(t, 2)
    assert(snap2.operation == "replace-partitions")
    assert(snap2.partitions("de").map(_.path) == deFiles, "de was rewritten needlessly")
    // time travel: the pre-merge state is intact
    val v1 = SnapshotTable.read(spark, t, version = 1)
      .select($"doc_id").as[Long].collect().toSet
    assert(v1 == Set(1L, 2L, 3L, 4L))
    // merging into a brand-new partition inserts it
    SnapshotTable.merge(spark, t,
      Seq((50L, "pt", 5L, false)).toDF("doc_id", "lang", "n_chars", "del"),
      "lang", Seq("doc_id"), tombstoneCol = Some("del"))
    assert(SnapshotTable.read(spark, t).where($"lang" === "pt").count() == 1)
  }

  test("changes: CDC pre/post images; scans pruned to manifest-changed partitions") {
    val t = freshTable()
    SnapshotTable.commit(
      docs((1, "en", 10), (2, "en", 20), (3, "de", 30), (4, "fr", 40)), t, "lang")
    val updates = Seq(
      (1L, "en", 11L, false), (9L, "en", 90L, false), (2L, "en", 20L, true))
      .toDF("doc_id", "lang", "n_chars", "del")
    SnapshotTable.merge(spark, t, updates, "lang", Seq("doc_id"),
      tombstoneCol = Some("del"))
    // metadata-level pruning: only en's file list changed
    assert(SnapshotTable.changedPartitions(t, 1, 2) == Seq("en"))
    val cdc = SnapshotTable.changes(spark, t, 1, 2, Seq("doc_id"))
    val got = cdc.select($"doc_id", $"lang", $"n_chars", $"change")
      .as[(Long, String, Long, String)].collect().toSet
    assert(got == Set(
      (1L, "en", 10L, "update_pre"), (1L, "en", 11L, "update_post"),
      (9L, "en", 90L, "insert"), (2L, "en", 20L, "delete")))
    // the scan reads only the changed partition's files on both sides
    // (changes() materializes the join, so assert on the pruned reads
    // it is built from — same partitions argument)
    Seq(1, 2).foreach { v =>
      val files = SnapshotTable.read(spark, t, version = v,
        partitions = Some(SnapshotTable.changedPartitions(t, 1, 2))).inputFiles
      assert(files.nonEmpty && files.forall(_.contains("lang=en")), files.mkString(", "))
    }
    // no-op diff (same version twice) is empty
    assert(SnapshotTable.changes(spark, t, 2, 2, Seq("doc_id")).count() == 0)
  }

  test("merge: duplicate keys in the update set are rejected (Iceberg/Delta MERGE semantics)") {
    val t = freshTable()
    SnapshotTable.commit(docs((1, "en", 10), (2, "en", 20)), t, "lang")
    val before = SnapshotTable.currentVersion(t)
    // two updates for one key
    val dupUpd = Seq((1L, "en", 11L, false), (1L, "en", 12L, false))
      .toDF("doc_id", "lang", "n_chars", "del")
    val e1 = intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, t, dupUpd, "lang", Seq("doc_id"), tombstoneCol = Some("del"))
    }
    assert(e1.getMessage.contains("key-unique"))
    // an update AND a tombstone for one key is equally ambiguous
    val updAndDel = Seq((2L, "en", 21L, false), (2L, "en", 20L, true))
      .toDF("doc_id", "lang", "n_chars", "del")
    intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, t, updAndDel, "lang", Seq("doc_id"), tombstoneCol = Some("del"))
    }
    // the failed merges committed nothing
    assert(SnapshotTable.currentVersion(t) == before)
    val cur = SnapshotTable.read(spark, t)
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect().toSet
    assert(cur == Set((1L, 10L), (2L, 20L)))
  }

  test("read infers the schema once per call, not once per partition") {
    val t = freshTable()
    val langs = Seq("de", "en", "es", "fr", "it", "nl", "zh")
    SnapshotTable.commit(docs(langs.zipWithIndex.map { case (l, i) => (i.toLong, l, 10L * i) }: _*),
      t, "lang")
    assert(SnapshotTable.snapshotAt(t, 1).partitions.size == 7)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusProbe.drain(sc)
    sc.addSparkListener(counter)
    val df = try {
      val d = SnapshotTable.read(spark, t)
      org.apache.spark.ListenerBusProbe.drain(sc)
      d
    } finally sc.removeSparkListener(counter)
    assert(jobs.get <= 1, s"building the read launched ${jobs.get} jobs")
    // same rows, columns and partition-column restore as before
    assert(df.columns.toSeq == Seq("doc_id", "n_chars", "lang"))
    assert(df.select($"doc_id", $"lang", $"n_chars").as[(Long, String, Long)].collect().toSet ==
      langs.zipWithIndex.map { case (l, i) => (i.toLong, l, 10L * i) }.toSet)
  }

  test("commit reads the footers through the session's Hadoop conf") {
    val t = freshTable()
    CountingLocalFs.opens.set(0)
    // a session setting the footer reads must honour (object-store
    // credentials travel the same way)
    spark.conf.set("fs.file.impl", classOf[CountingLocalFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    val snap = try SnapshotTable.commit(docs((1, "en", 10), (2, "de", 20)), t, "lang")
      finally {
        spark.conf.unset("fs.file.impl")
        spark.conf.unset("fs.file.impl.disable.cache")
      }
    assert(snap.files.nonEmpty && CountingLocalFs.opens.get >= snap.files.size,
      s"${CountingLocalFs.opens.get} opens through the session's file system for ${snap.files.size} footers")
  }
}

/** Local file system that counts the files it opens. */
class CountingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    CountingLocalFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}
object CountingLocalFs {
  val opens = new java.util.concurrent.atomic.AtomicInteger()
}
