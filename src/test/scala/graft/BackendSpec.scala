package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.ListenerBusProbe
import org.apache.spark.sql.functions._
import graft.sources.{EntityCorpus, SnapshotTable}
import graft.spec.SpecJson
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** S7 claim protocol: concurrent workers over the same specsDir/outDir
  * must produce each spec exactly once (the reference's transactional
  * 3-step claim, `Database.java:56-103`, re-expressed as atomic
  * create-if-absent claim files + atomic done markers). */
class BackendSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val specsDir = "src/test/resources/specs"
  /** parseable specs only — the fixture dir deliberately includes an
    * unparseable one (family-filter) for the skip path */
  private def allSpecNames: Set[String] =
    new java.io.File(specsDir).listFiles()
      .filter(_.getName.endsWith(".json"))
      .filter(f => scala.util.Try(graft.spec.SpecJson.parse(
        Files.readString(f.toPath))).isSuccess)
      .map(_.getName.stripSuffix(".json")).toSet

  /** For each spec `r` produced: the done marker's entity and statement
    * counts equal single-spec `Pipeline.counters`, the run's lineage
    * manifest rows sum to the marker's triple count, and every subject
    * of each committed file lies within that file's min_subj/max_subj. */
  private def checkProduced(out: String, specsDir: String, corpusArg: String,
                            r: Backend.RunReport): Unit = if (r.produced.nonEmpty) {
    val corpus = EntityCorpus.generate(spark, corpusArg.stripPrefix("gen:").toLong).toDF()
    val table = s"$out/triples"
    val live = SnapshotTable.snapshotAt(table, SnapshotTable.currentVersion(table)).partitions
    val manifest = spark.read.parquet(s"$out/_meta/manifests/${r.runId}").collect()
      .map(m => (m.getAs[String]("specId"), m.getAs[Int]("part")) ->
        (m.getAs[Long]("triples"), m.getAs[String]("min_subj"), m.getAs[String]("max_subj")))
      .toMap
    assert(manifest.keySet.map(_._1) == r.produced.toSet, s"manifest specs ${manifest.keySet}")
    r.produced.foreach { n =>
      val spec = SpecJson.parse(Files.readString(Paths.get(s"$specsDir/$n.json")))
      val done = Files.readString(Paths.get(s"$out/_meta/done/$n.tsv")).trim.split("\t")
      assert((done(2).toLong, done(3).toLong) == Pipeline.counters(corpus, spec),
        s"$n: done marker ${done.toSeq} vs Pipeline.counters")
      val files = live(n)
      assert(manifest.keySet.filter(_._1 == n) == files.indices.map(n -> _).toSet)
      assert(files.indices.map(i => manifest((n, i))._1).sum == done(4).toLong,
        s"$n: manifest triples vs done marker ${done.toSeq}")
      files.zipWithIndex.foreach { case (f, i) =>
        val (rows, lo, hi) = manifest((n, i))
        val got = spark.read.parquet(s"$table/${f.path}")
          .agg(count(lit(1)), min("subj"), max("subj")).head()
        assert(got.getLong(0) == rows && got.getString(1) >= lo && got.getString(2) <= hi,
          s"$n file $i: $got outside manifest ($rows, $lo, $hi)")
      }
    }
  }

  test("two concurrent workers produce each spec exactly once; third run skips all") {
    val out = Files.createTempDirectory("graft-backend-claims").toString
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fa = Future(Backend.run(spark, specsDir, "gen:800", out))
      val fb = Future(Backend.run(spark, specsDir, "gen:800", out))
      val ra = Await.result(fa, 10.minutes)
      val rb = Await.result(fb, 10.minutes)
      // each worker's counters came off its own observed pass
      Seq(ra, rb).foreach(checkProduced(out, specsDir, "gen:800", _))
      // exactly-once: the produced sets are disjoint and together cover
      // every spec (each pending spec's claim has exactly one winner)
      assert(ra.produced.toSet.intersect(rb.produced.toSet).isEmpty,
        s"double-produced: ${ra.produced.toSet.intersect(rb.produced.toSet)}")
      assert(ra.produced.toSet ++ rb.produced.toSet == allSpecNames,
        s"coverage gap: ${allSpecNames -- ra.produced.toSet -- rb.produced.toSet}")
      // every spec is live in the snapshot table's current manifest and
      // has one done marker; the two workers' commits are two distinct
      // snapshot versions (the manifest CAS serialized them)
      val table = s"$out/triples"
      val head = graft.sources.SnapshotTable.currentVersion(table)
      val committers = Seq(ra, rb).count(_.produced.nonEmpty)
      assert(head == committers,
        s"expected $committers snapshot versions (one per producing worker), got $head")
      val live = graft.sources.SnapshotTable.snapshotAt(table, head).partitions
      allSpecNames.foreach { n =>
        assert(live.get(n).exists(_.nonEmpty), s"missing live partition $n")
        assert(Files.exists(Paths.get(s"$out/_meta/done/$n.tsv")), s"missing done marker $n")
      }
      // resume: a third worker finds nothing pending
      val rc = Backend.run(spark, specsDir, "gen:800", out)
      assert(rc.produced.isEmpty && rc.skipped.toSet == allSpecNames)
      // stats visible to the third worker cover all specs with rows
      assert(rc.stats.map(_.dumpId).toSet == allSpecNames)
      assert(rc.stats.exists(_.tripleCount > 0))
      // stale-resume guard: a DIFFERENT corpus re-opens every spec —
      // done markers from the old corpus must not be trusted
      val rd = Backend.run(spark, specsDir, "gen:400", out)
      assert(rd.produced.toSet == allSpecNames && rd.skipped.isEmpty,
        s"new corpus must recompute all specs: skipped ${rd.skipped}")
      // and the snapshot's triples now reflect the smaller corpus
      val head2 = graft.sources.SnapshotTable.currentVersion(s"$out/triples")
      assert(head2 == head + 1)
    } finally pool.shutdown()
  }

  test("editing a spec re-opens only that spec under a fresh claim") {
    val out = Files.createTempDirectory("graft-backend-edit").toString
    val mydir = Files.createTempDirectory("graft-backend-specs")
    // two specs: copy from the fixture dir
    Seq("humans.json", "nothing.json").foreach { n =>
      Files.copy(Paths.get(s"$specsDir/$n"), mydir.resolve(n))
    }
    val r1 = Backend.run(spark, mydir.toString, "gen:500", out)
    assert(r1.produced.toSet == Set("humans", "nothing"))
    // touch one spec's CONTENT (append whitespace changes the sha)
    Files.writeString(mydir.resolve("nothing.json"),
      Files.readString(mydir.resolve("nothing.json")) + "\n")
    val r2 = Backend.run(spark, mydir.toString, "gen:500", out)
    assert(r2.produced == Seq("nothing") && r2.skipped == Seq("humans"), r2.toString)
    checkProduced(out, mydir.toString, "gen:500", r2)
    // the re-run is a REPLACE-PARTITIONS snapshot: only `nothing` was
    // rewritten — `humans` kept its exact v1 data files — and v1 is
    // still time-travelable
    val table = s"$out/triples"
    assert(graft.sources.SnapshotTable.currentVersion(table) == 2)
    val v1 = graft.sources.SnapshotTable.snapshotAt(table, 1).partitions
    val v2 = graft.sources.SnapshotTable.snapshotAt(table, 2).partitions
    assert(graft.sources.SnapshotTable.snapshotAt(table, 2).operation == "replace-partitions")
    assert(v1("humans") == v2("humans"), "untouched partition must keep its files")
    assert(v1("nothing") != v2("nothing"), "edited spec's partition must be rewritten")
    assert(graft.sources.SnapshotTable.read(spark, table, version = 1).count() > 0)
  }

  test("stale claims are taken over; fresh claims are respected") {
    val out = Files.createTempDirectory("graft-backend-stale").toString
    val mydir = Files.createTempDirectory("graft-backend-specs2")
    Files.copy(Paths.get(s"$specsDir/nothing.json"), mydir.resolve("nothing.json"))
    val json = Files.readString(mydir.resolve("nothing.json"))
    // claims are keyed on (spec content, corpus fingerprint) identity
    val ident = json + "\n@corpus:" + Backend.corpusFingerprint("gen:300")
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(ident.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val claim = Paths.get(s"$out/_meta/claims/nothing-${sha.take(8)}.claim")
    Files.createDirectories(claim.getParent)
    Files.writeString(claim, "run-dead\t0\n")
    // fresh claim (default staleness) → respected, nothing produced
    val r1 = Backend.run(spark, mydir.toString, "gen:300", out)
    assert(r1.produced.isEmpty, r1.toString)
    // with staleness 0 the dead worker's claim is taken over
    val r2 = Backend.run(spark, mydir.toString, "gen:300", out, staleClaimMs = 0L)
    assert(r2.produced == Seq("nothing"), r2.toString)
  }

  test("an empty corpus produces every spec with zero counters and does not hang") {
    val out = Files.createTempDirectory("graft-backend-empty").toString
    implicit val ec: ExecutionContext = ExecutionContext.global
    val r = Await.result(Future(Backend.run(spark, specsDir, "gen:0", out)), 5.minutes)
    assert(r.produced.toSet == allSpecNames)
    assert(r.stats.forall(s => s.entityCount == 0 && s.statementCount == 0), r.stats.toString)
    checkProduced(out, specsDir, "gen:0", r)
  }

  test("Backend.run removes its progress listener and timer, also when the pass fails") {
    val sc = spark.sparkContext
    def backendListeners = ListenerBusProbe.listeners(sc)
      .count(_.getClass.getName.startsWith("graft.Backend"))
    val mydir = Files.createTempDirectory("graft-backend-specs3")
    Files.copy(Paths.get(s"$specsDir/nothing.json"), mydir.resolve("nothing.json"))
    (1 to 3).foreach { i =>
      Backend.run(spark, mydir.toString, s"gen:${50 * i}",
        Files.createTempDirectory("graft-backend-listener").toString)
    }
    intercept[Exception](Backend.run(spark, mydir.toString, "/nonexistent/corpus.parquet",
      Files.createTempDirectory("graft-backend-listener").toString))
    assert(backendListeners == 0, ListenerBusProbe.listeners(sc).map(_.getClass.getName))
    // a cancelled timer's thread exits once it wakes
    def timers = Thread.getAllStackTraces.keySet.asScala.count(_.getName == "graft-progress")
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (timers > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    assert(timers == 0, "a progress timer thread is still alive")
  }
}
