package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.ListenerBusProbe
import graft.obs.RunRecord
import graft.sources.EntityCorpus
import java.nio.file.Files

/** The run record (`graft.obs.RunRecord`) as `Cli` and `Backend` use it:
  * its per-step counts match what the sinks wrote, and no run leaves its
  * listener or its job tag behind. */
class RunRecordSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("Cli.run: each sink step's output rows equal the rows it wrote") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cli-record").toString
    val broken = Seq("{not json", "{\"type\": \"item\"}", "{\"id\": ")
      .map(c => EntityCorpus.CorpusRow("repo-x", "broken.json", "0" * 40, "wikidata-json", c))
    EntityCorpus.generate(spark, 400).union(broken.toDS()).write.parquet(s"$dir/corpus")
    val r = Cli.run(spark, "humans.json", s"$dir/out", s"$dir/corpus", None)
    val nErrors = spark.read.parquet(s"$dir/out/_errors").count()
    assert(r.triples > 0 && r.errors == nErrors && nErrors >= broken.size, r)
    assert(r.record.step("write.table").metrics.outputRows == r.triples, r.record.json)
    assert(r.record.step("write.errors").metrics.outputRows == nErrors, r.record.json)
    assert(r.record.step("write.nt").metrics.outputRows == r.triples, r.record.json)
    assert(spark.read.text(s"$dir/out/nt").count() == r.triples)
    assert(r.record.steps.map(_.name) == Seq("open", "write.nt", "write.table", "write.errors"))
    assert(r.record.step("open").metrics.jobs == 0, r.record.json)
  }

  test("Cli.run: the sinks after the first reuse its dedup shuffle, with the same outputs") {
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("graft-cli-reuse").toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerBusProbe.drain(sc)
    sc.addSparkListener(counter)
    val r = try {
      val r = Cli.run(spark, "humans.json", s"$dir/out", "gen:600", None)
      ListenerBusProbe.drain(sc)
      r
    } finally sc.removeSparkListener(counter)
    // 8 when the table write ran scan → emit → dedup again
    assert(jobs.get <= 6, s"Cli.run launched ${jobs.get} jobs")
    assert(r.record.step("write.table").metrics.inputRows == 0, r.record.json)
    assert(r.record.step("write.nt").metrics.inputRows == 600, r.record.json)
    // outputs: the undeduplicated triples made distinct by Spark, and the
    // errors channel as its own plan computes it
    val corpus = EntityCorpus.generate(spark, 600).toDF()
    val spec = graft.spec.SpecJson.parse(new String(
      getClass.getResourceAsStream("/specs/humans.json").readAllBytes(), "UTF-8"))
    val reference = Pipeline.triples(corpus, spec, dedup = false).distinct()
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Boolean =
      a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    assert(same(spark.read.text(s"$dir/out/nt"), Pipeline.ntLines(reference).toDF("value")))
    assert(same(spark.read.parquet(s"$dir/out/triples").select("subj", "pred", "obj"), reference))
    assert(same(spark.read.parquet(s"$dir/out/_errors"), Pipeline.errors(corpus, spec).toDF()))
    assert(r.triples == reference.count())
  }

  test("runs leave the listener set and the caller's local properties as they were") {
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("graft-record-listeners").toString
    val specs = Files.createTempDirectory("graft-record-specs")
    Files.copy(java.nio.file.Paths.get("src/test/resources/specs/nothing.json"),
      specs.resolve("nothing.json"))
    // first runs create the session-level listeners Spark adds lazily
    Cli.run(spark, "humans.json", s"$dir/warm-cli", "gen:100", None)
    Backend.run(spark, specs.toString, "gen:100", s"$dir/warm-backend")
    sc.setJobGroup("outer-group", "outer description")
    try {
      val before = ListenerBusProbe.listeners(sc)
      Cli.run(spark, "humans.json", s"$dir/cli", "gen:100", None)
      Backend.run(spark, specs.toString, "gen:100", s"$dir/backend")
      val (_, rec) = RunRecord.collect(spark, "direct") { r =>
        r.step("count") {
          assert(sc.getLocalProperty("spark.jobGroup.id") == "outer-group")
          spark.range(100).count()
        }
      }
      assert(rec.step("count").metrics.jobs >= 1, rec.json)
      intercept[Exception](Backend.run(spark, specs.toString, s"$dir/missing-corpus", s"$dir/failed"))
      assert(ListenerBusProbe.listeners(sc) == before,
        ListenerBusProbe.listeners(sc).map(_.getClass.getName))
      assert(sc.getLocalProperty("spark.jobGroup.id") == "outer-group")
      assert(sc.getLocalProperty("spark.job.description") == "outer description")
      assert(sc.getLocalProperty(RunRecord.Key) == null)
    } finally sc.clearJobGroup()
  }
}
