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

  test("runs leave the listener set and the caller's local properties as they were") {
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("graft-record-listeners").toString
    val specs = Files.createTempDirectory("graft-record-specs")
    Files.copy(java.nio.file.Paths.get("src/test/resources/specs/nothing.json"),
      specs.resolve("nothing.json"))
    // first runs create the session-level listeners Spark adds lazily
    // (the first Observation registers the session's ExecutionListenerBus)
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
