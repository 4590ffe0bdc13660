package graft

import org.apache.spark.sql.SparkSession
import graft.obs.RunRecord
import graft.sources.{EntityCorpus, SnapshotTable}
import graft.spec.SpecJson

/** CLI entry point: one spec, one corpus, one N-Triples output —
  * the reference's `Cli` path (`Cli.java:27-75`): parse/compile spec →
  * plan → execute → report counts and wall time.
  *
  * Usage: runMain graft.Cli <spec.json path|classpath name> <outDir>
  *          [corpus] [cores] [sitesFile]
  *
  * `corpus` is read by [[sources.EntityCorpus.open]]: `gen:<n>`, a
  * parquet corpus table, or a line-JSON dump (`dump:<path>` or a
  * `.gz`/`.bz2`/`.zst`/`.zstd` file or directory, on any Hadoop
  * filesystem) in either the fixture or the real Wikidata dump dialect —
  * sniffed from the first line.
  * `sitesFile` loads the sitelink resolution table (JSON lines or CSV:
  * site, url_pattern, lang) in place of the built-in fixture map
  * (reference `DumpRunner.java:71`).
  */
object Cli {

  /** Counts of one run, and its record: the sinks are the steps
    * `write.nt`, `write.table` and `write.errors`. */
  case class Result(triples: Long, errors: Long, record: RunRecord.Record)

  def run(spark: SparkSession, specArg: String, outDir: String, corpusArg: String,
          sitesArg: Option[String]): Result = {
    val specJson =
      if (new java.io.File(specArg).exists)
        new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(specArg)), "UTF-8")
      else {
        val in = getClass.getResourceAsStream(s"/specs/$specArg")
        require(in != null, s"spec not found: $specArg")
        val src = scala.io.Source.fromInputStream(in, "UTF-8")
        try src.mkString finally src.close()
      }
    val spec = SpecJson.parse(specJson)
    val runId = "cli-" + java.util.UUID.randomUUID.toString.take(8)

    val ((nTriples, nErrors), record) = RunRecord.collect(spark, runId) { rec =>
      val ((corpus, format), sites) = rec.step("open")((EntityCorpus.open(spark, corpusArg),
        sitesArg.map(EntityCorpus.readSites(spark, _)).getOrElse(EntityCorpus.sites)))
      val triples = Pipeline.triples(corpus, spec, sites = sites, format = format)
      rec.step("write.nt")(Pipeline.writeNt(triples, outDir + "/nt"))
      // counts from the manifest rows and the error files' footers: no
      // job re-reads either output
      val nTriples = rec.step("write.table")(
        Pipeline.writeTripleTableManifest(triples, outDir + "/triples")).map(_.triples).sum
      rec.step("write.errors")(
        Pipeline.errors(corpus, spec, format).write.mode("overwrite").parquet(outDir + "/_errors"))
      val errDir = java.nio.file.Paths.get(outDir + "/_errors")
      val nErrors = SnapshotTable.footerInventory(Seq(errDir), Nil,
        spark.sessionState.newHadoopConf())(errDir).map(_.rows).sum
      (nTriples, nErrors)
    }
    println(f"[graft.Cli] triples=$nTriples%d errors=$nErrors%d wall=${record.wallS}%.1fs out=$outDir")
    println(record.line)
    Result(nTriples, nErrors, record)
  }

  def main(args: Array[String]): Unit = {
    val specArg = if (args.length > 0) args(0) else "humans.json"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft-out"
    val corpusArg = if (args.length > 2) args(2) else "gen:2000"
    val cores = if (args.length > 3) args(3) else sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val sitesArg = if (args.length > 4) Some(args(4)) else None

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-cli")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, specArg, outDir, corpusArg, sitesArg)
    finally spark.stop()
  }
}
