package kgbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pipeline
import graft.sources.{DumpFormat, EntityCorpus}
import graft.spec.{DumpSpec, SpecCompiler, SpecJson}
import Workload._

/** The reference `Cli` path: the selective `humans.json` spec (P31=Q5,
  * about a sixth of the entities) over a fixture-dialect parquet corpus,
  * written through `writeNt`, `writeTripleTable` and the errors channel
  * in `Cli.main`'s order. Most rows die at the raw pre-gate or the
  * minimal-parse gate, so the gate and the three sinks (each recomputes
  * the pipeline) dominate, while emit and dedup stay light. */
object HumansCli extends Workload("humans_cli") {
  val Entities = 10000L
  private val format: DumpFormat = DumpFormat.Fixture

  private def write(spark: SparkSession, n: Long, seed: Long, parts: Int, dir: String,
                    specsDir: String): Map[String, Long] = {
    EntityCorpus.generate(spark, n, seed, numPartitions = parts).write.parquet(s"$dir/corpus")
    writeText(s"$dir/humans.json", readText(s"$specsDir/humans.json"))
    Map("corpus" -> n, "humans.json" -> 1L)
  }
  def generateSlice(spark: SparkSession, dir: String, specsDir: String): Map[String, Long] =
    write(spark, Slice.Entities, Slice.Seed, 2, dir, specsDir)
  def generate(spark: SparkSession, seed: Long, dir: String, specsDir: String): Map[String, Long] =
    write(spark, Entities, seed, 4, dir, specsDir)

  def open(spark: SparkSession, sliceDir: String, dir: String): Job = new Job {
    private def corpus(slice: Boolean): DataFrame =
      spark.read.parquet(s"${if (slice) sliceDir else dir}/corpus")
    private var spec: DumpSpec = _
    val entities: Long = Entities
    def corpusPaths: Seq[String] = Seq(s"$dir/corpus")

    def compile(): Unit = {
      spec = SpecJson.parse(readText(s"$sliceDir/humans.json"))
      Pipeline.triples(corpus(slice = true), spec, format = format).queryExecution.executedPlan
    }

    def warmUp(): Unit = noop(Pipeline.triples(corpus(slice = true), spec, format = format))

    def run(out: String, step: Step): Map[String, Double] = {
      val (_, wall) = secs {
        val c = corpus(slice = false)
        val t = Pipeline.triples(c, spec, format = format)
        step("write.nt")(Pipeline.writeNt(t, s"$out/nt"))
        step("write.table")(Pipeline.writeTripleTable(t, s"$out/triples"))
        step("write.errors")(Pipeline.errors(c, spec, format)
          .write.mode("overwrite").parquet(s"$out/_errors"))
      }
      Map("wall_s" -> wall)
    }

    /** Reference output: the undeduplicated triples made distinct by Spark. */
    private lazy val reference: Digest =
      Digest.ofTriples(Pipeline.triples(corpus(false), spec, format = format, dedup = false).distinct())
    private lazy val referenceErrors: Digest =
      Digest.ofRows(Pipeline.errors(corpus(false), spec, format).toDF())

    def triples: Long = reference.lines

    def verify(out: String): Seq[String] = {
      def check(what: String, got: Digest, want: Digest) =
        if (got == want) Nil else Seq(s"$what digest $got != reference $want")
      check("nt", Digest.of(spark.read.text(s"$out/nt")), reference) ++
        check("triple table", Digest.ofTriples(spark.read.parquet(s"$out/triples")), reference) ++
        check("errors", Digest.ofRows(
          spark.read.parquet(s"$out/_errors").select("repo", "path", "id", "error")), referenceErrors)
    }

    def jobLayers(out: String, spans: Map[String, (Double, Tracer#Agg)],
                  result: Map[String, Double]): Map[String, Double] = {
      def s(n: String) = spans.get(n).map(_._1).getOrElse(0.0)
      Map(
        "pipeline.write.nt_s" -> s("write.nt"),
        "pipeline.write.table_s" -> s("write.table"),
        "pipeline.write.errors_s" -> s("write.errors"),
        "pipeline.write.bytes_per_triple" -> dataBytes(s"$out/nt").toDouble / math.max(1L, triples),
        "pipeline.write.pipeline_passes" ->
          spans.collect { case (n, (_, a)) if n.startsWith("write.") => a.corpusJobs.size }.sum.toDouble)
    }

    private lazy val counts: Map[String, Double] = {
      val c = corpus(false)
      val pre = c.filter(SpecCompiler.prefilter(spec, col("content"), format)).count()
      val gate = Pipeline.includedDocs(c, spec, format, excludeLexemes = true).count()
      val raw = Pipeline.triples(c, spec, format = format, dedup = false)
      val rawN = raw.count()
      Map(
        "sources.rows" -> c.count().toDouble,
        "sources.pregate_pass" -> pre.toDouble,
        "sources.gate_pass" -> gate.toDouble,
        "sources.pregate_precision" -> gate.toDouble / math.max(1L, pre),
        "emit.raw_triples" -> rawN.toDouble,
        "emit.triples_per_entity" -> rawN.toDouble / math.max(1L, gate),
        "pipeline.dedup.kept_ratio" -> triples.toDouble / math.max(1L, rawN),
        "pipeline.dedup.skew" -> reducerSkew(raw, Seq("subj", "pred", "obj")))
    }

    /** Nested prefixes of `Pipeline.triples`, each forced with `noop`:
      * scan ⊂ gate (`includedDocs.count`) ⊂ full-row `includedDocs` ⊂
      * `triples(dedup = false)` ⊂ `triples`. A layer's self time is the
      * difference between neighbours. */
    def prefixLayers(tr: Tracer, parent: String, work: String): (Map[String, Double], Seq[String]) = {
      val c = corpus(false)
      def docs = Pipeline.includedDocs(c, spec, format, excludeLexemes = true)
      def t(name: String)(body: => Unit) = tr.span(name, parent)(body)
      val (_, _, scan) = t("sources.scan")(noop(c))
      val (_, _, gate) = t("sources.gate")(docs.count())
      val (_, _, parse) = t("sources.parse")(noop(docs.toDF()))
      val (_, _, emit) = t("emit")(noop(Pipeline.triples(c, spec, format = format, dedup = false)))
      val (_, dedupId, dedup) = t("pipeline.dedup")(noop(Pipeline.triples(c, spec, format = format)))
      val d = tr.agg(dedupId)
      (counts ++ Map(
        "sources.scan_s" -> scan,
        "sources.gate_s" -> (gate - scan),
        "sources.parse_s" -> (parse - gate),
        "emit.s" -> (emit - parse),
        "pipeline.dedup.s" -> (dedup - emit),
        "pipeline.dedup.shuffle_write_mb" -> d.shuffleWriteBytes / 1e6,
        "pipeline.dedup.spill_mb" -> d.spillBytes / 1e6), Nil)
    }
  }
}
