package kgbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.{Backend, Pipeline}
import graft.sources.{EntityCorpus, SnapshotTable}
import graft.spec.{DumpSpec, SpecJson}
import Workload._

/** The production multi-spec path: `Backend.run` over the repository's
  * example specs on a fixture corpus into a fresh output directory. Seven
  * specs share one scan (family-filter takes the skip path), then come
  * `dedupTriples4`, range partitioning, the snapshot commit and the
  * second `countersMultiplexed` pass.
  *
  * The traced run adds the stages the timed job leaves out to keep a run
  * short: the resume run after one spec's JSON is edited (it replaces one
  * partition beside six kept ones) and the graph loops over the corpus's
  * entity-link graph plus seeded rings ([[LinkGraph]]). */
object BackendMultispec extends Workload("backend_multispec") {
  val Entities = 6000L
  val Rings = 4
  val RingLength = 128
  /** The spec the resume run finds edited, and its edit. */
  val EditedSpec = "english-labels"
  private def edit(json: String): String = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.readTree(json).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    root.put("descriptions", true)
    m.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  private def copySpecs(dir: String, specsDir: String): Map[String, Long] = {
    val specs = new java.io.File(specsDir).listFiles().filter(_.getName.endsWith(".json"))
      .sortBy(_.getName)
    require(specs.exists(_.getName == s"$EditedSpec.json"), s"$specsDir has no $EditedSpec.json")
    specs.foreach { f =>
      val json = readText(f.getPath)
      writeText(s"$dir/specs/${f.getName}", json)
      writeText(s"$dir/specs-edited/${f.getName}",
        if (f.getName == s"$EditedSpec.json") edit(json) else json)
    }
    Map("specs" -> specs.length.toLong, "specs-edited" -> specs.length.toLong)
  }

  def generateSlice(spark: SparkSession, dir: String, specsDir: String): Map[String, Long] = {
    EntityCorpus.generate(spark, Slice.Entities, Slice.Seed, numPartitions = 2)
      .write.parquet(s"$dir/corpus")
    copySpecs(dir, specsDir) + ("corpus" -> Slice.Entities)
  }

  def generate(spark: SparkSession, seed: Long, dir: String, specsDir: String): Map[String, Long] = {
    EntityCorpus.generate(spark, Entities, seed, numPartitions = 4).write.parquet(s"$dir/corpus")
    LinkGraph.edges(spark.read.parquet(s"$dir/corpus"), seed, Rings, RingLength)
      .write.parquet(s"$dir/edges")
    copySpecs(dir, specsDir) ++ Map("corpus" -> Entities,
      "edges" -> spark.read.parquet(s"$dir/edges").count())
  }

  def open(spark: SparkSession, sliceDir: String, dir: String): Job = new Job {
    val entities: Long = Entities
    def corpusPaths: Seq[String] = Seq(s"$dir/corpus")
    private def corpus = spark.read.parquet(s"$dir/corpus")

    /** Parseable specs, as `Backend.run` takes them in. */
    private def parseSpecs(d: String): Seq[(String, DumpSpec)] =
      new java.io.File(d).listFiles().filter(_.getName.endsWith(".json")).sortBy(_.getName).toSeq
        .flatMap { f =>
          try Some(f.getName.stripSuffix(".json") -> SpecJson.parse(readText(f.getPath)))
          catch { case _: IllegalArgumentException => None }
        }
    private var specs: Seq[(String, DumpSpec)] = Nil
    private var edited: Seq[(String, DumpSpec)] = Nil

    def compile(): Unit = {
      specs = parseSpecs(s"$sliceDir/specs")
      edited = parseSpecs(s"$sliceDir/specs-edited")
      Pipeline.triplesMultiplexed(spark.read.parquet(s"$sliceDir/corpus"), specs)
        .queryExecution.executedPlan
    }

    def warmUp(): Unit = noop(Pipeline.triplesMultiplexed(spark.read.parquet(s"$sliceDir/corpus"), specs))

    private val produced = scala.collection.mutable.Map.empty[String, Seq[String]]

    def run(out: String, step: Step): Map[String, Double] = {
      val (report, wall) = secs(step("backend.run")(
        Backend.run(spark, s"$dir/specs", s"$dir/corpus", out)))
      produced(out) = report.produced
      Map("wall_s" -> wall)
    }

    /** Per spec: the digest of single-spec `Pipeline.triples` (one plan
      * per spec, unioned into one pass) and `Pipeline.counters`. */
    private def referencesOf(ss: Seq[(String, DumpSpec)]): Map[String, (Digest, (Long, Long))] = {
      val digests = Digest.byKey(
        ss.map { case (n, s) => Pipeline.triples(corpus, s).withColumn("specId", lit(n)) }
          .reduce(_ unionByName _), "specId", Seq("subj", "pred", "obj"))
      ss.map { case (n, s) => n -> (digests.getOrElse(n, Digest.empty), Pipeline.counters(corpus, s)) }.toMap
    }
    private lazy val references = referencesOf(specs)

    lazy val triples: Long = references.values.map(_._1.lines).sum

    /** Each partition of the snapshot table under `out` against the
      * single-spec references, and each done marker against the counters. */
    private def checkTable(out: String, refs: Map[String, (Digest, (Long, Long))]): Seq[String] = {
      val parts = Digest.byKey(SnapshotTable.read(spark, s"$out/triples"), "specId",
        Seq("subj", "pred", "obj"))
      refs.toSeq.sortBy(_._1).flatMap { case (n, (want, (ents, stmts))) =>
        // a spec that committed no triples has no files, so no group
        val got = parts.getOrElse(n, Digest.empty)
        val done = readText(s"$out/_meta/done/$n.tsv").trim.split("\t")
        val marked = (done(2).toLong, done(3).toLong, done(4).toLong)
        (if (got == want) Nil else Seq(s"partition $n digest $got != single-spec reference $want")) ++
          (if (marked == ((ents, stmts, want.lines))) Nil
           else Seq(s"done marker of $n records $marked, expected ${(ents, stmts, want.lines)}"))
      }
    }

    def verify(out: String): Seq[String] = {
      val names = specs.map(_._1)
      (if (produced(out).toSet == names.toSet) Nil
       else Seq(s"run produced ${produced(out)}, expected $names")) ++ checkTable(out, references)
    }

    def jobLayers(out: String, spans: Map[String, (Double, Tracer#Agg)],
                  result: Map[String, Double]): Map[String, Double] = {
      val table = s"$out/triples"
      val snap = SnapshotTable.snapshotAt(table, SnapshotTable.currentVersion(table))
      Map(
        "backend.corpus_scans" -> spans.get("backend.run").map(_._2.corpusJobs.size.toDouble).getOrElse(0.0),
        "snapshot.files" -> snap.files.size.toDouble,
        "snapshot.bytes_per_triple" ->
          snap.files.map(f => Files.size(Paths.get(table, f))).sum.toDouble / math.max(1L, snap.rowCount))
    }

    private lazy val counts: Map[String, Double] = {
      val raw = Pipeline.triplesMultiplexed(corpus, specs, dedup = false)
      val rawN = raw.count()
      Map(
        "sources.rows" -> corpus.count().toDouble,
        "emit.raw_triples" -> rawN.toDouble,
        "pipeline.dedup.kept_ratio" -> triples.toDouble / math.max(1L, rawN),
        "pipeline.dedup.skew" -> reducerSkew(raw, Seq("specId", "subj", "pred", "obj")))
    }
    private lazy val graph = new LinkGraph.Checker(spark, spark.read.parquet(s"$dir/edges"))

    /** `Backend.run`'s own steps (the multiplexed pass, the snapshot commit
      * and the counters pass after it), re-composed from the public calls
      * it makes so that each gets its own span; then the resume run and
      * the graph loops. */
    def prefixLayers(tr: Tracer, parent: String, work: String): (Map[String, Double], Seq[String]) = {
      val c = corpus
      val spans = scala.collection.mutable.Map.empty[String, (Double, Tracer#Agg)]
      val step = new Step {
        def apply[A](name: String)(body: => A): A = {
          val (r, id, s) = tr.span(name, parent)(body)
          spans(name) = (s, tr.agg(id))
          r
        }
      }
      def secsOf(name: String) = spans(name)._1
      step("sources.scan")(noop(c))
      step("emit")(noop(Pipeline.triplesMultiplexed(c, specs, dedup = false)))
      step("pipeline.dedup")(noop(Pipeline.triplesMultiplexed(c, specs)))
      val outParts = math.max(specs.size, spark.conf.get("spark.sql.shuffle.partitions").toInt)
      def ranged = Pipeline.triplesMultiplexed(c, specs)
        .repartitionByRange(outParts, col("specId"), col("subj"))
        .sortWithinPartitions("specId", "subj")
      step("backend.multiplex")(noop(ranged))
      step("backend.commit")(SnapshotTable.commit(ranged, s"$work/table", "specId",
        replace = true, statsCols = Seq("subj"), clearPartitions = specs.map(_._1)))
      step("backend.counters")(Pipeline.countersMultiplexed(c, specs))

      // resume: a cold run, then a run over the specs with one edited
      val out = s"$work/resume"
      Backend.run(spark, s"$dir/specs", s"$dir/corpus", out)
      val resumed = step("backend.resume")(Backend.run(spark, s"$dir/specs-edited", s"$dir/corpus", out))
      val finalRefs = references ++ referencesOf(edited.filter(_._1 == EditedSpec))
      val resumeProblems =
        (if (resumed.produced == Seq(EditedSpec)) Nil
         else Seq(s"resume recomputed ${resumed.produced}, expected only $EditedSpec")) ++
          checkTable(out, finalRefs)

      val rounds = LinkGraph.run(spark, spark.read.parquet(s"$dir/edges"), s"$work/graph", step)
      val dedup = spans("pipeline.dedup")._2
      (counts ++ LinkGraph.layers(spans.toMap, rounds.toDouble) ++ Map(
        "sources.scan_s" -> secsOf("sources.scan"),
        "emit.s" -> (secsOf("emit") - secsOf("sources.scan")),
        "pipeline.dedup.s" -> (secsOf("pipeline.dedup") - secsOf("emit")),
        "pipeline.dedup.shuffle_write_mb" -> dedup.shuffleWriteBytes / 1e6,
        "pipeline.dedup.spill_mb" -> dedup.spillBytes / 1e6,
        "backend.multiplex_s" -> secsOf("backend.multiplex"),
        "backend.commit_s" -> (secsOf("backend.commit") - secsOf("backend.multiplex")),
        "backend.counters_s" -> secsOf("backend.counters"),
        "backend.resume_s" -> secsOf("backend.resume"),
        "backend.resume_recomputed_specs" -> resumed.produced.size.toDouble),
        resumeProblems ++ graph.verify(s"$work/graph"))
    }
  }
}
