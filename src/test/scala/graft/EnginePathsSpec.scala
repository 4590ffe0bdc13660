package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.EntityCorpus
import graft.spec.SpecJson

class EnginePathsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def specNamed(name: String): graft.spec.DumpSpec =
    SpecJson.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"src/test/resources/specs/$name"))))

  test("scan pre-gate plans as a Contains BEFORE the JSON gate parse, same filter") {
    val corpus = EntityCorpus.generate(spark, 200).toDF()
    val plan = Pipeline.includedDocs(corpus, specNamed("humans.json"))
      .queryExecution.executedPlan.toString
    // one Filter carries both; And short-circuits left-to-right in
    // codegen, so WITHIN the Filter line the Contains must precede the
    // gate's from_json (the plan string is top-down: the survivors'
    // full-schema parse legitimately prints above the Filter)
    val filterLine = plan.linesIterator.find(_.contains("Filter "))
      .getOrElse(fail(s"no Filter in plan:\n$plan"))
    val iContains = filterLine.indexOf("Contains(content")
    val iParse = filterLine.indexOf("from_json")
    assert(iContains >= 0, s"pre-gate Contains missing from filter:\n$filterLine")
    assert(iParse > iContains, s"gate parse not behind the pre-gate:\n$filterLine")
    // include-all spec: no pre-gate Contains at all
    val planAll = Pipeline.includedDocs(corpus, specNamed("english-labels.json"))
      .queryExecution.executedPlan.toString
    assert(!planAll.contains("Contains(content"), planAll)
  }

  /** The shuffle dependencies in the lineage of `df`'s rows. */
  private def shuffleDeps(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.ShuffleDependency[_, _, _]] = {
    def walk(rdd: org.apache.spark.rdd.RDD[_]): Seq[org.apache.spark.ShuffleDependency[_, _, _]] =
      rdd.dependencies.flatMap { d =>
        (d match {
          case s: org.apache.spark.ShuffleDependency[_, _, _] => Seq(s)
          case _ => Nil
        }) ++ walk(d.rdd)
      }
    walk(org.apache.spark.sql.GraftLeaf.rows(df))
  }

  test("single-spec triples plan one dedup Exchange behind the scan pre-gate") {
    val corpus = EntityCorpus.generate(spark, 200).toDF()
    val humans = specNamed("humans.json")
    // scan → gate → parse → emit: no shuffle, the pre-gate ahead of the
    // gate parse
    val plan = Pipeline.triples(corpus, humans, dedup = false).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"pre-dedup plan shuffles:\n$plan")
    val filterLine = plan.linesIterator.find(_.contains("Filter "))
      .getOrElse(fail(s"no Filter in plan:\n$plan"))
    val iContains = filterLine.indexOf("Contains(content")
    assert(iContains >= 0, s"pre-gate Contains missing from filter:\n$filterLine")
    assert(filterLine.indexOf("from_json") > iContains, s"gate parse not behind the pre-gate:\n$filterLine")
    // the dedup: exactly one shuffle in the triples' lineage, hashed on
    // all four columns (specId is "" for a lone spec) into the session's
    // shuffle width
    val triples = Pipeline.triples(corpus, humans)
    val deps = shuffleDeps(triples)
    assert(deps.size == 1, s"expected exactly one shuffle, got ${deps.size}")
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(deps.head.partitioner.numPartitions == width)
    val misplaced = triples.filter(spark_partition_id() =!=
      pmod(hash(lit(""), col("subj"), col("pred"), col("obj")), lit(width))).count()
    assert(misplaced == 0, s"$misplaced triples off their (specId, subj, pred, obj) hash partition")
  }

  test("overlap resolution plans as an equi-anti-join on doc_id (no nested loop)") {
    import spark.implicits._
    val dict = Seq(("alan turing", "Q7251", 2000L), ("turing", "Q7251", 1000L))
      .toDF("surface", "entity", "prior")
    val classes = Seq(("Q7251", "Q5")).toDF("entity", "cls")
    val docs = Seq((1L, "alan turing here")).toDF("doc_id", "text")
    val mentions = graft.operators.EntityLinking.detectMentions(docs, $"doc_id", $"text", dict)
    val plan = graft.operators.EntityLinking
      .resolveOverlaps(graft.operators.EntityLinking.scoreLinks(mentions, classes))
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"span anti-join fell to a nested loop:\n$plan")
  }

  test("nt_escape: custom expression works in SQL and codegen") {
    graft.functions.GraftExtensions.register(spark)
    val got = spark.sql("""SELECT nt_escape('a"b\\c\nd') AS e""").head().getString(0)
    assert(got == graft.emit.NTriples.escape("a\"b\\c\nd"))
    // type check: non-string argument rejected at analysis
    intercept[Exception](spark.sql("SELECT nt_escape(42)").collect())
  }

  test("S1: compressed line-JSON dump scan round-trips (gzip, trailing commas)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dump").toString
    EntityCorpus.writeDump(spark, 200, s"$dir/plain", "gzip")
    // Wikidata array framing: [ ... lines with trailing commas ... ]
    import spark.implicits._
    val framed = Seq("[") ++
      (0L until 50L).map(i => EntityCorpus.contentFor(42L, i) + ",") ++ Seq("]")
    framed.toDF("value").coalesce(1).write.mode("overwrite")
      .option("compression", "bzip2").text(s"$dir/framed")

    val plain = EntityCorpus.readDump(spark, s"$dir/plain")
    assert(plain.count() == 200)
    assert(EntityCorpus.parse(plain).filter(col("doc").isNull).count() == 0)
    val fr = EntityCorpus.readDump(spark, s"$dir/framed")
    assert(fr.count() == 50)
    assert(EntityCorpus.parse(fr).filter(col("doc").isNull ||
      col("doc.id").isNull).count() == 0)
    // pipeline over a dump scan == pipeline over the equivalent corpus rows
    val spec = specNamed("english-labels.json")
    val fromDump = Pipeline.triples(plain, spec).count()
    val fromGen = Pipeline.triples(EntityCorpus.generate(spark, 200).toDF(), spec).count()
    assert(fromDump == fromGen)
  }

  test("embedding cosine near-dups: finds planted duplicates in buckets") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val base = Array.fill(16)(rnd.nextFloat() * 2 - 1)
    val vecs = (0L until 30L).map { i =>
      if (i == 29L) (i, base.map(x => x * 1.0001f)) // near-dup of vec 0
      else if (i == 0L) (i, base)
      else (i, Array.fill(16)(rnd.nextFloat() * 2 - 1))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val dot00 = graft.operators.Similarity.bruteForceTopK(df, df.filter($"vec_id" === 0), 1)
      .head().getLong(2)
    val dups = graft.operators.Similarity.cosineNearDups(df, minDot = (dot00 * 0.9).toLong, bits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups.contains((0L, 29L)), s"planted near-dup missed: $dups")
  }

  test("IVF ANN: k-means cells + probed search achieve full recall on separated clusters") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    // 3 well-separated clusters of 20 vectors each (dim 8)
    val centers = Seq(Array.fill(8)(10f), Array.fill(8)(-10f),
      Array.tabulate(8)(i => if (i % 2 == 0) 10f else -10f))
    val vecs = for {
      (c, ci) <- centers.zipWithIndex
      j <- 0 until 20
    } yield ((ci * 20 + j).toLong, c.map(_ + rnd.nextFloat() * 0.5f))
    val df = vecs.toDF("vec_id", "embedding")
    val centroids = graft.operators.Ivf.train(df, k = 3, iters = 3)
    assert(centroids.count() == 3)
    // assignment respects clusters: every cluster maps to one cell
    val cellsByCluster = graft.operators.Ivf.assign(df, centroids)
      .collect().groupBy(r => r.getLong(0) / 20).map { case (cl, rs) =>
        cl -> rs.map(_.getInt(1)).toSet }
    assert(cellsByCluster.values.forall(_.size == 1), s"cluster split: $cellsByCluster")
    // IVF top-1 with nProbe=1 equals brute-force top-1 for these probes
    val probes = df.filter($"vec_id" % 20 === 0)
    val ivf = graft.operators.Ivf.search(df, probes, centroids, k = 1, nProbe = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = graft.operators.Similarity.bruteForceTopK(df, probes, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ivf == brute, s"ivf $ivf vs brute $brute")
  }

  test("J3: property->datatype side table derived from corpus") {
    val corpus = EntityCorpus.generate(spark, 1000).toDF()
    val dt = Pipeline.propertyDatatypes(corpus).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dt.get("P31").contains("wikibase-item"))
    assert(dt.get("P569").contains("time"))
    assert(dt.get("P1082").contains("quantity"))
  }

  test("S1: zstd dump scan round-trips via zstd-jni special-case (reference ZstdDumpFile parity)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("zstd-dump").toString
    val n = 300
    val lines = (0L until n.toLong).map(i => EntityCorpus.contentFor(42L, i))
    EntityCorpus.writeZstdDump(lines.iterator, s"$dir/slice.json.zst")
    val corpus = EntityCorpus.readDump(spark, s"$dir/slice.json.zst")
    assert(corpus.count() == n)
    assert(EntityCorpus.detectFormat(spark, s"$dir/slice.json.zst") == graft.sources.DumpFormat.Fixture)
    // triples from the zstd dump == triples from the in-memory corpus
    val spec = specNamed("humans.json")
    val direct = Pipeline.triples(EntityCorpus.generate(spark, n.toLong).toDF(), spec)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val viaZstd = Pipeline.triples(corpus, spec)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(direct == viaZstd)
    // real-dump dialect through the same zstd path, auto-detected
    val realLines = lines.map(graft.sources.WikidataJson.toDumpJson)
    EntityCorpus.writeZstdDump(realLines.iterator, s"$dir/real.json.zst")
    assert(EntityCorpus.detectFormat(spark, s"$dir/real.json.zst") == graft.sources.DumpFormat.Wikidata)
    val viaReal = Pipeline.triples(EntityCorpus.readDump(spark, s"$dir/real.json.zst"), spec,
      format = graft.sources.DumpFormat.Wikidata)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(direct == viaReal)
  }

  test("S1: a dump line is cleaned once and without a regex in the triples plan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dump-plan").toString
    EntityCorpus.writeDump(spark, 20, s"$dir/dump", "gzip")
    val plan = Pipeline.triples(EntityCorpus.readDump(spark, s"$dir/dump"), specNamed("humans.json"),
        dedup = false).queryExecution.executedPlan.toString
    assert(!plan.contains("regexp_replace"), plan)
    assert("trim\\(".r.findAllIn(plan).size == 1, s"line cleanup not evaluated once:\n$plan")
  }

  test("S1: a zstd dump file is read whole, as one partition, below maxPartitionBytes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zstd-split").toString
    val lines = (0L until 300L).map(i => EntityCorpus.contentFor(42L, i))
    val (zst, zstd) = lines.splitAt(150)
    new java.io.File(s"$dir/both").mkdirs()
    EntityCorpus.writeZstdDump(zst.iterator, s"$dir/both/a.json.zst")
    EntityCorpus.writeZstdDump(zstd.iterator, s"$dir/both/b.json.zstd")
    val smallest = Seq("a.json.zst", "b.json.zstd").map(f => new java.io.File(s"$dir/both/$f").length).min
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, (smallest / 4).toString)
    try {
      Seq(s"$dir/both/a.json.zst" -> (1, zst), s"$dir/both/b.json.zstd" -> (1, zstd),
          s"$dir/both" -> (2, lines)).foreach { case (path, (files, expected)) =>
        val dump = EntityCorpus.readDump(spark, path)
        assert(dump.rdd.getNumPartitions == files, path)
        val content = dump.select("content").collect().map(_.getString(0))
        assert(content.length == expected.size && content.toSet == expected.toSet, path)
      }
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("J2: sites table loads from a file and changes sitelink resolution") {
    val dir = java.nio.file.Files.createTempDirectory("sites").toString
    EntityCorpus.writeSites(spark, s"$dir/sites")
    val loaded = EntityCorpus.readSites(spark, s"$dir/sites")
    assert(loaded == EntityCorpus.sites)
    // a modified table actually flows into the emitted URLs
    val custom = EntityCorpus.sites + ("unknownwiki" -> ("https://unknown.example/wiki/$1", "en"))
    EntityCorpus.writeSites(spark, s"$dir/custom", custom)
    val corpus = EntityCorpus.generate(spark, 500).toDF()
    val spec = specNamed("humans.json")
    val withCustom = Pipeline.triples(corpus, spec,
        sites = EntityCorpus.readSites(spark, s"$dir/custom"))
      .filter(org.apache.spark.sql.functions.col("subj").startsWith("https://unknown.example/"))
    assert(withCustom.count() > 0)
  }

  test("J2: MediaWiki sites-table SQL dump parses to the same table and drives sitelinks") {
    import org.apache.spark.sql.functions.col
    // hand-written dump in the genuine MediaWiki `sites` shape (reversed
    // dotted domain, PHP-serialized page_path, quoted fields with commas)
    val sql =
      """-- MySQL dump of table `sites`
        |DROP TABLE IF EXISTS `sites`;
        |INSERT INTO `sites` VALUES
        |(1,'enwiki','mediawiki','wikipedia','local','en',':https','.org.wikipedia.en.','a:1:{s:5:"paths";a:2:{s:9:"file_path";s:5:"/w/$1";s:9:"page_path";s:8:"/wiki/$1";}}',0,'a:0:{}'),
        |(2,'dewiki','mediawiki','wikipedia','local','de',':https','.org.wikipedia.de.','a:1:{s:5:"paths";a:2:{s:9:"file_path";s:5:"/w/$1";s:9:"page_path";s:8:"/wiki/$1";}}',0,'a:0:{}'),
        |(3,'frwiki','mediawiki','wikipedia','local','fr',':https','.org.wikipedia.fr.','a:1:{s:5:"paths";a:2:{s:9:"file_path";s:5:"/w/$1";s:9:"page_path";s:8:"/wiki/$1";}}',0,'a:0:{}'),
        |(4,'zhwiki','mediawiki','wikipedia','local','zh',':https','.org.wikipedia.zh.','a:1:{s:5:"paths";a:2:{s:9:"file_path";s:5:"/w/$1";s:9:"page_path";s:8:"/wiki/$1";}}',0,'a:0:{}'),
        |(5,'alswiki','mediawiki','wikipedia','local','als',':https','.org.wikipedia.als.','a:1:{s:5:"paths";a:2:{s:9:"file_path";s:5:"/w/$1";s:9:"page_path";s:8:"/wiki/$1";}}',0,'a:0:{}');
        |""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("sites-sql")
    val plain = dir.resolve("sites.sql")
    java.nio.file.Files.writeString(plain, sql)
    val gz = dir.resolve("sites.sql.gz")
    locally {
      val o = new java.util.zip.GZIPOutputStream(java.nio.file.Files.newOutputStream(gz))
      o.write(sql.getBytes("UTF-8")); o.close()
    }
    // both encodings parse to exactly the built-in fixture table
    assert(EntityCorpus.readSites(spark, plain.toString) == EntityCorpus.sites)
    assert(EntityCorpus.readSites(spark, gz.toString) == EntityCorpus.sites)
    // tokenizer edge cases: escaped quotes, commas and parens inside
    // quoted fields, http protocol, rows on one line
    val tricky = """INSERT INTO `sites` VALUES (9,'xwiki','mediawiki','wiki\'s, (group)','local','x',':http','.org.example.x.','a:1:{s:5:"paths";a:1:{s:9:"page_path";s:9:"/view/$1";}}',0,'a:0:{}'),(10,'ywiki','mediawiki','g','local','y','','.org.example.y.','junk-without-path',0,'a:0:{}');"""
    val trickyPath = dir.resolve("tricky.sql")
    java.nio.file.Files.writeString(trickyPath, tricky)
    val parsed = EntityCorpus.readSites(spark, trickyPath.toString)
    assert(parsed("xwiki") == ("http://x.example.org/view/$1", "x"), parsed.toString)
    // missing page_path falls back to /wiki/$1; empty protocol → https
    assert(parsed("ywiki") == ("https://y.example.org/wiki/$1", "y"), parsed.toString)
    // and the parsed table drives sitelink resolution identically to the
    // built-in table on the sitelink goldens' pipeline path
    val corpus = EntityCorpus.generate(spark, 500).toDF()
    val spec = specNamed("humans.json")
    val builtin = Pipeline.triples(corpus, spec)
      .collect().map(_.toString).sorted.toSeq
    val viaSql = Pipeline.triples(corpus, spec,
        sites = EntityCorpus.readSites(spark, gz.toString))
      .collect().map(_.toString).sorted.toSeq
    assert(builtin == viaSql)
    assert(builtin.exists(_.contains("schema.org")) ||
      Pipeline.triples(corpus, spec).filter(col("subj").startsWith("https://en.wikipedia.org/")).count() > 0)
  }
}
