package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Model

/** Deterministic synthetic corpus in the `input_hint` shape:
  * (repo, path, commit, lang, content) — one serialized Wikidata-shaped
  * entity document per row (FIXTURES.md §1-2). Replaces the reference's
  * 30 MB zstd dump slice (`data/slice.json.zst`, git-lfs absent) as the
  * test/bench input. Seeded splitmix64 per row index: no shared PRNG
  * state, so generation is embarrassingly parallel and identical at any
  * parallelism (the per-partition work is a pure function of the global
  * row index).
  *
  * Repo assignment is Zipf-skewed to exercise skew handling: repo k gets
  * a share ∝ 1/(k+1).
  */
object EntityCorpus {

  case class CorpusRow(repo: String, path: String, commit: String, lang: String, content: String)

  /** Entity-type split ~90/9/1 item/property/lexeme (FIXTURES §2;
    * lexemes exercise the reference's NotImplemented skip path,
    * `FilteredRdfSerializer.java:89-98`). */
  private val knownProperties: Seq[(String, String)] = Seq(
    "P31" -> "wikibase-item", "P569" -> "time", "P106" -> "wikibase-item",
    "P50" -> "wikibase-item", "P1082" -> "quantity", "P625" -> "globe-coordinate",
    "P1448" -> "monolingualtext", "P212" -> "string", "P585" -> "time",
    "P1545" -> "string", "P248" -> "wikibase-item", "P854" -> "url",
    "P22" -> "wikibase-item", "P40" -> "wikibase-item", "P279" -> "wikibase-item",
    "P460" -> "wikibase-item"
  )
  private val datatypeCycle = Seq("string", "quantity", "time", "wikibase-item", "url", "external-id")

  /** P31 hub values with power-law frequency (the ids the reference's
    * spec fixtures select on — FIXTURES §2): */
  private val p31Hubs = Seq("Q5", "Q101352", "Q13442814", "Q82955")

  /** site fixture table (broadcast-join input for P8/J2). `alswiki`
    * carries a deprecated language code; `unknownwiki` never resolves. */
  val sites: Map[String, (String, String)] = Map(
    "enwiki" -> ("https://en.wikipedia.org/wiki/$1", "en"),
    "dewiki" -> ("https://de.wikipedia.org/wiki/$1", "de"),
    "frwiki" -> ("https://fr.wikipedia.org/wiki/$1", "fr"),
    "zhwiki" -> ("https://zh.wikipedia.org/wiki/$1", "zh"),
    "alswiki" -> ("https://als.wikipedia.org/wiki/$1", "als")
  )

  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** k-th deterministic draw for row i under `seed`, in [0, bound). */
  private def draw(seed: Long, i: Long, k: Int, bound: Int): Int = {
    val h = splitmix64(seed ^ splitmix64(i * 1000003L + k))
    ((h % bound + bound) % bound).toInt
  }

  private def sha256Hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  // ObjectMapper is thread-safe after configuration; one per JVM
  private val sharedMapper = new ObjectMapper()

  /** Build the JSON `content` for global row index i. Pure function of
    * (seed, i) — field order fixed by insertion order. */
  def contentFor(seed: Long, i: Long): String = {
    val mapper = sharedMapper
    val root = mapper.createObjectNode()
    val bucket = i % 100
    val langs = Seq("en", "de", "fr", "en-gb", "es")

    def putTerms(kind: String, id: String): Unit = {
      val n = 1 + draw(seed, i, kind.hashCode, 3)
      val node = root.putObject(kind)
      (0 until n).foreach { k =>
        val lang = langs((draw(seed, i, kind.hashCode + k + 1, langs.size)))
        node.put(lang, s"$kind $lang of $id")
      }
    }

    def snak(prop: String, k: Int): com.fasterxml.jackson.databind.node.ObjectNode = {
      val s = mapper.createObjectNode()
      s.put("property", prop)
      val st = draw(seed, i, 7000 + k, 20)
      if (st == 0) { s.put("snaktype", "somevalue"); return s }
      if (st == 1) { s.put("snaktype", "novalue"); return s }
      s.put("snaktype", "value")
      val v = s.putObject("value")
      knownProperties.toMap.getOrElse(prop, "string") match {
        case "wikibase-item" =>
          s.put("valueType", "entityid")
          // P31 and P106 draw from the hub distribution so every example
          // spec (humans, politicians, scholarly-*) selects a non-empty set
          v.put("id", if (prop == "P31" || prop == "P106") hubValue(k)
                      else s"Q${1000 + draw(seed, i, 7100 + k, 500)}")
        case "time" =>
          s.put("valueType", "time")
          val y = 1800 + draw(seed, i, 7200 + k, 220)
          val mo = 1 + draw(seed, i, 7300 + k, 12)
          val d = 1 + draw(seed, i, 7400 + k, 28)
          // ~1/5 year-precision (zero month/day), ~1/4 Julian calendar —
          // exercises the SC6 clamping + Julian→Gregorian conversion
          val prec = if (draw(seed, i, 7450 + k, 5) == 0) 9 else 11
          if (prec == 9) v.put("time", f"+$y%04d-00-00T00:00:00Z")
          else v.put("time", f"+$y%04d-$mo%02d-$d%02dT00:00:00Z")
          v.put("precision", prec)
          v.put("calendar", if (draw(seed, i, 7460 + k, 4) == 0) "Q1985786" else "Q1985727")
        case "quantity" =>
          s.put("valueType", "quantity")
          v.put("amount", s"+${draw(seed, i, 7500 + k, 1000000)}")
          v.put("unit", if (draw(seed, i, 7600 + k, 3) == 0) "1" else "Q11573")
        case "globe-coordinate" =>
          s.put("valueType", "globecoordinate")
          v.put("lat", (draw(seed, i, 7700 + k, 18000) - 9000) / 100.0)
          v.put("lon", (draw(seed, i, 7800 + k, 36000) - 18000) / 100.0)
          v.put("precision", 0.01)
          v.put("globe", "Q2")
        case "monolingualtext" =>
          s.put("valueType", "monolingualtext")
          v.put("text", s"name ${draw(seed, i, 7900 + k, 1000)}")
          v.put("lang", langs(draw(seed, i, 7950 + k, langs.size)))
        case _ =>
          s.put("valueType", "string")
          v.put("str", s"val-${draw(seed, i, 7990 + k, 100000)}")
      }
      s
    }

    def hubValue(k: Int): String = {
      // power-law: Q5 heavy, then the other hubs, then a long tail
      val r = draw(seed, i, 6000 + k, 100)
      if (r < 20) p31Hubs(0)
      else if (r < 35) p31Hubs(1)
      else if (r < 50) p31Hubs(2)
      else if (r < 60) p31Hubs(3)
      else s"Q${2000 + draw(seed, i, 6100 + k, 300)}"
    }

    def statements(id: String, isProperty: Boolean): Unit = {
      val arr = root.putArray("statements")
      var sk = 0
      def addStmt(prop: String, rank: String): Unit = {
        val st = arr.addObject()
        st.put("id", f"$id$$${splitmix64(seed ^ (i * 7919L + sk))}%016x-stmt")
        st.put("property", prop)
        st.put("rank", rank)
        st.set("mainSnak", snak(prop, sk * 10))
        val quals = st.putArray("qualifiers")
        if (draw(seed, i, 8000 + sk, 3) == 0) {
          quals.add(snak("P585", sk * 10 + 1))
          if (draw(seed, i, 8050 + sk, 2) == 0) quals.add(snak("P1545", sk * 10 + 2))
        }
        val refs = st.putArray("references")
        if (draw(seed, i, 8100 + sk, 3) == 0) {
          val r1 = refs.addArray()
          r1.add(snak("P248", sk * 10 + 3))
          r1.add(snak("P854", sk * 10 + 4))
          // occasionally the same reference content twice → D1 dedup path
          if (draw(seed, i, 8200 + sk, 4) == 0) {
            val r2 = refs.addArray()
            r2.add(snak("P248", sk * 10 + 3))
            r2.add(snak("P854", sk * 10 + 4))
          }
        }
        sk += 1
      }
      val ranks = Seq("normal", "preferred", "deprecated")
      addStmt("P31", ranks(draw(seed, i, 9000, 10) min 2)) // mostly normal
      // P569 group with mixed ranks → best-rank ≠ all (A3/A4 coverage)
      if (draw(seed, i, 9001, 2) == 0) {
        addStmt("P569", "normal")
        if (draw(seed, i, 9002, 2) == 0) addStmt("P569", "preferred")
        if (draw(seed, i, 9003, 3) == 0) addStmt("P569", "deprecated")
      }
      if (draw(seed, i, 9004, 3) == 0 || isProperty) addStmt("P106", "normal")
      if (draw(seed, i, 9005, 4) == 0) addStmt("P50", "normal")
      if (draw(seed, i, 9006, 4) == 0) addStmt("P1082", "normal")
      if (draw(seed, i, 9007, 5) == 0) addStmt("P625", "normal")
      if (draw(seed, i, 9008, 5) == 0) addStmt("P1448", "normal")
      if (draw(seed, i, 9009, 5) == 0) addStmt("P212", "normal")
      if (draw(seed, i, 9010, 6) == 0) addStmt("P40", "normal")
      // deprecated-only group: best-rank must find nothing
      if (draw(seed, i, 9011, 8) == 0) addStmt("P22", "deprecated")
      // P460 sameAs alias edges (canonicalization input, north-rule step 4)
      if (draw(seed, i, 9012, 10) == 0) addStmt("P460", "normal")
    }

    if (bucket < 90) {
      val id = s"Q${i + 1}"
      root.put("id", id)
      root.put("type", "item")
      putTerms("labels", id)
      putTerms("descriptions", id)
      val aliases = root.putObject("aliases")
      if (draw(seed, i, 300, 2) == 0) {
        val arr = aliases.putArray("en")
        arr.add(s"alias one $id"); arr.add(s"alias two $id")
      }
      val sl = root.putArray("sitelinks")
      val siteKeys = Seq("enwiki", "dewiki", "frwiki", "alswiki", "unknownwiki")
      (0 until draw(seed, i, 400, 4)).foreach { k =>
        val s = sl.addObject()
        s.put("site", siteKeys(draw(seed, i, 410 + k, siteKeys.size)))
        s.put("title", s"Title $id")
        val badges = s.putArray("badges")
        if (draw(seed, i, 420 + k, 5) == 0) badges.add("Q17437796")
      }
      statements(id, isProperty = false)
    } else if (bucket < 99) {
      // unique property docs: first the known properties (so the corpus
      // itself supplies the property→datatype side table, J3), then a
      // synthetic tail
      val pIdx = (i / 100) * 9 + (bucket - 90)
      val (pid, dt) =
        if (pIdx < knownProperties.size) knownProperties(pIdx.toInt)
        else (s"P${10000 + pIdx}", datatypeCycle((pIdx % datatypeCycle.size).toInt))
      root.put("id", pid)
      root.put("type", "property")
      root.put("datatype", dt)
      putTerms("labels", pid)
      putTerms("descriptions", pid)
      root.putObject("aliases")
      root.putArray("sitelinks")
      statements(pid, isProperty = true)
    } else {
      val id = s"L${i + 1}"
      root.put("id", id)
      root.put("type", "lexeme")
      putTerms("labels", id)
      root.putObject("descriptions")
      root.putObject("aliases")
      root.putArray("sitelinks")
      statements(id, isProperty = false)
    }
    mapper.writeValueAsString(root)
  }

  /** Zipf-ish repo for row i over nRepos repos: repo k owns a share
    * ∝ 1/(k+1) of the id space. */
  def repoFor(seed: Long, i: Long, nRepos: Int): String = {
    val h = (splitmix64(seed ^ (i * 31L)) % 1000000 + 1000000) % 1000000
    val hn = math.max(1.0, (1 to nRepos).map(1.0 / _).sum)
    var acc = 0.0
    var k = 0
    val u = h / 1000000.0 * hn
    while (k < nRepos - 1 && { acc += 1.0 / (k + 1); acc < u }) k += 1
    f"repo-$k%04d"
  }

  /** Generate the corpus as a distributed Dataset — `spark.range` scales
    * to any row count; each partition generates independently. Row
    * content is a pure function of the global row index, so the
    * generated SET is identical at any `numPartitions` (0 = Spark's
    * default parallelism); an explicit count lets callers control
    * output file count without a repartition shuffle. */
  def generate(spark: SparkSession, n: Long, seed: Long = 42L, nRepos: Int = 50,
               numPartitions: Int = 0): Dataset[CorpusRow] = {
    import spark.implicits._
    val base = if (numPartitions > 0) spark.range(0L, n, 1L, numPartitions) else spark.range(n)
    base.mapPartitions { it =>
      it.map { i =>
        val repo = repoFor(seed, i, nRepos)
        val path = f"entities/$i%06d.json"
        CorpusRow(repo, path, sha256Hex(repo + path).substring(0, 40), "wikidata-json", contentFor(seed, i))
      }
    }
  }

  /** A parquet corpus table, read with the [[CorpusRow]] schema: no
    * schema-inference (footer) job. Columns missing from the files read
    * as null; extra ones are not read. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Encoders.product[CorpusRow].schema).parquet(path)

  /** The corpus a `Cli` or `Backend` argument names, with its dialect:
    *  - `gen:<n>`: the synthetic corpus of n rows ([[generate]]);
    *  - `dump:<path>`, or a path ending in `.gz`, `.bz2`, `.zst` or
    *    `.zstd`: a line-JSON dump ([[readDump]]) in the dialect sniffed
    *    from its first document ([[detectFormat]]);
    *  - any other path: a parquet corpus table ([[readParquet]]). */
  def open(spark: SparkSession, arg: String): (DataFrame, DumpFormat) =
    if (arg.startsWith("gen:")) (generate(spark, arg.drop(4).toLong).toDF(), DumpFormat.Fixture)
    else dumpPath(arg) match {
      case Some(p) => (readDump(spark, p), detectFormat(spark, p))
      case None => (readParquet(spark, arg), DumpFormat.Fixture)
    }

  /** The dump file or directory a corpus argument names, if it names a
    * dump (see [[open]]). */
  def dumpPath(arg: String): Option[String] =
    if (arg.startsWith("dump:")) Some(arg.drop(5))
    else if (Seq(".gz", ".bz2", ".zst", ".zstd").exists(arg.endsWith)) Some(arg)
    else None

  /** S1: scan a raw MediaWiki-style JSON entity dump (one entity per
    * line; Wikidata dumps wrap lines in a JSON array with trailing
    * commas — tolerated and stripped): one file or a directory, gzip,
    * bzip2, `.zst` or `.zstd`, on any Hadoop filesystem, all through
    * Spark's text source. The read option registers parquet's zstd-jni
    * codec for `.zstd`, a file Spark would otherwise split and fail to
    * seek in. A compressed file decodes as one task, like the reference's
    * one stream (`ext/ZstdDumpFile.java:17-23`). Each line is cleaned once,
    * behind a generator that a pushed filter cannot see through. */
  def readDump(spark: SparkSession, path: String): DataFrame = {
    val content = transform(array(trim(col("value"))), line =>
      when(line.endsWith(","), line.substr(lit(1), length(line) - 1)).otherwise(line))
    spark.read.option("io.compression.codecs", "org.apache.parquet.hadoop.codec.ZstandardCodec")
      .text(path)
      .select(input_file_name().as("path"),
        explode(filter(content, c => length(c) > 1 && c.startsWith("{"))).as("content"))
      .select(
        lit("dump").as("repo"),
        col("path"),
        sha2(concat(col("path"), col("content")), 256).substr(1, 40).as("commit"),
        lit("wikidata-json").as("lang"),
        col("content"))
  }

  /** test/bench helper: write lines as one .zst file (zstd-jni stream). */
  def writeZstdDump(lines: Iterator[String], file: String): Unit = {
    val out = new com.github.luben.zstd.ZstdOutputStream(
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(file), 1 << 20))
    val w = new java.io.OutputStreamWriter(out, java.nio.charset.StandardCharsets.UTF_8)
    lines.foreach { l => w.write(l); w.write('\n') }
    w.close()
  }

  /** Load the sitelink resolution table (J2) from a dump-adjacent file:
    *  - `*.sql` / `*.sql.gz`: the MediaWiki **sites table dump**
    *    (`wikidatawiki-YYYYMMDD-sites.sql.gz`) — the exact shape the
    *    reference consumes via `controller.getSitesInformation()`
    *    (`DumpRunner.java:71`, wdtk parses the same dump);
    *  - `*.csv`: header CSV with columns (site, url_pattern, lang);
    *  - otherwise: JSON lines with the same three fields.
    * The table is inherently tiny (one row per wiki); it is collected
    * and broadcast at the join site. */
  def readSites(spark: SparkSession, path: String): Map[String, (String, String)] = {
    if (path.endsWith(".sql") || path.endsWith(".sql.gz")) return parseSitesSqlDump(path)
    val df =
      if (path.endsWith(".csv")) spark.read.option("header", "true").csv(path)
      else spark.read.schema("site STRING, url_pattern STRING, lang STRING").json(path)
    df.select("site", "url_pattern", "lang").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
  }

  /** Parse a MediaWiki `sites` table SQL dump into site → (url_pattern,
    * lang). Public schema (MediaWiki sites table): (site_id,
    * site_global_key, site_type, site_group, site_source, site_language,
    * site_protocol, site_domain, site_data, site_forward, site_config) —
    * the domain is stored REVERSED with a trailing dot
    * (`.org.wikipedia.en.`), the page path lives in the PHP-serialized
    * site_data blob (`s:9:"page_path";s:N:"/wiki/$1"`), and the URL
    * pattern is protocol + un-reversed domain + page_path. Driver-side
    * parse: the file is a few hundred KB for all of Wikimedia. */
  def parseSitesSqlDump(path: String): Map[String, (String, String)] = {
    val raw = new java.io.BufferedInputStream(new java.io.FileInputStream(path), 1 << 16)
    val in = if (path.endsWith(".gz")) new java.util.zip.GZIPInputStream(raw) else raw
    val sql = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val pagePathRe = """page_path";s:\d+:"([^"]*)"""".r
    tuplesIn(sql).flatMap { fields =>
      if (fields.length < 9) None
      else {
        val key = fields(1); val lang = fields(5)
        val protocol = fields(6).replaceAll("^:+", "") match {
          case "" => "https" case p => p.stripSuffix(":")
        }
        val domain = fields(7).stripPrefix(".").stripSuffix(".")
          .split('.').reverse.mkString(".")
        val pagePath = pagePathRe.findFirstMatchIn(fields(8)).map(_.group(1)).getOrElse("/wiki/$1")
        if (key.isEmpty || domain.isEmpty) None
        else Some(key -> (s"$protocol://$domain$pagePath", lang))
      }
    }.toMap
  }

  /** All `(...)` tuples in an SQL INSERT body as raw string fields
    * (single-quote strings with backslash escapes, unquoted literals
    * kept verbatim). Minimal, tolerant of embedded commas/parens inside
    * strings. */
  private def tuplesIn(sql: String): Seq[Seq[String]] = {
    val out = Seq.newBuilder[Seq[String]]
    var i = sql.indexOf("VALUES")
    if (i < 0) i = 0
    var fields = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inTuple = false; var inStr = false
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inStr) {
        if (c == '\\' && i + 1 < sql.length) { cur.append(sql.charAt(i + 1)); i += 1 }
        else if (c == '\'') inStr = false
        else cur.append(c)
      } else if (!inTuple) {
        if (c == '(') { inTuple = true; fields = Seq.newBuilder; cur.clear() }
      } else c match {
        case '\'' => inStr = true
        case ',' => fields += cur.toString.trim; cur.clear()
        case ')' => fields += cur.toString.trim; out += fields.result(); inTuple = false
        case _ => cur.append(c)
      }
      i += 1
    }
    out.result()
  }

  /** write a site table as JSON lines (fixture/export helper). */
  def writeSites(spark: SparkSession, path: String,
                 table: Map[String, (String, String)] = sites): Unit = {
    import spark.implicits._
    table.toSeq.map { case (s, (u, l)) => (s, u, l) }
      .toDF("site", "url_pattern", "lang")
      .coalesce(1).write.mode("overwrite").json(path)
  }

  /** test/bench helper: write the synthetic corpus as a compressed
    * line-JSON dump (the reference's input format). */
  def writeDump(spark: SparkSession, n: Long, path: String,
                codec: String = "gzip", seed: Long = 42L): Unit = {
    import spark.implicits._
    generate(spark, n, seed).map(_.content)
      .write.mode("overwrite").option("compression", codec).text(path)
  }

  /** Parse the raw corpus into documents (S2): from_json with the fixed
    * schema (never inferred), carrying the sha256(content) lineage
    * column (north-rule per-row invariant) and the source row identity.
    * Malformed rows yield a null doc → error channel (S6). Defaults to
    * the fixture dialect; pass DumpFormat.Wikidata for real dump JSON. */
  def parse(df: DataFrame, format: DumpFormat = DumpFormat.Fixture): DataFrame = {
    df.select(
      col("repo"), col("path"), col("commit"),
      sha2(col("content"), 256).as("content_sha256"),
      format.doc(col("content")).as("doc"))
  }

  /** Sniff the JSON dialect of a dump from its first document line
    * (driver-side, O(1) — take(1) stops the scan after one row): real
    * Wikidata dumps keep statements in a `claims` object; the fixture
    * shape uses a `statements` array. Works for gzip/bz2/zstd inputs
    * (rides readDump's line source). */
  def detectFormat(spark: SparkSession, path: String): DumpFormat = {
    val head = readDump(spark, path).select("content").head(1)
    if (head.nonEmpty && head(0).getString(0).contains("\"claims\"")) DumpFormat.Wikidata
    else DumpFormat.Fixture
  }
}
