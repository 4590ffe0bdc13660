package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Model._
import graft.spec.{DumpSpec, SpecCompiler}
import graft.emit.TripleEmitter
import graft.sources.{DumpFormat, EntityCorpus}

/** End-to-end KG-construction pipeline: corpus → parse → spec filter →
  * triple emission → dedup → partitioned write, with lineage + metrics.
  *
  * One plan serves every spec count: [[triplesMultiplexed]] is the
  * pipeline, and single-spec [[triples]] is its N=1 slice — as the
  * reference's single-spec `Cli` is `DumpRunner` with one processor
  * (`DumpRunner.java:78-86`). Execution shape (SURVEY §4): ONE narrow
  * stage from scan through emission (filter and flatMap are both
  * per-row); the only shuffles are (a) the global (spec,s,p,o) dedup the
  * north rule requires and (b) the explicit output repartition by
  * subj-hash. Filters are Column expressions (codegen + pushdown), never
  * closures. The parse happens once per scan however many specs share it.
  *
  * Parse cost discipline ([[gatedDocs]], the one scan-gate chain): the
  * include gate runs over a MINIMAL-schema `from_json` bound once per row
  * through a lambda (DumpFormat.gate), so excluded rows pay only the
  * pruned parse and predicate pushdown cannot duplicate it; the
  * full-schema parse happens exactly once, for surviving rows only.
  * Input dialect (synthetic fixture vs real Wikidata dump JSON) is a
  * DumpFormat parameter.
  */
object Pipeline {

  case class ErrorRow(repo: String, path: String, id: String, error: String)

  /** Defensive normalization: from_json yields nulls for absent nested
    * fields; the emitter works over empty collections instead. */
  def normalize(d: EntityDoc): EntityDoc = {
    def nz[T](s: Seq[T]): Seq[T] = Option(s).getOrElse(Nil)
    def nzm[K, V](m: Map[K, V]): Map[K, V] = Option(m).getOrElse(Map.empty)
    def nSnak(s: Snak): Snak = if (s == null) Snak(null, "novalue", None, None) else s
    d.copy(
      labels = nzm(d.labels),
      descriptions = nzm(d.descriptions),
      aliases = nzm(d.aliases).map { case (k, v) => k -> nz(v) },
      sitelinks = nz(d.sitelinks).map(sl => sl.copy(badges = nz(sl.badges))),
      statements = nz(d.statements).map(s => s.copy(
        mainSnak = nSnak(s.mainSnak),
        qualifiers = nz(s.qualifiers).map(nSnak),
        references = nz(s.references).map(nz(_).map(nSnak)),
        refHashes = nz(s.refHashes)))
    )
  }

  /** union scan pre-gate for a multiplexed pass: a row can serve SOME
    * spec only if it passes SOME spec's pre-gate; usable only when
    * EVERY spec has one (an include-all spec gates nothing). */
  private def prefilterMulti(specs: Seq[DumpSpec], format: DumpFormat): Column = {
    val all = specs.map(SpecCompiler.prefilterTokens(_, format))
    if (all.isEmpty || all.exists(_.isEmpty)) lit(true)
    else all.flatMap(_.get).distinct.map(t => col("content").contains(t)).reduce(_ || _)
  }

  /** Parsed-document view of a corpus: columns (repo, path, commit,
    * content_sha256, doc). */
  def parsed(corpus: DataFrame, format: DumpFormat = DumpFormat.Fixture): DataFrame =
    corpus.select(
      col("repo"), col("path"), col("commit"),
      sha2(col("content"), 256).as("content_sha256"),
      format.doc(col("content")).as("doc"))

  private[graft] def docColumns = Seq(
    col("doc.id").as("id"), col("doc.type").as("etype"), col("doc.datatype").as("datatype"),
    col("doc.labels").as("labels"), col("doc.descriptions").as("descriptions"),
    col("doc.aliases").as("aliases"), col("doc.sitelinks").as("sitelinks"),
    col("doc.statements").as("statements"))

  /** The scan-gate chain of every KG path, written once: the raw
    * substring pre-gate, then the minimal-parse gate (some spec includes
    * the document, which is no lexeme when `excludeLexemes`), then the
    * full parse for survivors only, as column `doc` after `keep`. The
    * pre-gate goes first: And short-circuits in codegen, so rows failing
    * the cheap substring test never pay the gate parse. */
  private[graft] def gatedDocs(corpus: DataFrame, specs: Seq[DumpSpec], format: DumpFormat,
                               excludeLexemes: Boolean = true,
                               keep: Seq[Column] = Nil): DataFrame =
    corpus
      .filter(prefilterMulti(specs, format) &&
        format.gate(col("content"), d =>
          (if (excludeLexemes) d("type") =!= "lexeme" else lit(true)) &&
            specs.map(SpecCompiler.includePredicate(_, d)).reduce(_ || _)))
      .select(keep :+ format.doc(col("content")).as("doc"): _*)

  /** Included documents for one spec, as a typed Dataset: the
    * [[gatedDocs]] survivors, deserialized. */
  def includedDocs(corpus: DataFrame, spec: DumpSpec,
                   format: DumpFormat = DumpFormat.Fixture,
                   excludeLexemes: Boolean = false): Dataset[EntityDoc] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    gatedDocs(corpus, Seq(spec), format, excludeLexemes).select(docColumns: _*).as[EntityDoc]
  }

  /** S6 error channel: rows that fail JSON parse, plus included lexeme
    * documents (reference raises NotImplementedException for lexemes and
    * skips the document, `FilteredRdfSerializer.java:89-98`). */
  def errors(corpus: DataFrame, spec: DumpSpec,
             format: DumpFormat = DumpFormat.Fixture): Dataset[ErrorRow] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val parseErrors = corpus
      .filter(!format.gate(col("content"), _ => lit(true)))
      .select(col("repo"), col("path"), lit("").as("id"), lit("malformed document JSON").as("error"))
    val lexemes = corpus
      .filter(format.gate(col("content"),
        d => d("type") === "lexeme" && SpecCompiler.includePredicate(spec, d)))
      .select(col("repo"), col("path"), format.filterDoc(col("content"))("id").as("id"),
        lit("serialization of lexemes not implemented").as("error"))
    parseErrors.union(lexemes).as[ErrorRow]
  }

  /** specId of the N=1 slices; empty, so the carried column costs a
    * length word per row. */
  private val LoneSpec = ""

  /** Triples for one spec: the N=1 slice of [[triplesMultiplexed]].
    * Deduplicated (s,p,o) per the north rule; the constant prologue (S5)
    * is unioned in. Documents that are neither items nor properties emit
    * nothing (lexemes go to [[errors]]). */
  def triples(corpus: DataFrame, spec: DumpSpec,
              sites: TripleEmitter.Sites = EntityCorpus.sites,
              dedup: Boolean = true,
              format: DumpFormat = DumpFormat.Fixture): DataFrame =
    triplesMultiplexed(corpus, Seq(LoneSpec -> spec), sites, dedup, format).drop("specId")

  /** Exact (specId,s,p,o)-set dedup, one hash pass. `dropDuplicates`
    * plans a partial+final hash aggregate; the map-side partial builds a
    * large UnsafeRow hash table per task for only ~1.4× row reduction on
    * this workload (near-unique keys) — measured 10.3 s → 8.7 s at
    * 32t/8M entities by shuffling the raw triples once (hash of the FULL
    * row — uniform by construction, no hot key) and deduping in a single
    * per-partition set pass (guide §1.2 step 1 / §2.3: partial
    * aggregation only pays when it reduces rows).
    * Memory bound: per-task state = the partition's unique triples; the
    * repartition has no fixed partition count, so AQE sizes post-shuffle
    * partitions to `advisoryPartitionSizeInBytes` — the set is bounded
    * by the advisory size, the same knob that bounds every other
    * reduce-side task state. Output set identical (golden/oracle-tested). */
  private[graft] def dedupTriples(all: DataFrame): DataFrame = {
    val spark = all.sparkSession
    import spark.implicits._
    val keys = Seq("specId", "subj", "pred", "obj")
    require(all.columns.toSeq == keys, s"dedupTriples: expected exactly $keys, got ${all.columns.toSeq}")
    all.repartition(keys.map(col): _*)
      .as[(String, String, String, String)]
      .mapPartitions { it =>
        val seen = new java.util.HashSet[(String, String, String, String)]()
        it.filter(seen.add)
      }
      .toDF(keys: _*)
  }

  /** S3 multiplexed scan: N specs share ONE pass. Per-spec include bits
    * are computed as an array of Column predicates (so the scan filter
    * is still a pushdown-able disjunction), then each included (doc,
    * spec) pair is emitted — items and properties only; lexemes go to
    * [[errors]] and other document types emit nothing. No caching
    * needed — truly one scan. `dedup` keeps one copy of each (specId,
    * s, p, o) row.
    *
    * `counters`: when given, the A1 counters of every spec ride the same
    * pass as `observe` metrics on the gated rows — the 2N aggregates of
    * [[countersMultiplexed]], read back with [[observedCounters]] once an
    * action over the result has finished. */
  def triplesMultiplexed(corpus: DataFrame, specs: Seq[(String, DumpSpec)],
                         sites: TripleEmitter.Sites = EntityCorpus.sites,
                         dedup: Boolean = true,
                         format: DumpFormat = DumpFormat.Fixture,
                         counters: Option[Observation] = None): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // any spec wants it → full-parse + deserialize once; the cheap gate
    // and the per-spec include bits both run over the minimal parse
    val gated = gatedDocs(corpus, specs.map(_._2), format,
      keep = Seq(format.filterDoc(col("content")).as("fdoc")))
    // every row a spec includes passes the gate, so the aggregates over
    // the gated rows equal countersMultiplexed's over the whole corpus;
    // they are named c<i> by position for observedCounters
    val observed = counters.fold(gated) { obs =>
      val aggs = counterAggs(specs, col("fdoc")).zipWithIndex.map { case (a, i) => a.as(s"c$i") }
      gated.observe(obs, aggs.head, aggs.tail: _*)
    }
    // the gate already is a lone spec's include bit, so N=1 needs no
    // `fdoc` and the optimizer prunes its parse when nothing observes it
    val inc =
      if (specs.size == 1) Seq(lit(true))
      else specs.map { case (_, s) => SpecCompiler.includePredicate(s, col("fdoc")) }
    val rows = observed
      .select(struct(docColumns: _*).as("d"), array(inc: _*).as("inc"))
      .as[(EntityDoc, Seq[Boolean])]
    val specArr = specs.toIndexedSeq
    // J2: the site table rides as a broadcast variable (one copy per
    // executor, not per task — matters at 1000 executors)
    val sitesB = spark.sparkContext.broadcast(sites)
    val emitted = rows.flatMap { case (doc, inc) =>
      val nd = normalize(doc)
      specArr.indices.iterator.flatMap { k =>
        if (inc(k) && TripleEmitter.isSerializable(nd))
          TripleEmitter.emit(specArr(k)._2, nd, sitesB.value)
            .map(t => SpecTriple(specArr(k)._1, t.subj, t.pred, t.obj))
        else Iterator.empty
      }
    }
    val prologues = specs.flatMap { case (id, _) =>
      TripleEmitter.prologue.map(t => SpecTriple(id, t.subj, t.pred, t.obj))
    }
    val all = emitted.union(spark.createDataset(prologues)).toDF("specId", "subj", "pred", "obj")
    if (dedup) dedupTriples(all) else all
  }

  /** Format as N-Triples lines (SC1-SC3). */
  def ntLines(triples: DataFrame): Dataset[String] = {
    val spark = triples.sparkSession
    import spark.implicits._
    triples.select(
      concat(lit("<"), col("subj"), lit("> <"), col("pred"), lit("> "), col("obj"), lit(" ."))
        .as("line")).as[String]
  }

  /** S4 gzip N-Triples sink. Canonical order (subj, pred, obj) replaces
    * the reference's scan order (SURVEY §2.7): rangepartition+sort keeps
    * the sort distributed. */
  def writeNt(triples: DataFrame, path: String, sorted: Boolean = true): Unit = {
    val t = if (sorted) triples.orderBy("subj", "pred", "obj") else triples
    ntLines(t).write.mode("overwrite").option("compression", "gzip").text(path)
  }

  /** Partitioned triple-table write (north rule): an EXPLICIT bucket
    * column `pmod(xxhash64(subj), buckets)` drives both the shuffle and
    * the physical layout (`partitionBy("bucket")` → one directory per
    * bucket), so the per-partition lineage manifest audits the files
    * 1:1 — manifest row count == bucket-directory count, per-bucket
    * triple counts == per-directory row counts (resume checks can
    * verify a directory without reading the others). Balanced output
    * regardless of subject skew. Iceberg is the deploy-time format per
    * input_hint; parquet stands in here (no Iceberg runtime in the
    * sandbox). */
  def writeTripleTable(triples: DataFrame, path: String, buckets: Int = 32): Unit = {
    val t = triples
      .withColumn("bucket", pmod(xxhash64(col("subj")), lit(buckets.toLong)))
      .repartition(buckets, col("bucket"))
    t.write.mode("overwrite").partitionBy("bucket").parquet(path)
    val manifest = t.sparkSession.read.parquet(path)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("triples"), min("subj").as("min_subj"), max("subj").as("max_subj"))
    manifest.coalesce(1).write.mode("overwrite").parquet(path + "_manifest")
  }

  /** S8: byte-ish preview — first n triples in canonical order. */
  def preview(triples: DataFrame, n: Int): DataFrame =
    triples.orderBy("subj", "pred", "obj").limit(n)

  /** P7 as a pure-Column plan (no object boundary): term triples
    * straight off the parsed struct via explode + the native nt_escape
    * expression — one whole-stage-codegen span from scan to output.
    * Demonstrates the expression-only alternative to the typed flatMap;
    * semantically identical to the emitter's term path (tested). */
  def termTriplesSql(corpus: DataFrame, spec: DumpSpec,
                     format: DumpFormat = DumpFormat.Fixture): DataFrame = {
    val spark = corpus.sparkSession
    graft.functions.GraftExtensions.register(spark)
    val p = gatedDocs(corpus, Seq(spec), format)
    val subj = concat(lit(graft.emit.Vocab.WD), col("doc.id"))
    // nt_escape resolves through the registry (GraftExtensions.register
    // above) — public API route to a custom Expression in Spark 4
    def langTerm(text: Column, lang: Column): Column =
      concat(lit("\""), call_function("nt_escape", text), lit("\"@"), lang)

    def simpleTerms(field: String, pred: String): DataFrame =
      p.select(subj.as("subj"), explode(col(s"doc.$field")).as(Seq("lang", "text")))
        .filter(SpecCompiler.languagePredicate(spec, col("lang")))
        .select(col("subj"), lit(pred).as("pred"), langTerm(col("text"), col("lang")).as("obj"))

    val parts = Seq(
      if (spec.labels) Some(simpleTerms("labels", graft.emit.Vocab.RDFS_LABEL)) else None,
      if (spec.descriptions) Some(simpleTerms("descriptions", graft.emit.Vocab.SCHEMA_DESCRIPTION)) else None,
      if (spec.aliases) Some(
        p.select(subj.as("subj"), explode(col("doc.aliases")).as(Seq("lang", "texts")))
          .filter(SpecCompiler.languagePredicate(spec, col("lang")))
          .select(col("subj"), explode(col("texts")).as("text"), col("lang"))
          .select(col("subj"), lit(graft.emit.Vocab.SKOS_ALT_LABEL).as("pred"),
            langTerm(col("text"), col("lang")).as("obj"))) else None
    ).flatten
    parts.reduceOption(_ union _)
      .getOrElse(spark.emptyDataset(org.apache.spark.sql.Encoders.product[graft.model.Model.Triple]).toDF())
      .dropDuplicates("subj", "pred", "obj")
  }

  /** A1 counters for one spec, (includedEntities, includedStatements):
    * the N=1 entry of [[countersMultiplexed]]. Statements are counted
    * once even if both simple+full are emitted, and BEFORE the rank gate
    * (reference `FilteredRdfSerializer.java:328-331`). */
  def counters(corpus: DataFrame, spec: DumpSpec,
               format: DumpFormat = DumpFormat.Fixture): (Long, Long) =
    countersMultiplexed(corpus, Seq(LoneSpec -> spec), format)(LoneSpec)

  /** A1 counters for N specs in ONE corpus pass: per-spec conditional
    * aggregates (sum(when(include_k, …))) — at 10^12 rows this replaces
    * N+1 full scans with one. Returns specId → (entities, statements). */
  def countersMultiplexed(corpus: DataFrame, specs: Seq[(String, DumpSpec)],
                          format: DumpFormat = DumpFormat.Fixture): Map[String, (Long, Long)] = {
    // rows failing every spec's pre-gate contribute zero to every
    // conditional aggregate — exclude them before any parse
    val base = corpus
      .filter(prefilterMulti(specs.map(_._2), format) &&
        format.gate(col("content"), d => d("type") =!= "lexeme"))
      .select(format.filterDoc(col("content")).as("doc"))
    val aggs = counterAggs(specs, col("doc"))
    countersOf(specs, base.agg(aggs.head, aggs.tail: _*).head().get)
  }

  /** The counters a `triplesMultiplexed(..., counters = Some(obs))` pass
    * observed, in [[countersMultiplexed]]'s shape. Blocks until an action
    * over that pass has finished. */
  def observedCounters(obs: Observation,
                       specs: Seq[(String, DumpSpec)]): Map[String, (Long, Long)] = {
    val metrics = obs.get
    countersOf(specs, i => metrics(s"c$i"))
  }

  /** Per spec k, the conditional aggregates at 2k (entities) and 2k+1
    * (statements) over the filter-parsed document column `doc`. */
  private def counterAggs(specs: Seq[(String, DumpSpec)], doc: Column): Seq[Column] =
    specs.flatMap { case (_, spec) =>
      val inc = SpecCompiler.includePredicate(spec, doc)
      Seq(
        sum(when(inc, 1L).otherwise(0L)),
        sum(when(inc, SpecCompiler.includedStatementsExpr(spec, doc).cast("long"))
          .otherwise(0L)))
    }

  /** The values of [[counterAggs]], by position, as specId →
    * (entities, statements); the sums are null over zero rows. */
  private def countersOf(specs: Seq[(String, DumpSpec)], value: Int => Any): Map[String, (Long, Long)] =
    specs.zipWithIndex.map { case ((name, _), k) =>
      name -> (Option(value(2 * k)).fold(0L)(_.asInstanceOf[Long]),
               Option(value(2 * k + 1)).fold(0L)(_.asInstanceOf[Long]))
    }.toMap

  /** J3: property→datatype side table derived from the corpus itself in
    * a first pass (replaces the reference's mutable PropertyRegister,
    * `FilteredRdfSerializer.java:160-161` — removes scan-order
    * dependence). Small by construction → broadcast it at join sites. */
  def propertyDatatypes(corpus: DataFrame,
                        format: DumpFormat = DumpFormat.Fixture): DataFrame =
    corpus
      .filter(format.gate(col("content"), d => d("type") === "property"))
      .select(format.filterDoc(col("content")).as("d"))
      .select(col("d.id").as("property"), col("d.datatype").as("datatype"))
      .dropDuplicates("property")
}
