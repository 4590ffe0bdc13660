package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SharedShuffle}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.CollectMetricsExec
import org.apache.spark.sql.functions._
import graft.model.Model._
import graft.spec.{DumpSpec, SpecCompiler}
import graft.emit.TripleEmitter
import graft.sources.{DriverParquet, DumpFormat, EntityCorpus, SnapshotTable}
import org.apache.spark.sql.types.StructType
import java.nio.file.Paths

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
      .filter(SpecCompiler.prefilter(specs, col("content"), format) &&
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
    * skips the document, `FilteredRdfSerializer.java:89-98`). One scan:
    * each row's minimal parse is bound once through a lambda, and both
    * error kinds are read off that one document; the generator keeps
    * the (at most one) error per row from being re-derived by a pushed
    * filter. */
  def errors(corpus: DataFrame, spec: DumpSpec,
             format: DumpFormat = DumpFormat.Fixture): Dataset[ErrorRow] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def error(id: Column, msg: String) = struct(id.as("id"), lit(msg).as("error"))
    val found = transform(array(format.filterDoc(col("content"))), d =>
      when(d.isNull || d("id").isNull, error(lit(""), "malformed document JSON"))
        .when(d("type") === "lexeme" && SpecCompiler.includePredicate(spec, d),
          error(d("id"), "serialization of lexemes not implemented")))
    corpus
      .select(col("repo"), col("path"), inline(filter(found, _.isNotNull)))
      .as[ErrorRow]
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

  /** Exact (specId,s,p,o)-set dedup, one hash pass, built ONCE per
    * returned frame ([[org.apache.spark.sql.SharedShuffle]]): every sink
    * over the frame reads the map output the first one wrote, so scan →
    * gate → parse → emit runs once however many sinks there are.
    * `dropDuplicates` would plan a partial+final hash aggregate whose
    * map-side partial builds a large UnsafeRow hash table per task for
    * only ~1.4× row reduction on this workload (near-unique keys) —
    * measured 10.3 s → 8.7 s at 32t/8M entities by shuffling the raw
    * triples once (hash of the FULL row — uniform by construction, no
    * hot key) and deduping in a single per-partition set pass (guide
    * §1.2 step 1 / §2.3: partial aggregation only pays when it reduces
    * rows). The set holds the shuffle's binary rows; a row is copied
    * only when it is inserted.
    * Memory bound: per-task state = the unique triples of one of the
    * session's `spark.sql.shuffle.partitions` reducers (AQE's initial
    * count; sinks downstream keep their own AQE-sized exchanges). The
    * set does not spill. Output set identical (golden/oracle-tested). */
  private[graft] def dedupTriples(all: DataFrame): SharedShuffle = {
    val keys = Seq("specId", "subj", "pred", "obj")
    require(all.columns.toSeq == keys, s"dedupTriples: expected exactly $keys, got ${all.columns.toSeq}")
    SharedShuffle(all) { it =>
      val seen = new java.util.HashSet[UnsafeRow]()
      it.filter { r =>
        val row = r.asInstanceOf[UnsafeRow]
        !seen.contains(row) && seen.add(row.copy())
      }
    }
  }

  /** S3 multiplexed scan: N specs share ONE pass. Per-spec include bits
    * are computed as an array of Column predicates (so the scan filter
    * is still a pushdown-able disjunction), then each included (doc,
    * spec) pair is emitted — items and properties only; lexemes go to
    * [[errors]] and other document types emit nothing. No caching
    * needed — truly one scan. `dedup` keeps one copy of each (specId,
    * s, p, o) row, through one shuffle that every action over the
    * returned frame shares ([[dedupTriples]]). */
  def triplesMultiplexed(corpus: DataFrame, specs: Seq[(String, DumpSpec)],
                         sites: TripleEmitter.Sites = EntityCorpus.sites,
                         dedup: Boolean = true,
                         format: DumpFormat = DumpFormat.Fixture): DataFrame = {
    val all = emitted(corpus, specs, sites, format, observeCounters = false)
    if (dedup) dedupTriples(all).frame else all
  }

  /** [[triplesMultiplexed]]' deduplicated triples with the A1 counters
    * of every spec riding their one pass: `counters` holds, once an
    * action over `triples` has run that pass, what [[countersMultiplexed]]
    * computes over the whole corpus. */
  private[graft] final class Counted(pass: SharedShuffle, specs: Seq[(String, DumpSpec)]) {
    def triples: DataFrame = pass.frame

    /** Throws until an action over `triples` has run the shared pass;
      * later actions skip that pass and do not count again. */
    def counters: Map[String, (Long, Long)] = {
      if (!pass.mapped) throw new IllegalStateException(
        "counters read before an action over the triples ran their pass")
      val metrics = pass.mapPlan.collectFirst { case c: CollectMetricsExec => c.collectedMetrics }.get
      countersOf(specs, metrics.get)
    }
  }

  /** [[triplesMultiplexed]] (deduplicated), counting as it goes. */
  private[graft] def triplesCounted(corpus: DataFrame, specs: Seq[(String, DumpSpec)],
                                    format: DumpFormat = DumpFormat.Fixture): Counted =
    new Counted(dedupTriples(emitted(corpus, specs, EntityCorpus.sites, format,
      observeCounters = true)), specs)

  /** The multiplexed pass up to emission: (specId, subj, pred, obj) rows
    * with duplicates, the constant prologue of every spec unioned in.
    * `observeCounters` observes the 2N aggregates of
    * [[countersMultiplexed]] over the gated rows. */
  private def emitted(corpus: DataFrame, specs: Seq[(String, DumpSpec)],
                      sites: TripleEmitter.Sites, format: DumpFormat,
                      observeCounters: Boolean): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // any spec wants it → full-parse + deserialize once; the cheap gate
    // and the per-spec include bits both run over the minimal parse
    val gated = gatedDocs(corpus, specs.map(_._2), format,
      keep = Seq(format.filterDoc(col("content")).as("fdoc")))
    // every row a spec includes passes the gate, so the aggregates over
    // the gated rows equal countersMultiplexed's over the whole corpus;
    // Counted reads them back by position
    val observed = if (!observeCounters) gated else {
      val aggs = counterAggs(specs, col("fdoc")).zipWithIndex.map { case (a, i) => a.as(s"c$i") }
      gated.observe("graft_counters", aggs.head, aggs.tail: _*)
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
    val specDefs = specArr.map(_._2)
    val emitted = rows.flatMap { case (doc, inc) =>
      emitDoc(doc, specDefs, inc, sitesB.value)((k, t) =>
        SpecTriple(specArr(k)._1, t.subj, t.pred, t.obj))
    }
    val prologues = specs.flatMap { case (id, _) =>
      TripleEmitter.prologue.map(t => SpecTriple(id, t.subj, t.pred, t.obj))
    }
    emitted.union(spark.createDataset(prologues)).toDF("specId", "subj", "pred", "obj")
  }

  /** The emission of one gated document, shared by the batch, streaming
    * and incremental pipelines: normalized once, then each spec `k` with
    * `inc(k)` emits its triples as `out(k, triple)`. Documents that are
    * neither items nor properties emit nothing. */
  private[graft] def emitDoc[T](doc: EntityDoc, specs: IndexedSeq[DumpSpec], inc: Int => Boolean,
                                sites: TripleEmitter.Sites)(out: (Int, Triple) => T): Iterator[T] = {
    val nd = normalize(doc)
    specs.indices.iterator.flatMap { k =>
      if (inc(k) && TripleEmitter.isSerializable(nd)) TripleEmitter.emit(specs(k), nd, sites).map(out(k, _))
      else Iterator.empty
    }
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
  def writeNt(triples: DataFrame, path: String): Unit =
    ntLines(triples.orderBy("subj", "pred", "obj"))
      .write.mode("overwrite").option("compression", "gzip").text(path)

  /** Partitioned triple-table write (north rule): an EXPLICIT bucket
    * column `pmod(xxhash64(subj), buckets)` drives both the shuffle and
    * the physical layout (`partitionBy("bucket")` → one directory per
    * bucket), so the per-partition lineage manifest `<path>_manifest`
    * (bucket, triples, min_subj, max_subj) audits the files 1:1 —
    * manifest row count == bucket-directory count, per-bucket triple
    * counts == per-directory row counts (resume checks can verify a
    * directory without reading the others). Balanced output regardless
    * of subject skew. Iceberg is the deploy-time format per input_hint;
    * parquet stands in here (no Iceberg runtime in the sandbox). */
  def writeTripleTable(triples: DataFrame, path: String, buckets: Int = 32): Unit =
    writeTripleTableManifest(triples, path, buckets)

  /** One row of a triple table's `_manifest`. */
  private[graft] case class BucketEntry(bucket: Int, triples: Long,
                                        min_subj: String, max_subj: String)
  private val BucketManifestSchema =
    StructType.fromDDL("bucket int, triples bigint, min_subj string, max_subj string")

  /** [[writeTripleTable]], returning its manifest rows.
    *
    * Cost follows the bytes, not the bucket count: the shuffle has
    * `min(buckets, session shuffle width)` partitions, so a small table
    * does not pay one write task per bucket. Every bucket still hashes
    * to exactly one task, and a task writes one file per bucket it
    * holds, so the layout is one file per `bucket=k` directory. The
    * manifest comes from those files' footers (rows, `subj` min/max) and
    * is written on the driver: no job reads the table back. */
  private[graft] def writeTripleTableManifest(triples: DataFrame, path: String,
                                              buckets: Int = 32): Seq[BucketEntry] = {
    val spark = triples.sparkSession
    val width = math.min(buckets, spark.conf.get("spark.sql.shuffle.partitions").toInt)
    triples
      .withColumn("bucket", pmod(xxhash64(col("subj")), lit(buckets.toLong)))
      .repartition(width, col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    val dirs = SnapshotTable.partitionDirs(Paths.get(path), "bucket")
    val footers = SnapshotTable.footerInventory(dirs.map(_._2), Seq("subj"),
      spark.sessionState.newHadoopConf())
    val manifest = dirs.map { case (k, d) =>
      val subj = footers(d).flatMap(_.stats.get("subj"))
      BucketEntry(k.toInt, footers(d).map(_.rows).sum,
        subj.map(_.min).minOption.orNull, subj.map(_.max).maxOption.orNull)
    }.sortBy(_.bucket)
    DriverParquet.write(spark, path + "_manifest", BucketManifestSchema, manifest)
    manifest
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
      .filter(SpecCompiler.prefilter(specs.map(_._2), col("content"), format) &&
        format.gate(col("content"), d => d("type") =!= "lexeme"))
      .select(format.filterDoc(col("content")).as("doc"))
    val aggs = counterAggs(specs, col("doc"))
    countersOf(specs, base.agg(aggs.head, aggs.tail: _*).head().get)
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
