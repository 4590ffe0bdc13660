package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Pipeline
import graft.model.Model.EntityDoc
import graft.spec.DumpSpec
import graft.emit.TripleEmitter
import graft.sources.{DumpFormat, EntityCorpus}

/** Incremental refresh: recompute triples ONLY for entities whose
  * content changed between two corpus versions, reuse the previous
  * run's triples for unchanged entities, drop deleted entities.
  *
  * The whole design rides on one invariant the engine already
  * guarantees: triple emission is a pure per-entity function of
  * (entity content, spec) — deterministic sampling (F7 hash
  * membership), content-addressed value/reference nodes, skolem IRIs.
  * So "this entity's bytes did not change" (per-row sha256, the north
  * rule's content invariant) implies "its triples did not change",
  * byte for byte. Daily Wikidata-style dumps change a small percent of
  * entities; at 100 TB that turns a full parse+emit pass — the cost
  * that dominates the pipeline — into a delta-sized one.
  *
  * Scale shape: the diff tables are (src, src_sha) pairs — two slim
  * columns per corpus row, never the content. The only join touching
  * the (huge) old triple table is a semi-join on (src, src_sha); on a
  * deployed lakehouse the lineage table is stored bucketed by src so
  * that side never shuffles, and the delta side is broadcast-sized by
  * assumption (AQE picks the strategy here). The recompute side runs
  * the normal gated pipeline over a delta-sized corpus slice.
  */
object Incremental {

  /** entity recompute/keep/drop counts for one refresh (entity-level,
    * computed over the slim sha tables only — no triple-table scan) */
  case class RefreshStats(recomputed: Long, unchanged: Long, removed: Long)

  /** Content identity of every corpus row: (src, src_sha). The id comes
    * from the cheap minimal-schema parse (same one the scan gate uses),
    * the sha from the raw bytes — per-row invariant of the north rule. */
  def corpusShas(corpus: DataFrame, format: DumpFormat = DumpFormat.Fixture): DataFrame =
    corpus.select(
      format.filterDoc(col("content"))("id").as("src"),
      sha2(col("content"), 256).as("src_sha"))

  /** Triples with per-entity lineage, pre-dedup: (src, src_sha, subj,
    * pred, obj). Same gate chain (`Pipeline.gatedDocs`) and emission as
    * `Pipeline.triples`; the corpus-independent prologue is NOT included
    * — it belongs to a dump, not to an entity. */
  def triplesWithLineage(corpus: DataFrame, spec: DumpSpec,
                         sites: TripleEmitter.Sites = EntityCorpus.sites,
                         format: DumpFormat = DumpFormat.Fixture): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val rows = Pipeline.gatedDocs(corpus, Seq(spec), format,
        keep = Seq(sha2(col("content"), 256).as("src_sha")))
      .select(col("src_sha"), struct(Pipeline.docColumns: _*).as("d"))
      .as[(String, EntityDoc)]
    val sitesB = spark.sparkContext.broadcast(sites)
    rows.flatMap { case (sha, doc) =>
      val nd = Pipeline.normalize(doc)
      if (TripleEmitter.isSerializable(nd))
        TripleEmitter.emit(spec, nd, sitesB.value).map(t => (nd.id, sha, t.subj, t.pred, t.obj))
      else Nil
    }.toDF("src", "src_sha", "subj", "pred", "obj")
  }

  /** Entity-level diff between two content-identity tables (src,
    * src_sha): which sources a refresh must recompute (changed or new)
    * and which it must remove (deleted). Pure anti-joins over the slim
    * sha tables — the classification never reads content or triples. */
  def diff(oldShas: DataFrame, newShas: DataFrame): DataFrame =
    newShas.join(oldShas, Seq("src", "src_sha"), "left_anti")
      .select(col("src"), lit("recompute").as("action"))
      .unionByName(oldShas.join(newShas, Seq("src"), "left_anti")
        .select(col("src"), lit("removed").as("action")))

  /** One refresh step. `oldTriples` is a previous `triplesWithLineage`
    * output (any number of refreshes deep), `oldShas` the matching
    * previous `corpusShas`; both would live as lakehouse tables.
    * Returns the new lineage table — provably equal to a full recompute
    * over `newCorpus` (IncrementalSpec asserts bag equality) — plus
    * entity-level stats. Changed AND new entities recompute; unchanged
    * entities' triples are reused without touching their content;
    * deleted entities' triples drop out of the semi-join. */
  def refresh(oldTriples: DataFrame, oldShas: DataFrame, newCorpus: DataFrame,
              spec: DumpSpec,
              sites: TripleEmitter.Sites = EntityCorpus.sites,
              format: DumpFormat = DumpFormat.Fixture): (DataFrame, RefreshStats) = {
    val newShas = corpusShas(newCorpus, format).cache()
    val toRecompute = newShas.join(oldShas, Seq("src", "src_sha"), "left_anti").cache()
    val stats = RefreshStats(
      recomputed = toRecompute.count(),
      unchanged = newShas.join(oldShas, Seq("src", "src_sha"), "left_semi").count(),
      removed = oldShas.join(newShas, Seq("src"), "left_anti").count())
    // content join key: the sha is the entity's content identity (the
    // id is embedded in the content, so equal sha implies equal id)
    val changedCorpus = newCorpus.withColumn("__sha", sha2(col("content"), 256))
      .join(toRecompute.select(col("src_sha").as("__sha")).distinct(), Seq("__sha"), "left_semi")
      .drop("__sha")
    val recomputed = triplesWithLineage(changedCorpus, spec, sites, format)
    val kept = oldTriples.join(newShas, Seq("src", "src_sha"), "left_semi")
    (kept.unionByName(recomputed), stats)
  }

  /** Materialize a lineage table as a dump equal to `Pipeline.triples`
    * over the same corpus: global (s,p,o) dedup + the constant prologue. */
  def dump(lineage: DataFrame): DataFrame = {
    val spark = lineage.sparkSession
    import spark.implicits._
    lineage.select("subj", "pred", "obj")
      .union(spark.createDataset(TripleEmitter.prologue).toDF("subj", "pred", "obj"))
      .dropDuplicates("subj", "pred", "obj")
  }
}
