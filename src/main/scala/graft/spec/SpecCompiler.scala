package graft.spec

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Compiles a DumpSpec into Catalyst Column expressions.
  *
  * This is the engine's "query compiler": the reference evaluates its
  * predicate row-at-a-time in Java (`spec/DumpSpec.includeDocument`
  * `spec/DumpSpec.java:119-131`); we compile the same semantics into a
  * declarative expression tree so Catalyst can constant-fold, push it
  * into the scan, and run it inside whole-stage codegen — no lambdas, no
  * deserialization for excluded rows (SURVEY §4: "spec compilation must
  * target expressions, not closures").
  *
  * The property restriction is an existential over the row's own
  * statements array (J1) — a higher-order `exists`, zero shuffle.
  */
object SpecCompiler {

  /** F1: entity inclusion — empty filter list = include-all; filters are
    * a disjunction; AND'd with deterministic sampling
    * (reference `DumpSpec.java:119-131`). */
  def includePredicate(spec: DumpSpec, doc: Column): Column = {
    val filterPred =
      if (spec.entities.isEmpty) lit(true)
      else spec.entities.map(entityFilter(_, doc)).reduce(_ || _)
    filterPred && samplePredicate(spec, doc)
  }

  /** F7: Bernoulli sampling. The reference uses a sequential
    * `Random(seed)` shared across the scan (`DumpSpec.java:69-73,127-128`)
    * — order-dependent, irreproducible in a parallel engine even though
    * the spec *documents* reproducibility as the intent
    * (`DumpSpecJson.java:16-18`). We honor the intent with an
    * order-independent per-entity hash: include iff
    * pmod(xxhash64(id, seed), 100) < pct. */
  def samplePredicate(spec: DumpSpec, doc: Column): Column =
    if (spec.samplingPercent == 100) lit(true)
    else pmod(xxhash64(doc("id"), lit(spec.seed)), lit(100L)) < lit(spec.samplingPercent.toLong)

  /** F2+F3: one entity filter — type match AND all property restrictions
    * (reference `EntityFilter.matches` `spec/EntityFilter.java:25-35`). */
  def entityFilter(f: EntityFilter, doc: Column): Column = {
    val typePred: Column = f.etype match {
      case "any" => lit(true)
      case t     => doc("type") === lit(t)
    }
    f.properties.map(restriction(_, doc)).foldLeft(typePred)(_ && _)
  }

  /** F4+F5+F6: existential property restriction over the statements
    * array (reference `PropertyRestrictionJson.matches`
    * `spec/PropertyRestrictionJson.java:78-110`). */
  def restriction(r: PropertyRestriction, doc: Column): Column = {
    val stmts = doc("statements")
    def stmtPred(rankPred: Column => Column): Column =
      exists(stmts, s =>
        s("property") === lit(r.property) && rankPred(s) && snakPred(r, s("mainSnak")))

    r.rank match {
      case RankFilter.Best =>
        // A3 inline: best = preferred if the property's group has any
        // preferred statement, else normal (deprecated never best)
        val hasPreferred = exists(stmts, s =>
          s("property") === lit(r.property) && s("rank") === lit("preferred"))
        stmtPred(s => s("rank") === when(hasPreferred, lit("preferred")).otherwise(lit("normal")))
      case RankFilter.NonDeprecated =>
        stmtPred(s => s("rank") =!= lit("deprecated"))
      case RankFilter.All =>
        stmtPred(_ => lit(true))
    }
  }

  /** F5: snak-type test (reference `spec/PropertyRestrictionJson.java:85-109`). */
  def snakPred(r: PropertyRestriction, snak: Column): Column = r.ptype match {
    case SnakFilterType.Any       => lit(true)
    case SnakFilterType.AnyValue  => snak("snaktype") === lit("value")
    case SnakFilterType.SomeValue => snak("snaktype") === lit("somevalue")
    case SnakFilterType.NoValue   => snak("snaktype") === lit("novalue")
    case SnakFilterType.EntityId =>
      snak("snaktype") === lit("value") &&
        snak("valueType") === lit("entityid") &&
        snak("value")("id") === lit(r.value.get)
  }

  /** Scan pre-gate (zone-map-style): a conservative substring condition
    * over the RAW content string that is NECESSARY for
    * `includePredicate` — rows failing it are excluded without paying
    * ANY JSON parse. Derivation: the include filter is a disjunction of
    * conjunctive branches; for each branch pick one conjunct with a
    * derivable raw token (an entity-id value's dialect tokens, else the
    * property-name token of any restriction); the OR of the chosen
    * branch tokens is then implied by every included document. Branches
    * with no selective token (type-only / include-all) make the
    * pre-gate impossible → None (the gate parse runs as before).
    *
    * Motivation (measured): the minimal gate parse of every row is the
    * pipeline's single biggest memory-bandwidth consumer — at 32
    * threads on one socket it saturates DRAM (the shuffle-free stage
    * burned 1.36× the 8-thread cpu·s). A selective byte-level
    * `contains` ahead of it cuts that traffic for the ~80-90% of rows a
    * selective spec excludes. False positives only — never false
    * negatives (tested: pre-gated pipeline ≡ ungated on every example
    * spec and the micro-spec sweep). */
  def prefilterTokens(spec: DumpSpec, format: graft.sources.DumpFormat): Option[Seq[String]] = {
    if (spec.entities.isEmpty) return None
    val perBranch: Seq[Option[Seq[String]]] = spec.entities.map { f =>
      f.properties.collectFirst {
        case r if r.ptype == SnakFilterType.EntityId => format.entityValueTokens(r.value.get)
      }.orElse(f.properties.headOption.map(r => format.propertyTokens(r.property)))
    }
    if (perBranch.exists(_.isEmpty)) None
    else Some(perBranch.flatMap(_.get).distinct)
  }

  /** The raw-content pre-gate of a pass serving `specs`: a row can
    * serve SOME spec only if it holds one of SOME spec's
    * [[prefilterTokens]]. `lit(true)` unless EVERY spec has tokens (an
    * include-all spec gates nothing). */
  def prefilter(specs: Seq[DumpSpec], content: Column,
                format: graft.sources.DumpFormat): Column = {
    val all = specs.map(prefilterTokens(_, format))
    if (all.isEmpty || all.exists(_.isEmpty)) lit(true)
    else all.flatMap(_.get).distinct.map(t => content.contains(t)).reduce(_ || _)
  }

  /** [[prefilter]] of a single-spec pass. */
  def prefilter(spec: DumpSpec, content: Column,
                format: graft.sources.DumpFormat): Column =
    prefilter(Seq(spec), content, format)

  /** A1: per-document count of statements that the spec would include
    * (counted once even if both simple+full emitted; incremented before
    * the rank gate — reference `FilteredRdfSerializer.java:328-331`).
    * Compiled as a when-chain over the per-property options map (P2)
    * applied inside a higher-order filter — map-side, no shuffle. */
  def includedStatementsExpr(spec: DumpSpec, doc: Column): Column = {
    def countsFor(s: Column): Column = {
      val default = lit(spec.defaultOptions.isStatement || spec.defaultOptions.simple)
      spec.optionsByProperty.toSeq.sortBy(_._1).foldRight(default) {
        case ((p, opts), acc) =>
          when(s("property") === lit(p), lit(opts.isStatement || opts.simple)).otherwise(acc)
      }
    }
    coalesce(size(filter(doc("statements"), countsFor(_))), lit(0))
  }
}
