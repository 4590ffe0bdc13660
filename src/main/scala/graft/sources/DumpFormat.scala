package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Model

/** Input JSON dialect of an entity corpus `content` column.
  *
  * Two parse granularities per dialect:
  *  - `filterDoc`: a *minimal-schema* parse carrying only the fields
  *    SpecCompiler predicates can reference (id, type, datatype,
  *    statements.{property,rank,mainSnak}). The include gate runs over
  *    this — excluded rows never pay full-document parsing.
  *  - `doc`: the full parse into Model.entityJsonSchema shape.
  *
  * Both are meant to be evaluated ONCE per row. Use `gate` for filters:
  * it binds the parsed struct to a higher-order-function lambda variable
  * (`size(filter(array(fd), d => pred(d))) === 1`), so however many
  * times the predicate references the document, the `from_json` runs
  * once — predicate pushdown cannot duplicate it into per-reference
  * copies (the round-1 plan re-parsed surviving rows per reference).
  */
sealed trait DumpFormat {
  /** minimal parse for include predicates. */
  def filterDoc(content: Column): Column
  /** full parse → internal doc struct (Model.entityJsonSchema). */
  def doc(content: Column): Column

  /** Evaluate `pred` over the minimal parse with a single `from_json`
    * per row (lambda-bound; see trait scaladoc). Null / id-less docs
    * (malformed JSON) never satisfy the gate. */
  final def gate(content: Column, pred: Column => Column): Column =
    size(filter(array(filterDoc(content)),
      d => d.isNotNull && d("id").isNotNull && pred(d))) === 1

  /** Raw-content substring tokens whose presence is NECESSARY for a doc
    * to carry an entity-id value `id` in this dialect (scan pre-gate:
    * a cheap `contains` runs before any JSON parse; false positives
    * fine, false negatives never). */
  def entityValueTokens(id: String): Seq[String]
  /** Same, for a doc to mention property `p` at all. */
  final def propertyTokens(p: String): Seq[String] = Seq("\"" + p + "\"")
}

object DumpFormat {

  /** The repo's own synthetic fixture shape (FIXTURES.md §1-2): flat
    * `statements` array, plain-string term maps, flat `valueType`/`value`. */
  case object Fixture extends DumpFormat {
    /** pruned fixture schema for predicates (statements without
      * qualifiers/references; value carries only the entity id that
      * SnakFilterType.EntityId can test). */
    val filterSnakSchema: StructType = StructType(Seq(
      StructField("property", StringType),
      StructField("snaktype", StringType),
      StructField("valueType", StringType),
      StructField("value", StructType(Seq(StructField("id", StringType))))))

    val filterSchema: StructType = StructType(Seq(
      StructField("id", StringType),
      StructField("type", StringType),
      StructField("datatype", StringType),
      StructField("statements", ArrayType(StructType(Seq(
        StructField("property", StringType),
        StructField("rank", StringType),
        StructField("mainSnak", filterSnakSchema)))))))

    def filterDoc(content: Column): Column = from_json(content, filterSchema)
    def doc(content: Column): Column = from_json(content, Model.entityJsonSchema)
    /** fixture values always serialize the id as a quoted token */
    def entityValueTokens(id: String): Seq[String] = Seq("\"" + id + "\"")
  }

  /** Real Wikidata entity-dump JSON (claims/mainsnak/datavalue shape). */
  case object Wikidata extends DumpFormat {
    def filterDoc(content: Column): Column =
      WikidataJson.filterDocColumn(from_json(content, WikidataJson.filterEntitySchema))
    def doc(content: Column): Column =
      WikidataJson.docColumn(from_json(content, WikidataJson.entitySchema))
    /** new dumps carry `"id":"Q5"`; old dumps only the numeric form —
      * either token is necessarily present (the numeric alternative can
      * over-match, e.g. numeric-id 55; false positives are fine) */
    def entityValueTokens(id: String): Seq[String] =
      Seq("\"" + id + "\"") ++
        id.drop(1).toLongOption.map(n => "\"numeric-id\":" + n).toSeq
  }
}
