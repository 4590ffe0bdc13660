package graft.model

import org.apache.spark.sql.types._

/** Core data model of the engine.
  *
  * Re-expresses the reference's wdtk document model (see
  * /root/reference SURVEY §1.2; entity document structure consumed via
  * visitor interfaces in `spec/ValueFilter.java:10,42-92` and
  * `processors/FilteredRdfSerializer.java:240-261`) as a fixed nested
  * Spark schema. The schema is hand-written, NOT inferred: inference
  * over a 10^9-row corpus is slow and nondeterministic.
  *
  * Value is a tagged union encoded as one struct with optional fields;
  * `valueType` on the snak discriminates. Decimal amounts stay strings
  * (Wikidata quantities exceed DecimalType(38,18); RDF wants lexical
  * fidelity); times stay strings + precision/calendar (Wikidata allows
  * year -13e9, beyond Spark timestamps).
  */
object Model {

  // ---- typed rows -------------------------------------------------------

  /** Tagged-union value payload; which fields are set depends on
    * Snak.valueType ∈ {entityid, string, monolingualtext, quantity,
    * time, globecoordinate}. */
  case class Value(
      id: Option[String],        // entityid
      str: Option[String],       // string
      text: Option[String],      // monolingualtext
      lang: Option[String],      // monolingualtext
      amount: Option[String],    // quantity (lexical decimal, keeps sign)
      unit: Option[String],      // quantity ("1" = dimensionless, else Q-id IRI suffix)
      time: Option[String],      // time (lexical +YYYY...-MM-DDThh:mm:ssZ)
      calendar: Option[String],  // time (Q1985727 proleptic Gregorian / Q1985786 Julian)
      lat: Option[Double],       // globecoordinate
      lon: Option[Double],       // globecoordinate
      globe: Option[String],     // globecoordinate
      precision: Option[Double]  // time (int-valued) & globecoordinate
  )

  object Value {
    val empty: Value = Value(None, None, None, None, None, None, None, None, None, None, None, None)
  }

  /** snaktype ∈ {value, somevalue, novalue}; value/valueType null unless
    * snaktype == value. Mirrors the 3 wdtk snak classes
    * (reference `spec/ValueFilter.java:42-92`). */
  case class Snak(
      property: String,
      snaktype: String,
      valueType: Option[String],
      value: Option[Value]
  )

  /** rank ∈ {preferred, normal, deprecated}. references is a list of
    * reference groups, each a list of snaks (reference
    * `FilteredRdfSerializer.java:324-364`). refHashes carries the
    * dump-provided per-reference content hash (real Wikidata dump JSON
    * ships one per reference; Wikibase's own RDF uses exactly that hash
    * in `wdref:` node IRIs) aligned index-wise with `references`; empty
    * or missing entries fall back to the engine's content hash. */
  case class Statement(
      id: String,
      property: String,
      rank: String,
      mainSnak: Snak,
      qualifiers: Seq[Snak],
      references: Seq[Seq[Snak]],
      refHashes: Seq[String] = Nil
  )

  case class SiteLink(site: String, title: String, badges: Seq[String])

  /** One Wikidata-shaped entity document. `etype` ∈ {item, property,
    * lexeme}; datatype set for properties only. */
  case class EntityDoc(
      id: String,
      etype: String,
      datatype: Option[String],
      labels: Map[String, String],
      descriptions: Map[String, String],
      aliases: Map[String, Seq[String]],
      sitelinks: Seq[SiteLink],
      statements: Seq[Statement]
  )

  /** Output model: one RDF triple, obj pre-serialized to N-Triples term
    * syntax (IRI in <>, literal quoted+escaped). */
  case class Triple(subj: String, pred: String, obj: String)

  /** A triple tagged with the spec that produced it (multiplexed runs,
    * reference S3 `DumpRunner.java:78-86`). */
  case class SpecTriple(specId: String, subj: String, pred: String, obj: String)

  // ---- schema (for from_json over the `content` column) ----------------

  val valueSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("str", StringType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("amount", StringType),
    StructField("unit", StringType),
    StructField("time", StringType),
    StructField("calendar", StringType),
    StructField("lat", DoubleType),
    StructField("lon", DoubleType),
    StructField("globe", StringType),
    StructField("precision", DoubleType)
  ))

  val snakSchema: StructType = StructType(Seq(
    StructField("property", StringType),
    StructField("snaktype", StringType),
    StructField("valueType", StringType),
    StructField("value", valueSchema)
  ))

  val statementSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("property", StringType),
    StructField("rank", StringType),
    StructField("mainSnak", snakSchema),
    StructField("qualifiers", ArrayType(snakSchema)),
    StructField("references", ArrayType(ArrayType(snakSchema))),
    StructField("refHashes", ArrayType(StringType))
  ))

  val sitelinkSchema: StructType = StructType(Seq(
    StructField("site", StringType),
    StructField("title", StringType),
    StructField("badges", ArrayType(StringType))
  ))

  /** JSON uses key "type"; we rename to etype after parse (Scala keyword
    * clash + clearer joins). */
  val entityJsonSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("type", StringType),
    StructField("datatype", StringType),
    StructField("labels", MapType(StringType, StringType)),
    StructField("descriptions", MapType(StringType, StringType)),
    StructField("aliases", MapType(StringType, ArrayType(StringType))),
    StructField("sitelinks", ArrayType(sitelinkSchema)),
    StructField("statements", ArrayType(statementSchema))
  ))
}
