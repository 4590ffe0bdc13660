package org.apache.spark.sql

/** Zero-copy fresh-leaf rewrap for iterative plans (placed in Spark's
  * package to reach `internalCreateDataFrame`, the same constructor
  * `Dataset.ofRows` paths use — public-source Spark API surface).
  *
  * Iterative operators truncate lineage per round with
  * `localCheckpoint` and must also RE-ALIAS the result (fresh
  * AttributeReferences) because each round self-joins the state with
  * itself; `Dataset.checkpoint` reuses the child plan's output
  * attributes, so the established idiom was
  * `createDataFrame(chk.rdd, chk.schema)` — which pays an
  * InternalRow → Row → InternalRow encoder round-trip (an extra
  * deserialize/serialize pass in EVERY subsequent scan of the state,
  * plus per-round encoder analysis on the driver).
  *
  * `fresh` keeps the materialized checkpoint RDD as-is (InternalRow,
  * zero copies) and wraps it in a new LogicalRDD leaf whose attributes
  * are freshly generated from the schema — the same fresh-alias
  * guarantee with none of the conversion. */
object GraftLeaf {
  def fresh(checkpointed: DataFrame): DataFrame =
    checkpointed.sparkSession.asInstanceOf[classic.SparkSession].internalCreateDataFrame(
      rows(checkpointed), checkpointed.schema, isStreaming = false)

  /** The frame's rows as the engine's internal RDD — no Row conversion. */
  def rows(df: DataFrame): org.apache.spark.rdd.RDD[catalyst.InternalRow] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd
}
