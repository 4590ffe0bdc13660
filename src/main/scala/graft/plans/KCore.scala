package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling: repeatedly delete nodes of
  * degree < k; what survives is the k-core — the standard coherence /
  * spam-farm filter over an entity graph (a near-dup cluster that is a
  * dense k-core is template spam; a citation k-core is a community
  * nucleus).
  *
  * Peeling is synchronous and deterministic (all sub-k nodes of a round
  * drop together), so a fixed round count is SQL-oracle-able by
  * unrolling — same contract as [[LabelProp]]. Each round costs one
  * partial-aggregable degree count + one two-sided semi-join restriction
  * (shuffles on the node key; hub nodes are exactly the ones that
  * SURVIVE peeling, so the skew-prone rows never concentrate — dropped
  * keys leave the computation entirely). Lineage is truncated per round
  * ([[Iter.mat]]).
  *
  * Rounds needed to converge ≤ the graph's degeneracy ordering depth; in
  * practice O(10) for web-ish graphs. `run` stops early when a round
  * deletes nothing.
  */
object KCore {

  /** edges: two columns (a, b), one row per undirected edge in either or
    * both orientations (self-loops dropped, both directions added and
    * deduped internally). Returns (id, deg): every node surviving
    * `rounds` peels at threshold `k`, with its degree in the surviving
    * subgraph. */
  def run(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"k=$k rounds=$rounds")
    val input = edges.toDF("a", "b")
    val e0 = Iter.mat(input.where(col("a") =!= col("b"))
      .select(col("a"), col("b"))
      .union(input.where(col("a") =!= col("b")).select(col("b").as("a"), col("a").as("b")))
      .distinct())
    // early exit at a fixpoint (a round that deletes nothing): remaining
    // rounds are no-ops, so the result still equals the fully-unrolled
    // oracle. The edges only shrink, so e0's bytes size the loop width.
    val m0 = Iter.measure(e0)
    val (e, _) = Iter.fixpoint(edges.sparkSession, m0.bytes, e0)(
      rounds, Iter.Until.Unchanged(Iter.measure, Some(m0))) { (e, _) =>
      val keep = e.groupBy("a").agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select(col("a").as("kid"))
      Iter.mat(e.join(keep, col("a") === col("kid"), "left_semi")
        .join(keep.withColumnRenamed("kid", "kid2"), col("b") === col("kid2"), "left_semi"))
    }
    e.groupBy("a").agg(count(lit(1)).as("deg"))
      .select(col("a").as("id"), col("deg"))
  }
}
