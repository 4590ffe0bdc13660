package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-truss decomposition by iterative support peeling: repeatedly delete
  * edges contained in fewer than (k-2) triangles; what survives is the
  * k-truss — a strictly denser coherence filter than the k-core (every
  * k-truss is inside the (k-1)-core, but not vice versa), and the
  * standard community-nucleus / spam-template detector over a near-dup
  * or citation graph (Cohen 2008, "Trusses: cohesive subgraphs for
  * social network analysis" — public algorithm).
  *
  * Per round the expensive step is triangle SUPPORT counting, which
  * reuses the degree-ordered orientation of [[Triangles]] (Suri &
  * Vassilvitskii WWW'11): every triangle is enumerated exactly once from
  * its minimum-order corner, so wedge work is O(m^1.5) spread evenly and
  * a P31-like hub never concentrates its O(d²) wedges on one reducer.
  * Each enumerated triangle is exploded into its 3 canonical edges and
  * counted with a partial-aggregable groupBy — edge support is one
  * hash-agg shuffle. The peel itself is a semi-join restriction, same
  * shape as [[KCore]].
  *
  * Peeling is synchronous and deterministic (all sub-support edges of a
  * round drop together), so a fixed round count is SQL-oracle-able by
  * unrolling — same contract as [[KCore]]/[[LabelProp]]. Early exit at a
  * fixpoint is a no-op relative to the full unroll. Lineage is truncated
  * per round ([[Iter.mat]]) like the other iterative plans.
  */
object KTruss {

  /** Per-edge triangle support of a canonical (u < v, distinct) edge
    * set: (u, v, sup) for every edge in ≥1 triangle (edges in none are
    * absent — callers coalesce to 0). Degree-ordered enumeration; the
    * order key is the same zero-padded "degree|node" string as
    * [[Triangles]] so an oracle can replay the orientation. */
  def support(canon: DataFrame): DataFrame = {
    val deg = canon.select(col("u").as("node")).unionAll(canon.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val k = deg.select(col("node"), format_string("%018d|%s", col("d"), col("node")).as("key"))
    val o = canon
      .join(k.withColumnRenamed("node", "u").withColumnRenamed("key", "ku"), "u")
      .join(k.withColumnRenamed("node", "v").withColumnRenamed("key", "kv"), "v")
      .select(
        when(col("ku") < col("kv"), col("u")).otherwise(col("v")).as("s"),
        when(col("ku") < col("kv"), col("v")).otherwise(col("u")).as("t"),
        greatest(col("ku"), col("kv")).as("tkey"))
    val e1 = o.select(col("s"), col("t").as("x"), col("tkey").as("xkey"))
    val e2 = o.select(col("s"), col("t").as("y"), col("tkey").as("ykey"))
    val wedges = e1.join(e2, Seq("s")).where(col("xkey") < col("ykey"))
      .select(col("s"), col("x"), col("y"))
    val tri = wedges
      .join(o.select(col("s").as("x"), col("t").as("y")), Seq("x", "y"))
      .select(col("s"), col("x"), col("y"))
    tri.select(least(col("s"), col("x")).as("u"), greatest(col("s"), col("x")).as("v"))
      .unionAll(tri.select(least(col("s"), col("y")).as("u"), greatest(col("s"), col("y")).as("v")))
      .unionAll(tri.select(least(col("x"), col("y")).as("u"), greatest(col("x"), col("y")).as("v")))
      .groupBy("u", "v").agg(count(lit(1)).as("sup"))
  }

  /** edges: two columns (a, b), undirected, self-loops/duplicates/either
    * orientation tolerated (canonicalized internally). Returns the edges
    * surviving `rounds` support peels at truss parameter `k ≥ 3`, as
    * (u, v, sup) with the support measured in the SURVIVING subgraph. */
  def run(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3 && rounds >= 1, s"k=$k rounds=$rounds")
    val input = edges.toDF("a", "b")
    val e0 = Iter.mat(input.where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct())
    val m0 = Iter.measure(e0) // materialized input sizes the loop width
    // state (edges, their measure): the measure is the round's signature
    // and gates the next round's broadcast (kept edges ⊆ edges)
    val ((e, _), _) = Iter.fixpoint(edges.sparkSession, m0.bytes, (e0, m0))(
      rounds, Iter.Until.Unchanged((s: (DataFrame, Iter.Measure)) => s._2)) { case ((e, m), _) =>
      val keepEdges = support(e).where(col("sup") >= k - 2).select(col("u"), col("v"))
      val next = Iter.mat(e.join(Iter.bcast(keepEdges, m.bytes), Seq("u", "v"), "left_semi"))
      (next, Iter.measure(next))
    }
    e.join(support(e), Seq("u", "v"), "left")
      .select(col("u"), col("v"), coalesce(col("sup"), lit(0L)).as("sup"))
  }
}
