package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan et al. 2007, "Near linear
  * time algorithm to detect community structures" — public algorithm)
  * with deterministic tie-breaking: each round every node adopts the
  * label carried by the PLURALITY of its neighbors, ties going to the
  * smallest label, nodes with no labeled neighbor keeping their label.
  * Deterministic rules make the result a pure function of (graph,
  * seeds, rounds) — same reason PageRank here is fixed-point integer:
  * a SQL oracle can re-derive it exactly.
  *
  * Complements [[ConnectedComponents]] (structure only) with
  * seed-driven semantics: entity-type spreading over a KG link graph,
  * topic/domain propagation over a web-crawl host graph, weak-label
  * densification for training-data curation.
  *
  * Scale shape per round: one shuffle join labels⨝edges on the
  * neighbor key, one two-level hash agg (count per (node,label) is
  * partial-aggregable map-side; the per-node argmax is a max(struct)
  * agg, also partial-aggregable) — no windows, no driver state.
  * Hub-node fan-in lands on the (node,label) agg where map-side
  * combine absorbs it; AQE skew-split covers the join. Lineage is
  * truncated per round ([[Iter.mat]]).
  */
object LabelProp {

  /** @param edges (a, b) node-id pairs, treated as undirected
    * @param seeds (id, label) integral labels; every id to track must
    *              appear here (unseeded nodes relay counts but are not
    *              emitted)
    * @return (id, label) after `rounds` synchronous updates */
  def run(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    val und = Iter.mat(edges.select(col("a"), col("b"))
      .unionAll(edges.select(col("b").as("a"), col("a").as("b")))
      .where(col("a") =!= col("b")).distinct())
    val undBytes = Iter.measure(und).bytes // sizes loop width + state broadcast
    Iter.fixpoint(edges.sparkSession, undBytes, seeds.select(col("id"), col("label")))(
      rounds, aqeOff = true) { (labels, _) =>
      val neigh = und.join(Iter.bcast(labels, undBytes), und("b") === labels("id"))
        .groupBy(und("a").as("nid"), col("label"))
        .agg(count(lit(1)).as("n"))
      // plurality with smallest-label tie-break: max over (n, -label)
      val upd = neigh.groupBy("nid")
        .agg(max(struct(col("n"), negate(col("label")).as("nl"))).as("w"))
        .select(col("nid").as("id"), negate(col("w.nl")).as("label"))
      Iter.mat(labels.as("l").join(Iter.bcast(upd.as("u"), undBytes), Seq("id"), "left")
        .select(col("id"), coalesce(col("u.label"), col("l.label")).as("label")))
    }._1
  }
}
