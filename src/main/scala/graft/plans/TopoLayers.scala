package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Topological layering of a DAG — `layer(v)` = length of the longest
  * path from any source to `v` (sources at 0). The natural companion to
  * [[Scc.condense]]: condense the cyclic graph to its quotient DAG,
  * then layer it — giving ontology depth levels, build-order stages, or
  * the "generation" of an entity in a derivation graph. Also a
  * topological SORT certificate: any order by (layer, id) is a valid
  * topological order, and the pass doubles as a cycle DETECTOR (a cycle
  * never reaches a fixpoint — the round budget turns that into an
  * actionable error instead of an infinite loop).
  *
  * Algorithm: longest-path relaxation to fixpoint —
  * `layer(v) ← max(layer(v), 1 + max over in-edges u→v of layer(u))`,
  * each round ONE equi-join (edges × layers) + ONE partial-aggregable
  * max, the same shuffle shape as [[Sssp.run]] (this IS Bellman-Ford
  * with weight −1 under max). Σlayer strictly increases until the
  * fixpoint, so change detection is a one-row aggregate. Rounds =
  * longest path length ≤ `maxRounds`; state is (id, long) — 16
  * bytes/node; lineage truncated per round.
  *
  * O(depth) rounds is inherent to longest-path (unlike reachability,
  * it does not path-double soundly without materializing path counts);
  * deep-DAG users should condense/partition first — same guidance as
  * [[Scc]]. */
object TopoLayers {

  /** @param edges (src, dst) directed; MUST be acyclic (detect-and-fail
    *        otherwise).
    * @param maxRounds longest path length budget; exceeding it aborts
    *        with cycle/deep-DAG advice.
    * @return (id, layer) for every node in `edges`. */
  def run(edges: DataFrame, maxRounds: Int = 1000): DataFrame = {
    require(maxRounds >= 1, s"maxRounds=$maxRounds")
    val e = Iter.mat(edges.toDF("src", "dst")
      .select(col("src").cast("long"), col("dst").cast("long"))
      .distinct())
    val eBytes = Iter.measure(e).bytes // sizes loop width + state broadcasts
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    def tot(c: DataFrame): Long =
      Iter.first(c.agg(coalesce(sum(col("layer")), lit(0L)))).getLong(0)
    val st0 = Iter.mat(nodes.withColumn("layer", lit(0L)))
    Iter.fixpoint(e.sparkSession, eBytes, st0)(
      maxRounds, Iter.Until.Unchanged(tot), aqeOff = true,
      fail = Some(_ => new IllegalStateException(
        s"TopoLayers exceeded maxRounds=$maxRounds: the graph either has a " +
          "cycle (layers grow forever — run Scc.condense first; SCCs are " +
          "exactly the cycles) or a longest path deeper than the budget " +
          "(raise maxRounds; state per round stays bounded, only wall-clock grows)."))) {
      (st, _) =>
        val msgs = e.join(
            Iter.bcast(st.select(col("id").as("src"), col("layer").as("src_layer")), 2 * eBytes),
            "src")
          .groupBy(col("dst").as("id"))
          .agg((max(col("src_layer")) + 1L).as("in_layer"))
        Iter.mat(st.join(Iter.bcast(msgs, 2 * eBytes), Seq("id"), "left_outer")
          .select(col("id"),
            greatest(col("layer"), coalesce(col("in_layer"), col("layer"))).as("layer")))
    }._1
  }
}
