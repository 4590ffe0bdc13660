package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components via large-star / small-star
  * alternation (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14 — public algorithm). Converges in O(log n) rounds on
  * power-law graphs, each round two shuffles; lineage is truncated per
  * round ([[Iter.mat]]) so the plan doesn't grow across iterations (the
  * classic iterative-join OOM at scale).
  *
  * Node ids are strings; the component representative is the MINIMUM
  * node id (lexicographic) — the same semantics a SQL `MIN over
  * transitive closure` oracle computes, which keeps the operator
  * DuckDB-checkable.
  *
  * North-rule role: entity canonicalization over alias/sameAs edges
  * (SURVEY §7.1 step 4). The reference's closest analog is
  * content-identity dedup of reference nodes (D1,
  * `FilteredRdfSerializer.java:57-58,153`).
  *
  * Skew posture: hub nodes (P31/P279-like) produce power-law degree;
  * large-star is exactly the step that splits high-degree stars, and
  * AQE skew-join handling covers the join sides. No salting needed
  * because groupBy(min) is a partial-aggregable operation.
  */
object ConnectedComponents {

  /** edges: DataFrame with two string columns (a, b). Returns
    * (node, component) covering every node that appears in any edge —
    * including nodes whose only edges are self-loops (each its own
    * component). Throws IllegalStateException when `maxIter` rounds end
    * before the edge set settles (the stars would not be components).
    *
    * `selfLoopFree = true`: the caller guarantees no row has a == b
    * (e.g. pair joins emitting a < b, or two-prefix bipartite edges);
    * skips the self-loop singleton pass, whose scan would re-execute
    * the caller's whole edge-producing subtree in the final plan. */
  def run(edges: DataFrame, maxIter: Int = 25,
          selfLoopFree: Boolean = false): DataFrame = {
    val a = "a"; val b = "b"
    val input = edges.toDF(a, b)
    // normalize: drop self loops + dups, both directions not needed yet.
    // Iter.mat (checkpoint leaf) instead of a bare persist: callers
    // hand in edge PLANS that can be whole pipelines (SemDeDup's salted
    // pair join), and a persisted-but-untruncated plan makes every
    // round's analysis re-walk that subtree (measured on q_semdedup:
    // the CC stage dropped ~2-5 s once the input became a leaf).
    val e0 = Iter.mat(input.where(col(a) =!= col(b))
      .select(col(a), col(b)).distinct())
    // the order-insensitive edge-set measure (rows, bytes, hash) detects
    // convergence; its first action materializes e0, and its bytes size
    // the loop's shuffle width (no-op at production scale)
    val m0 = Iter.measure(e0)
    val (e, _) = Iter.fixpoint(edges.sparkSession, m0.bytes, e0)(
      maxIter, Iter.Until.Unchanged(Iter.measure, Some(m0)),
      fail = Some(_ => new IllegalStateException(
        s"ConnectedComponents did not converge in maxIter=$maxIter rounds; " +
          "raise maxIter (rounds grow with log of the component diameter)"))) { (e, _) =>
      // ---- large-star: for each u, connect strictly-larger neighbors to
      // min(N(u) ∪ {u})
      val und = e.union(e.select(col(b).as(a), col(a).as(b)))
      val mins = und.groupBy(a).agg(least(min(col(b)), first(col(a))).as("m"))
      val large = und.join(mins, a)
        .where(col(b) > col(a))
        .select(col(b).as(a), col("m").as(b))
        .where(col(a) =!= col(b))
        .distinct()

      // ---- small-star: orient (max→min), connect all smaller neighbors
      // and u itself to min(N(u) ∪ {u})
      val oriented = large.select(greatest(col(a), col(b)).as(a), least(col(a), col(b)).as(b))
      val mins2 = oriented.groupBy(a).agg(least(min(col(b)), first(col(a))).as("m"))
      val joined = oriented.join(mins2, a)
      Iter.mat(joined.select(col(b).as(a), col("m").as(b))
        .union(joined.select(col(a), col("m").as(b)))
        .where(col(a) =!= col(b))
        .distinct())
    }

    // final state: star graphs node→min. Every edge (a,b) has b = component
    // of a; the representative itself appears only on the b side.
    val members = e.select(col(a).as("node"), col(b).as("component"))
    val reps = e.select(col(b).as("node"), col(b).as("component")).distinct()
    val connected = members.union(reps).distinct()
    if (selfLoopFree) return connected
    // nodes whose ONLY edges were self-loops vanished at normalization —
    // emit each as its own singleton component (left_anti keeps the set
    // difference distributed; the self-loop set is tiny in practice)
    val selfOnly = input.where(col(a) === col(b)).select(col(a).as("node")).distinct()
      .join(connected.select("node"), Seq("node"), "left_anti")
    connected.union(selfOnly.select(col("node"), col("node").as("component")))
  }
}
