package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Source-sampled betweenness centrality — Brandes' dependency
  * accumulation (Brandes 2001, "A faster algorithm for betweenness
  * centrality") run from a SEED SET of sources, the standard
  * approximation for large graphs (Riondato & Kornaropoulos 2014 bound
  * the sample size; exact betweenness needs all |V| sources and is not
  * a 100 TB operation). Finds the broker/bridge nodes of a KG — the
  * complement of PageRank's popularity signal.
  *
  * Per source s (all sources advance TOGETHER, keyed by (s, v) — one
  * DataFrame round per BFS level, not per source):
  *  - forward: unweighted BFS computing dist(s,v) and σ(s,v) = number
  *    of shortest s→v paths (σ sums over predecessors — a
  *    partial-aggregable SUM);
  *  - backward, level by level descending: dependency
  *    δ(s,v) = Σ_{w: v∈pred(w)} σ(s,v)·(10^6 + δ(s,w)) div σ(s,w)
  *    in integer ppm — the div makes each term exact-integer, so the
  *    accumulated δ (and the final centrality) is bit-identical across
  *    partitionings and engines (the oracle unrolls the same rounds);
  *    truncation loses < 1 ppm per term, irrelevant for ranking.
  *  - bc_ppm(v) = Σ_s δ(s,v), v ≠ s.
  *
  * Scale shape: state is (|S|·reached) rows of (s, v, dist, sigma);
  * shortest-path DAG edges are (|S|·|E|) worst case — the sampling
  * factor |S| is the knob. Every round is ONE frontier⋈edges equi-join
  * + ONE partial-aggregable hash agg; levels bound rounds (2·maxDepth
  * driver-scheduled rounds, the [[Sssp]]/[[TemporalReach]] pattern);
  * per-round frames are truncated with [[Iter.mat]].
  *
  * Reference analog: none (beyond-reference graph operator).
  */
object Betweenness {

  /** @param edges    directed (src, dst) in the first two columns
    *                 (duplicates collapse, self-loops dropped)
    * @param sources  one column of sampled source ids
    * @param maxDepth BFS level budget (graph-diameter cap; levels past
    *                 it contribute nothing)
    * @return (id, bc_ppm) for every node reached by any source's DAG
    *         (bc_ppm = 0 rows included for reached-but-never-between
    *         nodes; unreached nodes are absent) */
  def approx(edges: DataFrame, sources: DataFrame, maxDepth: Int): DataFrame = {
    require(maxDepth >= 1, s"maxDepth=$maxDepth")
    val c = edges.columns
    val e = Iter.mat(edges.select(col(c(0)).cast("long").as("src"),
        col(c(1)).cast("long").as("dst"))
      .where(col("src") =!= col("dst")).distinct())
    val eBytes = Iter.measure(e).bytes

    // forward BFS: settled (s, v, dist, sigma); per level record the
    // shortest-path-DAG edges (s, pv, v, lvl) with lvl = dist(v)
    val state0 = Iter.mat(sources.toDF("s").select(col("s").cast("long").as("s")).distinct()
      .select(col("s"), col("s").as("v"), lit(0).as("dist"), lit(1L).as("sigma")))
    val nSources = Iter.measure(state0).rows
    // state/DAG bound: |S|·|E| edge-wide rows worst case — sizes loop
    // width and gates the per-round state broadcasts
    val stBound =
      if (eBytes > Long.MaxValue / math.max(1L, nSources)) Long.MaxValue
      else math.max(1L, nSources) * eBytes
    def bc(df: DataFrame): DataFrame = Iter.bcast(df, stBound)
    // forward: (settled, frontier, DAG edges so far, levels, more)
    type Fwd = (DataFrame, DataFrame, Option[DataFrame], Int, Boolean)
    val ((state, _, preds, maxLvl, _), _) = Iter.fixpoint(e.sparkSession, stBound,
        (state0, state0, None, 0, true): Fwd)(
      maxDepth, Iter.Until.Done((f: Fwd) => !f._5), aqeOff = true) {
      case ((state, frontier, preds, lvl, _), _) =>
        val step = e.join(bc(frontier), frontier("v") === e("src"))
          .select(col("s"), frontier("v").as("pv"), e("dst").as("w"), col("sigma"))
        // only edges into NOT-YET-SETTLED nodes are shortest-path-DAG edges
        val fresh = Iter.mat(step.join(
            bc(state.select(col("s"), col("v").as("w"))), Seq("s", "w"), "left_anti"))
        val nf = Iter.mat(fresh.groupBy(col("s"), col("w").as("v"))
          .agg(sum(col("sigma")).as("sigma"))
          .withColumn("dist", lit(lvl + 1))
          .select(col("s"), col("v"), col("dist"), col("sigma")))
        if (Iter.measure(nf).rows == 0) (state, frontier, preds, lvl, false)
        else {
          val pe = fresh.select(col("s"), col("pv"), col("w").as("v"), lit(lvl + 1).as("lvl"))
          (Iter.mat(state.unionAll(nf)), nf, Some(Iter.mat(preds.fold(pe)(_ unionAll pe))),
            lvl + 1, true)
        }
    }
    preds match {
      case None => // no edges from any source: empty result, right schema
        state.select(col("v").as("id"), lit(0L).as("bc_ppm")).where(lit(false))
      case Some(pe) =>
        val sigma = state.select(col("s"), col("v"), col("sigma"))
        // backward accumulation, levels maxLvl..1; δ starts at 0 everywhere
        val delta0 = Iter.mat(state.select(col("s"), col("v"), lit(0L).as("delta")))
        val (delta, _) = Iter.fixpoint(e.sparkSession, stBound, delta0)(maxLvl, aqeOff = true) {
          (delta, r) =>
            val contrib = pe.where(col("lvl") === maxLvl - r)
              .join(bc(sigma.select(col("s"), col("v").as("pv"), col("sigma").as("sig_p"))),
                Seq("s", "pv"))
              .join(bc(sigma.select(col("s"), col("v"), col("sigma").as("sig_w"))), Seq("s", "v"))
              .join(bc(delta.select(col("s"), col("v"), col("delta").as("d_w"))), Seq("s", "v"))
              .groupBy(col("s"), col("pv").as("v"))
              .agg(sum(expr("sig_p * (1000000 + d_w) div sig_w")).as("add"))
            Iter.mat(delta.join(bc(contrib), Seq("s", "v"), "left")
              .select(col("s"), col("v"),
                (col("delta") + coalesce(col("add"), lit(0L))).as("delta")))
        }
        delta.where(col("s") =!= col("v"))
          .groupBy(col("v").as("id")).agg(sum(col("delta")).as("bc_ppm"))
    }
  }
}
