package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Time-respecting reachability on a temporal graph — earliest-arrival
  * traversal where each step's edge timestamp must be >= the arrival
  * time at its source (Wu et al. 2014, "Path Problems in Temporal
  * Graphs"). On an event/KG stream this answers provenance questions a
  * static closure gets WRONG: "what could this node have influenced?"
  * requires information to flow forward in time — a static path through
  * an edge that fired BEFORE the node was reached is not a real flow.
  *
  * Algorithm: synchronous earliest-arrival relaxation, `maxHops` rounds:
  *   arrive(v) ← min(arrive(v), min over edges u→v with ts >= arrive(u)
  *                    of ts)
  * Each round is ONE equi-join (frontier × edges on src) + ONE
  * partial-aggregable min — the [[Sssp]] shuffle shape; state is
  * (id, long) per node. The hop bound is part of the CONTRACT (k-hop
  * influence), not a convergence heuristic, so the DuckDB oracle
  * replays the identical unrolled rounds; fixpoint short-circuit (a
  * round that changes nothing ends the loop) is a pure optimization
  * under min-monotonicity.
  *
  * Scale: |edges| × maxHops join work, node-keyed equi-joins
  * throughout, frontier ≤ |V| rows; no path materialization (the
  * recursive-CTE oracle enumerates (node, time) pairs — fine at test
  * scale, the engine never does).
  */
object TemporalReach {

  /** @param edges (src, dst, ts) directed temporal edges.
    * @param seeds  (id) seed nodes; arrival 0 (may take any edge).
    * @param maxHops rounds of relaxation (contractual hop budget).
    * @return (id, arrival): every node reachable within `maxHops`
    *         time-respecting hops, with its earliest arrival time.
    *         Seeds appear with arrival 0. */
  def run(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops=$maxHops")
    val e = Iter.mat(edges.toDF("src", "dst", "ts")
      .select(col("src").cast("long"), col("dst").cast("long"),
        col("ts").cast("long"))
      .distinct())
    val eBytes = Iter.measure(e).bytes // sizes loop width + state broadcast
    // min-monotone: Σ(count, sum) unchanged ⇔ fixpoint
    def sig(st: DataFrame): (Long, Long) = {
      val r = Iter.first(st.agg(count(lit(1)), coalesce(sum(col("arrival")), lit(0L))))
      (r.getLong(0), r.getLong(1))
    }
    val st0 = Iter.mat(seeds.toDF("id").select(col("id").cast("long")).distinct()
      .withColumn("arrival", lit(0L)))
    Iter.fixpoint(e.sparkSession, eBytes, st0)(
      maxHops, Iter.Until.Unchanged(sig), aqeOff = true) { (st, _) =>
      val msgs = e.join(
          Iter.bcast(st.select(col("id").as("src"), col("arrival")), 2 * eBytes), "src")
        .where(col("ts") >= col("arrival"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("ts")).as("in_arrival"))
      Iter.mat(st.join(msgs, Seq("id"), "full_outer")
        .select(col("id"),
          least(coalesce(col("arrival"), col("in_arrival")),
            coalesce(col("in_arrival"), col("arrival"))).as("arrival")))
    }._1
  }
}
