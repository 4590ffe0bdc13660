package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Sketch

/** HyperBall — the neighborhood function N(v, d) = |{u : dist(v, u) ≤ d}|
  * for EVERY node simultaneously, approximated with per-node HyperLogLog
  * registers (Boldi & Vigna, "In-core computation of geometric
  * centralities with HyperBall", and the HyperANF line of work). On a KG
  * or web corpus this is the scalable answer to "how big is each
  * entity's d-hop influence sphere" (effective diameter, harmonic/
  * closeness centrality, hub detection) — questions whose exact answer
  * is an all-pairs reachability nobody can materialize at 10^12 edges.
  *
  * Formulation: ball_0(v) = {v}; ball_d(v) = {v} ∪ ⋃_{v→u} ball_{d-1}(u).
  * Sets are carried as HLL register tables (`graft.operators.Sketch`
  * derivation — sha256-based, integer-exact), so the union is just a
  * per-(node, register) MAX:
  *
  *   regs_d(v, r) = max( regs_{d-1}(v, r), max_{v→u} regs_{d-1}(u, r) )
  *
  * Scale shape per round: ONE equi-join (edges ⋈ registers on the edge
  * head) + ONE partial-aggregable (id, reg) max — the same shuffle
  * profile as [[ConnectedComponents]]'s small-star step, with state
  * ≤ n·2^b rows (in practice ≤ n·min(2^b, |ball|)). No all-pairs
  * anything; rounds = the radius you ask for. The final estimate reuses
  * the [[Sketch.estimateFromRegs]] harmonic derivation per node, so the
  * whole operator (registers AND estimates) is integer-exact and
  * DuckDB-oracle-able except the one final IEEE division, floored on
  * exactly-agreed operands (the q_hll_estimate convention).
  *
  * Reference analog: none (beyond-reference scale operator). Register
  * derivation shared with [[graft.operators.Sketch.hllRegisters]].
  */
object HyperBall {

  /** Per-node d-ball register table after `rounds` propagation rounds:
    * (id, reg, rho) — one row per non-empty register per node. Input
    * edges: (src, dst) directed; self-loops are dropped (the ball
    * always contains the node itself via its init registers). */
  def registers(edges: DataFrame, rounds: Int, b: Int = 4): DataFrame = {
    require(rounds >= 0 && rounds <= 64, s"rounds=$rounds")
    val (e, bytes, regs0) = staged(edges, b)
    Iter.fixpoint(e.sparkSession, bytes, regs0)(rounds, aqeOff = true) {
      (regs, _) => grow(e, bytes, regs)
    }._1
  }

  /** The edge staging, materialized ONCE (the caller's plan may be an
    * aggregation; un-checkpointed it re-executed in EVERY round's
    * join), the register-state byte bound (|E|·2^b rows as wide as an
    * edge: sizes the loop width and gates the state broadcast) and the
    * round-0 registers. */
  private def staged(edges: DataFrame, b: Int): (DataFrame, Long, DataFrame) = {
    val e = Iter.mat(edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    val bytes = Iter.measure(e).bytes << b
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val (reg, rho) = Sketch.regRho(col("id"), b)
    (e, bytes, Iter.mat(nodes.select(col("id"), reg.as("reg"), rho.as("rho"))))
  }

  /** One round: ball(v) absorbs ball(u) along v→u — one equi-join on
    * the head, one partial-aggregable max; registers only ever grow. */
  private def grow(e: DataFrame, bytes: Long, regs: DataFrame): DataFrame = {
    val fromNbr = e.join(Iter.bcast(regs, bytes), e("dst") === regs("id"))
      .select(e("src").as("id"), col("reg"), col("rho"))
    Iter.mat(regs.union(fromNbr).groupBy("id", "reg").agg(max("rho").as("rho")))
  }

  /** Per-node ball-size estimates: (id, nonzero_regs, harmonic_scaled,
    * ball_estimate). Same harmonic derivation as the global HLL
    * estimate, applied per node. */
  def run(edges: DataFrame, rounds: Int, b: Int = 4): DataFrame =
    Sketch.estimateFromRegs(registers(edges, rounds, b), Seq("id"), b)
      .withColumnRenamed("estimate", "ball_estimate")

  /** Harmonic centrality from the same propagation — THE application
    * HyperBall was built for (Boldi & Vigna):
    *
    *   H(v) = Σ_{u≠v} 1/d(v,u) = Σ_{d=1..D} (|ball_d(v)| − |ball_{d−1}(v)|)/d
    *
    * evaluated on the per-round sketch estimates (monotone by
    * construction: registers only grow ⇒ estimates only grow ⇒ every
    * difference is ≥ 0), in exact ppm integer arithmetic:
    * harmonic_ppm = Σ_d (est_d − est_{d−1})·10^6 div d. One extra
    * per-round (id) agg on top of [[registers]]' join+max; output one
    * row per node: (id, ball_estimate, harmonic_ppm). */
  def harmonicCentrality(edges: DataFrame, maxDepth: Int, b: Int = 4): DataFrame = {
    require(maxDepth >= 1, s"maxDepth=$maxDepth")
    val (e, bytes, regs0) = staged(edges, b)
    // ONE propagation (the registers loop), snapshotting the per-round
    // estimate — maxDepth rounds total, not maxDepth²
    def estOf(regs: DataFrame, r: Int): DataFrame =
      Sketch.estimateFromRegs(regs, Seq("id"), b)
        .select(col("id"), col("estimate").as(s"est$r"))
    val ((_, acc), _) = Iter.fixpoint(e.sparkSession, bytes, (regs0, estOf(regs0, 0)))(
      maxDepth, aqeOff = true) { case ((regs, acc), r) =>
      val next = grow(e, bytes, regs)
      (next, acc.join(Iter.bcast(estOf(next, r + 1), bytes >> b), "id"))
    }
    val terms = (1 to maxDepth).map(d =>
      expr(s"((est$d - est${d - 1}) * 1000000) div $d"))
    acc.select(col("id"), col(s"est$maxDepth").as("ball_estimate"),
      terms.reduce(_ + _).as("harmonic_ppm"))
  }
}
