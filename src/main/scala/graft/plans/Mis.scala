package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maximal independent set via Luby's algorithm (Luby 1986, "A simple
  * parallel algorithm for the maximal independent set problem" —
  * public algorithm): each round, every still-active node draws a
  * priority; a node whose priority is a strict local minimum among its
  * active neighbors joins the MIS, and it and its neighbors leave the
  * active set. Expected O(log n) rounds — the classic symmetry-breaking
  * primitive behind distributed coloring, scheduling, and landmark
  * selection.
  *
  * Determinism (repo-wide convention — no Random, no scan-order
  * dependence): round r's priority for node v is the 52-bit sha256
  * slice of "v@r" (the RandomWalk/Sketch device), tie-broken by id —
  * (pri, id) is a total order, so the MIS is bit-identical across
  * partitionings and engines, and ONE round is replayed verbatim by the
  * DuckDB oracle (q_mis_round); the full run's contract (independence +
  * maximality + round budget) is property-tested.
  *
  * Scale shape per round: one hash-agg of the active adjacency onto the
  * min neighbor (pri, id) — partial-aggregable min(struct) per node, no
  * window, no arrays — plus two semi/anti-joins to retire winners and
  * their neighborhoods and one filter on the edge set. Active state
  * only shrinks; lineage is flattened each round ([[Iter.mat]], the
  * PageRank loop convention). Rounds are O(log n) w.h.p. — driver
  * round scheduling is the same budgeted pattern as [[Scc]].
  */
object Mis {

  private def pri(c: org.apache.spark.sql.Column, round: Int) =
    conv(substring(sha2(concat_ws("@", c, lit(round)), 256), 1, 13), 16, 10)
      .cast("long")

  /** One synchronous Luby round over the ACTIVE subgraph: returns
    * (id, pri, status) for every active node — status 'mis' (strict
    * local (pri, id) minimum), 'dropped' (neighbor of a winner), or
    * 'active' (survives to the next round). Isolated active nodes win
    * unconditionally. */
  def round(activeEdges: DataFrame, activeNodes: DataFrame, r: Int): DataFrame = {
    val e = activeEdges.toDF("a", "b").where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()
    val n = activeNodes.toDF("id").distinct()
      .select(col("id"), pri(col("id"), r).as("p"))
    val adj = e.select(col("u").as("id"), col("v").as("nbr"))
      .unionAll(e.select(col("v").as("id"), col("u").as("nbr")))
    // per node, the minimum neighbor (pri, id) — one partial-agg shuffle
    val nbrMin = adj
      .join(n.select(col("id").as("nbr"), col("p").as("np")), "nbr")
      .groupBy("id")
      .agg(min(struct(col("np"), col("nbr"))).as("m"))
    val scored = n.join(nbrMin, Seq("id"), "left")
      .select(col("id"), col("p"),
        (col("m").isNull || struct(col("p"), col("id")) < col("m")).as("wins"))
    val winners = scored.where(col("wins")).select(col("id"))
    val dropped = adj.join(winners.select(col("id").as("nbr")), Seq("nbr"), "left_semi")
      .select(col("id")).distinct()
      .join(winners, Seq("id"), "left_anti") // a winner is never 'dropped'
    scored.select(col("id"), col("p"),
        when(col("wins"), lit("mis")).otherwise(lit(null)).as("s1"))
      .join(dropped.withColumn("s2", lit("dropped")), Seq("id"), "left")
      .select(col("id"), col("p"),
        coalesce(col("s1"), col("s2"), lit("active")).as("status"))
  }

  /** Full Luby MIS over the undirected view of `edges` (first two
    * columns; self-loops dropped — a self-looped node can still enter
    * the MIS, matching the independence predicate over SIMPLE edges).
    * Returns (id, in_mis) for every node. `maxRounds` is the fail-fast
    * budget (expected rounds ~ 2·log n; the budget firing means the
    * graph defeated the hash symmetry-breaking — practically never). */
  def run(edges: DataFrame, maxRounds: Int = 64): DataFrame = {
    val c = edges.columns
    val e0 = Iter.mat(edges.select(col(c(0)).cast("long").as("a"), col(c(1)).cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct())
    val eBytes = Iter.measure(e0).bytes // sizes loop width
    val all = Iter.mat(edges.select(col(c(0)).cast("long").as("id"))
      .unionAll(edges.select(col(c(1)).cast("long").as("id")))
      .distinct())
    val mis0 = all.sparkSession.emptyDataFrame.selectExpr("CAST(NULL AS LONG) AS id").limit(0)
    // state: (active edges, active nodes, active count, MIS so far)
    val ((_, _, _, mis), _) = Iter.fixpoint(all.sparkSession, eBytes, (e0, all, Iter.measure(all).rows, mis0))(
      maxRounds, Iter.Until.Done((s: (DataFrame, DataFrame, Long, DataFrame)) => s._3 == 0),
      fail = Some(s => new IllegalArgumentException(
        s"Mis.run: ${s._3} nodes still active after $maxRounds rounds — " +
          "the hash symmetry-breaking failed to converge; raise maxRounds " +
          "or inspect the graph for pathological structure"))) {
      case ((e, active, _, mis), r) =>
        val st = Iter.mat(round(e.select(col("u"), col("v")), active, r))
        val next = Iter.mat(st.where(col("status") === "active").select(col("id")))
        (Iter.mat(e.join(next.select(col("id").as("u")), Seq("u"), "left_semi")
            .join(next.select(col("id").as("v")), Seq("v"), "left_semi")
            .select(col("u"), col("v"))),
          next, Iter.measure(next).rows,
          Iter.mat(mis.unionAll(st.where(col("status") === "mis").select(col("id")))))
    }
    all.join(mis.withColumn("in_mis", lit(true)), Seq("id"), "left")
      .select(col("id"), coalesce(col("in_mis"), lit(false)).as("in_mis"))
  }
}
