package graft.plans

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Strongly connected components of a DIRECTED graph — the missing
  * member of the graph family (CC/closure/PageRank/label-prop/
  * triangles/k-core are undirected or degree-based). On a KG the
  * directed statement graph's SCCs are the mutually-reachable entity
  * clusters (redirect/duplicate rings, category cycles); on a web/link
  * corpus they are the link farms a crawler-derived training set wants
  * collapsed or dropped.
  *
  * Algorithm: trim + forward-max coloring (the standard distributed
  * SCC formulation — Orzan's coloring / FW-BW family; see also Hong et
  * al., "On fast parallel detection of strongly connected components",
  * which this follows in spirit: no per-node DFS, only joins and
  * partial-aggregable maxes, so every step is a plain shuffled
  * hash-agg/join that scales horizontally):
  *
  *  1. TRIM: a node with no in-edges or no out-edges in the remaining
  *     subgraph cannot lie on a cycle → it is a singleton SCC; assign
  *     and remove, repeat to fixpoint. This disposes of the acyclic
  *     bulk (most of a web graph) in O(longest trimmable chain) cheap
  *     rounds.
  *  2. COLOR: propagate `color(v) = max(v, max over in-edges u→v of
  *     color(u))` to fixpoint — color(v) is then the MAX node id that
  *     reaches v. Each round is one equi-join (edges × colors) + one
  *     partial-aggregable max — the exact shuffle shape of
  *     [[ConnectedComponents]]'s small-star step.
  *  3. HARVEST: for each root r (color(r) == r), the SCC of r is
  *     exactly the color-r nodes that can REACH r through color-r
  *     nodes. Computed as a second max-coloring on the TRANSPOSE of
  *     the class-restricted subgraph: `back(v) = max{u : color(u) ==
  *     color(v) and v →* u via same-color nodes}`; v belongs to the
  *     SCC of r = color(v) iff back(v) == r (r is the max id of its
  *     class, so reaching it saturates the max). Every harvested SCC
  *     is labeled by its root; since the root is the max id reaching
  *     the SCC and belongs to it, the label equals the SCC's max
  *     member id — giving the SQL-oracle-able contract
  *     `scc_id(u) = max{v : u →* v and v →* u}`.
  *  4. Remove harvested nodes and repeat. Each phase harvests at least
  *     the SCC containing the largest remaining id, so the loop
  *     terminates; with trimming, phases ≈ number of *nontrivial* SCC
  *     "layers", small on real graphs.
  *
  * POINTER JUMPING (default on): both colorings interleave each edge
  * relaxation with list-ranking doubling on an explicit far-pointer —
  * far(v) is a node known to reach v, advanced `far(v) ← far(far(v))`
  * each round while `color(far(v))` joins the running max (see
  * `propagateMax` for why the naive `color(color(v))` jump is NOT
  * enough). Sound by transitivity of reachability; the captured path
  * length doubles per round, so fixpoints land in O(log diameter)
  * rounds instead of O(diameter) (Shiloach-Vishkin-style
  * shortcutting). The jump is one extra self-equi-join per round on
  * (id, long, long) rows — strictly cheaper than the dozens of edge
  * joins it replaces. `pointerJump = false` keeps the plain
  * hop-per-round loops (equality-tested).
  *
  * Determinism: every fixpoint runs to convergence, so the output is
  * independent of round scheduling — exact, not approximate. Every
  * loop (phases, trim, both colorings) is an [[Iter.fixpoint]] and
  * truncates its per-round frames with [[Iter.mat]].
  *
  * Scale: nodes/edges only ever shrink; all joins are equi-joins on
  * node ids; colors and members are (id, long) pairs — 16 bytes/node.
  * No step materializes reachability PAIRS (the O(n²) trap the
  * DuckDB oracle uses is fine at test scale only).
  */
object Scc {

  /** Per-phase telemetry: inner-round counts of the three fixpoints
    * plus how many nodes the phase disposed of. With the default
    * pointer jumping both colorings converge in O(log diameter)
    * rounds; with `pointerJump = false` they are hop-per-round, so
    * rounds grow with the REMAINING subgraph's diameter (a 10^6-hop
    * path cycle = 10^6 color rounds). Watch `colorRounds`; if it
    * climbs, either raise `maxRounds` knowingly or pre-shrink the
    * graph (run [[ConnectedComponents]] first and SCC each weak
    * component separately — SCCs never span weak components, and the
    * per-component diameter is what actually bounds the rounds). */
  final case class PhaseStats(phase: Int, trimRounds: Int, colorRounds: Int,
                              harvestRounds: Int, assignedThisPhase: Long)

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private def logStats(s: PhaseStats): Unit =
    log.info(s"Scc phase ${s.phase}: trim=${s.trimRounds} color=${s.colorRounds} " +
      s"harvest=${s.harvestRounds} assigned=${s.assignedThisPhase}")

  /** Max-label propagation to fixpoint: `color(to) ← max(color(to),
    * color(from))` over every edge row, with optional pointer jumping.
    *
    * The naive jump `color(v) ← max(color(v), color(color(v)))` stalls
    * whenever color(v) == v (the max operator throws away the pointer
    * to a smaller-id predecessor, so there is no chain to follow — on
    * an ascending-id cycle it degenerates back to hop-per-round). The
    * sound accelerator is list-ranking doubling with an explicit
    * far-pointer: far(v) is SOME node known to reach v (not
    * necessarily the max), initialized to v, advanced to an in-neighbor
    * when self, then doubled `far(v) ← far(far(v))` each round while
    * harvesting `color(far(v))` into the max. Every update preserves
    * "far(v) reaches v" and "color(v) reaches v" (transitivity), so
    * correctness is untouched; the captured path length doubles per
    * round, giving O(log diameter) fixpoints on chains/cycles — the
    * shapes where hop-per-round hurts.
    *
    * Change detection is the one-row Σcolor aggregate (colors only
    * ever increase; a round with no color growth is an edge-relax
    * fixpoint regardless of far movement). Returns the fixpoint table
    * (id, color) and the round count. */
  private def propagateMax(edges: DataFrame, init: DataFrame, from: String, to: String,
                           jump: Boolean, rounds: Budget, kind: String, phase: Int,
                           stateBytes: Long): (DataFrame, Int) = {
    // bc: broadcast-hint the (id, long, long) state side of each
    // per-round join when the measured working set is tiny (Iter.bcast
    // gate) — the edge side then streams from cache with NO exchange
    // and no AQE stage-materialization jobs (measured on the q_scc
    // fixture: ~11 scheduled jobs per round → ~4)
    def bc(df: DataFrame): DataFrame = Iter.bcast(df, stateBytes)
    def tot(c: DataFrame): Long = Iter.first(c.agg(sum(col("color")))).getLong(0)
    val st0 = Iter.mat(init.toDF("id", "color").withColumn("far", col("id")))
    val (st, n) = rounds.loop(kind, phase, st0, Iter.Until.Unchanged(tot)) { (st, _) =>
      // one edge pass: per-node max in-color + a deterministic
      // in-neighbor (the far seed for self-pointing nodes)
      val msgs = edges
        .join(bc(st.select(col("id").as("cfrom"), col("color").as("mcolor"))),
          col(from) === col("cfrom"))
        .select(col(to).as("id"), col("mcolor"), col(from).as("nb"))
        .groupBy("id")
        .agg(max("mcolor").as("in_color"), max("nb").as("in_far"))
      val relaxed = st.join(bc(msgs), Seq("id"), "left_outer")
      Iter.mat(
        if (jump) {
          // fetch far(v)'s row: its color joins the max, its far becomes
          // far(far(v)). far always names an id in the table (it is an
          // id or an edge endpoint of the same node set); left join +
          // coalesce is belt-and-braces.
          val f = st.select(col("id").as("fid"), col("color").as("fcolor"),
            col("far").as("ffar"))
          relaxed.join(bc(f), col("far") === col("fid"), "left")
            .select(col("id"),
              greatest(col("color"),
                coalesce(col("in_color"), col("color")),
                coalesce(col("fcolor"), col("color"))).as("color"),
              when(col("far") === col("id"), coalesce(col("in_far"), col("id")))
                .otherwise(coalesce(col("ffar"), col("far"))).as("far"))
        } else {
          relaxed.select(col("id"),
            greatest(col("color"), coalesce(col("in_color"), col("color"))).as("color"),
            col("far"))
        })
    }
    (st.select(col("id"), col("color")), n)
  }

  /** The inner fixpoints (trim + color + harvest) of one [[run]], all
    * charged to its shared `maxRounds` budget and run in the loop
    * scope sized from the edge bytes. */
  private final class Budget(spark: org.apache.spark.sql.SparkSession, eBytes: Long,
                             maxRounds: Int) {
    private var used = 0
    def loop[S](kind: String, phase: Int, init: S, until: Iter.Until[S])(
        step: (S, Int) => S): (S, Int) = {
      val (s, n) = Iter.fixpoint(spark, eBytes, init)(maxRounds - used, until, aqeOff = true,
        fail = Some(_ => new IllegalStateException(
          s"Scc exceeded maxRounds=$maxRounds during $kind (phase $phase). " +
            "Rounds grow with log(diameter) under the default pointer jumping " +
            "(linearly with pointerJump=false). Either raise maxRounds (the state " +
            "per round is bounded — only wall-clock grows), or pre-partition the " +
            "graph by weak component (ConnectedComponents.run) and SCC each " +
            "component separately: SCCs never span weak components, and " +
            "per-component diameters are smaller.")))(step)
      used += n
      (s, n)
    }
  }

  /** @param edges two columns (src, dst), one row per directed edge.
    * @param maxPhases cap on trim+color+harvest PHASES (each phase
    *        harvests ≥1 SCC, so this bounds nontrivial SCC "layers").
    * @param maxRounds total budget of INNER fixpoint rounds (trim +
    *        color + harvest, summed across phases) — with pointer
    *        jumping on, fixpoints need O(log diameter) rounds, so the
    *        default is generous; with it off this is the guard against
    *        the O(diameter) coloring on a deep remaining subgraph.
    * @param telemetry per-phase stats hook (defaults to log.info).
    * @param pointerJump interleave Shiloach-Vishkin shortcutting into
    *        both fixpoints (default true; false = plain hop-per-round,
    *        kept for equality testing and round-count telemetry).
    * @return (id, scc_id) for every node appearing in `edges`;
    *         scc_id = max member id of the node's SCC. */
  def run(edges: DataFrame, maxPhases: Int = 64, maxRounds: Int = 10000,
          telemetry: PhaseStats => Unit = logStats,
          pointerJump: Boolean = true): DataFrame = {
    require(maxPhases >= 1, s"maxPhases=$maxPhases")
    require(maxRounds >= 1, s"maxRounds=$maxRounds")
    val spark = edges.sparkSession
    val sch = StructType(Seq(StructField("id", LongType), StructField("scc_id", LongType)))

    // stage the raw edge list ONCE (the caller's plan may be an
    // expensive aggregation — previously it was recomputed for e and
    // twice more for allNodes; guide §2.4: don't recompute what one
    // materialized pass provides)
    val raw = Iter.mat(edges.toDF("src", "dst")
      .select(col("src").cast("long"), col("dst").cast("long")))
    val simple = Iter.mat(raw.where(col("src") =!= col("dst")).distinct())
    // self-loop-only nodes are singletons; track every node seen so they
    // (and isolated endpoints of dropped self-loops) still get a row
    val allNodes = Iter.mat(raw.select(col("src").as("id"))
      .union(raw.select(col("dst").as("id")))
      .distinct())
    val nodes = Iter.measure(allNodes)
    val n0 = nodes.rows
    // materialized working-set bytes drive the loop shuffle width
    // (session conf untouched at production scale) and gate the
    // per-round broadcast hints: every per-node frame below holds at
    // most three longs, twice the bytes of allNodes' one-long rows
    val eBytes = Iter.measure(simple).bytes
    val stateBytes = 2 * nodes.bytes
    def bc(df: DataFrame): DataFrame = Iter.bcast(df, stateBytes)
    val rounds = new Budget(spark, eBytes, maxRounds)

    // phase state: (edges, active nodes, active count, assigned so far);
    // every per-round join below is explicitly broadcast-hinted when
    // tiny, so the loops opt out of AQE's per-stage scheduling
    type Phase = (DataFrame, DataFrame, Long, DataFrame)
    val init: Phase = (simple, allNodes, n0, spark.createDataFrame(spark.sparkContext.emptyRDD[Row], sch))
    Iter.fixpoint(spark, eBytes, init)(
      maxPhases, Iter.Until.Done((p: Phase) => p._3 == 0), aqeOff = true,
      fail = Some(_ => new IllegalArgumentException(
        s"Scc did not converge in $maxPhases phases — raise maxPhases"))) {
      case ((e0, active0, activeN0, assigned0), phase) =>
        // ---- 1. TRIM to fixpoint: no-in or no-out ⇒ singleton SCC
        val ((e1, active1, activeN1, assigned1), trimRounds) = rounds.loop(
          "trim", phase, (e0, active0, activeN0, assigned0),
          Iter.Until.Unchanged((t: Phase) => t._3)) {
          case ((e, active, activeN, assigned), _) =>
            // nodes with BOTH an in- and an out-edge, in ONE partial-
            // aggregable pass over e (guide §2.3/§2.4: the previous
            // srcs ∩ dsts paid two distincts plus an intersect — three
            // shuffle trees — for the same set; measured 4→2 Spark jobs
            // and roughly half the wall per trim round at bench scale)
            val cyclic = Iter.mat(
              e.select(col("src").as("id"), lit(1).as("o"), lit(0).as("i"))
                .unionAll(e.select(col("dst").as("id"), lit(0).as("o"), lit(1).as("i")))
                .groupBy("id").agg(max(col("o")).as("o"), max(col("i")).as("i"))
                .where(col("o") === 1 && col("i") === 1)
                .select(col("id")))
            // one action per trim round: count the SURVIVORS (materializes
            // the mat above) — the round's signature; an unchanged count
            // keeps the state, else the trimmed set stays lazy until the
            // per-phase Iter.mat(assigned)
            val cyclicN = Iter.measure(cyclic).rows
            if (cyclicN == activeN) (e, active, activeN, assigned)
            else {
              val trimmed = active.join(bc(cyclic), Seq("id"), "left_anti")
              // e's endpoints are ⊆ active throughout, so dropping
              // trimmed endpoints ≡ keeping edges with both endpoints
              // cyclic (two semi-joins against the smaller surviving side)
              (Iter.mat(e
                  .join(bc(cyclic.withColumnRenamed("id", "src")), Seq("src"), "left_semi")
                  .join(bc(cyclic.withColumnRenamed("id", "dst")), Seq("dst"), "left_semi")),
                cyclic, cyclicN, assigned.union(trimmed.select(col("id"), col("id").as("scc_id"))))
            }
        }

        val (e2, active2, activeN2, assigned2, colorRounds, harvestRounds) =
          if (activeN1 == 0) (e1, active1, activeN1, assigned1, 0, 0)
          else {
            // ---- 2. COLOR: forward max propagation to fixpoint (Σcolor
            // strictly increases until the fixpoint, so change detection
            // is a one-row aggregate; sums of ≤2^31 ids fit a long far
            // beyond any realistic node count)
            val (color, cr) = propagateMax(
              e1, active1.select(col("id"), col("id").as("color")),
              "src", "dst", pointerJump, rounds, "color", phase, stateBytes)

            // ---- 3. HARVEST: backward max propagation restricted to
            // same-color edges — back(v) = max same-class id reachable
            // from v through class nodes; v ∈ SCC(root) iff back(v) ==
            // color(v) (the root IS the class max, see object doc)
            val ec = Iter.mat(e1
              .join(bc(color.select(col("id").as("csid"), col("color").as("csc"))),
                col("src") === col("csid"))
              .join(bc(color.select(col("id").as("cdid"), col("color").as("cdc"))),
                col("dst") === col("cdid"))
              .where(col("csc") === col("cdc"))
              .select(col("src"), col("dst")))
            val (back, hr) = propagateMax(
              ec, color.select(col("id"), col("id").as("color")),
              "dst", "src", pointerJump, rounds, "harvest", phase, stateBytes)
            val members = Iter.mat(back.withColumnRenamed("color", "back")
              .join(bc(color.withColumnRenamed("id", "ci")), col("id") === col("ci"))
              .where(col("back") === col("color"))
              .select(col("id"), col("color").as("scc_id")))
            // ---- 4. assign + shrink
            val active = Iter.mat(active1.join(bc(members), Seq("id"), "left_anti"))
            (Iter.mat(e1
              .join(bc(members.withColumnRenamed("id", "m1")), col("src") === col("m1"), "left_anti")
              .join(bc(members.withColumnRenamed("id", "m2")), col("dst") === col("m2"), "left_anti")),
              active, Iter.measure(active).rows, assigned1.union(members), cr, hr)
          }
        // truncate the accumulated-union lineage once per phase — plain
        // unions across ~100-round phases otherwise grow the plan tree
        // with phase count (slow analysis / driver stack risk)
        val assigned = Iter.mat(assigned2)
        telemetry(PhaseStats(phase + 1, trimRounds, colorRounds, harvestRounds,
          activeN0 - activeN2))
        (e2, active2, activeN2, assigned)
    }._1._4
  }

  /** Graph condensation: collapse every SCC to one node (its scc_id)
    * and keep the distinct between-component edges — the acyclic
    * quotient DAG. This is the standard pre-step that makes cyclic KG
    * link structure (redirect rings, mutual-citation farms) safe for
    * DAG-only algorithms (topological ordering, bounded closure,
    * longest-path) — and the recommended SCC mitigation for long-chain
    * graphs: condense once, then work on the (usually far smaller)
    * quotient.
    *
    * Scale shape: two broadcast-able equi-joins of the edge list onto
    * the (id, scc_id) assignment + one distinct — nothing beyond the
    * [[run]] cost it builds on.
    * Output: (src_scc, dst_scc) distinct, self-edges (intra-SCC)
    * removed. */
  def condense(edges: DataFrame, maxPhases: Int = 64,
               maxRounds: Int = 10000): DataFrame = {
    val c = edges.columns
    val e = edges.select(col(c(0)).cast("long").as("src"),
      col(c(1)).cast("long").as("dst")).distinct()
    val scc = run(e, maxPhases, maxRounds)
    e.join(scc.select(col("id").as("src"), col("scc_id").as("src_scc")), Seq("src"))
      .join(scc.select(col("id").as("dst"), col("scc_id").as("dst_scc")), Seq("dst"))
      .select("src_scc", "dst_scc")
      .filter(col("src_scc") =!= col("dst_scc"))
      .distinct()
  }
}
