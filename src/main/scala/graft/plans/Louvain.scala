package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One synchronous Louvain local-move round (Blondel et al. 2008, "Fast
  * unfolding of communities in large networks", phase-1 step) — the
  * modularity OPTIMIZER that sits between [[LabelProp]] (propagation
  * without an objective) and [[Modularity]] (the objective without an
  * optimizer): every node simultaneously evaluates moving into each
  * neighboring community and takes the modularity-maximizing one.
  *
  * Scoring is [[Modularity]]'s integer convention. For node i and
  * candidate community c (its neighbors' communities plus staying put):
  *
  *   score(i→c) · 2m = 4m·k_{i,c} − 2·k_i·(Σtot(c) − [c = comm(i)]·k_i)
  *
  * where k_{i,c} counts i's edges into c, Σtot(c) is c's total degree,
  * and the own-community case excludes i's own degree (the standard
  * remove-then-insert accounting). The additive terms independent of c
  * cancel in the argmax, so this IS the Louvain gain ordering — in pure
  * BIGINT, so the choice (argmax, smallest community id on ties) is
  * bit-identical across partitionings and engines, and the DuckDB
  * oracle replays the round verbatim. Classic Louvain sweeps nodes
  * SEQUENTIALLY (inherently serial); the synchronous variant is the
  * standard distributed adaptation — one round is a well-defined
  * deterministic operator, and callers iterate rounds + [[Scc.condense]]
  * -style graph coarsening to taste.
  *
  * Plan shape: two |E|-sized equi-joins of the community map onto edge
  * endpoints → one (i, c) partial-aggregable count (k_{i,c}) → two
  * |V|-sized hash aggs (degree, Σtot) → the argmax as ONE
  * partial-aggregable `min(struct(-score, c))` per node — no window, no
  * per-node candidate arrays; candidate volume = Σ_i |neighbor
  * communities of i| ≤ 2|E|.
  */
object Louvain {

  /** @param edges (a, b) undirected; self-loops dropped, duplicates and
    *        orientation canonicalized.
    * @param communities (id, comm) total current assignment.
    * @return (id, old_comm, new_comm, best_score, stay_score, moved) —
    *         scores in the 2m-scaled integer convention above. */
  def localMoveRound(edges: DataFrame, communities: DataFrame): DataFrame = {
    val canon = Iter.mat(edges.toDF("a", "b").where(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct())
    val comm = communities.toDF("id", "comm")
    val cm = Iter.measure(canon)
    val m = cm.rows
    // per-round state joins broadcast when the measured graph is tiny
    def bc(df: DataFrame): DataFrame = Iter.bcast(df, 2 * cm.bytes)
    val deg = canon.select(col("u").as("id")).unionAll(canon.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("k"))
    val sigtot = deg.join(comm, "id").groupBy(col("comm").as("c"))
      .agg(sum(col("k")).as("tot"))
    // directed neighbor→community pair stream (both edge directions),
    // plus a weight-0 "stay" candidate so the own community is always
    // in the argmax even when no neighbor shares it
    val nbr = canon
      .join(bc(comm.select(col("id").as("v"), col("comm").as("cv"))), "v")
      .select(col("u").as("i"), col("cv").as("c"), lit(1L).as("w"))
      .unionAll(canon
        .join(bc(comm.select(col("id").as("u"), col("comm").as("cu"))), "u")
        .select(col("v").as("i"), col("cu").as("c"), lit(1L).as("w")))
      .unionAll(comm.select(col("id").as("i"), col("comm").as("c"), lit(0L).as("w")))
    val kic = nbr.groupBy("i", "c").agg(sum(col("w")).as("k_ic"))
    val cand = kic
      .join(bc(sigtot), "c")
      .join(bc(deg.select(col("id").as("i"), col("k"))), "i")
      .join(bc(comm.select(col("id").as("i"), col("comm").as("own"))), "i")
      .withColumn("score",
        lit(4L) * lit(m) * col("k_ic") -
          lit(2L) * col("k") *
            (col("tot") - when(col("c") === col("own"), col("k")).otherwise(lit(0L))))
    // argmax(score), smallest c on ties — ONE partial-aggregable
    // min(struct): structs order lexicographically, so (-score, c)
    val best = cand.groupBy(col("i").as("id"))
      .agg(min(struct((-col("score")).as("ns"), col("c").as("c"))).as("b"))
      .select(col("id"), col("b.c").as("new_comm"), (-col("b.ns")).as("best_score"))
    val stay = cand.where(col("c") === col("own"))
      .select(col("i").as("id"), col("own").as("old_comm"),
        col("score").as("stay_score"))
    stay.join(best, "id")
      .select(col("id"), col("old_comm"), col("new_comm"),
        col("best_score"), col("stay_score"),
        (col("new_comm") =!= col("old_comm")).as("moved"))
  }

  /** Canonical weighted undirected view of a 3-column (a, b, w) frame:
    * parallel edges merged by weight sum, orientation normalized to
    * u ≤ v. Self-loops are KEPT (u = v) — coarsened graphs carry the
    * intra-community weight there. */
  private def canonWeighted(edges: DataFrame): DataFrame = {
    val c = edges.columns
    edges.select(col(c(0)).cast("long").as("a"), col(c(1)).cast("long").as("b"),
        col(c(2)).cast("long").as("w"))
      .groupBy(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .agg(sum(col("w")).as("w"))
  }

  /** Weighted synchronous local-move round — [[localMoveRound]]
    * generalized to integer edge weights and self-loops, which is what
    * the COARSENED graphs of a multi-level Louvain pass look like.
    *
    * Integer conventions (reduce to the unweighted ones at w ≡ 1, no
    * loops):
    *   m        = Σ_{u≤v} w_uv            (self-loops counted once)
    *   k_i      = Σ_{j≠i} w_ij + 2·w_ii   (so Σ_i k_i = 2m)
    *   Σtot(c)  = Σ_{i∈c} k_i
    *   k_{i,c}  = Σ_{j∈c, j≠i} w_ij       (self-loop weight moves WITH
    *                                       the node — constant across
    *                                       candidates, cancels in argmax)
    *   score(i→c) = 4m·k_{i,c} − 2·k_i·(Σtot(c) − [c = comm(i)]·k_i)
    *
    * Same plan shape as the unweighted round: two |E| equi-joins, one
    * (i, c) partial agg, two |V| hash aggs, one min(struct) argmax —
    * no window, no candidate arrays. */
  def localMoveRoundWeighted(edges: DataFrame, communities: DataFrame): DataFrame = {
    val canon = Iter.mat(canonWeighted(edges))
    val m = canon.agg(sum(col("w"))).first().getLong(0)
    moveRoundCanon(canon, m, communities)
  }

  /** [[localMoveRoundWeighted]] core over an ALREADY-canonical weighted
    * edge frame with a precomputed total weight `m` — lets the
    * multi-level driver loop skip the per-round re-canonicalization
    * and m-aggregate (both loop-invariant within a level). `bytesBound`
    * gates the per-round broadcast hints (Iter.bcast). */
  private def moveRoundCanon(canon: DataFrame, m: Long, communities: DataFrame,
                             bytesBound: Long = Long.MaxValue): DataFrame = {
    def bc(df: DataFrame): DataFrame = Iter.bcast(df, bytesBound)
    val comm = communities.toDF("id", "comm")
    val loops = canon.where(col("u") === col("v"))
      .select(col("u").as("id"), (col("w") * 2L).as("k"))
    val plain = canon.where(col("u") =!= col("v"))
    val deg = plain.select(col("u").as("id"), col("w").as("k"))
      .unionAll(plain.select(col("v").as("id"), col("w").as("k")))
      .unionAll(loops)
      .groupBy("id").agg(sum(col("k")).as("k"))
    val sigtot = deg.join(comm, "id").groupBy(col("comm").as("c"))
      .agg(sum(col("k")).as("tot"))
    val nbr = plain
      .join(bc(comm.select(col("id").as("v"), col("comm").as("cv"))), "v")
      .select(col("u").as("i"), col("cv").as("c"), col("w"))
      .unionAll(plain
        .join(bc(comm.select(col("id").as("u"), col("comm").as("cu"))), "u")
        .select(col("v").as("i"), col("cu").as("c"), col("w")))
      .unionAll(comm.select(col("id").as("i"), col("comm").as("c"), lit(0L).as("w")))
    val kic = nbr.groupBy("i", "c").agg(sum(col("w")).as("k_ic"))
    val cand = kic
      .join(bc(sigtot), "c")
      .join(bc(deg.select(col("id").as("i"), col("k"))), "i")
      .join(bc(comm.select(col("id").as("i"), col("comm").as("own"))), "i")
      .withColumn("score",
        lit(4L) * lit(m) * col("k_ic") -
          lit(2L) * col("k") *
            (col("tot") - when(col("c") === col("own"), col("k")).otherwise(lit(0L))))
    val best = cand.groupBy(col("i").as("id"))
      .agg(min(struct((-col("score")).as("ns"), col("c").as("c"))).as("b"))
      .select(col("id"), col("b.c").as("new_comm"), (-col("b.ns")).as("best_score"))
    val stay = cand.where(col("c") === col("own"))
      .select(col("i").as("id"), col("own").as("old_comm"),
        col("score").as("stay_score"))
    stay.join(bc(best), "id")
      .select(col("id"), col("old_comm"), col("new_comm"),
        col("best_score"), col("stay_score"),
        (col("new_comm") =!= col("old_comm")).as("moved"))
  }

  /** Louvain phase-2 graph coarsening: collapse each community to one
    * super-node; super-edge weight = Σ weight of edges between the two
    * communities, and the intra-community weight (including original
    * self-loops) lands on the super-node's SELF-LOOP — exactly the
    * aggregation that makes [[localMoveRoundWeighted]]'s modularity on
    * the coarse graph equal the fine graph's. One |E| double equi-join
    * + one partial-aggregable sum; output (cu, cv, w) with cu ≤ cv. */
  def coarsen(edges: DataFrame, communities: DataFrame): DataFrame = {
    val canon = canonWeighted(edges)
    val comm = communities.toDF("id", "comm")
    canon
      .join(comm.select(col("id").as("u"), col("comm").as("mu")), "u")
      .join(comm.select(col("id").as("v"), col("comm").as("mv")), "v")
      .groupBy(least(col("mu"), col("mv")).as("cu"),
        greatest(col("mu"), col("mv")).as("cv"))
      .agg(sum(col("w")).as("w"))
  }

  /** Full multi-level Louvain (Blondel et al. 2008 both phases):
    * per level, synchronous weighted local-move rounds until a round
    * moves nothing (or `maxRoundsPerLevel`), then coarsen and recurse
    * until a level ends with no moves (or `maxLevels`). Returns the
    * final (id, comm) over the ORIGINAL node ids. Driver loop holds
    * only round counters; every per-round frame is truncated
    * ([[Iter.mat]]) so lineage stays flat across levels (same
    * discipline as [[ConnectedComponents]]). Synchronous rounds can oscillate on
    * symmetric graphs (standard caveat); the moved-count telemetry plus
    * round budget bound it, and any fixed point is a valid phase-1 end. */
  def cluster(edges: DataFrame, maxLevels: Int = 8,
              maxRoundsPerLevel: Int = 16): DataFrame = {
    val c = edges.columns
    var g = Iter.mat(
      if (c.length >= 3) canonWeighted(edges)
      else canonWeighted(edges.select(col(c(0)), col(c(1)), lit(1L))))
    val spark = edges.sparkSession
    // mapping: original id -> current community (community ids live in
    // the same id space: the representative super-node id)
    var mapping = Iter.mat(g.select(col("u").as("id")).unionAll(g.select(col("v").as("id")))
      .distinct().select(col("id"), col("id").as("comm")))
    var level = 0
    var levelMoved = true
    while (level < maxLevels && levelMoved) {
      // canonical already (canonWeighted at entry, coarsen afterwards):
      // total weight and edge count are loop-invariant WITHIN a level —
      // hoisted out of the rounds (the round previously re-aggregated
      // canon and re-ran the m action every round)
      val gBytes = Iter.measure(g).bytes
      val mW = g.agg(sum(col("w"))).first().getLong(0)
      val comm0 = Iter.mat(g.select(col("u").as("id")).unionAll(g.select(col("v").as("id")))
        .distinct().select(col("id"), col("id").as("comm")))
      // state: (assignment, nodes the last round moved, any round moved)
      type Level = (DataFrame, Long, Boolean)
      val ((comm, _, anyMove), _) = Iter.fixpoint(spark, gBytes, (comm0, 1L, false): Level)(
        maxRoundsPerLevel, Iter.Until.Done((l: Level) => l._2 == 0), aqeOff = true) {
        case ((comm, _, anyMove), _) =>
          val r = Iter.mat(moveRoundCanon(g, mW, comm, 2 * gBytes))
          val moved = Iter.measure(r.where(col("moved"))).rows
          if (moved == 0) (comm, 0L, anyMove)
          else (Iter.mat(r.select(col("id"), col("new_comm").as("comm"))), moved, true)
      }
      levelMoved = anyMove
      if (anyMove) {
        mapping = Iter.mat(mapping.join(
            Iter.bcast(comm.select(col("comm").as("mcomm"), col("id").as("comm0")), 2 * gBytes),
            mapping("comm") === col("comm0"))
          .select(mapping("id"), col("mcomm").as("comm")))
        g = Iter.mat(coarsen(g, comm).select(col("cu").as("u"), col("cv").as("v"), col("w")))
      }
      level += 1
    }
    mapping
  }
}
