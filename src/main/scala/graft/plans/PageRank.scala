package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PageRank in fixed-point (scaled-integer) arithmetic — entity
  * importance over the KG link graph (the reference has no graph
  * analytics at all; this joins [[ConnectedComponents]] and [[Closure]]
  * in the graph suite).
  *
  * All arithmetic is integer: ranks live in units of `1/scale`,
  * per-edge contributions are `rank div out_degree`, damping is
  * `(85 * sum) div 100`. Integer sums are order-independent, so the
  * result is bit-identical across partitionings, re-runs, AND engines —
  * DuckDB re-derives the identical ranks with `//` in unrolled SQL
  * (floating-point PageRank could never hash-match: float sum order
  * differs per plan). Rounding loss per node per iteration is < 1 unit
  * of 1e-12 — irrelevant for ranking, essential for verification.
  *
  * Scale shape per iteration: one equi-join rank⨝edges (shuffle on
  * src; degree table joined map-side by AQE/broadcast when small), one
  * hash-agg on dst (partial+final, map-side combine), one left join
  * back to the node list. Dangling-node mass is dropped (documented;
  * both engines agree). Lineage truncated per iteration.
  */
object PageRank {

  /** @param edges  (src, dst) pairs; duplicates ignored
    * @return (id, rank_scaled) — rank in units of 1/scale */
  def run(spark: SparkSession, edges: DataFrame, iters: Int,
          scale: Long = 1000000000000L): DataFrame = {
    val e = Iter.mat(edges.select(col("src"), col("dst")).distinct())
    val eBytes = Iter.measure(e).bytes // sizes loop width + state broadcasts
    val nodes = Iter.mat(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct())
    val n = Iter.measure(nodes).rows
    // degree table is loop-invariant: materialize once instead of
    // re-aggregating it from e inside every iteration's plan
    val deg = Iter.mat(e.groupBy("src").agg(count(lit(1)).as("deg")))
    val base = (scale * 15L) / (100L * n)
    iterate(e, eBytes, deg, "r div deg", nodes, lit(base),
      nodes.withColumn("r", lit(scale / n)), iters)
  }

  /** `iters` rounds of rank ← teleport + 85% of the contributions
    * `contribution` (an expression over r and the degree table's
    * column) sent along e; `targets` (id, …) is every node's row, kept
    * through the round. State broadcasts are gated on twice the edge
    * bytes. */
  private def iterate(e: DataFrame, eBytes: Long, deg: DataFrame, contribution: String,
                      targets: DataFrame, teleport: Column, init: DataFrame,
                      iters: Int): DataFrame = {
    def bc(df: DataFrame): DataFrame = Iter.bcast(df, 2 * eBytes)
    Iter.fixpoint(e.sparkSession, eBytes, init)(iters, aqeOff = true) { (rank, _) =>
      val contrib = e.join(bc(rank), e("src") === rank("id"))
        .join(bc(deg), "src")
        .select(col("dst").as("id"), expr(contribution).as("c"))
        .groupBy("id").agg(sum(col("c")).as("sc"))
      Iter.mat(targets.join(bc(contrib), Seq("id"), "left")
        .select(targets.columns.map(col).toSeq :+
          (teleport + expr("(85 * coalesce(sc, 0L)) div 100")).as("r"): _*))
    }._1.select(col("id"), col("r").as("rank_scaled"))
  }

  /** Edge-weighted PageRank: per-edge contribution is proportional to
    * the edge's integer weight — `(r · w) div Σw_out(src)` — the KG
    * variant where statement multiplicity / confidence weights the
    * random surfer. Parallel edges merge by weight sum. Same
    * fixed-point integer arithmetic, per-iteration shuffle shape, and
    * dangling-mass convention as [[run]] (to which it reduces at
    * w ≡ 1). Overflow bound: r < scale and Σw per edge ≤ ~10^6 keeps
    * r·w < 10^18 inside Long.
    *
    * @param edges (src, dst, w) in the first three columns, w cast to
    *        long; non-positive total out-weight never occurs (an edge
    *        implies w ≥ 1 after the sum if inputs are ≥ 1 — callers
    *        pass counts).
    * @return (id, rank_scaled) in units of 1/scale */
  def weighted(spark: SparkSession, edges: DataFrame, iters: Int,
               scale: Long = 1000000000000L): DataFrame = {
    val c = edges.columns
    val e = Iter.mat(edges.select(col(c(0)).as("src"), col(c(1)).as("dst"),
        col(c(2)).cast("long").as("w"))
      .groupBy("src", "dst").agg(sum(col("w")).as("w")))
    val eBytes = Iter.measure(e).bytes
    val nodes = Iter.mat(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct())
    val n = Iter.measure(nodes).rows
    val deg = Iter.mat(e.groupBy("src").agg(sum(col("w")).as("wdeg")))
    val base = (scale * 15L) / (100L * n)
    iterate(e, eBytes, deg, "(r * w) div wdeg", nodes, lit(base),
      nodes.withColumn("r", lit(scale / n)), iters)
  }

  /** Personalized PageRank (random walk with restart): the teleport
    * mass returns to a SEED set instead of the uniform vector — "what
    * is related to THESE entities", the related-entities /
    * recommendation / neighborhood-expansion workhorse on a KG. Same
    * fixed-point integer arithmetic and per-iteration shuffle shape as
    * [[run]] (one equi-join + one partial-aggregable hash agg + one
    * left join back); the seed flag is a broadcast join while the seed
    * set's bytes fit the session's threshold ([[Iter.bcast]]). Seeds outside the graph are ignored;
    * dangling mass drops as in [[run]]; init mass `scale/|S|` on seeds.
    *
    * @return (id, rank_scaled) in units of 1/scale */
  def personalized(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
                   iters: Int, scale: Long = 1000000000000L): DataFrame = {
    val e = Iter.mat(edges.select(col("src"), col("dst")).distinct())
    val eBytes = Iter.measure(e).bytes
    val nodes = Iter.mat(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct())
    val seed = Iter.mat(seeds.select(col("id")).distinct()
      .join(nodes, Seq("id"), "left_semi"))
    val sm = Iter.measure(seed)
    val ns = sm.rows
    require(ns > 0, "personalized PageRank needs at least one seed present in the graph")
    val flagged = Iter.mat(nodes
      .join(Iter.bcast(seed.withColumn("is_seed", lit(1L)), 2 * sm.bytes), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("is_seed"), lit(0L)).as("is_seed")))
    val deg = Iter.mat(e.groupBy("src").agg(count(lit(1)).as("deg")))
    val base = (scale * 15L) / (100L * ns)
    iterate(e, eBytes, deg, "r div deg", flagged, col("is_seed") * lit(base),
      flagged.select(col("id"), col("is_seed"), (col("is_seed") * lit(scale / ns)).as("r")),
      iters)
  }
}
