package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TopKAgg

/** GraphSAGE-style k-hop neighborhood sampling (Hamilton et al. 2017,
  * "Inductive Representation Learning on Large Graphs" — public
  * algorithm): the minibatch-assembly step of GNN training pipelines.
  * Per hop h, every frontier node keeps `fanouts(h)` of its
  * out-neighbors; the sampled edge blocks stacked over hops ARE the
  * minibatch computation graph.
  *
  * Determinism (repo-wide convention): a node keeps the neighbors with
  * the LARGEST 52-bit sha256 of "src:dst" (the RandomWalk adjacency
  * device) — a uniform, partitioning- and engine-independent subsample,
  * replayed verbatim by the DuckDB oracle (q_khop_sample).
  *
  * Scale shape per hop: one semi-join restricting edges to the frontier
  * (shuffle on src) + ONE partial-aggregable bounded top-k
  * ([[graft.functions.TopKAgg]] — ≤ fanout rows of state per node per
  * task, so a 10^8-degree hub never materializes its adjacency; the
  * shuffle after the partial agg carries ≤ fanout·|frontier| rows).
  * No window, no arrays beyond the k-buffer. Frontier dedups between
  * hops (a node reached twice expands once — the union-frontier rule);
  * frontier size is ≤ Σ fanout products, bounded by construction.
  *
  * Reference analog: none (beyond-reference training-pipeline operator).
  */
object KhopSample {

  private def hash52(c: Column): Column =
    conv(substring(sha2(c, 256), 1, 13), 16, 10).cast("long")

  /** @param edges   (src, dst) in the first two columns (directed;
    *                self-loops dropped, duplicates collapse)
    * @param seeds   one column of seed node ids (the minibatch)
    * @param fanouts per-hop neighbor budgets, e.g. Seq(5, 3)
    * @return (hop, src, dst, rn) — hop 0-based, rn the 1-based rank of
    *         dst within src's sampled block at that hop */
  def sample(edges: DataFrame, seeds: DataFrame, fanouts: Seq[Int]): DataFrame = {
    require(fanouts.nonEmpty && fanouts.forall(_ >= 1), s"fanouts=$fanouts")
    val c = edges.columns
    val e = Iter.mat(edges.select(col(c(0)).cast("long").as("src"),
        col(c(1)).cast("long").as("dst"))
      .where(col("src") =!= col("dst")).distinct())
    var frontier = seeds.toDF("id").select(col("id").cast("long").as("id")).distinct()
    var out: Option[DataFrame] = None
    fanouts.zipWithIndex.foreach { case (f, h) =>
      val cand = e.join(frontier.select(col("id").as("src")), Seq("src"), "left_semi")
        .withColumn("hv", hash52(concat_ws(":", col("src"), col("dst"))))
      val top = TopKAgg.groupTopK(cand, col("src"), col("hv"), col("dst"), f)
        .select(lit(h.toLong).as("hop"), col("g").as("src"),
          col("id").as("dst"), col("rn"))
      out = Some(out.fold(top)(_ unionAll top))
      frontier = Iter.mat(top.select(col("dst").as("id")).distinct())
    }
    out.get
  }
}
