package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Single-source shortest paths over integer edge weights — bounded
  * Bellman-Ford relaxation, the weighted counterpart of [[Closure]]'s
  * hop-count BFS (routing distance, weighted influence radius,
  * cost-bounded reachability on a KG whose edges carry confidence or
  * cost).
  *
  * dist_0 = {source → 0}; dist_r(v) = min(dist_{r-1}(v),
  * min over edges (u,v,w) of dist_{r-1}(u) + w). Each round is ONE
  * equi-join (edges ⋈ current distances on the edge tail) + ONE
  * partial-aggregable min — the [[ConnectedComponents]] shuffle shape.
  * `rounds` bounds the path length considered (negative-cycle-proof by
  * construction); distances are exact integers, so the DuckDB oracle
  * unrolls the identical rounds. State = one (id, dist) row per
  * REACHED node — never the full node set, never path enumeration.
  */
object Sssp {

  /** @param edges (src, dst, w) with non-negative integer weights
    * @return (id, dist) for every node within `rounds` relaxations of
    *         `source` (the source itself at dist 0) */
  def run(edges: DataFrame, source: Long, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 256, s"rounds=$rounds")
    val e = Iter.mat(edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
      .groupBy("src", "dst").agg(min("w").as("w"))) // parallel edges: keep cheapest
    val eBytes = Iter.measure(e).bytes // sizes loop width + state broadcast
    val spark = edges.sparkSession
    import spark.implicits._
    Iter.fixpoint(spark, eBytes, Iter.mat(Seq((source, 0L)).toDF("id", "dist")))(
      rounds, aqeOff = true) { (dist, _) =>
      val relaxed = e.join(Iter.bcast(dist, 2 * eBytes), e("src") === dist("id"))
        .select(e("dst").as("id"), (col("dist") + col("w")).as("dist"))
      Iter.mat(dist.union(relaxed).groupBy("id").agg(min("dist").as("dist")))
    }._1
  }
}
