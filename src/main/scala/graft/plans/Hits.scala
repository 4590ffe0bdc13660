package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS (Kleinberg 1999, "Authoritative sources in a hyperlinked
  * environment") — hubs and authorities over a directed link graph, the
  * query-independent half of the classic pair with [[PageRank]]. On a
  * KG the authority score surfaces entities many curated hub pages
  * point at (quality signal for entity selection); on a crawl graph it
  * separates directories/link farms (high hub) from content (high
  * authority) ahead of training-data selection.
  *
  * Fixed-point integer arithmetic, same rationale as [[PageRank]]:
  * scores live in units of 1/scale of the L1 total (each half-step
  * renormalizes `x * scale div Σx` — HITS diverges without
  * normalization, and integer div keeps every round bit-identical
  * across partitionings and engines, so the DuckDB oracle replays the
  * rounds verbatim).
  *
  * Scale shape per round: two equi-join + partial-aggregable-sum passes
  * (auth from hub over in-edges, then hub from auth over out-edges),
  * each followed by a one-row L1 total broadcast — the [[Sssp]] /
  * [[PageRank]] shuffle profile; state is 2×(id, long). Lineage
  * truncated per round.
  */
object Hits {

  /** @param edges (src, dst) directed; duplicates ignored.
    * @param iters full hub+authority rounds (contractual, oracle-unrolled).
    * @return (id, hub, auth) — each an integer in units of 1/scale of
    *         its vector's L1 mass (so each column sums to ~scale, minus
    *         per-node floor loss). */
  def run(edges: DataFrame, iters: Int, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, s"iters=$iters")
    val e = Iter.mat(edges.toDF("src", "dst")
      .select(col("src").cast("long"), col("dst").cast("long")).distinct())
    val eBytes = Iter.measure(e).bytes // sizes the loop width + state broadcasts
    val nodes = Iter.mat(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct())
    def bc(df: DataFrame): DataFrame = Iter.bcast(df, 2 * eBytes)
    def normalized(raw: DataFrame, valueCol: String): DataFrame = {
      // raw: (id, v) — join the one-row L1 total in by broadcast and
      // rescale; nodes absent from raw get 0
      val total = raw.agg(sum(col("v")).as("_tot"))
      nodes.join(bc(raw), Seq("id"), "left_outer")
        .crossJoin(broadcast(total))
        .select(col("id"),
          // integer div: v·scale stays in a long for deg·scale² < 2^63
          // (deg < 9·10^6 at the default scale — raise scale only with care)
          expr(s"CAST((coalesce(v, CAST(0 AS BIGINT)) * $scale) div _tot AS BIGINT)")
            .as(valueCol))
    }
    // uniform hub start; the first normalization absorbs the constant
    val init = (nodes.withColumn("hub", lit(scale)), nodes.withColumn("auth", lit(0L)))
    val ((hub, auth), _) = Iter.fixpoint(e.sparkSession, eBytes, init)(iters, aqeOff = true) {
      case ((hub, _), _) =>
        val authRaw = e.join(bc(hub.select(col("id").as("src"), col("hub"))), "src")
          .groupBy(col("dst").as("id")).agg(sum(col("hub")).as("v"))
        val auth = Iter.mat(normalized(authRaw, "auth"))
        val hubRaw = e.join(bc(auth.select(col("id").as("dst"), col("auth"))), "dst")
          .groupBy(col("src").as("id")).agg(sum(col("auth")).as("v"))
        (Iter.mat(normalized(hubRaw, "hub")), auth)
    }
    hub.join(auth, "id")
  }
}
