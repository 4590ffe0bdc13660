package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.Iter

/** EXACT set-similarity join by prefix filtering (Chaudhuri-Ganti-Kaushik
  * SSJoin 2006 / Bayardo-Ma-Srikant "Scaling up all pairs" 2007 —
  * public algorithms): every document pair whose token-SET Jaccard is
  * ≥ τ, with no false negatives — the exact counterpart of the
  * engine's probabilistic MinHash-LSH near-dup path (LSH trades recall
  * for speed; this trades candidate volume for exactness, and audits
  * the LSH recall claims).
  *
  * Prefix-filtering theorem: order every document's token set by ONE
  * global order (here (df, token) — rarest first, which minimizes
  * candidate fan-out); if J(A,B) ≥ τ, then A and B must share at least
  * one token among the first |A| − ceil(τ·|A|) + 1 tokens of A (and
  * symmetrically B). So candidate pairs = pairs sharing ANY prefix
  * token, and the exact Jaccard verify on candidates loses nothing.
  *
  * Scale shape: one token-df hash agg → per-doc ordered-set rebuild
  * (collect_list bounded by the document's own token count — state no
  * larger than the text column itself) → prefix explode (≈ (1−τ)·|doc|
  * tokens per doc) → ONE equi-join on the prefix token (rarest-first
  * ordering keeps these keys LOW-frequency by construction — the
  * anti-skew story) → exact in-row array_intersect verify on
  * candidates only. Never all-pairs; no window.
  *
  * Reference analog: none (beyond-reference dedup operator).
  */
object SetSim {

  /** @param df      corpus
    * @param id      document id column (long)
    * @param text    whitespace-tokenizable text column
    * @param tauPpm  Jaccard threshold in ppm (e.g. 500000L = 0.5)
    * @return (u, v, inter, n_u, n_v, jac_ppm), u < v, every pair with
    *         set-Jaccard·10^6 ≥ tauPpm (div convention) */
  def setSimJoin(df: DataFrame, id: Column, text: Column, tauPpm: Long): DataFrame = {
    require(tauPpm >= 1 && tauPpm <= 1000000L, s"tauPpm=$tauPpm")
    val docs = df.select(id.cast("long").as("doc_id"),
      array_distinct(split(text, " ")).as("ts"))
    val tok = docs.select(col("doc_id"), explode(col("ts")).as("token"))
    val dfc = tok.groupBy("token").agg(count(lit(1)).as("tdf"))
    // per-doc token set in global (df, token) order + the prefix; the
    // parallel tdf array rides along so the verify can MERGE the two
    // sorted sets in O(|A|+|B|) (Kernels.interSorted) instead of
    // hash-building array_intersect per candidate pair
    val ordered = Iter.mat(tok.join(dfc, "token")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("tdf"), col("token")))).as("st"))
      .select(col("doc_id"),
        transform(col("st"), x => x.getField("token")).as("ots"),
        transform(col("st"), x => x.getField("tdf")).as("otd"),
        size(col("st")).cast("long").as("n"))
      .withColumn("p",
        (col("n") - expr(s"($tauPpm * n + 999999) div 1000000") + 1L).cast("int")))
    // the measured bytes of the doc table pick the verify strategy below
    // (broadcast vs shuffle); the action also warms the checkpoint the
    // prefix stream reads twice
    val docBytes = Iter.measure(ordered).bytes
    // Prefix rows WITH position: the PPJoin candidate filters (Xiao et
    // al. 2008, "Efficient similarity joins for near duplicate
    // detection" — public algorithm) prune inside the join, before the
    // pair-dedup aggregation ever sees a row (guide §2.3: shuffle/agg
    // fewer rows; on the dense-vocab fixture the unfiltered prefix join
    // emitted ~8 rows per candidate pair):
    //  - LENGTH filter: J ≥ τ ⇒ min(n)·10^6 ≥ τppm·max(n) (exact-integer
    //    derivation: inter·10^6 ≥ τppm·(n_u+n_v−inter) and inter ≤ min(n));
    //  - POSITIONAL filter: for the first shared token (positions pu,
    //    pv, 0-based), overlap ≤ 1 + min(n_u−1−pu, n_v−1−pv), and J ≥ τ
    //    needs overlap ≥ ⌈τppm·(n_u+n_v) / (10^6+τppm)⌉. Every true pair
    //    keeps its first-shared-token row, so no false negatives; rows
    //    for later shared tokens may drop — the pair-level distinct only
    //    needs one surviving row.
    // The checkpointed `ordered` collapses to ONE partition at small
    // scale (AQE coalesces the groupBy ahead of it), and the candidate
    // join is a broadcast join that PRESERVES stream-side partitioning —
    // measured as a single 31 s task doing the whole pair generation.
    // Spread the prefix stream to cluster width before the exploding
    // join (guide §2.5 input-parallelism fix; explicit count so AQE
    // cannot re-coalesce the tiny-input/huge-output stage).
    val nParts = ordered.sparkSession.sparkContext.defaultParallelism
    val pref = ordered.select(col("doc_id"), col("n"),
      posexplode(slice(col("ots"), lit(1), col("p"))).as(Seq("pos", "token")))
      .repartition(nParts)
    val minOv = expr(
      s"($tauPpm * (n_u + n_v) + ${1000000L + tauPpm - 1}) div ${1000000L + tauPpm}")
    val cand0 = pref.select(col("token"), col("doc_id").as("u"),
        col("n").as("n_u"), col("pos").as("pu"))
      .join(pref.select(col("token"), col("doc_id").as("v"),
        col("n").as("n_v"), col("pos").as("pv")), Seq("token"))
      .where(col("u") < col("v") &&
        col("n_u") * 1000000L >= lit(tauPpm) * col("n_v") &&
        col("n_v") * 1000000L >= lit(tauPpm) * col("n_u") &&
        lit(1L) + least(col("n_u") - 1L - col("pu"), col("n_v") - 1L - col("pv")) >= minOv)
      .select("u", "v")
    // pack each doc's ordered token set as ONE binary blob (tdf + token
    // bytes per entry, built once per doc — Kernels.setBlob): the
    // per-candidate verify then moves exactly two byte arrays across
    // the UDF boundary (single bulk copy each) and merge-counts the
    // intersection in O(|A|+|B|) raw-byte compares
    val ordA = ordered.select(col("doc_id").as("u"),
      Kernels.setBlob(col("otd"), col("ots")).as("pa"), col("n").as("n_u"))
    val ordB = ordered.select(col("doc_id").as("v"),
      Kernels.setBlob(col("otd"), col("ots")).as("pb"), col("n").as("n_v"))
    // attach joins: broadcast each doc-level side when the doc table's
    // measured bytes (its token arrays outweigh the packed blob) fit the
    // session's broadcast threshold — the candidate stream then never
    // shuffles; otherwise both joins keep their shuffle path
    cand0.distinct()
      .join(Iter.bcast(ordA, docBytes), Seq("u"))
      .join(Iter.bcast(ordB, docBytes), Seq("v"))
      .withColumn("inter", Kernels.interPacked(col("pa"), col("pb")))
      .withColumn("jac_ppm", expr("inter * 1000000 div (n_u + n_v - inter)"))
      .where(col("jac_ppm") >= tauPpm)
      .select("u", "v", "inter", "n_u", "n_v", "jac_ppm")
  }
}
