package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup — semantic deduplication of an embedded corpus (Abbas et
  * al. 2023, "SemDeDup: Data-efficient learning at web-scale through
  * semantic deduplication", arXiv:2303.09540). The operator the LSH /
  * MinHash / SimHash family cannot replace: those dedup LEXICAL
  * near-copies, SemDeDup removes documents that SAY the same thing in
  * different words, which only the embedding space sees.
  *
  * Pipeline (each stage a bounded, shuffle-shaped step):
  *
  *  1. CLUSTER: Lloyd k-means over the integer-quantized embeddings —
  *     [[Ivf.train]] verbatim (its determinism conventions: ×1000
  *     quantization, half-up integer centroid means, arithmetic-stride
  *     init), then a zero-shuffle map-side [[Ivf.assign]] (centroids
  *     ride as a literal; k·dim ints by construction).
  *  2. PAIR: self-join WITHIN each cluster only (`cid` equi-join, never
  *     a cartesian), keep pairs with exact integer dot ≥ `minDotQ`.
  *     Candidate volume is Σ|cell|²/2 — bounded by the quantizer's
  *     target cell size ([[Ivf.kFor]]), the paper's own scaling lever
  *     (they run k ≈ n/5000). The dot is [[Similarity.qdot]]: the
  *     corpus embeddings are unit-normalized upstream, so the
  *     quantized dot IS the cosine in fixed-point.
  *  3. GROUP: duplicate pairs form a graph; connected components
  *     ([[graft.plans.ConnectedComponents]], O(log n) rounds) turn
  *     pairwise "semantically same" into groups — transitively, so a
  *     chain a~b~c dedups to ONE representative even when a·c is just
  *     below threshold (the paper's ε-ball clustering behavior).
  *  4. KEEP: one representative per group — the MIN vec_id
  *     (deterministic; the paper keeps the lowest-centroid-similarity
  *     member, a heuristic swap documented here: min-id keeps the
  *     contract SQL-oracle-able and the keep-rule is orthogonal to the
  *     grouping machinery).
  *
  * Returns (vec_id, cid, rep_id, keep): every input vector, its
  * cluster, its duplicate-group representative (itself when unique),
  * and keep = (vec_id == rep_id). Downstream: `filter(col("keep"))`.
  *
  * 100 TB: stage 1 is the IVF trainer (one groupBy(cid, pos) shuffle
  * per iteration); stage 2 shuffles on cid with per-cell quadratic
  * fan-out bounded by the cell-size target; stage 3 is the standard
  * alternating-star CC; nothing materializes cross-cluster pairs.
  * Reference scope: beyond-reference (training-data pipeline brief).
  */
object SemDedup {

  /** Stage 2 alone: within-cluster duplicate pairs (src < dst, exact
    * integer dot ≥ minDotQ). Public so its never-a-cartesian plan is
    * directly assertable. `assigned` is (vec_id, cid). */
  def duplicateEdges(vectors: DataFrame, assigned: DataFrame, minDotQ: Long): DataFrame = {
    val v = vectors.join(assigned, "vec_id")
    // Salted, partition-pinned pair join (guide §2.5): with few cells
    // (small k) the plain cid equi-join has ≤ k distinct keys, and AQE
    // coalesces its small INPUT exchange to one partition — the whole
    // quadratic pair scan then runs as a single task (measured 10.8 s
    // at bench scale). Salt the left side by a deterministic hash of
    // the vector id, replicate the right side across the S salts, and
    // pin the partition count so the tiny-input/huge-compute exchange
    // cannot be re-coalesced. Each same-cell pair still matches exactly
    // once (at salt = f(a_id)); still an equi-join — never a cartesian.
    val spark = vectors.sparkSession
    val p = spark.sparkContext.defaultParallelism
    val s = math.max(1, p / 4) // replication factor; cells × salts ≥ p
    // pre-quantize ONCE per row per side (the rounding-exact Column
    // path), so the quadratic pair stage pays only the JIT integer-dot
    // kernel per candidate — measured 10.8 s → sub-second on the bench
    // fixture (Kernels scaladoc; was an interpreted 40 µs/pair fold)
    val left = v.select(col("cid"), col("vec_id").as("a_id"),
        Ivf.quantize(col("embedding")).as("a_q"),
        pmod(xxhash64(col("vec_id")), lit(s.toLong)).as("salt"))
      .repartition(p, col("cid"), col("salt"))
    val right = v.select(col("cid"), col("vec_id").as("b_id"),
        Ivf.quantize(col("embedding")).as("b_q"),
        explode(sequence(lit(0L), lit(s.toLong - 1))).as("salt"))
      .repartition(p, col("cid"), col("salt"))
    left.join(right, Seq("cid", "salt")) // equi-join on (cid, salt)
      .where(col("a_id") < col("b_id") &&
        Kernels.dotQ(col("a_q"), col("b_q")) >= minDotQ)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
  }

  /** @param vectors (vec_id: long, embedding: array<float>), unit-norm
    * @param k        number of k-means clusters ([[Ivf.kFor]] for auto)
    * @param minDotQ  duplicate threshold on the ×1000-quantized dot
    *                 (cosine τ ⇒ minDotQ ≈ τ·10^6 for unit vectors)
    * @param iters    Lloyd iterations (paper uses few; quantizer only
    *                 needs to co-locate near-duplicates, not converge) */
  def run(vectors: DataFrame, k: Int, minDotQ: Long, iters: Int = 3): DataFrame = {
    // widen a narrow (few-file) input once: the cell-local pair join and
    // the Lloyd assignment are the compute-heavy stages and inherit this
    // partitioning (measured: the pair stage ran as ONE 11 s task at
    // bench scale because AQE coalesced the tiny exchange ahead of it);
    // no-op at production width (guide §2.5)
    val v0 = Par.spread(vectors)
    val centroids = Ivf.train(v0, k, iters)
    val assigned = Ivf.assign(v0, centroids) // (vec_id, cid) zero-shuffle
    val edges = duplicateEdges(v0, assigned, minDotQ)
    // duplicateEdges emits src < dst — provably self-loop-free, so CC
    // skips the singleton pass (it would re-run the pair join). CC's
    // staging/loop aggregates are sized from the measured corpus bytes
    // (Iter.withLoopConf — no-op at production scale; the pair stage's
    // explicit repartition keeps its cluster width regardless).
    val vBytes = graft.plans.Iter.measure(vectors).bytes
    val groups = graft.plans.Iter.withLoopConf(vectors.sparkSession, vBytes) {
      graft.plans.ConnectedComponents.run(edges, selfLoopFree = true)
    }
    assigned
      .join(groups.withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cid"),
        coalesce(col("component"), col("vec_id")).as("rep_id"))
      .withColumn("keep", col("vec_id") === col("rep_id"))
  }
}
