package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Product quantization (PQ) — the compression half of billion-scale
  * ANN (Jégou et al., "Product quantization for nearest neighbor
  * search"): split each d-dim vector into m subvectors, k-means each
  * subspace independently (m codebooks of k centroids), and store every
  * corpus vector as m small codes. A 64-float embedding becomes m=4
  * ints — a 64× memory/shuffle reduction — while asymmetric distance
  * computation (ADC) scores a probe against a coded vector with m table
  * lookups instead of d multiplies.
  *
  * This engine's ANN ladder: brute force (exact baseline) → sign-LSH /
  * IVF (candidate pruning) → IVF+PQ ([[searchIvfAdc]]: pruning AND
  * compression — the architecture FAISS runs at 10^9+ vectors).
  *
  * Determinism: same integer conventions as [[Ivf]] — quantized inputs
  * (round(x·1000)), half-up integer centroid means, lexicographic
  * (d2, cid) argmin — so training, codes, LUTs and ADC scores are all
  * integer-exact and the DuckDB oracle replays them bit-for-bit.
  *
  * Scale shape: training = iters × (one map-side assignment over
  * literal codebooks + one partial-aggregable (sub, cid, pos) agg);
  * encoding = pure map-side (zero shuffle); ADC scoring touches only
  * (m·k)-entry per-probe LUTs built map-side from the codebook literal.
  * Codebooks are m·k·(d/m) = k·d ints — driver-safe by construction.
  *
  * Reference analog: none (beyond-reference scale operator).
  */
object Pq {

  /** integer dot of two already-quantized long-array columns */
  private def qdotQ(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** the j-th quantized subvector (j: Column or literal int) */
  private def subvec(emb: Column, j: Column, subdim: Int): Column =
    Ivf.quantize(slice(emb, j * lit(subdim) + lit(1), lit(subdim)))

  /** codebooks as a literal: array<struct<sub:int, cid:int, c:array<long>>> */
  private def bookLiteral(books: DataFrame): Column = {
    val rows = books.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getAs[scala.collection.Seq[Long]](2).toSeq))
      .sortBy(t => (t._1, t._2)).toSeq
    require(rows.nonEmpty, "no codebook entries")
    typedlit(rows)
  }

  /** nearest cid within subspace `sub` of the literal codebooks —
    * array_min over (d2, cid) structs = lexicographic argmin (the Ivf
    * tie-break convention) */
  private def nearestCid(bLit: Column, sub: Column, qe: Column): Column =
    array_min(transform(filter(bLit, b => b("_1") === sub), b =>
      call_function("named_struct",
        lit("d2"), Ivf.qdist2(qe, b("_3")), lit("cid"), b("_2"))))("cid")

  /** Per-subspace Lloyd's k-means over (vec_id, embedding). Returns
    * (sub: int, cid: int, centroid: array<long>) — all m subspaces
    * train in the SAME jobs (one assignment projection + one hash agg
    * per iteration, keyed by (sub, cid, pos)). Init mirrors
    * [[Ivf.initCentroids]]: stride over the vec_id space, per subspace. */
  def train(vectors: DataFrame, m: Int, k: Int, iters: Int = 2): DataFrame = {
    val d = vectors.select(size(col("embedding"))).head.getInt(0)
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val subdim = d / m
    // per-iteration per-subspace assignment is the heavy map stage —
    // widen a narrow input once (no-op at production width)
    val subs = Par.spread(vectors).select(col("vec_id"),
      posexplode(transform(sequence(lit(0), lit(m - 1)), j =>
        subvec(col("embedding"), j, subdim))).as(Seq("sub", "qe")))
    val measured = graft.plans.Iter.measure(vectors)
    val n = measured.rows
    val stride = math.max(1L, n / k)
    val books0 = graft.plans.Iter.mat(subs
      .filter(col("vec_id") % stride === 0 && col("vec_id") < stride * k)
      .select(col("sub"), (col("vec_id") / stride).cast("int").as("cid"),
        col("qe").as("centroid")))
    // training aggregates sized from the measured corpus bytes (Iter)
    graft.plans.Iter.fixpoint(vectors.sparkSession, measured.bytes, books0)(iters) { (books, _) =>
      val bLit = bookLiteral(books)
      val sums = subs
        .select(col("sub"), nearestCid(bLit, col("sub"), col("qe")).as("cid"),
          posexplode(col("qe")).as(Seq("pos", "v")))
        .groupBy("sub", "cid", "pos")
        .agg(sum("v").as("s"), count(lit(1)).as("c"))
        // half-up integer mean, the Ivf convention
        .select(col("sub"), col("cid"), col("pos"),
          floor((lit(2) * col("s") + col("c")).cast("double")
            / (lit(2) * col("c")).cast("double")).cast("long").as("mv"))
        .groupBy("sub", "cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mv")))),
          s => s("mv")).as("centroid"))
      graft.plans.Iter.mat(books.as("p").join(sums.as("n"), Seq("sub", "cid"), "left_outer")
        .select(col("sub"), col("cid"),
          coalesce(col("n.centroid"), col("p.centroid")).as("centroid")))
    }._1
  }

  /** PQ codes: (vec_id, sub, cid) — one row per subspace, pure map-side
    * over the codebook literal (zero shuffle; the exploded layout keeps
    * the output engine-portable and join-ready for ADC). */
  def encode(vectors: DataFrame, books: DataFrame, m: Int, subdim: Int): DataFrame = {
    val bLit = bookLiteral(books)
    Par.spread(vectors).select(col("vec_id"),
        posexplode(transform(sequence(lit(0), lit(m - 1)), j =>
          nearestCid(bLit, j, subvec(col("embedding"), j, subdim)))).as(Seq("sub", "cid")))
      .select(col("vec_id"), col("sub").cast("int").as("sub"), col("cid"))
  }

  /** per-probe ADC lookup table as rows: (qid, sub, cid, dot) — the dot
    * of each probe subvector with every centroid of that subspace;
    * m·k rows per probe, built map-side from the codebook literal. */
  def lut(probes: DataFrame, books: DataFrame, subdim: Int): DataFrame = {
    val bLit = bookLiteral(books)
    probes.select(col("vec_id").as("qid"),
        explode(transform(bLit, b => call_function("named_struct",
          lit("sub"), b("_1"), lit("cid"), b("_2"),
          lit("dot"), qdotQ(subvec(col("embedding"), b("_1"), subdim), b("_3")))))
          .as("e"))
      .select(col("qid"), col("e.sub").as("sub"), col("e.cid").as("cid"),
        col("e.dot").as("dot"))
  }

  /** ADC top-k over the WHOLE coded corpus: score(q, x) =
    * Σ_sub lut(q, sub, code_sub(x)). The probe LUTs and corpus codes
    * equi-join on (sub, cid) — never a cartesian — and the per-probe
    * partial sums aggregate before the top-k window. This is the
    * compression-only path (every corpus vector is still touched, but
    * as m ints, not d floats); couple with IVF cells via
    * [[searchIvfAdc]] to also prune candidates. */
  def searchAdc(corpusCodes: DataFrame, probeLut: DataFrame, topK: Int): DataFrame = {
    val scored = corpusCodes.withColumnRenamed("vec_id", "nid")
      .join(broadcast(probeLut), Seq("sub", "cid"))
      .filter(col("qid") =!= col("nid"))
      .groupBy("qid", "nid").agg(sum("dot").as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("nid"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topK)
      .select(col("qid"), col("nid"), col("score"), col("rn"))
  }

  /** IVF+PQ: prune candidates to the probes' nProbe nearest IVF cells,
    * then score by ADC over codes — pruning × compression, the
    * billion-scale layout. Join shape: probe-cells ⋈ cell-assigned
    * codes on cid (bounded by cell sizes), then the same (sub, cid)
    * LUT lookup as [[searchAdc]]. */
  def searchIvfAdc(vectors: DataFrame, probes: DataFrame, ivfCentroids: DataFrame,
                   books: DataFrame, m: Int, subdim: Int, topK: Int,
                   nProbe: Int = 2): DataFrame = {
    val cells = Ivf.assign(vectors, ivfCentroids) // (vec_id, cell)
      .withColumnRenamed("cid", "cell")
    val codes = encode(vectors, books, m, subdim)
      .join(cells, "vec_id").withColumnRenamed("vec_id", "nid")
    val probeCells = Ivf.probeCells(probes, ivfCentroids, nProbe)
      .select(col("qid"), col("cid").as("cell"))
    val luts = lut(probes, books, subdim)
    val scored = codes.join(broadcast(probeCells), "cell")
      .join(broadcast(luts), Seq("qid", "sub", "cid"))
      .filter(col("qid") =!= col("nid"))
      .groupBy("qid", "nid").agg(sum("dot").as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("nid"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topK)
      .select(col("qid"), col("nid"), col("score"), col("rn"))
  }
}
