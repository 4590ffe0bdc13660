package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** IVF (inverted-file) approximate nearest neighbor — the second scale
  * path next to sign-bit LSH (Similarity.lshTopK):
  *
  *  1. train a coarse quantizer (Lloyd's k-means, a few iterations) over
  *     INTEGER-quantized vectors (round(x*1000), the repo-wide
  *     determinism convention) — centroid updates use half-up integer
  *     division, so the whole quantizer is bit-reproducible in any SQL
  *     engine and across partial-agg orders;
  *  2. assign every vector to its nearest centroid map-side: the k
  *     centroids ride as a LITERAL array in the expression tree
  *     (collected once per iteration, k×dim ints — the model is tiny by
  *     construction), argmin = array_min over (d2, cid) structs. No
  *     crossJoin, no per-vector window, zero shuffle;
  *  3. search probes only the `nProbe` nearest cells — candidate volume
  *     drops k/nProbe-fold vs brute force; the only shuffles are the
  *     bounded cid-join and the per-probe top-k.
  *
  * Init is a deterministic arithmetic stride over the vec_id space
  * (window-free — replaces the round-1 global row_number sort, which
  * single-tasked the whole corpus). Clusters that lose all members
  * carry their previous centroid forward instead of silently shrinking k.
  */
object Ivf {

  /** Corpus-scaled cell count: k = ceil(n / targetCellSize), clamped to
    * [2, 65536]. The classic IVF heuristic k ≈ √n also works; cell-size
    * targeting keeps the per-probe candidate volume constant as the
    * corpus grows, which is what bounds the search-stage shuffle. */
  def kFor(corpusSize: Long, targetCellSize: Long = 8192L): Int =
    math.min(65536L, math.max(2L,
      (corpusSize + targetCellSize - 1) / targetCellSize)).toInt

  /** probe enough cells to cover ~coverage of the corpus on average */
  def nProbeFor(k: Int, coverage: Double = 0.125): Int =
    math.max(1, math.ceil(k * coverage).toInt)

  /** shared determinism convention: per-dimension integer quantization */
  def quantize(emb: Column): Column =
    transform(emb, x => round(x.cast("double") * 1000).cast("long"))

  /** integer squared L2 between two quantized (long-array) columns */
  def qdist2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v)

  /** Deterministic, window-free init: the k vectors at stride spacing of
    * the (assumed roughly dense, zero-based) vec_id space. cid = id/stride.
    * For corpora with arbitrary ids, pre-assign dense ids by any
    * deterministic map-side rule (e.g. pmod(xxhash64(id), m)) — the
    * quantizer only needs k spread-out seeds. */
  def initCentroids(vectors: DataFrame, k: Int): DataFrame =
    initCentroidsN(vectors, k, vectors.count())

  /** [[initCentroids]] with the corpus count supplied — lets `train`
    * reuse its own count action instead of running a second one. */
  private def initCentroidsN(vectors: DataFrame, k: Int, n: Long): DataFrame = {
    val stride = math.max(1L, n / k)
    vectors
      .filter(col("vec_id") % stride === 0 && col("vec_id") < stride * k)
      .select((col("vec_id") / stride).cast("int").as("cid"),
        quantize(col("embedding")).as("centroid"))
  }

  /** centroids as a literal Column: array<struct<cid:int, centroid:array<long>>> */
  private def centroidLiteral(centroids: DataFrame): Column = {
    val rows = centroids.collect()
      .map(r => (r.getInt(0), r.getAs[scala.collection.Seq[Long]](1).toSeq))
      .sortBy(_._1).toSeq
    require(rows.nonEmpty, "no centroids")
    typedlit(rows)
  }

  /** same collected model as [[centroidLiteral]], for the JIT kernels */
  private def centroidArray(centroids: DataFrame): Array[(Int, Array[Long])] = {
    val rows = centroids.collect()
      .map(r => (r.getInt(0), r.getAs[scala.collection.Seq[Long]](1).toArray))
    require(rows.nonEmpty, "no centroids")
    rows
  }

  /** (d2, cid) struct of one centroid against a quantized embedding
    * column: ordering these structs is a lexicographic argmin with a
    * deterministic tie-break. */
  private def distCid(qe: Column, c: Column): Column =
    // named_struct keeps field names inside HOF lambdas (struct() aliases
    // are stripped there); (d2, cid) order gives lexicographic argmin
    call_function("named_struct",
      lit("d2"), qdist2(qe, c("_2")), lit("cid"), c("_1"))

  /** Lloyd's k-means over (vec_id, embedding). Returns
    * (cid: int, centroid: array<long>) — quantized integer centroids. */
  def train(vectors: DataFrame, k: Int, iters: Int = 4): DataFrame = {
    // the per-iteration assignment (k × dim integer distance per vector)
    // is the heavy map stage — widen a narrow input once so it does not
    // run at file-count parallelism (no-op at production width)
    val qv = Par.spread(vectors).select(col("vec_id"), quantize(col("embedding")).as("qe"))
    val measured = graft.plans.Iter.measure(vectors)
    val n = measured.rows
    // per-iteration aggregates sized from the measured corpus bytes (no-op
    // at production scale; the assignment map stage keeps Par.spread width)
    graft.plans.Iter.fixpoint(vectors.sparkSession, measured.bytes,
        graft.plans.Iter.mat(initCentroidsN(vectors, k, n)))(iters) { (centroids, _) =>
      // k×dim integer distances per vector: JIT kernel, identical
      // lexicographic (d2, cid) argmin (Kernels scaladoc)
      val near = Kernels.nearestCidKernel(centroidArray(centroids))
      // one shuffle per iteration: groupBy(cid, pos) partial+final agg
      val sums = qv
        .select(near(col("qe")).as("cid"), posexplode(col("qe")).as(Seq("pos", "v")))
        .groupBy("cid", "pos")
        .agg(sum("v").as("s"), count(lit(1)).as("c"))
        // half-up integer mean: floor((2s + c) / 2c) — exact in double
        // far beyond any realistic sum magnitude, identical in SQL
        .select(col("cid"), col("pos"),
          floor((lit(2) * col("s") + col("c")).cast("double") / (lit(2) * col("c")).cast("double"))
            .cast("long").as("m"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s("m")).as("centroid"))
      // carry empty clusters forward instead of silently shrinking k
      graft.plans.Iter.mat(centroids.as("p").join(sums.as("n"), Seq("cid"), "left_outer")
        .select(col("cid"), coalesce(col("n.centroid"), col("p.centroid")).as("centroid")))
    }._1
  }

  /** nearest-centroid assignment: (vec_id, cid). Pure map-side (literal
    * centroids), zero shuffle. */
  def assign(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val near = Kernels.nearestCidKernel(centroidArray(centroids))
    vectors.select(col("vec_id"), near(quantize(col("embedding"))).as("cid"))
  }

  /** The nProbe nearest cells per probe, map-side (array_sort of the k
    * (d2, cid) structs, slice the prefix): (qid, emb_q, cid). Shared by
    * [[search]] and the IVF+PQ path ([[Pq.searchIvfAdc]]). */
  def probeCells(probes: DataFrame, centroids: DataFrame, nProbe: Int): DataFrame = {
    val cLit = centroidLiteral(centroids)
    probes
      .select(col("vec_id").as("qid"), col("embedding").as("emb_q"),
        explode(slice(array_sort(transform(cLit,
          c => distCid(quantize(col("embedding")), c))), 1, nProbe)).as("probe"))
      .select(col("qid"), col("emb_q"), col("probe.cid").as("cid"))
  }

  /** IVF search: probes visit their nProbe nearest cells only; top-k by
    * quantized dot product (consistent with Similarity.qdot). */
  def search(vectors: DataFrame, probes: DataFrame, centroids: DataFrame,
             k: Int, nProbe: Int = 2): DataFrame = {
    val near = Kernels.nearestCidKernel(centroidArray(centroids))
    val indexed = vectors.select(col("vec_id").as("nid"),
      quantize(col("embedding")).as("qn"), col("embedding").as("emb_n"))
      .withColumn("cid", near(col("qn")))
      .select(col("nid"), col("qn"), col("cid"))
    val wr = Window.partitionBy("qid").orderBy(col("dot").desc, col("nid"))
    probeCells(probes, centroids, nProbe)
      .withColumn("qq", quantize(col("emb_q"))).drop("emb_q")
      .join(indexed, "cid")
      .filter(col("qid") =!= col("nid"))
      .withColumn("dot", Kernels.dotQ(col("qq"), col("qn")))
      .withColumn("rn", row_number().over(wr)).filter(col("rn") <= k)
      .select(col("qid"), col("nid"), col("dot"), col("rn"))
  }
}
