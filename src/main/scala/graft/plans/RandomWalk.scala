package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic random-walk corpus generation — the DeepWalk/node2vec
  * input step (Perozzi et al., KDD 2014): fixed-length truncated walks
  * from every node, later fed to a skip-gram trainer exactly like text.
  * This is the graph-embedding analog of the engine's text training-data
  * operators: it TURNS a graph INTO a training corpus.
  *
  * Determinism (the repo-wide convention — no Random, no scan-order
  * dependence): step s of walk w draws its neighbor index from the
  * 52-bit sha256 slice of "walkId:s" (the Sketch.regRho device), taken
  * modulo the CURRENT node's sorted neighbor-array size. Walks are
  * therefore bit-identical across partitionings, retries, and engines —
  * the draw is replayed verbatim in the DuckDB oracle (q_random_walks).
  *
  * Scale shape:
  *  - adjacency arrays are built from a BOUNDED deterministic neighbor
  *    sample: per source, the `maxDegree` neighbors with the largest
  *    52-bit sha256 of "src:dst" survive (a uniform subsample computed
  *    by the partial-aggregable TopKAgg — ≤ maxDegree rows of state per
  *    source per task, so a 10^8-degree hub never materializes its full
  *    neighbor list in one buffer; uniform next-step over a uniform
  *    subsample is still uniform over the retained set);
  *  - walk state is (nWalks · |nodes|) rows, CONSTANT across rounds;
  *    each round is ONE left equi-join (state.cur ⋈ adjacency) + column
  *    ops — no shuffle growth, no explosion;
  *  - lineage is truncated ([[Iter.mat]]) every few rounds (the
  *    PageRank loop convention).
  * Dead ends (no out-edges) freeze the walk: `steps` records how many
  * transitions actually happened, matching DeepWalk's truncation.
  *
  * Reference analog: none (beyond-reference graph-corpus operator).
  */
object RandomWalk {

  private def hash52(c: Column): Column =
    conv(substring(sha2(c, 256), 1, 13), 16, 10).cast("long")

  /** `nWalks` truncated walks of ≤ `len` steps from every node with an
    * out-edge in `edges` (first two columns; duplicates collapse).
    * Node ids must be non-negative (walk_id = node·nWalks + k).
    * Output: (walk_id, start, steps, path) — path is the '|'-joined
    * node sequence, steps ≤ len the realized transition count. */
  def walks(edges: DataFrame, len: Int, nWalks: Int,
            maxDegree: Int = 10000): DataFrame = {
    require(len >= 1, s"len=$len")
    require(nWalks >= 1, s"nWalks=$nWalks")
    // TopKAgg's bounded-buffer contract caps the retained sample; a
    // uniform walk over ≥ 10k uniformly sampled neighbors is
    // statistically indistinguishable from one over the full hub list
    require(maxDegree >= 1 && maxDegree <= 10000, s"maxDegree=$maxDegree")
    val c = edges.columns
    val e = edges.select(col(c(0)).cast("long").as("src"),
      col(c(1)).cast("long").as("dst")).distinct()
    val sampled = graft.functions.TopKAgg.groupTopK(
      e.withColumn("hv", hash52(concat_ws(":", col("src"), col("dst")))),
      col("src"), col("hv"), col("dst"), maxDegree)
      .select(col("g").as("src"), col("id").as("dst"))
    val adj = Iter.mat(sampled.groupBy("src")
      .agg(array_sort(collect_list(col("dst"))).as("nbrs")))
    var state = adj
      .select(col("src").as("start"),
        explode(sequence(lit(0), lit(nWalks - 1))).as("w"))
      .select((col("start") * nWalks + col("w")).as("walk_id"), col("start"),
        col("start").as("cur"), col("start").cast("string").as("path"),
        lit(0L).as("steps"), lit(false).as("done"))
    for (s <- 1 to len) {
      val joined = state.join(adj, state("cur") === adj("src"), "left_outer")
      val stuck = col("done") || col("nbrs").isNull
      val draw = pmod(hash52(concat_ws(":", col("walk_id"), lit(s))),
        size(col("nbrs")).cast("long"))
      val nxt = element_at(col("nbrs"), (draw + 1).cast("int"))
      state = joined.select(col("walk_id"), col("start"),
        when(stuck, col("cur")).otherwise(nxt).as("cur"),
        when(stuck, col("path"))
          .otherwise(concat(col("path"), lit("|"), nxt.cast("string"))).as("path"),
        when(stuck, col("steps")).otherwise(col("steps") + 1).as("steps"),
        stuck.as("done"))
      if (s % 4 == 0 && s < len) state = Iter.mat(state)
    }
    state.select("walk_id", "start", "steps", "path")
  }

  /** Skip-gram training pairs from walk paths — the step between
    * [[walks]] and an embedding trainer (DeepWalk §4.2 feeds exactly
    * these (center, context) pairs to word2vec). For every position i
    * of every walk, each position j with 0 < |i−j| ≤ `window` yields
    * one (center=path[i], context=path[j]) pair; identical pairs
    * aggregate to a count (the trainer's sample weight).
    *
    * Scale shape: pair generation is an IN-ROW flat map over each
    * walk's ≤ (len+1)·2·window pairs (two Generates, no join), then ONE
    * partial-aggregable hash agg on (center, context) — the corpus
    * never self-joins. Output: (center, context, cnt). */
  def skipGramPairs(walkPaths: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"window=$window")
    val toks = walkPaths
      .select(transform(split(col("path"), "\\|"), t => t.cast("long")).as("p"))
    toks
      .select(posexplode(col("p")).as(Seq("i", "center")), col("p"))
      .select(col("center"), explode(expr(
        s"""transform(
           |  filter(sequence(greatest(i - $window, 0),
           |                  least(i + $window, size(p) - 1)),
           |         j -> j != i),
           |  j -> p[j])""".stripMargin)).as("context"))
      .groupBy("center", "context").agg(count(lit(1)).as("cnt"))
  }
}
