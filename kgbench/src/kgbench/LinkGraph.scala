package kgbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.{ConnectedComponents, PageRank, Scc}
import graft.sources.DumpFormat

/** The graph-loop stage: `ConnectedComponents.run`, `PageRank.run`
  * (fixed iterations) and `Scc.run` over an entity-link edge table made
  * of item-valued statements of a corpus plus seeded long directed rings.
  * The loops' cost is rounds and jobs, not rows; the rings set the round
  * counts. Each ring's ids ascend along the ring from a seeded base, so
  * the seed moves the ids but not the rounds. */
object LinkGraph {
  val PageRankIters = 5
  private val RingIdBase = 100000000L
  private val RingIdStride = 1000000L

  /** Entities whose links enter the graph. Below the corpus's shared
    * link targets (Q1000 up), so links form shallow trees into the hubs
    * and the rings alone set the round counts. */
  val LinkedEntities = 900

  /** Distinct (src, dst) rows, no self loops: the entity links of the
    * corpus's first [[LinkedEntities]] items and `rings` rings of
    * `ringLength` nodes. */
  def edges(corpus: DataFrame, seed: Long, rings: Int, ringLength: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qid = (c: org.apache.spark.sql.Column) => substring(c, 2, 19).cast("long")
    val links = corpus
      .select(DumpFormat.Fixture.filterDoc(col("content")).as("d"))
      .select(col("d.id").as("id"), explode(col("d.statements")).as("s"))
      .where(col("s.mainSnak.valueType") === "entityid" && col("id").startsWith("Q") &&
        col("s.mainSnak.value.id").startsWith("Q"))
      .select(qid(col("id")).as("src"), qid(col("s.mainSnak.value.id")).as("dst"))
      .where(col("src") <= LinkedEntities)
    val rnd = new scala.util.Random(seed)
    val ringEdges = (0 until rings).flatMap { r =>
      val base = RingIdBase + r * RingIdStride + rnd.nextInt((RingIdStride / 2).toInt)
      (0 until ringLength).map(k => (base + k, base + (k + 1) % ringLength))
    }
    links.union(ringEdges.toDF("src", "dst"))
      .where(col("src") =!= col("dst")).distinct()
      // a fixed layout, so the same seed writes the same bytes
      .repartition(2, col("src")).sortWithinPartitions("src", "dst")
  }

  /** Runs the three loops over `edges`, writing under `out`; returns the
    * SCC's inner rounds (trim + color + harvest, all phases). */
  def run(spark: SparkSession, edges: DataFrame, out: String, step: Step): Int = {
    var sccRounds = 0
    step("plans.cc")(ConnectedComponents.run(edges.select(col("src").as("a"), col("dst").as("b")))
      .write.parquet(s"$out/cc"))
    step("plans.pagerank")(PageRank.run(spark, edges, PageRankIters).write.parquet(s"$out/pagerank"))
    step("plans.scc")(Scc.run(edges, telemetry = s =>
      sccRounds += s.trimRounds + s.colorRounds + s.harvestRounds).write.parquet(s"$out/scc"))
    sccRounds
  }

  /** Checks one run's output against sequential oracles over the edge
    * list; built once per edge table. */
  final class Checker(spark: SparkSession, edges: DataFrame) {
    import spark.implicits._
    private val edgeList: Array[(Long, Long)] = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes: Long = edgeList.flatMap(e => Seq(e._1, e._2)).distinct.length.toLong
    val edgeCount: Long = edgeList.length.toLong
    private def digest(rows: Seq[(Long, Long)]) = Digest.ofRows(rows.toDF("a", "b"))
    private val reference = Map(
      "cc" -> digest(Oracles.components(edgeList.toSeq)),
      "pagerank" -> digest(Oracles.pageRank(edgeList.toSeq, PageRankIters)),
      "scc" -> digest(Oracles.scc(edgeList.toSeq)))

    def verify(out: String): Seq[String] = {
      val cc = spark.read.parquet(s"$out/cc")
      // the oracle fixes the labels; this states the invariant directly:
      // both ends of every edge share a component label
      val split = edges
        .join(cc.select(col("node").as("src"), col("component").as("ls")), "src")
        .join(cc.select(col("node").as("dst"), col("component").as("ld")), "dst")
        .where(col("ls") =!= col("ld")).count()
      val got = Map(
        "cc" -> Digest.ofRows(cc.select("node", "component")),
        "pagerank" -> Digest.ofRows(spark.read.parquet(s"$out/pagerank").select("id", "rank_scaled")),
        "scc" -> Digest.ofRows(spark.read.parquet(s"$out/scc").select("id", "scc_id")))
      (if (split == 0) Nil else Seq(s"cc: $split edges join differently labelled nodes")) ++
        got.toSeq.sortBy(_._1).collect {
          case (k, d) if d != reference(k) => s"$k digest $d != oracle ${reference(k)}"
        }
    }
  }

  def layers(spans: Map[String, (Double, Tracer#Agg)], sccRounds: Double): Map[String, Double] = {
    def s(n: String) = spans.get(n).map(_._1).getOrElse(0.0)
    def j(n: String) = spans.get(n).map(_._2.jobs.toDouble).getOrElse(0.0)
    Map("plans.cc.s" -> s("plans.cc"), "plans.cc.jobs" -> j("plans.cc"),
      "plans.pagerank.s" -> s("plans.pagerank"), "plans.pagerank.jobs" -> j("plans.pagerank"),
      "plans.scc.s" -> s("plans.scc"), "plans.scc.jobs" -> j("plans.scc"),
      "plans.scc.rounds" -> sccRounds)
  }
}

/** Sequential reference implementations the graph loops are checked
  * against. */
object Oracles {

  /** (node, component) with the component labelled by its smallest id. */
  def components(edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.map(v => v -> find(v))
  }

  /** (id, scc id) with each strongly connected component labelled by its
    * largest id (iterative Tarjan). */
  def scc(edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toArray }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val index = mutable.HashMap.empty[Long, Int]
    val low = mutable.HashMap.empty[Long, Int]
    val onStack = mutable.HashSet.empty[Long]
    val stack = mutable.Stack.empty[Long]
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    var next = 0
    nodes.foreach { root =>
      if (!index.contains(root)) {
        val work = mutable.Stack.empty[(Long, Int)] // (node, next child position)
        def enter(v: Long): Unit = {
          index(v) = next; low(v) = next; next += 1
          stack.push(v); onStack += v; work.push((v, 0))
        }
        enter(root)
        while (work.nonEmpty) {
          val (v, i) = work.pop()
          val succ = adj.getOrElse(v, Array.empty[Long])
          if (i < succ.length) {
            work.push((v, i + 1))
            val w = succ(i)
            if (!index.contains(w)) enter(w)
            else if (onStack(w)) low(v) = math.min(low(v), index(w))
          } else {
            if (low(v) == index(v)) {
              val members = mutable.ArrayBuffer.empty[Long]
              var w = 0L
              while ({ w = stack.pop(); onStack -= w; members += w; w != v }) ()
              val id = members.max
              members.foreach(m => out += (m -> id))
            }
            if (work.nonEmpty) {
              val u = work.top._1
              low(u) = math.min(low(u), low(v))
            }
          }
        }
      }
    }
    out.toSeq
  }

  /** `PageRank.run`'s integer arithmetic: ranks in units of 1/scale,
    * contributions `rank div out_degree`, damping `(85 * sum) div 100`,
    * dangling mass dropped. */
  def pageRank(edges: Seq[(Long, Long)], iters: Int, scale: Long = 1000000000000L): Seq[(Long, Long)] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val n = nodes.size.toLong
    val deg = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val base = (scale * 15L) / (100L * n)
    var rank: Map[Long, Long] = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val contrib = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      e.foreach { case (s, d) => contrib(d) += rank(s) / deg(s) }
      rank = nodes.map(v => v -> (base + (85L * contrib(v)) / 100L)).toMap
    }
    rank.toSeq
  }
}
