package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-depth transitive closure (min-depth reachability) over an
  * edge table — the "instance of any subclass of X, k levels deep"
  * query every KG user runs (Wikidata P279*), which the reference's
  * flat property filters cannot express (reference
  * `spec/EntityFilter.java` matches direct statements only).
  *
  * BFS with a visited set, not naive self-join powering:
  * each round joins only the NEW frontier (pairs first reached last
  * round) against the edge table, then anti-joins the accumulated
  * closure so already-reached pairs are never re-expanded — the work
  * per round is proportional to newly discovered pairs, cycles
  * terminate naturally, and every pair carries its minimal hop count.
  * Lineage is truncated per round with [[Iter.mat]], whose fresh
  * attribute ids also keep the rounds' unions (all re-traversing the
  * same edge leaf) free of shared-id constraint rewrites. Joins stay
  * equi-joins on the edge source key; Catalyst/AQE picks broadcast
  * when a frontier is small.
  */
object Closure {

  /** @return columns (src, dst, depth) — depth = minimal #hops ≤ maxDepth */
  def transitive(edges: DataFrame, srcCol: String, dstCol: String,
                 maxDepth: Int): DataFrame = {
    require(maxDepth >= 1, "maxDepth must be >= 1")
    val e = Iter.mat(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    Iter.fixpoint(e.sparkSession, Iter.SessionWidth, (e.withColumn("depth", lit(1)), e))(
      maxDepth - 1) { case ((acc, frontier), r) =>
      val next = Iter.mat(frontier.alias("f")
        .join(e.alias("g"), col("f.dst") === col("g.src"))
        .select(col("f.src").as("src"), col("g.dst").as("dst"))
        .distinct()
        // drop pairs already reached at a smaller depth (BFS visited set)
        .join(acc.select("src", "dst"), Seq("src", "dst"), "left_anti"))
      (acc.unionByName(next.withColumn("depth", lit(r + 2))), next)
    }._1._1
  }
}
