package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.plans.{Closure, PageRank, Triangles}

/** Transitive closure + PageRank: hand-checked small graphs, cycle
  * safety, determinism, and mass accounting. */
class GraphOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("closure: diamond graph yields min-depth per pair") {
    import spark.implicits._
    // a→b, a→c, b→d, c→d, d→e : (a,d) reachable via two length-2 paths,
    // (a,e) at depth 3
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e"))
      .toDF("src", "dst")
    val got = Closure.transitive(edges, "src", "dst", maxDepth = 4)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
    val expected = Map(
      ("a", "b") -> 1, ("a", "c") -> 1, ("b", "d") -> 1, ("c", "d") -> 1,
      ("d", "e") -> 1, ("a", "d") -> 2, ("b", "e") -> 2, ("c", "e") -> 2,
      ("a", "e") -> 3)
    assert(got == expected)
  }

  test("closure: cycle terminates and self-reachability appears at cycle length") {
    import spark.implicits._
    val edges = Seq(("x", "y"), ("y", "z"), ("z", "x")).toDF("src", "dst")
    val got = Closure.transitive(edges, "src", "dst", maxDepth = 6)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
    // 3-cycle: every ordered pair reachable; self at depth 3, others 1 or 2
    assert(got.size == 9)
    assert(got(("x", "x")) == 3 && got(("y", "y")) == 3 && got(("z", "z")) == 3)
    assert(got(("x", "y")) == 1 && got(("x", "z")) == 2)
  }

  test("closure: depth bound caps discovery") {
    import spark.implicits._
    val chain = (1 to 6).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "dst")
    val d2 = Closure.transitive(chain, "src", "dst", maxDepth = 2).count()
    // 6 direct edges + 5 length-2 pairs
    assert(d2 == 11)
  }

  test("pagerank: mass conserved within floor-rounding; sink-dominated ranking") {
    import spark.implicits._
    // star into a hub: hub collects all rank
    val edges = (1 to 9).map(i => (i.toLong, 0L)).toDF("src", "dst")
    val scale = 1000000000000L
    val ranks = PageRank.run(spark, edges, iters = 3, scale)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks.size == 10)
    val hub = ranks(0L); val leaf = ranks(1L)
    assert(hub > leaf * 5, s"hub $hub should dominate leaf $leaf")
    assert((1L to 9L).map(ranks).distinct.size == 1, "symmetric leaves must tie")
    // total mass ≤ scale and within rounding slack of the damped total;
    // dangling hub drops its mass (documented), leaves keep base only
    assert(ranks.values.sum <= scale)
    assert(ranks.values.min >= (scale * 15L) / (100L * 10L))
  }

  test("pagerank: deterministic across repartitionings") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val edges = (1 to 200).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2).toDF("src", "dst")
    val a = PageRank.run(spark, edges.repartition(1), iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val b = PageRank.run(spark, edges.repartition(13), iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(a == b, "integer PageRank must be partitioning-invariant")
  }

  test("triangles: known graphs, duplicate/self-loop tolerance, hub star") {
    import spark.implicits._
    def tri(edges: Seq[(String, String)]): Long =
      Triangles.count(edges.toDF("a", "b")).head().getLong(0)
    assert(tri(Seq("a" -> "b", "b" -> "c", "c" -> "a")) == 1L)
    // K4: 4 triangles; reversed/duplicated/self-loop edges don't change it
    val k4 = for (x <- Seq("a", "b", "c", "d"); y <- Seq("a", "b", "c", "d"); if x < y) yield (x, y)
    assert(tri(k4) == 4L)
    assert(tri(k4 ++ k4.map(_.swap) ++ Seq("a" -> "a")) == 4L)
    // square without diagonals: 0; with one diagonal: 2
    val sq = Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "a")
    assert(tri(sq) == 0L)
    assert(tri(sq :+ ("a" -> "c")) == 2L)
    // star (the last-reducer shape): 0 triangles; wheel: one per rim edge
    val star = (1 to 30).map(i => ("hub", s"n$i"))
    assert(tri(star) == 0L)
    val rim = (1 until 30).map(i => (s"n$i", s"n${i + 1}"))
    assert(tri(star ++ rim) == 29L)
  }

  test("label propagation matches a synchronous reference on random graphs") {
    import spark.implicits._
    import graft.plans.LabelProp
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 2; rounds <- Seq(1, 3)) {
      val n = 40
      val edges = (1 to 120).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val seeds = (0L until n).map(i => i -> (i % 5))
      // reference: synchronous rounds, plurality, smallest-label ties,
      // keep own label when no labeled neighbor
      val und = (edges ++ edges.map(_.swap)).distinct
      var ref = seeds.toMap
      for (_ <- 1 to rounds) {
        val next = ref.map { case (v, own) =>
          val counts = und.filter(_._1 == v).map(e => ref(e._2))
            .groupBy(identity).map { case (l, xs) => (l, xs.size) }
          v -> (if (counts.isEmpty) own
                else counts.toSeq.minBy { case (l, c) => (-c, l) }._1)
        }
        ref = next
      }
      val got = LabelProp.run(edges.toDF("a", "b"),
          seeds.toDF("id", "label"), rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == ref.map { case (k, v) => k -> v.toLong },
        s"trial $trial rounds $rounds")
    }
  }

  test("triangles match a brute-force reference on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 2) {
      val n = 25
      val edges = (for (i <- 0 until n; j <- i + 1 until n; if rnd.nextDouble() < 0.25)
        yield (s"v$i", s"v$j")).toSeq
      val adj = edges.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2).toSet }
      val nodes = adj.keys.toSeq.sorted
      var expected = 0L
      for (a <- nodes; b <- nodes if a < b && adj(a)(b); c <- nodes if b < c && adj(a)(c) && adj(b)(c))
        expected += 1
      val got = Triangles.count(edges.toDF("a", "b")).head().getLong(0)
      assert(got == expected, s"trial $trial: got $got expected $expected")
    }
  }

  /** reference k-core: synchronous peel to fixpoint (or round cap) */
  private def refKCore(edges: Seq[(String, String)], k: Int,
                       rounds: Int = Int.MaxValue): Map[String, Int] = {
    var e = edges.filter(x => x._1 != x._2).flatMap(x => Seq(x, x.swap)).distinct
    var i = 0
    var changed = true
    while (i < rounds && changed) {
      val deg = e.groupBy(_._1).map { case (n, es) => n -> es.size }
      val keep = deg.filter(_._2 >= k).keySet
      val next = e.filter(x => keep(x._1) && keep(x._2))
      changed = next.size != e.size
      e = next; i += 1
    }
    e.groupBy(_._1).map { case (n, es) => n -> es.size }
  }

  test("k-core: 4-clique with pendant chain — the 3-core is exactly the clique") {
    import spark.implicits._
    val clique = for (i <- 0 until 4; j <- i + 1 until 4) yield (s"c$i", s"c$j")
    val chain = Seq(("c0", "p1"), ("p1", "p2"), ("p2", "p3"))
    val got = graft.plans.KCore.run((clique ++ chain).toDF("a", "b"), k = 3, rounds = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    assert(got == Map("c0" -> 3, "c1" -> 3, "c2" -> 3, "c3" -> 3), got.toString)
  }

  test("k-core matches the reference peel on random graphs, incl. bounded rounds") {
    import spark.implicits._
    for (trial <- 1 to 3) {
      val rnd = new scala.util.Random(100 + trial)
      val n = 40
      val edges = (1 to 160).map(_ => (s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}"))
        .filter(e => e._1 != e._2).distinct
      for ((k, rounds) <- Seq((2, 1), (3, 2), (3, 20))) {
        val got = graft.plans.KCore.run(edges.toDF("a", "b"), k, rounds)
          .collect().map(r => r.getString(0) -> r.getLong(1).toInt).toMap
        val want = refKCore(edges, k, rounds)
        assert(got == want, s"trial $trial k=$k rounds=$rounds")
      }
    }
  }

  /** Reference SCC by definition: Floyd-Warshall reachability, then
    * scc_id(u) = max{v : u →* v ∧ v →* u} (self included). */
  private def bruteScc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.size
    val reach = Array.fill(n, n)(false)
    for ((a, b) <- edges if a != b) reach(idx(a))(idx(b)) = true
    for (k <- 0 until n; i <- 0 until n if reach(i)(k); j <- 0 until n if reach(k)(j))
      reach(i)(j) = true
    nodes.map { u =>
      val i = idx(u)
      u -> nodes.filter(v => v == u || (reach(i)(idx(v)) && reach(idx(v))(i))).max
    }.toMap
  }

  private def runScc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    graft.plans.Scc.run(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("scc: two cycles joined by a bridge — two nontrivial components") {
    // 1→2→3→1 (scc 3) and 10→11→10 (scc 11); bridge 3→10; pendant 3→5
    val edges = Seq[(Long, Long)](
      (1, 2), (2, 3), (3, 1), (10, 11), (11, 10), (3, 10), (3, 5))
    val got = runScc(edges)
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 10L -> 11L, 11L -> 11L, 5L -> 5L), got.toString)
  }

  test("scc: DAG is all singletons (pure trim path), self-loops tolerated") {
    val edges = Seq[(Long, Long)]((1, 2), (2, 3), (1, 3), (3, 4), (7, 7))
    val got = runScc(edges)
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 7L -> 7L), got.toString)
  }

  test("scc: round budget fires with an actionable message; telemetry reports per-phase rounds") {
    import spark.implicits._
    // a single 12-cycle: even with pointer jumping the coloring needs
    // >2 rounds, so a budget of 3 total inner rounds (1 spent on trim)
    // must trip mid-coloring
    val cyc = (0L until 12L).map(i => (i, (i + 1) % 12))
    val ex = intercept[IllegalStateException] {
      graft.plans.Scc.run(cyc.toDF("src", "dst"), maxRounds = 3)
    }
    assert(ex.getMessage.contains("maxRounds") && ex.getMessage.contains("ConnectedComponents"),
      ex.getMessage)
    // with budget headroom, telemetry sees the coloring cost: plain
    // propagation pays O(diameter) rounds, pointer jumping O(log d)
    val plainStats = scala.collection.mutable.ArrayBuffer[graft.plans.Scc.PhaseStats]()
    val plain = graft.plans.Scc.run(cyc.toDF("src", "dst"),
      telemetry = plainStats += _, pointerJump = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(plain == (0L until 12L).map(_ -> 11L).toMap, plain.toString)
    assert(plainStats.map(_.assignedThisPhase).sum == 12L, plainStats.toString)
    assert(plainStats.exists(_.colorRounds >= 12), plainStats.toString) // hop-per-round, visible
    val jumpStats = scala.collection.mutable.ArrayBuffer[graft.plans.Scc.PhaseStats]()
    val jumped = graft.plans.Scc.run(cyc.toDF("src", "dst"), telemetry = jumpStats += _)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(jumped == plain, jumped.toString)
    assert(jumpStats.map(_.colorRounds).max <= 7, jumpStats.toString) // ~2·log2(12)
  }

  test("scc: pointer jumping converges in O(log d) rounds on a long cycle, equal to plain") {
    import spark.implicits._
    // 101-cycle (the benchmark shape that cost ~100 rounds per fixpoint
    // before shortcutting): both colorings must now land in ≤ 2·log2 + 4
    val n = 101L
    val cyc = (0L until n).map(i => (i, (i + 1) % n)).toDF("src", "dst")
    val stats = scala.collection.mutable.ArrayBuffer[graft.plans.Scc.PhaseStats]()
    val got = graft.plans.Scc.run(cyc, telemetry = stats += _)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L until n).map(_ -> (n - 1)).toMap, got.toString)
    val bound = 2 * (64 - java.lang.Long.numberOfLeadingZeros(n)) + 4 // 2·ceil(log2 n)+4
    assert(stats.map(_.colorRounds).max <= bound, s"color rounds ${stats.toList} vs $bound")
    assert(stats.map(_.harvestRounds).max <= bound, s"harvest rounds ${stats.toList} vs $bound")
  }

  test("scc matches the reachability-definition reference on random digraphs") {
    for (trial <- 1 to 3) {
      val rnd = new scala.util.Random(4200 + trial)
      val n = 24
      val edges = (1 to 50)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).distinct
      val got = runScc(edges)
      val want = bruteScc(edges)
      assert(got == want, s"trial $trial: ${got.toSeq.sorted} vs ${want.toSeq.sorted}")
      if (trial == 1) { // plain (no pointer-jump) path equality, one trial is enough
        import spark.implicits._
        val plain = graft.plans.Scc.run(edges.toDF("src", "dst"), pointerJump = false)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(plain == want, s"plain path: ${plain.toSeq.sorted} vs ${want.toSeq.sorted}")
      }
    }
  }

  test("sssp: multi-hop cheaper than direct edge; bounded rounds; parallel edges keep min") {
    import spark.implicits._
    // 0→1 (1), 1→2 (1), 0→2 (10, plus a parallel 12), 2→3 (1), 9 isolated-ish
    val edges = Seq((0L, 1L, 1L), (1L, 2L, 1L), (0L, 2L, 10L), (0L, 2L, 12L),
      (2L, 3L, 1L), (7L, 9L, 5L)).toDF("src", "dst", "w")
    def distAt(r: Int) = graft.plans.Sssp.run(edges, 0L, r)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // one round: only direct edges (cheapest parallel edge wins)
    assert(distAt(1) == Map(0L -> 0L, 1L -> 1L, 2L -> 10L))
    // two rounds: the 0→1→2 path (cost 2) beats the direct 10
    assert(distAt(2) == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 11L))
    // three rounds: 3 settles through the cheap path; 7/9 unreachable
    assert(distAt(3) == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("personalized pagerank: integer reference replay; mass stays near seeds") {
    import spark.implicits._
    // two components: a 3-cycle seeded at 0, and an unseeded pair 10↔11
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (10L, 11L), (11L, 10L))
    val seeds = Seq(0L)
    val iters = 3
    val scale = 1000000000000L
    // scalar reference: same fixed-point rules
    val e = edges.distinct
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val deg = e.groupBy(_._1).map { case (s, xs) => s -> xs.size.toLong }
    val ns = seeds.size.toLong
    val base = scale * 15L / (100L * ns)
    var r = nodes.map(v => v -> (if (seeds.contains(v)) scale / ns else 0L)).toMap
    (1 to iters).foreach { _ =>
      val contrib = e.groupBy(_._2).map { case (d, in) =>
        d -> in.map { case (s, _) => r(s) / deg(s) }.sum
      }
      r = nodes.map(v => v -> ((if (seeds.contains(v)) base else 0L)
        + 85L * contrib.getOrElse(v, 0L) / 100L)).toMap
    }
    val got = graft.plans.PageRank.personalized(spark,
        edges.toDF("src", "dst"), seeds.toDF("id"), iters)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got == r, s"got $got want $r")
    // the unseeded component holds zero mass; the seeded one holds it all
    assert(got(10L) == 0L && got(11L) == 0L && got(0L) > 0L && got(1L) > 0L)
  }

  /** JVM reference of the HyperBall register propagation: exact-set BFS
    * balls, then the identical sha256 register derivation per member. */
  private def refHyperBall(edges: Seq[(Long, Long)], rounds: Int)
      : (Map[(Long, Long), Long], Map[Long, Long]) = {
    val e = edges.filter(p => p._1 != p._2).distinct
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct
    val out = e.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def ball(v: Long): Set[Long] = {
      var b = Set(v)
      (1 to rounds).foreach { _ =>
        b = b ++ b.flatMap(u => out.getOrElse(u, Seq.empty))
      }
      b
    }
    def regRho(id: Long): (Long, Long) = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      val reg = java.lang.Long.parseLong(hex.substring(0, 1), 16)
      val v = java.lang.Long.parseLong(hex.substring(1, 14), 16)
      val rho = 53L - (64 - java.lang.Long.numberOfLeadingZeros(v))
      (reg, if (v == 0) 53L else rho)
    }
    val regs = nodes.flatMap { v =>
      ball(v).map(regRho).groupBy(_._1).map { case (r, xs) =>
        (v, r) -> xs.map(_._2).max
      }
    }.toMap
    val exact = nodes.map(v => v -> ball(v).size.toLong).toMap
    (regs, exact)
  }

  test("hyperball: registers equal the exact-ball JVM reference on random digraphs") {
    import spark.implicits._
    for (trial <- 1 to 2) {
      val rnd = new scala.util.Random(77 + trial)
      val edges = (1 to 60)
        .map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)).distinct
      val rounds = 1 + trial
      val (wantRegs, exact) = refHyperBall(edges, rounds)
      val gotRegs = graft.plans.HyperBall
        .registers(edges.toDF("src", "dst"), rounds, b = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(gotRegs == wantRegs, s"trial $trial register mismatch")
      // ball_estimate == the RAW-estimate arithmetic replayed in the JVM
      // (alpha·m²·2^52 / harmonic, floored — identical IEEE ops), and
      // estimates are monotone in exact ball size on average (the raw
      // sketch overestimates small ranges by a bias that cancels in
      // comparisons; the engine documents this convention)
      val alpha = 0.7213 / (1.0 + 1.079 / 16)
      val num = alpha * 256.0 * 4503599627370496.0
      val est = graft.plans.HyperBall.run(edges.toDF("src", "dst"), rounds, b = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      exact.keys.foreach { v =>
        val byNode = wantRegs.collect { case ((n, _), rho) if n == v => rho }
        val harmonic = byNode.map(r => 1L << (52 - r)).sum +
          (16L - byNode.size) * 4503599627370496L
        val want = math.floor(num / harmonic.toDouble).toLong
        assert(est(v) == want, s"node $v: est ${est(v)} vs ref $want")
      }
      // rank correlation sanity: the biggest exact ball never estimates
      // below the smallest exact ball
      val maxV = exact.maxBy(_._2)._1
      val minV = exact.minBy(_._2)._1
      if (exact(maxV) > 3 * exact(minV)) assert(est(maxV) >= est(minV))
    }
  }

  test("hyperball harmonic centrality: matches per-round reference replay") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val edges = (1 to 50)
      .map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong)).distinct
    val maxDepth = 3
    val alpha = 0.7213 / (1.0 + 1.079 / 16)
    val num = alpha * 256.0 * 4503599627370496.0
    def estAt(r: Int): Map[Long, Long] = {
      val (regs, _) = refHyperBall(edges, r)
      regs.keys.map(_._1).toSeq.distinct.map { v =>
        val rhos = regs.collect { case ((n, _), rho) if n == v => rho }
        val harmonic = rhos.map(x => 1L << (52 - x)).sum +
          (16L - rhos.size) * 4503599627370496L
        v -> math.floor(num / harmonic.toDouble).toLong
      }.toMap
    }
    val ests = (0 to maxDepth).map(estAt)
    val want = ests(0).keys.map { v =>
      val h = (1 to maxDepth).map(d => (ests(d)(v) - ests(d - 1)(v)) * 1000000L / d).sum
      v -> (ests(maxDepth)(v), h)
    }.toMap
    val got = graft.plans.HyperBall
      .harmonicCentrality(edges.toDF("src", "dst"), maxDepth, b = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want)
  }

  test("hyperball: registers only grow with rounds (ball monotonicity)") {
    import spark.implicits._
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("src", "dst")
    def regsAt(r: Int) = graft.plans.HyperBall.registers(edges, r, b = 4)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    val r1 = regsAt(1); val r2 = regsAt(2)
    r1.foreach { case (k, rho) => assert(r2.contains(k) && r2(k) >= rho) }
    assert(r2.size >= r1.size)
  }

  /** brute-force common-neighbor Jaccard reference over an undirected
    * edge list (self-loops dropped, duplicates collapsed) */
  private def refJaccard(edges: Seq[(Long, Long)]): Map[(Long, Long), (Long, Long, Long, Long)] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val nbrs = (und ++ und.map(_.swap)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val nodes = nbrs.keys.toSeq.sorted
    (for {
      u <- nodes; v <- nodes if u < v
      common = (nbrs(u) & nbrs(v)).size.toLong if common >= 1
    } yield (u, v) -> ((common, nbrs(u).size.toLong, nbrs(v).size.toLong,
      common * 1000000L / (nbrs(u).size + nbrs(v).size - common)))).toMap
  }

  test("node jaccard matches brute-force reference on random graphs; no cartesian") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val edges = Seq.fill(120)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
    val got = graft.plans.NodeSim.jaccard(edges.toDF("src", "dst"))
    val gotMap = got.collect().map(r => (r.getLong(0), r.getLong(1)) ->
      ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(gotMap == refJaccard(edges), s"got ${gotMap.size} vs ref ${refJaccard(edges).size}")
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("node jaccard: wedge-degree cap purges hub centers (lower-bound contract)") {
    import spark.implicits._
    // star: hub 0 connected to 1..10, plus a private edge 1-2
    val edges = (1L to 10L).map(i => (0L, i)) :+ ((1L, 2L))
    val full = graft.plans.NodeSim.jaccard(edges.toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // uncapped: all leaf pairs share hub 0; (1,2) additionally adjacent
    assert(full((3L, 4L)) == 1L && full((1L, 2L)) == 1L)
    val capped = graft.plans.NodeSim.jaccard(edges.toDF("src", "dst"),
      maxWedgeDegree = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // hub (deg 10) forms no wedges; only wedges through low-degree
    // centers survive: 0's pair-of-neighbors via center 1 or 2 → (0, 2)
    // via center 1 and (0, 1) via center 2
    assert(!capped.contains((3L, 4L)))
    assert(capped.contains((1L, 2L)) == false) // their only shared nbr is the hub
    assert(capped((0L, 1L)) == 1L && capped((0L, 2L)) == 1L)
  }

  test("clustering coefficient: brute-force equality; clique corner vs pendant") {
    import spark.implicits._
    val rnd = new scala.util.Random(85)
    val edges = Seq.fill(180)((rnd.nextInt(28).toLong, rnd.nextInt(28).toLong))
      .filter(e => e._1 != e._2).distinct
    val got = graft.plans.Triangles.clusteringCoeff(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val und = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val nbrs = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    val want = nbrs.map { case (v, ns) =>
      val tri = ns.toSeq.combinations(2).count { case Seq(x, y) =>
        nbrs(x)(y)
      }.toLong
      val d = ns.size.toLong
      v -> ((d, tri, if (d >= 2) 2L * tri * 1000000L / (d * (d - 1)) else 0L))
    }
    assert(got == want, s"${got.size} vs ${want.size}")
    // triangle abc + pendant d on a: cc(b) = cc(c) = 1e6; cc(a) = 1/3e6
    val hand = graft.plans.Triangles.clusteringCoeff(
        Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(hand(2L) == 1000000L && hand(3L) == 1000000L)
    assert(hand(1L) == 333333L && hand(4L) == 0L)
  }

  /** textbook Brandes with the engine's integer-ppm dependency
    * convention, single-threaded */
  private def refBetweenness(edges: Seq[(Long, Long)], sources: Seq[Long],
                             maxDepth: Int): Map[Long, Long] = {
    val e = edges.filter(x => x._1 != x._2).distinct
    val adj = e.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct }
    val bc = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for (s <- sources.distinct) {
      var dist = Map(s -> 0)
      val sigma = scala.collection.mutable.Map(s -> 1L)
      val predEdges = scala.collection.mutable.Buffer.empty[(Long, Long, Int)]
      var frontier = Seq(s)
      var d = 0
      while (d < maxDepth && frontier.nonEmpty) {
        val next = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
        for (v <- frontier; w <- adj.getOrElse(v, Nil) if !dist.contains(w)) {
          next(w) = next.getOrElse(w, 0L) + sigma(v)
          predEdges += ((v, w, d + 1))
        }
        next.foreach { case (w, sg) => sigma(w) = sg; dist += (w -> (d + 1)) }
        frontier = next.keys.toSeq
        d += 1
      }
      val deltaS = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      val maxLvl = if (dist.isEmpty) 0 else dist.values.max
      for (l <- maxLvl to 1 by -1; (pv, w, lvl) <- predEdges if lvl == l)
        deltaS(pv) += sigma(pv) * (1000000L + deltaS(w)) / sigma(w)
      for (v <- dist.keys if v != s) bc(v) += deltaS(v)
    }
    bc.toMap
  }

  test("betweenness: matches textbook Brandes (ppm convention) on random digraphs; bridge dominates") {
    import spark.implicits._
    val rnd = new scala.util.Random(83)
    val edges = Seq.fill(200)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(e => e._1 != e._2).distinct
    val sources = Seq(0L, 5L, 10L, 15L)
    val got = graft.plans.Betweenness.approx(
        edges.toDF("src", "dst"), sources.toDF("s"), maxDepth = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == refBetweenness(edges, sources, 8),
      s"${got.size} nodes vs ref ${refBetweenness(edges, sources, 8).size}")
    // hand case: two sources funneling through one bridge
    // 0→2, 1→2, 2→3, 2→4: from each source, 2 carries both descendants
    val bridge = Seq((0L, 2L), (1L, 2L), (2L, 3L), (2L, 4L))
    val b = graft.plans.Betweenness.approx(
        bridge.toDF("src", "dst"), Seq(0L, 1L).toDF("s"), maxDepth = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // delta(2) per source = 2 * (1e6 // 1) = 2e6; two sources → 4e6
    assert(b(2L) == 4000000L, b.toString)
    assert(b(3L) == 0L && b(4L) == 0L)
    // sources with no out-edges: empty result, right schema
    val none = graft.plans.Betweenness.approx(
      Seq((7L, 8L)).toDF("src", "dst"), Seq(9L).toDF("s"), maxDepth = 3)
    assert(none.columns.toSeq == Seq("id", "bc_ppm") && none.count() == 0)
  }

  test("khop sampling: matches brute-force sha52 ranks; union frontier; no Window in plan") {
    import spark.implicits._
    val rnd = new scala.util.Random(81)
    val edges = Seq.fill(200)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(e => e._1 != e._2).distinct
    val seeds = Seq(0L, 1L, 2L)
    val fanouts = Seq(2, 3)
    val df = graft.plans.KhopSample.sample(
      edges.toDF("src", "dst"), seeds.toDF("id"), fanouts)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // brute force with the same hash convention (h52 helper below)
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct }
    def block(frontier: Seq[Long], hop: Long, f: Int) = frontier.flatMap { s =>
      adj.getOrElse(s, Nil)
        .sortBy(d => (-h52(s"$s:$d"), d)).take(f).zipWithIndex
        .map { case (d, i) => (hop, s, d, i + 1L) }
    }
    val b0 = block(seeds, 0L, fanouts(0))
    val f1 = b0.map(_._3).distinct
    val b1 = block(f1, 1L, fanouts(1))
    assert(got == (b0 ++ b1).toSet, s"got ${got.size} vs want ${(b0 ++ b1).size}")
    // fanout larger than any degree keeps every neighbor
    val all = graft.plans.KhopSample.sample(
        edges.toDF("src", "dst"), seeds.toDF("id"), Seq(1000))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(all == seeds.flatMap(s => adj.getOrElse(s, Nil).map(s -> _)).toSet)
    // the data path ranks via the partial-aggregable TopKAgg, not a window
    assert(!df.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("weighted pagerank: reduces to unweighted at w=1; heavy edge redirects rank") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val edges = (1 to 150).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(e => e._1 != e._2).distinct
    val unw = PageRank.run(spark, edges.toDF("src", "dst"), iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val w1 = graft.plans.PageRank.weighted(
        spark, edges.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w"), iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(unw == w1, "w=1 must equal the unweighted ranks bit-exactly")
    // source 0 splits mass 9:1 between 1 and 2 → 1 outranks 2
    val skew = Seq((0L, 1L, 9L), (0L, 2L, 1L)).toDF("src", "dst", "w")
    val r = graft.plans.PageRank.weighted(spark, skew, iters = 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // excess over the teleport base splits exactly 9:1
    val base = 1000000000000L * 15L / (100L * 3L)
    assert(r(1L) - base == 9L * (r(2L) - base), r.toString)
    // parallel edges merge by weight sum: (0,1,9) == (0,1,4)+(0,1,5)
    val merged = graft.plans.PageRank.weighted(spark,
        Seq((0L, 1L, 4L), (0L, 1L, 5L), (0L, 2L, 1L)).toDF("src", "dst", "w"), iters = 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(merged == r)
  }

  test("luby MIS: independent, maximal, deterministic across partitionings; budget fires") {
    import spark.implicits._
    val rnd = new scala.util.Random(79)
    val edges = Seq.fill(150)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val df = edges.toDF("src", "dst")
    val got = graft.plans.Mis.run(df)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    assert(got.keySet == nodes.toSet)
    val mis = got.filter(_._2).keySet
    // independence: no simple edge inside the MIS
    assert(und.forall { case (u, v) => !(mis(u) && mis(v)) })
    // maximality: every outsider has a MIS neighbor
    val nbrs = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    assert(nodes.filterNot(mis).forall(v => nbrs.getOrElse(v, Set()).exists(mis)))
    // determinism: a different partitioning yields the identical set
    val got2 = graft.plans.Mis.run(df.repartition(7))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got2 == got)
    // fail-fast budget
    val e = intercept[IllegalArgumentException] {
      graft.plans.Mis.run(df, maxRounds = 0)
    }
    assert(e.getMessage.contains("still active"))
  }

  test("luby round statuses: winners are strict local minima; drops are their neighbors") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (10L, 10L)).toDF("a", "b")
    val nodes = Seq(0L, 1L, 2L, 3L, 4L, 10L).toDF("id")
    val st = graft.plans.Mis.round(edges, nodes, 0)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // self-loop-only node 10 is isolated → wins unconditionally
    assert(st(10L)._2 == "mis")
    // replay the rule on the path 0-1-2-3-4
    def h(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val hex = md.digest(s"$id@0".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(13), 16)
    }
    val nb = Map(0L -> Seq(1L), 1L -> Seq(0L, 2L), 2L -> Seq(1L, 3L),
      3L -> Seq(2L, 4L), 4L -> Seq(3L))
    nb.foreach { case (v, ns) =>
      assert(st(v)._1 == h(v), s"priority of $v")
      def lt(a: (Long, Long), b: (Long, Long)) =
        a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)
      val wins = ns.forall(n => lt((h(v), v), (h(n), n)))
      val dropped = !wins && ns.exists(n =>
        nb(n).forall(m => lt((h(n), n), (h(m), m))))
      val want = if (wins) "mis" else if (dropped) "dropped" else "active"
      assert(st(v)._2 == want, s"status of $v")
    }
  }

  test("resource-allocation index matches brute force; hub discount orders pairs sensibly") {
    import spark.implicits._
    val rnd = new scala.util.Random(78)
    val edges = Seq.fill(120)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
    val got = graft.plans.NodeSim.resourceAllocation(edges.toDF("src", "dst"))
    val gotMap = got.collect().map(r => (r.getLong(0), r.getLong(1)) ->
      ((r.getLong(2), r.getLong(3)))).toMap
    // brute force with the same 10^6 div deg(w) convention
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val nbrs = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    val nodes = nbrs.keys.toSeq.sorted
    val want = (for {
      u <- nodes; v <- nodes if u < v
      shared = nbrs(u) & nbrs(v) if shared.nonEmpty
    } yield (u, v) -> ((shared.size.toLong,
      shared.toSeq.map(w => 1000000L / nbrs(w).size).sum))).toMap
    assert(gotMap == want, s"got ${gotMap.size} vs ref ${want.size}")
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    // hub discount: a pair sharing one degree-2 neighbor outranks a pair
    // sharing one high-degree hub
    val star = ((1L to 10L).map(i => (0L, i)) ++ Seq((20L, 21L), (21L, 22L)))
    val ra = graft.plans.NodeSim.resourceAllocation(star.toDF("a", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(ra((20L, 22L)) == 500000L) // via degree-2 center 21
    assert(ra((1L, 2L)) == 100000L)   // via the degree-10 hub
  }

  test("aggregateNeighbors matches a scalar reference") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 5L))
    val feats = Seq((1L, 10L), (2L, 20L), (3L, 31L), (4L, 40L))
    val got = graft.plans.NodeSim.aggregateNeighbors(
      edges.toDF("src", "dst"), feats.toDF("id", "feat"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // node 1: nbrs {2,3} → (2, 51, 20, 31, 25); node 3: nbrs {1,2,4} →
    // (3, 70, 10, 40, 23); node 5's self-loop drops out entirely
    assert(got(1L) == ((2L, 51L, 20L, 31L, 25L)), got(1L).toString)
    assert(got(3L) == ((3L, 70L, 10L, 40L, 23L)), got(3L).toString)
    assert(got(4L) == ((1L, 31L, 31L, 31L, 31L)), got(4L).toString)
    assert(!got.contains(5L))
  }

  /** 52-bit sha256 slice — the same derivation as RandomWalk.hash52 /
    * Sketch.regRho, recomputed independently on the JVM */
  private def h52(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(13), 16)
  }

  /** reference truncated deterministic walk */
  private def refWalks(edges: Seq[(Long, Long)], len: Int, nWalks: Int)
      : Map[Long, (Long, Long, String)] = {
    val adj = edges.distinct.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).distinct.sorted }
    adj.keys.flatMap { n =>
      (0 until nWalks).map { k =>
        val id = n * nWalks + k
        var cur = n; var steps = 0L; val path = new StringBuilder(n.toString)
        var s = 1; var stuck = false
        while (s <= len && !stuck) {
          adj.get(cur) match {
            case Some(nbrs) =>
              cur = nbrs((h52(s"$id:$s") % nbrs.size).toInt)
              path.append('|').append(cur); steps += 1
            case None => stuck = true
          }
          s += 1
        }
        id -> ((n, steps, path.toString))
      }
    }.toMap
  }

  test("random walks match the JVM sha256 reference incl. dead ends; partition-invariant") {
    import spark.implicits._
    // 0 and 2 branch, 1 is single-exit, 3 is a dead end
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (2L, 3L), (0L, 2L))
    val want = refWalks(edges, len = 4, nWalks = 3)
    def run(parts: Int) = graft.plans.RandomWalk
      .walks(edges.toDF("src", "dst").repartition(parts), len = 4, nWalks = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val got = run(3)
    assert(got == want, s"got=$got\nwant=$want")
    assert(run(1) == got) // partitioning-invariant
    // a walk reaching the dead end froze early
    assert(want.values.exists(_._2 < 4L) || got.values.forall(_._2 == 4L))
  }

  test("random walks: maxDegree cap bounds the neighbor sample deterministically") {
    import spark.implicits._
    val hub = 9L
    val edges = (1L to 5L).map(d => (hub, d))
    // top-2 neighbors by h52("src:dst") desc, dst asc — the TopKAgg order
    val retained = edges.map { case (s, d) => (h52(s"$s:$d"), d) }
      .sortBy { case (h, d) => (-h, d) }.take(2).map(_._2).toSet
    val visited = graft.plans.RandomWalk
      .walks(edges.toDF("src", "dst"), len = 1, nWalks = 8, maxDegree = 2)
      .filter(col("start") === hub)
      .collect().map(_.getString(3).split('|')(1).toLong).toSet
    assert(visited.subsetOf(retained), s"visited=$visited retained=$retained")
  }

  test("scc condensation collapses cycles to a DAG of distinct quotient edges") {
    import spark.implicits._
    // cycle {1,2,3} → cycle {4,5} → tail 6; parallel raw edges collapse
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 4L),
      (3L, 4L), (3L, 4L), (5L, 6L))
    val got = graft.plans.Scc.condense(edges.toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((3L, 5L), (5L, 6L)), got.toString)
    // a DAG condenses to itself (every node its own SCC)
    val dag = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val gotDag = graft.plans.Scc.condense(dag.toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotDag == dag.toSet)
  }

  test("skipGramPairs match a scalar reference incl. short paths and window clipping") {
    import spark.implicits._
    val paths = Seq("1|2|3|4|5", "7|8", "9") // normal, short, singleton
    val want = paths.flatMap { p =>
      val t = p.split('|').map(_.toLong)
      for {
        i <- t.indices; j <- t.indices
        if i != j && math.abs(i - j) <= 2
      } yield (t(i), t(j))
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = graft.plans.RandomWalk
      .skipGramPairs(paths.toDF("path"), window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want, s"got=$got\nwant=$want")
    assert(!got.keys.exists(k => k == ((9L, 9L)))) // singleton path emits nothing
    assert(got((1L, 3L)) == 1L && got((2L, 4L)) == 1L && !got.contains((1L, 4L)))
  }

  // K4 on {1,2,3,4} + a pendant triangle {4,5,6} + a bridge (6,7)
  private val trussGraph: Seq[(Long, Long)] = Seq(
    (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
    (4L, 5L), (5L, 6L), (4L, 6L), (6L, 7L))

  test("ktruss: k=4 peels the pendant triangle by CASCADE, keeps K4") {
    import spark.implicits._
    // round 1 drops (5,6) [sup 1] and (6,7) [sup 0]; that kills the
    // triangle, so round 2 drops (4,5) and (4,6) — the cascade a
    // single-pass support filter would miss
    val got = graft.plans.KTruss.run(trussGraph.toDF("a", "b"), k = 4, rounds = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val k4 = Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(got.keySet == k4, s"got=$got")
    assert(got.values.forall(_ == 2L), "every K4 edge sits in exactly 2 surviving triangles")
    // support counting is equi-joins only — never a pair explosion
    val plan = graft.plans.KTruss.support(
      trussGraph.toDF("a", "b").toDF("u", "v"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"support must stay equi-join shaped:\n$plan")
  }

  test("ktruss: k=3 keeps the triangle, drops only the bridge; orientation/dup-proof") {
    import spark.implicits._
    val got = graft.plans.KTruss.run(trussGraph.toDF("a", "b"), k = 3, rounds = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(!got.contains((6L, 7L)) && got.size == 9)
    assert(got((5L, 6L)) == 1L && got((4L, 5L)) == 1L && got((1L, 2L)) == 2L)
    // reversed + duplicated + self-loop input canonicalizes to the same
    val messy = (trussGraph.map(_.swap) ++ trussGraph ++ Seq((3L, 3L))).toDF("a", "b")
    val got2 = graft.plans.KTruss.run(messy, k = 3, rounds = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got2 == got)
  }

  test("modularity: two triangles + bridge, hand-computed scaled terms; Q=0 for one community") {
    import spark.implicits._
    // {a,b,c} and {d,e,f} triangles bridged by (c,d): m=7,
    // L_c=3 each, D_c=7 each → contrib = 4·7·3 − 49 = 35 per community
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("d", "e"), ("e", "f"), ("d", "f"), ("c", "d")).toDF("a", "b")
    val comm = Seq(("a", 1L), ("b", 1L), ("c", 1L),
      ("d", 2L), ("e", 2L), ("f", 2L)).toDF("id", "comm")
    val got = graft.plans.Modularity.scaled(edges, comm)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(1L -> ((3L, 7L, 35L)), 2L -> ((3L, 7L, 35L))), s"got=$got")
    // Σ contrib = Q·4m² = 70 → Q = 70/196
    assert(got.values.map(_._3).sum == 70L)
    // degenerate: everything in ONE community → Q exactly 0
    val one = comm.select(col("id"), lit(0L).as("comm"))
    val q0 = graft.plans.Modularity.scaled(edges, one)
      .collect().map(_.getLong(3)).sum
    assert(q0 == 0L)
  }

  // ------------------------------------------------ the fixpoint loop

  /** Jobs started while `body` runs on the shared session. */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusProbe.drain(sc)
    sc.addSparkListener(counter)
    try { body; org.apache.spark.ListenerBusProbe.drain(sc) }
    finally sc.removeSparkListener(counter)
    jobs.get
  }

  test("fixpoint: one change-detection action per round (temporalReach, kcore)") {
    import spark.implicits._
    // a 6-hop time-respecting chain: 7 rounds to settle under maxHops 10
    val chain = (0L until 6L).map(i => (i, i + 1, i)).toDF("src", "dst", "ts")
    val seeds = Seq(0L).toDF("id")
    val tr = jobsOf(graft.plans.TemporalReach.run(chain, seeds, maxHops = 10).collect())
    // a 4-clique with a pendant chain: one peel, one confirming round
    val clique = for (a <- 1 to 4; b <- 1 to 4 if a < b) yield (s"n$a", s"n$b")
    val g = (clique ++ Seq(("n4", "p1"), ("p1", "p2"), ("p2", "p3"))).toDF("a", "b")
    val kc = jobsOf(graft.plans.KCore.run(g, k = 3, rounds = 10).collect())
    // counts of the per-loop change detection this replaces (re-aggregating
    // the previous state each round; re-counting KCore's unmaterialized
    // input), measured on the same calls
    assert(tr < 25, s"temporalReach ran $tr jobs")
    assert(kc < 15, s"kcore ran $kc jobs")
  }

  test("fixpoint: an aqeOff loop plans on its own thread; the session's conf and queries stay as set") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.plans.Iter
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.conf.set("spark.sql.adaptive.enabled", "true")
    // a loop's width is its bytes over the advisory partition size
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1048576")
    def sessionConf = (s.conf.get("spark.sql.shuffle.partitions"), s.conf.get("spark.sql.adaptive.enabled"))
    val asSet = ("8", "true")
    def grouped = s.range(100).groupBy((col("id") % 7).as("k")).count()
    // the shuffle widths in the lineage of the rows a loop step reads
    def widths(df: org.apache.spark.sql.DataFrame): Seq[Int] = {
      def walk(rdd: org.apache.spark.rdd.RDD[_]): Seq[Int] = rdd.dependencies.flatMap { d =>
        (d match {
          case sd: org.apache.spark.ShuffleDependency[_, _, _] => Seq(sd.partitioner.numPartitions)
          case _ => Nil
        }) ++ walk(d.rdd)
      }
      walk(org.apache.spark.sql.GraftLeaf.rows(df))
    }
    // an adaptive plan runs its query stages while its rows are built;
    // a non-adaptive one starts no job until an action reads them
    def roundWidths: Seq[Int] = {
      var w = Seq.empty[Int]
      assert(jobsOf { w = widths(grouped) } == 0, "the round's plan is adaptive")
      w
    }
    val inRound, checked = new CountDownLatch(1)
    def await(l: CountDownLatch): Unit = assert(l.await(60, TimeUnit.SECONDS), "latch timed out")
    assert(sessionConf == asSet)
    val loop = Future {
      Iter.fixpoint(s, 5L << 19, ())(1, aqeOff = true) { (_, _) => // 2.5 MiB: width 3
        try {
          assert(sessionConf == asSet)
          assert(roundWidths == Seq(3))
          assert(Iter.measure(Iter.mat(grouped)).rows == 7)
          // a nested loop narrows the width (AQE stays off); one whose
          // width would not shrink it keeps the enclosing loop's
          Iter.fixpoint(s, 1000L, ())(1) { (_, _) => assert(roundWidths == Seq(1)) }
          Iter.fixpoint(s, Iter.SessionWidth, ())(1) { (_, _) => assert(roundWidths == Seq(3)) }
          assert(roundWidths == Seq(3))
        } finally inRound.countDown()
        await(checked)
      }
    }
    await(inRound)
    try {
      // meanwhile, on this thread: the session's values, its width, AQE
      assert(sessionConf == asSet)
      val q = grouped
      q.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec =>
          val w = a.initialPlan.collect { case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions }
          assert(w == Seq(8), a.initialPlan.toString)
        case p => fail(s"not adaptive while a loop runs:\n$p")
      }
      assert(q.count() == 7)
    } finally checked.countDown()
    Await.result(loop, 2.minutes)
    assert(sessionConf == asSet)
  }

  test("Iter.bcast: a frame of few but wide rows over the byte threshold stays unhinted") {
    import graft.plans.Iter
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    def hinted(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collectFirst { case h: ResolvedHint => h }.isDefined
    // 640 rows of 32 KiB: far under any row bound, but ~20 MiB against the
    // session's 10 MiB autoBroadcastJoinThreshold
    val wide = Iter.mat(spark.range(640).select(col("id"), repeat(lit("x"), 32768).as("blob")))
    val m = Iter.measure(wide)
    assert(m.rows == 640 && m.bytes > (20L << 20), m)
    assert(!hinted(Iter.bcast(wide, m.bytes)))
    val narrow = Iter.mat(spark.range(640).toDF("id"))
    assert(hinted(Iter.bcast(narrow, Iter.measure(narrow).bytes)))
  }

  test("fixpoint: a session with broadcasts off plans no broadcast in its loops") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // broadcast joins PageRank's rounds execute, seen where they run: each
    // broadcast exchange builds its relation in a job of its own, tagged
    // with the exchange
    def broadcastJoins(s: org.apache.spark.sql.SparkSession): Int = {
      val seen = new java.util.concurrent.atomic.AtomicInteger
      val l = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          if (Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
              .exists(_.contains("broadcast exchange"))) seen.incrementAndGet()
      }
      s.sparkContext.addSparkListener(l)
      try {
        import s.implicits._
        val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
        PageRank.run(s, edges, iters = 3).collect()
        org.apache.spark.ListenerBusProbe.drain(s.sparkContext)
      } finally s.sparkContext.removeSparkListener(l)
      seen.get
    }
    assert(broadcastJoins(spark.newSession()) > 0) // the hinted plans are seen
    val off = spark.newSession()
    off.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    assert(broadcastJoins(off) == 0)
  }

  test("fixpoint: budget policies — stop quietly, or fail with the loop's message") {
    import graft.plans.Iter
    val (n, r) = Iter.fixpoint(spark, Iter.SessionWidth, 0)(3)((s, _) => s + 1)
    assert((n, r) == ((3, 3)))
    // Unchanged settles on the round that repeats the carried signature
    // and keeps the state it carried
    val (m, rm) = Iter.fixpoint(spark, Iter.SessionWidth, 0)(
      10, Iter.Until.Unchanged((s: Int) => math.min(s, 4)))((s, _) => s + 1)
    assert((m, rm) == ((4, 5)))
    val (d, rd) = Iter.fixpoint(spark, Iter.SessionWidth, 0)(
      10, Iter.Until.Done((s: Int) => s >= 2))((s, _) => s + 1)
    assert((d, rd) == ((2, 2)))
    val quiet = Iter.fixpoint(spark, Iter.SessionWidth, 0)(
      2, Iter.Until.Done((s: Int) => s >= 5))((s, _) => s + 1)
    assert(quiet == ((2, 2)))
    val ex = intercept[IllegalStateException](Iter.fixpoint(spark, Iter.SessionWidth, 0)(
      2, Iter.Until.Done((s: Int) => s >= 5),
      fail = Some(s => new IllegalStateException(s"stuck at $s")))((s, _) => s + 1))
    assert(ex.getMessage == "stuck at 2")
  }
}
