package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.plans.{Canonicalize, ConnectedComponents}
import graft.operators.{Dedup, Ivf, Multimodal, Similarity, Skew}
import graft.sources.EntityCorpus

class OperatorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import scala.collection.mutable

  /** reference union-find for CC validation */
  def unionFind(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(if (ra < rb) rb else ra) = if (ra < rb) ra else rb
    }
    // canonical = min node id per component
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ns) => val m = ns.min; ns.map(_ -> m) }.toMap
  }

  test("connected components match union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 60 + trial * 40
      val edges = (1 to n).map(_ => (s"n${rnd.nextInt(50)}", s"n${rnd.nextInt(50)}"))
        .filter(e => e._1 != e._2)
      val expected = unionFind(edges)
      val got = ConnectedComponents.run(edges.toDF("a", "b"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == expected, s"trial $trial CC mismatch")
    }
  }

  test("connected components handle chains (worst case for propagation)") {
    import spark.implicits._
    val chain = (0 until 200).map(i => (f"c$i%03d", f"c${i + 1}%03d"))
    val got = ConnectedComponents.run(chain.toDF("a", "b")).collect()
    assert(got.length == 201 && got.forall(_.getString(1) == "c000"))
  }

  test("connected components keep self-loop-only nodes as singleton components") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("s", "s"), ("b", "b")).toDF("a", "b")
    val got = ConnectedComponents.run(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // s has ONLY a self-loop → its own component; b's self-loop is
    // redundant with the a–b edge
    assert(got == Map("a" -> "a", "b" -> "a", "s" -> "s"), got.toString)
  }

  test("connected components use reliable checkpoint when a checkpoint dir is set") {
    import spark.implicits._
    val chain = (0 until 40).map(i => (f"k$i%02d", f"k${i + 1}%02d"))
    val links = (0L until 6L).map(i => (i, i + 1))
    // every graph loop truncates through Iter.mat: each must write
    // reliable checkpoints when the dir is set, with unchanged results
    val loops: Seq[(String, () => Unit)] = Seq(
      "ConnectedComponents" -> { () =>
        val got = ConnectedComponents.run(chain.toDF("a", "b")).collect()
        assert(got.length == 41 && got.forall(_.getString(1) == "k00"))
      },
      "PageRank" -> { () =>
        val got = graft.plans.PageRank.run(spark, links.toDF("src", "dst"), 3).collect()
        assert(got.length == 7)
      },
      "Sssp" -> { () =>
        val got = graft.plans.Sssp.run(links.map(e => (e._1, e._2, 2L)).toDF("src", "dst", "w"),
          0L, 3).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == Map(0L -> 0L, 1L -> 2L, 2L -> 4L, 3L -> 6L))
      },
      "TopoLayers" -> { () =>
        val got = graft.plans.TopoLayers.run(links.toDF("src", "dst"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == (0L to 6L).map(i => i -> i).toMap)
      },
      "LabelProp" -> { () =>
        val got = graft.plans.LabelProp.run(Seq(("x", "y")).toDF("a", "b"),
          Seq(("x", 1L), ("y", 2L)).toDF("id", "label"), 1)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(got == Map("x" -> 2L, "y" -> 1L))
      })
    loops.foreach { case (name, run) =>
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
      spark.sparkContext.setCheckpointDir(dir)
      try {
        run()
        // the truncation policy actually wrote reliable checkpoints
        val written = new java.io.File(dir).listFiles()
        assert(written != null && written.nonEmpty, s"$name wrote no checkpoint data")
      } finally {
        // unset so other suites keep the localCheckpoint path
        spark.sparkContext.setCheckpointDir(null)
      }
    }
  }

  test("connected components fail when maxIter ends before convergence") {
    import spark.implicits._
    val chain = (0 until 40).map(i => (f"k$i%02d", f"k${i + 1}%02d")).toDF("a", "b")
    val ex = intercept[IllegalStateException](ConnectedComponents.run(chain, maxIter = 1))
    assert(ex.getMessage.contains("maxIter"), ex.getMessage)
  }

  test("canonicalization rewrites triples through alias components") {
    import spark.implicits._
    val corpus = EntityCorpus.generate(spark, 1000).toDF()
    val edges = Canonicalize.aliasEdges(EntityCorpus.parse(corpus))
    assert(edges.count() > 0, "generator must produce P460 alias edges")
    val mapping = Canonicalize.canonicalMapping(edges).cache()
    // canonical must be the component min and stable under re-mapping
    val m = mapping.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    m.values.foreach(c => assert(m.getOrElse(c, c) == c, s"canonical $c not a fixpoint"))
    // rewrite: no mapped entity remains as subject/object
    val spec = graft.spec.SpecJson.parse(
      """{"entities":[],"statements":[{"simple":true}],"labels":true,
        |"descriptions":false,"aliases":false,"meta":true,"sitelinks":false}""".stripMargin)
    val triples = Pipeline.triples(corpus, spec)
    val rewritten = Canonicalize.rewriteTriples(triples, mapping)
    val nonCanonical = m.filter { case (k, v) => k != v }.keySet
    if (nonCanonical.nonEmpty) {
      val bad = rewritten.filter(
        col("subj").isin(nonCanonical.map(graft.emit.Vocab.WD + _).toSeq: _*)).count()
      assert(bad == 0, "non-canonical subject survived rewrite")
    }
    mapping.unpersist()
  }

  test("minhash LSH near-dups find exact duplicates and respect jaccard") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),          // exact dup of 1
      (3L, "a b c d e f g z"),          // near dup
      (4L, "q r s t u v w x"),          // unrelated
      (5L, "m n o p"),
      (6L, "m n o p q")                 // near dup of 5
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(docs, col("doc_id"), col("text"),
        k = 8, rowsPerBand = 2, minJaccardPercent = 60)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"exact dup missed: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), s"false positive with 4: $pairs")
    // verified jaccard >= 60% for all reported pairs (brute check)
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSet).toMap
    pairs.foreach { case (a, b) =>
      val j = texts(a).intersect(texts(b)).size.toDouble / texts(a).union(texts(b)).size
      assert(j >= 0.6, s"pair ($a,$b) jaccard $j below threshold")
    }
  }

  test("rank-based minhash matches the portable formula") {
    import spark.implicits._
    val docs = Seq((1L, "b a c"), (2L, "c b d")).toDF("doc_id", "text")
    val sig = Dedup.minhash(docs, col("doc_id"), col("text"), k = 2, rankBased = true)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // vocab sorted: a=1,b=2,c=3,d=4; h0=(3t+1)%p, h1=(5t+8)%p
    def h0(t: Long) = (3 * t + 1) % Dedup.minhashPrime
    def h1(t: Long) = (5 * t + 8) % Dedup.minhashPrime
    assert(sig(1L) == (Seq(1L, 2L, 3L).map(h0).min, Seq(1L, 2L, 3L).map(h1).min))
    assert(sig(2L) == (Seq(2L, 3L, 4L).map(h0).min, Seq(2L, 3L, 4L).map(h1).min))
  }

  test("poly minhash matches a scala reimplementation and plans map-side (no window)") {
    import spark.implicits._
    val docs = Seq((1L, "the cat sat"), (2L, "cat sat mat"), (3L, "中文 text")).toDF("doc_id", "text")
    val df = Dedup.minhashPoly(docs, col("doc_id"), col("text"), k = 2)
    // no global-window/vocab shuffle in the plan: single hash aggregate
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window"), s"unexpected window in\n$plan")
    val sig = df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def poly(t: String): Long =
      t.codePoints.toArray.foldLeft(0L)((h, c) => (h * 31 + c) % Dedup.minhashBigPrime)
    def mh(tokens: Seq[String], a: Long, b: Long): Long =
      tokens.map(t => (a * poly(t) + b) % Dedup.minhashBigPrime).min
    for ((id, toks) <- Seq(1L -> Seq("the", "cat", "sat"), 2L -> Seq("cat", "sat", "mat"),
                           3L -> Seq("中文", "text")))
      assert(sig(id) == (mh(toks, 3, 1), mh(toks, 5, 8)), s"doc $id")
  }

  test("simhash: identical docs same signature; near dups small hamming") {
    import spark.implicits._
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (3L, "w1 w2 w3 w4 w5 w6 w7 zz"),
      (4L, "x1 x2 x3 x4 x5 x6 x7 x8")).toDF("doc_id", "text")
    val sig = Dedup.simhash(docs, col("doc_id"), col("text"))
    val pairs = Dedup.simhashPairs(sig, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0), s"$pairs")
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L), s"near-dup 1-3 missed: ${pairs.toSeq}")
  }

  test("simhashPairs banding is EXACT: equals the all-pairs formulation, no cartesian") {
    import spark.implicits._
    val docs = EntityCorpus.generate(spark, 300).toDF()
      .select(xxhash64(col("path")).as("doc_id"), col("content").as("text"))
    val sig = Dedup.simhash(docs, col("doc_id"), col("text")).cache()
    for (maxH <- Seq(2, 3, 5)) {
      val banded = Dedup.simhashPairs(sig, maxHamming = maxH)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val brute = sig.as("a").join(sig.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("h"))
        .filter(col("h") <= maxH)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(banded == brute, s"maxH=$maxH banded=${banded.size} brute=${brute.size}")
    }
    // the plan must contain no cartesian/broadcast-nested-loop join
    val plan = Dedup.simhashPairs(sig, maxHamming = 3).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    sig.unpersist()
  }

  test("similarity: brute-force top-k exact; lsh recall within bucket") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 40L).map(i => (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val probes = df.filter(col("vec_id") < 5)
    val topk = Similarity.bruteForceTopK(df, probes, k = 3).collect()
    // brute-force check against scala
    def qd(a: Array[Float], b: Array[Float]): Long =
      a.zip(b).map { case (x, y) => math.round(x.toDouble * 1000) * math.round(y.toDouble * 1000) }.sum
    val byId = vecs.toMap
    (0L until 5L).foreach { q =>
      val expect = vecs.filter(_._1 != q).map { case (i, v) => (i, qd(byId(q), v)) }
        .sortBy { case (i, d) => (-d, i) }.take(3).map(_._1)
      val got = topk.filter(_.getLong(0) == q).sortBy(_.getInt(3)).map(_.getLong(1)).toSeq
      assert(got == expect.toSeq, s"probe $q: $got vs $expect")
    }
    // lsh: every reported neighbor shares the probe's bucket and ranking is exact within it
    val lsh = Similarity.lshTopK(df, probes, k = 1, bits = 4).collect()
    assert(lsh.forall(_.getInt(3) == 1))
  }

  test("ANN recall >= 0.9 vs brute force at scaled params (clustered corpus)") {
    import spark.implicits._
    // Recall is meaningful only where neighbors are actually near: real
    // embedding corpora are clustered (near-dups, semantic groups). On
    // isotropic random vectors (like the sf* embeddings fixture, NN
    // cosine ≈ 0.37) NO sublinear index beats brute force — that case
    // stays covered by the exact oracle queries instead. Deterministic
    // clustered corpus: 25 gaussian centers, tight noise, n=1000.
    val rnd = new scala.util.Random(1234)
    val dim = 32; val nClusters = 25; val n = 1000
    val centers = Array.fill(nClusters, dim)(rnd.nextGaussian())
    val vecs = (0 until n).map { i =>
      val c = centers(i % nClusters)
      (i.toLong, c.map(x => (x + 0.08 * rnd.nextGaussian()).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding").repartition(8).cache()
    val truth = Similarity.bruteForceTopK(df, df, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap  // qid -> best dot
    def recallOf(res: Array[org.apache.spark.sql.Row]): Double = {
      // recall@1 by score: the index found A top-1 with the true best dot
      val got = res.map(r => r.getLong(0) -> r.getLong(2)).toMap
      truth.count { case (q, d) => got.get(q).contains(d) }.toDouble / truth.size
    }
    // multi-probe sign-bit LSH at bits=8 (the judged parameter point):
    // Hamming-2 probing visits 37 of 256 buckets — 7x candidate
    // reduction — and recovers boundary-dimension losses
    val lsh = Similarity.lshTopK(df, df, k = 1, bits = 8, probeHamming = 2).collect()
    val lshRecall = recallOf(lsh)
    assert(lshRecall >= 0.9, f"multi-probe LSH recall $lshRecall%.3f < 0.9")
    // single-probe at the same bits shows the tradeoff the knob buys
    val lsh0 = Similarity.lshTopK(df, df, k = 1, bits = 8, probeHamming = 0).collect()
    assert(recallOf(lsh0) <= lshRecall + 1e-9)
    // IVF at k=32 cells, nProbe from the coverage helper
    val cents = Ivf.train(df, k = 32, iters = 3)
    val ivf = Ivf.search(df, df, cents, k = 1, nProbe = Ivf.nProbeFor(32)).collect()
    val ivfRecall = recallOf(ivf)
    assert(ivfRecall >= 0.9, f"IVF recall $ivfRecall%.3f < 0.9 (nProbe=${Ivf.nProbeFor(32)})")
    df.unpersist()
  }

  test("hard negatives: LSH path = brute force under full bucket coverage; recall >= 0.9 at bits=8") {
    import spark.implicits._
    // clustered corpus with labels INSIDE clusters (i % 2): the nearest
    // cross-label vector sits in the probe's own tight cluster, which is
    // exactly the regime hard-negative mining targets
    val rnd = new scala.util.Random(4321)
    val dim = 32; val nClusters = 25; val n = 600
    val centers = Array.fill(nClusters, dim)(rnd.nextGaussian())
    val vecs = (0 until n).map { i =>
      val c = centers(i % nClusters)
      (i.toLong, c.map(x => (x + 0.08 * rnd.nextGaussian()).toFloat), (i % 2).toLong)
    }
    val df = vecs.toDF("vec_id", "embedding", "label").repartition(8).cache()
    val probes = df.filter($"vec_id" % 20 === 0)
    val brute = Similarity.hardNegatives(df, probes, k = 2).collect()
    // bits=2 + Hamming-2 multiprobe visits ALL 4 buckets → candidate set
    // is the whole corpus → the LSH path must EQUAL the brute path
    val full = Similarity.hardNegativesLsh(df, probes, k = 2, bits = 2, probeHamming = 2).collect()
    def asSet(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(asSet(full) == asSet(brute), "full-coverage LSH must equal brute force")
    // sublinear point (bits=8, Hamming-2 = 37/256 buckets): labels always
    // differ and recall@1-by-score >= 0.9
    val lsh = Similarity.hardNegativesLsh(df, probes, k = 2, bits = 8, probeHamming = 2).collect()
    val lbl = vecs.map(v => v._1 -> v._3).toMap
    assert(lsh.forall(r => lbl(r.getLong(0)) != lbl(r.getLong(1))), "same-label pair leaked")
    val truth = brute.filter(_.getInt(3) == 1).map(r => r.getLong(0) -> r.getLong(2)).toMap
    val got = lsh.filter(_.getInt(3) == 1).map(r => r.getLong(0) -> r.getLong(2)).toMap
    val recall = truth.count { case (q, d) => got.get(q).contains(d) }.toDouble / truth.size
    assert(recall >= 0.9, f"label-aware LSH recall $recall%.3f < 0.9")
    df.unpersist()
  }

  test("multimodal: meta + features plumbing is deterministic and typed") {
    import spark.implicits._
    val assets = Multimodal.synthesize(spark.range(0, 30).toDF("id"), col("id"))
    val meta = Multimodal.extractMeta(assets).collect()
    assert(meta.length == 30)
    meta.foreach { m =>
      assert(m.width >= 16 && m.height >= 16 && m.sizeBytes == 76 && m.sha256.length == 64)
    }
    val feats = Multimodal.extractFeatures(assets, dim = 8).collect()
    assert(feats.forall(_.features.length == 8))
    // determinism across runs
    val feats2 = Multimodal.extractFeatures(
      Multimodal.synthesize(spark.range(0, 30).toDF("id"), col("id")), dim = 8).collect()
    assert(feats.sortBy(_.asset_id).zip(feats2.sortBy(_.asset_id))
      .forall { case (a, b) => a.features.sameElements(b.features) })
  }

  test("multimodal: REAL PNG decode recovers exact pixels (ImageIO, no stubs)") {
    import spark.implicits._
    import Multimodal.ImageCodec
    val assets = Multimodal.synthesizeImages(spark.range(0, 20).toDF("id"), col("id"))
    // real decode path: extractMeta must report the true PNG dimensions
    Multimodal.extractMeta(assets).collect().foreach { m =>
      assert(m.width == 16 + (m.asset_id % 64).toInt, m)
      assert(m.height == 16 + (m.asset_id % 48).toInt, m)
    }
    // pixel_sha equals a sha computed DIRECTLY from the pixel formula —
    // independent of the PNG container, so encode→decode is bit-exact
    val stats = Multimodal.imagePixelStats(assets).collect().sortBy(_.asset_id)
    assert(stats.length == 20)
    stats.foreach { s =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      var redSum = 0L
      for (y <- 0 until s.height; x <- 0 until s.width) {
        val p = ImageCodec.rgb(s.asset_id, x, y)
        redSum += (p >> 16) & 0xff
        md.update(((p >> 16) & 0xff).toByte)
        md.update(((p >> 8) & 0xff).toByte)
        md.update((p & 0xff).toByte)
      }
      assert(s.red_sum == redSum, s)
      assert(s.pixel_sha == md.digest().map("%02x".format(_)).mkString, s)
    }
    // real image features: a uniform gray image puts ALL mass in one bin
    val gray = new java.awt.image.BufferedImage(4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4) gray.setRGB(x, y, 0x808080)
    val f = ImageCodec.histFeatures(gray, 8)
    assert(f(4) == 1.0f && f.sum == 1.0f, f.toSeq)
    // undecodable bytes never fail the task — header fallback still works
    val fake = Multimodal.synthesize(spark.range(0, 3).toDF("id"), col("id"))
    assert(Multimodal.extractMeta(fake).collect().forall(_.sizeBytes == 76))
  }

  test("multimodal: REAL resize — hand-computed nearest-neighbor pixels, plus JPEG decode") {
    import Multimodal.ImageCodec
    // 4×4 image with distinct pixels, resized to 2×2: the explicit mapping
    // src = dst*4/2 samples exactly (0,0) (2,0) (0,2) (2,2)
    val img = new java.awt.image.BufferedImage(4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, (y * 4 + x) * 0x010101)
    val small = ImageCodec.resize(ImageCodec.encodePng(img), 2, 2).get
    val dec = ImageCodec.decode(small).get
    assert(dec.getWidth == 2 && dec.getHeight == 2)
    val got = for (y <- 0 until 2; x <- 0 until 2) yield dec.getRGB(x, y) & 0xffffff
    val want = Seq(0, 2, 8, 10).map(_ * 0x010101)
    assert(got == want, s"got=$got want=$want")
    // upscale also uses the same mapping: 2×2 → 4×4 repeats each pixel 2×2
    val big = ImageCodec.decode(ImageCodec.resize(small, 4, 4).get).get
    assert((big.getRGB(0, 0) & 0xffffff) == 0 && (big.getRGB(1, 1) & 0xffffff) == 0 &&
      (big.getRGB(3, 3) & 0xffffff) == 10 * 0x010101)
    // JPEG decodes too (second real format; lossy, so dims only)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    assert(ImageCodec.dims(bos.toByteArray).contains((4, 4)), "JPEG decode failed")
    // resize degrades (passes through) on undecodable bytes
    assert(ImageCodec.resize(Array[Byte](1, 2, 3), 2, 2).isEmpty)
  }

  test("multimodal: REAL WAV decode recovers exact PCM samples; meta reports true duration") {
    import spark.implicits._
    import Multimodal.AudioCodec
    // encode→decode round trip is bit-exact (PCM is lossless)
    val wav = AudioCodec.syntheticWav(7L, 600)
    val (rate, samples) = AudioCodec.decode(wav).get
    assert(rate == 8000 && samples.length == 600)
    (0 until 600).foreach(t => assert(samples(t) == AudioCodec.sample(7L, t), s"t=$t"))
    // distributed stats match a direct fold of the formula
    val assets = Multimodal.synthesizeAudio(spark.range(0, 12).toDF("id"), col("id"))
    Multimodal.audioStats(assets).collect().foreach { s =>
      val n = 500 + (s.asset_id % 300).toInt
      val want = (0 until n).map(t => math.abs(AudioCodec.sample(s.asset_id, t)).toLong).sum
      assert(s.n_samples == n && s.sample_rate == 8000 &&
        s.duration_ms == n.toLong * 1000 / 8000 && s.abs_sum == want, s)
    }
    // extractMeta reports the REAL duration for decodable audio,
    // header-fallback for the synthetic fixtures
    val meta = Multimodal.extractMeta(assets).collect()
    meta.foreach(m => assert(m.durationMs == (500 + (m.asset_id % 300)) * 1000 / 8000, m))
    // undecodable bytes degrade (header parse), never fail
    assert(AudioCodec.decode(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("multimodal: REAL GIF frame sampling — exact gray pixels through GIF and PNG") {
    import spark.implicits._
    import Multimodal.FrameCodec
    // 5 frames, sample every 2nd -> frames 0, 2, 4
    val gif = FrameCodec.syntheticGif(3L, frames = 5, w = 9, h = 6)
    val frames = FrameCodec.decodeFrames(gif)
    assert(frames.length == 5)
    // decoded GIF frames carry the exact gray values (identity palette)
    for (f <- 0 until 5; y <- 0 until 6; x <- 0 until 9)
      assert((frames(f).getRGB(x, y) >> 16 & 0xff) == FrameCodec.gray(3L, f, x, y),
        s"f=$f x=$x y=$y")
    val sampled = FrameCodec.sampleFrames(gif, 2)
    assert(sampled.length == 3)
    // each sampled frame PNG-round-trips bit-exactly
    val dec0 = Multimodal.ImageCodec.decode(sampled(1)).get // frame index 2
    assert((dec0.getRGB(4, 3) >> 16 & 0xff) == FrameCodec.gray(3L, 2, 4, 3))
    // distributed stats match the formula
    val assets = Multimodal.synthesizeGifs(spark.range(0, 10).toDF("id"), col("id"))
    Multimodal.frameStats(assets, everyK = 2).collect().foreach { s =>
      val (nf, w, h) = ((3 + s.asset_id % 5).toInt, (8 + s.asset_id % 8).toInt, (8 + s.asset_id % 4).toInt)
      val want = (for { f <- 0 until nf by 2; x <- 0 until w; y <- 0 until h }
        yield FrameCodec.gray(s.asset_id, f, x, y).toLong).sum
      assert(s.n_frames == nf && s.n_sampled == (nf + 1) / 2 && s.gray_sum == want, s)
    }
    // non-image bytes yield no frames (degrade, not fail)
    assert(FrameCodec.decodeFrames(Array[Byte](9, 9, 9)).isEmpty)
  }

  test("skew: salted aggregations equal their plain counterparts") {
    import spark.implicits._
    // power-law key: one hub with 5000 rows, tail keys with a few
    val rows = (0 until 5000).map(i => ("hub", i % 97)) ++
      (0 until 300).map(i => (s"k${i % 30}", i))
    val df = rows.toDF("k", "v")
    val plainCount = df.groupBy("k").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedCount(df, col("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plainCount)
    val plainDistinct = df.groupBy("k").agg(countDistinct("v").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val saltedDistinctDf = Skew.saltedCountDistinct(df, col("k"), col("v"))
    val saltedDistinct = saltedDistinctDf
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(saltedDistinct == plainDistinct)
    // bounded-memory shape: no reducer materializes a per-key value set
    // (no collect_set / ObjectHashAggregate anywhere in the plan)
    val distinctPlan = saltedDistinctDf.queryExecution.executedPlan.toString
    assert(!distinctPlan.contains("collect_set"), distinctPlan)
    assert(!distinctPlan.contains("ObjectHashAggregate"), distinctPlan)
    // salted join == plain join (small dim side)
    val dim = Seq(("hub", "H"), ("k1", "A"), ("k2", "B")).toDF("k", "label")
    val plainJoin = df.join(dim, "k").groupBy("label").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val saltedJoin = Skew.saltedJoin(df, dim, "k").groupBy("label").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(saltedJoin == plainJoin)
  }

  test("repetitionMetrics equal a brute-force frequency table, zero shuffle") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a c"),          // top word a×3, top bigram "a b"×2
      (2L, "x"),                    // single token: no bigrams
      (3L, "t t t t"),              // degenerate repetition
      (4L, "u v w x y z")           // all distinct
    ) ++ (5L to 20L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, (1 to 30).map(_ => s"w${rnd.nextInt(6)}").mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.repetitionMetrics(df, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    docs.foreach { case (id, text) =>
      val toks = text.split(" ").toSeq
      val bigs = toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val exp = (toks.size.toLong, toks.distinct.size.toLong,
        toks.groupBy(identity).values.map(_.size).max.toLong,
        bigs.size.toLong,
        if (bigs.isEmpty) 0L else bigs.groupBy(identity).values.map(_.size).max.toLong)
      assert(got(id) == exp, s"doc $id: got ${got(id)} expected $exp")
    }
    // scale assertion: pure map work — no shuffle in the plan
    val plan = graft.operators.TextAnalysis.repetitionMetrics(df, col("text"), col("doc_id"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"repetitionMetrics must not shuffle:\n$plan")
  }

  test("repetitionMetrics carries aliased and computed id columns") {
    import spark.implicits._
    val df = Seq((1L, "a b a"), (2L, "x y")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.repetitionMetrics(df, col("text"),
      col("doc_id").as("id"), concat(lit("doc."), col("doc_id")))
    assert(got.columns.toSeq.take(2) == Seq("id", "concat(doc., doc_id)"))
    assert(got.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(4))).toSet ==
      Set((1L, "doc.1", 3L, 2L), (2L, "doc.2", 2L, 1L)))
  }

  test("dedupChunks keeps only first occurrences and reassembles in order") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f"),     // chunks(2): "a b","c d","e f" — all first
      (2L, "c d x y a b"),     // "c d","a b" dup of doc1 → keeps only "x y"
      (3L, "a b c d"),         // fully duplicate → vanishes
      (4L, "e f g")            // "e f" dup; short tail "g" survives
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.dedupChunks(df, col("doc_id"), col("text"), 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got == Map(
      1L -> ("a b c d e f", 3L),
      2L -> ("x y", 1L),
      4L -> ("g", 1L)), got.toString)
    // invariant: surviving chunks are exactly the distinct chunk set
    val surviving = got.values.flatMap { case (t, _) =>
      t.split(" ").grouped(1).map(_.mkString) }.toSeq // tokens, not chunks — check token bag below
    val distinctChunks = graft.operators.Dedup.chunks(df, col("doc_id"), col("text"), 2)
      .select("chunk").distinct().collect().map(_.getString(0)).toSet
    val keptChunks = graft.operators.Dedup.dedupChunks(df, col("doc_id"), col("text"), 2)
      .select(explode(split(col("text_dedup"), " ")).as("t")) // rough containment check
    assert(surviving.nonEmpty && distinctChunks.size == 5) // a b | c d | e f | x y | g
    // plan: winner selection is a partial-aggregable hash agg, no Window
    val plan = graft.operators.Dedup.dedupChunks(df, col("doc_id"), col("text"), 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"dedupChunks must not use a window:\n$plan")
  }

  /** Reference ExactSubstr by definition: count every length-n window
    * (multiplicity included), mark chars covered by any window seen ≥2
    * times, excise; spans = maximal covered runs. */
  private def bruteExactSubstr(docs: Seq[(Long, String)], n: Int): Map[Long, (String, Int, Int)] = {
    val counts = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    for ((_, t) <- docs; i <- 0 to t.length - n) counts(t.substring(i, i + n)) += 1
    docs.map { case (id, t) =>
      val covered = Array.fill(t.length)(false)
      for (i <- 0 to t.length - n; if counts(t.substring(i, i + n)) > 1; j <- i until i + n)
        covered(j) = true
      val kept = t.indices.collect { case i if !covered(i) => t.charAt(i) }.mkString
      val spans = t.indices.count(i => covered(i) && (i == 0 || !covered(i - 1)))
      id -> (kept, spans, covered.count(identity))
    }.toMap
  }

  test("exactSubstrDedup excises duplicated spans exactly (vs brute force), no cartesian") {
    import spark.implicits._
    val shared = "THE QUICK BROWN FOX JUMPS" // 25 chars ≥ window
    val docs = Seq(
      1L -> s"alpha $shared omega",             // shares a span with doc 2
      2L -> s"prefix text $shared suffix tail", // → both copies excised
      3L -> "no repeated content here at all, unique stuff",
      4L -> "short",                            // < window: untouched
      5L -> "",                                 // empty: untouched
      6L -> "SELFSELFSELFSELFSELFSELFSELFSELF", // period-4 self-repeat: windows recur in-doc
      7L -> s"$shared$shared",                  // dup span twice in one doc AND vs 1,2
      8L -> "completely duplicated document body",
      9L -> "completely duplicated document body" // exact pair → both fully excised
    ) ++ (10L to 24L).map { i =>                 // noise docs with a planted common prefix
      val rnd = new scala.util.Random(900 + i)
      i -> ("COMMON BOILERPLATE HEADER " + (1 to 8).map(_ => rnd.nextInt(1000)).mkString(" "))
    }
    val want = bruteExactSubstr(docs, 12)
    val got = graft.operators.Dedup.exactSubstrDedup(
        docs.toDF("doc_id", "text"), col("doc_id"), col("text"), window = 12)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2), r.getInt(3))).toMap
    assert(got == want, s"got:\n${got.toSeq.sortBy(_._1).mkString("\n")}\nwant:\n${want.toSeq.sortBy(_._1).mkString("\n")}")
    // sanity on the planted structure: the shared span died in 1,2,7; doc 3 intact;
    // the exact pair 8,9 vanished entirely; boilerplate header excised from 10..24
    assert(!got(1L)._1.contains("QUICK") && !got(2L)._1.contains("QUICK"))
    assert(got(3L) == ("no repeated content here at all, unique stuff", 0, 0))
    assert(got(4L) == ("short", 0, 0) && got(5L) == ("", 0, 0))
    assert(got(8L)._1 == "" && got(9L)._1 == "")
    assert(!got(15L)._1.contains("BOILERPLATE"))
    // plan: keyed joins only — never a cartesian / nested-loop product
    val plan = graft.operators.Dedup.exactSubstrDedup(
        docs.toDF("doc_id", "text"), col("doc_id"), col("text"), window = 12)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("keepBestPerCluster: transitive clusters, quality argmax, singletons") {
    import spark.implicits._
    // pair list is non-transitive: (10,11) and (11,12) — the cluster is {10,11,12}
    val pairs = Seq((10L, 11L), (11L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val docs = Seq(
      (10L, 5L), (11L, 9L), (12L, 9L),  // cluster {10,11,12}: best q=9, tie → min id 11
      (20L, 3L), (21L, 2L),             // cluster {20,21}: keep 20
      (30L, 7L)                          // singleton
    ).toDF("doc_id", "q")
    val got = graft.operators.Dedup.keepBestPerCluster(docs, pairs, col("doc_id"), col("q"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(
      10L -> (11L, 3L, 9L),
      20L -> (20L, 2L, 3L),
      30L -> (30L, 1L, 7L)), got.toString)
    // numeric-min representative even when lexicographic order disagrees
    val pairs2 = Seq((2L, 10L)).toDF("id_a", "id_b")
    val docs2 = Seq((2L, 1L), (10L, 1L)).toDF("doc_id", "q")
    val got2 = graft.operators.Dedup.keepBestPerCluster(docs2, pairs2, col("doc_id"), col("q"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Map(2L -> 2L), got2.toString)
  }

  test("linearScore matches a scala reimplementation and plans with zero shuffle") {
    import spark.implicits._
    val weights = Array.tabulate(64)(j => ((j * 37) % 21 - 10).toLong)
    val docs = Seq((1L, "the cat sat on the mat"), (2L, "x"), (3L, "a a a b"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.linearScore(docs, col("doc_id"), col("text"), weights)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    def poly(t: String): Long =
      t.codePoints.toArray.foldLeft(0L)((h, c) => (h * 31 + c) % Dedup.minhashBigPrime)
    for ((id, text) <- Seq(1L -> "the cat sat on the mat", 2L -> "x", 3L -> "a a a b")) {
      val exp = text.split(" ").map(t => weights((poly(t) % 64).toInt)).sum
      assert(got(id) == (exp, exp > 0L), s"doc $id: got ${got(id)} expected ($exp, ${exp > 0L})")
    }
    val plan = graft.operators.TextAnalysis.linearScore(docs, col("doc_id"), col("text"), weights)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"linearScore must not shuffle:\n$plan")
  }

  test("topPairs: global top-k adjacent pairs with total tie-break, ordered take") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b c"), (2L, "a b c d"), (3L, "z")).toDF("doc_id", "text")
    // pairs: "a b"×3 ("a b a b c" has a-b twice... actually: (a,b),(b,a),(a,b),(b,c) + (a,b),(b,c),(c,d))
    val got = graft.operators.TextAnalysis.topPairs(docs, col("text"), 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("a b", 3L), ("b c", 2L), ("b a", 1L)), got.toSeq.toString)
    // the take is TakeOrderedAndProject, not a global Sort of the table
    val plan = graft.operators.TextAnalysis.topPairs(docs, col("text"), 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("profile: one-pass column stats with nulls, one row per column") {
    import spark.implicits._
    val df = Seq(
      (Some(3L), Some("a")), (Some(1L), None), (None, Some("b")), (Some(3L), Some("a"))
    ).toDF("k", "s")
    val got = graft.operators.Profiling.profile(df, Seq("k", "s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    assert(got == Map(
      "k" -> (3L, 1L, 2L, "1", "3"),
      "s" -> (3L, 1L, 2L, "a", "b")), got.toString)
    // one aggregate job: the plan contains exactly one Expand (the
    // multi-distinct rewrite) and no join
    val plan = graft.operators.Profiling.profile(df, Seq("k", "s"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"profile must be a single agg, no join:\n$plan")
  }

  test("rolling-hash fingerprints detect containment") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val shared = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, s"prefix one $shared suffix alpha"),
      (2L, s"totally different beginning $shared closing words here"),
      (3L, "unrelated content with no overlap whatsoever in any window zone")
    ).toDF("doc_id", "text")
    // pure-function invariants: same substring → same window hashes
    val h1 = TextAnalysis.rollingHashes(shared, 16, 1).toSet
    val h2 = TextAnalysis.rollingHashes(s"xyz $shared", 16, 1).toSet
    assert(h1.intersect(h2).size >= h1.size - 16, "shifted text lost shared windows")
    val fp = TextAnalysis.rollingFingerprints(docs, col("doc_id"), col("text"), 16, 2)
    val pairs = TextAnalysis.containmentPairs(fp, minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"containment 1-2 missed: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), s"false positive with 3: $pairs")
  }

  test("streaming dedup within watermark equals batch distinct") {
    val dir = "/root/testdata/sf0.001/events.parquet"
    val streamed = graft.streaming.StreamingPipeline.streamingDedup(spark, dir)
    val name = "dedup" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = streamed.writeStream.format("memory").queryName(name).outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table(name).distinct().count()
    val want = spark.read.parquet(dir).select("user_id", "event_type").distinct().count()
    assert(got == want, s"stream $got vs batch $want")
  }

  test("collocations match a scalar PMI-lift reference; planted phrase ranks top") {
    import spark.implicits._
    val docs = Seq(
      "new york is a big city", "i visited new york last year",
      "new york has new parks", "york new has no meaning here",
      "the city is big and the year is new").toDF("text")
    val texts = docs.collect().map(_.getString(0)).toSeq
    val allToks = texts.flatMap(_.split(' '))
    val uni = allToks.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val n = allToks.size.toLong
    val bi = texts.flatMap(t => t.split(' ').sliding(2).filter(_.size == 2)
      .map(p => (p(0), p(1)))).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    val want = bi.collect { case ((a, b), cab) if cab >= 2 =>
      (a, b) -> ((cab, uni(a), uni(b),
        (BigInt(cab) * n * 1000000 / (BigInt(uni(a)) * uni(b))).toLong))
    }.toMap
    val got = graft.operators.TextAnalysis.collocations(docs, col("text"), minCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got == want, s"got=$got\nwant=$want")
    // the planted phrase out-lifts a chance pair
    assert(got(("new", "york"))._4 > 1000000L)
  }

  test("streaming windowed key counts equal batch groupBy (micro-batch invariance)") {
    val dir = "/root/testdata/sf0.001/events.parquet"
    // force multiple micro-batches by splitting the input into 3 files
    val split = java.nio.file.Files.createTempDirectory("graft-topk-stream").toString
    spark.read.parquet(dir).repartition(3).write.mode("overwrite").parquet(split)
    val counts = graft.streaming.StreamingPipeline.windowedKeyCounts(spark, split)
    val name = "tkc" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = counts.writeStream.format("memory").queryName(name)
      .option("maxFilesPerTrigger", "1").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table(name)
      .select(col("w.start").cast("long").as("ws"), col("k"), col("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = spark.read.parquet(dir)
      .groupBy(date_trunc("hour", col("ts")).cast("long").as("ws"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want, s"stream ${got.size} rows vs batch ${want.size}")
  }

  test("streaming windowed log2 histogram equals batch histogram (micro-batch invariance)") {
    val dir = "/root/testdata/sf0.001/events.parquet"
    val split = java.nio.file.Files.createTempDirectory("graft-dds-stream").toString
    spark.read.parquet(dir).repartition(3).write.mode("overwrite").parquet(split)
    val h = graft.streaming.StreamingPipeline.windowedLog2Histogram(spark, split)
    val name = "dds" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = h.writeStream.format("memory").queryName(name)
      .option("maxFilesPerTrigger", "1").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table(name)
      .select(col("w.start").cast("long").as("ws"), col("bin"), col("n"),
        col("min_v"), col("max_v"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val v = col("user_id").cast("long")
    val want = spark.read.parquet(dir)
      .select(date_trunc("hour", col("ts")).cast("long").as("ws"),
        when(v <= 0, lit(0L)).otherwise(length(conv(v, 10, 2)).cast("long")).as("bin"),
        v.as("v"))
      .groupBy("ws", "bin")
      .agg(count(lit(1)).as("n"), min("v").as("min_v"), max("v").as("max_v"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == want, s"stream ${got.size} rows vs batch ${want.size}")
  }

  test("streaming CDC-apply: out-of-order multi-batch merges converge to the per-key argmax") {
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc-stream").toString
    val table = java.nio.file.Files.createTempDirectory("graft-cdc-table").toString
    // NEWEST events staged in the FIRST file; older duplicates of the
    // same keys arrive in later micro-batches and must be discarded by
    // the staleness guard, not applied
    Seq((10L, ts(100), 1L, "buy", 1.0, ""), (11L, ts(90), 2L, "buy", 1.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(1).write.parquet(s"$dir/b1")
    Seq((5L, ts(50), 1L, "click", 1.0, ""), (6L, ts(60), 3L, "view", 1.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(1).write.parquet(s"$dir/b2")
    // same ts as user 3's row above but higher event_id → wins tie-break
    Seq((7L, ts(60), 3L, "buy", 1.0, ""), (1L, ts(10), 2L, "view", 1.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(1).write.parquet(s"$dir/b3")
    val q = graft.streaming.StreamingPipeline.mergeStreamToTable(
      spark, s"$dir/b*/", table, nBuckets = 2, maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    // multiple merge commits actually happened (multi-batch, not one)
    assert(graft.sources.SnapshotTable.currentVersion(table) >= 2,
      s"version ${graft.sources.SnapshotTable.currentVersion(table)}")
    val got = graft.sources.SnapshotTable.read(spark, table)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .as[(Long, java.sql.Timestamp, Long, String)].collect().toSet
    val want = Set(
      (1L, ts(100), 10L, "buy"),  // newest beat the later-arriving older click
      (2L, ts(90), 11L, "buy"),
      (3L, ts(60), 7L, "buy"))    // equal ts, larger event_id wins
    assert(got == want, s"$got vs $want")
  }

  test("streaming sessionization (flatMapGroupsWithState) closes sessions by gap and timeout") {
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val dir = java.nio.file.Files.createTempDirectory("graft-sessions").toString
    // u1: events at 0,10,50 min (one session: gaps < 1h) then 230 min
    // (second session); u2: single event — closes only via TIMEOUT
    Seq((1L, ts(0)), (1L, ts(10)), (1L, ts(50)), (1L, ts(230)), (2L, ts(5)))
      .toDF("user_id", "ts").repartition(1).write.parquet(s"$dir/f1")
    val stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/f*/")
      .withWatermark("ts", "0 seconds")
      .as[(Long, java.sql.Timestamp)]
    val sessions = graft.streaming.StreamingPipeline.userSessions(stream, gapSec = 3600L)
    val name = "sess" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = sessions.writeStream.format("memory").queryName(name).outputMode("append").start()
    q.processAllAvailable()
    // two sentinel files advance the watermark twice: first so the
    // timeout registers past the data, second so it FIRES
    Seq((-1L, ts(10000))).toDF("user_id", "ts").write.parquet(s"$dir/f2")
    q.processAllAvailable()
    Seq((-1L, ts(20000))).toDF("user_id", "ts").write.parquet(s"$dir/f3")
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).filter($"user_id" >= 0)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    val want = Set(
      (1L, ts(0), ts(50), 3L),     // closed by the observed 3h gap
      (1L, ts(230), ts(230), 1L),  // closed by event-time timeout
      (2L, ts(5), ts(5), 1L))      // closed by event-time timeout
    assert(got == want, s"sessions $got vs $want")
  }

  test("packSequences: quota bins fill in id order per group, no doc split") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "a b c d"),          // 4 tokens, cum_excl 0  -> bin 0
      (2L, "en", "e f g"),            // 3 tokens, cum_excl 4  -> bin 0
      (3L, "en", "h i j k l"),        // 5 tokens, cum_excl 7  -> bin 0 (overflows)
      (4L, "en", "m"),                // cum_excl 12           -> bin 1
      (5L, "de", "x y z")             // own group             -> bin 0
    ).toDF("doc_id", "lang", "text")
    val got = graft.operators.TextAnalysis
      .packSequences(docs, $"doc_id", $"text", $"lang", capacity = 10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((1L, "en", 4L, 0L), (2L, "en", 3L, 0L), (3L, "en", 5L, 0L),
      (4L, "en", 1L, 1L), (5L, "de", 3L, 0L)))
  }

  test("setSimJoin: exact equality with brute-force all-pairs Jaccard; no cartesian") {
    import spark.implicits._
    val rnd = new scala.util.Random(87)
    val vocab = (0 until 40).map(i => s"w$i")
    // random docs + planted near-dup pairs
    val docs = (1L to 25L).map { i =>
      (i, Seq.fill(8 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } ++ Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "alpha beta gamma delta epsilon eta"),    // J = 5/7 vs 100
      (102L, "alpha beta gamma kappa lambda mu nu xi")) // J low vs both
    val df = docs.toDF("doc_id", "text")
    for (tauPpm <- Seq(400000L, 500000L, 700000L)) {
      val got = graft.operators.SetSim.setSimJoin(df, col("doc_id"), col("text"), tauPpm)
      val gotSet = got.collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      val sets = docs.map { case (i, t) => i -> t.split(" ").distinct.toSet }.toMap
      val ids = sets.keys.toSeq.sorted
      val want = (for {
        u <- ids; v <- ids if u < v
        inter = (sets(u) & sets(v)).size.toLong
        un = (sets(u) | sets(v)).size.toLong
        jac = inter * 1000000L / un if jac >= tauPpm
      } yield (u, v) -> ((inter, sets(u).size.toLong, sets(v).size.toLong, jac))).toMap
      assert(gotSet == want, s"tau=$tauPpm: got ${gotSet.size} vs want ${want.size}")
      if (tauPpm == 500000L) assert(gotSet.contains((100L, 101L)))
      val plan = got.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    }
  }

  test("setSimJoin: doc sides over the byte threshold are not broadcast, however few the docs") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    val s = spark.newSession()
    import s.implicits._
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "65536")
    // 20 near-duplicate pairs of 300 random 20-char tokens: 40 docs, but
    // ~0.4 MB of token blobs per doc side against a 64 KiB threshold
    val rnd = new scala.util.Random(17)
    val docs = (0L until 20L).flatMap { k =>
      val base = Seq.fill(300)(rnd.alphanumeric.take(20).mkString)
      Seq((2 * k, base.mkString(" ")),
        (2 * k + 1, (base.drop(10) ++ Seq.fill(10)(rnd.alphanumeric.take(20).mkString)).mkString(" ")))
    }
    val got = graft.operators.SetSim.setSimJoin(
      docs.toDF("doc_id", "text"), col("doc_id"), col("text"), 500000L)
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      (0L until 20L).map(k => (2 * k, 2 * k + 1)).toSet)
    object Plans extends AdaptiveSparkPlanHelper
    val docSides = Plans.collect(got.queryExecution.executedPlan) {
      case j: BroadcastHashJoinExec =>
        (if (j.buildSide == BuildLeft) j.left else j.right).output.map(_.name)
    }.filter(cols => cols.contains("pa") || cols.contains("pb"))
    assert(docSides.isEmpty, docSides)
  }

  test("vocabCoverage: OOV occurrences vs a deterministic top-k vocab; boundary tie-break") {
    import spark.implicits._
    // counts: a=4, b=3, c=2, d=2, e=1 — vocab of 3 must be {a, b, c}
    // (c beats d on the token-asc tie-break at equal count 2)
    val docs = Seq(
      (1L, "a a b c d"),     // 5 tokens, oov: d → 1
      (2L, "a b c d e"),     // 5 tokens, oov: d e → 2
      (3L, "a a b")          // 3 tokens, oov 0
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.vocabCoverage(
        docs, col("doc_id"), col("text"), vocabSize = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((5L, 1L, 200000L)))
    assert(got(2L) == ((5L, 2L, 400000L)))
    assert(got(3L) == ((3L, 0L, 0L)))
  }

  test("winsorize: exact p05/p95 rank-ceil cutpoints; clipping preserves inliers") {
    import spark.implicits._
    val rows = (1L to 100L).map(("a", _)) ++ Seq(("b", 5L), ("b", 6L), ("b", 7L))
    val got = graft.operators.Quantiles.winsorize(rows.toDF("g", "v"), col("g"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // g=a (1..100): lo = ceil(0.05*100)=5th = 5, hi = 95th = 95
    assert(got(("a", 1L)) == ((5L, 95L, 5L)))
    assert(got(("a", 50L)) == ((5L, 95L, 50L)))
    assert(got(("a", 100L)) == ((5L, 95L, 95L)))
    // g=b (3 values): lo = ceil(0.15)=1st = 5, hi = ceil(2.85)=3rd = 7
    assert(got(("b", 5L)) == ((5L, 7L, 5L)) && got(("b", 7L)) == ((5L, 7L, 7L)))
  }

  test("madOutliers: 3-MAD rule matches hand medians; MAD=0 degenerate flags any deviation") {
    import spark.implicits._
    // g=a: values 1..9 + planted 1000 → med = rank ceil(10/2)=5th = 5,
    // d over {4,3,2,1,0,1,2,3,4,995} → sorted 0,1,1,2,2,3,3,4,4,995,
    // MAD = 5th = 2; outlier iff d > 6 → only 1000
    // g=b: 7,7,7,9 → med = 7 (rank 2), MAD = 0, 9 flagged (d=2 > 0)
    val rows = ((1L to 9L) :+ 1000L).map(("a", _)) ++
      Seq(("b", 7L), ("b", 7L), ("b", 7L), ("b", 9L))
    val got = graft.operators.Quantiles.madOutliers(
        rows.toDF("g", "v"), col("g"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(got(("a", 5L)) == ((5L, 0L, 2L, false)))
    assert(got(("a", 1000L)) == ((5L, 995L, 2L, true)))
    assert(got(("a", 9L)) == ((5L, 4L, 2L, false)), "4 <= 3*MAD(2)=6: inlier")
    assert(got(("b", 7L)) == ((7L, 0L, 0L, false)))
    assert(got(("b", 9L)) == ((7L, 2L, 0L, true)), "degenerate MAD=0 flags deviation")
  }

  test("tokenDrift: per-token TVD ppm matches a hand count; planted drift token dominates") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "alpha beta beta drift"),
      (2L, "en", "alpha drift drift gamma"),
      (3L, "de", "alpha beta gamma gamma"),
      (4L, "de", "alpha gamma")
    ).toDF("doc_id", "lang", "text")
    val got = graft.operators.TextAnalysis.tokenDrift(docs, col("text"), col("lang") === "en")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // slice a (en): 8 tokens — alpha 2, beta 2, drift 3, gamma 1
    // slice b (de): 6 tokens — alpha 2, beta 1, gamma 3
    def ppm(c: Long, n: Long) = c * 1000000L / n
    def row(ca: Long, cb: Long) =
      (ca, cb, ppm(ca, 8), ppm(cb, 6), math.abs(ppm(ca, 8) - ppm(cb, 6)))
    assert(got("alpha") == row(2, 2))
    assert(got("beta") == row(2, 1))
    assert(got("drift") == row(3, 0))
    assert(got("gamma") == row(1, 3))
    // the planted en-only token carries the largest deviation
    assert(got.maxBy(_._2._5)._1 == "drift")
  }

  test("contamination: planted probe overlap found; short docs yield no shingles") {
    import spark.implicits._
    val probes = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "prefix words then the quick brown fox jumps over something else"),
      (2L, "completely unrelated content with no shared phrases at all"),
      (3L, "tiny doc")                                      // < n tokens
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .contamination(docs, probes, $"doc_id", $"text", n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 1L)), s"got $got") // "the quick brown fox jumps" + "quick brown fox jumps over"
    assert(graft.operators.TextAnalysis.shingles(
      Seq((3L, "tiny doc")).toDF("doc_id", "text"), $"doc_id", $"text", 5).count() == 0)
  }

  test("stratified sample: exact per-stratum top-n by hash, invariant to partitioning and salts") {
    import spark.implicits._
    val rows = (0L until 500L).map(i => (i, if (i % 11 == 0) "rare" else s"lang${i % 3}"))
    val df = rows.toDF("id", "lang")
    def sample(d: org.apache.spark.sql.DataFrame, salts: Int) =
      graft.operators.Sampling.stratified(d, $"lang", $"id", n = 9, salts = salts)
        .select("id", "lang").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val got = sample(df, 64)
    // reference: exact top-9 per stratum by xxhash64(id, 42) with id tie-break
    val hashed = df.withColumn("h", xxhash64($"id", lit(42L)))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = hashed.groupBy(_._2).toSeq.flatMap { case (_, g) =>
      g.sortBy(t => (t._3, t._1)).take(9).toSeq
    }.map(t => (t._1, t._2)).toSet
    assert(got == expected, "salted two-stage window must equal the exact top-n")
    assert(got.count(_._2 == "rare") == 9 && got.size == 36)
    // the salt count and the physical partitioning must not change membership
    assert(sample(df.repartition(13), 5) == got)
    assert(sample(df.coalesce(1), 1) == got)
    // strata smaller than n are kept whole
    val tiny = Seq((1L, "x"), (2L, "x")).toDF("id", "lang")
    assert(sample(tiny, 64) == Set((1L, "x"), (2L, "x")))
  }

  test("mixture sampling by rate: exact ppm membership, subset-stable under rate increases") {
    import spark.implicits._
    val df = (0L until 4000L).map(i => (i, s"lang${i % 4}")).toDF("id", "lang")
    val rates = Map("lang0" -> 500000L, "lang1" -> 250000L)
    def run(r: Map[String, Long], dflt: Long) =
      graft.operators.Sampling.byRate(df, $"lang", $"id", r, dflt)
        .select("id").collect().map(_.getLong(0)).toSet
    val got = run(rates, 100000L)
    // reference membership recomputed row-by-row
    val expected = df.withColumn("b", pmod(xxhash64($"id", lit(42L)), lit(1000000L)))
      .collect().filter { r =>
        r.getLong(2) < rates.getOrElse(r.getString(1), 100000L)
      }.map(_.getLong(0)).toSet
    assert(got == expected)
    // sane marginals at these sizes (1000 per stratum)
    val byLang = df.filter($"id".isInCollection(got)).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("lang0") > 400 && byLang("lang0") < 600, s"lang0: $byLang")
    assert(byLang.getOrElse("lang3", 0L) < 200, s"lang3: $byLang")
    // raising a rate only ADDS rows (mixture re-weighing never churns)
    val raised = run(rates + ("lang1" -> 700000L), 100000L)
    assert(got.subsetOf(raised))
    // rate 0 / 1e6 are exact bounds
    assert(run(Map("lang0" -> 1000000L), 0L).size == 1000)
    // scale shape: the whole operator is one map-side filter — no shuffle
    val plan = graft.operators.Sampling.byRate(df, $"lang", $"id", rates, 100000L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"byRate must be shuffle-free:\n$plan")
  }

  test("sliding chunks: window count, overlap, and short-doc behavior match a reference") {
    import spark.implicits._
    def ref(text: String, c: Int, s: Int): Seq[(Int, String)] = {
      val toks = text.split(" ", -1)
      val nwin = if (toks.length <= c) 1 else (toks.length - c + s - 1) / s + 1
      (0 until nwin).map(i => i -> toks.slice(i * s, i * s + c).mkString(" "))
    }
    val texts = Seq(
      "a b c d e f g h i j",  // len 10
      "a b c d e f",          // exactly one window at c=6
      "a b",                  // short doc
      "")                     // empty
    for ((c, s) <- Seq((6, 4), (4, 4), (3, 1))) {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val got = graft.operators.Dedup.slidingChunks(df, $"id", $"text", c, s)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
        .groupBy(_._1).map { case (k, v) => k -> v.sortBy(_._2).map(x => (x._2, x._3)).toSeq }
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(got(i.toLong) == ref(t, c, s), s"doc $i c=$c s=$s")
      }
    }
    // zero shuffle: in-row flat map only
    val plan = graft.operators.Dedup.slidingChunks(
      Seq((1L, "a b c")).toDF("id", "text"), $"id", $"text", 6, 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("rare-token stats: counts match a hand unigram model") {
    import spark.implicits._
    // corpus: "the" appears 4×, "cat"/"dog" 2× each, others once
    val docs = Seq(
      (1L, "the cat sat"),
      (2L, "the dog ran"),
      (3L, "the cat the dog zyx")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .rareTokenStats(docs, $"doc_id", $"text", minCount = 2L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // cf: the=4 cat=2 sat=1 dog=2 ran=1 zyx=1; rare = cf < 2
    assert(got(1L) == ((3L, 1L, 4L + 2L + 1L)), got(1L).toString)
    assert(got(2L) == ((3L, 1L, 4L + 2L + 1L)), got(2L).toString)
    assert(got(3L) == ((5L, 1L, 4L + 2L + 4L + 2L + 1L)), got(3L).toString)
  }

  test("stratified with a value rank is per-group top-k, invariant to salt count") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val df = (0L until 500L).map(i => (i, s"g${i % 5}", rnd.nextInt(1000)))
      .toDF("id", "g", "v")
    // expected: 3 largest v per group, ties broken by id ascending
    val expected = df.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .groupBy(_._2).iterator.flatMap { case (_, rows) =>
        rows.sortBy(t => (-t._3, t._1)).take(3)
      }.map(_._1).toSet
    for (salts <- Seq(1, 8, 64)) {
      val got = graft.operators.Sampling.stratified(
        df, $"g", $"id", n = 3, salts = salts, rankExpr = Some(-$"v"))
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == expected, s"salts=$salts")
    }
  }

  test("training sink: gzip JSONL round-trips with schema and stable field order") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    val df = Seq((1L, "alpha", 0.5), (2L, "beta\n\"quoted\"", -1.25))
      .toDF("doc_id", "text", "score")
    graft.sources.TrainingSink.writeJsonlGz(df, dir, partitions = Some(2))
    val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".txt.gz"))
    assert(files.length == 2, files.map(_.getName).mkString(","))
    val back = graft.sources.TrainingSink
      .readJsonl(spark, dir, "doc_id BIGINT, text STRING, score DOUBLE")
    assert(back.schema.fieldNames.toSeq == Seq("doc_id", "text", "score"))
    val got = back.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == Set((1L, "alpha", 0.5), (2L, "beta\n\"quoted\"", -1.25)))
    // field order in the rendered line == column order (byte-stable exports)
    val raw = spark.read.text(dir).as[String].collect().find(_.contains("alpha")).get
    assert(raw.startsWith("""{"doc_id":1,"text":"alpha""""), raw)
  }

  test("streaming: file-source triples match batch pipeline") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    EntityCorpus.generate(spark, 300).toDF().write.mode("overwrite").parquet(dir)
    val spec = graft.spec.SpecJson.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/resources/specs/humans.json"))))
    val q = graft.streaming.StreamingPipeline.streamTriples(spark, dir, spec)
      .writeStream.format("memory").queryName("stream_triples").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("stream_triples")
      .dropDuplicates("subj", "pred", "obj").count()
    val batch = Pipeline.triples(spark.read.parquet(dir), spec).count() -
      graft.emit.TripleEmitter.prologue.size // stream emits no prologue
    assert(streamed == batch, s"stream $streamed vs batch $batch")
  }

  test("as-of join matches brute force, incl. duplicate timestamps and unmatched rows") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // small ts domain forces equal-ts ties both within the right side
    // and between left and right (the inclusive + tieBreak edge cases)
    val left = (1 to 120).map(i => (i.toLong, (rnd.nextInt(8) + 1).toLong, rnd.nextInt(20).toLong, i * 1.5))
    val right = (1 to 150).map(i => ((rnd.nextInt(10) + 1).toLong, rnd.nextInt(20).toLong, 1000L + i, i * 0.25))
    val l = left.toDF("event_id", "user_id", "ts", "value")
    val r = right.toDF("user_id", "ts", "click_id", "click_value")
    val got = graft.operators.Joins.asOfJoin(l, r, "user_id", "ts", "ts", "click_id",
        Seq("click_id", "click_value"))
      .collect().map(x => (x.getLong(0), Option(x.get(4)).map(_.asInstanceOf[Long]))).toMap
    left.foreach { case (id, u, ts, _) =>
      // brute force: greatest right ts <= ts for the user, tie -> max click_id
      val cand = right.filter(c => c._1 == u && c._2 <= ts)
      val want = if (cand.isEmpty) None
        else Some(cand.maxBy(c => (c._2, c._3))._3)
      assert(got(id) == want, s"left $id user $u ts $ts: got ${got(id)} want $want")
    }
    // plan shape: ONE hash shuffle on the key (the union is narrow, the
    // window consumes the single exchange) — never a range/NL join
    val plan = graft.operators.Joins.asOfJoin(l, r, "user_id", "ts", "ts", "click_id",
      Seq("click_id", "click_value")).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"want 1 shuffle, got $exchanges:\n$plan")
    assert(!plan.contains("Join"), s"as-of must not plan a join:\n$plan")
  }

  test("range join: bucketed equi-join == brute-force interval containment, one row per pair") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val points = (1 to 200).map(i => (i.toLong, rnd.nextInt(1000).toLong))
    val ivals = (1 to 60).map { i =>
      val s = rnd.nextInt(950).toLong; (1000L + i, s, s + rnd.nextInt(120).toLong)
    }
    val got = graft.operators.Joins.rangeJoin(
        points.toDF("point_id", "p"), "p",
        ivals.toDF("interval_id", "s", "e"), "s", "e", bucketWidth = 64)
      .select("point_id", "interval_id")
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val want = for {
      (pid, p) <- points; (iid, s, e) <- ivals; if p >= s && p <= e
    } yield (pid, iid)
    assert(got.sorted.toSeq == want.sorted.toSeq,
      s"got ${got.length} pairs want ${want.length}")
    // each qualifying pair meets in exactly ONE bucket — no dup rows
    assert(got.length == got.distinct.length)
    // and the plan is a real equi-join, not a nested-loop/cartesian
    val plan = graft.operators.Joins.rangeJoin(
      points.toDF("point_id", "p"), "p",
      ivals.toDF("interval_id", "s", "e"), "s", "e", 64)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("bloom anti join == exact anti join, even with a saturated 64-bit filter") {
    import spark.implicits._
    val docs = (1 to 300).map(i => (i.toLong, s"text-${i % 90}")).toDF("doc_id", "text")
    val bench = docs.where($"doc_id" % 7 === 0).select($"text")
    val want = docs.join(bench.distinct(), Seq("text"), "left_anti")
      .select("doc_id").as[Long].collect().sorted.toSeq
    // bits=64 saturates the filter -> nearly everything is a false
    // positive -> the exact verify join must remove them all
    for ((bits, k) <- Seq((64, 2), (1 << 16, 5))) {
      val got = graft.operators.Joins.bloomAntiJoin(docs, "text", bench, "text", bits, k)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(got == want, s"bits=$bits k=$k: ${got.length} vs ${want.length}")
    }
    // empty benchmark set: everything survives, no probe-side crash
    val none = graft.operators.Joins.bloomAntiJoin(
      docs, "text", bench.where(lit(false)), "text", 1 << 10, 3).count()
    assert(none == 300)
  }

  test("bloom broadcast-table variant == literal path, with no giant plan literal") {
    import spark.implicits._
    val docs = (1 to 300).map(i => (i.toLong, s"text-${i % 90}")).toDF("doc_id", "text")
    val bench = docs.where($"doc_id" % 7 === 0).select($"text")
    val want = docs.join(bench.distinct(), Seq("text"), "left_anti")
      .select("doc_id").as[Long].collect().sorted.toSeq
    // equality with the literal path across the same (bits, k) grid,
    // including the saturated case where the verify join does all the work
    for ((bits, k) <- Seq((64, 2), (1 << 16, 5))) {
      val got = graft.operators.Joins.bloomAntiJoinBroadcast(
        docs, "text", bench, "text", bits.toLong, k)
        .select("doc_id").as[Long].collect().sorted.toSeq
      val litRows = graft.operators.Joins.bloomAntiJoin(docs, "text", bench, "text", bits, k)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(got == want && litRows == want, s"bits=$bits k=$k")
    }
    // the point of the variant: at big bits the words ride as a broadcast
    // relation, not a plan literal. Plan toString truncates long literals,
    // so assert structurally: largest array literal in the analyzed plan
    def maxArrayLit(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect { case p =>
        p.expressions.flatMap(_.collect {
          case org.apache.spark.sql.catalyst.expressions.Literal(
            a: org.apache.spark.sql.catalyst.util.ArrayData, _) => a.numElements()
        })
      }.flatten.maxOption.getOrElse(0)
    val big = 1 << 20
    val bDf = graft.operators.Joins.bloomAntiJoinBroadcast(
      docs, "text", bench, "text", big.toLong, 3)
    val lDf = graft.operators.Joins.bloomAntiJoin(docs, "text", bench, "text", big, 3)
    assert(bDf.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    assert(maxArrayLit(lDf) == big / 64, "literal path should inline bits/64 words")
    assert(maxArrayLit(bDf) <= 8,
      s"broadcast path leaked an array literal of ${maxArrayLit(bDf)} elements")
    // empty benchmark set: the words table is empty -> all words coalesce
    // to 0 -> everything definitely-out, nothing crashes
    val none = graft.operators.Joins.bloomAntiJoinBroadcast(
      docs, "text", bench.where(lit(false)), "text", 1L << 10, 3).count()
    assert(none == 300)
  }

  test("fuzzy decontamination flags planted paraphrases of benchmark docs, not fresh text") {
    import spark.implicits._
    val bench = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the red barn"),
      (2L, "machine learning models require large diverse training data sets"))
      .toDF("doc_id", "text")
    val docs = Seq(
      // verbatim leak
      (10L, "the quick brown fox jumps over the lazy dog near the red barn"),
      // one-token paraphrase (Jaccard 10/12 ≈ 83%)
      (11L, "the quick brown fox jumps over the sleepy dog near the red barn"),
      // unrelated
      (12L, "completely different content about cooking pasta with tomato sauce"),
      // shares two common words only
      (13L, "the dog sat alone")).toDF("doc_id", "text")
    val got = graft.operators.Dedup.fuzzyContaminated(
        docs, $"doc_id", $"text", bench, $"doc_id", $"text",
        k = 4, rowsPerBand = 2, minPercent = 60)
      .select("doc_id", "bench_id").as[(Long, Long)].collect().toSet
    assert(got.contains((10L, 1L)), s"verbatim leak missed: $got")
    assert(got.contains((11L, 1L)), s"paraphrase leak missed: $got")
    assert(!got.exists(_._1 == 12L) && !got.exists(_._1 == 13L), s"false positive: $got")
  }

  test("heavy hitters: MG prefilter + exact verify == plain groupBy/HAVING on zipf data") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    // zipf-ish: item i drawn with weight ~ 1/i over 200 items
    val weights = (1 to 200).map(i => 1.0 / i)
    val cum = weights.scanLeft(0.0)(_ + _).tail
    val total = cum.last
    val items = (1 to 20000).map { _ =>
      val x = rnd.nextDouble() * total
      s"w${cum.indexWhere(_ >= x) + 1}"
    }
    for (f <- Seq(0.01, 0.002)) {
      // force many partitions so per-partition MG summaries must merge
      val df = spark.sparkContext.parallelize(items, 16).toDF("item")
      val got = graft.operators.Frequent.heavyHitters(df, $"item", f)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val thr = math.max(1L, math.ceil(f * items.size).toLong)
      val want = items.groupBy(identity).view.mapValues(_.size.toLong)
        .filter(_._2 >= thr).toMap
      assert(got == want, s"f=$f: got ${got.size} want ${want.size}")
    }
  }

  test("bucketed tables: co-located join plans with zero Exchange and matches plain join") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-bucket-t").toString
    val facts = (1 to 500).map(i => (i.toLong, (i % 37).toLong, i * 2.0)).toDF("fk", "key", "v")
    val dims = (0 to 36).map(i => (i.toLong, s"d$i")).toDF("key2", "name")
    graft.sources.BucketedTable.write(facts, "t_facts", s"$base/facts", "key", 4)
    graft.sources.BucketedTable.write(dims, "t_dims", s"$base/dims", "key2", 4)
    // disable broadcast so the alternative is a shuffled SMJ — exactly
    // the 100 TB fact⋈fact scenario bucketing exists for (with a
    // broadcastable side Catalyst rightly prefers broadcast, and the
    // planner disables bucketed reading)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = graft.sources.BucketedTable.colocatedJoin(
        spark, "t_facts", "t_dims", "key", "key2")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan must be bucketed:\n$plan")
      // and an aggregation on the bucket key rides the same layout
      val agg = spark.table("t_facts").groupBy("key").count()
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"),
        agg.queryExecution.executedPlan.toString)
      val got = joined.select($"fk", $"name").as[(Long, String)].collect().toSet
      val want = facts.join(dims, $"key" === $"key2").select($"fk", $"name")
        .as[(Long, String)].collect().toSet
      assert(got == want)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("quantile refinement == sorted-rank reference: duplicates, negatives, many rounds") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // three groups with very different shapes: wide range, heavy
    // duplicates, constant
    val data =
      (1 to 700).map(i => ("wide", rnd.nextLong() % 1000000000L)) ++
      (1 to 500).map(i => ("dup", (rnd.nextInt(7) - 3).toLong)) ++
      (1 to 90).map(_ => ("const", 42L))
    val df = data.toDF("g", "v").repartition(8)
    val qs = Seq(0.25 -> "p25", 0.5 -> "p50", 0.99 -> "p99")
    // nulls must not count toward ranks (quantiles are over non-null values)
    val withNulls = df.unionByName(
      Seq(("wide", null.asInstanceOf[java.lang.Long]),
        ("dup", null.asInstanceOf[java.lang.Long])).toDF("g", "v"))
    // buckets=4 forces many refinement rounds over the 64-bit-ish range
    for (buckets <- Seq(4, 1024)) {
      val got = graft.operators.Quantiles.quantiles(withNulls, $"g", $"v", qs, buckets)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val want = data.groupBy(_._1).map { case (g, vs) =>
        val sorted = vs.map(_._2).sorted
        def kth(q: Double) = sorted(math.ceil(q * sorted.size).toInt - 1)
        g -> (kth(0.25), kth(0.5), kth(0.99))
      }
      assert(got == want, s"buckets=$buckets: $got vs $want")
    }
  }

  test("quantiles guards fire: group cardinality and 63-bit domain") {
    import spark.implicits._
    // probe state is driver-resident → high-cardinality grouping must
    // fail fast with a pointer to the window path, not OOM the driver
    val many = (1 to 50).map(i => (s"g$i", i.toLong)).toDF("g", "v")
    val eG = intercept[IllegalArgumentException] {
      graft.operators.Quantiles.quantiles(many, $"g", $"v",
        Seq(0.5 -> "p50"), maxGroups = 10)
    }
    assert(eG.getMessage.contains("maxGroups"), eG.getMessage)
    // a group spanning more than 63 bits would wrap (v - lo) div w
    // distributedly → must fail fast, not return wrong buckets
    val wide = Seq(("a", Long.MinValue), ("a", 0L), ("a", Long.MaxValue)).toDF("g", "v")
    val eW = intercept[IllegalArgumentException] {
      graft.operators.Quantiles.quantiles(wide, $"g", $"v", Seq(0.5 -> "p50"))
    }
    assert(eW.getMessage.contains("63 bits"), eW.getMessage)
    // just-inside-63-bits still works (no false trip)
    val ok = Seq(("a", -(Long.MaxValue / 2)), ("a", 0L), ("a", Long.MaxValue / 2 - 2048))
      .toDF("g", "v")
    val got = graft.operators.Quantiles.quantiles(ok, $"g", $"v", Seq(0.5 -> "p50"))
      .collect()
    assert(got.length == 1 && got(0).getLong(1) == 0L, got.mkString(","))
  }

  test("stream-stream interval join equals the batch interval join") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/events.parquet").exists)
    val joined = graft.streaming.StreamingPipeline.purchaseClickJoin(
      spark, s"$sf/events.parquet", "inner", windowMinutes = 360)
    val name = "sssjt" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table(name)
      .as[(Long, Long, Long)].collect().toSet
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val p = ev.where($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts".as("pts"))
    val c = ev.where($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id".as("cu"), $"ts".as("cts"))
    val batch = p.join(c, $"user_id" === $"cu" &&
        $"cts" >= $"pts" - expr("INTERVAL 360 MINUTES") && $"cts" <= $"pts")
      .select($"purchase_id", $"click_id", $"user_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"stream ${streamed.size} vs batch ${batch.size}")
  }

  test("z-order layout: per-file ranges tighten on BOTH dimensions (vs linear sort on one)") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows = (1 to 20000).map(_ => (rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong))
    val df = rows.toDF("x", "y").repartition(8)
    val base = java.nio.file.Files.createTempDirectory("graft-zorder").toString

    def avgWidths(path: String): (Double, Double) = {
      val per = spark.read.parquet(path)
        .groupBy(col("_metadata.file_path"))
        .agg((max("x") - min("x")).as("wx"), (max("y") - min("y")).as("wy"))
        .agg(avg("wx"), avg("wy")).head()
      (per.getDouble(0), per.getDouble(1))
    }

    graft.operators.Layout.zOrderWrite(df, s"$base/z", "x", "y", bits = 10, files = 16)
    df.repartitionByRange(16, $"x").sortWithinPartitions("x")
      .write.mode("overwrite").parquet(s"$base/xsort")
    val (zx, zy) = avgWidths(s"$base/z")
    val (_, xy) = avgWidths(s"$base/xsort")
    // 16 z-files ≈ 4×4 tiles of the 1024² domain: both widths ≈ 256 ≪
    // 1024; the x-sorted layout leaves y ranges at ~full width
    assert(zx < 500 && zy < 500, s"z tile widths x=$zx y=$zy")
    assert(xy > 900, s"x-sorted baseline should have full-width y: $xy")
    assert(zy < xy / 2, s"z-order y-width $zy !< half of x-sort's $xy")
    // round-trip: layout must not change the data
    assert(spark.read.parquet(s"$base/z").count() == rows.size)

    // the interleave itself: spot-check against a bit-twiddling reference
    val ref = (x: Long, y: Long) => (0 until 10).map(i =>
      (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    val got = df.limit(100).select($"x", $"y",
        graft.operators.Layout.zValue($"x", $"y", 10).as("z"))
      .collect()
    got.foreach(r => assert(r.getLong(2) == ref(r.getLong(0), r.getLong(1))))
  }

  test("rankBucket: exact-quantile normalizer — no Window, no Exchange on the data path") {
    import spark.implicits._
    // heavily skewed domain (squares): equal-width bucketing would cram
    // most rows into bucket 0; rank bucketing balances them
    val n = 4096
    // spark.range: parallel source with NO Exchange of its own, so the
    // no-shuffle assertion below sees only what rankBucket adds
    val df = spark.range(0, n, 1, 8).select($"id", ($"id" * $"id").as("v"))
    val bits = 3
    val out = graft.operators.Layout.rankBucket(df, "v", bits, "b")
    // the returned plan is the single-task-global-sort fix under test:
    // bucketing must be pure map-side arithmetic over the input
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"rankBucket plan contains a Window:\n$plan")
    assert(!plan.contains("Exchange"), s"rankBucket plan shuffles:\n$plan")
    val got = out.collect().map(r => r.getLong(1) -> r.getInt(2))
    // semantics: bucket(v) = #cutpoints <= v, cutpoints at ceil(q*n)-th
    // smallest (multiset order) — recompute directly
    val sorted = got.map(_._1).sorted
    val cuts = (1 until (1 << bits)).map(i =>
      sorted(math.ceil(i.toDouble / (1 << bits) * n).toInt - 1))
    got.foreach { case (v, b) => assert(b == cuts.count(_ <= v), s"v=$v b=$b") }
    // balance: distinct values ⇒ every bucket gets n/2^bits ± 1 rows
    val sizes = got.groupBy(_._2).map(_._2.length)
    assert(sizes.size == (1 << bits) && sizes.forall(s => math.abs(s - n / (1 << bits)) <= 1),
      s"bucket sizes: ${got.groupBy(_._2).view.mapValues(_.length).toMap}")
    // nulls bucket to null; empty input yields the null column
    val withNull = Seq(Some(5L), None).toDF("v")
    val nb = graft.operators.Layout.rankBucket(withNull, "v", 2, "b").collect()
    assert(nb.exists(r => !r.isNullAt(0) && !r.isNullAt(1)) &&
      nb.exists(r => r.isNullAt(0) && r.isNullAt(1)))
    assert(graft.operators.Layout.rankBucket(
      spark.emptyDataset[Long].toDF("v"), "v", 2, "b").count() == 0)
    // normalizer → zValue composition stays in-domain
    val z = graft.operators.Layout.rankBucket(df, "v", 3, "bv")
    val zz = graft.operators.Layout.rankBucket(z, "id", 3, "bi")
      .select(graft.operators.Layout.zValue($"bv", $"bi", 3).as("z"))
      .agg(min("z"), max("z")).head()
    assert(zz.getLong(0) >= 0L && zz.getLong(1) < 64L)
  }

  test("PR curve: binned sweep matches a hand-computed threshold evaluation") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // scores 0..9, positives concentrated at high scores
    val data = (1 to 2000).map { _ =>
      val bin = rnd.nextInt(10).toLong
      val y = if (rnd.nextInt(10) < bin) 1 else 0
      (bin, y)
    }
    val got = graft.operators.Eval.prCurve(
        data.toDF("bin", "y").repartition(8), $"bin", $"y")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val totPos = data.count(_._2 == 1).toLong
    data.map(_._1).distinct.foreach { t =>
      val pred = data.filter(_._1 >= t)
      val tp = pred.count(_._2 == 1).toLong
      val fp = pred.count(_._2 == 0).toLong
      val want = (tp, fp, totPos - tp, tp * 1000000L / (tp + fp), tp * 1000000L / totPos)
      assert(got(t) == want, s"threshold $t: ${got(t)} vs $want")
    }
    // precision must be monotone-ish sanity: highest bin has the best precision
    assert(got(9L)._4 >= got(0L)._4)
  }

  test("hard negatives: same-label near neighbor skipped, nearest other-label picked") {
    import spark.implicits._
    val probe = Array(1.0f, 0.0f)
    val vecs = Seq(
      (0L, probe, 7),                       // the probe, label 7
      (1L, Array(0.99f, 0.01f), 7),         // nearest overall but SAME label
      (2L, Array(0.9f, 0.1f), 3),           // nearest other-label -> rn 1
      (3L, Array(0.5f, 0.5f), 4),           // second other-label -> rn 2
      (4L, Array(-1.0f, 0.0f), 5)).toDF("vec_id", "embedding", "label")
    val got = graft.operators.Similarity.hardNegatives(
        vecs, vecs.where($"vec_id" === 0), k = 2)
      .select($"nid", $"rn").as[(Long, Int)].collect().sortBy(_._2).toSeq
    assert(got == Seq((2L, 1), (3L, 2)), got.toString)
  }

  test("k-center coreset matches the greedy farthest-point reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val vecs = (0 until 200).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2f - 1f)))
    def quant(v: Array[Float]): Seq[Long] =
      v.map(x => BigDecimal(x.toDouble * 1000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toSeq
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // reference greedy: seed = min id, farthest next, ties -> smaller id
    val qs = vecs.map { case (id, v) => id -> quant(v) }.toMap
    var chosen = List(0L)
    while (chosen.size < 5) {
      val next = vecs.map(_._1).filterNot(chosen.contains)
        .map(id => (qs.keySet.intersect(chosen.toSet).map(c => d2(qs(id), qs(c))).min, id))
        .maxBy { case (d, id) => (d, -id) }._2
      chosen ::= next
    }
    val want = chosen.reverse.zipWithIndex.map { case (v, i) => (i, v) }
    val got = graft.operators.Coreset.kCenters(
        vecs.toDF("vec_id", "embedding"), $"vec_id", $"embedding", k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(got == want, s"$got vs $want")
  }

  /** JVM-side HLL register reference: same sha256-hex layout as
    * Sketch.hllRegisters (b=8: 2 index hex chars, 13 rho hex chars). */
  private def refHllRegs(values: Seq[String]): Map[Long, Long] = {
    def one(s: String): (Long, Long) = {
      val h = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val reg = java.lang.Long.parseLong(h.substring(0, 2), 16)
      val v = java.lang.Long.parseLong(h.substring(2, 15), 16)
      val bitlen = if (v == 0) 0 else 64 - java.lang.Long.numberOfLeadingZeros(v)
      (reg, 53L - bitlen)
    }
    values.map(one).groupBy(_._1).map { case (r, xs) => r -> xs.map(_._2).max }
  }

  test("hll registers match a JVM sha256 reference and are duplicate-insensitive") {
    import spark.implicits._
    val vals = (0 until 500).map(i => s"item-$i")
    val withDups = vals ++ vals.take(200) ++ vals.take(50)
    val got = graft.operators.Sketch.hllRegisters(withDups.toDF("v"), $"v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == refHllRegs(vals), "registers must match reference and ignore duplicates")
  }

  test("hll registers merge: sketch(A ∪ B) == max-merge of sketch(A), sketch(B)") {
    import spark.implicits._
    val a = (0 until 400).map(i => s"a-$i")
    val b = (0 until 400).map(i => if (i % 3 == 0) s"a-$i" else s"b-$i") // overlap
    val sa = graft.operators.Sketch.hllRegisters(a.toDF("v"), $"v")
    val sb = graft.operators.Sketch.hllRegisters(b.toDF("v"), $"v")
    val merged = sa.union(sb).groupBy("reg").agg(max("rho_max").as("rho_max"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = graft.operators.Sketch.hllRegisters((a ++ b).toDF("v"), $"v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == direct, "register tables must merge by plain max")
  }

  test("hll estimate lands within the expected error band at n=5000") {
    import spark.implicits._
    val df = (0 until 5000).map(i => s"doc-$i").toDF("v")
    val row = graft.operators.Sketch.hllEstimate(df, $"v").collect().head
    val est = row.getAs[Long]("hll_estimate")
    val exact = row.getAs[Long]("exact_distinct")
    assert(exact == 5000)
    // raw HLL at m=256: typical rel. error 1.04/sqrt(256) ≈ 6.5%; allow 3σ
    assert(math.abs(est - exact).toDouble / exact < 0.2, s"est=$est exact=$exact")
  }

  /** JVM-side CMS reference (width 256, depth 4, same sha256 slices). */
  private def refCms(values: Seq[String]): Map[(Long, Long), Long] = {
    def cols(s: String): Seq[(Long, Long)] = {
      val h = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (0 until 4).map(j =>
        (j.toLong, java.lang.Long.parseLong(h.substring(j * 13, j * 13 + 13), 16) % 256L))
    }
    values.flatMap(cols).groupBy(identity).map { case (rc, xs) => rc -> xs.size.toLong }
  }

  test("cms sketch matches a JVM sha256 reference; merges by plain sum") {
    import spark.implicits._
    val a = (0 until 300).map(i => s"w${i % 40}") // heavy repetition
    val b = (0 until 200).map(i => s"w${i % 25}")
    val sa = graft.operators.Sketch.cmsSketch(a.toDF("v"), $"v")
    val sb = graft.operators.Sketch.cmsSketch(b.toDF("v"), $"v")
    val gotA = sa.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(gotA == refCms(a))
    val merged = sa.union(sb).groupBy("row", "col").agg(sum("cnt").as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val direct = graft.operators.Sketch.cmsSketch((a ++ b).toDF("v"), $"v")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == direct, "sketches must merge by plain sum")
  }

  test("cms lookup never underestimates and is exact absent collisions") {
    import spark.implicits._
    val stream = (0 until 1000).map(i => s"t${i % 60}")
    val exact = stream.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val df = stream.toDF("v")
    val sketch = graft.operators.Sketch.cmsSketch(df, $"v")
    val probes = exact.keys.toSeq.sorted.take(20).toDF("v")
    val got = graft.operators.Sketch.cmsLookup(sketch, probes, $"v")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { case (k, est) =>
      assert(est >= exact(k), s"$k: est $est < exact ${exact(k)}")
      // 60 distinct keys vs width 256, depth 4: the min over rows is
      // exact unless the key collides in ALL four — check vs reference
      val ref = refCms(stream)
      val h = java.security.MessageDigest.getInstance("SHA-256")
        .digest(k.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val want = (0 until 4).map(j => ref(
        (j.toLong, java.lang.Long.parseLong(h.substring(j * 13, j * 13 + 13), 16) % 256L))).min
      assert(est == want, s"$k: $est != replayed $want")
    }
  }

  test("bigram LM score: hand-computed ppm on a tiny corpus") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "x")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.lmScore(docs, $"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // model: p(a,b)=3e6 div 3=1000000; p(b,a)=1e6 div 2=500000; p(b,c)=500000
    // doc1: (ab,ba,ab) -> 2500000 div 3 = 833333; doc2: (ab,bc) -> 750000
    // doc3: no bigrams -> absent
    assert(got == Set((1L, 3L, 833333L), (2L, 2L, 750000L)), got.toString)
  }

  test("auc: hand cases — ties, perfect separation, all-tied, single class") {
    import spark.implicits._
    def run(rows: Seq[(Long, Int)]): org.apache.spark.sql.Row =
      graft.operators.Eval.auc(rows.toDF("s", "y"), col("s"), col("y")).head
    // pos scores {3,2}, neg {2,1}: pairs >,>,tie,> -> U=3.5 -> ppm 875000
    val r = run(Seq((3L, 1), (2L, 1), (2L, 0), (1L, 0)))
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      == (2L, 2L, 7L, 8L, 875000L), r.toString)
    // perfect separation -> 1.0
    assert(run(Seq((5L, 1), (4L, 1), (2L, 0), (1L, 0))).getLong(4) == 1000000L)
    // everything tied -> exactly 0.5
    assert(run(Seq((7L, 1), (7L, 1), (7L, 0))).getLong(4) == 500000L)
    // single class -> null auc
    assert(run(Seq((1L, 1), (2L, 1))).isNullAt(4))
  }

  test("bm25: engine equals an independent scalar reference implementation") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    val docs = (1L to 40L).map { i =>
      val n = 3 + rnd.nextInt(12)
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val query = Seq("beta", "eta", "gamma")
    // scalar reference: same integer formulas, plain Scala longs
    val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val nDocs = docs.size.toLong
    val avgdlPpm = toks.values.map(_.size.toLong).sum * 1000000L / nDocs
    val dfT = query.map(q => q -> toks.count(_._2.contains(q)).toLong).toMap
    def score(id: Long): (Long, Long) = {
      val dl = toks(id).size.toLong
      val terms = query.filter(q => toks(id).contains(q))
      val s = terms.map { q =>
        val tf = toks(id).count(_ == q).toLong
        val df = dfT(q)
        val ratioQ = (2 * nDocs - 2 * df + 1) / (2 * df + 1)
        val idf = if (ratioQ <= 0) 0L else 64L - java.lang.Long.numberOfLeadingZeros(ratioQ)
        val ratioPpm = dl * 1000000000000L / avgdlPpm
        val normPpm = 250000L + 750L * ratioPpm / 1000L
        val denPpm = tf * 1000000L + 1200L * normPpm / 1000L
        idf * (tf * 2200000L * 1000000L / denPpm)
      }.sum
      (terms.size.toLong, s)
    }
    val want = docs.map(_._1).map(id => (id, score(id)))
      .filter(_._2._1 > 0)
      .sortBy { case (id, (_, s)) => (-s, id) }.take(10)
      .zipWithIndex.map { case ((id, (nt, s)), i) => (id, nt, s, i + 1L) }
    val got = graft.operators.Retrieval.bm25TopK(
        docs.toDF("doc_id", "text"), col("doc_id"), col("text"),
        query.toDF("term"), topK = 10)
      .orderBy("rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want, s"\n got=$got\nwant=$want")
  }

  test("bm25MultiTopK equals the single-query path per query; no per-query Window") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val docs = (1L to 60L).map { i =>
      val n = 4 + rnd.nextInt(14)
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }.toDF("doc_id", "text")
    // 3 queries, overlapping term sets (beta shared by q0 and q2)
    val queries = Seq(
      (0L, "beta"), (0L, "eta"), (0L, "gamma"),
      (1L, "alpha"), (1L, "delta"),
      (2L, "beta"), (2L, "theta"), (2L, "zeta")).toDF("query_id", "term")
    val multiDf = graft.operators.Retrieval.bm25MultiTopK(
      docs, col("doc_id"), col("text"), queries, topK = 7)
    val multi = multiDf.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    for (qid <- 0L to 2L) {
      val terms = Seq((0L, Seq("beta", "eta", "gamma")), (1L, Seq("alpha", "delta")),
        (2L, Seq("beta", "theta", "zeta"))).toMap.apply(qid)
      val single = graft.operators.Retrieval.bm25TopK(
          docs, col("doc_id"), col("text"), terms.toDF("term"), topK = 7)
        .collect().map(r => r.getLong(3) -> (r.getLong(0), r.getLong(2))).toMap
      assert(single.keySet.forall(rn => multi((qid, rn)) == single(rn)),
        s"query $qid: multi=${(1L to 7L).flatMap(rn => multi.get((qid, rn)))} single=$single")
    }
    // plan: per-query top-k is the partial-aggregable TopKAgg, not a
    // row_number window over the scored table
    val plan = multiDf.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"multi-query top-k must not window:\n$plan")
  }

  test("random projection: equals JVM reference; plan is zero-shuffle") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val vecs = (0L until 12L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val out = Similarity.randomProject(vecs.toDF("vec_id", "embedding"), outDim = 5)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def q(x: Float): Long =
      BigDecimal(x.toDouble * 1000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    vecs.foreach { case (id, emb) =>
      (0 until 5).foreach { j =>
        val want = emb.zipWithIndex.map { case (x, i) =>
          Similarity.rpSign(j, i) * q(x)
        }.sum
        assert(got((id, j.toLong)) == want, s"vec $id dim $j")
      }
    }
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("cms join-size estimate never underestimates; exact on distinct keys") {
    import spark.implicits._
    val a = (1 to 200).map(i => s"k${i % 40}").toDF("v")   // 40 keys ×5
    val b = (1 to 120).map(i => s"k${20 + (i % 40)}").toDF("v") // overlap 20..39
    val ska = graft.operators.Sketch.cmsSketch(a, col("v"))
    val skb = graft.operators.Sketch.cmsSketch(b, col("v"))
    val est = graft.operators.Sketch.cmsJoinSize(ska, skb).head.getLong(0)
    val exact = a.join(b, "v").count()
    assert(est >= exact, s"CM inner product must never underestimate: $est < $exact")
    // with 60 distinct keys in 256 columns, collisions are rare enough
    // that the estimate stays within 2x (deterministic hash — stable)
    assert(est <= exact * 2, s"est $est way above exact $exact")
  }

  test("log2 histogram: bitlength bins, non-positive values in bin 0") {
    import spark.implicits._
    val got = graft.operators.Profiling.log2Histogram(
        Seq(-3L, 0L, 1L, 1L, 2L, 3L, 4L, 7L, 8L, 1023L).toDF("v"), col("v"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(
      0L -> (2L, -3L, 0L),   // non-positive
      1L -> (2L, 1L, 1L),    // 1
      2L -> (2L, 2L, 3L),    // 2-3
      3L -> (2L, 4L, 7L),    // 4-7
      4L -> (1L, 8L, 8L),    // 8-15
      10L -> (1L, 1023L, 1023L)), got.toString)
  }

  test("TopKAgg: == window top-k incl. ties; partial-aggregable plan, no Window") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    val rnd = new scala.util.Random(53)
    // heavy ties: values from a tiny domain force the id tie-break
    val rows = (1L to 400L).map(i => (s"g${i % 7}", rnd.nextInt(5).toLong, i))
    val df = rows.toDF("g", "v", "id")
    val got = graft.functions.TopKAgg.groupTopK(df, col("g"), col("v"), col("id"), k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = df.withColumn("rn",
        row_number().over(W.partitionBy("g").orderBy(col("v").desc, col("id"))).cast("long"))
      .filter(col("rn") <= 3).select("g", "rn", "v", "id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
    // the whole point: an aggregation plan (map-side combinable), no Window
    val plan = graft.functions.TopKAgg.groupTopK(df, col("g"), col("v"), col("id"), 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && plan.contains("Aggregate"), plan)
  }

  test("log2 quantiles: true quantile falls inside the reported bin bracket; merge = sum") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val vals = (1 to 500).map(_ => (rnd.nextInt(5000) + 1).toLong)
    val df = vals.toDF("v")
    val qs = Seq(100000L, 500000L, 950000L)
    val got = graft.operators.Profiling.log2Quantiles(df, col("v"), qs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3), r.getLong(4))).toMap
    val sorted = vals.sorted
    qs.foreach { q =>
      val (rank, lo, hi) = got(q)
      assert(rank == math.max(1, math.ceil(q * vals.size / 1e6).toLong))
      val truth = sorted((rank - 1).toInt)
      assert(truth >= lo && truth <= hi, s"q=$q: true $truth outside [$lo, $hi]")
    }
    // the histogram-sketch merges by bin-wise sum: hist(A ∪ B) == merged
    val (a, b) = vals.splitAt(250)
    val key = (r: org.apache.spark.sql.Row) => r.getLong(0)
    val whole = graft.operators.Profiling.log2Histogram(vals.toDF("v"), col("v"))
      .collect().map(r => key(r) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val ha = graft.operators.Profiling.log2Histogram(a.toDF("v"), col("v"))
      .collect().map(r => key(r) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val hb = graft.operators.Profiling.log2Histogram(b.toDF("v"), col("v"))
      .collect().map(r => key(r) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val merged = (ha.keySet ++ hb.keySet).map { bin =>
      val x = ha.get(bin); val y = hb.get(bin)
      bin -> ((x.map(_._1).getOrElse(0L) + y.map(_._1).getOrElse(0L)),
        Seq(x.map(_._2), y.map(_._2)).flatten.min,
        Seq(x.map(_._3), y.map(_._3)).flatten.max)
    }.toMap
    assert(merged == whole)
  }

  test("kmv sketch: JVM reference, union-merge, exact-when-underfilled, jaccard") {
    import spark.implicits._
    def h(x: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 13), 16)
    val a = (1 to 300).map(i => s"tok${i % 120}")
    val b = (1 to 300).map(i => s"tok${60 + (i % 120)}") // overlap 60..119
    val k = 32
    val ska = graft.operators.Sketch.kmvSketch(a.toDF("v"), col("v"), k)
    val skb = graft.operators.Sketch.kmvSketch(b.toDF("v"), col("v"), k)
    // state == JVM bottom-k reference
    val wantA = a.distinct.map(h).distinct.sorted.take(k)
    assert(ska.collect().map(_.getLong(0)).sorted.toSeq == wantA)
    // merge: bottom-k over the two SKETCHES == sketch of (A ∪ B) —
    // the sketches suffice, the corpora never meet
    val merged = ska.select("h").union(skb.select("h")).distinct()
      .orderBy("h").limit(k).collect().map(_.getLong(0)).sorted.toSeq
    val wantU = (a ++ b).distinct.map(h).distinct.sorted.take(k)
    assert(merged == wantU, "union-merge drifted from direct sketch")
    // underfilled sketch counts exactly
    val small = graft.operators.Sketch.kmvSketch(
      Seq("x", "y", "z", "x").toDF("v"), col("v"), k)
    val est = graft.operators.Sketch.kmvEstimate(small, k).head
    assert(est.getLong(0) == 3 && est.getLong(2) == 3)
    // jaccard estimate lands near the true 60/180 = 1/3 (k=32 ⇒ σ≈8pp)
    val j = graft.operators.Sketch.kmvJaccard(ska, skb, k).head
    val jPpm = j.getLong(2)
    assert(jPpm > 120000 && jPpm < 550000, s"jaccard_ppm $jPpm vs true 333333")
    assert(j.getLong(0) == k && j.getLong(1) == jPpm * k / 1000000)
  }

  test("pq: ADC finds cluster neighbors; ivf+pq scores equal plain ADC; plans clean") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // 4 well-separated clusters of 10 vectors in 32 dims
    val centers = Array.fill(4, 32)(rnd.nextFloat() * 4 - 2)
    val vecs = (0L until 40L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(x => x + rnd.nextFloat() * 0.1f - 0.05f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val probes = df.filter(col("vec_id") < 4)
    val books = graft.operators.Pq.train(df, m = 4, k = 8, iters = 2)
    val codes = graft.operators.Pq.encode(df, books, m = 4, subdim = 8)
    val luts = graft.operators.Pq.lut(probes, books, subdim = 8)
    val adc = graft.operators.Pq.searchAdc(codes, luts, topK = 5)
    // every ADC top-5 neighbor of probe i is in i's cluster
    adc.collect().foreach { r =>
      assert(r.getLong(1) % 4 == r.getLong(0) % 4,
        s"probe ${r.getLong(0)} pulled cross-cluster ${r.getLong(1)}")
    }
    // IVF+PQ returns a subset of the full-ADC scoring (same score values)
    val full = graft.operators.Pq.searchAdc(codes, luts, topK = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ivfC = Ivf.train(df, k = 4, iters = 2)
    val ivfpq = graft.operators.Pq.searchIvfAdc(df, probes, ivfC, books,
      m = 4, subdim = 8, topK = 5, nProbe = 2).collect()
    assert(ivfpq.nonEmpty)
    ivfpq.foreach { r =>
      assert(full((r.getLong(0), r.getLong(1))) == r.getLong(2),
        s"ivf+pq score drift at (${r.getLong(0)}, ${r.getLong(1)})")
    }
    // plans: ADC join is a real equi-join; encoding never shuffles
    val adcPlan = adc.queryExecution.executedPlan.toString
    assert(!adcPlan.contains("CartesianProduct") &&
      !adcPlan.contains("BroadcastNestedLoopJoin"), adcPlan)
    val encPlan = codes.queryExecution.executedPlan.toString
    assert(!encPlan.contains("Exchange"), encPlan)
  }

  test("semdedup: cluster-local groups match union-find reference; exact dups always collapse") {
    import spark.implicits._
    val rnd = new scala.util.Random(777)
    val dim = 8
    def normalize(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(x => (x / n).toFloat)
    }
    // 12 well-separated unit directions: 6 groups of 3 near-copies,
    // 3 exact-duplicate pairs, 3 singletons
    val base = Array.fill(12)(normalize(Array.fill(dim)(rnd.nextGaussian())))
    val vecs = scala.collection.mutable.ArrayBuffer[(Long, Array[Float])]()
    val exactGroups = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    var id = 0L
    base.zipWithIndex.foreach { case (b, gi) =>
      val copies = if (gi < 6) 3 else if (gi < 9) 2 else 1
      val ids = (0 until copies).map { c =>
        val v =
          if (gi >= 6 || c == 0) b // exact copy (or the group's base)
          else normalize(b.map(x => x + 0.01 * rnd.nextGaussian()))
        vecs += ((id, v)); id += 1; id - 1
      }
      if (gi >= 6 && gi < 9) exactGroups += ids
    }
    val df = vecs.toSeq.map { case (i, v) => (i, v.toSeq) }
      .toDF("vec_id", "embedding").repartition(4).cache()
    val minDotQ = 950000L // cosine ≈ 0.95 at unit norm, ×1000² quantization
    val out = graft.operators.SemDedup.run(df, k = 6, minDotQ = minDotQ, iters = 3)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getBoolean(3))).toMap
    // reference: same trained quantizer (deterministic), union-find over
    // within-cluster pairs with exact-rounded integer dot ≥ threshold
    val cents = Ivf.train(df, k = 6, iters = 3)
    val cid = Ivf.assign(df, cents).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    def quant(v: Array[Float]): Array[Long] = v.map(x =>
      BigDecimal(x.toDouble * 1000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    val qv = vecs.map { case (i, v) => i -> quant(v) }.toMap
    def qd(a: Array[Long], b: Array[Long]): Long = a.zip(b).map { case (x, y) => x * y }.sum
    // unionFind is string-keyed (min by string order) — zero-pad so
    // lexicographic min == numeric min
    def pad(i: Long) = f"$i%06d"
    val pairs = for {
      (i, vi) <- qv.toSeq; (j, vj) <- qv.toSeq
      if i < j && cid(i) == cid(j) && qd(vi, vj) >= minDotQ
    } yield (pad(i), pad(j))
    val uf = unionFind(pairs)
    vecs.foreach { case (i, _) =>
      val wantRep = uf.getOrElse(pad(i), pad(i)).toLong
      val (gotCid, gotRep, gotKeep) = out(i)
      assert(gotCid == cid(i), s"vec $i cid $gotCid vs ${cid(i)}")
      assert(gotRep == wantRep, s"vec $i rep $gotRep vs $wantRep")
      assert(gotKeep == (wantRep == i), s"vec $i keep")
    }
    // exact duplicates always share a cell (identical quantized vectors
    // ⇒ identical argmin with deterministic tie-break) ⇒ always dedup
    exactGroups.foreach { g =>
      assert(g.map(out(_)._2).distinct.size == 1, s"exact group $g not collapsed")
      assert(g.count(out(_)._3) == 1, s"exact group $g keep-count != 1")
    }
    // the pair stage is a cid equi-join, never a cartesian
    val edgePlan = graft.operators.SemDedup
      .duplicateEdges(df, Ivf.assign(df, cents), minDotQ)
      .queryExecution.executedPlan.toString
    assert(!edgePlan.contains("CartesianProduct") &&
      !edgePlan.contains("BroadcastNestedLoopJoin"), edgePlan)
    df.unpersist()
  }

  test("dsir: importance scores match a from-scratch reference; top-k selects target-like docs") {
    import spark.implicits._
    val target = Seq((100L, "theorem proof lemma"), (101L, "proof of theorem"),
      (102L, "lemma and proof")).toDF("doc_id", "text")
    val rawRows = Seq(
      (1L, "theorem proof lemma proof"), (2L, "banana apple fruit salad"),
      (3L, "proof of lemma"), (4L, "random words here now"),
      (5L, "lemma proof theorem lemma"), (6L, "apple banana"), (7L, ""))
    val raw = rawRows.toDF("doc_id", "text")
    val B = 64
    val scores = graft.operators.Dsir.importanceScores(
      raw, target, col("doc_id"), col("text"), buckets = B)
    // reference: replicate poly-hash features + smoothed ppm ratios
    val P = Dedup.minhashBigPrime
    def polyId(s: String): Long =
      if (s.isEmpty) 0L else s.foldLeft(0L)((h, c) => Math.floorMod(h * 31 + c.toInt, P))
    def feats(text: String): Seq[Long] = {
      val tk = text.split(" ", -1).toSeq // Spark split keeps empty tokens
      val grams = tk ++ tk.sliding(2).filter(_.size == 2).map(_.mkString(" "))
      grams.map(g => Math.floorMod(polyId(g), B.toLong))
    }
    val tFeats = Seq("theorem proof lemma", "proof of theorem", "lemma and proof").flatMap(feats)
    val rFeats = rawRows.flatMap { case (_, t) => feats(t) }
    val tc = tFeats.groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
    val rc = rFeats.groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
    val (nt, nr) = (tFeats.size.toLong, rFeats.size.toLong)
    def ratio(b: Long): Long =
      ((BigInt(tc.getOrElse(b, 0L) + 1) * (nr + B) * 1000000) /
        (BigInt(rc.getOrElse(b, 0L) + 1) * (nt + B))).toLong
    val want = rawRows.map { case (i, t) =>
      val fs = feats(t)
      i -> ((fs.size.toLong, fs.map(ratio).sum / fs.size))
    }.toMap
    val got = scores.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == want, s"$got vs $want")
    // target-like docs (1, 3, 5) outscore the noise docs (2, 4, 6)
    Seq(1L, 3L, 5L).foreach { m => Seq(2L, 4L, 6L).foreach { n =>
      assert(got(m)._2 > got(n)._2, s"doc $m (${got(m)._2}) !> doc $n (${got(n)._2})")
    }}
    val top = graft.operators.Dsir.selectTopK(scores, 3)
      .collect().map(_.getLong(0)).toSet
    assert(top == Set(1L, 3L, 5L), top.toString)
    // plan: ratio join is broadcast; nothing cartesians
    val plan = scores.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("rrfFuse: equals a scalar RRF reference; doc in both lists sums both terms") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    // 3 queries × 2 synthetic ranked lists of 8 docs each, overlapping
    val lists = for {
      qid <- 0L to 2L; listNo <- 0 to 1
      (doc, i) <- rnd.shuffle((1L to 14L).toList).take(8).zipWithIndex
    } yield (qid, doc, i + 1L, listNo)
    val rankings = lists.map { case (q, d, r, _) => (q, d, r) }.toDF("query_id", "doc_id", "rn")
    val got = graft.operators.Retrieval.rrfFuse(rankings, kRrf = 60, topK = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // scalar reference
    val want = lists.groupBy(x => (x._1, x._2)).map { case ((q, d), xs) =>
      (q, d) -> xs.map(x => 1000000L / (60L + x._3)).sum
    }.groupBy(_._1._1).flatMap { case (q, m) =>
      m.toSeq.map { case ((_, d), s) => (d, s) }
        .sortBy { case (d, s) => (-s, d) }.take(4)
        .zipWithIndex.map { case ((d, s), i) => (q, i + 1L) -> ((d, s)) }
    }
    assert(got == want, s"\n got=$got\nwant=$want")
    // a doc ranked by both lists beats the same rank in one list:
    // contribution is additive across lists by construction (checked by
    // the scalar equality above; this asserts the fixture exercised it)
    val multi = lists.groupBy(x => (x._1, x._2)).filter(_._2.size > 1)
    assert(multi.nonEmpty, "fixture must contain docs ranked by both lists")
    // plan: fusion is agg-only — no window, no join, no cartesian
    val plan = graft.operators.Retrieval.rrfFuse(rankings, kRrf = 60, topK = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("rankEval: MRR/recall match a scalar reference; unretrieved query scores 0") {
    import spark.implicits._
    val run = Seq(
      // query 0: first relevant at rank 2; hits at 2 and 9 (9 > cutoff 5)
      (0L, 11L, 1L), (0L, 12L, 2L), (0L, 13L, 3L), (0L, 14L, 9L),
      // query 1: first relevant at rank 1
      (1L, 21L, 1L), (1L, 22L, 2L),
      // query 2: nothing relevant retrieved
      (2L, 31L, 1L), (2L, 32L, 2L)).toDF("query_id", "doc_id", "rn")
    val qrels = Seq(
      (0L, 12L), (0L, 14L), (0L, 99L), // 3 relevant, retrieved hits: 12 (rank 2), 14 (rank 9)
      (1L, 21L), (1L, 98L),            // 2 relevant, hit at rank 1
      (2L, 97L)).toDF("query_id", "doc_id")
    val got = graft.operators.Retrieval.rankEval(run, qrels, cutoff = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(0L) == ((3L, 1L, 500000L, 333333L)), got(0L).toString) // rank-9 hit past cutoff
    assert(got(1L) == ((2L, 1L, 1000000L, 500000L)), got(1L).toString)
    assert(got(2L) == ((1L, 0L, 0L, 0L)), got(2L).toString)
  }

  /** classic unit-cost Levenshtein (reference implementation) */
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("Fuzzy.blockedMatches == brute-force within-block reference; no cartesian; purge cap") {
    import spark.implicits._
    // names with planted typos + genuine near-misses across two blocks
    val recs = Seq(
      (1L, "alpha-node-001"), (2L, "alpha-node-002"), (3L, "alpha-nodeX001"),
      (4L, "alpha-node-0013"), (5L, "alpha-different"),
      (6L, "beta-item-100"), (7L, "beta-item-101"), (8L, "beta-item-999"),
      (9L, "gamma-thing"))
    val df = recs.toDF("rid", "name")
    val got = graft.operators.Fuzzy.blockedMatches(
      df, col("rid"), col("name"), substring(col("name"), 1, 6), maxDist = 2)
    // brute-force reference restricted to shared 6-char block prefix
    val expect = (for {
      (ia, ka) <- recs; (ib, kb) <- recs
      if ia < ib && ka.take(6) == kb.take(6)
      if math.abs(ka.length - kb.length) <= 2
      d = lev(ka, kb) if d <= 2
    } yield (ia, ib, ka, kb, d.toLong)).sortBy(r => (r._1, r._2))
    val gotRows = got.orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getLong(4))).toSeq
    assert(gotRows == expect, s"got=$gotRows\nexpect=$expect")
    assert(expect.exists(_._5 == 1) && expect.exists(_._5 == 2)) // nontrivial case
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    // block purge: cap 4 drops the alpha block (5 records), keeps beta
    val capped = graft.operators.Fuzzy.blockedMatches(
      df, col("rid"), col("name"), substring(col("name"), 1, 6),
      maxDist = 2, maxBlockSize = 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == expect.filter(_._3.startsWith("beta-")).map(r => (r._1, r._2)).toSet)
    val purged = graft.operators.Fuzzy.purgedBlocks(
      df, col("name"), substring(col("name"), 1, 6), maxBlockSize = 4L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(purged == Set(("alpha-", 5L)))
  }

  test("invertedIndex blocks postings correctly; booleanAnd == all-terms filter") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c"), (1L, "a b"), (2L, "a c c"), (3L, "b"),
      (4L, "a b c d"), (5L, "d a"), (7L, "a b x")).toDF("doc_id", "text")
    // blockSize 4: docs 0-3 in block 0, 4-7 in block 1
    val idx = graft.operators.Retrieval.invertedIndex(
      docs, col("doc_id"), col("text"), blockSize = 4)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(idx(("a", 0L)) == ((3L, 6L, "0|1|2")), idx(("a", 0L)).toString)
    assert(idx(("a", 1L)) == ((3L, 6L, "4|5|7")), idx(("a", 1L)).toString)
    assert(idx(("c", 0L)) == ((2L, 3L, "0|2"))) // presence, not tf (doc 2 has c twice)
    assert(idx(("d", 1L)) == ((2L, 2L, "4|5")))
    assert(idx(("x", 1L)) == ((1L, 1L, "7")))
    assert(!idx.contains(("x", 0L)))
    // booleanAnd over {a, b}: docs containing BOTH
    val hits = graft.operators.Retrieval.booleanAnd(
      docs, col("doc_id"), col("text"), Seq("a", "b").toDF("term"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((0L, 2L), (1L, 2L), (4L, 2L), (7L, 2L)))
    // empty intersection: a term nothing contains
    val none = graft.operators.Retrieval.booleanAnd(
      docs, col("doc_id"), col("text"), Seq("a", "zzz").toDF("term")).count()
    assert(none == 0L)
  }

  test("funnel: earliest-after-previous chaining, strict inequality, drop-off") {
    import spark.implicits._
    val ev = Seq(
      (1L, "view", 1L), (1L, "click", 2L), (1L, "purchase", 3L), // full funnel
      (2L, "click", 1L), (2L, "view", 2L), (2L, "click", 5L),    // click@5 > view@2
      (2L, "purchase", 4L),                                      // 4 < 5: NOT after click
      (3L, "view", 1L),                                          // stops at view
      (4L, "click", 1L), (4L, "purchase", 2L),                   // never viewed: not in funnel
      (5L, "view", 1L), (5L, "click", 1L), (5L, "purchase", 2L)  // click NOT strictly after
    ).toDF("user_id", "event_type", "ts")
    val got = graft.operators.Funnel.funnel(
      ev, col("user_id"), col("event_type"), col("ts"),
      Seq("view", "click", "purchase"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toList.sorted
    assert(got == List((0, "view", 4L), (1, "click", 2L), (2, "purchase", 1L)), s"got=$got")
  }

  test("timeDecayCount: exact power-of-two weights, half-life floor, cap at scaleBits") {
    import spark.implicits._
    val day = 86400L
    val t0 = 1700000000L // tmax
    val ev = Seq(
      ("a", t0), ("a", t0 - day), ("a", t0 - 33 * day), // 2^32 + 2^31 + 0 (beyond cap)
      ("b", t0 - 2 * day + 1)                           // age 172799 → floor 1 → 2^31
    ).toDF("k", "tsec")
    val got = graft.operators.Profiling.timeDecayCount(
      ev, col("k"), col("tsec"), halfLifeSec = day, scaleBits = 32)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      "a" -> (((1L << 32) + (1L << 31), 3L)),
      "b" -> ((1L << 31, 1L))), s"got=$got")
    // exactly scaleBits half-lives old still contributes weight 1
    val edge = Seq(("c", t0), ("c", t0 - 32 * day)).toDF("k", "tsec")
    val gotEdge = graft.operators.Profiling.timeDecayCount(
      edge, col("k"), col("tsec"), halfLifeSec = day, scaleBits = 32)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotEdge("c") == (1L << 32) + 1L)
  }

  // ------------------------------------------ Seq[Long] kernels and nulls

  /** `f` over one row of long arrays given as SQL literals. */
  private def kernelOn(f: Seq[org.apache.spark.sql.Column] => org.apache.spark.sql.Column,
                       arrays: String*): org.apache.spark.sql.Row =
    spark.range(1).select(f(arrays.map(expr)).as("k")).head()

  test("kernel dotQ: a null element gives null, as the zip_with/aggregate path does") {
    import graft.operators.Kernels
    assert(kernelOn(c => Kernels.dotQ(c(0), c(1)), "array(1L, 2L, 3L)", "array(2L, 5L, 7L)")
      .getLong(0) == 33L)
    assert(kernelOn(c => Kernels.dotQ(c(0), c(1)), "array(1L, NULL, 3L)", "array(2L, 5L, 7L)").isNullAt(0))
    assert(kernelOn(c => Kernels.dotQ(c(0), c(1)), "array(1L, 2L)", "array(2L, CAST(NULL AS BIGINT))")
      .isNullAt(0))
    // the Column formulation the kernel replaced
    val column = kernelOn(c => aggregate(zip_with(c(0), c(1), _ * _), lit(0L), _ + _),
      "array(1L, NULL, 3L)", "array(2L, 5L, 7L)")
    assert(column.isNullAt(0))
  }

  test("kernel nearestCidKernel: a null element gives null") {
    import graft.operators.Kernels
    val near = Kernels.nearestCidKernel(Array(0 -> Array(0L, 0L), 1 -> Array(10L, 10L)))
    assert(kernelOn(c => near(c(0)), "array(9L, 8L)").getInt(0) == 1)
    assert(kernelOn(c => near(c(0)), "array(9L, NULL)").isNullAt(0))
  }

  test("kernel jlProjectKernel: a null element gives null") {
    import graft.operators.Kernels
    val proj = Kernels.jlProjectKernel(Array(Array(1L, -1L), Array(1L, 1L)))
    assert(kernelOn(c => proj(c(0)), "array(3L, 5L)").getSeq[Long](0) == Seq(-2L, 8L))
    assert(kernelOn(c => proj(c(0)), "array(NULL, 5L)").isNullAt(0))
  }

  test("kernel setBlob: a null tdf or token gives null") {
    import graft.operators.Kernels
    val blob = kernelOn(c => Kernels.setBlob(c(0), c(1)), "array(1L, 2L)", "array('a', 'bc')")
      .getAs[Array[Byte]](0)
    assert(blob.length == 12 + 1 + 12 + 2)
    assert(kernelOn(c => Kernels.setBlob(c(0), c(1)), "array(1L, NULL)", "array('a', 'bc')").isNullAt(0))
    assert(kernelOn(c => Kernels.setBlob(c(0), c(1)), "array(1L, 2L)", "array('a', NULL)").isNullAt(0))
  }
}
