package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.EntityCorpus
import graft.spec.SpecJson

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` carries one entry per implemented operator (SURVEY §2 ids in
  * comments); `oracleSql` the DuckDB-equivalent ANSI SQL on the same
  * parquet tables. Numeric convention for cross-engine bit-equality:
  * aggregate doubles as exact DECIMAL(18,2) sums, then cast to DOUBLE —
  * identical in Spark and DuckDB regardless of partial-agg order.
  * KG-pipeline queries that aren't SQL-expressible carry no oracle
  * (rows-only check) but are golden-tested in ScalaTest instead.
  */
object SparkEntry {

  private def t(dir: String, name: String)(implicit s: SparkSession): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** exact sum of a 2-decimal double column, returned as double */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  private def loadSpec(name: String): graft.spec.DumpSpec = {
    val in = getClass.getResourceAsStream(s"/specs/$name")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try SpecJson.parse(src.mkString) finally src.close()
  }

  /** Flagship query on sf=0.001: the humans.json KG pipeline over the
    * deterministic synthetic corpus (SURVEY §7.3). Driver smoke-checks
    * rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val corpus = EntityCorpus.generate(spark, 2000).toDF()
    Pipeline.triples(corpus, loadSpec("humans.json"))
  }

  // ----------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1/A5-style hash aggregation (partial+final, map-side combine)
    "q1_agg" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      t(dir, "lineitem")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsum($"l_quantity").as("sum_qty"),
          dsum($"l_extendedprice").as("sum_base_price"),
          sum(($"l_extendedprice".cast("decimal(18,2)") *
            (lit(BigDecimal(1)) - $"l_discount".cast("decimal(5,2)")))).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },
    // J4 inner joins: dims broadcast (small sides), fact stays partitioned
    "q_join_multi" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val o = t(dir, "orders"); val c = t(dir, "customer")
      val n = t(dir, "nation"); val r = t(dir, "region")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy($"r_name", $"n_name")
        .agg(dsum($"o_totalprice").as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy($"r_name", $"n_name")
    },
    // J5 left-outer join (dump⟕run analog)
    "q_left_outer" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val c = t(dir, "customer"); val o = t(dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy($"c_custkey")
        .agg(count($"o_orderkey").as("n_orders"),
          coalesce(dsum($"o_totalprice"), lit(0.0)).as("total"))
        .orderBy($"c_custkey")
    },
    // J1/F4 existential semi-join (EXISTS)
    "q_semi_exists" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val c = t(dir, "customer"); val o = t(dir, "orders")
      c.join(o.filter($"o_orderstatus" === "F").select("o_custkey"),
          c("c_custkey") === col("o_custkey"), "left_semi")
        .select($"c_custkey", $"c_name").orderBy($"c_custkey")
    },
    // anti join (NOT EXISTS)
    "q_anti" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val c = t(dir, "customer"); val o = t(dir, "orders")
      c.join(o.select("o_custkey"), c("c_custkey") === col("o_custkey"), "left_anti")
        .select($"c_custkey", $"c_name").orderBy($"c_custkey")
    },
    // §2.7 top-k = orderBy+limit (TakeOrderedAndProject)
    "q_topk" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      t(dir, "orders").select($"o_orderkey", $"o_totalprice")
        .orderBy($"o_totalprice".desc, $"o_orderkey").limit(10)
    },
    // A3 best-rank analog: per-group max then keep argmax rows (window)
    "q_bestrank_window" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val w = Window.partitionBy($"l_orderkey")
      t(dir, "lineitem")
        .withColumn("max_qty", max($"l_quantity").over(w))
        .filter($"l_quantity" === $"max_qty")
        .select($"l_orderkey", $"l_linenumber", $"l_quantity")
        .orderBy($"l_orderkey", $"l_linenumber")
    },
    // D1 dedup: SELECT DISTINCT → partial+final hash aggregate
    "q_distinct" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      t(dir, "lineitem").select($"l_returnflag", $"l_linestatus", $"l_shipdate")
        .distinct().orderBy($"l_returnflag", $"l_linestatus", $"l_shipdate")
    },
    // D3 set ops: UNION ALL + dedup
    "q_union_keys" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val c = t(dir, "customer").select($"c_nationkey".cast("int").as("key"))
      val su = t(dir, "supplier").select($"s_nationkey".cast("int").as("key"))
      c.union(su).distinct().orderBy($"key")
    },
    // F7 deterministic order-independent sampling (hash-mod analog)
    "q_sample_mod" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      t(dir, "orders").filter(pmod($"o_orderkey", lit(100)) < 37)
        .select($"o_orderkey", $"o_custkey").orderBy($"o_orderkey")
    },
    // A1 running counters analog: per-key counts + exact sums
    "q_event_counters" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      t(dir, "events").groupBy($"event_type")
        .agg(count(lit(1)).as("n"), dsum($"value").as("total_value"))
        .orderBy($"event_type")
    },
    // §2.9 processing-time window analog: tumbling event-time window agg
    "q_time_window" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      t(dir, "events")
        .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy($"hour", $"event_type")
    },
    // §2.7 keyset pagination (ORDER BY id > anchor LIMIT n)
    "q_keyset_page" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      t(dir, "events").filter($"event_id" > 500)
        .select($"event_id", $"event_type").orderBy($"event_id").limit(100)
    },
    // A5 min/max/avg stats
    "q_minmax" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      t(dir, "orders").agg(
        min($"o_orderkey").as("min_id"), max($"o_orderkey").as("max_id"),
        count(lit(1)).as("n"),
        (dsum($"o_totalprice") / count(lit(1))).as("avg_price"))
    },
    // SC7 sha256 lineage (north-rule per-row invariant)
    "q_sha256_lineage" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      t(dir, "documents").select($"doc_id", sha2($"text", 256).as("sha"))
        .orderBy($"doc_id")
    },
    // text analysis: token counting (whitespace tokenizer)
    "q_tokens" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      t(dir, "documents")
        .select($"doc_id", size(split($"text", " ")).as("n_tokens"))
        .orderBy($"doc_id")
    },
    // text analysis: BPE-ish pre-tokenizer count (letter runs / digit
    // runs / single punctuation — the GPT-2-style pre-split shape,
    // restricted to ASCII classes whose semantics Java and RE2 share)
    "q_tokens_bpe" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      t(dir, "documents").select($"doc_id",
        size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)"))
          .as("n_bpe_tokens"))
        .orderBy($"doc_id")
    },
    // text analysis: stopword counts (quality-scoring input; integers
    // only — ratios derive exactly downstream)
    "q_stopword_ratio" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val stops = typedlit(stopwords)
      val toks = split($"text", " ")
      t(dir, "documents").select($"doc_id",
        size(toks).as("n_tokens"),
        size(filter(toks, w => array_contains(stops, w))).as("n_stopwords"))
        .orderBy($"doc_id")
    },
    // text analysis: quality metrics (integer-exact)
    "q_text_quality" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val toks = split($"text", " ")
      t(dir, "documents").select(
        $"doc_id",
        length($"text").as("n_chars"),
        size(toks).as("n_words"),
        size(array_distinct(toks)).as("n_distinct_words"),
        array_max(transform(toks, w => length(w))).as("max_word_len"))
        .orderBy($"doc_id")
    },
    // exact dedup: content-hash groupBy, canonical = min id
    "q_exact_dedup" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      t(dir, "documents").groupBy($"text")
        .agg(min($"doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
        .select($"canonical_id", $"n_copies")
        .orderBy($"canonical_id")
    },
    // document fingerprinting: sha256 over sorted distinct token set
    "q_fingerprint" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      t(dir, "documents").select($"doc_id",
        sha2(concat_ws(" ", array_sort(array_distinct(split($"text", " ")))), 256)
          .as("fingerprint"))
        .orderBy($"doc_id")
    },
    // KG pipeline (not SQL-expressible → rows-only check here; golden
    // set-equality vs the oracle emitter lives in GoldenSpec)
    "kg_humans_triples" -> { (s, dir) =>
      val n = corpusSizeFor(dir)
      Pipeline.triples(EntityCorpus.generate(s, n).toDF(), loadSpec("humans.json"))
        .orderBy("subj", "pred", "obj")
    },
    // S3 multiplexed-scan contract, driver-verified: for each spec, the
    // multiplexed output must equal the independent single-spec run
    // (symmetric difference empty). The oracle pins the expected 'ok'
    // verdicts; the equivalence itself is computed distributed
    // (exceptAll), and the single-spec side is independently
    // golden/oracle-covered elsewhere.
    "kg_multiplex_examples" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val n = corpusSizeFor(dir)
      val corpus = EntityCorpus.generate(s, n).toDF()
      val specs = Seq("nothing.json", "english-labels.json", "humans.json", "politicians.json")
        .map(f => f.stripSuffix(".json") -> loadSpec(f))
      val multi = Pipeline.triplesMultiplexed(corpus, specs).cache()
      try {
        specs.map { case (id, spec) =>
          val single = Pipeline.triples(corpus, spec)
          val mt = multi.filter(col("specId") === id).drop("specId")
          val nDiff = mt.exceptAll(single).count() + single.exceptAll(mt).count()
          (id, if (nDiff == 0) "ok" else s"diff=$nDiff")
        }.toDF("spec_id", "status").orderBy("spec_id")
      } finally multi.unpersist()
    },
    // S2 real-dump-format contract, driver-verified: the fixture corpus
    // re-encoded as genuine Wikidata dump JSON (claims/mainsnak/datavalue
    // shape) must produce the identical triple set through the
    // DumpFormat.Wikidata parse path. Hand-written genuine dump lines are
    // additionally covered in WikidataJsonSpec.
    "kg_humans_realjson" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val fixture = EntityCorpus.generate(s, corpusSizeFor(dir)).toDF()
      val real = graft.sources.WikidataJson.convertCorpus(fixture)
      val spec = loadSpec("humans.json")
      val a = Pipeline.triples(fixture, spec)
      val b = Pipeline.triples(real, spec, format = graft.sources.DumpFormat.Wikidata).cache()
      try {
        val nDiff = a.exceptAll(b).count() + b.exceptAll(a).count()
        val nReal = b.count()
        Seq(if (nDiff == 0 && nReal > 100) "ok" else s"diff=$nDiff real=$nReal")
          .toDF("status")
      } finally b.unpersist()
    },
    // north-rule canonicalization: connected components (large-star/
    // small-star) over a bipartite graph; oracle = recursive-CTE closure
    "kg_cc_components" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val edges = t(dir, "events").select(
        concat(lit("u"), $"user_id".cast("string")).as("a"),
        concat(lit("t"), $"event_type").as("b")).distinct()
      // "u"/"t" prefixes make a == b impossible: self-loop-free
      graft.plans.ConnectedComponents.run(edges, selfLoopFree = true).orderBy("node")
    },
    // full KG pipeline + entity canonicalization (rows-only; golden-tested)
    "kg_canonical_triples" -> { (s, dir) =>
      val corpus = EntityCorpus.generate(s, corpusSizeFor(dir)).toDF()
      val mapping = graft.plans.Canonicalize.canonicalMapping(
        graft.plans.Canonicalize.aliasEdges(EntityCorpus.parse(corpus)))
      graft.plans.Canonicalize.rewriteTriples(
        Pipeline.triples(corpus, loadSpec("humans.json")), mapping)
        .orderBy("subj", "pred", "obj")
    },
    // MinHash signatures (rank-based portable path; xxhash64 path is the
    // scale default, exercised in tests/bench)
    "q_minhash_rank" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.Dedup.minhash(t(dir, "documents"), $"doc_id", $"text",
        k = 4, rankBased = true).orderBy("doc_id")
    },
    // MinHash+LSH near-dup pairs with exact Jaccard verification
    "q_minhash_pairs" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.Dedup.minhashNearDups(t(dir, "documents"), $"doc_id", $"text",
        k = 4, rowsPerBand = 2, minJaccardPercent = 60, rankBased = true)
        .orderBy("id_a", "id_b")
    },
    // batched mention detection + dictionary/alias entity-link scoring
    // (north-star step 2). The driver query runs over a PINNED literal
    // dictionary + class table (shared verbatim with the DuckDB oracle),
    // so the hard parts — the n-gram mention scan and the context-aware
    // prior scoring — are fully hash-verified; building the dictionary
    // from the KG corpus itself is covered in EntityLinkingSpec.
    "kg_entity_linking" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val dict = elDict.toDF("surface", "entity", "prior")
      val classes = elClasses.toDF("entity", "cls")
      val n = elSurfaces.length
      // inject two deterministic dictionary surfaces per document so
      // mention context (co-occurring entities) is exercised
      val docs = t(dir, "documents").select($"doc_id",
        concat_ws(" ", $"text",
          element_at(lit(elSurfaces.toArray), (pmod($"doc_id", lit(n)) + 1).cast("int")),
          element_at(lit(elSurfaces.toArray), (pmod($"doc_id" * 7 + 3, lit(n)) + 1).cast("int")))
          .as("text"))
      val mentions = graft.operators.EntityLinking
        .detectMentions(docs, $"doc_id", $"text", dict, maxGram = 3)
      graft.operators.EntityLinking.resolveOverlaps(
          graft.operators.EntityLinking.scoreLinks(mentions, classes))
        .orderBy("doc_id", "pos", "surface")
    },
    // MinHash scale path: xxhash64 token hashing, pure map-side signature
    // (no global vocab rank) — rows-only check; equality with the
    // rank-based formulation is covered in OperatorsSpec
    "q_minhash_scale" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.Dedup.minhash(t(dir, "documents"), $"doc_id", $"text",
        k = 8, rankBased = false).orderBy("doc_id")
    },
    // MinHash over polynomial codepoint token hashes: the
    // oracle-checked SCALE-shaped path — map-side hashing, no global
    // vocabulary window (unlike q_minhash_rank), partial-aggregable min
    "q_minhash_poly" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.Dedup.minhashPoly(t(dir, "documents"), $"doc_id", $"text", k = 8)
        .orderBy("doc_id")
    },
    // Deterministic stratified sample: ≤ 7 docs per language by poly
    // hash rank of the id — skew-safe two-stage window (salted local
    // top-n, then exact), membership a pure function of (id, seed)
    "q_stratified_sample" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.Sampling.stratified(
        t(dir, "documents"), $"lang", $"doc_id", n = 7,
        rankExpr = Some(graft.operators.Dedup.polyTokenId($"doc_id".cast("string"))))
        .select($"doc_id", $"lang").orderBy("lang", "doc_id")
    },
    // Weighted-mixture sampling: per-language keep-rates (ppm), pure
    // map-side filter (zero shuffle), exact-integer membership
    "q_mixture_sample" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.Sampling.byRate(
        t(dir, "documents"), $"lang", $"doc_id",
        ratesPerMillion = Map("en" -> 500000L, "de" -> 250000L),
        defaultPerMillion = 100000L,
        rankExpr = Some(graft.operators.Dedup.polyTokenId($"doc_id".cast("string"))))
        .select($"doc_id", $"lang").orderBy("doc_id")
    },
    // Incremental-refresh diff: classify a simulated v2 of `documents`
    // (text mutated for doc_id%13, rows deleted for doc_id%17) into
    // recompute/removed sets via anti-joins over (src, sha256) identity
    // tables — the delta planner of plans.Incremental, content never read
    "q_incremental_diff" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val docs = t(dir, "documents")
      val v1 = docs.select($"doc_id".cast("string").as("src"),
        sha2($"text", 256).as("src_sha"))
      val v2 = docs.filter($"doc_id" % 17 =!= 0)
        .select($"doc_id".cast("string").as("src"),
          sha2(when($"doc_id" % 13 === 0, concat($"text", lit(" v2")))
            .otherwise($"text"), 256).as("src_sha"))
      graft.plans.Incremental.diff(v1, v2).orderBy("src", "action")
    },
    // SimHash 32-bit signatures (rank-based portable arithmetic)
    "q_simhash" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.Dedup.simhash(t(dir, "documents"), $"doc_id", $"text")
        .orderBy("doc_id")
    },
    // SimHash near-dup pairs via pigeonhole banding (exact, no cartesian)
    "q_simhash_pairs" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val sig = graft.operators.Dedup.simhash(t(dir, "documents"), $"doc_id", $"text")
      graft.operators.Dedup.simhashPairs(sig, maxHamming = 3).orderBy("id_a", "id_b")
    },
    // n-gram Jaccard near-dup pairs bounded by a group key
    "q_jaccard_pairs" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.Dedup.jaccardPairs(t(dir, "documents"), $"doc_id", $"text",
        $"source", minPercent = 50).orderBy("id_a", "id_b")
    },
    // language ID (stopword-marker heuristic)
    "q_langid" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      operators.Par.spread(t(dir, "documents"))
        .select($"doc_id", graft.operators.TextAnalysis.langId($"text").as("lang_pred"))
        .orderBy("doc_id")
    },
    // ANN: brute-force top-1 by quantized-integer dot product
    "q_ann_dot" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val emb = t(dir, "embeddings")
      graft.operators.Similarity.bruteForceTopK(emb,
        emb.filter(pmod($"vec_id", lit(100)) === 0), k = 1).drop("rn").orderBy("qid")
    },
    // ANN: sign-bit LSH bucketed top-1 (the scale path)
    "q_ann_lsh" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val emb = t(dir, "embeddings")
      graft.operators.Similarity.lshTopK(emb,
        emb.filter(pmod($"vec_id", lit(100)) === 0), k = 1, bits = 4).drop("rn").orderBy("qid")
    },
    // ANN: multi-probe LSH (probe all buckets within Hamming 1 — the
    // recall knob at fixed bits; candidates dedupe before ranking)
    "q_ann_lsh_mp" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val emb = t(dir, "embeddings")
      graft.operators.Similarity.lshTopK(emb,
        emb.filter(pmod($"vec_id", lit(100)) === 0), k = 1, bits = 4, probeHamming = 1)
        .drop("rn").orderBy("qid")
    },
    // ANN: IVF (k-means coarse quantizer + probed cells). Fully
    // oracle-checkable: integer-quantized vectors, half-up integer
    // centroid means, arithmetic stride init — the DuckDB oracle reruns
    // the identical quantizer (unrolled Lloyd iterations in SQL)
    "q_ann_ivf" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val emb = t(dir, "embeddings")
      val centroids = graft.operators.Ivf.train(emb, k = 8, iters = 3)
      graft.operators.Ivf.search(emb,
        emb.filter(pmod($"vec_id", lit(100)) === 0), centroids, k = 1, nProbe = 2)
        .drop("rn").orderBy("qid")
    },
    // ANN: product quantization (Pq) — per-subspace k-means codebooks,
    // corpus stored as m=4 codes (64× smaller than the floats), probes
    // score by ADC table lookup. The oracle replays the full per-subspace
    // Lloyd training + encoding + LUT scoring in SQL (integer-exact, the
    // q_ann_ivf convention). searchIvfAdc (pruning × compression) is
    // equality- and plan-tested in OperatorsSpec.
    "q_pq_topk" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val emb = t(dir, "embeddings")
      val books = graft.operators.Pq.train(emb, m = 4, k = 8, iters = 2)
      val codes = graft.operators.Pq.encode(emb, books, m = 4, subdim = 16)
      val luts = graft.operators.Pq.lut(
        emb.filter(pmod($"vec_id", lit(100)) === 0), books, subdim = 16)
      graft.operators.Pq.searchAdc(codes, luts, topK = 5).orderBy("qid", "rn")
    },
    // IVF+PQ combined (Pq.searchIvfAdc): coarse cells prune candidates,
    // ADC codes score them — the FAISS IVFADC layout. The oracle
    // replays BOTH trainings (full-vector Lloyd for cells, per-subspace
    // Lloyd for codebooks), the cell probe, and the LUT scoring.
    "q_ann_ivfpq" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val emb = t(dir, "embeddings")
      val probes = emb.filter(pmod($"vec_id", lit(100)) === 0)
      val ivfC = graft.operators.Ivf.train(emb, k = 8, iters = 2)
      val books = graft.operators.Pq.train(emb, m = 4, k = 8, iters = 2)
      graft.operators.Pq.searchIvfAdc(emb, probes, ivfC, books,
        m = 4, subdim = 16, topK = 3, nProbe = 2).orderBy("qid", "rn")
    },
    // Johnson-Lindenstrauss random projection (Similarity.randomProject):
    // d=64 → 16 sign-weighted sums, pure map-side over the literal ±1
    // matrix (sha256-parity rule the oracle replays); the shuffle-width
    // reducer for every downstream embedding op
    "q_random_projection" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.Similarity.randomProject(t(dir, "embeddings"), outDim = 16)
        .orderBy("vec_id", "j")
    },
    // multimodal: binary decode plumbing, fully oracle-checked — the
    // deterministic payload is reconstructable from doc_id in SQL, so
    // DuckDB re-derives width/height/duration/size AND a payload
    // integrity fingerprint (sha256 over the lowercase hex of the bytes;
    // DuckDB v1.0 cannot hash BLOBs directly). The binary-domain sha256
    // of extractMeta stays covered in OperatorsSpec.
    "q_mm_meta" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val assets = graft.operators.Multimodal.synthesize(t(dir, "documents"), $"doc_id")
      val meta = graft.operators.Multimodal.extractMeta(assets).toDF()
      val payload = assets.toDF().select($"asset_id",
        sha2(lower(hex($"data")), 256).as("payload_hex_sha"))
      meta.join(payload, "asset_id")
        .select($"asset_id", $"kind", $"width", $"height", $"durationMs",
          $"sizeBytes", $"payload_hex_sha")
        .orderBy("asset_id")
    },
    // REAL image decode: synthesize genuine PNGs (javax.imageio encode),
    // decode them back with ImageIO and report exact pixel stats. The
    // oracle re-derives dims + the red-channel sum from the pixel formula
    // in pure SQL — any decode slip shifts the sum. Lossless PNG makes
    // this exact, not approximate.
    "q_mm_decode" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val assets = graft.operators.Multimodal.synthesizeImages(t(dir, "documents"), $"doc_id")
      graft.operators.Multimodal.imagePixelStats(assets).toDF()
        .select($"asset_id", $"width", $"height", $"red_sum")
        .orderBy("asset_id")
    },
    // REAL image resize: decode → explicit nearest-neighbor resample
    // (src = dst·srcDim div dstDim, integer arithmetic) → PNG re-encode →
    // decode AGAIN and sum the red channel. The oracle replays the same
    // integer resample over the pixel formula — end-to-end proof the
    // resize produces the exact pixels it claims.
    "q_mm_resize" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val assets = graft.operators.Multimodal.synthesizeImages(t(dir, "documents"), $"doc_id")
      val resized = graft.operators.Multimodal.resizeImages(assets, 8, 8)
      graft.operators.Multimodal.imagePixelStats(resized).toDF()
        .select($"asset_id", $"width", $"height", $"red_sum")
        .orderBy("asset_id")
    },
    // REAL audio decode: synthesize genuine WAVs (javax.sound PCM encode),
    // decode them back and report exact sample stats — lossless PCM, so
    // the oracle re-derives the |sample| sum from the sawtooth formula
    "q_mm_audio" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val assets = graft.operators.Multimodal.synthesizeAudio(t(dir, "documents"), $"doc_id")
      graft.operators.Multimodal.audioStats(assets).toDF()
        .orderBy("asset_id")
    },
    // REAL frame sampling: synthesize genuine animated GIFs, decode every
    // 2nd frame, PNG-round-trip each kept frame, and sum its gray channel
    // — the oracle replays frame selection + the pixel formula in SQL
    "q_mm_frames" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val assets = graft.operators.Multimodal.synthesizeGifs(t(dir, "documents"), $"doc_id")
      graft.operators.Multimodal.frameStats(assets, everyK = 2).toDF()
        .orderBy("asset_id")
    },
    // REAL feature extraction (Multimodal.extractFeatures): decode the
    // PNG, build the 16-bin integer-luma histogram (luma = (2r+5g+b)/8,
    // bin = luma·16/256), normalize to float32. The float features are
    // folded back to exact bin counts (round(f·n_pixels) — error bound
    // n·2^-24 < 0.5, so the roundtrip is exact) and the oracle replays
    // luma + binning from the pixel formula in pure SQL. doc_id % 5
    // keeps the oracle's per-pixel unnest bounded.
    "q_mm_features" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val assets = graft.operators.Multimodal.synthesizeImages(
        t(dir, "documents").filter($"doc_id" % 5 === 0), $"doc_id")
      val feats = graft.operators.Multimodal.extractFeatures(assets, dim = 16).toDF()
      val n = ((lit(16) + $"asset_id" % 64) * (lit(16) + $"asset_id" % 48)).cast("double")
      feats.select($"asset_id", posexplode($"features").as(Seq("i", "f")))
        .select($"asset_id", $"i".cast("long").as("bin"),
          round($"f".cast("double") * n).cast("long").as("cnt"))
        .where($"cnt" > 0)
        .orderBy("asset_id", "bin")
    },
    // exact discrete percentiles per group: window rank + positional pick
    // (integer position logic — engine-independent, unlike interpolation)
    "q_percentile" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val w = Window.partitionBy($"l_returnflag").orderBy($"l_quantity", $"l_orderkey", $"l_linenumber")
      val ranked = t(dir, "lineitem")
        .select($"l_returnflag", $"l_quantity", $"l_orderkey", $"l_linenumber")
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy($"l_returnflag")))
      ranked.filter($"rn" === ceil($"n" * 0.5) || $"rn" === ceil($"n" * 0.9))
        .groupBy($"l_returnflag")
        .agg(min(when($"rn" === ceil($"n" * 0.5), $"l_quantity")).as("p50"),
          min(when($"rn" === ceil($"n" * 0.9), $"l_quantity")).as("p90"))
        .orderBy($"l_returnflag")
    },
    // grouping sets: ROLLUP subtotal lattice (hash agg with grouping ids)
    "q_rollup" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      t(dir, "lineitem").rollup($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("sum_qty"))
        .select(coalesce($"l_returnflag", lit("ALL")).as("rf"),
          coalesce($"l_linestatus", lit("ALL")).as("ls"), $"n", $"sum_qty")
        .orderBy("rf", "ls")
    },
    // exact distinct aggregation (expand + two-phase agg)
    "q_count_distinct" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      t(dir, "lineitem").agg(
        countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey").as("n_supps"),
        count(lit(1)).as("n_rows"))
    },
    // composite training-data filter: quality gates + language ID + exact
    // dedup (keep min-id canonical) in one declarative pipeline — the
    // end-to-end "clean a pretraining shard" shape
    "q_training_filter" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val docs = t(dir, "documents")
      val toks = split($"text", " ")
      val scored = docs.select(
        $"doc_id", $"text",
        size(toks).as("n_words"),
        size(array_distinct(toks)).as("n_distinct"),
        graft.operators.TextAnalysis.langId($"text").as("lang_pred"))
      val canonical = docs.groupBy($"text").agg(min($"doc_id").as("doc_id"))
        .select($"doc_id")
      scored.join(canonical, "doc_id") // exact-dup removal: canonical copy only
        .filter($"n_words" >= 20 &&
          lit(100) * $"n_distinct" >= lit(40) * $"n_words" && // diversity ≥ 0.40
          $"lang_pred" === "en")
        .select($"doc_id", $"n_words", $"n_distinct")
        .orderBy($"doc_id")
    },
    // the full pre-training gate in ONE plan: quality + language +
    // canonical dedup (as q_training_filter) + bloom-prefiltered exact
    // decontamination against the benchmark set — the end-to-end
    // composition a 100 TB ingest actually runs
    "q_training_filter_decon" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val docs = t(dir, "documents")
      val bench = docs.where($"doc_id" % 13 === 0).select($"text")
      val clean = graft.operators.Joins.bloomAntiJoin(docs, "text", bench, "text",
        bits = 1 << 16, k = 5)
      val toks = split($"text", " ")
      val scored = clean.select(
        $"doc_id", $"text",
        size(toks).as("n_words"),
        size(array_distinct(toks)).as("n_distinct"),
        graft.operators.TextAnalysis.langId($"text").as("lang_pred"))
      val canonical = clean.groupBy($"text").agg(min($"doc_id").as("doc_id"))
        .select($"doc_id")
      scored.join(canonical, "doc_id")
        .filter($"n_words" >= 20 &&
          lit(100) * $"n_distinct" >= lit(40) * $"n_words" &&
          $"lang_pred" === "en")
        .select($"doc_id", $"n_words", $"n_distinct")
        .orderBy($"doc_id")
    },
    // event sessionization (gaps-and-islands): new session after a
    // >1h silence per user; two ordered windows + one hash agg —
    // partitioned by user_id, so it shuffles once and scales with users
    "q_sessionize" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // ts is TIMESTAMP_NTZ: epoch seconds via timestamp (session tz is
      // UTC, matching DuckDB's naive-timestamp epoch())
      val tsec = $"ts".cast("timestamp").cast("long")
      t(dir, "events").select($"user_id", $"ts", $"event_id")
        .withColumn("prev", lag(tsec, 1).over(w))
        .withColumn("new_s",
          when($"prev".isNull || tsec - $"prev" > 3600L, 1L).otherwise(0L))
        .withColumn("session_id", sum($"new_s").over(run))
        .groupBy($"user_id", $"session_id")
        .agg(min($"ts").as("session_start"), max($"ts").as("session_end"),
          count(lit(1)).as("n_events"))
        .orderBy($"user_id", $"session_id")
    },
    // AS-OF JOIN (operator Spark lacks natively): each event picks the
    // most recent purchase (ts' <= ts) of the same user. Scalable
    // formulation: tagged union + last(ignoreNulls) running window —
    // ONE shuffle on the key, no per-row range probe, no candidate
    // explosion; this is the shape that survives 100 TB (the naive
    // correlated lookup is O(n·m) per key).
    "q_asof_join" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ev = t(dir, "events")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id".as("k"), $"ts".as("ats"),
          $"ts".as("pt"), lit(null).cast("long").as("event_id"), lit(0).as("is_probe"))
      val probes = ev.select($"user_id".as("k"), $"ts".as("ats"),
        lit(null).cast("timestamp").as("pt"), $"event_id", lit(1).as("is_probe"))
      // within-ts tie: purchases sort first (is_probe 0) so a probe at
      // the same instant sees it — standard as-of <= semantics
      val w = Window.partitionBy($"k").orderBy($"ats", $"is_probe", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      purchases.union(probes)
        .withColumn("last_purchase", last($"pt", ignoreNulls = true).over(w))
        .filter($"is_probe" === 1)
        .select($"event_id", $"k".as("user_id"), $"last_purchase")
        .orderBy($"event_id")
    },
    // RANGE (interval) JOIN via bucketing: events inside (pts, pts+1h]
    // per probe. Each probe explodes to its 2 hour buckets, events carry
    // their 1 bucket — equi-join on bucket then exact range filter: no
    // cartesian, candidates bounded by events-per-hour × 2
    "q_range_join" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ev = t(dir, "events")
        .select($"ts", $"value", date_trunc("hour", $"ts").as("bucket"))
      val probes = t(dir, "events").filter($"event_id" % 50 === 0)
        .select($"event_id".as("probe_id"), $"ts".as("pts"))
        .withColumn("bucket", explode(array(date_trunc("hour", $"pts"),
          date_trunc("hour", $"pts" + expr("INTERVAL 1 HOUR")))))
      probes.join(ev, "bucket")
        .filter($"ts" > $"pts" && $"ts" <= $"pts" + expr("INTERVAL 1 HOUR"))
        .groupBy($"probe_id")
        .agg(count(lit(1)).as("n_events"), dsum($"value").as("total_value"))
        .orderBy($"probe_id")
    },
    // TF-IDF top term per document. Rational scoring (tf/df as an
    // exactly-rounded double division of two integers) instead of
    // log-idf: cross-engine bit-identical, same argmax. Two hash aggs +
    // one broadcast-able join on token.
    "q_tfidf" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val tok = t(dir, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("token"))
      val tf = tok.groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
      val dfreq = tok.distinct().groupBy($"token").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy($"doc_id")
        .orderBy(($"tf".cast("double") / $"df".cast("double")).desc, $"token")
      tf.join(dfreq, "token")
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"doc_id", $"token".as("top_term"), $"tf", $"df")
        .orderBy($"doc_id")
    },
    // BM25 retrieval (Retrieval.bm25TopK): integer-exact scoring —
    // floor-log2 idf via bitlength (the HLL-rho device), ppm fixed-point
    // tf normalization (k1=1.2, b=0.75) — so the DuckDB oracle replays
    // it bit-for-bit. Query = the 4 most frequent mid-band terms
    // (N/20 ≤ df ≤ N/2), derived deterministically from the corpus by
    // both engines. Top-k via sort+limit (TakeOrderedAndProject, never
    // a global sort).
    "q_bm25" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val docs = t(dir, "documents")
      val tok = docs.select($"doc_id", explode(split($"text", " ")).as("term"))
      val dfAll = tok.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_all"))
      val qterms = dfAll.crossJoin(broadcast(nDocs))
        .filter($"df" * 20 >= $"n_all" && $"df" * 2 <= $"n_all")
        .orderBy($"df".desc, $"term").limit(4).select("term")
      operators.Retrieval.bm25TopK(docs, $"doc_id", $"text", qterms, topK = 15)
        .orderBy("rn")
    },
    // Batched multi-query BM25 (Retrieval.bm25MultiTopK): 3 queries of
    // 3 mid-band terms each, scored in ONE corpus pass — per-(doc,term)
    // contributions computed once, fanned out to the query-term table,
    // per-query top-5 via the partial-aggregable TopKAgg (shuffle
    // carries ≤ k·|queries| rows). Terms are word BIGRAMS (w1_w2): the
    // synthetic vocabulary is ~30 near-universal words, so unigram
    // document frequencies are all > N/2 (idf floor 0); bigrams give a
    // real mid-band. Query sets derived deterministically by both
    // engines: the 9 most frequent mid-band bigrams (N/20 ≤ df ≤ N/2)
    // round-robined over query ids 0..2.
    "q_bm25_multi" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      // bigram text via one kernel pass per doc (identical to the
      // concat_ws/transform chain — Kernels.bigramText), checkpointed:
      // the retrieval stats consume this frame ~5 times
      val docs = t(dir, "documents")
        .select($"doc_id", split($"text", " ").as("w"))
        .filter(size($"w") >= 2)
        .select($"doc_id", operators.Kernels.bigramText($"w").as("text"))
        .localCheckpoint(false)
      val tok = docs.select($"doc_id", explode(split($"text", " ")).as("term"))
      val dfAll = tok.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_all"))
      val qterms = dfAll.crossJoin(broadcast(nDocs))
        .filter($"df" * 20 >= $"n_all" && $"df" * 2 <= $"n_all")
        .orderBy($"df".desc, $"term").limit(9)
        .withColumn("r", row_number().over(Window.orderBy($"df".desc, $"term")))
        .select((($"r" - 1) % 3).cast("long").as("query_id"), $"term")
      operators.Retrieval.bm25MultiTopK(docs, $"doc_id", $"text", qterms, topK = 5)
        .orderBy("query_id", "rn")
    },
    // RRF hybrid fusion (Retrieval.rrfFuse): list A = the multi-query
    // BM25 top-5 (the q_bm25_multi run verbatim), list B = a
    // deterministic hash pseudo-dense retriever (stands in for the ANN
    // top-k: RRF is rank-only, so WHERE list B's ranks come from is
    // orthogonal to the fusion arithmetic under test — and a hash
    // ranking keeps the oracle exact). Fused per (query, doc):
    // Σ 1000000 div (60 + rn); per-query top-5 via TopKAgg.
    "q_rrf" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      // bigram text via one kernel pass per doc (identical to the
      // concat_ws/transform chain — Kernels.bigramText), checkpointed:
      // the retrieval stats consume this frame ~5 times
      val docs = t(dir, "documents")
        .select($"doc_id", split($"text", " ").as("w"))
        .filter(size($"w") >= 2)
        .select($"doc_id", operators.Kernels.bigramText($"w").as("text"))
        .localCheckpoint(false)
      val tok = docs.select($"doc_id", explode(split($"text", " ")).as("term"))
      val dfAll = tok.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_all"))
      val qterms = dfAll.crossJoin(broadcast(nDocs))
        .filter($"df" * 20 >= $"n_all" && $"df" * 2 <= $"n_all")
        .orderBy($"df".desc, $"term").limit(9)
        .withColumn("r", row_number().over(Window.orderBy($"df".desc, $"term")))
        .select((($"r" - 1) % 3).cast("long").as("query_id"), $"term")
      val ra = operators.Retrieval.bm25MultiTopK(docs, $"doc_id", $"text", qterms, topK = 5)
        .select($"query_id", $"doc_id", $"rn")
      val keyed = t(dir, "documents")
        .select($"doc_id", explode(array(lit(0L), lit(1L), lit(2L))).as("query_id"))
        .withColumn("key", pmod(
          $"doc_id" * lit(2654435761L) + $"query_id" * lit(1000003L), lit(9176471L)))
      val rb = graft.functions.TopKAgg.groupTopK(keyed, $"query_id", $"key", $"doc_id", 5)
        .select($"g".as("query_id"), $"id".as("doc_id"), $"rn")
      operators.Retrieval.rrfFuse(ra.unionByName(rb), kRrf = 60, topK = 5)
        .orderBy("query_id", "rn")
    },
    // Rank-based retrieval eval (Retrieval.rankEval): MRR + recall@10
    // of the hash pseudo-dense top-20 against a deterministic judgment
    // set — both exact in ppm integers (nDCG deliberately absent: the
    // log2 discount forces floats, breaking the cross-engine contract).
    "q_rank_eval" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val keyed = t(dir, "documents")
        .select($"doc_id", explode(array(lit(0L), lit(1L), lit(2L))).as("query_id"))
        .withColumn("key", pmod(
          $"doc_id" * lit(2654435761L) + $"query_id" * lit(1000003L), lit(9176471L)))
      val run = graft.functions.TopKAgg.groupTopK(keyed, $"query_id", $"key", $"doc_id", 20)
        .select($"g".as("query_id"), $"id".as("doc_id"), $"rn")
      val qrels = t(dir, "documents")
        .select($"doc_id", explode(array(lit(0L), lit(1L), lit(2L))).as("query_id"))
        .filter(pmod($"doc_id" * 7919 + $"query_id" * 13, lit(29L)) === 3)
        .select($"query_id", $"doc_id")
      operators.Retrieval.rankEval(run, qrels, cutoff = 10).orderBy("query_id")
    },
    // CUBE grouping-set lattice (Expand + hash agg)
    "q_cube" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      t(dir, "orders").cube($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("total"))
        .select(coalesce($"o_orderstatus", lit("ALL")).as("st"),
          coalesce($"o_orderpriority", lit("ALL")).as("pri"), $"n", $"total")
        .orderBy("st", "pri")
    },
    // near-dup CLUSTERS: MinHash/LSH verified pairs become edges, then
    // connected components — the full "collapse duplicate families"
    // dedup shape (pairs alone under-merge transitive dups). Ids are
    // zero-padded so the CC operator's lexicographic MIN representative
    // equals numeric MIN.
    "q_neardup_clusters" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val pairs = graft.operators.Dedup.minhashNearDups(t(dir, "documents"),
        $"doc_id", $"text", k = 4, rowsPerBand = 2, minJaccardPercent = 60, rankBased = true)
      val edges = pairs.select(lpad($"id_a".cast("string"), 8, "0").as("a"),
        lpad($"id_b".cast("string"), 8, "0").as("b"))
      graft.plans.ConnectedComponents.run(edges, selfLoopFree = true) // id_a < id_b
        .select($"node".cast("long").as("doc_id"), $"component".cast("long").as("cluster"))
        .orderBy("doc_id")
    },
    // 7-day moving average over the pre-aggregated daily series. The
    // unpartitioned window is safe by construction: its input is one
    // row per DAY (bounded, ~2.4k rows even at 100 TB of orders) — the
    // heavy lifting is the partial-aggregable daily groupBy before it.
    "q_moving_avg" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      // DATE key on both sides (DuckDB's date_trunc('day') yields DATE)
      val daily = t(dir, "orders")
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum($"o_totalprice".cast("decimal(18,2)")).as("rev"))
      val w = Window.orderBy($"day").rowsBetween(-6, 0)
      daily.withColumn("ma7",
          sum($"rev").over(w).cast("double") / count(lit(1)).over(w).cast("double"))
        .select($"day", $"rev".cast("double").as("revenue"), $"ma7")
        .orderBy("day")
    },
    // PII scrubbing: deterministic planted emails/URLs, pattern counts +
    // redacted-text fingerprint. Patterns stay in the RE2 ∩ java.regex
    // common subset so both engines match identically; URL scrub runs
    // before email scrub (supersets first).
    "q_pii_scrub" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val emailPat = "[a-z0-9._]+@[a-z0-9.]+[a-z]"
      val urlPat = "https?://[a-z0-9./_-]+"
      val docs = t(dir, "documents").select($"doc_id",
        concat($"text", lit(" contact user"), $"doc_id".cast("string"),
          lit("@example.com or http://site"), $"doc_id".cast("string"),
          lit(".example.org/page now")).as("text"))
      docs.select($"doc_id",
          regexp_count($"text", lit(emailPat)).cast("int").as("n_emails"),
          regexp_count($"text", lit(urlPat)).cast("int").as("n_urls"),
          sha2(regexp_replace(regexp_replace($"text", urlPat, "<URL>"),
            emailPat, "<EMAIL>"), 256).as("scrubbed_sha"))
        .orderBy("doc_id")
    },
    // N-Triples read-back (sources.NtReader): render lines in-engine
    // (IRI / lang-literal with escape-heavy text / typed-literal
    // objects), parse them back with the pure-Column reader, return the
    // structured terms. The oracle never parses — it states the
    // expected terms directly from the base table, so render∘parse
    // must be the identity for the hash to match.
    "q_nt_roundtrip" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.functions.GraftExtensions.register(s)
      val r = t(dir, "region").select($"r_regionkey".cast("string").as("k"), $"r_name")
      // quote, backslash, newline, tab, and a control char — every
      // escape class NTriples.escape produces
      val nasty = concat($"r_name", lit("\"q\\x\n\tz\u0001"))
      val lines = r.select(concat(lit("<http://ex/r/"), $"k",
          lit("> <http://ex/p/name> \""), call_function("nt_escape", nasty),
          lit("\"@en .")).as("line"))
        .unionAll(r.select(concat(lit("<http://ex/r/"), $"k",
          lit("> <http://ex/p/key> \""), $"k",
          lit("\"^^<http://www.w3.org/2001/XMLSchema#integer> .")).as("line")))
        .unionAll(r.select(concat(lit("<http://ex/r/"), $"k",
          lit("> <http://ex/p/self> <http://ex/r/"), $"k", lit("> .")).as("line")))
      graft.sources.NtReader.parseLines(lines, $"line")
        .select($"subj", $"pred", $"objKind".as("obj_kind"), $"objIri".as("obj_iri"),
          $"lexical", $"lang", $"datatype")
        .orderBy("subj", "pred")
    },
    // salted exact distinct-count per key (hub-key-safe two-stage; the
    // explicit-salting path for when partial-agg/AQE don't cover it)
    "q_skew_distinct" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.Skew.saltedCountDistinct(t(dir, "events"), $"user_id", $"event_type")
        .withColumnRenamed("key", "user_id").orderBy("user_id")
    },
    // first-seen cohort / growth curve: min first-seen HOUR per user
    // (one partial agg), hourly new-user counts, cumulative over the
    // hour-bucket table only (the prCurve bounded-window pattern —
    // never a corpus window)
    "q_retention" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val first = t(dir, "events").groupBy($"user_id")
        .agg(min(date_trunc("hour", $"ts".cast("timestamp"))).as("d"))
      val daily = first.groupBy("d").agg(count(lit(1)).as("new_users"))
      val w = Window.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.withColumn("cum_users", sum($"new_users").over(w)).orderBy("d")
    },
    // explicit hub-key salted join (Skew.saltedJoin): each (key, salt)
    // bucket joins independently so one hub key spreads over `salt`
    // tasks; result ≡ the plain join (oracle) with per-user aggregation
    // to keep the comparison relational
    "q_skew_join" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val dim = t(dir, "customer")
        .select($"c_custkey".as("user_id"), $"c_mktsegment")
      graft.operators.Skew.saltedJoin(t(dir, "events"), dim, "user_id", salt = 8)
        .groupBy($"user_id", $"c_mktsegment")
        .agg(count(lit(1)).as("n"), dsum($"value").as("total_value"))
        .orderBy("user_id")
    },
    // Structured Streaming sessionization (flatMapGroupsWithState,
    // event-time timeout): the closed sessions of the whole events
    // stream must equal batch gaps-and-islands sessionization — the
    // strongest check a custom streaming state machine can get. Two
    // sentinel files advance the watermark so final sessions flush.
    "q_stream_sessions" -> { (s, dir) =>
      implicit val sp = s; import sp.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-qss").toString
      // stage as TIMESTAMP (session tz UTC): the fixture column is NTZ
      s.read.parquet(s"$dir/events.parquet")
        .select($"user_id", $"ts".cast("timestamp").as("ts"))
        .write.parquet(s"$tmp/f1")
      def ts(ms: Long) = new java.sql.Timestamp(ms)
      val maxTs = s.read.parquet(s"$tmp/f1").agg(max($"ts")).head().getTimestamp(0).getTime
      val stream = s.readStream.schema("user_id LONG, ts TIMESTAMP").parquet(s"$tmp/f*/")
        .withWatermark("ts", "0 seconds").as[(Long, java.sql.Timestamp)]
      val sessions = graft.streaming.StreamingPipeline.userSessions(stream, gapSec = 3600L)
      val name = "qss" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = sessions.writeStream.format("memory").queryName(name).outputMode("append").start()
      q.processAllAvailable()
      Seq((-1L, ts(maxTs + 86400000L))).toDF("user_id", "ts").write.parquet(s"$tmp/f2")
      q.processAllAvailable()
      Seq((-1L, ts(maxTs + 2 * 86400000L))).toDF("user_id", "ts").write.parquet(s"$tmp/f3")
      q.processAllAvailable(); q.stop()
      val w = Window.partitionBy($"user_id").orderBy($"session_start")
      s.table(name).filter($"user_id" >= 0)
        .withColumn("session_id", row_number().over(w).cast("long"))
        .select($"user_id", $"session_id", $"session_start", $"session_end", $"n_events")
        .orderBy($"user_id", $"session_id")
    },
    // Structured Streaming: watermarked tumbling-window agg over the
    // events stream, complete mode → equals the batch aggregation
    "q_stream_window" -> { (s, dir) =>
      val agg = graft.streaming.StreamingPipeline.eventWindowCounts(s, s"$dir/events.parquet")
      val name = "w" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = agg.writeStream.format("memory").queryName(name).outputMode("complete").start()
      q.processAllAvailable(); q.stop()
      s.table(name).select(col("window.start").as("ws"), col("event_type"),
        col("n"), col("total")).orderBy("ws", "event_type")
    },
    // Streaming sketch state: per-window HLL registers over the user
    // stream (distinct-users-per-hour in ≤ 256 state rows per window);
    // the register max is merge-associative ⇒ micro-batch-invariant,
    // and the final state equals the batch sketch the oracle replays
    "q_stream_hll" -> { (s, dir) =>
      val regs = graft.streaming.StreamingPipeline
        .windowedDistinctRegisters(s, s"$dir/events.parquet")
      val name = "hl" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = regs.writeStream.format("memory").queryName(name).outputMode("complete").start()
      q.processAllAvailable(); q.stop()
      val tbl = s.table(name).select(col("w.start").as("ws"), col("reg"), col("rho"))
      graft.operators.Sketch.estimateFromRegs(tbl, Seq("ws"), 8)
        .withColumnRenamed("estimate", "distinct_estimate").orderBy("ws")
    },
    // Streaming quantile-sketch state: per-window log2 (DDSketch γ=2)
    // histogram — ≤ 64 rows per window, bins sum associatively ⇒
    // micro-batch invariant, equal to the batch histogram
    "q_stream_ddsketch" -> { (s, dir) =>
      val h = graft.streaming.StreamingPipeline
        .windowedLog2Histogram(s, s"$dir/events.parquet")
      val name = "dd" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = h.writeStream.format("memory").queryName(name).outputMode("complete").start()
      q.processAllAvailable(); q.stop()
      s.table(name).select(col("w.start").as("ws"), col("bin"),
        col("n"), col("min_v"), col("max_v")).orderBy("ws", "bin")
    },
    // Streaming frequency state: per-window Count-Min registers over
    // the user stream (bounded 4·64 rows per window); counts sum
    // associatively ⇒ micro-batch invariant, equal to the batch sketch
    "q_stream_cms" -> { (s, dir) =>
      val regs = graft.streaming.StreamingPipeline
        .windowedCmsRegisters(s, s"$dir/events.parquet")
      val name = "cw" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = regs.writeStream.format("memory").queryName(name).outputMode("complete").start()
      q.processAllAvailable(); q.stop()
      s.table(name).select(col("w.start").as("ws"), col("row"), col("col"), col("cnt"))
        .orderBy("ws", "row", "col")
    },
    // Structured Streaming keyed state (mapGroupsWithState): running
    // per-user counts in update mode; the final (max) update per user
    // equals the batch count — robust to any micro-batch split since
    // counts are monotone
    "q_stream_state" -> { (s, dir) =>
      implicit val sp = s; import sp.implicits._
      val ev = graft.streaming.StreamingPipeline.eventsStream(s, s"$dir/events.parquet")
        .select($"user_id", $"ts").as[(Long, java.sql.Timestamp)]
      val updates = graft.streaming.StreamingPipeline.userRunningCounts(ev)
      val name = "st" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = updates.writeStream.format("memory").queryName(name).outputMode("update").start()
      q.processAllAvailable(); q.stop()
      s.table(name).groupBy($"user_id")
        .agg(max($"events").as("events")).orderBy("user_id")
    },
    // bounded-depth transitive closure (the Wikidata P279*-style
    // "reachable within k hops" query): BFS frontier joins with a
    // visited-set anti-join (plans.Closure) — per-round work is
    // proportional to NEWLY discovered pairs, cycles terminate, every
    // pair carries its minimal hop count. Edge table: the deterministic
    // halving tree over event user ids.
    "q_closure" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val edges = t(dir, "events").filter($"user_id" > 0)
        .select($"user_id".as("src"), expr("user_id div 2").as("dst"))
      plans.Closure.transitive(edges, "src", "dst", maxDepth = 4)
        .orderBy($"src", $"dst")
    },
    // Strongly connected components of a DIRECTED graph (plans.Scc):
    // trim + forward-max coloring + same-color backward harvest — the
    // distributed SCC formulation (no DFS; only equi-joins and
    // partial-aggregable maxes). Contract: scc_id(u) = max{v : u →* v
    // and v →* u}, which the oracle re-derives from a recursive-CTE
    // reachability closure (O(n²) pairs — affordable for the oracle
    // only; the engine never materializes reach pairs). Edge table:
    // two overlaid deterministic functional graphs on 101 nodes.
    "q_scc" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ev = t(dir, "events")
      val g1 = ev.groupBy(($"user_id" % 101L).as("src"))
        .agg((min($"event_id") % 101L).as("dst"))
      val g2 = ev.groupBy(($"event_id" % 101L).as("src"))
        .agg((max($"user_id") % 101L).as("dst"))
      plans.Scc.run(g1.union(g2)).orderBy("id")
    },
    // HyperBall neighborhood function (plans.HyperBall): per-node HLL
    // register propagation — ball_estimate ≈ |{u : dist(v,u) ≤ 2}| for
    // every node at once, with per-round cost = one equi-join + one
    // (id, reg) max. The oracle replays the register propagation
    // exactly (integer state) AND re-derives exact_ball from a bounded
    // reachability closure — an all-pairs path the engine never takes —
    // so the sketch's error is itself oracle-checked. Same two-overlay
    // functional graph as q_scc.
    "q_hyperball" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ev = t(dir, "events")
      val g1 = ev.groupBy(($"user_id" % 101L).as("src"))
        .agg((min($"event_id") % 101L).as("dst"))
      val g2 = ev.groupBy(($"event_id" % 101L).as("src"))
        .agg((max($"user_id") % 101L).as("dst"))
      val e = g1.union(g2).filter($"src" =!= $"dst").distinct()
      val hb = plans.HyperBall.run(e, rounds = 2, b = 4)
      val exact = plans.Closure.transitive(e, "src", "dst", maxDepth = 2)
        .filter($"dst" =!= $"src").groupBy($"src".as("id"))
        .agg((countDistinct($"dst") + lit(1L)).as("exact_ball"))
      hb.join(exact, Seq("id"), "left_outer")
        .withColumn("exact_ball", coalesce($"exact_ball", lit(1L)))
        .orderBy("id")
    },
    // harmonic centrality from the same HyperBall propagation (ONE
    // register loop, estimates snapshotted per round): H(v) =
    // Σ_d (est_d − est_{d−1})/d in exact ppm — the Boldi-Vigna
    // application, oracle-replayed round by round
    "q_harmonic" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ev = t(dir, "events")
      val g1 = ev.groupBy(($"user_id" % 101L).as("src"))
        .agg((min($"event_id") % 101L).as("dst"))
      val g2 = ev.groupBy(($"event_id" % 101L).as("src"))
        .agg((max($"user_id") % 101L).as("dst"))
      plans.HyperBall.harmonicCentrality(g1.union(g2), maxDepth = 2, b = 4)
        .orderBy("id")
    },
    // KMV bottom-k sketch: mergeable distinct estimates AND
    // cross-corpus Jaccard from ≤ 3k hash rows — the two corpora (even/
    // odd documents' token sets) never meet. Fully integer, so sketch
    // state, estimates and the ppm Jaccard all hash-match the oracle.
    "q_kmv_jaccard" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val docs = t(dir, "documents")
      def toks(p: Int) = docs.filter(pmod($"doc_id", lit(2)) === p)
        .select(explode(split($"text", " ")).as("tok"))
      val ska = operators.Sketch.kmvSketch(toks(0), $"tok", 64)
      val skb = operators.Sketch.kmvSketch(toks(1), $"tok", 64)
      val ea = operators.Sketch.kmvEstimate(ska, 64).select(
        $"n_hashes".as("n_a"), $"kth".as("kth_a"), $"distinct_estimate".as("est_a"))
      val eb = operators.Sketch.kmvEstimate(skb, 64).select(
        $"n_hashes".as("n_b"), $"kth".as("kth_b"), $"distinct_estimate".as("est_b"))
      ea.crossJoin(eb).crossJoin(operators.Sketch.kmvJaccard(ska, skb, 64))
    },
    // HyperLogLog as an explicit MERGEABLE register table
    // (operators.Sketch): sha256-derived (register, rho), ONE
    // partial-aggregable max shuffle, output ≤ 2^b rows regardless of
    // input size. Unlike approx_count_distinct's opaque buffer, the
    // registers persist/merge with plain relational ops — and being
    // integer-exact, the full sketch STATE hash-matches the oracle.
    "q_hll_registers" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      operators.Sketch.hllRegisters(t(dir, "lineitem"), $"l_partkey").orderBy("reg")
    },
    // the raw HLL estimate from those registers: 2^52-scaled integer
    // harmonic sum; the single float op is one IEEE division both
    // engines perform on exactly-agreed operands (then floored) —
    // exact_distinct rides along to make the sketch error visible
    "q_hll_estimate" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      operators.Sketch.hllEstimate(t(dir, "lineitem"), $"l_partkey")
    },
    // corpus-trained bigram LM fluency score in ppm (perplexity-style
    // quality signal, integer-exact): in-row bigram flat map, one
    // partial-aggregable model agg, model join back (AQE-broadcast when
    // small), one per-doc agg
    "q_lm_score" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      operators.TextAnalysis.lmScore(t(dir, "documents"), $"doc_id", $"text")
        .orderBy("doc_id")
    },
    // Count-Min sketch state (operators.Sketch.cmsSketch): 4 hash rows
    // from disjoint sha256 slices, ONE partial-aggregable count
    // shuffle, ≤ 4·width output rows — the mergeable (by SUM)
    // approximate-frequency counterpart of q_hll_registers
    "q_cms_sketch" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val toks = t(dir, "documents").select(explode(split($"text", " ")).as("tok"))
      operators.Sketch.cmsSketch(toks, $"tok").orderBy("row", "col")
    },
    // point-frequency estimates: probe tokens re-derive their (row,col)
    // pairs and broadcast LEFT-join the tiny sketch (empty cell ⇒ 0,
    // the canonical min-over-ALL-rows); est = min over rows (≥ true
    // count always — the oracle replays the identical minimum)
    "q_cms_lookup" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val toks = t(dir, "documents").select(explode(split($"text", " ")).as("tok"))
      val sketch = operators.Sketch.cmsSketch(toks, $"tok")
      val probes = toks.distinct().orderBy("tok").limit(10)
      operators.Sketch.cmsLookup(sketch, probes, $"tok").orderBy("probe")
    },
    // weighted single-source shortest paths (plans.Sssp): 3 bounded
    // Bellman-Ford relaxations over the deterministic weighted graph —
    // per round one equi-join + one partial-aggregable min; exact
    // integer distances the oracle re-derives round by round
    "q_sssp" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ev = t(dir, "events")
      val edges = ev.select(($"user_id" % 101L).as("src"),
        ($"event_id" % 101L).as("dst"), ($"event_id" % 97L + 1L).as("w"))
      plans.Sssp.run(edges, source = 0L, rounds = 3).orderBy("id")
    },
    // schema-on-read JSON extraction (from_json, codegen'd — the
    // semi-structured face of S2's fixed-schema parse): pull the `k`
    // field out of the props JSON column and aggregate on it
    "q_json_extract" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      t(dir, "events")
        .select(from_json($"props",
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k").as("k"))
        .groupBy(($"k" % 10L).as("k_mod"))
        .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"))
        .orderBy("k_mod")
    },
    // bounded top-k per group as a PARTIAL-AGGREGABLE custom Aggregator
    // (functions.TopKAgg): ≤ k rows of state per group per task,
    // map-side combined — the shuffle carries k·|groups| rows, never
    // the corpus (vs the window formulation's full per-group sort)
    "q_group_topk_agg" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.functions.TopKAgg.groupTopK(t(dir, "events"),
        group = $"event_type", value = floor($"value" * 100), id = $"event_id", k = 3)
        .orderBy("g", "rn")
    },
    // mergeable quantiles off the log2 histogram (DDSketch-at-γ=2,
    // Profiling.log2Quantiles): the ≤64-row histogram IS the sketch
    // (merges by bin-wise SUM); each quantile is bracketed by its
    // answering bin's observed [min_v, max_v]
    "q_log2_quantiles" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.Profiling.log2Quantiles(t(dir, "documents"), $"n_chars",
        Seq(250000L, 500000L, 900000L, 990000L)).orderBy("q_ppm")
    },
    // CMS join-size estimation (Sketch.cmsJoinSize): the planner's
    // "broadcast, shuffle or salt?" answered from two ≤ 4·256-row
    // sketches without scanning either table — min over hash rows of
    // the column-wise count inner product (≥ the true join size
    // always); the exact join count rides along to expose the error
    "q_join_size_est" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ska = operators.Sketch.cmsSketch(t(dir, "events"), $"user_id")
      val skb = operators.Sketch.cmsSketch(t(dir, "orders"), $"o_custkey")
      val exact = t(dir, "events").select($"user_id".as("k"))
        .join(t(dir, "orders").select($"o_custkey".as("k")), "k")
        .agg(count(lit(1)).as("exact_join_size"))
      operators.Sketch.cmsJoinSize(ska, skb).crossJoin(exact)
    },
    // Synchronous label propagation, 2 rounds (plans.LabelProp):
    // plurality label of neighbors, smallest-label tie-break, keep own
    // label when isolated — deterministic rules the oracle re-derives
    // exactly with unrolled window SQL. Same synthetic modular graph
    // family as q_pagerank, seeds = user_id mod 10.
    "q_label_prop" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ev = t(dir, "events")
      val edges = ev.select($"user_id".as("a"), (($"user_id" * 31L + 7L) % 150L).as("b"))
        .where($"a" =!= $"b").distinct()
      val seeds = ev.select($"user_id".as("id")).distinct()
        .withColumn("label", $"id" % 10L)
      plans.LabelProp.run(edges, seeds, rounds = 2).orderBy("id")
    },
    // pivot (wide conditional aggregation): explicit value list keeps
    // the plan a single hash agg — no extra distinct-values job, stable
    // column set at any scale
    "q_pivot" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      t(dir, "events").join(t(dir, "customer"), $"user_id" === $"c_custkey")
        .groupBy("c_mktsegment")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("c_mktsegment")
    },
    // PageRank in scaled-integer fixed point (plans.PageRank): integer
    // sums are order-independent, so ranks are bit-identical across
    // partitionings AND engines — DuckDB re-derives them exactly with
    // unrolled integer SQL (float PageRank could never hash-match).
    // Graph: customer→(orderkey mod 1000) links from orders.
    "q_pagerank" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val edges = t(dir, "orders")
        .select($"o_custkey".as("src"), ($"o_orderkey" % 1000).as("dst"))
      plans.PageRank.run(s, edges, iters = 3).orderBy($"id")
    },
    // personalized PageRank (random walk with restart into the id%50
    // seed set): teleport mass goes to the seeds only — "entities
    // related to THESE" — in the same fixed-point integer arithmetic as
    // q_pagerank, so the oracle unrolls the identical rounds
    "q_ppr" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val edges = t(dir, "orders")
        .select($"o_custkey".as("src"), ($"o_orderkey" % 1000).as("dst"))
      val nodes = edges.select($"src".as("id")).union(edges.select($"dst".as("id")))
      val seeds = nodes.filter($"id" % 50 === 0).distinct()
      plans.PageRank.personalized(s, edges, seeds, iters = 3).orderBy($"id")
    },
    // edge-weighted PageRank (PageRank.weighted): contributions scale
    // with integer edge weights (statement multiplicity / confidence) —
    // (r·w) div Σw_out; parallel edges merge by weight sum; 2 unrolled
    // rounds replayed by the oracle in the same fixed-point arithmetic
    "q_pagerank_weighted" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val edges = t(dir, "orders")
        .select($"o_custkey".as("src"), ($"o_orderkey" % 1000).as("dst"),
          ($"o_orderkey" % 5 + 1).as("w"))
      plans.PageRank.weighted(s, edges, iters = 2).orderBy($"id")
    },
    // log2-binned degree profile (Profiling.log2Histogram): the
    // power-law histogram that tells the planner which hub keys need
    // salting — bitlength bins, one hash agg over ≤ 64 bins
    "q_degree_profile" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val deg = t(dir, "orders")
        .select($"o_custkey".as("src"), ($"o_orderkey" % 1000).as("dst"))
        .distinct().groupBy($"src").agg(count(lit(1)).as("deg"))
      graft.operators.Profiling.log2Histogram(deg, $"deg").orderBy("bin")
    },
    // Iceberg-style snapshot table (sources.SnapshotTable): commit the
    // documents table partitioned by lang, then REPLACE the `en`
    // partition with its long-document subset, and read the CURRENT
    // snapshot. Exercises atomic manifest commit + replace-partitions +
    // snapshot read end-to-end; the oracle re-derives the final state
    // relationally (untouched partitions ∪ rewritten partition).
    "q_snapshot_read" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val table = java.nio.file.Files.createTempDirectory("graft-snap-q").toString
      val docs = t(dir, "documents").select($"doc_id", $"lang", $"n_chars")
      sources.SnapshotTable.commit(docs, table, "lang")
      sources.SnapshotTable.commit(
        docs.filter($"lang" === "en" && $"n_chars" >= 300), table, "lang", replace = true)
      sources.SnapshotTable.read(s, table)
        .select($"doc_id", $"lang", $"n_chars").orderBy($"doc_id")
    },
    // MERGE INTO (SnapshotTable.merge, Iceberg/Delta COW analog):
    // upserts + inserts + tombstone deletes against a committed base,
    // one atomic replace-partitions commit rewriting only affected
    // partitions. Oracle replays the merge relationally (updates ∪
    // inserts ∪ base-minus-touched-keys).
    "q_snapshot_merge" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val table = java.nio.file.Files.createTempDirectory("graft-snap-mg").toString
      val docs = t(dir, "documents").select($"doc_id", $"lang", $"n_chars")
      sources.SnapshotTable.commit(docs, table, "lang")
      val upd = docs.filter($"doc_id" % 10 === 0)
        .select($"doc_id", $"lang", ($"n_chars" + 1000L).as("n_chars"), lit(false).as("del"))
      val insNew = docs.filter($"doc_id" % 25 === 0)
        .select(($"doc_id" + 1000000L).as("doc_id"), $"lang",
          lit(7L).as("n_chars"), lit(false).as("del"))
      // %10 rows excluded: merge requires key-unique updates (a key may
      // not be both updated and tombstoned — Iceberg/Delta raise too)
      val dels = docs.filter($"doc_id" % 17 === 0 && $"doc_id" % 10 =!= 0)
        .select($"doc_id", $"lang", $"n_chars", lit(true).as("del"))
      sources.SnapshotTable.merge(s, table, upd.union(insNew).union(dels),
        "lang", Seq("doc_id"), tombstoneCol = Some("del"))
      sources.SnapshotTable.read(s, table)
        .select($"doc_id", $"lang", $"n_chars").orderBy("doc_id")
    },
    // Time travel + manifest pruning: after the REPLACE commit, read the
    // PRE-replace snapshot (version 1) restricted to two partitions —
    // the manifest prunes the file list, the old files reconstruct the
    // old state. Oracle: the original table filtered relationally.
    "q_snapshot_timetravel" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val table = java.nio.file.Files.createTempDirectory("graft-snap-tt").toString
      val docs = t(dir, "documents").select($"doc_id", $"lang", $"n_chars")
      sources.SnapshotTable.commit(docs, table, "lang")
      sources.SnapshotTable.commit(
        docs.filter($"lang" === "en" && $"n_chars" >= 300), table, "lang", replace = true)
      sources.SnapshotTable.read(s, table, version = 1, partitions = Some(Seq("en", "de")))
        .select($"doc_id", $"lang", $"n_chars").orderBy($"doc_id")
    },
    // CDC between snapshots (SnapshotTable.changes, Delta CDF /
    // Iceberg incremental-read analog): the row diff the MERGE above
    // produced — insert/delete + update pre/post-image pairs, scans
    // pruned to manifest-changed partitions before the one full-outer
    // key join. Oracle replays the diff relationally.
    "q_snapshot_cdc" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val table = java.nio.file.Files.createTempDirectory("graft-snap-cdc").toString
      val docs = t(dir, "documents").select($"doc_id", $"lang", $"n_chars")
      sources.SnapshotTable.commit(docs, table, "lang")
      val upd = docs.filter($"doc_id" % 10 === 0)
        .select($"doc_id", $"lang", ($"n_chars" + 1000L).as("n_chars"), lit(false).as("del"))
      val insNew = docs.filter($"doc_id" % 25 === 0)
        .select(($"doc_id" + 1000000L).as("doc_id"), $"lang",
          lit(7L).as("n_chars"), lit(false).as("del"))
      val dels = docs.filter($"doc_id" % 17 === 0 && $"doc_id" % 10 =!= 0)
        .select($"doc_id", $"lang", $"n_chars", lit(true).as("del"))
      sources.SnapshotTable.merge(s, table, upd.union(insNew).union(dels),
        "lang", Seq("doc_id"), tombstoneCol = Some("del"))
      sources.SnapshotTable.changes(s, table, 1, 2, Seq("doc_id"))
        .orderBy("doc_id", "change")
    },
    // Streaming bounded-state dedup (dropDuplicatesWithinWatermark):
    // first-seen (user_id, event_type) pairs emitted in append mode,
    // state GC'd at the watermark — the streaming face of exact dedup.
    // On a bounded replay this equals batch DISTINCT.
    "q_stream_dedup" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ded = graft.streaming.StreamingPipeline.streamingDedup(s, s"$dir/events.parquet")
      val name = "dd" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = ded.writeStream.format("memory").queryName(name).outputMode("append").start()
      q.processAllAvailable(); q.stop()
      s.table(name).orderBy($"user_id", $"event_type")
    },
    // Streaming CDC-apply (StreamingPipeline.mergeStreamToTable):
    // foreachBatch upserts the event stream into a SnapshotTable with a
    // staleness guard — final state = global per-key (ts, event_id)
    // argmax regardless of micro-batching. Oracle: the same argmax
    // replayed as a window over the batch table.
    "q_stream_merge" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val table = java.nio.file.Files.createTempDirectory("graft-stream-merge").toString
      val q = graft.streaming.StreamingPipeline.mergeStreamToTable(
        s, s"$dir/events.parquet", table)
      q.awaitTermination()
      sources.SnapshotTable.read(s, table)
        .select($"user_id", $"bucket".cast("long").as("bucket"),
          $"ts", $"event_id", $"event_type")
        .orderBy("user_id")
    },
    // Sequence packing (training-batch assembly): per-language quota
    // bins of 256 tokens, parallel per group — no global sort
    "q_seq_pack" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.TextAnalysis.packSequences(
        t(dir, "documents"), $"doc_id", $"text", $"lang", capacity = 256)
        .orderBy("doc_id")
    },
    // Benchmark-contamination check: training docs sharing any word
    // 5-gram with the probe set (doc_id % 97 == 0 stands in for the
    // benchmark suite); shingle-keyed semi-join, probe side broadcast
    "q_contamination" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val docs = t(dir, "documents")
      graft.operators.TextAnalysis.contamination(
        docs.filter(pmod($"doc_id", lit(97)) =!= 0),
        docs.filter(pmod($"doc_id", lit(97)) === 0),
        $"doc_id", $"text", n = 5)
        .orderBy("doc_id")
    },
    // Repetition quality signals (Gopher-rule family): integer-exact
    // word/bigram multiplicity stats, pure in-row fold — zero shuffle
    "q_repetition" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.TextAnalysis.repetitionMetrics(
        t(dir, "documents"), $"text", $"doc_id")
        .orderBy("doc_id")
    },
    // Chunk-level exact dedup (paragraph-dedup family): keep the
    // globally first occurrence of every 2-token chunk, reassemble docs
    // from survivors — partial-aggregable winner agg, no window
    "q_chunk_dedup" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.Dedup.dedupChunks(t(dir, "documents"), $"doc_id", $"text", 2)
        .orderBy("doc_id")
    },
    // ExactSubstr duplicate-SPAN removal (Lee et al. 2022 family):
    // every char inside a ≥20-char substring occurring ≥2× corpus-wide
    // (multiplicity counted) is excised from EVERY occurrence, after
    // merging overlapping windows into maximal spans. Detection = one
    // partial-aggregable count on the window hash + a semi-join back;
    // excision = one groupBy(doc_id) + in-row fold over sorted starts.
    // Oracle replays detection on the substrings themselves and the
    // cut as covered-position anti-join + ordered string_agg.
    "q_exactsubstr" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.Dedup.exactSubstrDedup(
          t(dir, "documents"), $"doc_id", $"text", window = 20)
        .orderBy("doc_id")
    },
    // overlapping sliding windows (RAG passage splitting): in-row
    // sequence→slice flat map, zero shuffle; window count integer-exact
    "q_sliding_chunks" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.Dedup.slidingChunks(t(dir, "documents"), $"doc_id", $"text",
        chunkTokens = 6, stride = 4).orderBy("doc_id", "idx")
    },
    // Fuzzy-dedup canonicalization: near-dup pairs → connected
    // components → keep the best-quality doc per cluster (quality =
    // n_chars, tie → min id); singletons kept as their own cluster
    "q_neardup_keep_best" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val docs = t(dir, "documents")
      val pairs = graft.operators.Dedup.minhashNearDups(docs,
        $"doc_id", $"text", k = 4, rowsPerBand = 2, minJaccardPercent = 60, rankBased = true)
      graft.operators.Dedup.keepBestPerCluster(docs, pairs, $"doc_id", $"n_chars")
        .orderBy("cluster")
    },
    // Linear hashed-feature classifier inference (fastText-style
    // quality filter): integer weights over D=64 poly-hash buckets,
    // zero-shuffle per-row fold. Weight vector is a deterministic
    // stand-in model (w[j] = (j·37 mod 21) − 10), shared with the oracle
    "q_quality_classifier" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.TextAnalysis.linearScore(
        t(dir, "documents"), $"doc_id", $"text", qualityWeights)
        .orderBy("doc_id")
    },
    // One BPE merge-selection iteration / collocation mining: global
    // top-20 adjacent token pairs (partial-agg count + ordered take)
    "q_bpe_pairs" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.TextAnalysis.topPairs(t(dir, "documents"), $"text", 20)
    },
    // Triangle count of the near-dup graph (cluster-coherence
    // diagnostic) via degree-ordered orientation — the oracle counts the
    // same triangles with an INDEPENDENT ordered 3-way self-join
    "q_neardup_triangles" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val pairs = graft.operators.Dedup.minhashNearDups(t(dir, "documents"),
        $"doc_id", $"text", k = 4, rowsPerBand = 2, minJaccardPercent = 60, rankBased = true)
      graft.plans.Triangles.count(
        pairs.select($"id_a".cast("string").as("a"), $"id_b".cast("string").as("b")))
    },
    // One-pass column profiling (dataset-card stats): non-null/null/
    // exact-distinct counts + min/max per column, single agg job
    "q_profile" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.Profiling.profile(t(dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"))
        .orderBy("column")
    },
    // BPE tokenizer training, 3 merge rounds: iterative top-pair
    // selection + set-oriented greedy merge (window run-parity, one
    // shuffle per round) — the oracle unrolls the identical 3 rounds
    "q_bpe_learn" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.Bpe.learnBpe(t(dir, "documents"), $"doc_id", $"text", rounds = 3)
    },
    // deterministic train/val/test split: consecutive ppm hash ranges,
    // zero shuffle, stable per-document across corpus versions
    "q_split_assign" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.Sampling.splitAssign(
        t(dir, "documents"), $"doc_id",
        splits = Seq("train" -> 800000L, "val" -> 100000L, "test" -> 100000L),
        rankExpr = Some(graft.operators.Dedup.polyTokenId(
          concat($"doc_id".cast("string"), lit("#split")))))
        .select($"doc_id", $"lang", $"split").orderBy("doc_id")
    },
    // canonical text normalization over a deliberately-messied input
    // (tabs, newline, uppercase injected) — map-side, zero shuffle
    "q_normalize" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      t(dir, "documents").select($"doc_id",
        graft.operators.TextAnalysis.normalizeText(
          concat($"text", lit("\t "), upper($"lang"), lit("\n"))).as("norm_text"))
        .withColumn("norm_len", length($"norm_text"))
        .orderBy("doc_id")
    },
    // document-length histogram: fixed-width integer buckets, one
    // partial-aggregable hash agg
    "q_length_hist" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.Profiling.histogram(t(dir, "documents"), $"n_chars", width = 100L)
        .orderBy("bucket_lo")
    },
    // stream-static join: event stream enriched with the broadcast
    // customer dimension, then aggregated per (segment, event_type);
    // on a bounded replay this equals the batch join+agg
    "q_stream_static_join" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val dim = t(dir, "customer").select($"c_custkey", $"c_mktsegment")
      val joined = graft.streaming.StreamingPipeline.enrichedEvents(
        s, s"$dir/events.parquet", dim, "user_id", "c_custkey")
      val name = "ssj" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = joined.writeStream.format("memory").queryName(name).outputMode("append").start()
      q.processAllAvailable(); q.stop()
      s.table(name).groupBy($"c_mktsegment", $"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("c_mktsegment", "event_type")
    },
    // corpus-frequency quality signal (unigram "perplexity" without a
    // model artifact): integer-exact rare-token and frequency sums
    "q_rare_tokens" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.TextAnalysis.rareTokenStats(
        t(dir, "documents"), $"doc_id", $"text", minCount = 5L)
        .orderBy("doc_id")
    },
    // per-group top-k by VALUE (largest docs per language): the same
    // two-stage salted window as stratified sampling, so a hub group
    // never lands on one task — rank expr is just -n_chars
    "q_group_topk" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.Sampling.stratified(
        t(dir, "documents").select($"doc_id", $"lang", $"n_chars"),
        $"lang", $"doc_id", n = 3, rankExpr = Some(-$"n_chars"))
        .orderBy("lang", "doc_id")
    },
    // as-of join (event attribution): each purchase gets the latest
    // click at-or-before it for the same user — ONE keyed shuffle +
    // per-key running last(), zero row amplification (never a range
    // join). Tie-break on click_id keeps duplicate-timestamp right
    // rows deterministic.
    "q_asof_attrib" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ev = t(dir, "events")
      val purchases = ev.where($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts", $"value")
      val clicks = ev.where($"event_type" === "click")
        .select($"user_id", $"ts", $"event_id".as("click_id"), $"value".as("click_value"))
      graft.operators.Joins.asOfJoin(purchases, clicks,
        key = "user_id", leftTs = "ts", rightTs = "ts", tieBreak = "click_id",
        rightCols = Seq("click_id", "click_value"))
        .orderBy("event_id")
    },
    // range (interval) join WITHOUT an equi key: purchases landing in
    // any signup's 6-hour attribution window, via bucketed equi-join on
    // epoch-micros buckets (each pair meets in exactly one bucket; a
    // naive BETWEEN plans as BroadcastNestedLoopJoin)
    "q_interval_join" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ev = t(dir, "events")
      val win = 21600000000L // 6h in micros == the bucket width
      val points = ev.where($"event_type" === "purchase")
        .select($"event_id".as("point_id"), unix_micros($"ts".cast("timestamp")).as("p"))
      val ivals = ev.where($"event_type" === "signup")
        .select($"event_id".as("interval_id"), unix_micros($"ts".cast("timestamp")).as("s"),
          (unix_micros($"ts".cast("timestamp")) + win).as("e"))
      graft.operators.Joins.rangeJoin(points, "p", ivals, "s", "e", bucketWidth = win)
        .select("point_id", "interval_id")
        .orderBy("point_id", "interval_id")
    },
    // bloom-prefiltered exact-key decontamination: training docs whose
    // text appears in the benchmark set are dropped. Result is EXACTLY
    // the anti join (false positives removed by the verify join), but
    // only bloom-positive rows reach the shuffle — (ε+fpp)·|corpus|
    // instead of |corpus| at 100 TB
    "q_decontaminate" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val docs = t(dir, "documents")
      val bench = docs.where($"doc_id" % 13 === 0).select($"text")
      graft.operators.Joins.bloomAntiJoin(docs, "text", bench, "text",
        bits = 1 << 16, k = 5)
        .orderBy("doc_id")
    },
    // the BIG-filter decontamination path: same exact-anti-join result,
    // but the bloom words ride as a broadcast TABLE (k map-side broadcast
    // joins), not a plan literal — the variant for ≥2^27-bit benchmark
    // sets where inlining the words would bloat every task binary
    "q_decontaminate_big" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val docs = t(dir, "documents")
      val bench = docs.where($"doc_id" % 13 === 0).select($"text")
      graft.operators.Joins.bloomAntiJoinBroadcast(docs, "text", bench, "text",
        bits = 1L << 16, k = 5)
        .orderBy("doc_id")
    },
    // fuzzy (near-dup) decontamination: corpus docs within Jaccard 60%
    // of ANY benchmark doc — MinHash bands probe only the (small,
    // broadcastable) benchmark band table, exact verify on candidates
    "q_fuzzy_decontaminate" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val docs = t(dir, "documents")
      val bench = docs.where($"doc_id" % 13 === 0)
      graft.operators.Dedup.fuzzyContaminated(
        docs, $"doc_id", $"text", bench, $"doc_id", $"text",
        k = 4, rowsPerBand = 2, minPercent = 60)
        .orderBy("doc_id", "bench_id")
    },
    // k-core decomposition (graph coherence filter): synchronous peel,
    // one partial-aggregable degree count + two semi-joins per round;
    // dropped keys leave the computation, surviving hubs are dense by
    // definition — no skew concentration
    "q_kcore" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ev = t(dir, "events")
      val edges = ev.select($"user_id".as("a"), ($"event_id" % 97L).as("b")).distinct()
      plans.KCore.run(edges, k = 3, rounds = 3).orderBy("id")
    },
    // exact heavy hitters (vocabulary head) WITHOUT shuffling the token
    // stream: per-partition Misra-Gries candidates (lossless superset),
    // exact verify count on candidates only — result == plain
    // GROUP BY/HAVING, which is the oracle
    "q_heavy_hitters" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val tokens = t(dir, "documents").select(explode(split($"text", " ")).as("item"))
      graft.operators.Frequent.heavyHitters(tokens, $"item", minFraction = 0.005)
        .orderBy("item")
    },
    // storage-level co-located join: both sides written hash-bucketed by
    // the join key, so the join (and any later groupBy on the key)
    // plans with ZERO Exchange — the recurring-join layout for 100 TB
    // fact tables. Plan asserted shuffle-free in OperatorsSpec.
    "q_bucketed_join" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val base = java.nio.file.Files.createTempDirectory("graft-bucketed-q").toString
      sources.BucketedTable.write(
        t(dir, "orders").select($"o_orderkey", $"o_custkey", $"o_totalprice"),
        "bq_orders", s"$base/orders", "o_custkey", buckets = 8)
      sources.BucketedTable.write(
        t(dir, "customer").select($"c_custkey", $"c_mktsegment"),
        "bq_customer", s"$base/customer", "c_custkey", buckets = 8)
      sources.BucketedTable.colocatedJoin(s, "bq_orders", "bq_customer",
          "o_custkey", "c_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("revenue"))
        .orderBy("c_mktsegment")
    },
    // exact per-group quantiles WITHOUT the per-group sort q_percentile
    // pays (one task per group): iterative histogram refinement — ≤7
    // partial-aggregable hash aggs total, data never sorted or shuffled
    // by value. Values fixed-point-scaled through DECIMAL for exactness.
    "q_quantile_refine" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val li = t(dir, "lineitem").select($"l_returnflag",
        ($"l_quantity".cast("decimal(18,2)") * 100).cast("long").as("v"))
      graft.operators.Quantiles.quantiles(li, $"l_returnflag", $"v",
          Seq(0.5 -> "p50s", 0.9 -> "p90s"))
        .select($"g".as("l_returnflag"),
          ($"p50s" / 100.0).as("p50"), ($"p90s" / 100.0).as("p90"))
        .orderBy("l_returnflag")
    },
    // stream-STREAM interval join (watermarked both sides, time-bounded
    // condition ⇒ GC-able state): purchases ⋈ same-user clicks in the
    // preceding 6h; equals the batch interval join, which is the oracle
    "q_stream_stream_join" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val joined = graft.streaming.StreamingPipeline.purchaseClickJoin(
        s, s"$dir/events.parquet", "inner", windowMinutes = 360)
      val name = "sssj" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
      s.table(name).orderBy("purchase_id", "click_id")
    },
    // stream-stream LEFT OUTER interval join: unattributed purchases
    // emit with null click_id only once the watermark has provably
    // passed their match window — so a bounded replay appends a
    // far-future FLUSH SENTINEL on each side (user -1, excluded from
    // the output) to advance both watermarks past every real row; with
    // the flush, stream ≡ batch LEFT JOIN exactly
    "q_stream_stream_left" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val d = java.nio.file.Files.createTempDirectory("graft-ssl")
      java.nio.file.Files.createSymbolicLink(
        d.resolve("part-0.parquet"), java.nio.file.Paths.get(s"$dir/events.parquet"))
      val far = java.sql.Timestamp.valueOf("2030-01-01 00:00:00")
      val sent = Seq((-1L, far, -1L, "purchase", 0.0, "{}"),
          (-2L, far, -1L, "click", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val tmp = java.nio.file.Files.createTempDirectory("graft-ssl-sent")
      sent.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part, d.resolve("part-1.parquet"))
      val joined = graft.streaming.StreamingPipeline.purchaseClickJoin(
        s, d.toString, "left_outer", windowMinutes = 360)
      val name = "sssl" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
      s.table(name).filter($"user_id" =!= -1L).orderBy("purchase_id", "click_id")
    },
    // stream-stream FULL OUTER interval join: both unmatched sides
    // surface — unattributed purchases AND orphan clicks — each only
    // after the OPPOSITE watermark passes its window (both-sides state
    // GC). Same flush-sentinel technique; with the flush, stream ≡
    // batch FULL JOIN exactly
    "q_stream_stream_full" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val d = java.nio.file.Files.createTempDirectory("graft-ssf")
      java.nio.file.Files.createSymbolicLink(
        d.resolve("part-0.parquet"), java.nio.file.Paths.get(s"$dir/events.parquet"))
      val far = java.sql.Timestamp.valueOf("2030-01-01 00:00:00")
      val sent = Seq((-1L, far, -1L, "purchase", 0.0, "{}"),
          (-2L, far, -1L, "click", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val tmp = java.nio.file.Files.createTempDirectory("graft-ssf-sent")
      sent.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(part, d.resolve("part-1.parquet"))
      val joined = graft.streaming.StreamingPipeline.purchaseClickJoin(
        s, d.toString, "full_outer", windowMinutes = 360)
      val name = "sssf" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
      s.table(name).filter($"user_id" =!= -1L).orderBy("purchase_id", "click_id")
    },
    // Z-order (Morton) clustering value: unrolled static-shift integer
    // arithmetic, whole-stage codegen — the multi-dimension file-skipping
    // layout key (tile effect asserted in OperatorsSpec; this query
    // oracle-pins the interleave arithmetic)
    "q_zvalue" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      t(dir, "events").select($"event_id",
        graft.operators.Layout.zValue($"user_id" % 1024, $"event_id" % 1024, bits = 10).as("z"))
        .orderBy("event_id")
    },
    // training-example assembly: per-user chronological action sequence
    // (multi-turn example construction). collect_list is UNORDERED under
    // partial aggregation — array_sort on (ts, event_id) makes the
    // result partitioning-invariant and therefore oracle-able; one hash
    // agg, no window
    "q_sequence_assembly" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      t(dir, "events")
        .groupBy($"user_id")
        .agg(concat_ws(",", transform(
          array_sort(collect_list(struct($"ts", $"event_id", $"event_type"))),
          x => x("event_type"))).as("seq"),
          count(lit(1)).as("n"))
        .orderBy("user_id")
    },
    // quality-filter evaluation: binned PR curve (one hash agg over the
    // corpus; the threshold sweep runs over the BIN table, never a
    // global sort by score) — exact ppm integer arithmetic
    "q_pr_curve" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.Eval.prCurve(
        t(dir, "documents"),
        scoreBin = least(expr("n_chars div 50"), lit(19L)).cast("long"),
        label = ($"lang" === "en").cast("int"))
        .orderBy("bin")
    },
    // calibration table (Eval.calibration): per-bin label rate vs the
    // bin's nominal score in exact ppm — over/under-confidence of the
    // quality classifier, one hash agg
    "q_calibration" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.Eval.calibration(t(dir, "documents"),
        scoreBin = least(expr("n_chars div 50"), lit(19L)).cast("long"),
        label = ($"lang" === "en").cast("int"), bins = 20).orderBy("bin")
    },
    // EXACT ROC-AUC with ties (Eval.auc): Mann-Whitney pair count via
    // ONE corpus hash-agg + a window over the score-GROUP table only
    // (never a global rank over the corpus). Doubled-integer arithmetic
    // absorbs the ½-tie term, so the oracle (an independent per-pair
    // CASE formulation DuckDB can afford at this scale) matches exactly.
    "q_auc" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.Eval.auc(t(dir, "events"),
        score = floor($"value" / 10.0), label = ($"event_id" % 3 === 0).cast("int"))
    },
    // diversity coreset (greedy k-center, Gonzalez 2-approx): k map-side
    // min-distance aggs, corpus never shuffles; integer-quantized so the
    // oracle unrolls the same greedy rounds
    "q_coreset" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      graft.operators.Coreset.kCenters(
        t(dir, "embeddings"), $"vec_id", $"embedding", k = 3)
        .orderBy("sel_order")
    },
    // hard-negative mining (contrastive training): per probe, the top-2
    // most similar vectors with a DIFFERENT label
    "q_hard_negatives" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val emb = t(dir, "embeddings")
      graft.operators.Similarity.hardNegatives(emb,
        emb.filter(pmod($"vec_id", lit(100)) === 0), k = 2)
        .orderBy("qid", "rn")
    },
    // hard-negative mining, SCALE path: LSH-bucketed candidates (multi-
    // probe Hamming 1) with the label predicate in the candidate filter —
    // sublinear in the corpus; the oracle replays the identical bucketing
    "q_hard_negatives_lsh" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val emb = t(dir, "embeddings")
      graft.operators.Similarity.hardNegativesLsh(emb,
        emb.filter(pmod($"vec_id", lit(100)) === 0), k = 2, bits = 4, probeHamming = 1)
        .orderBy("qid", "rn")
    },
    // SemDeDup (Abbas et al. 2023): semantic dedup = k-means cells →
    // within-cell integer-dot pairs → connected-component groups → min-id
    // representative. The synthetic embeddings carry no natural near-
    // duplicates (max pairwise quantized dot ≈ 0.51e6), so the query
    // plants exact copies of every vec_id%20==0 vector under shifted ids —
    // deterministic, same input table, and exact copies MUST collapse
    // (identical quantization ⇒ identical cell ⇒ dot ≈ 1e6 ≥ τ). The
    // oracle replays the full Lloyd training (ivfOracleSql convention),
    // the cell-local pair scan, and the CC via recursive CTE.
    "q_semdedup" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val emb = t(dir, "embeddings").select($"vec_id", $"embedding")
      val copies = emb.filter(pmod($"vec_id", lit(20)) === 0)
        .select(($"vec_id" + 100000L).as("vec_id"), $"embedding")
      graft.operators.SemDedup.run(emb.unionByName(copies),
        k = 8, minDotQ = 950000L, iters = 2)
        .withColumn("keep", col("keep").cast("int"))
        .orderBy("vec_id")
    },
    // DSIR (Xie et al. 2023): importance-resample a raw corpus toward a
    // target domain via hashed unigram+bigram bucket-count ratios —
    // integer ppm, add-1 smoothed, exact in DECIMAL(38,0). Target = the
    // deterministic doc_id%50 slice; score = mean ratio over the doc's
    // features. The oracle replays the poly hash, the bucket counts, and
    // the HUGEINT ratio arithmetic.
    "q_dsir" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val docs = t(dir, "documents")
      graft.operators.Dsir.importanceScores(
        docs, docs.filter(pmod($"doc_id", lit(50)) === 0),
        col("doc_id"), col("text"), buckets = 256)
        .orderBy("doc_id")
    },
    // Blocked fuzzy matching (operators.Fuzzy): entity-resolution
    // candidate pairs within Levenshtein distance 1, found by a block-key
    // equi-join (never a cartesian). Records = customer names + planted
    // single-character typos (last serial digit → 'X' for every third
    // customer); block key = the first 16 chars (serial div 100), so
    // blocks stay ~133 records. Matches: each original↔its typo, originals
    // differing only in the last digit, typos differing only in digit 8 —
    // all exact unit-cost Levenshtein, which DuckDB computes identically.
    "q_fuzzy_match" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val c = t(dir, "customer")
      val orig = c.select(($"c_custkey" * 2).as("rid"), $"c_name".as("name"))
      val typo = c.filter(pmod($"c_custkey", lit(3)) === 0)
        .select(($"c_custkey" * 2 + 1).as("rid"),
          concat(substring($"c_name", 1, 17), lit("X")).as("name"))
      graft.operators.Fuzzy.blockedMatches(
        orig.unionByName(typo), col("rid"), col("name"),
        substring(col("name"), 1, 16), maxDist = 1)
        .orderBy("id_a", "id_b")
    },
    // Common-neighbor Jaccard (plans.NodeSim): link-prediction /
    // merge-candidate scoring — node pairs ranked by shared-neighborhood
    // overlap, generated by ONE adjacency self-join on the shared
    // neighbor (never node×node). Graph: the undirected halving tree
    // over event user ids (siblings share their parent; parent/child
    // chains share the middle node). Integer ppm Jaccard.
    "q_node_jaccard" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val edges = t(dir, "events").filter($"user_id" > 0)
        .select($"user_id".as("src"), expr("user_id div 2").as("dst"))
      plans.NodeSim.jaccard(edges).orderBy("u", "v")
    },
    // Resource-Allocation link prediction (plans.NodeSim
    // .resourceAllocation, Zhou-Lü-Zhang 2009): shared neighbors weighted
    // 10^6 div deg(w) — hub-discounted common-neighbor scoring over the
    // same halving-tree graph, same single wedge self-join, integer ppm
    "q_link_ra" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val edges = t(dir, "events").filter($"user_id" > 0)
        .select($"user_id".as("src"), expr("user_id div 2").as("dst"))
      plans.NodeSim.resourceAllocation(edges).orderBy("u", "v")
    },
    // Token-distribution drift (TextAnalysis.tokenDrift): per-token
    // total-variation contribution between the English slice and the
    // rest — the new-crawl domain-shift monitor; one (slice, token)
    // hash agg, integer ppm
    "q_token_drift" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      operators.TextAnalysis.tokenDrift(t(dir, "documents"), $"text", $"lang" === "en")
        .orderBy("token")
    },
    // GNN-style neighbor aggregation (plans.NodeSim.aggregateNeighbors):
    // the aggregate-messages step of a graph feature pipeline — per node,
    // count/sum/min/max/div-mean of its neighbors' feature (here: the
    // neighbor's event count). One equi-join + one hash agg.
    "q_graph_agg" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ev = t(dir, "events").filter($"user_id" > 0)
      val edges = ev.select($"user_id".as("src"), expr("user_id div 2").as("dst"))
      val feats = ev.groupBy($"user_id".as("id")).agg(count(lit(1)).as("feat"))
      plans.NodeSim.aggregateNeighbors(edges, feats).orderBy("id")
    },
    // Blocked inverted index (Retrieval.invertedIndex): the materialized
    // posting-list layout keyword search serves from. Postings shard into
    // doc_id-div-128 blocks so no aggregation buffer holds more than 128
    // entries even for stopword terms; within a block ids are sorted
    // numerically (canonical, partitioning-invariant). The full index
    // STATE hash-matches the oracle.
    "q_inverted_index" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      operators.Retrieval.invertedIndex(
        t(dir, "documents"), $"doc_id", $"text", blockSize = 128)
        .orderBy("term", "blk")
    },
    // Conjunctive boolean retrieval (Retrieval.booleanAnd): docs
    // containing ALL of the 3 highest-df terms — posting-list
    // intersection computed as a broadcast term semi-join + distinct-term
    // count, never materializing a posting list.
    "q_bool_and" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val docs = t(dir, "documents")
      val tok = docs.select($"doc_id", explode(split($"text", " ")).as("term"))
      val top = tok.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
        .orderBy($"df".desc, $"term").limit(3).select("term")
      operators.Retrieval.booleanAnd(docs, $"doc_id", $"text", top)
        .orderBy("doc_id")
    },
    // Deterministic random-walk corpus (plans.RandomWalk): DeepWalk-style
    // truncated walks that turn a graph into skip-gram training data.
    // Every step draws its neighbor index from the 52-bit sha256 of
    // "walkId:step" over the node's sorted adjacency array — bit-identical
    // across partitionings and engines; the oracle replays all 3 draws.
    // Graph: the same two-overlay functional graph as q_scc (out-degree
    // ≤ 2, so both draw branches exercise).
    "q_random_walks" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ev = t(dir, "events")
      val g1 = ev.groupBy(($"user_id" % 101L).as("src"))
        .agg((min($"event_id") % 101L).as("dst"))
      val g2 = ev.groupBy(($"event_id" % 101L).as("src"))
        .agg((max($"user_id") % 101L).as("dst"))
      plans.RandomWalk.walks(g1.union(g2), len = 3, nWalks = 2)
        .orderBy("walk_id")
    },
    // Streaming exact windowed top-k ("top users per hour"): the
    // windowed keyed-count state is micro-batch invariant and ≡ the
    // batch groupBy (counts sum associatively); the partial-aggregable
    // TopKAgg ranks the final state — the shuffle carries ≤ k·|windows|
    // rows, never the count table.
    "q_stream_topk" -> { (s, dir) =>
      val counts = graft.streaming.StreamingPipeline
        .windowedKeyCounts(s, s"$dir/events.parquet")
      val name = "tk" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = counts.writeStream.format("memory").queryName(name).outputMode("complete").start()
      q.processAllAvailable(); q.stop()
      val tbl = s.table(name).select(col("w.start").as("ws"), col("k"), col("cnt"))
      graft.functions.TopKAgg.groupTopK(
          tbl.withColumn("wsl", unix_timestamp(col("ws"))),
          col("wsl"), col("cnt"), col("k"), 3)
        .select(to_timestamp(col("g")).as("ws"), col("rn"),
          col("id").as("user_id"), col("v").as("cnt"))
        .orderBy("ws", "rn")
    },
    // Skip-gram pairs from the walk corpus (RandomWalk.skipGramPairs):
    // the (center, context) training pairs DeepWalk feeds to word2vec —
    // in-row pair generation over each path (window 2), one hash agg.
    // The oracle re-runs the full walk replay and the pair expansion.
    "q_skipgram" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ev = t(dir, "events")
      val g1 = ev.groupBy(($"user_id" % 101L).as("src"))
        .agg((min($"event_id") % 101L).as("dst"))
      val g2 = ev.groupBy(($"event_id" % 101L).as("src"))
        .agg((max($"user_id") % 101L).as("dst"))
      val w = plans.RandomWalk.walks(g1.union(g2), len = 3, nWalks = 2)
      plans.RandomWalk.skipGramPairs(w, window = 2)
        .orderBy("center", "context")
    },
    // PMI-lift collocations (TextAnalysis.collocations): adjacent word
    // pairs co-occurring above chance — lift_ppm = c_ab·N·10^6 div
    // (c_a·c_b) in exact DECIMAL(38,0) (PMI's ratio form; log-free, so
    // cross-engine exact). minCount 5 prunes the pair table before the
    // unigram joins.
    "q_collocations" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      operators.TextAnalysis.collocations(
        t(dir, "documents"), $"text", minCount = 5L)
        .orderBy("a", "b")
    },
    // Graph condensation (plans.Scc.condense): collapse every SCC to
    // one node and keep distinct between-component edges — the acyclic
    // quotient DAG that makes cyclic link structure safe for DAG-only
    // passes. Same two-overlay graph as q_scc; the oracle extends the
    // same recursive-CTE SCC replay with the edge projection.
    "q_condensation" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ev = t(dir, "events")
      val g1 = ev.groupBy(($"user_id" % 101L).as("src"))
        .agg((min($"event_id") % 101L).as("dst"))
      val g2 = ev.groupBy(($"event_id" % 101L).as("src"))
        .agg((max($"user_id") % 101L).as("dst"))
      plans.Scc.condense(g1.union(g2)).orderBy("src_scc", "dst_scc")
    },
    // ordered funnel (view → click → purchase): each step's per-user
    // time is the EARLIEST completion strictly after the previous
    // step's — one min-agg + one frontier join per step, no per-user
    // event arrays (operators.Funnel)
    "q_funnel" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      operators.Funnel.funnel(t(dir, "events"),
          $"user_id", $"event_type", $"ts".cast("timestamp").cast("long"),
          Seq("view", "click", "purchase"))
        .orderBy("step_idx")
    },
    // exponentially time-decayed counts per key (trending score),
    // half-life 1 day vs the table's max event time; weights are
    // 2^(scaleBits - floor(age/halfLife)) BIGINTs — integer-exact
    // cross-engine, one partial-aggregable hash agg
    "q_decay" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      operators.Profiling.timeDecayCount(t(dir, "events"),
          $"event_type", $"ts", halfLifeSec = 86400L, scaleBits = 32)
        .withColumnRenamed("key", "event_type").orderBy("event_type")
    },
    // k-truss (k=4: every surviving edge in ≥2 triangles of the
    // surviving subgraph): support peeling with degree-ordered triangle
    // enumeration — the oracle unrolls the identical rounds
    "q_ktruss" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ev = t(dir, "events")
      val edges = ev.select(($"event_id" % 30L).as("a"),
          (($"event_id" * 7L + $"user_id") % 30L).as("b"))
        .where($"a" =!= $"b").distinct()
      plans.KTruss.run(edges, k = 4, rounds = 3).orderBy("u", "v")
    },
    // Newman modularity of a community assignment, integer-exact scaled
    // by 4m² (contrib = 4·m·L_c − D_c² per community; Σ contrib = Q·4m²)
    "q_modularity" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ev = t(dir, "events")
      val edges = ev.select($"user_id".as("a"), (($"user_id" * 31L + 7L) % 150L).as("b"))
        .where($"a" =!= $"b").distinct()
      val nodes = edges.select($"a".as("id")).union(edges.select($"b".as("id"))).distinct()
      val comms = nodes.select($"id", ($"id" % 5L).as("comm"))
      plans.Modularity.scaled(edges, comms).orderBy("comm")
    },
    // BPE inference half: learn 3 merges (the q_bpe_learn path), replay
    // them in learned order on the corpus, report the merged-token
    // histogram — the oracle replays the identical rounds and aggregates
    // the final token table
    "q_bpe_apply" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val docs = t(dir, "documents")
      val merges = operators.Bpe.learnBpe(docs, $"doc_id", $"text", rounds = 3)
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      operators.Bpe.applyMerges(docs, $"doc_id", $"text", merges)
        .groupBy($"token").agg(count(lit(1)).as("cnt"))
        .orderBy("token")
    },
    // C4 line-level cleaning (WebCleaning.c4Clean): documents get a
    // deterministic multi-line form (5-word lines; every line except
    // (doc_id+i)%3==0 ends with '.'), then the Raffel et al. §2.2 line
    // rule (terminal punctuation + >=3 words) and document rule
    // (>=2 surviving lines). Zero-shuffle in-row HOFs; the oracle
    // rebuilds the identical lines with a DuckDB list comprehension.
    "q_c4_clean" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val docs = t(dir, "documents")
      operators.WebCleaning.c4Clean(
          docs.withColumn("mltext", synthLines($"doc_id", $"text")),
          $"mltext", 3, 2, $"doc_id")
        .orderBy("doc_id")
    },
    // Gopher document-quality rules (WebCleaning.gopher) over the same
    // synthesized lines with the FIRST line duplicated (so the
    // duplicate-line fractions are exercised); thresholds per Rae et
    // al. table A1, word bounds tuned to the corpus
    "q_gopher" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val docs = t(dir, "documents")
      val withDup = docs.withColumn("lines0", synthLineArr($"doc_id", $"text"))
        .withColumn("mltext",
          array_join(concat($"lines0", slice($"lines0", 1, 1)), "\n"))
      operators.WebCleaning.gopher(withDup, $"mltext", 20L, 100L, $"doc_id")
        .orderBy("doc_id")
    },
    // URL canonicalization (Urls.normalize): deterministic synthetic
    // URLs over events (mixed-case scheme/host, default + explicit
    // ports, tracking params, fragments, empty paths) — per-row regex
    // built-ins, zero shuffle
    "q_url_normalize" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      operators.Urls.normalize(
          t(dir, "events").withColumn("url", synthUrl($"event_id", $"user_id")),
          $"url", $"event_id")
        .orderBy("event_id")
    },
    // per-domain crawl profile: distinct normalized URLs + row mass per
    // registered domain — two partial-aggregable hash aggs over the
    // normalized key (Urls.domainProfile)
    "q_domain_profile" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      operators.Urls.domainProfile(
          t(dir, "events").withColumn("url", synthUrl($"event_id", $"user_id")),
          $"url")
        .orderBy("domain")
    },
    // word2vec negative-sampling table (NegSampling.table): unigram^0.75
    // weights (floor(c/sqrt(sqrt(c))) — IEEE-correctly-rounded ops only,
    // no libm pow), cumulative vocab line, 1000 sha256-positioned draws
    // resolved with the bucketed range join (never a BNLJ)
    "q_neg_samples" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      operators.NegSampling.table(t(dir, "documents"), $"text", nDraws = 1000L)
        .orderBy("draw_id")
    },
    // topological layering of a DAG (plans.TopoLayers): longest path
    // from any source, Bellman-Ford-shaped relaxation rounds; the DAG is
    // strictly-increasing event edges (steps of 4..10) so acyclicity
    // holds by construction and the longest path — and therefore the
    // round count — stays ~15 (the fixture should measure per-round
    // shuffle cost, not driver round scheduling; the operator itself is
    // O(depth) by contract); oracle = recursive CTE over (node, depth)
    "q_topo_layers" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ev = t(dir, "events")
      val edges = ev.select(($"event_id" % 60L).as("src"),
          (($"event_id" % 60L) + 4L + ($"user_id" % 7L)).as("dst"))
        .where($"dst" < 60L).distinct()
      plans.TopoLayers.run(edges).orderBy("id")
    },
    // time-respecting earliest-arrival reachability (plans.TemporalReach):
    // 3 hops from seed nodes 0..4 over a temporal event graph; each hop's
    // edge must fire no earlier than the arrival at its source — the
    // oracle unrolls the identical min-relaxation rounds
    "q_temporal_reach" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ev = t(dir, "events")
      val edges = ev.select(($"user_id" % 80L).as("src"),
          (($"user_id" * 7L + $"event_id") % 80L).as("dst"),
          $"ts".cast("timestamp").cast("long").as("ts"))
        .where($"src" =!= $"dst")
      val seeds = s.range(5).toDF("id")
      plans.TemporalReach.run(edges, seeds, maxHops = 3).orderBy("id")
    },
    // bipartite projection with hub cap (Cooccur.itemPairs): item-item
    // co-occurrence over (user, item=event_id%30) with users above 25
    // distinct items excluded (the contractual hub cap) and integer
    // cosine² in parts-per-thousand
    "q_item_pairs" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      operators.Cooccur.itemPairs(t(dir, "events"),
          $"user_id", $"event_id" % 30L, minSupport = 2L, maxDegree = 25L)
        .orderBy("a", "b")
    },
    // first-order Markov transition table (Cooccur.transitions): adjacent
    // event_type pairs per user in (ts, event_id) order, row-normalized
    // in exact ppm
    "q_transitions" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      operators.Cooccur.transitions(t(dir, "events"),
          $"user_id", $"event_type", $"ts", $"event_id")
        .orderBy("state", "next_state")
    },
    // HITS hubs/authorities (plans.Hits), 2 rounds in fixed-point ppm of
    // the L1 mass (integer renormalization each half-step — the oracle
    // unrolls the identical rounds; PageRank's bit-exact convention)
    "q_hits" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ev = t(dir, "events")
      val edges = ev.select(($"user_id" % 90L).as("src"),
          (($"user_id" * 11L + $"event_id") % 90L).as("dst"))
        .where($"src" =!= $"dst")
      plans.Hits.run(edges, iters = 2).orderBy("id")
    },
    // TransE-style corrupted negatives with the "filtered" collision
    // flags (KgTrain.corruptedNegatives): deterministic sha256 head/tail
    // replacement over a triple table derived from events; collisions
    // with true triples are marked, not silently trained on
    "q_kg_negatives" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val triples = t(dir, "events").select(($"user_id" % 100L).as("h"),
        $"event_type".as("r"), ($"event_id" % 100L).as("t"))
      operators.KgTrain.corruptedNegatives(triples, $"h", $"r", $"t", nEntities = 100L)
        .orderBy("h", "r", "t")
    },
    // one synchronous Louvain local-move round (plans.Louvain) over the
    // q_modularity fixture graph from 5 seed communities — the argmax is
    // a partial-aggregable min(struct), no window; the oracle replays
    // the integer gain ordering verbatim
    "q_louvain_move" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ev = t(dir, "events")
      val edges = ev.select($"user_id".as("a"), (($"user_id" * 31L + 7L) % 150L).as("b"))
        .where($"a" =!= $"b").distinct()
      val nodes = edges.select($"a".as("id")).union(edges.select($"b".as("id"))).distinct()
      val comms = nodes.select($"id", ($"id" % 5L).as("comm"))
      plans.Louvain.localMoveRound(edges, comms).orderBy("id")
    },
    // WEIGHTED Louvain local-move round (plans.Louvain
    // .localMoveRoundWeighted) over a multigraph WITH self-loops —
    // the exact input shape phase-2 coarsening produces; parallel edges
    // merge by weight sum, loop weight counts 2× in degree, candidate
    // gains replayed integer-exactly by the oracle
    "q_louvain_weighted" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ev = t(dir, "events")
      val edges = ev.select(($"user_id" % 60L).as("a"),
        (($"user_id" * 13L + $"event_id") % 60L).as("b"),
        ($"event_id" % 5L + 1L).as("w"))
      val nodes = edges.select($"a".as("id")).union(edges.select($"b".as("id"))).distinct()
      val comms = nodes.select($"id", ($"id" % 5L).as("comm"))
      plans.Louvain.localMoveRoundWeighted(edges, comms).orderBy("id")
    },
    // Louvain phase-2 coarsening (plans.Louvain.coarsen): apply the
    // weighted round's moves, then collapse communities to super-nodes —
    // inter-community weight sums onto super-edges, intra-community
    // (incl. original loops) onto the super-node self-loop
    "q_louvain_coarsen" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ev = t(dir, "events")
      val edges = ev.select(($"user_id" % 60L).as("a"),
        (($"user_id" * 13L + $"event_id") % 60L).as("b"),
        ($"event_id" % 5L + 1L).as("w"))
      val nodes = edges.select($"a".as("id")).union(edges.select($"b".as("id"))).distinct()
      val comms = nodes.select($"id", ($"id" % 5L).as("comm"))
      val moved = plans.Louvain.localMoveRoundWeighted(edges, comms)
        .select($"id", $"new_comm".as("comm"))
      plans.Louvain.coarsen(edges, moved).orderBy("cu", "cv")
    },
    // One Luby MIS round (plans.Mis.round): strict local (sha52, id)
    // minima join the independent set, their neighborhoods retire —
    // the distributed symmetry-breaking primitive; min(struct) per
    // node, no window. Oracle replays priorities and statuses verbatim.
    "q_mis_round" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ev = t(dir, "events")
      val edges = ev.select(($"user_id" % 80L).as("a"),
          (($"user_id" * 17L + $"event_id") % 80L).as("b"))
        .where($"a" =!= $"b")
      val nodes = edges.select($"a".as("id")).union(edges.select($"b".as("id"))).distinct()
      plans.Mis.round(edges, nodes, 0).orderBy("id")
    },
    // GraphSAGE k-hop neighborhood sampling (plans.KhopSample): per hop,
    // each frontier node keeps the fanout neighbors with the largest
    // sha52("src:dst") via the partial-aggregable TopKAgg (no window on
    // the data path; the oracle replays the rank with a window)
    "q_khop_sample" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ev = t(dir, "events")
      val edges = ev.select(($"user_id" % 60L).as("src"),
        (($"user_id" * 7L + $"event_id") % 60L).as("dst"))
      val seeds = Seq(0L, 1L, 2L, 3L, 4L).toDF("id")
      plans.KhopSample.sample(edges, seeds, Seq(3, 2)).orderBy("hop", "src", "rn")
    },
    // Source-sampled Brandes betweenness (plans.Betweenness.approx):
    // BFS sigma counts + integer-ppm dependency accumulation from 5
    // sampled sources over a 3-layer DAG (depth exactly 2, so the
    // oracle unrolls both the forward and backward passes verbatim)
    "q_betweenness" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ev = t(dir, "events")
      val e01 = ev.select(($"user_id" % 20L).as("src"),
        (lit(20L) + ($"user_id" * 7L + $"event_id") % 20L).as("dst"))
      val e12 = ev.select((lit(20L) + $"user_id" % 20L).as("src"),
        (lit(40L) + ($"user_id" * 11L + $"event_id") % 20L).as("dst"))
      val sources = Seq(0L, 1L, 2L, 3L, 4L).toDF("s")
      plans.Betweenness.approx(e01.union(e12), sources, maxDepth = 3).orderBy("id")
    },
    // Per-node local clustering coefficient (Triangles.clusteringCoeff):
    // degree-ordered triangle corners exploded + one partial-agg count;
    // cc_ppm = 2·tri·1e6 div (deg·(deg−1)) — per-document cluster
    // coherence on a near-dup-style graph
    "q_clustering_coeff" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      val ev = t(dir, "events")
      val edges = ev.select(($"user_id" % 70L).as("a"),
        (($"user_id" * 13L + $"event_id") % 70L).as("b"))
      plans.Triangles.clusteringCoeff(edges).orderBy("node")
    },
    // EXACT set-similarity join (SetSim.setSimJoin, prefix filtering):
    // every doc pair with token-set Jaccard >= 0.5, no false negatives —
    // the exact audit of the MinHash-LSH recall path; candidates only
    // from shared RAREST-prefix tokens, never all-pairs
    "q_setsim_join" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      // localCheckpoint before the presentation sort: orderBy's range-
      // partitioning SAMPLING pass otherwise re-executes the whole
      // verify subtree (distinct → joins → array_intersect — measured
      // 377 task-seconds of pure recompute at sf0.1); the checkpoint
      // materializes the result once and the sort samples the
      // materialized rows (guide §3.3 / §5: truncate an expensive
      // subtree that is consumed twice). Result rows unchanged.
      operators.SetSim.setSimJoin(t(dir, "documents"), $"doc_id", $"text", 500000L)
        .localCheckpoint()
        .orderBy("u", "v")
    },
    // Tokenizer vocabulary coverage (TextAnalysis.vocabCoverage): OOV
    // occurrence rate per doc against the corpus's 20 most frequent
    // tokens (deterministic tie-break) — the post-BPE coverage eval
    "q_vocab_coverage" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      operators.TextAnalysis.vocabCoverage(
        t(dir, "documents"), $"doc_id", $"text", vocabSize = 20)
        .orderBy("doc_id")
    },
    // Per-language winsorization (Quantiles.winsorize): heavy-tail
    // clipping to exact [p05, p95] via the distributed-selection
    // quantiles; broadcast cutpoint join, fact table never sorted
    "q_winsorize" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      operators.Quantiles.winsorize(t(dir, "documents"), $"lang", $"n_chars")
        .orderBy("g", "v")
    },
    // Robust MAD outlier flags per language (Quantiles.madOutliers):
    // median + median-absolute-deviation via the distributed-selection
    // quantiles (fact table never sorted), 3-MAD rule in integer ppm
    "q_mad_outliers" -> { (s, dir) => implicit val sp = s; import sp.implicits._
      operators.Quantiles.madOutliers(t(dir, "documents"), $"lang", $"n_chars")
        .orderBy("g", "v")
    }
  )

  /** Deterministic multi-line form of a one-line word document, shared
    * by the web-cleaning queries and their DuckDB oracles: 5-word
    * chunks; chunk i ends with '.' unless (doc_id + i) % 3 == 0. */
  private def synthLineArr(docId: Column, text: Column): Column = {
    val ws = split(text, " ")
    val nl = floor((size(ws) + lit(4)).cast("double") / 5.0).cast("long")
    transform(sequence(lit(0L), nl - 1L), i =>
      concat(array_join(slice(ws, (i * 5L + 1L).cast("int"), lit(5)), " "),
        when((docId + i) % 3L === 0L, lit("")).otherwise(lit("."))))
  }
  private def synthLines(docId: Column, text: Column): Column =
    array_join(synthLineArr(docId, text), "\n")

  /** Deterministic synthetic URL corpus over events, shared with the
    * oracle SQL (mixed-case scheme/host, default + explicit ports,
    * utm/gclid tracking params, fragments, empty paths). */
  private def synthUrl(eventId: Column, userId: Column): Column = concat(
    when(eventId % 2L === 0L, lit("HTTPS")).otherwise(lit("HTTP")), lit("://"),
    lit("WWW.Example"), (userId % 20L).cast("string"), lit(".COM"),
    when(eventId % 3L === 0L, lit(":443"))
      .when(eventId % 3L === 1L, lit(":8080")).otherwise(lit("")),
    when(eventId % 7L === 0L, lit(""))
      .otherwise(concat(lit("/Path/"), (eventId % 50L).cast("string"))),
    when(eventId % 4L === 0L,
        concat(lit("?utm_source=news&q="), (userId % 5L).cast("string"), lit("&gclid=g1")))
      .when(eventId % 4L === 1L, concat(lit("?q="), (userId % 5L).cast("string")))
      .when(eventId % 4L === 2L, lit("?utm_campaign=x"))
      .otherwise(lit("")),
    when(eventId % 5L === 0L, lit("#Frag")).otherwise(lit("")))

  /** scale the synthetic KG corpus with the sf directory */
  private def corpusSizeFor(dir: String): Long =
    if (dir.contains("0.001")) 2000L else if (dir.contains("0.01")) 20000L else 200000L

  /** Pinned entity-linking fixture shared verbatim by the Spark query and
    * the DuckDB oracle: (surface, candidate entity, scaled prior).
    * Ambiguous surfaces ("turing", "hopper") are split across senses;
    * context classes decide (Q5 humans vs awards/craters). */
  /** deterministic stand-in classifier weights (D=64 hash buckets),
    * shared verbatim with the q_quality_classifier oracle formula */
  private val qualityWeights: Array[Long] =
    Array.tabulate(64)(j => ((j * 37) % 21 - 10).toLong)

  private val elDict: Seq[(String, String, Long)] = Seq(
    ("alan turing", "Q7251", 2000L),
    ("turing", "Q7251", 1000L),
    ("turing", "Q163992", 1000L),
    ("grace hopper", "Q11641", 2000L),
    ("hopper", "Q11641", 800L),
    ("hopper", "Q1140419", 800L),
    ("turing award", "Q185667", 2000L),
    ("compiler", "Q47506", 1500L),
    ("enigma", "Q160925", 1500L))

  /** entity → P31-style class for the context-support scoring */
  private val elClasses: Seq[(String, String)] = Seq(
    ("Q7251", "Q5"), ("Q11641", "Q5"),
    ("Q163992", "Q618779"), ("Q185667", "Q618779"),
    ("Q1140419", "Q55818"), ("Q47506", "Q7397"), ("Q160925", "Q39546"))

  private val elSurfaces: Seq[String] = elDict.map(_._1).distinct.sorted

  /** pinned stopword list shared verbatim with the DuckDB oracle */
  private val stopwords: Seq[String] = Seq(
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from", "in",
    "is", "it", "of", "on", "or", "that", "the", "to", "with")

  // ----------------------------------------------------------------------

  /** Shared CTE chain for the multi-query BM25 oracle, ending at `rk`
    * (query_id, doc_id, score_ppm, rn) — reused verbatim by q_bm25_multi
    * and as list A of the q_rrf hybrid fusion oracle. */
  private val bm25MultiRankedCte: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |           WHERE len(string_split(text, ' ')) >= 2),
      |tok AS (SELECT doc_id, w[i] || '_' || w[i + 1] AS term
      |        FROM d, UNNEST(range(1, len(w))) AS u(i)),
      |nd AS (SELECT COUNT(*) AS n_all FROM d),
      |dfall AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
      |q0 AS (SELECT term, ROW_NUMBER() OVER (ORDER BY df DESC, term) AS r
      |       FROM dfall, nd WHERE df * 20 >= n_all AND df * 2 <= n_all
      |       ORDER BY df DESC, term LIMIT 9),
      |qt AS (SELECT CAST((r - 1) % 3 AS BIGINT) AS query_id, term FROM q0),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
      |st AS (SELECT COUNT(*) AS n_docs,
      |       (CAST(SUM(dl) AS BIGINT) * 1000000) // COUNT(*) AS avgdl_ppm FROM dl),
      |m AS (SELECT doc_id, term FROM tok JOIN (SELECT DISTINCT term FROM qt) USING (term)),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM m GROUP BY 1, 2),
      |dft AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM m GROUP BY term),
      |sc AS (SELECT tf.doc_id, tf.term, tf.tf, dft.df, dl.dl, st.n_docs, st.avgdl_ppm
      |       FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
      |x AS (SELECT doc_id, term,
      |  (CASE WHEN (2 * n_docs - 2 * df + 1) // (2 * df + 1) <= 0 THEN 0
      |        ELSE length(to_base((2 * n_docs - 2 * df + 1) // (2 * df + 1), 2)) END) *
      |  ((tf * 2200000 * 1000000) //
      |    (tf * 1000000 + (1200 * (250000 +
      |      (750 * ((dl * 1000000000000) // avgdl_ppm)) // 1000)) // 1000)) AS contrib_ppm
      |  FROM sc),
      |agg AS (SELECT query_id, doc_id, CAST(SUM(contrib_ppm) AS BIGINT) AS score_ppm
      |        FROM x JOIN qt USING (term) GROUP BY 1, 2),
      |rk AS (SELECT query_id, doc_id, score_ppm,
      |       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |            ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS rn FROM agg)""".stripMargin

  /** Shared CTE chain replaying q_random_walks' deterministic walks,
    * ending at `w3` (walk_id, start, cur, path, steps) — reused by
    * q_random_walks and q_skipgram. One step = LEFT JOIN the adjacency
    * on the current node, then either advance by the sha256 draw or
    * stay frozen at a dead end (dead ends are self-sustaining, no flag
    * needed); h = 52-bit slice of sha256("walkId:step"). */
  private val randomWalkCte: String = {
    def step(prev: String, s: Int): String =
      s"""j$s AS (SELECT p.walk_id, p.start, p.cur AS prev, p.path, p.steps,
         |  a.nbrs, CAST('0x' || substr(sha256(CAST(p.walk_id AS VARCHAR) || ':$s'), 1, 13) AS BIGINT) AS h
         |  FROM $prev p LEFT JOIN adj a ON p.cur = a.src),
         |w$s AS (SELECT walk_id, start,
         |  CASE WHEN nbrs IS NULL THEN prev
         |       ELSE nbrs[CAST(h % len(nbrs) AS INT) + 1] END AS cur,
         |  CASE WHEN nbrs IS NULL THEN path ELSE path || '|' ||
         |       CAST(nbrs[CAST(h % len(nbrs) AS INT) + 1] AS VARCHAR) END AS path,
         |  CASE WHEN nbrs IS NULL THEN steps ELSE steps + 1 END AS steps
         |  FROM j$s)""".stripMargin
    """WITH g1 AS (SELECT user_id % 101 AS src, MIN(event_id) % 101 AS dst
      |            FROM events GROUP BY 1),
      |g2 AS (SELECT event_id % 101 AS src, MAX(user_id) % 101 AS dst
      |       FROM events GROUP BY 1),
      |e AS (SELECT DISTINCT src, dst FROM
      |      (SELECT * FROM g1 UNION ALL SELECT * FROM g2)),
      |adj AS (SELECT src, list(dst ORDER BY dst) AS nbrs FROM e GROUP BY src),
      |w0 AS (SELECT src * 2 + q.w AS walk_id, src AS start, src AS cur,
      |         CAST(src AS VARCHAR) AS path, CAST(0 AS BIGINT) AS steps
      |       FROM adj, (SELECT UNNEST([0, 1]) AS w) q),
      |""".stripMargin +
      step("w0", 1) + ",\n" + step("w1", 2) + ",\n" + step("w2", 3)
  }

  /** Shared recursive-CTE SCC-assignment replay (the independent O(n²)
    * reachability-closure algorithm — oracle-affordable only), ending at
    * `scc` (id, scc_id); `raw` carries the input edges. Reused by q_scc
    * and q_condensation. */
  private val sccAssignCte: String =
    """WITH RECURSIVE
      |g1 AS (SELECT user_id % 101 AS src, MIN(event_id) % 101 AS dst FROM events GROUP BY 1),
      |g2 AS (SELECT event_id % 101 AS src, MAX(user_id) % 101 AS dst FROM events GROUP BY 1),
      |raw AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2),
      |e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
      |nodes AS (SELECT src AS id FROM raw UNION SELECT dst FROM raw),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM e
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
      |mutual AS (
      |  SELECT r1.src AS id, r1.dst AS other FROM reach r1
      |  JOIN reach r2 ON r1.src = r2.dst AND r1.dst = r2.src),
      |scc AS (
      |  SELECT n.id, CAST(GREATEST(n.id, COALESCE(MAX(m.other), n.id)) AS BIGINT) AS scc_id
      |  FROM nodes n LEFT JOIN mutual m ON n.id = m.id
      |  GROUP BY n.id)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(5,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_join_multi" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q_left_outer" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total
        |FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q_semi_exists" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "q_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_topk" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "q_bestrank_window" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM (
        |  SELECT l_orderkey, l_linenumber, l_quantity,
        |         MAX(l_quantity) OVER (PARTITION BY l_orderkey) AS max_qty
        |  FROM lineitem) WHERE l_quantity = max_qty
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus, l_shipdate FROM lineitem
        |ORDER BY l_returnflag, l_linestatus, l_shipdate""".stripMargin,
    "q_union_keys" ->
      """SELECT DISTINCT key FROM (
        |  SELECT CAST(c_nationkey AS INTEGER) AS key FROM customer
        |  UNION ALL SELECT CAST(s_nationkey AS INTEGER) AS key FROM supplier)
        |ORDER BY key""".stripMargin,
    "q_sample_mod" ->
      """SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 100 < 37
        |ORDER BY o_orderkey""".stripMargin,
    "q_event_counters" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_time_window" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "q_keyset_page" ->
      """SELECT event_id, event_type FROM events WHERE event_id > 500
        |ORDER BY event_id LIMIT 100""".stripMargin,
    "q_minmax" ->
      """SELECT MIN(o_orderkey) AS min_id, MAX(o_orderkey) AS max_id, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
        |FROM orders""".stripMargin,
    "q_sha256_lineage" ->
      "SELECT doc_id, sha256(text) AS sha FROM documents ORDER BY doc_id",
    "q_tokens" ->
      "SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens FROM documents ORDER BY doc_id",
    "q_tokens_bpe" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INTEGER)
        |    AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_stopword_ratio" -> {
      val stops = stopwords.map(s => s"'$s'").mkString("[", ",", "]")
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
         |  CAST(len(list_filter(string_split(text, ' '),
         |    w -> list_contains($stops, w))) AS INTEGER) AS n_stopwords
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "q_text_quality" ->
      """SELECT doc_id,
        |  CAST(length(text) AS INTEGER) AS n_chars,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct_words,
        |  CAST(list_max(list_transform(string_split(text, ' '), w -> length(w))) AS INTEGER) AS max_word_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_exact_dedup" ->
      """SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY canonical_id""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id,
        |  sha256(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "kg_multiplex_examples" ->
      """SELECT * FROM (VALUES ('english-labels','ok'),('humans','ok'),('nothing','ok'),('politicians','ok'))
        |AS t(spec_id, status) ORDER BY spec_id""".stripMargin,
    "kg_humans_realjson" -> "SELECT 'ok' AS status",
    "kg_cc_components" ->
      """WITH RECURSIVE edges AS (
        |  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS a, 't' || event_type AS b FROM events),
        |und AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
        |reach(src, dst) AS (
        |  SELECT a, b FROM und
        |  UNION
        |  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a)
        |SELECT src AS node, LEAST(MIN(dst), src) AS component FROM reach GROUP BY src ORDER BY node""".stripMargin,
    "q_minhash_rank" ->
      (rankTokenCte +
        """SELECT doc_id,
          |  MIN((3*token_id+1) % 1000003) AS mh0,
          |  MIN((5*token_id+8) % 1000003) AS mh1,
          |  MIN((7*token_id+15) % 1000003) AS mh2,
          |  MIN((9*token_id+22) % 1000003) AS mh3
          |FROM tt GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "q_minhash_pairs" ->
      (rankTokenCte +
        """,sig AS (SELECT doc_id,
          |  MIN((3*token_id+1) % 1000003) AS mh0, MIN((5*token_id+8) % 1000003) AS mh1,
          |  MIN((7*token_id+15) % 1000003) AS mh2, MIN((9*token_id+22) % 1000003) AS mh3
          |  FROM tt GROUP BY doc_id),
          |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM sig a JOIN sig b
          |  ON a.doc_id < b.doc_id AND
          |     ((a.mh0 = b.mh0 AND a.mh1 = b.mh1) OR (a.mh2 = b.mh2 AND a.mh3 = b.mh3))),
          |sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM tt GROUP BY doc_id),
          |i AS (SELECT c.id_a, c.id_b, COUNT(*) AS inter FROM cand c
          |  JOIN tt ta ON ta.doc_id = c.id_a
          |  JOIN tt tb ON tb.doc_id = c.id_b AND ta.token_id = tb.token_id
          |  GROUP BY c.id_a, c.id_b)
          |SELECT i.id_a, i.id_b, i.inter, sa.n_tok AS n_a, sb.n_tok AS n_b
          |FROM i JOIN sizes sa ON sa.doc_id = i.id_a JOIN sizes sb ON sb.doc_id = i.id_b
          |WHERE 100*i.inter >= 60*(sa.n_tok + sb.n_tok - i.inter)
          |ORDER BY id_a, id_b""".stripMargin),
    "q_minhash_poly" -> minhashPolyOracleSql(8),
    // mirror of Sampling.stratified with the poly-hash rank: the salted
    // first stage is a pure optimization (keeps a superset of the final
    // top-n), so the oracle needs only the exact per-stratum window
    "q_stratified_sample" -> {
      val p = graft.operators.Dedup.minhashBigPrime
      s"""WITH h AS (SELECT doc_id, lang,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, length(CAST(doc_id AS VARCHAR))+1),
         |        i -> CAST(ord(substr(CAST(doc_id AS VARCHAR), CAST(i AS INT), 1)) AS BIGINT))),
         |    (h, c) -> (h*31 + c) % $p) AS hh
         |  FROM documents),
         |r AS (SELECT doc_id, lang,
         |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hh, doc_id) AS rn FROM h)
         |SELECT doc_id, lang FROM r WHERE rn <= 7 ORDER BY lang, doc_id""".stripMargin
    },
    // mirror of Sampling.byRate: same poly hash, same ppm thresholds
    "q_mixture_sample" -> {
      val p = graft.operators.Dedup.minhashBigPrime
      s"""WITH h AS (SELECT doc_id, lang,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, length(CAST(doc_id AS VARCHAR))+1),
         |        i -> CAST(ord(substr(CAST(doc_id AS VARCHAR), CAST(i AS INT), 1)) AS BIGINT))),
         |    (h, c) -> (h*31 + c) % $p) AS hh
         |  FROM documents)
         |SELECT doc_id, lang FROM h
         |WHERE hh % 1000000 <
         |  CASE lang WHEN 'de' THEN 250000 WHEN 'en' THEN 500000 ELSE 100000 END
         |ORDER BY doc_id""".stripMargin
    },
    // mirror of Incremental.diff over the same simulated v2
    "q_incremental_diff" ->
      """WITH v1 AS (SELECT CAST(doc_id AS VARCHAR) AS src, sha256(text) AS src_sha
        |  FROM documents),
        |v2 AS (SELECT CAST(doc_id AS VARCHAR) AS src,
        |  sha256(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END) AS src_sha
        |  FROM documents WHERE doc_id % 17 <> 0)
        |SELECT src, 'recompute' AS action FROM v2
        |WHERE NOT EXISTS (SELECT 1 FROM v1
        |  WHERE v1.src = v2.src AND v1.src_sha = v2.src_sha)
        |UNION ALL
        |SELECT src, 'removed' AS action FROM v1
        |WHERE NOT EXISTS (SELECT 1 FROM v2 WHERE v2.src = v1.src)
        |ORDER BY src, action""".stripMargin,
    "q_simhash" -> simhashOracleSql,
    "q_simhash_pairs" -> simhashPairsOracleSql,
    "kg_entity_linking" -> entityLinkingOracleSql,
    "q_jaccard_pairs" ->
      """WITH tok AS (SELECT DISTINCT doc_id, source, token FROM
        |  (SELECT doc_id, source, unnest(string_split(text, ' ')) AS token FROM documents)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM tok GROUP BY doc_id),
        |i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM tok a JOIN tok b ON a.source = b.source AND a.token = b.token AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i.id_a, i.id_b, i.inter, sa.n_tok AS n_a, sb.n_tok AS n_b
        |FROM i JOIN sizes sa ON sa.doc_id = i.id_a JOIN sizes sb ON sb.doc_id = i.id_b
        |WHERE 100*i.inter >= 50*(sa.n_tok + sb.n_tok - i.inter)
        |ORDER BY id_a, id_b""".stripMargin,
    "q_langid" -> langidOracleSql,
    "q_ann_dot" ->
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 = 0),
        |pairs AS (
        |  SELECT q.vec_id AS qid, e.vec_id AS nid,
        |    (SELECT CAST(SUM(CAST(ROUND(CAST(z.x AS DOUBLE)*1000) AS BIGINT) *
        |                     CAST(ROUND(CAST(z.y AS DOUBLE)*1000) AS BIGINT)) AS BIGINT)
        |     FROM (SELECT UNNEST(q.embedding) AS x, UNNEST(e.embedding) AS y) z) AS dot
        |  FROM q, embeddings e WHERE e.vec_id <> q.vec_id)
        |SELECT qid, nid, dot FROM (
        |  SELECT qid, nid, dot, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rn
        |  FROM pairs) WHERE rn = 1 ORDER BY qid""".stripMargin,
    "q_ann_lsh" ->
      ("""WITH b AS (SELECT vec_id, embedding, """ + signBucketSql(4) + """ AS bucket FROM embeddings),
        |q AS (SELECT * FROM b WHERE vec_id % 100 = 0),
        |pairs AS (
        |  SELECT q.vec_id AS qid, e.vec_id AS nid,
        |    (SELECT CAST(SUM(CAST(ROUND(CAST(z.x AS DOUBLE)*1000) AS BIGINT) *
        |                     CAST(ROUND(CAST(z.y AS DOUBLE)*1000) AS BIGINT)) AS BIGINT)
        |     FROM (SELECT UNNEST(q.embedding) AS x, UNNEST(e.embedding) AS y) z) AS dot
        |  FROM q JOIN b e ON e.bucket = q.bucket AND e.vec_id <> q.vec_id)
        |SELECT qid, nid, dot FROM (
        |  SELECT qid, nid, dot, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rn
        |  FROM pairs) WHERE rn = 1 ORDER BY qid""").stripMargin,
    "q_ann_lsh_mp" -> {
      val masks = graft.operators.Similarity.probeMasks(4, 1)
        .map(m => s"($m)").mkString(",")
      s"""WITH b AS (SELECT vec_id, embedding, ${signBucketSql(4)} AS bucket FROM embeddings),
         |q0 AS (SELECT * FROM b WHERE vec_id % 100 = 0),
         |q AS (SELECT q0.vec_id, xor(q0.bucket, m.m) AS bucket
         |  FROM q0, (VALUES $masks) m(m)),
         |cand AS (SELECT DISTINCT q.vec_id AS qid, e.vec_id AS nid
         |  FROM q JOIN b e ON e.bucket = q.bucket AND e.vec_id <> q.vec_id),
         |pairs AS (
         |  SELECT c.qid, c.nid,
         |    (SELECT CAST(SUM(CAST(ROUND(CAST(z.x AS DOUBLE)*1000) AS BIGINT) *
         |                     CAST(ROUND(CAST(z.y AS DOUBLE)*1000) AS BIGINT)) AS BIGINT)
         |     FROM (SELECT UNNEST(qq.embedding) AS x, UNNEST(e.embedding) AS y) z) AS dot
         |  FROM cand c JOIN b qq ON qq.vec_id = c.qid JOIN b e ON e.vec_id = c.nid)
         |SELECT qid, nid, dot FROM (
         |  SELECT qid, nid, dot, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rn
         |  FROM pairs) WHERE rn = 1 ORDER BY qid""".stripMargin
    },
    "q_ann_ivf" -> ivfOracleSql(k = 8, iters = 3, nProbe = 2, topK = 1),
    "q_pq_topk" -> pqOracleSql(m = 4, subdim = 16, k = 8, iters = 2, topK = 5),
    "q_ann_ivfpq" -> ivfPqOracleSql(k = 8, ivfIters = 2, nProbe = 2,
      subdim = 16, pqIters = 2, topK = 3),
    // JL projection: replay the ±1 matrix from the sha256-parity rule
    // and re-derive each projected coordinate as a (pos = i) join-agg
    "q_random_projection" ->
      """WITH q AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qe
        |  FROM embeddings),
        |qv AS (SELECT vec_id, unnest(qe) AS v, unnest(range(len(qe))) AS pos FROM q),
        |signs AS (SELECT j, i,
        |    CASE WHEN CAST('0x' || substr(sha256(j || '_' || i), 1, 1) AS INT) % 2 = 0
        |         THEN 1 ELSE -1 END AS s
        |  FROM range(16) t(j), (SELECT DISTINCT pos AS i FROM qv) u)
        |SELECT vec_id, CAST(s.j AS BIGINT) AS j, CAST(SUM(s.s * q.v) AS BIGINT) AS p
        |FROM qv q JOIN signs s ON s.i = q.pos
        |GROUP BY 1, 2 ORDER BY vec_id, j""".stripMargin,
    // mirrors Multimodal.synthesize exactly: 12-byte big-endian header
    // (width, height, durationMs) + 64 body bytes (i*131 + j*17) % 251
    "q_mm_meta" ->
      """WITH m AS (SELECT doc_id AS i, 16 + doc_id%64 AS w, 16 + doc_id%48 AS h,
        |    1000 + doc_id%9000 AS d FROM documents),
        |bytes AS (SELECT i, w, h, d,
        |  list_concat([0,0,0,w, 0,0,0,h, 0,0, d//256, d%256],
        |    list_transform(range(64), j -> (i*131 + j*17) % 251)) AS bs FROM m)
        |SELECT i AS asset_id,
        |  CASE i%3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(d AS INTEGER) AS "durationMs", CAST(76 AS INTEGER) AS "sizeBytes",
        |  sha256(array_to_string(list_transform(bs, b -> printf('%02x', b)), '')) AS payload_hex_sha
        |FROM bytes ORDER BY asset_id""".stripMargin,
    // mirrors Multimodal.ImageCodec: PNG pixels are (i*131 + x*17 + y*29)%256
    // on the red channel; lossless PNG + real ImageIO decode ⇒ exact sums
    "q_mm_decode" ->
      """WITH m AS (SELECT doc_id AS i, 16 + doc_id%64 AS w, 16 + doc_id%48 AS h FROM documents)
        |SELECT i AS asset_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(list_sum(flatten(list_transform(range(w), x ->
        |    list_transform(range(h), y -> (i*131 + x*17 + y*29) % 256)))) AS BIGINT) AS red_sum
        |FROM m ORDER BY asset_id""".stripMargin,
    // the integer nearest-neighbor mapping src = dst*srcDim // 8 replayed in SQL
    "q_mm_resize" ->
      """WITH m AS (SELECT doc_id AS i, 16 + doc_id%64 AS w, 16 + doc_id%48 AS h FROM documents)
        |SELECT i AS asset_id, CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
        |  CAST(list_sum(flatten(list_transform(range(8), dx ->
        |    list_transform(range(8), dy ->
        |      (i*131 + ((dx*w)//8)*17 + ((dy*h)//8)*29) % 256)))) AS BIGINT) AS red_sum
        |FROM m ORDER BY asset_id""".stripMargin,
    // mirrors Multimodal.AudioCodec: 16-bit PCM samples ((i*7+t*13)%2003)-1001
    // at 8 kHz, 500 + i%300 samples — lossless WAV ⇒ exact sums
    "q_mm_audio" ->
      """WITH m AS (SELECT doc_id AS i, 500 + doc_id%300 AS n FROM documents)
        |SELECT i AS asset_id, CAST(8000 AS INTEGER) AS sample_rate,
        |  CAST(n AS INTEGER) AS n_samples, CAST(n*1000//8000 AS BIGINT) AS duration_ms,
        |  CAST(list_sum(list_transform(range(n), t ->
        |    abs((i*7 + t*13) % 2003 - 1001))) AS BIGINT) AS abs_sum
        |FROM m ORDER BY asset_id""".stripMargin,
    // mirrors Multimodal.FrameCodec: 3 + i%5 frames of (8+i%8)×(8+i%4)
    // gray (i*31+f*57+x*17+y*29)%256; every-2nd-frame sampling = range step 2
    "q_mm_frames" ->
      """WITH m AS (SELECT doc_id AS i, 3 + doc_id%5 AS nf, 8 + doc_id%8 AS w, 8 + doc_id%4 AS h
        |           FROM documents)
        |SELECT i AS asset_id, CAST(nf AS INTEGER) AS n_frames,
        |  CAST((nf + 1)//2 AS INTEGER) AS n_sampled,
        |  CAST(list_sum(list_transform(range(0, nf, 2), f ->
        |    list_sum(flatten(list_transform(range(w), x ->
        |      list_transform(range(h), y ->
        |        (i*31 + f*57 + x*17 + y*29) % 256)))))) AS BIGINT) AS gray_sum
        |FROM m ORDER BY asset_id""".stripMargin,
    // luma histogram replay: per pixel luma = (2r+5g+b)//8 from the
    // rgb(i,x,y) fixture formula, bin = luma*16//256, counted per bin
    "q_mm_features" ->
      """WITH ids AS (SELECT doc_id AS i, 16 + doc_id % 64 AS w, 16 + doc_id % 48 AS h
        |             FROM documents WHERE doc_id % 5 = 0),
        |lum AS (SELECT i AS asset_id,
        |  ((2 * ((i*131 + x*17 + y*29) % 256) + 5 * ((i*37 + x*5 + y*11) % 256)
        |    + ((i*73 + x*3 + y*7) % 256)) // 8) AS luma
        |  FROM ids, UNNEST(range(0, w)) AS ux(x), UNNEST(range(0, h)) AS uy(y))
        |SELECT asset_id, CAST((luma * 16) // 256 AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM lum GROUP BY 1, 2 ORDER BY asset_id, bin""".stripMargin,
    "q_training_filter" -> {
      val (scores, caseExpr) = langidParts
      s"""WITH scored0 AS (
         |  SELECT doc_id, text, ' ' || text || ' ' AS p FROM documents),
         |scored AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
         |    CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
         |    $scores
         |  FROM scored0),
         |labeled AS (SELECT doc_id, n_words, n_distinct, $caseExpr AS lang_pred FROM scored),
         |canonical AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text)
         |SELECT l.doc_id, l.n_words, l.n_distinct
         |FROM labeled l JOIN canonical c ON l.doc_id = c.doc_id
         |WHERE l.n_words >= 20 AND 100*l.n_distinct >= 40*l.n_words AND l.lang_pred = 'en'
         |ORDER BY l.doc_id""".stripMargin
    },
    // q_training_filter over the decontaminated corpus (bloom stage is
    // lossless, so SQL models it as the plain NOT EXISTS)
    "q_training_filter_decon" -> {
      val (scores, caseExpr) = langidParts
      s"""WITH clean AS (
         |  SELECT * FROM documents d
         |  WHERE NOT EXISTS (SELECT 1 FROM documents b
         |                    WHERE b.doc_id % 13 = 0 AND b.text = d.text)),
         |scored0 AS (
         |  SELECT doc_id, text, ' ' || text || ' ' AS p FROM clean),
         |scored AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
         |    CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
         |    $scores
         |  FROM scored0),
         |labeled AS (SELECT doc_id, n_words, n_distinct, $caseExpr AS lang_pred FROM scored),
         |canonical AS (SELECT MIN(doc_id) AS doc_id FROM clean GROUP BY text)
         |SELECT l.doc_id, l.n_words, l.n_distinct
         |FROM labeled l JOIN canonical c ON l.doc_id = c.doc_id
         |WHERE l.n_words >= 20 AND 100*l.n_distinct >= 40*l.n_words AND l.lang_pred = 'en'
         |ORDER BY l.doc_id""".stripMargin
    },
    "q_percentile" ->
      """WITH ranked AS (
        |  SELECT l_returnflag, l_quantity,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  MIN(CASE WHEN rn = CEIL(n * 0.5) THEN l_quantity END) AS p50,
        |  MIN(CASE WHEN rn = CEIL(n * 0.9) THEN l_quantity END) AS p90
        |FROM ranked WHERE rn = CEIL(n * 0.5) OR rn = CEIL(n * 0.9)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        |  COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY rf, ls""".stripMargin,
    "q_count_distinct" ->
      """SELECT COUNT(DISTINCT l_partkey) AS n_parts, COUNT(DISTINCT l_suppkey) AS n_supps,
        |  COUNT(*) AS n_rows FROM lineitem""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (SELECT user_id, ts, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events),
        |f AS (SELECT user_id, ts, event_id, tsec,
        |    LAG(tsec) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM e),
        |g AS (SELECT user_id, ts, event_id,
        |    CASE WHEN prev IS NULL OR tsec - prev > 3600 THEN 1 ELSE 0 END AS new_s FROM f),
        |h AS (SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM g)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end, COUNT(*) AS n_events
        |FROM h GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    // same islands as q_sessionize; timestamps truncated to seconds
    // (the streaming state keeps epoch seconds)
    "q_stream_sessions" ->
      """WITH e AS (SELECT user_id, ts,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
        |    event_id FROM events),
        |f AS (SELECT user_id, tsec, event_id,
        |    LAG(tsec) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM e),
        |g AS (SELECT user_id, tsec, event_id,
        |    CASE WHEN prev IS NULL OR tsec - prev > 3600 THEN 1 ELSE 0 END AS new_s FROM f),
        |h AS (SELECT user_id, tsec,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY tsec, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM g)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  make_timestamp(MIN(tsec)*1000000) AS session_start,
        |  make_timestamp(MAX(tsec)*1000000) AS session_end,
        |  COUNT(*) AS n_events
        |FROM h GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "q_asof_join" ->
      """WITH p AS (SELECT user_id AS k, ts AS ats, ts AS pt,
        |    NULL::BIGINT AS event_id, 0 AS is_probe FROM events WHERE event_type = 'purchase'),
        |pr AS (SELECT user_id AS k, ts AS ats, NULL::TIMESTAMP AS pt,
        |    event_id, 1 AS is_probe FROM events),
        |u AS (SELECT * FROM p UNION ALL SELECT * FROM pr),
        |w AS (SELECT k, event_id, is_probe,
        |    LAST_VALUE(pt IGNORE NULLS) OVER (PARTITION BY k ORDER BY ats, is_probe, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase FROM u)
        |SELECT event_id, k AS user_id, last_purchase FROM w WHERE is_probe = 1
        |ORDER BY event_id""".stripMargin,
    "q_range_join" ->
      """WITH p AS (SELECT event_id AS probe_id, ts AS pts FROM events WHERE event_id % 50 = 0)
        |SELECT probe_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM p JOIN events e ON e.ts > p.pts AND e.ts <= p.pts + INTERVAL 1 HOUR
        |GROUP BY probe_id ORDER BY probe_id""".stripMargin,
    "q_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, COUNT(*) AS df FROM
        |  (SELECT DISTINCT doc_id, token FROM tok) GROUP BY token)
        |SELECT doc_id, token AS top_term, tf, df FROM (
        |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |      ORDER BY CAST(tf.tf AS DOUBLE)/CAST(df.df AS DOUBLE) DESC, tf.token) AS rn
        |  FROM tf JOIN df USING (token))
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // BM25: identical integer formulation — `//` on positives == div,
    // to_base(x,2) length == conv(x,10,2) length (bitlength)
    "q_bm25" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |nd AS (SELECT COUNT(*) AS n_all FROM documents),
        |dfall AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
        |qt AS (SELECT term FROM dfall, nd WHERE df * 20 >= n_all AND df * 2 <= n_all
        |       ORDER BY df DESC, term LIMIT 4),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
        |st AS (SELECT COUNT(*) AS n_docs,
        |       (CAST(SUM(dl) AS BIGINT) * 1000000) // COUNT(*) AS avgdl_ppm FROM dl),
        |m AS (SELECT doc_id, term FROM tok JOIN qt USING (term)),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM m GROUP BY 1, 2),
        |dft AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM m GROUP BY term),
        |sc AS (SELECT tf.doc_id, tf.tf, dft.df, dl.dl, st.n_docs, st.avgdl_ppm
        |       FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
        |x AS (SELECT doc_id,
        |  CASE WHEN (2 * n_docs - 2 * df + 1) // (2 * df + 1) <= 0 THEN 0
        |       ELSE length(to_base((2 * n_docs - 2 * df + 1) // (2 * df + 1), 2)) END AS idf_bits,
        |  (tf * 2200000 * 1000000) //
        |    (tf * 1000000 + (1200 * (250000 +
        |      (750 * ((dl * 1000000000000) // avgdl_ppm)) // 1000)) // 1000) AS tfc_ppm
        |  FROM sc),
        |agg AS (SELECT doc_id, COUNT(*) AS n_terms,
        |        CAST(SUM(idf_bits * tfc_ppm) AS BIGINT) AS score_ppm FROM x GROUP BY doc_id)
        |SELECT doc_id, n_terms, score_ppm,
        |  CAST(ROW_NUMBER() OVER (ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS rn
        |FROM agg ORDER BY score_ppm DESC, doc_id LIMIT 15""".stripMargin,
    // multi-query BM25: identical contribution arithmetic over bigram
    // terms, query sets from the same deterministic mid-band ranking,
    // per-query top-5
    "q_bm25_multi" -> (bm25MultiRankedCte +
      "\nSELECT query_id, rn, doc_id, score_ppm FROM rk" +
      "\nWHERE rn <= 5 ORDER BY query_id, rn"),
    // RRF hybrid fusion: list A = the bm25MultiRankedCte per-query
    // top-5 (the q_bm25_multi result), list B = the deterministic
    // hash pseudo-dense top-5; fused score = Σ 1000000 // (60 + rn)
    "q_rrf" -> (bm25MultiRankedCte +
      """,
        |ra AS (SELECT query_id, doc_id, rn FROM rk WHERE rn <= 5),
        |keyed AS (SELECT CAST(q.query_id AS BIGINT) AS query_id, doc_id,
        |  (doc_id * 2654435761 + q.query_id * 1000003) % 9176471 AS key
        |  FROM documents, (SELECT UNNEST([0, 1, 2]) AS query_id) q),
        |rb AS (SELECT query_id, doc_id, rn FROM (
        |  SELECT query_id, doc_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |         ORDER BY key DESC, doc_id) AS BIGINT) AS rn FROM keyed)
        |  WHERE rn <= 5),
        |allr AS (SELECT * FROM ra UNION ALL SELECT * FROM rb),
        |f AS (SELECT query_id, doc_id,
        |  CAST(SUM(1000000 // (60 + rn)) AS BIGINT) AS rrf_ppm
        |  FROM allr GROUP BY 1, 2),
        |fo AS (SELECT query_id, doc_id, rrf_ppm,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |       ORDER BY rrf_ppm DESC, doc_id) AS BIGINT) AS rn FROM f)
        |SELECT query_id, rn, doc_id, rrf_ppm FROM fo
        |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin),
    // rank eval: run = the hash pseudo-dense top-20; qrels = the
    // deterministic (doc_id·7919 + qid·13) % 29 == 3 judgment set;
    // MRR / recall@10 in exact ppm integers
    "q_rank_eval" ->
      """WITH keyed AS (SELECT CAST(q.query_id AS BIGINT) AS query_id, doc_id,
        |  (doc_id * 2654435761 + q.query_id * 1000003) % 9176471 AS key
        |  FROM documents, (SELECT UNNEST([0, 1, 2]) AS query_id) q),
        |run AS (SELECT query_id, doc_id, rn FROM (
        |  SELECT query_id, doc_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |         ORDER BY key DESC, doc_id) AS BIGINT) AS rn FROM keyed)
        |  WHERE rn <= 20),
        |qrels AS (SELECT CAST(q.query_id AS BIGINT) AS query_id, doc_id
        |  FROM documents, (SELECT UNNEST([0, 1, 2]) AS query_id) q
        |  WHERE (doc_id * 7919 + q.query_id * 13) % 29 = 3),
        |rel AS (SELECT query_id, COUNT(*) AS n_rel FROM qrels GROUP BY 1),
        |hits AS (SELECT query_id, MIN(rn) AS first_rel,
        |  CAST(SUM(CASE WHEN rn <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        |  FROM run JOIN qrels USING (query_id, doc_id) GROUP BY 1)
        |SELECT r.query_id, r.n_rel, COALESCE(h.n_hit, 0) AS n_hit,
        |  CASE WHEN h.first_rel IS NULL THEN 0
        |       ELSE 1000000 // h.first_rel END AS mrr_ppm,
        |  (COALESCE(h.n_hit, 0) * 1000000) // r.n_rel AS recall_ppm
        |FROM rel r LEFT JOIN hits h USING (query_id)
        |ORDER BY r.query_id""".stripMargin,
    "q_cube" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS st, COALESCE(o_orderpriority, 'ALL') AS pri,
        |  COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY st, pri""".stripMargin,
    "q_neardup_clusters" ->
      (rankTokenCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """,sig AS (SELECT doc_id,
          |  MIN((3*token_id+1) % 1000003) AS mh0, MIN((5*token_id+8) % 1000003) AS mh1,
          |  MIN((7*token_id+15) % 1000003) AS mh2, MIN((9*token_id+22) % 1000003) AS mh3
          |  FROM tt GROUP BY doc_id),
          |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM sig a JOIN sig b
          |  ON a.doc_id < b.doc_id AND
          |     ((a.mh0 = b.mh0 AND a.mh1 = b.mh1) OR (a.mh2 = b.mh2 AND a.mh3 = b.mh3))),
          |sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM tt GROUP BY doc_id),
          |i AS (SELECT c.id_a, c.id_b, COUNT(*) AS inter FROM cand c
          |  JOIN tt ta ON ta.doc_id = c.id_a
          |  JOIN tt tb ON tb.doc_id = c.id_b AND ta.token_id = tb.token_id
          |  GROUP BY c.id_a, c.id_b),
          |ver AS (SELECT i.id_a, i.id_b
          |  FROM i JOIN sizes sa ON sa.doc_id = i.id_a JOIN sizes sb ON sb.doc_id = i.id_b
          |  WHERE 100*i.inter >= 60*(sa.n_tok + sb.n_tok - i.inter)),
          |und AS (SELECT id_a AS a, id_b AS b FROM ver UNION SELECT id_b, id_a FROM ver),
          |reach(src, dst) AS (
          |  SELECT a, b FROM und
          |  UNION
          |  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a)
          |SELECT src AS doc_id, LEAST(MIN(dst), src) AS cluster FROM reach
          |GROUP BY src ORDER BY doc_id""".stripMargin),
    "q_moving_avg" ->
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev FROM orders GROUP BY 1)
        |SELECT day, CAST(rev AS DOUBLE) AS revenue,
        |  CAST(SUM(rev) OVER w AS DOUBLE) / CAST(COUNT(*) OVER w AS DOUBLE) AS ma7
        |FROM d WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY day""".stripMargin,
    "q_pii_scrub" ->
      """WITH d AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or http://site'
        |       || CAST(doc_id AS VARCHAR) || '.example.org/page now' AS text FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.]+[a-z]')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(text, 'https?://[a-z0-9./_-]+')) AS INTEGER) AS n_urls,
        |  sha256(regexp_replace(regexp_replace(text, 'https?://[a-z0-9./_-]+', '<URL>', 'g'),
        |    '[a-z0-9._]+@[a-z0-9.]+[a-z]', '<EMAIL>', 'g')) AS scrubbed_sha
        |FROM d ORDER BY doc_id""".stripMargin,
    // the oracle STATES the expected parsed terms — it never parses, so
    // the engine's render∘parse must be the identity to hash-match.
    // chr(34)=", chr(92)=\, chr(10)=LF, chr(9)=TAB mirror the planted
    // escape-heavy text
    "q_nt_roundtrip" ->
      """WITH r AS (SELECT CAST(r_regionkey AS VARCHAR) AS k, r_name FROM region)
        |SELECT 'http://ex/r/' || k AS subj, 'http://ex/p/name' AS pred,
        |  'literal' AS obj_kind, NULL AS obj_iri,
        |  r_name || chr(34) || 'q' || chr(92) || 'x' || chr(10) || chr(9) || 'z' || chr(1) AS lexical,
        |  'en' AS lang, NULL AS datatype FROM r
        |UNION ALL
        |SELECT 'http://ex/r/' || k, 'http://ex/p/key', 'literal', NULL, k,
        |  NULL, 'http://www.w3.org/2001/XMLSchema#integer' FROM r
        |UNION ALL
        |SELECT 'http://ex/r/' || k, 'http://ex/p/self', 'iri', 'http://ex/r/' || k,
        |  NULL, NULL, NULL FROM r
        |ORDER BY subj, pred""".stripMargin,
    "q_skew_distinct" ->
      """SELECT user_id, COUNT(DISTINCT event_type) AS n_distinct FROM events
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_retention" ->
      """WITH f AS (SELECT user_id, MIN(date_trunc('hour', ts)) AS d FROM events GROUP BY user_id),
        |n AS (SELECT d, COUNT(*) AS new_users FROM f GROUP BY d)
        |SELECT d, new_users, CAST(SUM(new_users) OVER (ORDER BY d
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM n ORDER BY d""".stripMargin,
    // salting is invisible relationally: == the plain inner join
    "q_skew_join" ->
      """SELECT e.user_id, c.c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2 ORDER BY e.user_id""".stripMargin,
    "q_stream_window" ->
      """SELECT date_trunc('hour', ts) AS ws, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,
    "q_stream_state" ->
      "SELECT user_id, COUNT(*) AS events FROM events GROUP BY user_id ORDER BY user_id",
    // streaming CMS == batch sketch per hour window (width 64)
    "q_stream_cms" ->
      """WITH h AS (SELECT date_trunc('hour', ts) AS ws,
        |  sha256(CAST(user_id AS VARCHAR)) AS x FROM events),
        |p AS (SELECT ws, j AS "row",
        |  CAST('0x' || substr(x, j * 13 + 1, 13) AS BIGINT) % 64 AS col
        |  FROM h, UNNEST(range(0, 4)) AS u(j))
        |SELECT ws, CAST("row" AS BIGINT) AS "row", col, COUNT(*) AS cnt
        |FROM p GROUP BY 1, 2, 3 ORDER BY ws, "row", col""".stripMargin,
    // streaming HLL == batch sketch over the same files: same register
    // derivation per hour window, same harmonic estimate (m=256)
    // windowed log2 histogram == the batch histogram per hour
    "q_stream_ddsketch" ->
      """SELECT date_trunc('hour', ts) AS ws,
        |  CAST(CASE WHEN user_id <= 0 THEN 0
        |       ELSE length(to_base(user_id, 2)) END AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n, MIN(user_id) AS min_v, MAX(user_id) AS max_v
        |FROM events GROUP BY 1, 2 ORDER BY ws, bin""".stripMargin,
    "q_stream_hll" -> {
      val m = 256
      val alpha = 0.7213 / (1.0 + 1.079 / m)
      val num = alpha * m.toDouble * m.toDouble * 4503599627370496.0
      s"""WITH h AS (SELECT date_trunc('hour', ts) AS ws,
         |  sha256(CAST(user_id AS VARCHAR)) AS x FROM events),
         |d AS (SELECT ws, CAST('0x' || substr(x, 1, 2) AS BIGINT) AS reg,
         |             CAST('0x' || substr(x, 3, 13) AS BIGINT) AS v FROM h),
         |r AS (SELECT ws, reg,
         |  MAX(53 - (CASE WHEN v = 0 THEN 0 ELSE length(to_base(v, 2)) END)) AS rho
         |  FROM d GROUP BY 1, 2),
         |a AS (SELECT ws, COUNT(*) AS nonzero_regs,
         |  CAST(SUM(CAST(1 AS BIGINT) << GREATEST(0, CAST(52 - rho AS INT))) AS BIGINT) AS s_nonzero
         |  FROM r GROUP BY ws)
         |SELECT ws, nonzero_regs,
         |  CAST(s_nonzero + (256 - nonzero_regs) * 4503599627370496 AS BIGINT) AS harmonic_scaled,
         |  CAST(FLOOR($num / CAST(s_nonzero + (256 - nonzero_regs) * 4503599627370496 AS DOUBLE)) AS BIGINT) AS distinct_estimate
         |FROM a ORDER BY ws""".stripMargin
    },
    // min-depth over ALL path lengths == BFS minimal hop count (the
    // engine's visited-set BFS); UNION keeps recursion finite, depth
    // bound matches maxDepth = 4
    "q_closure" ->
      """WITH RECURSIVE edges AS (
        |  SELECT DISTINCT user_id AS src, user_id // 2 AS dst FROM events WHERE user_id > 0),
        |reach(src, dst, depth) AS (
        |  SELECT src, dst, 1 FROM edges
        |  UNION
        |  SELECT r.src, e.dst, r.depth + 1 FROM reach r JOIN edges e ON r.dst = e.src
        |  WHERE r.depth < 4)
        |SELECT src, dst, MIN(depth) AS depth FROM reach GROUP BY src, dst
        |ORDER BY src, dst""".stripMargin,
    // SCC by definition: scc_id(u) = max{v : u →* v and v →* u}, over
    // the full recursive-CTE reachability closure — an independent
    // O(n²)-pairs algorithm the trim+coloring engine never runs.
    // Self-loops drop from the edge set but their endpoints stay nodes
    // (mirroring plans.Scc); GREATEST(id, …) includes the node itself.
    "q_scc" -> (sccAssignCte + "\nSELECT id, scc_id FROM scc ORDER BY id"),
    "q_condensation" -> (sccAssignCte +
      """,
        |e0 AS (SELECT DISTINCT src, dst FROM raw)
        |SELECT DISTINCT s1.scc_id AS src_scc, s2.scc_id AS dst_scc
        |FROM e0 JOIN scc s1 ON e0.src = s1.id JOIN scc s2 ON e0.dst = s2.id
        |WHERE s1.scc_id <> s2.scc_id
        |ORDER BY src_scc, dst_scc""".stripMargin),
    // HyperBall: replay 2 register-propagation rounds (integer state,
    // same sha256 derivation as q_hll_registers at b=4 ⇒ m=16), then
    // the per-node harmonic estimate (q_hll_estimate convention: one
    // IEEE division on exactly-agreed operands, floored). exact_ball
    // from the depth-≤2 closure e ∪ e∘e.
    "q_hyperball" -> {
      val m = 16
      val alpha = 0.7213 / (1.0 + 1.079 / m)
      val num = alpha * m.toDouble * m.toDouble * 4503599627370496.0
      s"""WITH
         |g1 AS (SELECT user_id % 101 AS src, MIN(event_id) % 101 AS dst FROM events GROUP BY 1),
         |g2 AS (SELECT event_id % 101 AS src, MAX(user_id) % 101 AS dst FROM events GROUP BY 1),
         |raw AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2),
         |e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
         |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |r0 AS (SELECT id,
         |  CAST('0x' || substr(sha256(CAST(id AS VARCHAR)), 1, 1) AS BIGINT) AS reg,
         |  53 - (CASE WHEN CAST('0x' || substr(sha256(CAST(id AS VARCHAR)), 2, 13) AS BIGINT) = 0
         |        THEN 0 ELSE length(to_base(CAST('0x' || substr(sha256(CAST(id AS VARCHAR)), 2, 13) AS BIGINT), 2)) END) AS rho
         |  FROM nodes),
         |r1 AS (SELECT id, reg, MAX(rho) AS rho FROM (
         |  SELECT * FROM r0 UNION ALL
         |  SELECT e.src AS id, r.reg, r.rho FROM e JOIN r0 r ON e.dst = r.id) GROUP BY 1, 2),
         |r2 AS (SELECT id, reg, MAX(rho) AS rho FROM (
         |  SELECT * FROM r1 UNION ALL
         |  SELECT e.src AS id, r.reg, r.rho FROM e JOIN r1 r ON e.dst = r.id) GROUP BY 1, 2),
         |agg AS (SELECT id, COUNT(*) AS nonzero_regs,
         |  SUM(CAST(1 AS BIGINT) << GREATEST(0, CAST(52 - rho AS INT))) AS s_nonzero FROM r2 GROUP BY id),
         |reach AS (SELECT src, dst FROM e
         |  UNION SELECT a.src, b.dst FROM e a JOIN e b ON a.dst = b.src),
         |ex AS (SELECT src AS id, COUNT(DISTINCT dst) + 1 AS exact_ball
         |  FROM reach WHERE dst <> src GROUP BY src)
         |SELECT a.id, a.nonzero_regs,
         |  CAST(s_nonzero + (16 - nonzero_regs) * 4503599627370496 AS BIGINT) AS harmonic_scaled,
         |  CAST(FLOOR($num / CAST(s_nonzero + (16 - nonzero_regs) * 4503599627370496 AS DOUBLE)) AS BIGINT) AS ball_estimate,
         |  CAST(COALESCE(ex.exact_ball, 1) AS BIGINT) AS exact_ball
         |FROM agg a LEFT JOIN ex USING (id) ORDER BY a.id""".stripMargin
    },
    // harmonic centrality: the same propagation with a per-round
    // estimate snapshot; H_ppm = Σ_d (est_d − est_{d−1})·10^6 // d
    "q_harmonic" -> {
      val m = 16
      val alpha = 0.7213 / (1.0 + 1.079 / m)
      val num = alpha * m.toDouble * m.toDouble * 4503599627370496.0
      def estCte(r: Int): String =
        s"""e$r AS (SELECT id, CAST(FLOOR($num / CAST(
           |  SUM(CAST(1 AS BIGINT) << GREATEST(0, CAST(52 - rho AS INT)))
           |  + (16 - COUNT(*)) * 4503599627370496 AS DOUBLE)) AS BIGINT) AS est$r
           |  FROM r$r GROUP BY id)""".stripMargin
      s"""WITH
         |g1 AS (SELECT user_id % 101 AS src, MIN(event_id) % 101 AS dst FROM events GROUP BY 1),
         |g2 AS (SELECT event_id % 101 AS src, MAX(user_id) % 101 AS dst FROM events GROUP BY 1),
         |raw AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2),
         |e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
         |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |r0 AS (SELECT id,
         |  CAST('0x' || substr(sha256(CAST(id AS VARCHAR)), 1, 1) AS BIGINT) AS reg,
         |  53 - (CASE WHEN CAST('0x' || substr(sha256(CAST(id AS VARCHAR)), 2, 13) AS BIGINT) = 0
         |        THEN 0 ELSE length(to_base(CAST('0x' || substr(sha256(CAST(id AS VARCHAR)), 2, 13) AS BIGINT), 2)) END) AS rho
         |  FROM nodes),
         |r1 AS (SELECT id, reg, MAX(rho) AS rho FROM (
         |  SELECT * FROM r0 UNION ALL
         |  SELECT e.src AS id, r.reg, r.rho FROM e JOIN r0 r ON e.dst = r.id) GROUP BY 1, 2),
         |r2 AS (SELECT id, reg, MAX(rho) AS rho FROM (
         |  SELECT * FROM r1 UNION ALL
         |  SELECT e.src AS id, r.reg, r.rho FROM e JOIN r1 r ON e.dst = r.id) GROUP BY 1, 2),
         |${estCte(0)},
         |${estCte(1)},
         |${estCte(2)}
         |SELECT id, est2 AS ball_estimate,
         |  ((est1 - est0) * 1000000) // 1 + ((est2 - est1) * 1000000) // 2 AS harmonic_ppm
         |FROM e0 JOIN e1 USING (id) JOIN e2 USING (id) ORDER BY id""".stripMargin
    },
    // KMV: bottom-k via ORDER BY h LIMIT k, union-merge re-take, and
    // the same single integer division per estimate
    "q_kmv_jaccard" ->
      """WITH ta AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
        |           FROM documents WHERE doc_id % 2 = 0),
        |tb AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
        |       FROM documents WHERE doc_id % 2 = 1),
        |ska AS (SELECT DISTINCT CAST('0x' || substr(sha256(tok), 1, 13) AS BIGINT) AS h
        |        FROM ta ORDER BY h LIMIT 64),
        |skb AS (SELECT DISTINCT CAST('0x' || substr(sha256(tok), 1, 13) AS BIGINT) AS h
        |        FROM tb ORDER BY h LIMIT 64),
        |ea AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_a, MAX(h) AS kth_a FROM ska),
        |eb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b, MAX(h) AS kth_b FROM skb),
        |u AS (SELECT DISTINCT h FROM (SELECT h FROM ska UNION ALL SELECT h FROM skb)
        |      ORDER BY h LIMIT 64),
        |j AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
        |      CAST(SUM(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both
        |      FROM u LEFT JOIN ska a ON u.h = a.h LEFT JOIN skb b ON u.h = b.h)
        |SELECT n_a, kth_a,
        |  CAST(CASE WHEN n_a < 64 THEN n_a ELSE (63 * 4503599627370496) // kth_a END AS BIGINT) AS est_a,
        |  n_b, kth_b,
        |  CAST(CASE WHEN n_b < 64 THEN n_b ELSE (63 * 4503599627370496) // kth_b END AS BIGINT) AS est_b,
        |  k_used, n_both, CAST((n_both * 1000000) // k_used AS BIGINT) AS jaccard_ppm
        |FROM ea, eb, j""".stripMargin,
    // same sha256-hex register/rho derivation: CAST('0x…') replays
    // Spark's conv(hex,16,10), length(to_base(v,2)) replays bitlength
    "q_hll_registers" ->
      """WITH h AS (SELECT sha256(CAST(l_partkey AS VARCHAR)) AS x FROM lineitem),
        |d AS (SELECT CAST('0x' || substr(x, 1, 2) AS BIGINT) AS reg,
        |             CAST('0x' || substr(x, 3, 13) AS BIGINT) AS v FROM h),
        |r AS (SELECT reg, 53 - (CASE WHEN v = 0 THEN 0 ELSE length(to_base(v, 2)) END) AS rho FROM d)
        |SELECT reg, CAST(MAX(rho) AS BIGINT) AS rho_max FROM r GROUP BY reg
        |ORDER BY reg""".stripMargin,
    // numerator literal = the identical Scala-side double (alpha_m·m²·2^52,
    // same op order as Sketch.hllEstimate), so the one IEEE division
    // agrees bit-for-bit and FLOOR lands on the same integer
    "q_hll_estimate" -> {
      val m = 256
      val alpha = 0.7213 / (1.0 + 1.079 / m)
      val num = alpha * m.toDouble * m.toDouble * 4503599627370496.0
      s"""WITH h AS (SELECT sha256(CAST(l_partkey AS VARCHAR)) AS x FROM lineitem),
         |d AS (SELECT CAST('0x' || substr(x, 1, 2) AS BIGINT) AS reg,
         |             CAST('0x' || substr(x, 3, 13) AS BIGINT) AS v FROM h),
         |r AS (SELECT reg, MAX(53 - (CASE WHEN v = 0 THEN 0 ELSE length(to_base(v, 2)) END)) AS rho_max
         |      FROM d GROUP BY reg),
         |a AS (SELECT COUNT(*) AS nonzero_regs,
         |             CAST(SUM(CAST(1 AS BIGINT) << GREATEST(0, 52 - rho_max)) AS BIGINT) AS s_nonzero FROM r),
         |x AS (SELECT COUNT(DISTINCT l_partkey) AS exact_distinct FROM lineitem)
         |SELECT CAST(256 AS BIGINT) AS m, nonzero_regs,
         |  CAST(s_nonzero + (256 - nonzero_regs) * 4503599627370496 AS BIGINT) AS harmonic_scaled,
         |  CAST(FLOOR($num / CAST(s_nonzero + (256 - nonzero_regs) * 4503599627370496 AS DOUBLE)) AS BIGINT) AS hll_estimate,
         |  exact_distinct
         |FROM a, x""".stripMargin
    },
    // bigram LM in ppm integer arithmetic: // on positives == Spark div
    "q_lm_score" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
        |       FROM t, UNNEST(range(1, len(w))) AS u(i)
        |       WHERE len(w) >= 2),
        |m2 AS (SELECT w1, w2, COUNT(*) AS cnt2 FROM bg GROUP BY w1, w2),
        |m1 AS (SELECT w1, COUNT(*) AS cnt1 FROM bg GROUP BY w1),
        |p AS (SELECT m2.w1, m2.w2, (cnt2 * 1000000) // cnt1 AS p_ppm
        |      FROM m2 JOIN m1 USING (w1))
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(p_ppm) AS BIGINT) // COUNT(*) AS score_ppm
        |FROM bg JOIN p USING (w1, w2)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // same disjoint-sha256-slice hash rows; % on positives == pmod
    "q_cms_sketch" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |h AS (SELECT sha256(tok) AS x FROM tok),
        |p AS (SELECT j AS "row", CAST('0x' || substr(x, j * 13 + 1, 13) AS BIGINT) % 256 AS col
        |      FROM h, UNNEST(range(0, 4)) AS u(j))
        |SELECT CAST("row" AS BIGINT) AS "row", col, COUNT(*) AS cnt FROM p
        |GROUP BY "row", col ORDER BY "row", col""".stripMargin,
    "q_cms_lookup" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |h AS (SELECT sha256(tok) AS x FROM tok),
        |sk AS (SELECT j AS "row", CAST('0x' || substr(x, j * 13 + 1, 13) AS BIGINT) % 256 AS col,
        |              COUNT(*) AS cnt
        |       FROM h, UNNEST(range(0, 4)) AS u(j) GROUP BY 1, 2),
        |probes AS (SELECT DISTINCT tok FROM tok ORDER BY tok LIMIT 10),
        |pp AS (SELECT p.tok AS probe, j AS "row",
        |              CAST('0x' || substr(sha256(p.tok), j * 13 + 1, 13) AS BIGINT) % 256 AS col
        |       FROM probes p, UNNEST(range(0, 4)) AS u(j))
        |SELECT probe, CAST(MIN(COALESCE(cnt, 0)) AS BIGINT) AS est
        |FROM pp LEFT JOIN sk USING ("row", col)
        |GROUP BY probe ORDER BY probe""".stripMargin,
    // 3 Bellman-Ford rounds unrolled: min over (carry, relax) per round
    "q_sssp" ->
      """WITH e0 AS (SELECT user_id % 101 AS src, event_id % 101 AS dst,
        |    event_id % 97 + 1 AS w FROM events),
        |e AS (SELECT src, dst, MIN(w) AS w FROM e0 GROUP BY 1, 2),
        |d0 AS (SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist),
        |d1 AS (SELECT id, MIN(dist) AS dist FROM (
        |  SELECT * FROM d0 UNION ALL
        |  SELECT e.dst, d.dist + e.w FROM e JOIN d0 d ON e.src = d.id) GROUP BY id),
        |d2 AS (SELECT id, MIN(dist) AS dist FROM (
        |  SELECT * FROM d1 UNION ALL
        |  SELECT e.dst, d.dist + e.w FROM e JOIN d1 d ON e.src = d.id) GROUP BY id),
        |d3 AS (SELECT id, MIN(dist) AS dist FROM (
        |  SELECT * FROM d2 UNION ALL
        |  SELECT e.dst, d.dist + e.w FROM e JOIN d2 d ON e.src = d.id) GROUP BY id)
        |SELECT id, CAST(dist AS BIGINT) AS dist FROM d3 ORDER BY id""".stripMargin,
    // DuckDB's ->> extracts the same field as from_json's schema read
    "q_json_extract" ->
      """SELECT CAST(props->>'k' AS BIGINT) % 10 AS k_mod, COUNT(*) AS n,
        |  CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1 ORDER BY k_mod""".stripMargin,
    // the aggregate's (v desc, id asc) order == ROW_NUMBER's
    "q_group_topk_agg" ->
      """SELECT g, rn, v, id FROM (
        |  SELECT event_type AS g,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY CAST(FLOOR(value * 100) AS BIGINT) DESC, event_id) AS BIGINT) AS rn,
        |    CAST(FLOOR(value * 100) AS BIGINT) AS v, event_id AS id
        |  FROM events)
        |WHERE rn <= 3 ORDER BY g, rn""".stripMargin,
    // same bitlength bins + cumulative walk + all-positive ceil rank
    "q_log2_quantiles" ->
      """WITH h AS (SELECT CASE WHEN n_chars <= 0 THEN 0
        |    ELSE length(to_base(n_chars, 2)) END AS bin, n_chars AS v FROM documents),
        |g AS (SELECT bin, COUNT(*) AS n, MIN(v) AS min_v, MAX(v) AS max_v FROM h GROUP BY bin),
        |c AS (SELECT bin, n, min_v, max_v,
        |    SUM(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_cum,
        |    SUM(n) OVER () AS total FROM g),
        |q AS (SELECT unnest([250000, 500000, 900000, 990000]) AS q_ppm)
        |SELECT CAST(q_ppm AS BIGINT) AS q_ppm,
        |  CAST(GREATEST(1, (q_ppm * total + 999999) // 1000000) AS BIGINT) AS rank,
        |  CAST(bin AS BIGINT) AS bin, min_v AS lo, max_v AS hi
        |FROM q, c
        |WHERE n_cum >= GREATEST(1, (q_ppm * total + 999999) // 1000000)
        |  AND n_cum - n < GREATEST(1, (q_ppm * total + 999999) // 1000000)
        |ORDER BY q_ppm""".stripMargin,
    // CMS inner-product estimate replayed over both sketches + the
    // exact join count
    "q_join_size_est" ->
      """WITH ha AS (SELECT sha256(CAST(user_id AS VARCHAR)) AS x FROM events),
        |pa AS (SELECT j AS "row", CAST('0x' || substr(x, j * 13 + 1, 13) AS BIGINT) % 256 AS col
        |       FROM ha, UNNEST(range(0, 4)) AS u(j)),
        |ska AS (SELECT "row", col, COUNT(*) AS cnt FROM pa GROUP BY 1, 2),
        |hb AS (SELECT sha256(CAST(o_custkey AS VARCHAR)) AS x FROM orders),
        |pb AS (SELECT j AS "row", CAST('0x' || substr(x, j * 13 + 1, 13) AS BIGINT) % 256 AS col
        |       FROM hb, UNNEST(range(0, 4)) AS u(j)),
        |skb AS (SELECT "row", col, COUNT(*) AS cnt FROM pb GROUP BY 1, 2),
        |rowest AS (SELECT a."row", CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS est
        |           FROM ska a JOIN skb b ON a."row" = b."row" AND a.col = b.col
        |           GROUP BY a."row")
        |SELECT (SELECT MIN(est) FROM rowest) AS join_size_est,
        |       (SELECT COUNT(*) FROM events e JOIN orders o ON e.user_id = o.o_custkey)
        |         AS exact_join_size""".stripMargin,
    // 3 PageRank iterations unrolled in scaled-integer arithmetic;
    // `//` (floor div) on positives == Spark's `div`, so ranks are
    // bit-exact across engines
    "q_pagerank" ->
      """WITH edges AS (SELECT DISTINCT o_custkey AS src, o_orderkey % 1000 AS dst FROM orders),
        |nodes AS (SELECT src AS id FROM edges UNION SELECT dst AS id FROM edges),
        |nn AS (SELECT COUNT(*) AS n FROM nodes),
        |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
        |r0 AS (SELECT id, 1000000000000 // (SELECT n FROM nn) AS r FROM nodes),
        |c1 AS (SELECT e.dst AS id, CAST(SUM(r0.r // d.deg) AS BIGINT) AS sc
        |  FROM edges e JOIN r0 ON e.src = r0.id JOIN deg d ON e.src = d.src GROUP BY e.dst),
        |r1 AS (SELECT nodes.id, (1000000000000 * 15) // (100 * (SELECT n FROM nn))
        |    + (85 * COALESCE(c1.sc, 0)) // 100 AS r
        |  FROM nodes LEFT JOIN c1 ON nodes.id = c1.id),
        |c2 AS (SELECT e.dst AS id, CAST(SUM(r1.r // d.deg) AS BIGINT) AS sc
        |  FROM edges e JOIN r1 ON e.src = r1.id JOIN deg d ON e.src = d.src GROUP BY e.dst),
        |r2 AS (SELECT nodes.id, (1000000000000 * 15) // (100 * (SELECT n FROM nn))
        |    + (85 * COALESCE(c2.sc, 0)) // 100 AS r
        |  FROM nodes LEFT JOIN c2 ON nodes.id = c2.id),
        |c3 AS (SELECT e.dst AS id, CAST(SUM(r2.r // d.deg) AS BIGINT) AS sc
        |  FROM edges e JOIN r2 ON e.src = r2.id JOIN deg d ON e.src = d.src GROUP BY e.dst),
        |r3 AS (SELECT nodes.id, (1000000000000 * 15) // (100 * (SELECT n FROM nn))
        |    + (85 * COALESCE(c3.sc, 0)) // 100 AS r
        |  FROM nodes LEFT JOIN c3 ON nodes.id = c3.id)
        |SELECT id, CAST(r AS BIGINT) AS rank_scaled FROM r3 ORDER BY id""".stripMargin,
    // personalized PageRank: same unrolled integer rounds with the
    // teleport term gated by the seed flag (seeds = id % 50 = 0)
    "q_ppr" ->
      """WITH edges AS (SELECT DISTINCT o_custkey AS src, o_orderkey % 1000 AS dst FROM orders),
        |nodes AS (SELECT src AS id FROM edges UNION SELECT dst AS id FROM edges),
        |sn AS (SELECT COUNT(*) AS ns FROM nodes WHERE id % 50 = 0),
        |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
        |r0 AS (SELECT id, CASE WHEN id % 50 = 0
        |    THEN 1000000000000 // (SELECT ns FROM sn) ELSE 0 END AS r FROM nodes),
        |c1 AS (SELECT e.dst AS id, CAST(SUM(r0.r // d.deg) AS BIGINT) AS sc
        |  FROM edges e JOIN r0 ON e.src = r0.id JOIN deg d ON e.src = d.src GROUP BY e.dst),
        |r1 AS (SELECT nodes.id, CASE WHEN nodes.id % 50 = 0
        |    THEN (1000000000000 * 15) // (100 * (SELECT ns FROM sn)) ELSE 0 END
        |    + (85 * COALESCE(c1.sc, 0)) // 100 AS r
        |  FROM nodes LEFT JOIN c1 ON nodes.id = c1.id),
        |c2 AS (SELECT e.dst AS id, CAST(SUM(r1.r // d.deg) AS BIGINT) AS sc
        |  FROM edges e JOIN r1 ON e.src = r1.id JOIN deg d ON e.src = d.src GROUP BY e.dst),
        |r2 AS (SELECT nodes.id, CASE WHEN nodes.id % 50 = 0
        |    THEN (1000000000000 * 15) // (100 * (SELECT ns FROM sn)) ELSE 0 END
        |    + (85 * COALESCE(c2.sc, 0)) // 100 AS r
        |  FROM nodes LEFT JOIN c2 ON nodes.id = c2.id),
        |c3 AS (SELECT e.dst AS id, CAST(SUM(r2.r // d.deg) AS BIGINT) AS sc
        |  FROM edges e JOIN r2 ON e.src = r2.id JOIN deg d ON e.src = d.src GROUP BY e.dst),
        |r3 AS (SELECT nodes.id, CASE WHEN nodes.id % 50 = 0
        |    THEN (1000000000000 * 15) // (100 * (SELECT ns FROM sn)) ELSE 0 END
        |    + (85 * COALESCE(c3.sc, 0)) // 100 AS r
        |  FROM nodes LEFT JOIN c3 ON nodes.id = c3.id)
        |SELECT id, CAST(r AS BIGINT) AS rank_scaled FROM r3 ORDER BY id""".stripMargin,
    // 2 weighted-PageRank iterations unrolled: contribution
    // (r*w) // wdeg, parallel edges pre-merged by SUM(w)
    "q_pagerank_weighted" ->
      """WITH raw AS (SELECT o_custkey AS src, o_orderkey % 1000 AS dst,
        |    o_orderkey % 5 + 1 AS w FROM orders),
        |e AS (SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w FROM raw GROUP BY 1, 2),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
        |nn AS (SELECT COUNT(*) AS n FROM nodes),
        |deg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wdeg FROM e GROUP BY src),
        |r0 AS (SELECT id, 1000000000000 // (SELECT n FROM nn) AS r FROM nodes),
        |c1 AS (SELECT e.dst AS id, CAST(SUM((r0.r * e.w) // d.wdeg) AS BIGINT) AS sc
        |  FROM e JOIN r0 ON e.src = r0.id JOIN deg d ON e.src = d.src GROUP BY e.dst),
        |r1 AS (SELECT nodes.id, (1000000000000 * 15) // (100 * (SELECT n FROM nn))
        |    + (85 * COALESCE(c1.sc, 0)) // 100 AS r
        |  FROM nodes LEFT JOIN c1 ON nodes.id = c1.id),
        |c2 AS (SELECT e.dst AS id, CAST(SUM((r1.r * e.w) // d.wdeg) AS BIGINT) AS sc
        |  FROM e JOIN r1 ON e.src = r1.id JOIN deg d ON e.src = d.src GROUP BY e.dst),
        |r2 AS (SELECT nodes.id, (1000000000000 * 15) // (100 * (SELECT n FROM nn))
        |    + (85 * COALESCE(c2.sc, 0)) // 100 AS r
        |  FROM nodes LEFT JOIN c2 ON nodes.id = c2.id)
        |SELECT id, CAST(r AS BIGINT) AS rank_scaled FROM r2 ORDER BY id""".stripMargin,
    // bitlength == length(to_base(v, 2)), the engine's exact log2 bin
    "q_degree_profile" ->
      """WITH edges AS (SELECT DISTINCT o_custkey AS src, o_orderkey % 1000 AS dst FROM orders),
        |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)
        |SELECT CAST(length(to_base(deg, 2)) AS BIGINT) AS bin,
        |  COUNT(*) AS n, MIN(deg) AS min_v, MAX(deg) AS max_v
        |FROM deg GROUP BY 1 ORDER BY bin""".stripMargin,
    // 2 label-propagation rounds unrolled; plurality-with-smallest-
    // label-tie = ROW_NUMBER ordered by (n DESC, label ASC)
    "q_label_prop" ->
      """WITH e0 AS (SELECT DISTINCT user_id AS a, (user_id * 31 + 7) % 150 AS b
        |  FROM events WHERE user_id <> (user_id * 31 + 7) % 150),
        |und AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
        |l0 AS (SELECT DISTINCT user_id AS id, user_id % 10 AS label FROM events),
        |n1 AS (SELECT und.a AS id, l0.label, COUNT(*) AS n
        |  FROM und JOIN l0 ON und.b = l0.id GROUP BY 1, 2),
        |u1 AS (SELECT id, label FROM (SELECT id, label,
        |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY n DESC, label ASC) AS rn FROM n1)
        |  WHERE rn = 1),
        |l1 AS (SELECT l0.id, COALESCE(u1.label, l0.label) AS label
        |  FROM l0 LEFT JOIN u1 ON l0.id = u1.id),
        |n2 AS (SELECT und.a AS id, l1.label, COUNT(*) AS n
        |  FROM und JOIN l1 ON und.b = l1.id GROUP BY 1, 2),
        |u2 AS (SELECT id, label FROM (SELECT id, label,
        |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY n DESC, label ASC) AS rn FROM n2)
        |  WHERE rn = 1),
        |l2 AS (SELECT l1.id, COALESCE(u2.label, l1.label) AS label
        |  FROM l1 LEFT JOIN u2 ON l1.id = u2.id)
        |SELECT id, CAST(label AS BIGINT) AS label FROM l2 ORDER BY id""".stripMargin,
    // COUNT(CASE ...) stays BIGINT (SUM would go HUGEINT → float in pandas)
    "q_pivot" ->
      """SELECT c_mktsegment,
        |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // final state after REPLACE PARTITION (lang='en') = untouched
    // partitions ∪ the rewritten en subset
    "q_snapshot_read" ->
      """SELECT doc_id, lang, n_chars FROM documents WHERE lang <> 'en'
        |UNION ALL
        |SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en' AND n_chars >= 300
        |ORDER BY doc_id""".stripMargin,
    // MERGE replayed relationally: updates win, inserts add, tombstoned
    // and updated keys leave the base exactly once
    "q_snapshot_merge" ->
      """WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
        |upd AS (SELECT doc_id, lang, n_chars + 1000 AS n_chars FROM base WHERE doc_id % 10 = 0),
        |ins AS (SELECT doc_id + 1000000 AS doc_id, lang, CAST(7 AS BIGINT) AS n_chars
        |        FROM base WHERE doc_id % 25 = 0),
        |allkeys AS (SELECT doc_id FROM upd UNION SELECT doc_id FROM ins
        |            UNION SELECT doc_id FROM base WHERE doc_id % 17 = 0 AND doc_id % 10 <> 0),
        |keep AS (SELECT b.* FROM base b WHERE NOT EXISTS
        |         (SELECT 1 FROM allkeys k WHERE k.doc_id = b.doc_id))
        |SELECT doc_id, lang, n_chars FROM upd
        |UNION ALL SELECT doc_id, lang, n_chars FROM ins
        |UNION ALL SELECT doc_id, lang, n_chars FROM keep
        |ORDER BY doc_id""".stripMargin,
    // pre-replace snapshot, pruned to two partitions = the original
    // table filtered to those languages
    "q_snapshot_timetravel" ->
      """SELECT doc_id, lang, n_chars FROM documents WHERE lang IN ('en', 'de')
        |ORDER BY doc_id""".stripMargin,
    // CDC replayed relationally from the merge fixture: every %10 key
    // is an update (pre+post image), +1000000 keys are inserts,
    // %17-not-%10 keys are deletes; all other rows are unchanged
    "q_snapshot_cdc" ->
      """WITH base AS (SELECT doc_id, lang, n_chars FROM documents)
        |SELECT doc_id, lang, n_chars, 'update_pre' AS change
        |  FROM base WHERE doc_id % 10 = 0
        |UNION ALL SELECT doc_id, lang, n_chars + 1000, 'update_post'
        |  FROM base WHERE doc_id % 10 = 0
        |UNION ALL SELECT doc_id + 1000000, lang, CAST(7 AS BIGINT), 'insert'
        |  FROM base WHERE doc_id % 25 = 0
        |UNION ALL SELECT doc_id, lang, n_chars, 'delete'
        |  FROM base WHERE doc_id % 17 = 0 AND doc_id % 10 <> 0
        |ORDER BY doc_id, change""".stripMargin,
    "q_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    // CDC-apply fixed point: the table converges to the per-key
    // (ts, event_id) argmax of the whole stream
    "q_stream_merge" ->
      """WITH r AS (SELECT user_id, ts, event_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |SELECT user_id, user_id % 8 AS bucket, ts, event_id, event_type
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // quota packing replayed as a window: bin = floor(exclusive-cumsum
    // of token counts within lang / capacity)
    "q_seq_pack" ->
      """WITH t AS (SELECT doc_id, lang AS grp,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents)
        |SELECT doc_id, grp, n_tok,
        |  CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY grp ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 256 AS BIGINT) AS bin
        |FROM t ORDER BY doc_id""".stripMargin,
    "q_contamination" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS shingle
        |       FROM toks, UNNEST(range(1, len(t) - 5 + 2)) AS u(i) WHERE len(t) >= 5)
        |SELECT d.doc_id,
        |  COUNT(DISTINCT d.shingle) AS n_shared,
        |  COUNT(DISTINCT p.doc_id) AS n_probes
        |FROM sh d JOIN sh p ON d.shingle = p.shingle
        |WHERE d.doc_id % 97 <> 0 AND p.doc_id % 97 = 0
        |GROUP BY d.doc_id HAVING COUNT(DISTINCT d.shingle) >= 1
        |ORDER BY d.doc_id""".stripMargin,
    // repetition signals replayed as explicit frequency tables (the
    // engine computes the same values with an in-row sorted fold)
    "q_repetition" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |wf AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w),
        |ws AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words, COUNT(*) AS n_distinct_words,
        |       MAX(c) AS top_word_count FROM wf GROUP BY doc_id),
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS b
        |       FROM t, LATERAL (SELECT UNNEST(range(1, len(toks))) AS i) r),
        |bf AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b),
        |bs AS (SELECT doc_id, MAX(c) AS top_bigram_count FROM bf GROUP BY doc_id)
        |SELECT ws.doc_id, ws.n_words, ws.n_distinct_words, ws.top_word_count,
        |       GREATEST(ws.n_words - 1, 0) AS n_bigrams,
        |       COALESCE(bs.top_bigram_count, 0) AS top_bigram_count
        |FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id ORDER BY ws.doc_id""".stripMargin,
    // chunk dedup replayed as a first-occurrence window (the engine's
    // min(struct) winner agg has identical semantics)
    "q_chunk_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, i AS idx, array_to_string(toks[(i*2+1):(i*2+2)], ' ') AS chunk
        |      FROM t, LATERAL (SELECT UNNEST(range(0, CAST(ceil(len(toks)/2.0) AS BIGINT))) AS i) r),
        |s AS (SELECT doc_id, idx, chunk,
        |      ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn FROM c)
        |SELECT doc_id, string_agg(chunk, ' ' ORDER BY idx) AS text_dedup,
        |       COUNT(*) AS n_chunks_kept
        |FROM s WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // ExactSubstr replay: dup windows via GROUP BY the 20-char
    // substring itself (content-exact; the engine keys on xxhash64 of
    // the same content), covered positions = dup-start × offset,
    // spans = islands (covered i with i-1 uncovered), cut = ordered
    // string_agg over uncovered chars
    "q_exactsubstr" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
        |p AS (SELECT doc_id, i AS p, substr(text, i + 1, 20) AS w
        |      FROM d, UNNEST(range(0, length(text) - 19)) AS u(i)),
        |dup AS (SELECT w FROM p GROUP BY w HAVING COUNT(*) > 1),
        |ds AS (SELECT doc_id, p FROM p JOIN dup USING (w)),
        |cov AS (SELECT DISTINCT doc_id, p + j AS i FROM ds, UNNEST(range(0, 20)) AS v(j)),
        |chars AS (SELECT d.doc_id, c.i, substr(d.text, c.i + 1, 1) AS ch
        |          FROM d, UNNEST(range(0, length(text))) AS c(i)),
        |kept AS (SELECT c.doc_id,
        |  COALESCE(string_agg(CASE WHEN v.i IS NULL THEN ch END, '' ORDER BY c.i), '') AS text_dedup,
        |  SUM(CASE WHEN v.i IS NULL THEN 0 ELSE 1 END) AS n_removed,
        |  SUM(CASE WHEN v.i IS NOT NULL AND pv.i IS NULL THEN 1 ELSE 0 END) AS n_dup_spans
        |  FROM chars c
        |  LEFT JOIN cov v ON c.doc_id = v.doc_id AND c.i = v.i
        |  LEFT JOIN cov pv ON c.doc_id = pv.doc_id AND c.i - 1 = pv.i
        |  GROUP BY c.doc_id)
        |SELECT d.doc_id, COALESCE(k.text_dedup, '') AS text_dedup,
        |  CAST(COALESCE(k.n_dup_spans, 0) AS INT) AS n_dup_spans,
        |  CAST(COALESCE(k.n_removed, 0) AS INT) AS n_removed
        |FROM d LEFT JOIN kept k USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // chunk=6 stride=4; nwin = 1 + ceil((len-6)/4) via integer //;
    // DuckDB 1-based inclusive slice clamps at the end like Spark slice
    "q_sliding_chunks" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |w AS (SELECT doc_id, toks,
        |  CASE WHEN len(toks) <= 6 THEN 1
        |       ELSE (len(toks) - 6 + 3) // 4 + 1 END AS nwin FROM d)
        |SELECT doc_id, CAST(i AS INTEGER) AS idx,
        |  array_to_string(toks[(i*4+1):(i*4+6)], ' ') AS chunk
        |FROM w, LATERAL (SELECT UNNEST(range(0, nwin)) AS i) r
        |ORDER BY doc_id, idx""".stripMargin,
    // near-dup clusters (same pair list as q_neardup_clusters) + the
    // per-cluster best-quality representative
    "q_neardup_keep_best" ->
      (rankTokenCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """,sig AS (SELECT doc_id,
          |  MIN((3*token_id+1) % 1000003) AS mh0, MIN((5*token_id+8) % 1000003) AS mh1,
          |  MIN((7*token_id+15) % 1000003) AS mh2, MIN((9*token_id+22) % 1000003) AS mh3
          |  FROM tt GROUP BY doc_id),
          |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM sig a JOIN sig b
          |  ON a.doc_id < b.doc_id AND
          |     ((a.mh0 = b.mh0 AND a.mh1 = b.mh1) OR (a.mh2 = b.mh2 AND a.mh3 = b.mh3))),
          |sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM tt GROUP BY doc_id),
          |i AS (SELECT c.id_a, c.id_b, COUNT(*) AS inter FROM cand c
          |  JOIN tt ta ON ta.doc_id = c.id_a
          |  JOIN tt tb ON tb.doc_id = c.id_b AND ta.token_id = tb.token_id
          |  GROUP BY c.id_a, c.id_b),
          |ver AS (SELECT i.id_a, i.id_b
          |  FROM i JOIN sizes sa ON sa.doc_id = i.id_a JOIN sizes sb ON sb.doc_id = i.id_b
          |  WHERE 100*i.inter >= 60*(sa.n_tok + sb.n_tok - i.inter)),
          |und AS (SELECT id_a AS a, id_b AS b FROM ver UNION SELECT id_b, id_a FROM ver),
          |reach(src, dst) AS (
          |  SELECT a, b FROM und
          |  UNION
          |  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
          |comp AS (SELECT src AS node, LEAST(MIN(dst), src) AS component FROM reach GROUP BY src),
          |dc AS (SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS q,
          |       COALESCE(c.component, d.doc_id) AS cluster
          |       FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
          |rr AS (SELECT cluster, doc_id, q,
          |       ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY q DESC, doc_id ASC) AS rn,
          |       COUNT(*) OVER (PARTITION BY cluster) AS cluster_size,
          |       MAX(q) OVER (PARTITION BY cluster) AS best_q FROM dc)
          |SELECT cluster, doc_id AS keep_id, cluster_size, best_q
          |FROM rr WHERE rn = 1 ORDER BY cluster""".stripMargin),
    // classifier inference replayed token-by-token: same poly hash, same
    // inline weight formula w[b] = (b*37 % 21) - 10 over D=64 buckets
    "q_quality_classifier" -> {
      val p = graft.operators.Dedup.minhashBigPrime
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
         |tt AS (SELECT doc_id,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, length(token)+1),
         |        i -> CAST(ord(substr(token, CAST(i AS INT), 1)) AS BIGINT))),
         |    (h, c) -> (h*31 + c) % $p) AS token_id
         |  FROM tok),
         |s AS (SELECT doc_id,
         |  CAST(SUM(((token_id % 64)*37 % 21) - 10) AS BIGINT) AS score FROM tt GROUP BY doc_id)
         |SELECT doc_id, score, score > 0 AS keep FROM s ORDER BY doc_id""".stripMargin
    },
    "q_bpe_pairs" ->
      """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |bg AS (SELECT toks[i] || ' ' || toks[i+1] AS pair
        |       FROM t, LATERAL (SELECT UNNEST(range(1, len(toks))) AS i) r)
        |SELECT pair, COUNT(*) AS n FROM bg GROUP BY pair
        |ORDER BY n DESC, pair ASC LIMIT 20""".stripMargin,
    // same near-dup pair list; triangles counted by an ordered 3-way
    // self-join (independent of the engine's degree-ordered wedge plan)
    "q_neardup_triangles" ->
      (rankTokenCte +
        """,sig AS (SELECT doc_id,
          |  MIN((3*token_id+1) % 1000003) AS mh0, MIN((5*token_id+8) % 1000003) AS mh1,
          |  MIN((7*token_id+15) % 1000003) AS mh2, MIN((9*token_id+22) % 1000003) AS mh3
          |  FROM tt GROUP BY doc_id),
          |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM sig a JOIN sig b
          |  ON a.doc_id < b.doc_id AND
          |     ((a.mh0 = b.mh0 AND a.mh1 = b.mh1) OR (a.mh2 = b.mh2 AND a.mh3 = b.mh3))),
          |sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM tt GROUP BY doc_id),
          |i AS (SELECT c.id_a, c.id_b, COUNT(*) AS inter FROM cand c
          |  JOIN tt ta ON ta.doc_id = c.id_a
          |  JOIN tt tb ON tb.doc_id = c.id_b AND ta.token_id = tb.token_id
          |  GROUP BY c.id_a, c.id_b),
          |ver AS (SELECT i.id_a, i.id_b
          |  FROM i JOIN sizes sa ON sa.doc_id = i.id_a JOIN sizes sb ON sb.doc_id = i.id_b
          |  WHERE 100*i.inter >= 60*(sa.n_tok + sb.n_tok - i.inter)),
          |canon AS (SELECT DISTINCT
          |    LEAST(CAST(id_a AS VARCHAR), CAST(id_b AS VARCHAR)) AS u,
          |    GREATEST(CAST(id_a AS VARCHAR), CAST(id_b AS VARCHAR)) AS v FROM ver)
          |SELECT COUNT(*) AS n_triangles
          |FROM canon e1 JOIN canon e2 ON e2.u = e1.u AND e2.v > e1.v
          |JOIN canon e3 ON e3.u = e1.v AND e3.v = e2.v""".stripMargin),
    "q_profile" -> {
      val cols = Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
      cols.map { c =>
        s"""SELECT '$c' AS "column", COUNT($c) AS n,
           |  COUNT(*) - COUNT($c) AS n_nulls,
           |  COUNT(DISTINCT $c) AS n_distinct,
           |  CAST(MIN($c) AS VARCHAR) AS min_s, CAST(MAX($c) AS VARCHAR) AS max_s
           |FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },
    "q_bpe_learn" -> bpeLearnOracle(3),
    // mirror of Sampling.splitAssign: same poly hash over id||'#split',
    // same consecutive ppm ranges
    "q_split_assign" -> {
      val p = graft.operators.Dedup.minhashBigPrime
      s"""WITH h AS (SELECT doc_id, lang,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, length(CAST(doc_id AS VARCHAR) || '#split')+1),
         |        i -> CAST(ord(substr(CAST(doc_id AS VARCHAR) || '#split', CAST(i AS INT), 1)) AS BIGINT))),
         |    (h, c) -> (h*31 + c) % $p) % 1000000 AS b
         |  FROM documents)
         |SELECT doc_id, lang,
         |  CASE WHEN b < 800000 THEN 'train' WHEN b < 900000 THEN 'val' ELSE 'test' END AS split
         |FROM h ORDER BY doc_id""".stripMargin
    },
    "q_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(
        |    lower(text || chr(9) || ' ' || upper(lang) || chr(10)),
        |    '[^ -~]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
        |  length(trim(regexp_replace(regexp_replace(
        |    lower(text || chr(9) || ' ' || upper(lang) || chr(10)),
        |    '[^ -~]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_length_hist" ->
      """SELECT n_chars - n_chars % 100 AS bucket_lo, COUNT(*) AS n
        |FROM documents GROUP BY 1 ORDER BY bucket_lo""".stripMargin,
    "q_stream_static_join" ->
      """SELECT c_mktsegment, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY c_mktsegment, event_type""".stripMargin,
    // SUMs cast back to BIGINT (DuckDB SUM(bigint) is HUGEINT, which
    // pandas renders as float — same pitfall q_profile hit)
    "q_rare_tokens" ->
      """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
        |freq AS (SELECT token, COUNT(*) AS cf FROM tok GROUP BY token)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN cf < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |  CAST(SUM(cf) AS BIGINT) AS sum_cf
        |FROM tok JOIN freq USING (token)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_group_topk" ->
      """WITH r AS (SELECT doc_id, lang, n_chars,
        |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY -n_chars, doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, lang, n_chars FROM r WHERE rn <= 3 ORDER BY lang, doc_id""".stripMargin,
    // ASOF LEFT JOIN is DuckDB-native (greatest r.ts <= l.ts per key) —
    // an INDEPENDENT algorithm from the union+window plan. Right side
    // deduped to max click_id per (user_id, ts) == the tieBreak rule.
    "q_asof_attrib" ->
      """WITH c AS (SELECT user_id, ts, event_id AS click_id, value AS click_value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_type = 'click'),
        |c1 AS (SELECT user_id, ts, click_id, click_value FROM c WHERE rn = 1),
        |p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts, p.value, c1.click_id, c1.click_value
        |FROM p ASOF LEFT JOIN c1 ON p.user_id = c1.user_id AND p.ts >= c1.ts
        |ORDER BY p.event_id""".stripMargin,
    // plain inequality join — independent of the bucketed plan
    "q_interval_join" ->
      """WITH p AS (SELECT event_id AS point_id, epoch_us(ts) AS pm
        |  FROM events WHERE event_type = 'purchase'),
        |s AS (SELECT event_id AS interval_id, epoch_us(ts) AS sm
        |  FROM events WHERE event_type = 'signup')
        |SELECT point_id, interval_id FROM p JOIN s
        |ON p.pm >= s.sm AND p.pm <= s.sm + 21600000000
        |ORDER BY point_id, interval_id""".stripMargin,
    // bloom result == exact anti join by construction
    "q_decontaminate" ->
      """SELECT d.* FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM documents b
        |                  WHERE b.doc_id % 13 = 0 AND b.text = d.text)
        |ORDER BY d.doc_id""".stripMargin,
    // broadcast-table variant is the same exact anti join by construction
    "q_decontaminate_big" ->
      """SELECT d.* FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM documents b
        |                  WHERE b.doc_id % 13 = 0 AND b.text = d.text)
        |ORDER BY d.doc_id""".stripMargin,
    // same poly-id MinHash signatures, banding, and exact verify as the
    // engine, re-derived in SQL over the corpus and the benchmark subset
    "q_fuzzy_decontaminate" -> {
      val p = graft.operators.Dedup.minhashBigPrime
      val mins = graft.operators.Dedup.minhashCoeffs(4).zipWithIndex.map { case ((a, b), i) =>
        s"MIN(($a*token_id+$b) % $p) AS mh$i"
      }.mkString(", ")
      s"""WITH tokA AS (SELECT DISTINCT doc_id, token FROM
         |  (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)),
         |ttA AS (SELECT doc_id,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, length(token)+1),
         |        i -> CAST(ord(substr(token, CAST(i AS INT), 1)) AS BIGINT))),
         |    (h, c) -> (h*31 + c) % $p) AS token_id
         |  FROM tokA),
         |ttB AS (SELECT * FROM ttA WHERE doc_id % 13 = 0),
         |sigA AS (SELECT doc_id, $mins FROM ttA GROUP BY doc_id),
         |sigB AS (SELECT doc_id, $mins FROM ttB GROUP BY doc_id),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sigA a JOIN sigB b
         |  ON ((a.mh0 = b.mh0 AND a.mh1 = b.mh1) OR (a.mh2 = b.mh2 AND a.mh3 = b.mh3))),
         |szA AS (SELECT doc_id, COUNT(*) AS n_a FROM ttA GROUP BY doc_id),
         |szB AS (SELECT doc_id, COUNT(*) AS n_b FROM ttB GROUP BY doc_id),
         |i AS (SELECT c.id_a, c.id_b, COUNT(*) AS inter FROM cand c
         |  JOIN ttA ta ON ta.doc_id = c.id_a
         |  JOIN ttB tb ON tb.doc_id = c.id_b AND ta.token_id = tb.token_id
         |  GROUP BY c.id_a, c.id_b)
         |SELECT i.id_a AS doc_id, i.id_b AS bench_id, i.inter, sa.n_a, sb.n_b
         |FROM i JOIN szA sa ON sa.doc_id = i.id_a JOIN szB sb ON sb.doc_id = i.id_b
         |WHERE 100*i.inter >= 60*(sa.n_a + sb.n_b - i.inter)
         |ORDER BY doc_id, bench_id""".stripMargin
    },
    // k-core rounds unrolled; engine's early fixpoint exit is a no-op
    // relative to the full unroll
    "q_kcore" -> {
      val k = 3; val rounds = 3
      val sb = new StringBuilder(
        """WITH raw AS (SELECT DISTINCT user_id AS a, event_id % 97 AS b
          |  FROM events WHERE user_id <> event_id % 97),
          |e0 AS (SELECT a, b FROM raw UNION SELECT b AS a, a AS b FROM raw)""".stripMargin)
      for (i <- 0 until rounds) sb.append(
        s""",
           |d$i AS (SELECT a, COUNT(*) AS deg FROM e$i GROUP BY a),
           |k$i AS (SELECT a FROM d$i WHERE deg >= $k),
           |e${i + 1} AS (SELECT e.a, e.b FROM e$i e
           |  JOIN k$i x ON e.a = x.a JOIN k$i y ON e.b = y.a)""".stripMargin)
      sb.append(s"\nSELECT a AS id, COUNT(*) AS deg FROM e$rounds GROUP BY a ORDER BY id")
      sb.toString
    },
    // the MG prefilter is lossless, so the oracle is the plain aggregate
    "q_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS item FROM documents),
        |n AS (SELECT COUNT(*) AS total FROM tok)
        |SELECT item, COUNT(*) AS cnt FROM tok, n
        |GROUP BY item, n.total HAVING COUNT(*) >= CEIL(0.005 * n.total)
        |ORDER BY item""".stripMargin,
    // the bucketed layout is a physical property; the logical result is
    // the plain join+agg
    "q_bucketed_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // the k-th-smallest definition the refinement computes, as the rank
    // window (monotone scaling ⇒ same element; 2-decimal values make
    // scaled/100.0 re-land on the identical double)
    "q_quantile_refine" ->
      """WITH r AS (SELECT l_returnflag, l_quantity,
        |  ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn,
        |  COUNT(*) OVER (PARTITION BY l_returnflag) AS n FROM lineitem)
        |SELECT l_returnflag,
        |  MIN(CASE WHEN rn = CEIL(n*0.5) THEN l_quantity END) AS p50,
        |  MIN(CASE WHEN rn = CEIL(n*0.9) THEN l_quantity END) AS p90
        |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // single-batch file source ⇒ no late drops; streaming inner interval
    // join == the batch interval join
    "q_stream_stream_join" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |ON p.user_id = c.user_id AND c.ts >= p.ts - INTERVAL 6 HOUR AND c.ts <= p.ts
        |ORDER BY purchase_id, click_id""".stripMargin,
    "q_stream_stream_left" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |ON p.user_id = c.user_id AND c.ts >= p.ts - INTERVAL 6 HOUR AND c.ts <= p.ts
        |ORDER BY purchase_id, click_id""".stripMargin,
    "q_stream_stream_full" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |  COALESCE(p.user_id, c.user_id) AS user_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |ON p.user_id = c.user_id AND c.ts >= p.ts - INTERVAL 6 HOUR AND c.ts <= p.ts
        |ORDER BY purchase_id, click_id""".stripMargin,
    // Morton interleave unrolled in integer SQL — bit i of u at 4^i,
    // bit i of e at 2·4^i
    "q_zvalue" -> {
      val bits = 10
      val terms = (0 until bits).flatMap { i =>
        Seq(s"((u // ${1L << i}) % 2) * ${1L << (2 * i)}",
          s"((e // ${1L << i}) % 2) * ${1L << (2 * i + 1)}")
      }.mkString(" + ")
      s"""WITH b AS (SELECT event_id, user_id % 1024 AS u, event_id % 1024 AS e FROM events)
         |SELECT event_id, CAST($terms AS BIGINT) AS z FROM b ORDER BY event_id""".stripMargin
    },
    // deterministic ORDER BY (ts, event_id) inside the aggregate mirrors
    // the array_sort tiebreak
    "q_sequence_assembly" ->
      """SELECT user_id,
        |  string_agg(event_type, ',' ORDER BY ts, event_id) AS seq,
        |  COUNT(*) AS n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // same binning + descending cumulative + exact integer ppm
    "q_pr_curve" ->
      """WITH b AS (SELECT LEAST(n_chars // 50, 19) AS bin,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
        |p AS (SELECT bin, SUM(y) AS pos, SUM(1 - y) AS neg FROM b GROUP BY bin),
        |c AS (SELECT bin,
        |    SUM(pos) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
        |    SUM(neg) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
        |    SUM(pos) OVER () AS tot FROM p)
        |SELECT bin, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        |  CAST(tot - tp AS BIGINT) AS fn,
        |  CAST((tp * 1000000) // (tp + fp) AS BIGINT) AS precision_ppm,
        |  CASE WHEN tot = 0 THEN NULL
        |       ELSE CAST((tp * 1000000) // tot AS BIGINT) END AS recall_ppm
        |FROM c ORDER BY bin""".stripMargin,
    // same binning; ppm floor-div replayed
    "q_calibration" ->
      """SELECT LEAST(n_chars // 50, 19) AS bin, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        |  (LEAST(n_chars // 50, 19) * 1000000) // 20 AS bin_score_ppm,
        |  (CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // COUNT(*) AS pos_rate_ppm
        |FROM documents GROUP BY 1 ORDER BY bin""".stripMargin,
    // AUC by the RANK formulation (independent of the engine's pair
    // formulation): 2U = Σ_pos 2·avg_rank − n_pos(n_pos+1), with the
    // tie-group average rank 2r̄ = 2(below+1) + cnt − 1 kept doubled to
    // stay integer
    "q_auc" ->
      """WITH s AS (SELECT CAST(FLOOR(value / 10) AS BIGINT) AS s,
        |    CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS y FROM events),
        |g AS (SELECT s, COUNT(*) AS cnt, SUM(y) AS pos FROM s GROUP BY s),
        |c AS (SELECT s, cnt, pos,
        |    COALESCE(SUM(cnt) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |    FROM g),
        |t AS (SELECT CAST(SUM(pos) AS BIGINT) AS np, CAST(SUM(cnt - pos) AS BIGINT) AS nn,
        |    CAST(SUM(pos * (2 * (below + 1) + cnt - 1)) AS BIGINT) AS sum2r FROM c)
        |SELECT np AS n_pos, nn AS n_neg,
        |  sum2r - np * (np + 1) AS auc_num2,
        |  2 * np * nn AS auc_den2,
        |  CASE WHEN np = 0 OR nn = 0 THEN NULL
        |       ELSE ((sum2r - np * (np + 1)) * 1000000) // (2 * np * nn) END AS auc_ppm
        |FROM t""".stripMargin,
    // the same greedy rounds unrolled: seed = min vec_id, farthest point
    // next, ties to the smaller vec_id
    "q_coreset" ->
      """WITH q AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qe
        |  FROM embeddings),
        |qv AS (SELECT vec_id, unnest(qe) AS v, unnest(range(len(qe))) AS pos FROM q),
        |c0 AS (SELECT vec_id FROM q ORDER BY vec_id LIMIT 1),
        |cv0 AS (SELECT qv.pos, qv.v AS cv FROM qv, c0 WHERE qv.vec_id = c0.vec_id),
        |d1 AS (SELECT qv.vec_id, SUM((qv.v - cv0.cv)*(qv.v - cv0.cv)) AS d2
        |  FROM qv JOIN cv0 USING (pos) GROUP BY 1),
        |c1 AS (SELECT vec_id FROM d1 ORDER BY d2 DESC, vec_id LIMIT 1),
        |cv1 AS (SELECT qv.pos, qv.v AS cv FROM qv, c1 WHERE qv.vec_id = c1.vec_id),
        |e1 AS (SELECT qv.vec_id, SUM((qv.v - cv1.cv)*(qv.v - cv1.cv)) AS d2
        |  FROM qv JOIN cv1 USING (pos) GROUP BY 1),
        |d2r AS (SELECT d1.vec_id, LEAST(d1.d2, e1.d2) AS d2 FROM d1 JOIN e1 USING (vec_id)),
        |c2 AS (SELECT vec_id FROM d2r ORDER BY d2 DESC, vec_id LIMIT 1)
        |SELECT CAST(0 AS INTEGER) AS sel_order, c0.vec_id FROM c0
        |UNION ALL SELECT CAST(1 AS INTEGER), c1.vec_id FROM c1
        |UNION ALL SELECT CAST(2 AS INTEGER), c2.vec_id FROM c2
        |ORDER BY sel_order""".stripMargin,
    // q_ann_dot's quantized dot + the label-inequality predicate, top-2
    "q_hard_negatives" ->
      """WITH q AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 100 = 0),
        |pairs AS (
        |  SELECT q.vec_id AS qid, e.vec_id AS nid,
        |    (SELECT CAST(SUM(CAST(ROUND(CAST(z.x AS DOUBLE)*1000) AS BIGINT) *
        |                     CAST(ROUND(CAST(z.y AS DOUBLE)*1000) AS BIGINT)) AS BIGINT)
        |     FROM (SELECT UNNEST(q.embedding) AS x, UNNEST(e.embedding) AS y) z) AS dot
        |  FROM q, embeddings e WHERE e.vec_id <> q.vec_id AND e.label <> q.label)
        |SELECT qid, nid, dot, CAST(rn AS INTEGER) AS rn FROM (
        |  SELECT qid, nid, dot, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rn
        |  FROM pairs) WHERE rn <= 2 ORDER BY qid, rn""".stripMargin,
    // q_ann_lsh_mp's bucketed multi-probe candidates + the label predicate
    "q_hard_negatives_lsh" -> {
      val masks = graft.operators.Similarity.probeMasks(4, 1)
        .map(m => s"($m)").mkString(",")
      s"""WITH b AS (SELECT vec_id, embedding, label, ${signBucketSql(4)} AS bucket FROM embeddings),
         |q0 AS (SELECT * FROM b WHERE vec_id % 100 = 0),
         |q AS (SELECT q0.vec_id, q0.label, xor(q0.bucket, m.m) AS bucket
         |  FROM q0, (VALUES $masks) m(m)),
         |cand AS (SELECT DISTINCT q.vec_id AS qid, e.vec_id AS nid
         |  FROM q JOIN b e ON e.bucket = q.bucket AND e.vec_id <> q.vec_id
         |    AND e.label <> q.label),
         |pairs AS (
         |  SELECT c.qid, c.nid,
         |    (SELECT CAST(SUM(CAST(ROUND(CAST(z.x AS DOUBLE)*1000) AS BIGINT) *
         |                     CAST(ROUND(CAST(z.y AS DOUBLE)*1000) AS BIGINT)) AS BIGINT)
         |     FROM (SELECT UNNEST(qq.embedding) AS x, UNNEST(e.embedding) AS y) z) AS dot
         |  FROM cand c JOIN b qq ON qq.vec_id = c.qid JOIN b e ON e.vec_id = c.nid)
         |SELECT qid, nid, dot, CAST(rn AS INTEGER) AS rn FROM (
         |  SELECT qid, nid, dot, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rn
         |  FROM pairs) WHERE rn <= 2 ORDER BY qid, rn""".stripMargin
    },
    "q_semdedup" -> semdedupOracleSql(k = 8, iters = 2, minDotQ = 950000L),
    "q_dsir" -> dsirOracleSql(buckets = 256, targetMod = 50),
    "q_fuzzy_match" ->
      """WITH recs AS (
        |  SELECT c_custkey * 2 AS rid, c_name AS name FROM customer
        |  UNION ALL
        |  SELECT c_custkey * 2 + 1, substr(c_name, 1, 17) || 'X'
        |  FROM customer WHERE c_custkey % 3 = 0),
        |b AS (SELECT rid, name, substr(name, 1, 16) AS blk FROM recs),
        |p AS (SELECT a.rid AS id_a, c.rid AS id_b,
        |             a.name AS key_a, c.name AS key_b
        |      FROM b a JOIN b c ON a.blk = c.blk AND a.rid < c.rid
        |      WHERE abs(length(a.name) - length(c.name)) <= 1)
        |SELECT id_a, id_b, key_a, key_b,
        |       CAST(levenshtein(key_a, key_b) AS BIGINT) AS dist
        |FROM p WHERE levenshtein(key_a, key_b) <= 1
        |ORDER BY id_a, id_b""".stripMargin,
    "q_node_jaccard" ->
      """WITH e0 AS (SELECT DISTINCT least(user_id, user_id // 2) AS a,
        |                   greatest(user_id, user_id // 2) AS b
        |            FROM events WHERE user_id > 0 AND user_id != user_id // 2),
        |adj AS (SELECT a AS u, b AS w FROM e0 UNION ALL SELECT b, a FROM e0),
        |deg AS (SELECT u AS id, COUNT(*) AS deg FROM adj GROUP BY u),
        |cm AS (SELECT l.u AS u, r.u AS v, CAST(COUNT(*) AS BIGINT) AS common
        |       FROM adj l JOIN adj r ON l.w = r.w AND l.u < r.u
        |       GROUP BY 1, 2),
        |j AS (SELECT u, v, common, du.deg AS deg_u, dv.deg AS deg_v
        |      FROM cm JOIN deg du ON cm.u = du.id JOIN deg dv ON cm.v = dv.id)
        |SELECT u, v, common, deg_u, deg_v,
        |       (common * 1000000) // (deg_u + deg_v - common) AS jac_ppm
        |FROM j ORDER BY u, v""".stripMargin,
    "q_link_ra" ->
      """WITH e0 AS (SELECT DISTINCT least(user_id, user_id // 2) AS a,
        |                   greatest(user_id, user_id // 2) AS b
        |            FROM events WHERE user_id > 0 AND user_id != user_id // 2),
        |adj AS (SELECT a AS u, b AS w FROM e0 UNION ALL SELECT b, a FROM e0),
        |deg AS (SELECT u AS id, COUNT(*) AS deg FROM adj GROUP BY u)
        |SELECT l.u AS u, r.u AS v, CAST(COUNT(*) AS BIGINT) AS common,
        |       CAST(SUM(1000000 // d.deg) AS BIGINT) AS ra_ppm
        |FROM adj l JOIN adj r ON l.w = r.w AND l.u < r.u
        |JOIN deg d ON l.w = d.id
        |GROUP BY 1, 2 ORDER BY u, v""".stripMargin,
    "q_token_drift" ->
      """WITH tok AS (SELECT (lang = 'en') AS a,
        |    UNNEST(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT token,
        |    CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
        |    CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS cnt_b
        |  FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS n_a,
        |    CAST(SUM(cnt_b) AS BIGINT) AS n_b FROM c)
        |SELECT token, cnt_a, cnt_b,
        |  cnt_a * 1000000 // n_a AS ppm_a,
        |  cnt_b * 1000000 // n_b AS ppm_b,
        |  ABS(cnt_a * 1000000 // n_a - cnt_b * 1000000 // n_b) AS dev_ppm
        |FROM c CROSS JOIN tot ORDER BY token""".stripMargin,
    "q_graph_agg" ->
      """WITH e0 AS (SELECT DISTINCT least(user_id, user_id // 2) AS a,
        |                   greatest(user_id, user_id // 2) AS b
        |            FROM events WHERE user_id > 0 AND user_id != user_id // 2),
        |adj AS (SELECT a AS id, b AS nbr FROM e0 UNION ALL SELECT b, a FROM e0),
        |f AS (SELECT user_id AS nbr, COUNT(*) AS feat FROM events
        |      WHERE user_id > 0 GROUP BY 1)
        |SELECT id, COUNT(*) AS n_nbr, CAST(SUM(feat) AS BIGINT) AS f_sum,
        |       MIN(feat) AS f_min, MAX(feat) AS f_max,
        |       CAST(SUM(feat) AS BIGINT) // COUNT(*) AS f_mean
        |FROM adj JOIN f USING (nbr) GROUP BY id ORDER BY id""".stripMargin,
    "q_inverted_index" ->
      """WITH t0 AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
        |            FROM documents),
        |tok AS (SELECT DISTINCT doc_id, term FROM t0),
        |b AS (SELECT term, doc_id // 128 AS blk, COUNT(*) AS blk_df,
        |        string_agg(CAST(doc_id AS VARCHAR), '|' ORDER BY doc_id) AS postings
        |      FROM tok GROUP BY 1, 2),
        |d AS (SELECT term, CAST(SUM(blk_df) AS BIGINT) AS df FROM b GROUP BY term)
        |SELECT term, blk, blk_df, df, postings FROM b JOIN d USING (term)
        |ORDER BY term, blk""".stripMargin,
    "q_bool_and" ->
      """WITH t0 AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
        |            FROM documents),
        |tok AS (SELECT DISTINCT doc_id, term FROM t0),
        |q AS (SELECT term FROM (SELECT term, COUNT(*) AS df FROM tok GROUP BY term)
        |      ORDER BY df DESC, term LIMIT 3),
        |m AS (SELECT doc_id, COUNT(*) AS n_terms FROM tok JOIN q USING (term)
        |      GROUP BY doc_id)
        |SELECT doc_id, n_terms FROM m WHERE n_terms = (SELECT COUNT(*) FROM q)
        |ORDER BY doc_id""".stripMargin,
    "q_random_walks" -> (randomWalkCte +
      "\nSELECT walk_id, start, steps, path FROM w3 ORDER BY walk_id"),
    "q_skipgram" -> (randomWalkCte +
      """,
        |toks AS (SELECT string_split(path, '|') AS p FROM w3),
        |pairs AS (SELECT CAST(p[i + 1] AS BIGINT) AS center,
        |                 CAST(p[j + 1] AS BIGINT) AS context
        |          FROM toks,
        |               UNNEST(range(0, len(p))) AS a(i),
        |               UNNEST(range(greatest(i - 2, 0),
        |                            least(i + 2, len(p) - 1) + 1)) AS b(j)
        |          WHERE j != i)
        |SELECT center, context, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM pairs GROUP BY 1, 2 ORDER BY center, context""".stripMargin),
    "q_collocations" ->
      """WITH t0 AS (SELECT string_split(text, ' ') AS w FROM documents),
        |uni AS (SELECT u.tk AS w, COUNT(*) AS c
        |        FROM t0, UNNEST(w) AS u(tk) GROUP BY 1),
        |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tok FROM uni),
        |bi AS (SELECT w[i] AS a, w[i + 1] AS b, COUNT(*) AS c_ab
        |       FROM t0, UNNEST(range(1, len(w))) AS u(i)
        |       WHERE len(w) >= 2 GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        |SELECT a, b, c_ab, ua.c AS c_a, ub.c AS c_b,
        |       CAST((CAST(c_ab AS HUGEINT) * n_tok * 1000000)
        |         // (CAST(ua.c AS HUGEINT) * ub.c) AS BIGINT) AS lift_ppm
        |FROM bi JOIN uni ua ON bi.a = ua.w JOIN uni ub ON bi.b = ub.w
        |CROSS JOIN n ORDER BY a, b""".stripMargin,
    "q_stream_topk" ->
      """WITH c AS (SELECT date_trunc('hour', ts) AS ws, user_id, COUNT(*) AS cnt
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT ws, user_id, cnt,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY ws
        |             ORDER BY cnt DESC, user_id) AS BIGINT) AS rn FROM c)
        |SELECT ws, rn, user_id, cnt FROM r WHERE rn <= 3 ORDER BY ws, rn""".stripMargin,
    // chained earliest-after-previous funnel; each CTE is one step's
    // frontier, exactly the engine's min-agg + frontier-join rounds
    "q_funnel" ->
      """WITH s0 AS (SELECT user_id, MIN(ts) AS t FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s1 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |       JOIN s0 ON e.user_id = s0.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY 1)
        |SELECT CAST(0 AS INTEGER) AS step_idx, 'view' AS step,
        |       (SELECT COUNT(*) FROM s0) AS users
        |UNION ALL SELECT 1, 'click', (SELECT COUNT(*) FROM s1)
        |UNION ALL SELECT 2, 'purchase', (SELECT COUNT(*) FROM s2)
        |ORDER BY step_idx""".stripMargin,
    // integer-exact decay: weight = 1 << (32 - floor(age/86400)) capped
    // at 32 half-lives; epoch floored to seconds on both engines
    "q_decay" ->
      """WITH e AS (SELECT event_type AS key,
        |             CAST(FLOOR(epoch(ts)) AS BIGINT) AS tsec FROM events),
        |m AS (SELECT MAX(tsec) AS tmax FROM e),
        |w AS (SELECT key, CASE WHEN (tmax - tsec) // 86400 <= 32
        |        THEN (CAST(1 AS BIGINT) << CAST(32 - (tmax - tsec) // 86400 AS INTEGER))
        |        ELSE 0 END AS w
        |      FROM e, m)
        |SELECT key AS event_type, CAST(SUM(w) AS BIGINT) AS decayed_scaled,
        |       COUNT(*) AS n
        |FROM w GROUP BY 1 ORDER BY event_type""".stripMargin,
    // k-truss rounds unrolled (triangles enumerated u<v<w once each,
    // exploded into their 3 canonical edges, support-filtered); the
    // engine's early fixpoint exit is a no-op relative to the unroll.
    // Each eK feeds three joins of tK and then e(K+1): MATERIALIZED
    // keeps DuckDB from re-evaluating the chain once per reference
    "q_ktruss" -> {
      val k = 4; val rounds = 3
      def triSup(i: String, e: String) =
        s"""t$i AS MATERIALIZED (SELECT x.u AS a, x.v AS b, y.v AS c FROM $e x
           |  JOIN $e y ON y.u = x.u AND y.v > x.v
           |  JOIN $e z ON z.u = x.v AND z.v = y.v),
           |s$i AS (SELECT u, v, COUNT(*) AS sup FROM (
           |  SELECT a AS u, b AS v FROM t$i
           |  UNION ALL SELECT a, c FROM t$i
           |  UNION ALL SELECT b, c FROM t$i)
           |  GROUP BY u, v)""".stripMargin
      val sb = new StringBuilder(
        """WITH raw AS (SELECT event_id % 30 AS a, (event_id * 7 + user_id) % 30 AS b
          |  FROM events),
          |e0 AS MATERIALIZED (SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
          |  FROM raw WHERE a <> b)""".stripMargin)
      for (i <- 0 until rounds) sb.append(
        s""",
           |${triSup(i.toString, s"e$i")},
           |e${i + 1} AS MATERIALIZED (SELECT e.u, e.v FROM e$i e
           |  JOIN s$i s ON e.u = s.u AND e.v = s.v WHERE s.sup >= ${k - 2})""".stripMargin)
      sb.append(
        s""",
           |${triSup("f", s"e$rounds")}
           |SELECT e.u AS u, e.v AS v, CAST(COALESCE(s.sup, 0) AS BIGINT) AS sup
           |FROM e$rounds e LEFT JOIN sf s ON e.u = s.u AND e.v = s.v
           |ORDER BY e.u, e.v""".stripMargin)
      sb.toString
    },
    // per-community modularity terms, scaled by 4m² (pure BIGINT)
    "q_modularity" ->
      """WITH raw AS (SELECT user_id AS a, (user_id * 31 + 7) % 150 AS b FROM events),
        |e0 AS (SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
        |  FROM raw WHERE a <> b),
        |mm AS (SELECT COUNT(*) AS m FROM e0),
        |nodes AS (SELECT u AS id FROM e0 UNION SELECT v FROM e0),
        |comm AS (SELECT id, id % 5 AS comm FROM nodes),
        |deg AS (SELECT id, COUNT(*) AS d FROM
        |  (SELECT u AS id FROM e0 UNION ALL SELECT v FROM e0) GROUP BY id),
        |ds AS (SELECT c.comm, CAST(SUM(d.d) AS BIGINT) AS d_sum
        |  FROM deg d JOIN comm c USING (id) GROUP BY 1),
        |li AS (SELECT cu.comm, COUNT(*) AS l_intra FROM e0
        |  JOIN comm cu ON e0.u = cu.id JOIN comm cv ON e0.v = cv.id
        |  WHERE cu.comm = cv.comm GROUP BY 1)
        |SELECT ds.comm, CAST(COALESCE(li.l_intra, 0) AS BIGINT) AS l_intra, ds.d_sum,
        |  CAST(4 * mm.m * COALESCE(li.l_intra, 0) - ds.d_sum * ds.d_sum AS BIGINT) AS contrib
        |FROM ds LEFT JOIN li ON ds.comm = li.comm CROSS JOIN mm
        |ORDER BY ds.comm""".stripMargin,
    // learn the same 3 merges, replay them, aggregate the final token
    // table — the apply half shares bpeRoundSql with q_bpe_learn
    "q_bpe_apply" -> bpeApplyOracle(3),
    // C4 line rule replay: identical synthesized lines (DuckDB list
    // comprehension = the engine's transform/sequence), then the same
    // regex + word-count + javascript line filter and document verdict
    "q_c4_clean" ->
      s"""$synthLinesCte
         |SELECT doc_id,
         |  CAST(len(ls) AS BIGINT) AS total_lines,
         |  CAST(len(kept) AS BIGINT) AS kept_lines,
         |  COALESCE(array_to_string(kept, chr(10)), '') AS clean_text,
         |  (len(kept) >= 2 AND NOT contains(mltext, '{') AND
         |   NOT contains(lower(mltext), 'lorem ipsum')) AS keep
         |FROM (SELECT doc_id, ls, mltext,
         |  list_filter(ls, ln -> regexp_matches(ln, '[.!?]["'']?$$') AND
         |    len(string_split(ln, ' ')) >= 3 AND
         |    NOT contains(lower(ln), 'javascript')) AS kept
         |  FROM ml)
         |ORDER BY doc_id""".stripMargin,
    // Gopher rule replay over the first-line-duplicated form; every
    // ratio integer ppm with // (nonneg, so // == div)
    "q_gopher" ->
      s"""$synthLinesCte,
         |md AS (SELECT doc_id, ls || ls[1:1] AS l2 FROM ml),
         |mt AS (SELECT doc_id, l2, array_to_string(l2, chr(10)) AS text FROM md),
         |m AS (SELECT doc_id, l2, text,
         |  string_split(replace(text, chr(10), ' '), ' ') AS ws FROM mt),
         |g AS (SELECT doc_id,
         |  CAST(len(ws) AS BIGINT) AS n_words,
         |  CAST(list_aggregate(list_transform(ws, w -> length(w)), 'sum') AS BIGINT)
         |    AS wchars,
         |  CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT)
         |    AS alpha_w,
         |  CAST((length(text) - length(replace(text, '#', ''))) +
         |    (length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS sym,
         |  CAST(len(l2) AS BIGINT) AS n_lines,
         |  CAST(len(list_filter(l2, ln -> regexp_matches(ln, '^[-*•]'))) AS BIGINT)
         |    AS bullet,
         |  CAST(len(list_filter(l2, ln -> regexp_matches(ln, '\\.\\.\\.$$'))) AS BIGINT)
         |    AS ellip,
         |  CAST(len(l2) - len(list_distinct(l2)) AS BIGINT) AS dupl,
         |  CAST(list_aggregate(list_transform(l2, x -> length(x)), 'sum') AS BIGINT)
         |    AS chars,
         |  CAST(list_aggregate(list_transform(l2, x -> length(x)), 'sum') -
         |    list_aggregate(list_transform(list_distinct(l2), x -> length(x)), 'sum')
         |    AS BIGINT) AS duplc
         |  FROM m),
         |r AS (SELECT doc_id, n_words,
         |  wchars * 100 // greatest(n_words, 1) AS mean_wlen_c100,
         |  alpha_w * 1000000 // greatest(n_words, 1) AS alpha_words_ppm,
         |  sym * 1000000 // greatest(n_words, 1) AS symbol_word_ppm,
         |  bullet * 1000000 // greatest(n_lines, 1) AS bullet_lines_ppm,
         |  ellip * 1000000 // greatest(n_lines, 1) AS ellipsis_lines_ppm,
         |  dupl * 1000000 // greatest(n_lines, 1) AS dup_line_ppm,
         |  duplc * 1000000 // greatest(chars, 1) AS dup_line_char_ppm
         |  FROM g)
         |SELECT *, (n_words BETWEEN 20 AND 100 AND
         |  mean_wlen_c100 BETWEEN 300 AND 1000 AND
         |  alpha_words_ppm >= 800000 AND symbol_word_ppm <= 100000 AND
         |  bullet_lines_ppm <= 900000 AND ellipsis_lines_ppm <= 300000 AND
         |  dup_line_ppm <= 300000 AND dup_line_char_ppm <= 200000) AS keep
         |FROM r ORDER BY doc_id""".stripMargin,
    // URL normalization replay: same synthetic URLs, same regex steps
    "q_url_normalize" ->
      s"""$urlNormCte
         |SELECT event_id, norm_url, host, domain FROM n ORDER BY event_id""".stripMargin,
    "q_domain_profile" ->
      s"""$urlNormCte,
         |du AS (SELECT domain, norm_url, COUNT(*) AS c FROM n GROUP BY 1, 2)
         |SELECT domain, COUNT(*) AS distinct_urls,
         |  CAST(SUM(c) AS BIGINT) AS n_rows
         |FROM du GROUP BY 1 ORDER BY domain""".stripMargin,
    // negative-sampling replay: unigram^0.75 via the same IEEE ops
    // (bigint→double, sqrt, sqrt, divide, floor), lexicographic cumsum,
    // sha256-52bit draw positions, interval containment
    "q_neg_samples" ->
      """WITH uni AS (SELECT u.tk AS token, COUNT(*) AS c
        |  FROM (SELECT string_split(text, ' ') AS w FROM documents) t,
        |       UNNEST(w) AS u(tk) GROUP BY 1),
        |wt AS (SELECT token,
        |  CAST(FLOOR(CAST(c AS DOUBLE) / sqrt(sqrt(CAST(c AS DOUBLE)))) AS BIGINT)
        |    AS w FROM uni),
        |iv AS (SELECT token, w,
        |  COALESCE(CAST(SUM(w) OVER (ORDER BY token
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS lo
        |  FROM wt),
        |tw AS (SELECT CAST(SUM(w) AS BIGINT) AS total FROM wt),
        |d AS (SELECT CAST(r.range AS BIGINT) AS draw_id,
        |  CAST('0x' || substr(sha256(CAST(r.range AS VARCHAR)), 1, 13) AS BIGINT)
        |    % total AS pos
        |  FROM range(0, 1000) r, tw)
        |SELECT d.draw_id, iv.token, d.pos
        |FROM d JOIN iv ON d.pos >= iv.lo AND d.pos < iv.lo + iv.w
        |ORDER BY draw_id""".stripMargin,
    // longest-path layering via recursive (node, depth) pairs (UNION
    // dedups, so state is <= |V|·depth rows on this bounded DAG)
    "q_topo_layers" ->
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT event_id % 60 AS src,
        |    (event_id % 60) + 4 + (user_id % 7) AS dst
        |  FROM events WHERE (event_id % 60) + 4 + (user_id % 7) < 60),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |r(id, d) AS (
        |  SELECT id, CAST(0 AS BIGINT) FROM nodes
        |  UNION
        |  SELECT e.dst, r.d + 1 FROM r JOIN e ON e.src = r.id)
        |SELECT id, MAX(d) AS layer FROM r GROUP BY 1 ORDER BY id""".stripMargin,
    // earliest-arrival relaxation, 3 rounds unrolled (min-monotone, so
    // the engine's early fixpoint exit is a no-op relative to the unroll)
    "q_temporal_reach" -> {
      def relax(i: Int) =
        s"""m$i AS (SELECT e.dst AS id, MIN(e.ts) AS arrival
           |  FROM e JOIN r${i - 1} r ON e.src = r.id AND e.ts >= r.arrival
           |  GROUP BY 1),
           |r$i AS (SELECT id, MIN(arrival) AS arrival FROM (
           |  SELECT * FROM r${i - 1} UNION ALL SELECT * FROM m$i) GROUP BY 1)""".stripMargin
      s"""WITH e AS (SELECT DISTINCT user_id % 80 AS src,
         |    (user_id * 7 + event_id) % 80 AS dst,
         |    CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts
         |  FROM events WHERE user_id % 80 <> (user_id * 7 + event_id) % 80),
         |r0 AS (SELECT CAST(r.range AS BIGINT) AS id, CAST(0 AS BIGINT) AS arrival
         |  FROM range(0, 5) r),
         |${relax(1)},
         |${relax(2)},
         |${relax(3)}
         |SELECT id, arrival FROM r3 ORDER BY id""".stripMargin
    },
    // bipartite projection replay: same hub cap, self-join, support
    // filter, and integer cosine²·10³
    "q_item_pairs" ->
      """WITH ui AS (SELECT DISTINCT user_id AS u, event_id % 30 AS i FROM events),
        |ku AS (SELECT u FROM ui GROUP BY u HAVING COUNT(*) <= 25),
        |k AS (SELECT ui.u, ui.i FROM ui JOIN ku ON ui.u = ku.u),
        |dg AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS d FROM k GROUP BY 1),
        |p AS (SELECT x.i AS a, y.i AS b, CAST(COUNT(*) AS BIGINT) AS c_ab
        |  FROM k x JOIN k y ON x.u = y.u AND x.i < y.i
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT p.a, p.b, p.c_ab, da.d AS d_a, db.d AS d_b,
        |  p.c_ab * p.c_ab * 1000 // (da.d * db.d) AS cos2_ppt
        |FROM p JOIN dg da ON p.a = da.i JOIN dg db ON p.b = db.i
        |ORDER BY a, b""".stripMargin,
    // Markov transition replay: LEAD over (user) sequences ordered by
    // (ts, event_id), pair counts, ppm row normalization
    "q_transitions" ->
      """WITH s AS (SELECT user_id AS u, event_type AS st, ts, event_id,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nx
        |  FROM events),
        |c AS (SELECT st AS state, nx AS next_state, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM s WHERE nx IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT state, CAST(SUM(c) AS BIGINT) AS tot FROM c GROUP BY 1)
        |SELECT c.state, c.next_state, c.c, c.c * 1000000 // t.tot AS p_ppm
        |FROM c JOIN t ON c.state = t.state
        |ORDER BY c.state, c.next_state""".stripMargin,
    // HITS: 2 hub/authority rounds unrolled with integer L1
    // renormalization at every half-step, exactly the engine's rounds
    "q_hits" -> {
      def round(i: Int, prevHub: String) =
        s"""a${i}raw AS (SELECT e.dst AS id, CAST(SUM(p.hub) AS BIGINT) AS v
           |  FROM e JOIN $prevHub p ON e.src = p.id GROUP BY 1),
           |a$i AS (SELECT n.id,
           |  CAST((COALESCE(a.v, 0) * 1000000) // (SELECT SUM(v) FROM a${i}raw)
           |    AS BIGINT) AS auth
           |  FROM nodes n LEFT JOIN a${i}raw a ON n.id = a.id),
           |h${i}raw AS (SELECT e.src AS id, CAST(SUM(a.auth) AS BIGINT) AS v
           |  FROM e JOIN a$i a ON e.dst = a.id GROUP BY 1),
           |h$i AS (SELECT n.id,
           |  CAST((COALESCE(h.v, 0) * 1000000) // (SELECT SUM(v) FROM h${i}raw)
           |    AS BIGINT) AS hub
           |  FROM nodes n LEFT JOIN h${i}raw h ON n.id = h.id)""".stripMargin
      s"""WITH e AS (SELECT DISTINCT user_id % 90 AS src,
         |    (user_id * 11 + event_id) % 90 AS dst
         |  FROM events WHERE user_id % 90 <> (user_id * 11 + event_id) % 90),
         |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS hub FROM nodes),
         |${round(1, "h0")},
         |${round(2, "h1")}
         |SELECT h2.id, h2.hub, a2.auth FROM h2 JOIN a2 ON h2.id = a2.id
         |ORDER BY h2.id""".stripMargin
    },
    // corrupted-negative replay: same sha256-52bit draws, same filtered
    // collision joins
    "q_kg_negatives" ->
      """WITH base AS (SELECT DISTINCT user_id % 100 AS h, event_type AS r,
        |    event_id % 100 AS t FROM events),
        |corr AS (SELECT h, r, t,
        |  CAST('0x' || substr(sha256(concat_ws('|', h, r, t, 'T')), 1, 13) AS BIGINT)
        |    % 100 AS t_neg,
        |  CAST('0x' || substr(sha256(concat_ws('|', h, r, t, 'H')), 1, 13) AS BIGINT)
        |    % 100 AS h_neg
        |  FROM base)
        |SELECT c.h, c.r, c.t, c.t_neg, c.h_neg,
        |  (b1.t IS NOT NULL) AS t_neg_is_true,
        |  (b2.t IS NOT NULL) AS h_neg_is_true
        |FROM corr c
        |LEFT JOIN base b1 ON c.h = b1.h AND c.r = b1.r AND c.t_neg = b1.t
        |LEFT JOIN base b2 ON c.h_neg = b2.h AND c.r = b2.r AND c.t = b2.t
        |ORDER BY c.h, c.r, c.t""".stripMargin,
    // Louvain local-move replay: identical integer gain ordering
    // (4m·k_ic − 2k·(Σtot − own-degree correction)), argmax by
    // (score DESC, c ASC)
    "q_louvain_move" ->
      """WITH raw AS (SELECT user_id AS a, (user_id * 31 + 7) % 150 AS b FROM events),
        |e AS (SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
        |  FROM raw WHERE a <> b),
        |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
        |nodes AS (SELECT u AS id FROM e UNION SELECT v FROM e),
        |comm AS (SELECT id, id % 5 AS comm FROM nodes),
        |deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS k FROM
        |  (SELECT u AS id FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |sig AS (SELECT comm.comm AS c, CAST(SUM(deg.k) AS BIGINT) AS tot
        |  FROM deg JOIN comm ON deg.id = comm.id GROUP BY 1),
        |nbr AS (SELECT e.u AS i, c2.comm AS c, 1 AS w
        |    FROM e JOIN comm c2 ON e.v = c2.id
        |  UNION ALL SELECT e.v, c1.comm, 1 FROM e JOIN comm c1 ON e.u = c1.id
        |  UNION ALL SELECT id, comm, 0 FROM comm),
        |kic AS (SELECT i, c, CAST(SUM(w) AS BIGINT) AS k_ic FROM nbr GROUP BY 1, 2),
        |cand AS (SELECT kic.i, kic.c, comm.comm AS own,
        |    4 * mm.m * kic.k_ic - 2 * deg.k *
        |      (sig.tot - CASE WHEN kic.c = comm.comm THEN deg.k ELSE 0 END) AS score
        |  FROM kic JOIN sig ON kic.c = sig.c JOIN deg ON kic.i = deg.id
        |  JOIN comm ON kic.i = comm.id CROSS JOIN mm),
        |best AS (SELECT i, c, score,
        |    ROW_NUMBER() OVER (PARTITION BY i ORDER BY score DESC, c ASC) AS rn
        |  FROM cand),
        |stay AS (SELECT i, own AS old_comm, score AS stay_score
        |  FROM cand WHERE c = own)
        |SELECT s.i AS id, s.old_comm, b.c AS new_comm,
        |  b.score AS best_score, s.stay_score, (b.c <> s.old_comm) AS moved
        |FROM stay s JOIN best b ON s.i = b.i AND b.rn = 1
        |ORDER BY id""".stripMargin,
    // weighted Louvain replay: parallel edges merge by SUM(w), loops
    // count 2w in degree and never generate candidates, gain =
    // 4m·k_ic − 2k·(Σtot − own correction) with m = Σw
    "q_louvain_weighted" ->
      (louvainWeightedCte +
        """
          |SELECT s.i AS id, s.old_comm, b.c AS new_comm,
          |  b.score AS best_score, s.stay_score, (b.c <> s.old_comm) AS moved
          |FROM stay s JOIN best b ON s.i = b.i AND b.rn = 1
          |ORDER BY id""".stripMargin),
    // coarsening replay: endpoint→new-community map from the round's
    // argmax, then weight sums per (least, greatest) community pair
    "q_louvain_coarsen" ->
      (louvainWeightedCte +
        """,
          |newc AS (SELECT i AS id, c AS comm FROM best WHERE rn = 1)
          |SELECT LEAST(m1.comm, m2.comm) AS cu, GREATEST(m1.comm, m2.comm) AS cv,
          |  CAST(SUM(e.w) AS BIGINT) AS w
          |FROM e JOIN newc m1 ON e.u = m1.id JOIN newc m2 ON e.v = m2.id
          |GROUP BY 1, 2 ORDER BY cu, cv""".stripMargin),
    // Luby round replay: 52-bit sha256 priorities ("id@0"), strict
    // (p, id) local minima win, winners' neighborhoods drop
    "q_mis_round" ->
      """WITH raw AS (SELECT user_id % 80 AS a, (user_id * 17 + event_id) % 80 AS b
        |    FROM events),
        |e AS (SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
        |  FROM raw WHERE a <> b),
        |nodes AS (SELECT u AS id FROM e UNION SELECT v FROM e),
        |n AS (SELECT id, CAST('0x' || substr(sha256(CAST(id AS VARCHAR) || '@0'),
        |    1, 13) AS BIGINT) AS p FROM nodes),
        |adj AS (SELECT u AS id, v AS nbr FROM e UNION ALL SELECT v, u FROM e),
        |nmin AS (SELECT id, np, nbr FROM (
        |    SELECT adj.id, n2.p AS np, adj.nbr,
        |      ROW_NUMBER() OVER (PARTITION BY adj.id ORDER BY n2.p, adj.nbr) AS rn
        |    FROM adj JOIN n n2 ON adj.nbr = n2.id) WHERE rn = 1),
        |wins AS (SELECT n.id, n.p,
        |    (nm.id IS NULL OR (n.p, n.id) < (nm.np, nm.nbr)) AS w
        |  FROM n LEFT JOIN nmin nm ON n.id = nm.id),
        |dropped AS (SELECT DISTINCT adj.id FROM adj
        |    JOIN wins w2 ON adj.nbr = w2.id AND w2.w
        |  WHERE adj.id NOT IN (SELECT id FROM wins WHERE w))
        |SELECT w.id, w.p,
        |  CASE WHEN w.w THEN 'mis' WHEN d.id IS NOT NULL THEN 'dropped'
        |       ELSE 'active' END AS status
        |FROM wins w LEFT JOIN dropped d ON w.id = d.id
        |ORDER BY w.id""".stripMargin,
    // 2-hop GraphSAGE sampling replay: rank = ROW_NUMBER over
    // (sha52("src:dst") DESC, dst ASC) per frontier node, fanouts (3, 2)
    "q_khop_sample" ->
      """WITH raw AS (SELECT user_id % 60 AS src, (user_id * 7 + event_id) % 60 AS dst
        |    FROM events),
        |e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
        |eh AS (SELECT src, dst, CAST('0x' || substr(sha256(
        |    CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)), 1, 13) AS BIGINT) AS hv
        |  FROM e),
        |h0 AS (SELECT src, dst,
        |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY hv DESC, dst ASC) AS rn
        |  FROM eh WHERE src IN (0, 1, 2, 3, 4)),
        |s0 AS (SELECT CAST(0 AS BIGINT) AS hop, src, dst, rn FROM h0 WHERE rn <= 3),
        |f1 AS (SELECT DISTINCT dst AS id FROM s0),
        |h1 AS (SELECT src, dst,
        |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY hv DESC, dst ASC) AS rn
        |  FROM eh WHERE src IN (SELECT id FROM f1)),
        |s1 AS (SELECT CAST(1 AS BIGINT) AS hop, src, dst, rn FROM h1 WHERE rn <= 2)
        |SELECT hop, src, dst, CAST(rn AS BIGINT) AS rn FROM s0
        |UNION ALL SELECT hop, src, dst, CAST(rn AS BIGINT) AS rn FROM s1
        |ORDER BY hop, src, rn""".stripMargin,
    // Brandes replay on the layered DAG: sigma1 = 1 per direct edge,
    // sigma2 = predecessor count, delta(w) = sum 1e6 // sigma2 over
    // successors, bc = sum of deltas over sources (s != v)
    "q_betweenness" ->
      """WITH src AS (SELECT UNNEST([0, 1, 2, 3, 4]) AS s),
        |e01 AS (SELECT DISTINCT user_id % 20 AS src, 20 + (user_id * 7 + event_id) % 20 AS dst
        |  FROM events),
        |e12 AS (SELECT DISTINCT 20 + (user_id % 20) AS src, 40 + (user_id * 11 + event_id) % 20 AS dst
        |  FROM events),
        |e AS (SELECT src, dst FROM e01 UNION SELECT src, dst FROM e12),
        |l1 AS (SELECT s.s, e.dst AS v, CAST(1 AS BIGINT) AS sigma
        |  FROM src s JOIN e ON e.src = s.s),
        |l2 AS (SELECT l1.s, e.dst AS v, CAST(COUNT(*) AS BIGINT) AS sigma
        |  FROM l1 JOIN e ON e.src = l1.v GROUP BY 1, 2),
        |d1 AS (SELECT l1.s, l1.v, CAST(SUM(l1.sigma * 1000000 // l2.sigma) AS BIGINT) AS delta
        |  FROM l1 JOIN e ON e.src = l1.v
        |  JOIN l2 ON l2.s = l1.s AND l2.v = e.dst GROUP BY 1, 2),
        |an AS (SELECT s, v FROM l1 UNION SELECT s, v FROM l2)
        |SELECT an.v AS id, CAST(SUM(COALESCE(d1.delta, 0)) AS BIGINT) AS bc_ppm
        |FROM an LEFT JOIN d1 ON d1.s = an.s AND d1.v = an.v
        |WHERE an.s <> an.v
        |GROUP BY an.v ORDER BY id""".stripMargin,
    // clustering coefficient replay: triangles enumerated a<b<c once by
    // an ordered 3-way self-join, corners exploded, Watts-Strogatz ppm
    "q_clustering_coeff" ->
      """WITH raw AS (SELECT user_id % 70 AS a, (user_id * 13 + event_id) % 70 AS b
        |    FROM events),
        |e AS (SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
        |  FROM raw WHERE a <> b),
        |und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY 1),
        |tri AS (SELECT x.u AS a, x.v AS b, y.v AS c
        |  FROM e x JOIN e y ON y.u = x.v JOIN e z ON z.u = x.u AND z.v = y.v),
        |corners AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS tri FROM (
        |    SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri) GROUP BY 1)
        |SELECT d.node, d.deg, COALESCE(c.tri, 0) AS tri,
        |  CAST(CASE WHEN d.deg >= 2
        |    THEN 2 * COALESCE(c.tri, 0) * 1000000 // (d.deg * (d.deg - 1))
        |    ELSE 0 END AS BIGINT) AS cc_ppm
        |FROM deg d LEFT JOIN corners c USING (node) ORDER BY node""".stripMargin,
    // prefix-filtered exact Jaccard join replay: (df, token) global
    // order, prefix n - ceil(tau*n) + 1, list_intersect verify
    "q_setsim_join" ->
      """WITH docs AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts
        |    FROM documents),
        |tok AS (SELECT doc_id, UNNEST(ts) AS token FROM docs),
        |dfc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS tdf FROM tok GROUP BY 1),
        |ord AS (SELECT t.doc_id, list(t.token ORDER BY d.tdf, t.token) AS ots,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM tok t JOIN dfc d USING (token) GROUP BY t.doc_id),
        |pr AS (SELECT doc_id, ots, n,
        |    CAST(n - (500000 * n + 999999) // 1000000 + 1 AS BIGINT) AS p FROM ord),
        |pref AS (SELECT doc_id, UNNEST(ots[1:p]) AS token FROM pr),
        |cand AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
        |  FROM pref a JOIN pref b ON a.token = b.token AND a.doc_id < b.doc_id),
        |ver AS (SELECT c.u, c.v,
        |    CAST(len(list_intersect(x.ots, y.ots)) AS BIGINT) AS inter,
        |    x.n AS n_u, y.n AS n_v
        |  FROM cand c JOIN pr x ON c.u = x.doc_id JOIN pr y ON c.v = y.doc_id)
        |SELECT u, v, inter, n_u, n_v,
        |  inter * 1000000 // (n_u + n_v - inter) AS jac_ppm
        |FROM ver WHERE inter * 1000000 // (n_u + n_v - inter) >= 500000
        |ORDER BY u, v""".stripMargin,
    // vocab coverage replay: top-20 by (count DESC, token ASC), OOV
    // occurrences per doc
    "q_vocab_coverage" ->
      """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
        |    FROM documents),
        |vocab AS (SELECT token FROM (
        |    SELECT token, COUNT(*) AS c FROM tok GROUP BY 1)
        |  ORDER BY c DESC, token ASC LIMIT 20)
        |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
        |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000 // CAST(COUNT(*) AS BIGINT) AS oov_ppm
        |FROM tok t LEFT JOIN vocab v ON t.token = v.token
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    // winsorize replay: rank-ceil cutpoints with the IDENTICAL double
    // multiply (CAST AS DOUBLE * q) the engine's math.ceil(q*n) does
    "q_winsorize" ->
      """WITH base AS (SELECT lang AS g, n_chars AS v FROM documents
        |    WHERE n_chars IS NOT NULL),
        |r AS (SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rn,
        |    COUNT(*) OVER (PARTITION BY g) AS n FROM base),
        |c AS (SELECT g,
        |    CAST(MIN(CASE WHEN rn = CEIL(CAST(n AS DOUBLE) * 0.05) THEN v END)
        |      AS BIGINT) AS lo,
        |    CAST(MIN(CASE WHEN rn = CEIL(CAST(n AS DOUBLE) * 0.95) THEN v END)
        |      AS BIGINT) AS hi
        |  FROM r GROUP BY g)
        |SELECT b.g, b.v, c.lo, c.hi,
        |  GREATEST(c.lo, LEAST(c.hi, b.v)) AS v_clipped
        |FROM base b JOIN c USING (g) ORDER BY g, v""".stripMargin,
    // MAD outliers replayed with the rank-ceil median convention
    // (k = CEIL(n/2)-th smallest) for both the median and the MAD
    "q_mad_outliers" ->
      """WITH base AS (SELECT lang AS g, n_chars AS v FROM documents
        |    WHERE n_chars IS NOT NULL),
        |r AS (SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rn,
        |    COUNT(*) OVER (PARTITION BY g) AS n FROM base),
        |med AS (SELECT g, CAST(MIN(CASE WHEN rn = CEIL(n * 0.5) THEN v END) AS BIGINT)
        |    AS med FROM r GROUP BY g),
        |dev AS (SELECT b.g, b.v, m.med, ABS(b.v - m.med) AS d
        |  FROM base b JOIN med m USING (g)),
        |r2 AS (SELECT g, d, ROW_NUMBER() OVER (PARTITION BY g ORDER BY d) AS rn,
        |    COUNT(*) OVER (PARTITION BY g) AS n FROM dev),
        |mad AS (SELECT g, CAST(MIN(CASE WHEN rn = CEIL(n * 0.5) THEN d END) AS BIGINT)
        |    AS mad FROM r2 GROUP BY g)
        |SELECT dev.g, dev.v, dev.med, dev.d, mad.mad,
        |  (dev.d * 1000000 > 3000000 * mad.mad) AS outlier
        |FROM dev JOIN mad USING (g) ORDER BY g, v""".stripMargin
  )

  /** Shared DuckDB CTE replaying one WEIGHTED Louvain local-move round
    * (the q_louvain_weighted / q_louvain_coarsen fixture graph —
    * multigraph with self-loops, weights 1..5). Exposes e(u,v,w),
    * best(i,c,score,rn), stay(i,old_comm,stay_score). */
  private val louvainWeightedCte: String =
    """WITH raw AS (SELECT user_id % 60 AS a, (user_id * 13 + event_id) % 60 AS b,
      |    event_id % 5 + 1 AS w FROM events),
      |e AS (SELECT LEAST(a, b) AS u, GREATEST(a, b) AS v,
      |    CAST(SUM(w) AS BIGINT) AS w
      |  FROM raw GROUP BY 1, 2),
      |mm AS (SELECT CAST(SUM(w) AS BIGINT) AS m FROM e),
      |nodes AS (SELECT u AS id FROM e UNION SELECT v FROM e),
      |comm AS (SELECT id, id % 5 AS comm FROM nodes),
      |deg AS (SELECT id, CAST(SUM(k) AS BIGINT) AS k FROM (
      |    SELECT u AS id, w AS k FROM e WHERE u <> v
      |    UNION ALL SELECT v, w FROM e WHERE u <> v
      |    UNION ALL SELECT u, 2 * w FROM e WHERE u = v) GROUP BY 1),
      |sig AS (SELECT comm.comm AS c, CAST(SUM(deg.k) AS BIGINT) AS tot
      |  FROM deg JOIN comm ON deg.id = comm.id GROUP BY 1),
      |nbr AS (SELECT e.u AS i, c2.comm AS c, e.w
      |    FROM e JOIN comm c2 ON e.v = c2.id WHERE e.u <> e.v
      |  UNION ALL SELECT e.v, c1.comm, e.w
      |    FROM e JOIN comm c1 ON e.u = c1.id WHERE e.u <> e.v
      |  UNION ALL SELECT id, comm, 0 FROM comm),
      |kic AS (SELECT i, c, CAST(SUM(w) AS BIGINT) AS k_ic FROM nbr GROUP BY 1, 2),
      |cand AS (SELECT kic.i, kic.c, comm.comm AS own,
      |    4 * mm.m * kic.k_ic - 2 * deg.k *
      |      (sig.tot - CASE WHEN kic.c = comm.comm THEN deg.k ELSE 0 END) AS score
      |  FROM kic JOIN sig ON kic.c = sig.c JOIN deg ON kic.i = deg.id
      |  JOIN comm ON kic.i = comm.id CROSS JOIN mm),
      |best AS (SELECT i, c, score,
      |    ROW_NUMBER() OVER (PARTITION BY i ORDER BY score DESC, c ASC) AS rn
      |  FROM cand),
      |stay AS (SELECT i, own AS old_comm, score AS stay_score
      |  FROM cand WHERE c = own)""".stripMargin

  /** Shared CTE: the synthesized multi-line documents (5-word lines,
    * '.'-terminated unless (doc_id+i)%3==0) — DuckDB list-comprehension
    * twin of [[synthLineArr]]. Exposes ml(doc_id, ls, mltext). */
  private val synthLinesCte: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |ml AS (SELECT doc_id,
      |  [array_to_string(ws[i*5+1 : i*5+5], ' ') ||
      |     (CASE WHEN (doc_id + i) % 3 = 0 THEN '' ELSE '.' END)
      |   FOR i IN range(0, (len(ws) + 4) // 5)] AS ls,
      |  array_to_string(
      |    [array_to_string(ws[i*5+1 : i*5+5], ' ') ||
      |       (CASE WHEN (doc_id + i) % 3 = 0 THEN '' ELSE '.' END)
      |     FOR i IN range(0, (len(ws) + 4) // 5)], chr(10)) AS mltext
      |  FROM w)""".stripMargin

  /** Shared CTE: synthetic URLs over events + the normalization replay.
    * Exposes n(event_id, norm_url, host, domain). */
  private val urlNormCte: String =
    """WITH u AS (SELECT event_id,
      |  (CASE WHEN event_id % 2 = 0 THEN 'HTTPS' ELSE 'HTTP' END) ||
      |  '://WWW.Example' || CAST(user_id % 20 AS VARCHAR) || '.COM' ||
      |  (CASE WHEN event_id % 3 = 0 THEN ':443'
      |        WHEN event_id % 3 = 1 THEN ':8080' ELSE '' END) ||
      |  (CASE WHEN event_id % 7 = 0 THEN ''
      |        ELSE '/Path/' || CAST(event_id % 50 AS VARCHAR) END) ||
      |  (CASE WHEN event_id % 4 = 0
      |          THEN '?utm_source=news&q=' || CAST(user_id % 5 AS VARCHAR) || '&gclid=g1'
      |        WHEN event_id % 4 = 1 THEN '?q=' || CAST(user_id % 5 AS VARCHAR)
      |        WHEN event_id % 4 = 2 THEN '?utm_campaign=x' ELSE '' END) ||
      |  (CASE WHEN event_id % 5 = 0 THEN '#Frag' ELSE '' END) AS url
      |  FROM events),
      |p AS (SELECT event_id, url,
      |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |  string_split(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://(.*)$', 1),
      |    '#')[1] AS nofrag
      |  FROM u),
      |q AS (SELECT event_id, url, scheme, nofrag,
      |  regexp_extract(nofrag, '^([^/?]*)', 1) AS authority FROM p),
      |s AS (SELECT event_id, url, scheme, authority,
      |  substr(nofrag, length(authority) + 1) AS pathq,
      |  lower(string_split(authority, ':')[1]) AS host,
      |  regexp_extract(authority, ':([0-9]+)$', 1) AS port
      |  FROM q),
      |f AS (SELECT event_id, url, scheme, host,
      |  (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
      |          OR (scheme = 'https' AND port = '443') THEN ''
      |        ELSE ':' || port END) AS portpart,
      |  (CASE WHEN regexp_extract(pathq, '^([^?]*)', 1) = '' THEN '/'
      |        ELSE regexp_extract(pathq, '^([^?]*)', 1) END) AS pathn,
      |  COALESCE(array_to_string(list_filter(
      |    string_split(regexp_extract(pathq, '\?(.*)$', 1), '&'),
      |    pp -> NOT regexp_matches(pp, '^(utm_[^=]*|fbclid|gclid)(=|$)')
      |          AND pp <> ''), '&'), '') AS qn
      |  FROM s),
      |n AS (SELECT event_id,
      |  (CASE WHEN scheme = '' THEN url
      |        ELSE scheme || '://' || host || portpart || pathn ||
      |          (CASE WHEN qn = '' THEN '' ELSE '?' || qn END) END) AS norm_url,
      |  host,
      |  regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain
      |  FROM f)""".stripMargin

  /** DSIR oracle: hashed unigram+bigram features (the polyTokenId fold,
    * minhashPolyOracleSql convention) mod `buckets`, target/raw bucket
    * counts, add-1 smoothed HUGEINT ratio in ppm, mean per document. */
  private def dsirOracleSql(buckets: Int, targetMod: Int): String = {
    val p = graft.operators.Dedup.minhashBigPrime
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |grams AS (
       |  SELECT doc_id, unnest(toks) AS gram FROM tk
       |  UNION ALL
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |    i -> toks[i] || ' ' || toks[i+1])) AS gram FROM tk),
       |fb AS (SELECT doc_id,
       |  list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, length(gram)+1),
       |        i -> CAST(ord(substr(gram, CAST(i AS INT), 1)) AS BIGINT))),
       |    (h, c) -> (h*31 + c) % $p) % $buckets AS bucket
       |  FROM grams),
       |tcnt AS (SELECT bucket, COUNT(*) AS ct FROM fb WHERE doc_id % $targetMod = 0 GROUP BY 1),
       |rcnt AS (SELECT bucket, COUNT(*) AS cr FROM fb GROUP BY 1),
       |tot AS (SELECT (SELECT COUNT(*) FROM fb WHERE doc_id % $targetMod = 0) AS nt,
       |  (SELECT COUNT(*) FROM fb) AS nr),
       |ratios AS (SELECT r.bucket,
       |  CAST((CAST(COALESCE(t.ct, 0) + 1 AS HUGEINT) * (tot.nr + $buckets) * 1000000)
       |    // (CAST(r.cr + 1 AS HUGEINT) * (tot.nt + $buckets)) AS BIGINT) AS ratio_ppm
       |  FROM rcnt r LEFT JOIN tcnt t USING (bucket), tot)
       |SELECT f.doc_id, COUNT(*) AS n_features,
       |  CAST(SUM(ratio_ppm) // COUNT(*) AS BIGINT) AS score_ppm
       |FROM fb f JOIN ratios USING (bucket) GROUP BY 1 ORDER BY doc_id""".stripMargin
  }

  /** One unrolled BPE round in DuckDB SQL — the same closed form the
    * engine uses (greedy non-overlap = odd offsets inside match runs,
    * gaps-and-islands over windows), derived independently in SQL. */
  private def bpeRoundSql(i: Int): String =
    s"""p$i AS (SELECT doc_id, pos, token,
       |  lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt FROM t${i - 1}),
       |top$i AS (SELECT token AS l, nxt AS r, COUNT(*) AS n FROM p$i WHERE nxt IS NOT NULL
       |  GROUP BY token, nxt ORDER BY n DESC, l ASC, r ASC LIMIT 1),
       |m$i AS (SELECT doc_id, pos, token, nxt,
       |  CASE WHEN token = (SELECT l FROM top$i) AND nxt = (SELECT r FROM top$i)
       |       THEN 1 ELSE 0 END AS m FROM p$i),
       |w$i AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rn,
       |  CASE WHEN m = 1 THEN ROW_NUMBER() OVER (PARTITION BY doc_id, m ORDER BY pos) END AS rnm
       |  FROM m$i),
       |x$i AS (SELECT *, CASE WHEN m = 1 AND
       |    (ROW_NUMBER() OVER (PARTITION BY doc_id, rn - rnm ORDER BY pos)) % 2 = 1
       |  THEN 1 ELSE 0 END AS mrg FROM w$i),
       |y$i AS (SELECT *, COALESCE(lag(mrg) OVER (PARTITION BY doc_id ORDER BY pos), 0) AS pmrg
       |  FROM x$i),
       |t$i AS (SELECT doc_id, pos,
       |  CASE WHEN mrg = 1 THEN token || ' ' || nxt ELSE token END AS token
       |  FROM y$i WHERE pmrg = 0)""".stripMargin

  /** Apply-half oracle: the identical learn rounds, but the final select
    * aggregates the MERGED token table instead of the merge list. */
  private def bpeApplyOracle(rounds: Int): String = {
    val t0 =
      """WITH t0 AS (SELECT doc_id, i AS pos, toks[i] AS token
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) s,
        |  LATERAL (SELECT UNNEST(range(1, len(toks) + 1)) AS i) lat),
        |""".stripMargin
    val body = (1 to rounds).map(bpeRoundSql).mkString(",\n")
    t0 + body +
      s"\nSELECT token, COUNT(*) AS cnt FROM t$rounds GROUP BY token ORDER BY token"
  }

  private def bpeLearnOracle(rounds: Int): String = {
    val t0 =
      """WITH t0 AS (SELECT doc_id, i AS pos, toks[i] AS token
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) s,
        |  LATERAL (SELECT UNNEST(range(1, len(toks) + 1)) AS i) lat),
        |""".stripMargin
    val body = (1 to rounds).map(bpeRoundSql).mkString(",\n")
    val finalSel = (1 to rounds)
      .map(i => s"SELECT $i AS round, l AS pair_l, r AS pair_r, n FROM top$i")
      .mkString("\nUNION ALL\n")
    t0 + body + "\n" + finalSel + "\nORDER BY round"
  }

  /** SQL mirror of the full Ivf pipeline (quantize → stride init → k
    * unrolled Lloyd iterations with half-up integer means and
    * empty-cluster carry-forward → cell assignment → nProbe search →
    * top-k by quantized dot). Pure integer arithmetic end to end. */
  /** SemDeDup oracle: replay Ivf.train on the copy-planted corpus (the
    * ivfOracleSql iteration shape), the within-cell pair scan with the
    * exact integer dot threshold, and the duplicate-group connected
    * components via recursive CTE (min-id representative — the
    * ConnectedComponents contract). */
  private def semdedupOracleSql(k: Int, iters: Int, minDotQ: Long): String = {
    def iteration(i: Int): String = {
      val prev = s"cv${i - 1}"
      s"""d$i AS (SELECT v.vec_id, c.cid, SUM((v.v-c.cv)*(v.v-c.cv)) AS d2
         |  FROM qv v JOIN $prev c USING (pos) GROUP BY 1,2),
         |a$i AS (SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d$i)
         |  WHERE rn = 1),
         |s$i AS (SELECT a.cid, v.pos,
         |  CAST(FLOOR((2*SUM(v.v)+COUNT(*))/(2.0*COUNT(*))) AS BIGINT) AS cv
         |  FROM a$i a JOIN qv v USING (vec_id) GROUP BY 1,2),
         |cv$i AS (SELECT c.cid, c.pos, COALESCE(s.cv, c.cv) AS cv
         |  FROM $prev c LEFT JOIN s$i s USING (cid, pos)),""".stripMargin
    }
    s"""WITH RECURSIVE q AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qe
       |  FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 100000,
       |    list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE)*1000) AS BIGINT))
       |  FROM embeddings WHERE vec_id % 20 = 0),
       |p AS (SELECT GREATEST(1, (SELECT COUNT(*) FROM q) // $k) AS stride),
       |qv AS (SELECT vec_id, unnest(qe) AS v, unnest(range(len(qe))) AS pos FROM q),
       |cv0 AS (SELECT CAST(vec_id // stride AS INT) AS cid, pos, v AS cv
       |  FROM qv, p WHERE vec_id % stride = 0 AND vec_id < stride*$k),
       |${(1 to iters).map(iteration).mkString("\n")}
       |df AS (SELECT v.vec_id, c.cid, SUM((v.v-c.cv)*(v.v-c.cv)) AS d2
       |  FROM qv v JOIN cv$iters c USING (pos) GROUP BY 1,2),
       |cells AS (SELECT vec_id AS nid, cid FROM (
       |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM df)
       |  WHERE rn = 1),
       |cand AS (SELECT a.nid AS ia, b.nid AS ib FROM cells a
       |  JOIN cells b ON a.cid = b.cid AND a.nid < b.nid),
       |dots AS (SELECT c.ia, c.ib, SUM(x.v*y.v) AS dot
       |  FROM cand c JOIN qv x ON x.vec_id = c.ia
       |  JOIN qv y ON y.vec_id = c.ib AND y.pos = x.pos GROUP BY 1,2),
       |dup AS (SELECT ia AS a, ib AS b FROM dots WHERE dot >= $minDotQ),
       |und AS (SELECT a, b FROM dup UNION SELECT b, a FROM dup),
       |reach(src, dst) AS (
       |  SELECT a, b FROM und
       |  UNION
       |  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
       |comp AS (SELECT src AS vid, LEAST(MIN(dst), src) AS rep FROM reach GROUP BY src)
       |SELECT q.vec_id, ce.cid, COALESCE(c.rep, q.vec_id) AS rep_id,
       |  CAST(CASE WHEN COALESCE(c.rep, q.vec_id) = q.vec_id THEN 1 ELSE 0 END AS INTEGER) AS keep
       |FROM q JOIN cells ce ON ce.nid = q.vec_id LEFT JOIN comp c ON c.vid = q.vec_id
       |ORDER BY q.vec_id""".stripMargin
  }

  private def ivfOracleSql(k: Int, iters: Int, nProbe: Int, topK: Int): String = {
    def iteration(i: Int): String = {
      val prev = s"cv${i - 1}"
      s"""d$i AS (SELECT v.vec_id, c.cid, SUM((v.v-c.cv)*(v.v-c.cv)) AS d2
         |  FROM qv v JOIN $prev c USING (pos) GROUP BY 1,2),
         |a$i AS (SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d$i)
         |  WHERE rn = 1),
         |s$i AS (SELECT a.cid, v.pos,
         |  CAST(FLOOR((2*SUM(v.v)+COUNT(*))/(2.0*COUNT(*))) AS BIGINT) AS cv
         |  FROM a$i a JOIN qv v USING (vec_id) GROUP BY 1,2),
         |cv$i AS (SELECT c.cid, c.pos, COALESCE(s.cv, c.cv) AS cv
         |  FROM $prev c LEFT JOIN s$i s USING (cid, pos)),""".stripMargin
    }
    s"""WITH q AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qe
       |  FROM embeddings),
       |p AS (SELECT GREATEST(1, (SELECT COUNT(*) FROM q) // $k) AS stride),
       |qv AS (SELECT vec_id, unnest(qe) AS v, unnest(range(len(qe))) AS pos FROM q),
       |cv0 AS (SELECT CAST(vec_id // stride AS INT) AS cid, pos, v AS cv
       |  FROM qv, p WHERE vec_id % stride = 0 AND vec_id < stride*$k),
       |${(1 to iters).map(iteration).mkString("\n")}
       |df AS (SELECT v.vec_id, c.cid, SUM((v.v-c.cv)*(v.v-c.cv)) AS d2
       |  FROM qv v JOIN cv$iters c USING (pos) GROUP BY 1,2),
       |cells AS (SELECT vec_id AS nid, cid FROM (
       |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM df)
       |  WHERE rn = 1),
       |pcells AS (SELECT vec_id AS qid, cid FROM (
       |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |  FROM df WHERE vec_id % 100 = 0) WHERE rn <= $nProbe),
       |cand AS (SELECT p.qid, i.nid FROM pcells p JOIN cells i USING (cid) WHERE i.nid <> p.qid),
       |dots AS (SELECT c.qid, c.nid, CAST(SUM(a.v*b.v) AS BIGINT) AS dot
       |  FROM cand c JOIN qv a ON a.vec_id = c.qid JOIN qv b ON b.vec_id = c.nid AND b.pos = a.pos
       |  GROUP BY 1,2)
       |SELECT qid, nid, dot FROM (
       |  SELECT qid, nid, dot, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rn
       |  FROM dots) WHERE rn <= $topK ORDER BY qid""".stripMargin
  }

  /** PQ oracle: per-subspace Lloyd unrolled in SQL (the ivfOracleSql
    * pattern with a `sub` key), then encoding + ADC LUT scoring — the
    * same integer conventions (quantize ×1000, half-up means,
    * (d2, cid) lexicographic argmin). */
  private def pqOracleSql(m: Int, subdim: Int, k: Int, iters: Int, topK: Int): String = {
    def iteration(i: Int): String = {
      val prev = s"cv${i - 1}"
      s"""d$i AS (SELECT v.vec_id, v.sub, c.cid, SUM((v.v-c.cv)*(v.v-c.cv)) AS d2
         |  FROM qv v JOIN $prev c ON c.sub = v.sub AND c.spos = v.spos GROUP BY 1,2,3),
         |a$i AS (SELECT vec_id, sub, cid FROM (
         |  SELECT vec_id, sub, cid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn FROM d$i)
         |  WHERE rn = 1),
         |s$i AS (SELECT a.sub, a.cid, v.spos,
         |  CAST(FLOOR((2*SUM(v.v)+COUNT(*))/(2.0*COUNT(*))) AS BIGINT) AS cv
         |  FROM a$i a JOIN qv v ON v.vec_id = a.vec_id AND v.sub = a.sub GROUP BY 1,2,3),
         |cv$i AS (SELECT c.sub, c.cid, c.spos, COALESCE(s.cv, c.cv) AS cv
         |  FROM $prev c LEFT JOIN s$i s ON s.sub = c.sub AND s.cid = c.cid AND s.spos = c.spos),""".stripMargin
    }
    s"""WITH q AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qe
       |  FROM embeddings),
       |p AS (SELECT GREATEST(1, (SELECT COUNT(*) FROM q) // $k) AS stride),
       |qv AS (SELECT vec_id, CAST(pos // $subdim AS INT) AS sub, pos % $subdim AS spos, v FROM
       |  (SELECT vec_id, unnest(qe) AS v, unnest(range(len(qe))) AS pos FROM q)),
       |cv0 AS (SELECT sub, CAST(vec_id // stride AS INT) AS cid, spos, v AS cv
       |  FROM qv, p WHERE vec_id % stride = 0 AND vec_id < stride*$k),
       |${(1 to iters).map(iteration).mkString("\n")}
       |de AS (SELECT v.vec_id, v.sub, c.cid, SUM((v.v-c.cv)*(v.v-c.cv)) AS d2
       |  FROM qv v JOIN cv$iters c ON c.sub = v.sub AND c.spos = v.spos GROUP BY 1,2,3),
       |codes AS (SELECT vec_id, sub, cid FROM (
       |  SELECT vec_id, sub, cid,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn FROM de)
       |  WHERE rn = 1),
       |lut AS (SELECT v.vec_id AS qid, c.sub, c.cid, CAST(SUM(v.v * c.cv) AS BIGINT) AS dot
       |  FROM qv v JOIN cv$iters c ON c.sub = v.sub AND c.spos = v.spos
       |  WHERE v.vec_id % 100 = 0 GROUP BY 1,2,3),
       |sc AS (SELECT l.qid, co.vec_id AS nid, CAST(SUM(l.dot) AS BIGINT) AS score
       |  FROM codes co JOIN lut l ON l.sub = co.sub AND l.cid = co.cid
       |  WHERE co.vec_id <> l.qid GROUP BY 1,2)
       |SELECT qid, nid, score, rn FROM (
       |  SELECT qid, nid, score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS BIGINT) AS rn
       |  FROM sc) WHERE rn <= $topK ORDER BY qid, rn""".stripMargin
  }

  /** IVF+PQ oracle: BOTH trainings unrolled — full-vector Lloyd for the
    * coarse cells (the ivfOracleSql iteration shape) AND per-subspace
    * Lloyd for the codebooks (the pqOracleSql shape, CTEs prefixed
    * `p`) — then cell-probe candidate generation ⋈ ADC LUT scoring.
    * kIvf == kPq so the init stride CTE is shared. */
  private def ivfPqOracleSql(k: Int, ivfIters: Int, nProbe: Int,
                             subdim: Int, pqIters: Int, topK: Int): String = {
    def ivfIter(i: Int): String = {
      val prev = s"cv${i - 1}"
      s"""d$i AS (SELECT v.vec_id, c.cid, SUM((v.v-c.cv)*(v.v-c.cv)) AS d2
         |  FROM qv v JOIN $prev c USING (pos) GROUP BY 1,2),
         |a$i AS (SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d$i)
         |  WHERE rn = 1),
         |s$i AS (SELECT a.cid, v.pos,
         |  CAST(FLOOR((2*SUM(v.v)+COUNT(*))/(2.0*COUNT(*))) AS BIGINT) AS cv
         |  FROM a$i a JOIN qv v USING (vec_id) GROUP BY 1,2),
         |cv$i AS (SELECT c.cid, c.pos, COALESCE(s.cv, c.cv) AS cv
         |  FROM $prev c LEFT JOIN s$i s USING (cid, pos)),""".stripMargin
    }
    def pqIter(i: Int): String = {
      val prev = s"pcv${i - 1}"
      s"""pd$i AS (SELECT v.vec_id, v.sub, c.cid, SUM((v.v-c.cv)*(v.v-c.cv)) AS d2
         |  FROM sqv v JOIN $prev c ON c.sub = v.sub AND c.spos = v.spos GROUP BY 1,2,3),
         |pa$i AS (SELECT vec_id, sub, cid FROM (
         |  SELECT vec_id, sub, cid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn FROM pd$i)
         |  WHERE rn = 1),
         |ps$i AS (SELECT a.sub, a.cid, v.spos,
         |  CAST(FLOOR((2*SUM(v.v)+COUNT(*))/(2.0*COUNT(*))) AS BIGINT) AS cv
         |  FROM pa$i a JOIN sqv v ON v.vec_id = a.vec_id AND v.sub = a.sub GROUP BY 1,2,3),
         |pcv$i AS (SELECT c.sub, c.cid, c.spos, COALESCE(s.cv, c.cv) AS cv
         |  FROM $prev c LEFT JOIN ps$i s ON s.sub = c.sub AND s.cid = c.cid AND s.spos = c.spos),""".stripMargin
    }
    s"""WITH q AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qe
       |  FROM embeddings),
       |p AS (SELECT GREATEST(1, (SELECT COUNT(*) FROM q) // $k) AS stride),
       |qv AS (SELECT vec_id, unnest(qe) AS v, unnest(range(len(qe))) AS pos FROM q),
       |cv0 AS (SELECT CAST(vec_id // stride AS INT) AS cid, pos, v AS cv
       |  FROM qv, p WHERE vec_id % stride = 0 AND vec_id < stride*$k),
       |${(1 to ivfIters).map(ivfIter).mkString("\n")}
       |df AS (SELECT v.vec_id, c.cid, SUM((v.v-c.cv)*(v.v-c.cv)) AS d2
       |  FROM qv v JOIN cv$ivfIters c USING (pos) GROUP BY 1,2),
       |cells AS (SELECT vec_id AS nid, cid FROM (
       |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM df)
       |  WHERE rn = 1),
       |pcells AS (SELECT vec_id AS qid, cid FROM (
       |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |  FROM df WHERE vec_id % 100 = 0) WHERE rn <= $nProbe),
       |sqv AS (SELECT vec_id, CAST(pos // $subdim AS INT) AS sub, pos % $subdim AS spos, v FROM qv),
       |pcv0 AS (SELECT sub, CAST(vec_id // stride AS INT) AS cid, spos, v AS cv
       |  FROM sqv, p WHERE vec_id % stride = 0 AND vec_id < stride*$k),
       |${(1 to pqIters).map(pqIter).mkString("\n")}
       |pde AS (SELECT v.vec_id, v.sub, c.cid, SUM((v.v-c.cv)*(v.v-c.cv)) AS d2
       |  FROM sqv v JOIN pcv$pqIters c ON c.sub = v.sub AND c.spos = v.spos GROUP BY 1,2,3),
       |codes AS (SELECT vec_id, sub, cid FROM (
       |  SELECT vec_id, sub, cid,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn FROM pde)
       |  WHERE rn = 1),
       |lut AS (SELECT v.vec_id AS qid, c.sub, c.cid, CAST(SUM(v.v * c.cv) AS BIGINT) AS dot
       |  FROM sqv v JOIN pcv$pqIters c ON c.sub = v.sub AND c.spos = v.spos
       |  WHERE v.vec_id % 100 = 0 GROUP BY 1,2,3),
       |cand AS (SELECT p.qid, i.nid FROM pcells p JOIN cells i USING (cid)
       |  WHERE i.nid <> p.qid),
       |sc AS (SELECT c.qid, c.nid, CAST(SUM(l.dot) AS BIGINT) AS score
       |  FROM cand c JOIN codes co ON co.vec_id = c.nid
       |  JOIN lut l ON l.qid = c.qid AND l.sub = co.sub AND l.cid = co.cid
       |  GROUP BY 1,2)
       |SELECT qid, nid, score, rn FROM (
       |  SELECT qid, nid, score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS BIGINT) AS rn
       |  FROM sc) WHERE rn <= $topK ORDER BY qid, rn""".stripMargin
  }

  /** SQL mirror of Similarity.signBucket: sum of sign bits over the
    * first `bits` dimensions (1-indexed arrays in both engines) */
  private def signBucketSql(bits: Int): String =
    (0 until bits).map(i =>
      s"(CASE WHEN embedding[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")

  /** shared CTE: distinct (doc_id, token_id) with rank-based token ids —
    * mirrors Dedup.rankTokenIds exactly */
  private val rankTokenCte: String =
    """WITH tok AS (SELECT DISTINCT doc_id, token FROM
      |  (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)),
      |vocab AS (SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY token) AS BIGINT) AS token_id
      |  FROM (SELECT DISTINCT token FROM tok)),
      |tt AS (SELECT doc_id, token_id FROM tok JOIN vocab USING (token))
      |""".stripMargin

  /** SQL mirror of Dedup.minhashPoly: polynomial codepoint token hash
    * (list_reduce fold, init 0 via list_prepend) + the same (a*id+b)%P
    * min-aggregation, coefficients from Dedup.minhashCoeffs. P is the
    * LARGE prime (Dedup.minhashBigPrime) — every intermediate stays
    * exact in BIGINT by the prime's construction. */
  private def minhashPolyOracleSql(k: Int): String = {
    val p = graft.operators.Dedup.minhashBigPrime
    val mins = graft.operators.Dedup.minhashCoeffs(k).zipWithIndex.map { case ((a, b), i) =>
      s"MIN(($a*token_id+$b) % $p) AS mh$i"
    }.mkString(",\n  ")
    s"""WITH tok AS (SELECT DISTINCT doc_id, token FROM
       |  (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)),
       |tt AS (SELECT doc_id,
       |  list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, length(token)+1),
       |        i -> CAST(ord(substr(token, CAST(i AS INT), 1)) AS BIGINT))),
       |    (h, c) -> (h*31 + c) % $p) AS token_id
       |  FROM tok)
       |SELECT doc_id,
       |  $mins
       |FROM tt GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** shared CTE chain ending in sig(doc_id, simhash) — mirrors
    * Dedup.simhash (32 bits) */
  private def simhashSigCte: String = {
    val bitSums = (0 until 32).map(j =>
      s"SUM(CASE WHEN (h // ${1L << j}) % 2 = 1 THEN 1 ELSE -1 END) AS b$j").mkString(",\n  ")
    val sig = (0 until 32).map(j => s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    rankTokenCte +
      s""",th AS (SELECT doc_id, (token_id * 2654435761) % 4294967296 AS h FROM tt),
         |bits AS (SELECT doc_id,
         |  $bitSums
         |  FROM th GROUP BY doc_id),
         |sig AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM bits)""".stripMargin
  }

  /** SQL mirror of Dedup.simhash (32 bits) */
  private def simhashOracleSql: String =
    simhashSigCte + "\nSELECT doc_id, simhash FROM sig ORDER BY doc_id"

  /** SQL mirror of Dedup.simhashPairs: pigeonhole banding (maxHamming=3 →
    * 4 bands of 8 bits) + exact bit_count verify */
  private def simhashPairsOracleSql: String =
    simhashSigCte +
      """,bands AS (SELECT doc_id, simhash, band, (simhash >> (8*band)) & 255 AS bucket
        |  FROM sig, (VALUES (0),(1),(2),(3)) bs(band)),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.simhash AS sh_a, b.simhash AS sh_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
        |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3 ORDER BY id_a, id_b""".stripMargin

  /** SQL mirror of the kg_entity_linking query: pinned dictionary VALUES,
    * n-gram scan with positions, context-support scoring. */
  private def entityLinkingOracleSql: String = {
    val dictVals = elDict.map { case (s, e, p) => s"('$s','$e',$p)" }.mkString(",")
    val clsVals = elClasses.map { case (e, c) => s"('$e','$c')" }.mkString(",")
    val surfList = elSurfaces.map(s => s"'$s'").mkString("[", ",", "]")
    val n = elSurfaces.length
    s"""WITH dict(surface, entity, prior) AS (VALUES $dictVals),
       |classes(entity, cls) AS (VALUES $clsVals),
       |docs AS (SELECT doc_id, text || ' ' || ($surfList)[(doc_id % $n)+1]
       |    || ' ' || ($surfList)[((doc_id*7+3) % $n)+1] AS text FROM documents),
       |toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM docs),
       |grams AS (SELECT doc_id, pos, array_to_string(t[pos+1:pos+n], ' ') AS surface
       |  FROM (SELECT doc_id, t, unnest(range(len(t))) AS pos FROM toks), (VALUES (1),(2),(3)) ns(n)
       |  WHERE pos + n <= len(t) AND length(array_to_string(t[pos+1:pos+n], ' ')) > 0),
       |m AS (SELECT g.doc_id, g.surface, g.pos, d.entity, d.prior
       |  FROM grams g JOIN dict d USING (surface)),
       |wc AS (SELECT m.doc_id, m.surface, m.pos, m.entity, m.prior, c.cls
       |  FROM m LEFT JOIN classes c USING (entity)),
       |dc AS (SELECT DISTINCT doc_id, surface, cls FROM wc WHERE cls IS NOT NULL),
       |sup AS (SELECT a.doc_id, a.surface, a.pos, a.entity, a.prior,
       |    COUNT(b.cls) AS context_support
       |  FROM wc a LEFT JOIN dc b
       |    ON a.doc_id = b.doc_id AND a.cls = b.cls AND a.surface <> b.surface
       |  GROUP BY 1,2,3,4,5),
       |scored AS (SELECT doc_id, surface, pos, entity,
       |    prior*(1+context_support) AS score, context_support,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id, surface, pos
       |      ORDER BY prior*(1+context_support) DESC, entity) AS rn
       |  FROM sup),
       |sel AS (SELECT doc_id, surface, pos, entity, score, context_support,
       |    len(string_split(surface, ' ')) AS g
       |  FROM scored WHERE rn = 1)
       |SELECT doc_id, surface, CAST(pos AS INTEGER) AS pos, entity,
       |  CAST(score AS BIGINT) AS score, CAST(context_support AS BIGINT) AS context_support
       |FROM sel a
       |WHERE NOT EXISTS (SELECT 1 FROM sel b WHERE b.doc_id = a.doc_id
       |  AND b.g > a.g AND b.pos <= a.pos AND b.pos + b.g >= a.pos + a.g)
       |ORDER BY doc_id, pos, surface""".stripMargin
  }

  /** scores + first-wins CASE shared by the langid oracles */
  private def langidParts: (String, String) = {
    import graft.operators.TextAnalysis.langMarkers
    def occ(m: String) =
      s"CAST((length(p) - length(replace(p, '$m', ''))) / ${m.length} AS INTEGER)"
    val scores = langMarkers.map { case (lang, ms) =>
      s"(${ms.map(occ).mkString(" + ")}) AS s_$lang"
    }.mkString(",\n  ")
    val langs = langMarkers.map(_._1)
    val caseExpr = langs.map { l =>
      val before = langs.takeWhile(_ != l)
      val after = langs.dropWhile(_ != l).drop(1)
      val conds = (before.map(o => s"s_$l > s_$o") ++ after.map(o => s"s_$l >= s_$o") :+ s"s_$l > 0")
        .mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n  ")
    (scores, s"CASE\n  $caseExpr\n  ELSE 'und' END")
  }

  /** SQL mirror of TextAnalysis.langId */
  private def langidOracleSql: String = {
    import graft.operators.TextAnalysis.langMarkers
    def occ(m: String) =
      s"CAST((length(p) - length(replace(p, '$m', ''))) / ${m.length} AS INTEGER)"
    val scores = langMarkers.map { case (lang, ms) =>
      s"(${ms.map(occ).mkString(" + ")}) AS s_$lang"
    }.mkString(",\n  ")
    val langs = langMarkers.map(_._1)
    // first-wins tie break (mirrors langId's pickFirst fold): lang l wins
    // iff strictly above every earlier lang, >= every later lang, and > 0
    val caseExpr = langs.map { l =>
      val before = langs.takeWhile(_ != l)
      val after = langs.dropWhile(_ != l).drop(1)
      val conds = (before.map(o => s"s_$l > s_$o") ++ after.map(o => s"s_$l >= s_$o") :+ s"s_$l > 0")
        .mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n  ")
    s"""SELECT doc_id, CASE
       |  $caseExpr
       |  ELSE 'und' END AS lang_pred
       |FROM (SELECT doc_id,
       |  $scores
       |  FROM (SELECT doc_id, ' ' || text || ' ' AS p FROM documents) padded) scored
       |ORDER BY doc_id""".stripMargin
  }
}
