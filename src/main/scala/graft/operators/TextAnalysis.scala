package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * Column expressions (whole-stage codegen; no UDFs), so they scale as
  * map-side work with zero shuffle.
  */
object TextAnalysis {

  /** whitespace tokenizer */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Canonical text normalization (the pre-dedup / pre-tokenize pass):
    * lowercase, map every non-printable-ASCII byte to a space, collapse
    * whitespace runs, trim. Pure Column expression — map-side, zero
    * shuffle, and the regexes (`[^ -~]`, ` +`) mean the same thing in
    * Java regex and RE2, so a SQL oracle reproduces it bit-for-bit.
    * Normalizing BEFORE hashing is what makes exact-dedup catch
    * trivially-reformatted duplicates. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^ -~]", " "), " +", " "))

  /** Occurrences of `needle` in `text` via length arithmetic — portable
    * to any SQL engine (used by the DuckDB oracles). */
  def occurrences(text: Column, needle: String): Column =
    ((length(text) - length(replace(text, lit(needle), lit("")))) /
      lit(needle.length)).cast("int")

  /** Stopword-marker language ID: score each language by marker-word
    * hits in the padded text; argmax with deterministic tie-break by
    * score order below (n-gram-heuristic family, SURVEY-adjacent
    * training-data op). Returns the predicted language code or "und". */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of "),
    "de" -> Seq(" der ", " und ", " das "),
    "fr" -> Seq(" le ", " la ", " et "),
    "es" -> Seq(" el ", " los ", " y "),
    "zh" -> Seq("的", "是", "了")
  )

  def langScores(text: Column): Seq[(String, Column)] = {
    val padded = concat(lit(" "), text, lit(" "))
    langMarkers.map { case (lang, markers) =>
      lang -> markers.map(m => occurrences(padded, m)).reduce(_ + _)
    }
  }

  /** predicted language: the first language (in langMarkers order) with
    * the maximal positive score; all-zero → "und" */
  def langId(text: Column): Column = {
    // argmax via array_position (first index attaining the max): the
    // score array appears 3× instead of once per WHEN arm — the fold
    // formulation used before inlined every score tree ~7×, which blew
    // the janino method limit once composed into larger projections
    // (q_training_filter) and forced an interpreted-mode fallback.
    val arr = array(langScores(text).map(_._2): _*)
    val mx = array_max(arr)
    when(mx > 0,
      element_at(lit(langMarkers.map(_._1).toArray), array_position(arr, mx).cast("int")))
      .otherwise("und").as("lang_pred")
  }

  /** Corpus-frequency quality signal: per document, the token count,
    * the number of RARE tokens (corpus occurrence count < `minCount`),
    * and the summed corpus frequency of its tokens — all integer-exact
    * bigints, so ratios (rare-token ratio ~ gibberish/OCR-noise score,
    * mean token frequency ~ unigram-LM plausibility) derive downstream
    * without float drift. This is the shuffle-based unigram analog of a
    * perplexity filter: no model artifact, the corpus IS the model.
    *
    * Scale shape: one hash agg builds the vocabulary-sized frequency
    * table, one shuffle hash join keys tokens back to it, one hash agg
    * folds per document. Hub tokens ("the") are a huge probe side
    * against a single build row — exactly the shape AQE skew-join
    * splits; nothing here collects or broadcasts a data-sized table. */
  def rareTokenStats(df: DataFrame, id: Column, text: Column, minCount: Long): DataFrame = {
    val tok = df.select(id.as("doc_id"), explode(tokens(text)).as("token"))
    val freq = tok.groupBy("token").agg(count(lit(1)).as("cf"))
    tok.join(freq, "token")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("cf") < minCount, 1L).otherwise(0L)).as("n_rare"),
        sum(col("cf")).as("sum_cf"))
  }

  /** Content fingerprint: sha256 over the sorted distinct token set
    * (order-insensitive document identity; rolling-hash family). */
  def fingerprint(text: Column): Column =
    sha2(concat_ws(" ", array_sort(array_distinct(tokens(text)))), 256)

  /** Repetition quality signals (Gopher-rule family): per document, the
    * word count, distinct-word count, max multiplicity of any single
    * word, bigram count, and max multiplicity of any word bigram.
    * Downstream filters derive the classic ratios (duplicate-word
    * fraction = 1 − n_distinct/n_words, top-word fraction =
    * top_word_count/n_words, top-bigram fraction) — kept integer-exact
    * here so the oracle is hash-stable.
    *
    * Scale shape: everything is per-row Column arithmetic over the token
    * array (sort + fold inside the row) — zero shuffle, zero explode;
    * the frequency "table" is a sorted-run scan, so a 10^12-doc corpus
    * pays exactly one map pass. */
  def repetitionMetrics(df0: DataFrame, text: Column, idCols: Column*): DataFrame = {
    val df = Par.spread(df0) // heavy in-row fold: widen narrow scans (guide §2.5)
    // one JIT kernel pass per row over the token array (replaces four
    // interpreted sort/fold chains per row — Kernels scaladoc; the
    // five outputs are expression-for-expression identical, DuckDB-
    // oracled). Zero-shuffle contract unchanged. The ids are carried by
    // `*`, so an aliased or computed id column is never re-resolved.
    df.select(idCols :+ Kernels.repStats(tokens(text)).as("_rep"): _*)
      .select(col("*"),
        col("_rep.n_words"), col("_rep.n_distinct_words"),
        col("_rep.top_word_count"), col("_rep.n_bigrams"),
        col("_rep.top_bigram_count"))
      .drop("_rep")
  }

  /** Linear text-classifier inference over hashed bag-of-words features
    * (the fastText-style quality-filter family): score(doc) =
    * Σ over tokens t of w[h(t) mod D], with h the SQL-portable
    * polynomial codepoint hash and w the model's integer weight vector.
    * Weights arrive as Array[Long] and are inlined as a plan literal;
    * for a production-size D (2^18+) swap the literal for a broadcast
    * (bucket, w) join — identical arithmetic. Returns (doc_id, score,
    * keep) with keep = score > threshold.
    *
    * Scale shape: a per-row fold over the token array — zero shuffle,
    * the same one-map-pass profile as repetitionMetrics; integer-exact
    * so the DuckDB oracle reproduces it bit-for-bit. */
  def linearScore(df: DataFrame, id: Column, text: Column,
                  weights: Array[Long], threshold: Long = 0L): DataFrame = {
    // one JIT kernel pass per doc (Kernels scaladoc): identical
    // Σ w[pmod(polyTokenId(t), D)] fold
    val score = Kernels.linearScoreKernel(weights)(tokens(text))
    df.select(id.as("doc_id"), score.as("score"))
      .withColumn("keep", col("score") > lit(threshold))
  }

  /** Global adjacent-token-pair counts, top k (one BPE merge-selection
    * iteration / collocation mining). The groupBy is partial-aggregable
    * (map-side combine collapses each partition's pair table before the
    * shuffle) and the ordered take is Spark's TakeOrderedAndProject —
    * k rows cross to the driver, never the full count table. Tie-break
    * (n desc, pair asc) is total, so the top-k set is deterministic. */
  def topPairs(df: DataFrame, text: Column, k: Int): DataFrame = {
    val toks = tokens(text)
    val bigrams = transform(sequence(lit(1), size(toks) - 1),
      i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1)))
    df.select(explode(when(size(toks) >= 2, bigrams)
        .otherwise(array().cast("array<string>"))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(k)
  }

  /** PMI-lift collocation scoring — statistically-associated adjacent
    * word pairs ("new york"-style multiword expressions), the standard
    * phrase-detection pass before tokenizer/embedding training (Mikolov
    * et al. 2013 §4 learn phrases from exactly this ratio). For each
    * adjacent bigram (a, b) with count ≥ `minCount`:
    * lift_ppm = (c_ab · N · 10^6) div (c_a · c_b), N = total tokens —
    * the exact-ratio form of pointwise mutual information (PMI = log
    * lift; log is monotone, so lift RANKS identically without floats).
    * lift ≫ 10^6 means the pair co-occurs far above chance.
    *
    * Exactness: the numerator is ≤ N²·10^6 — DECIMAL(38,0) holds it for
    * corpora up to 10^15 tokens (the [[Dsir]] convention), and the
    * single integer `div` is replayed verbatim in DuckDB HUGEINT
    * (q_collocations).
    *
    * Scale shape: bigram and unigram counts are two partial-aggregable
    * hash aggs over in-row flat maps; the unigram table joins onto the
    * minCount-pruned bigram table (vocab-bounded — AQE broadcasts it
    * when small); the one-row total rides as a broadcast cross join.
    * Output: (a, b, c_ab, c_a, c_b, lift_ppm). */
  def collocations(df: DataFrame, text: Column, minCount: Long): DataFrame = {
    require(minCount >= 1, s"minCount=$minCount")
    val toks = tokens(text)
    val uni = df.select(explode(toks).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val nTot = uni.agg(sum(col("c")).as("n_tok"))
    val bigrams = transform(sequence(lit(1), size(toks) - 1),
      i => struct(element_at(toks, i).as("a"), element_at(toks, i + 1).as("b")))
    val bi = df.select(explode(when(size(toks) >= 2, bigrams)
        .otherwise(array().cast("array<struct<a:string,b:string>>"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    bi
      .join(uni.select(col("w").as("a"), col("c").as("c_a")), Seq("a"))
      .join(uni.select(col("w").as("b"), col("c").as("c_b")), Seq("b"))
      .crossJoin(broadcast(nTot))
      .withColumn("lift_ppm", expr(
        "cast((cast(c_ab as decimal(38,0)) * n_tok * 1000000) div " +
          "(cast(c_a as decimal(38,0)) * c_b) as bigint)"))
      .select("a", "b", "c_ab", "c_a", "c_b", "lift_ppm")
  }

  /** Corpus-trained bigram language-model fluency score — the
    * perplexity-style quality signal (CCNet/KenLM family) reduced to
    * integer arithmetic: train conditional bigram frequencies on the
    * corpus itself, then score each document by the MEAN conditional
    * probability of its bigrams, in parts-per-million. Boilerplate and
    * in-domain text score high; lorem-ipsum/shuffled/garbled text
    * scores low. Log-space perplexity needs floats (not hash-stable
    * cross-engine); mean conditional probability is order-equivalent
    * for ranking-threshold use and exact.
    *
    *   p_ppm(w1,w2)  = count(w1 w2) * 1e6 div count(w1 *)
    *   score_ppm(doc) = sum(p_ppm over doc bigrams) div n_bigrams
    *
    * Scale shape: bigram extraction is an in-row flat map (zero
    * shuffle); training is one partial-aggregable groupBy over (w1,w2)
    * (the model is ≤ vocab² but Zipf-concentrated, far smaller than the
    * corpus); scoring joins doc bigrams to the model on (w1,w2) — AQE
    * broadcasts the model when it fits, else a plain hash join — and
    * one final per-doc agg. Docs with < 2 tokens have no bigrams and
    * are absent from the output (no fluency evidence). */
  def lmScore(df0: DataFrame, id: Column, text: Column): DataFrame = {
    val df = Par.spread(df0) // heavy per-row scoring: widen narrow scans
    val toks = tokens(text)
    val bg = transform(sequence(lit(1), size(toks) - 1),
      i => struct(element_at(toks, i).as("w1"), element_at(toks, i + 1).as("w2")))
    val docBigrams = df.select(id.as("doc_id"),
        explode(when(size(toks) >= 2, bg)
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = docBigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = docBigrams.groupBy("w1").agg(count(lit(1)).as("c1"))
    val model = c2.join(c1, "w1")
      .select(col("w1"), col("w2"), expr("c2 * 1000000 div c1").as("p_ppm"))
    docBigrams.join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(p_ppm) div count(1)").as("score_ppm"))
  }

  /** Rabin-Karp rolling hash over character windows: O(n) for all
    * positions (each step adds one char, drops one). Used for
    * containment/overlap detection between documents (shared windows ⇒
    * shared fingerprints). Winnowing-style selection keeps only hashes
    * ≡ 0 (mod keep) to bound the fingerprint set size. */
  def rollingHashes(text: String, window: Int = 16, keep: Int = 8): Array[Long] = {
    if (text.length < window) return Array(text.hashCode.toLong)
    val B = 1000003L
    val M = (1L << 61) - 1
    // B^(window-1) mod M
    var bw = 1L
    (1 until window).foreach(_ => bw = mulMod(bw, B, M))
    var h = 0L
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = 0
    while (i < text.length) {
      h = (mulMod(h, B, M) + text.charAt(i)) % M
      if (i >= window - 1) {
        if (h % keep == 0) out += h
        h = (h - mulMod(text.charAt(i - window + 1).toLong, bw, M) % M + M) % M
      }
      i += 1
    }
    out.distinct.sorted.toArray
  }

  private def mulMod(a: Long, b: Long, m: Long): Long =
    java.math.BigInteger.valueOf(a).multiply(java.math.BigInteger.valueOf(b))
      .mod(java.math.BigInteger.valueOf(m)).longValue()

  /** Distributed rolling-hash fingerprints: (id, fingerprints) per doc. */
  def rollingFingerprints(df: org.apache.spark.sql.DataFrame, id: Column, text: Column,
                          window: Int = 16, keep: Int = 8): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(id.cast("long").as("doc_id"), text.as("t")).as[(Long, String)]
      .map { case (i, t) => (i, rollingHashes(Option(t).getOrElse(""), window, keep)) }
      .toDF("doc_id", "fingerprints")
  }

  /** Containment candidates: docs sharing ≥ minShared selected windows
    * (explode + self-join on fingerprint — shuffle keyed on hash). */
  def containmentPairs(fp: org.apache.spark.sql.DataFrame, minShared: Int): org.apache.spark.sql.DataFrame = {
    val ex = fp.select(col("doc_id"), explode(col("fingerprints")).as("h"))
    val a = ex.select(col("doc_id").as("id_a"), col("h"))
    val b = ex.select(col("doc_id").as("id_b"), col("h"))
    a.join(b, Seq("h")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Sequence packing for training-batch assembly: assign each document
    * of a group to a fixed-capacity token bin. Documents fill bins in
    * id order; bin k holds the docs whose EXCLUSIVE running token sum
    * lands in [k·capacity, (k+1)·capacity) — quota packing, so a bin
    * overflows by at most its last document and no document is split.
    *
    * Scale shape: the window partitions by `group` (lang / source /
    * date shard), so packing parallelizes per group with one shuffle on
    * the group key — there is NO global sort. A single giant group is
    * the caller's sharding bug, not this operator's plan. Deterministic
    * and SQL-portable (the DuckDB oracle replays the same window). */
  def packSequences(df: DataFrame, id: Column, text: Column, group: Column,
                    capacity: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("grp").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.select(id.as("doc_id"), group.as("grp"), tokenCount(text).cast("long").as("n_tok"))
      .withColumn("cum_excl", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .select(col("doc_id"), col("grp"), col("n_tok"),
        (col("cum_excl") / lit(capacity.toLong)).cast("long").as("bin"))
  }

  /** Benchmark-contamination check: training docs sharing ≥ minShared
    * word n-gram shingles with any probe (benchmark) document. The
    * shingle join is keyed on the shingle itself — a hash-partitioned
    * semi-join, never a cross join; the probe side is tiny (a benchmark
    * suite) so the planner broadcasts it. Word n-grams rather than
    * hashes keep it exactly SQL-portable for the oracle. */
  def shingles(df: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    df.select(id.as("doc_id"), tokens(text).as("toks"))
      // guard: sequence() descends when start > stop, so short docs
      // need an explicit empty array, not sequence(1, 0)
      .select(col("doc_id"), explode(when(size(col("toks")) >= n,
        transform(sequence(lit(1), size(col("toks")) - n + 1),
          i => concat_ws(" ", slice(col("toks"), i, lit(n)))))
        .otherwise(array())).as("shingle"))
      .distinct()

  /** Token-distribution drift between a corpus slice and the rest —
    * the data-mixing / domain-shift monitor a training pipeline runs
    * when a new crawl lands: per-token total-variation contribution
    *
    *   dev_ppm(t) = | cnt_a(t)·10^6 div n_a  −  cnt_b(t)·10^6 div n_b |
    *
    * (Σ dev_ppm / 2 ≈ TVD·10^6 — kept per token so consumers rank the
    * tokens DRIVING the drift, and the oracle checks every term).
    * Integer `div` end to end: bit-reproducible, no float partial-sum
    * order sensitivity.
    *
    * Plan: one token explode → ONE (slice, token) hash agg (partial
    * aggregation does the heavy lift map-side) → pivot of exactly two
    * slices via conditional sums → broadcast-sized totals join. The
    * corpus is scanned once; nothing is per-document after the agg.
    * Both slices must be non-empty (ppm over an empty slice is
    * undefined — Spark nulls, DuckDB errors). */
  def tokenDrift(df: DataFrame, text: Column, inSliceA: Column): DataFrame = {
    val tok = df.select(inSliceA.as("a"), explode(tokens(text)).as("token"))
    val counts = tok.groupBy("token").agg(
      sum(when(col("a"), 1L).otherwise(0L)).as("cnt_a"),
      sum(when(col("a"), 0L).otherwise(1L)).as("cnt_b"))
    val tot = counts.agg(sum(col("cnt_a")).as("n_a"), sum(col("cnt_b")).as("n_b"))
    counts.crossJoin(broadcast(tot))
      .select(col("token"), col("cnt_a"), col("cnt_b"),
        expr("cnt_a * 1000000 div n_a").as("ppm_a"),
        expr("cnt_b * 1000000 div n_b").as("ppm_b"),
        abs(expr("cnt_a * 1000000 div n_a") - expr("cnt_b * 1000000 div n_b"))
          .as("dev_ppm"))
  }

  /** Tokenizer vocabulary coverage / OOV rate — the eval a pipeline
    * runs after training a vocabulary (the third leg beside BPE learn
    * and apply): fix the vocab as the corpus's `vocabSize` most
    * frequent tokens (ties broken by token asc — deterministic
    * cross-engine), then score every document's out-of-vocabulary
    * token OCCURRENCES (multiset, not distinct — coverage is about
    * the token stream a tokenizer will actually see).
    *
    * Plan: one token hash agg → vocab = global sort+limit
    * (TakeOrdered — vocab-sized, never a full sort shuffle) →
    * broadcast vocab left join per token → ONE per-doc partial agg.
    * Output: (doc_id, n_tok, n_oov, oov_ppm). */
  def vocabCoverage(df: DataFrame, id: Column, text: Column,
                    vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize=$vocabSize")
    val tok = df.select(id.as("doc_id"), explode(tokens(text)).as("token"))
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token").asc).limit(vocabSize)
      .select(col("token"), lit(1L).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_ppm", expr("n_oov * 1000000 div n_tok"))
  }

  def contamination(docs: DataFrame, probes: DataFrame, id: Column, text: Column,
                    n: Int = 5, minShared: Int = 1): DataFrame = {
    val d = shingles(docs, id, text, n)
    val p = shingles(probes, id, text, n)
      .select(col("doc_id").as("probe_id"), col("shingle"))
    d.join(p, "shingle")
      .groupBy("doc_id").agg(
        countDistinct(col("shingle")).as("n_shared"),
        countDistinct(col("probe_id")).as("n_probes"))
      .filter(col("n_shared") >= minShared)
  }
}
