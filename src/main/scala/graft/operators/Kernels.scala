package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** JIT-compiled per-row kernels for the interpreted-expression hot
  * paths (optimization guide §1.2 step 2 / §4: make the per-task work
  * fast once the distributed shape is right).
  *
  * Spark's higher-order array functions (`transform`, `zip_with`,
  * `aggregate`) are `CodegenFallback` expressions: every element of
  * every row walks an interpreted expression tree with boxed
  * intermediates. That is invisible at production shuffle scale but
  * dominates the compute-bound map stages here — measured 40 µs per
  * 64-dim quantized dot in the SemDeDup pair stage (≈ 11 s for 275k
  * pairs) vs < 0.1 µs for the same arithmetic as a JIT-compiled JVM
  * loop.
  *
  * Every kernel is BIT-EXACT equivalent to the Column expression it
  * replaces (same integer arithmetic, same null semantics, same
  * tie-breaks — asserted by the DuckDB oracle rows, which replay the
  * original formulation, and by the operator test suites). The exact
  * rounding-sensitive step — float → integer quantization
  * (round(x·1000), half-up) — deliberately STAYS in the Column path
  * ([[Ivf.quantize]]); kernels only consume already-quantized longs,
  * so no floating-point rounding is ever re-implemented here. */
object Kernels {

  /** Array kernels take boxed elements: a primitive `Seq[Long]`
    * parameter fails the task on a null element
    * (`NOT_NULL_ASSERT_VIOLATION`), where the Column expressions they
    * replace return null. */
  private def hasNull(s: Seq[AnyRef]): Boolean = s.exists(_ == null)

  /** Exact integer dot of two pre-quantized long arrays. Null → null;
    * length mismatch → null (zip_with pads with null, and null kills
    * the running aggregate — replicated); a null element → null. */
  val dotQ = udf((a: Seq[java.lang.Long], b: Seq[java.lang.Long]) =>
    if (a == null || b == null || a.length != b.length || hasNull(a) || hasNull(b)) null
    else {
      var i = 0; var s = 0L; val n = a.length
      while (i < n) { s += a(i).longValue * b(i).longValue; i += 1 }
      java.lang.Long.valueOf(s)
    })

  /** Nearest-centroid id by integer squared L2 with the repo-wide
    * lexicographic (d2, cid) argmin tie-break: centroids are visited in
    * ascending-cid order and only a STRICTLY smaller d2 replaces the
    * winner — identical to `array_min` over (d2, cid) structs. A null
    * vector or element → null. */
  def nearestCidKernel(centroids: Array[(Int, Array[Long])]): Column => Column = {
    val sorted = centroids.sortBy(_._1)
    val k = udf((qe: Seq[java.lang.Long]) =>
      if (qe == null || hasNull(qe)) null
      else {
        var bestCid = -1; var bestD2 = Long.MaxValue; var first = true
        var ci = 0
        while (ci < sorted.length) {
          val (cid, c) = sorted(ci)
          var i = 0; var d2 = 0L; val n = math.min(qe.length, c.length)
          while (i < n) { val d = qe(i).longValue - c(i); d2 += d * d; i += 1 }
          if (first || d2 < bestD2) { bestD2 = d2; bestCid = cid; first = false }
          ci += 1
        }
        java.lang.Integer.valueOf(bestCid)
      })
    (qe: Column) => k(qe)
  }

  /** JL ±1 projection: all `outDim` sign-weighted sums of a quantized
    * vector in one pass (replaces outDim interpreted zip_with/aggregate
    * chains per row). Signs are the driver-computed sha256-parity
    * matrix — bit-identical to the literal the Column path inlined. A
    * null vector or element → null. */
  def jlProjectKernel(signs: Array[Array[Long]]): Column => Column = {
    val k = udf((qe: Seq[java.lang.Long]) =>
      if (qe == null || hasNull(qe)) null
      else signs.map { row =>
        var i = 0; var s = 0L; val n = math.min(qe.length, row.length)
        while (i < n) { s += qe(i).longValue * row(i); i += 1 }
        s
      }.toSeq)
    (qe: Column) => k(qe)
  }

  /** The repo-wide SQL-portable polynomial token hash, JIT-compiled:
    * h ← pmod(h·31 + ascii(char_i), P) over the token's characters —
    * replaces the per-CHARACTER interpreted chain (substr + ascii +
    * pmod per char via transform/aggregate). Replicates Spark's exact
    * semantics: `length`/`substr`/`ascii` all operate on CODE POINTS
    * (ascii of a one-character string = its code point — asserted by
    * OperatorsSpec's scala-reimplementation test on a non-ASCII doc),
    * and the fold value stays non-negative, so the pmod is a plain
    * modulo. */
  private def PolyPrime = Dedup.minhashBigPrime
  private[operators] def polyHashOf(s: String): Long = {
    if (s == null || s.isEmpty) return 0L
    var h = 0L; var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31L + cp) % PolyPrime
      i += Character.charCount(cp)
    }
    h
  }
  val polyHash = udf((s: String) => if (s == null) null else java.lang.Long.valueOf(polyHashOf(s)))

  /** DSIR hashed-n-gram feature stream for one document: the buckets of
    * every unigram THEN every bigram ("w1 w2"), i.e. exactly
    * `concat(toks, bigrams)` mapped through pmod(polyTokenId, B) — one
    * kernel pass instead of a per-gram per-character interpreted fold. */
  def dsirBucketsKernel(buckets: Long): Column => Column = {
    val k = udf((toks: Seq[String]) =>
      if (toks == null) null
      else {
        val out = new Array[Long](if (toks.length >= 2) 2 * toks.length - 1 else toks.length)
        var i = 0
        while (i < toks.length) {
          out(i) = ((polyHashOf(toks(i)) % buckets) + buckets) % buckets
          i += 1
        }
        if (toks.length >= 2) {
          var j = 1
          while (j < toks.length) {
            out(toks.length + j - 1) =
              ((polyHashOf(toks(j - 1) + " " + toks(j)) % buckets) + buckets) % buckets
            j += 1
          }
        }
        scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
      })
    (toks: Column) => k(toks)
  }

  /** Hashed bag-of-words linear score: Σ_t w[pmod(polyHash(t), D)] in
    * one pass (TextAnalysis.linearScore's fold, JIT-compiled). */
  def linearScoreKernel(weights: Array[Long]): Column => Column = {
    val d = weights.length.toLong
    val k = udf((toks: Seq[String]) =>
      if (toks == null) null
      else {
        var s = 0L; var i = 0
        while (i < toks.length) {
          s += weights((((polyHashOf(toks(i)) % d) + d) % d).toInt)
          i += 1
        }
        java.lang.Long.valueOf(s)
      })
    (toks: Column) => k(toks)
  }

  /** Pack a doc's ordered token set — parallel (tdf, token) arrays in
    * global (tdf, token) order — into ONE binary blob: per token an
    * 8-byte big-endian tdf, a 4-byte big-endian byte-length, and the
    * token's UTF-8 bytes. Built once per doc; the pair-verify kernel
    * then crosses the UDF boundary with two byte arrays (single bulk
    * copy each) instead of string/array object materialization per
    * candidate pair. A null array or element → null. */
  val setBlob = udf((tdf: Seq[java.lang.Long], toks: Seq[String]) =>
    if (tdf == null || toks == null || hasNull(tdf) || hasNull(toks)) null
    else {
      var total = 0
      val tb = new Array[Array[Byte]](toks.length)
      var i = 0
      while (i < toks.length) {
        tb(i) = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        total += 12 + tb(i).length
        i += 1
      }
      val out = java.nio.ByteBuffer.allocate(total)
      i = 0
      while (i < toks.length) {
        out.putLong(tdf(i).longValue); out.putInt(tb(i).length); out.put(tb(i))
        i += 1
      }
      out.array()
    })

  /** |A ∩ B| of two [[setBlob]]-packed ordered token sets: one
    * O(|A|+|B|) merge over the raw bytes. Comparator: tdf ascending,
    * then token by UNSIGNED byte order — identical to Spark's
    * (tdf, token) struct ordering, since UTF8String binary order IS
    * unsigned UTF-8 byte order. Exact (per-doc tokens distinct). */
  val interPacked = udf((a: Array[Byte], b: Array[Byte]) => {
    var ia = 0; var ib = 0; var c = 0L
    while (ia < a.length && ib < b.length) {
      // entry = 8B tdf BE | 4B len BE | bytes
      var cmp = 0
      var k = 0
      while (cmp == 0 && k < 8) { // big-endian long compare; tdf >= 0
        cmp = (a(ia + k) & 0xff) - (b(ib + k) & 0xff); k += 1
      }
      val la = ((a(ia + 8) & 0xff) << 24) | ((a(ia + 9) & 0xff) << 16) |
        ((a(ia + 10) & 0xff) << 8) | (a(ia + 11) & 0xff)
      val lb = ((b(ib + 8) & 0xff) << 24) | ((b(ib + 9) & 0xff) << 16) |
        ((b(ib + 10) & 0xff) << 8) | (b(ib + 11) & 0xff)
      if (cmp == 0) {
        var x = ia + 12; var y = ib + 12
        val ea = x + la; val eb = y + lb
        while (cmp == 0 && x < ea && y < eb) {
          cmp = (a(x) & 0xff) - (b(y) & 0xff); x += 1; y += 1
        }
        if (cmp == 0) cmp = la - lb
      }
      if (cmp == 0) { c += 1L; ia += 12 + la; ib += 12 + lb }
      else if (cmp < 0) ia += 12 + la
      else ib += 12 + lb
    }
    c
  })

  /** ExactSubstr position table for one document: (p, xxhash64 of the
    * `window`-character substring at p) for every start position — one
    * kernel pass sharing a single UTF-8 encoding of the text, instead
    * of an interpreted per-position substr + hash chain. Bit-exact:
    * positions are CODE-POINT indices (Spark `substr`/`length`
    * semantics) and the hash is Spark's own XXH64 over the substring's
    * UTF-8 bytes with the engine seed 42. */
  case class PosHash(p: Int, h: Long)
  def posHashKernel(window: Int): Column => Column = {
    val k = udf((text: String) =>
      if (text == null) null
      else {
        val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        // code-point index -> byte offset (ASCII fast path: identity)
        val nCp = text.codePointCount(0, text.length)
        if (nCp < window) scala.collection.immutable.ArraySeq.empty[PosHash]
        else {
          val offs = new Array[Int](nCp + 1)
          if (bytes.length == text.length) { // pure ASCII
            var i = 0; while (i <= nCp) { offs(i) = i; i += 1 }
          } else {
            var ci = 0; var bo = 0; var cp = 0
            while (cp < nCp) {
              offs(cp) = bo
              val c = text.codePointAt(ci)
              bo += (if (c < 0x80) 1 else if (c < 0x800) 2 else if (c < 0x10000) 3 else 4)
              ci += Character.charCount(c)
              cp += 1
            }
            offs(nCp) = bo
          }
          val out = new Array[PosHash](nCp - window + 1)
          var p = 0
          while (p <= nCp - window) {
            val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
              bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + offs(p),
              offs(p + window) - offs(p), 42L)
            out(p) = PosHash(p, h)
            p += 1
          }
          scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
        }
      })
    (text: Column) => k(text)
  }

  /** Adjacent-bigram text: tokens → "w1_w2 w2_w3 …" in one pass —
    * exactly `concat_ws(" ", transform(sequence(1, n-1), i =>
    * concat(w[i], "_", w[i+1])))` for n ≥ 2 (callers filter n ≥ 2). */
  val bigramText = udf((w: Seq[String]) =>
    if (w == null) null
    else {
      val sb = new java.lang.StringBuilder()
      var i = 1
      while (i < w.length) {
        if (i > 1) sb.append(' ')
        sb.append(w(i - 1)).append('_').append(w(i))
        i += 1
      }
      sb.toString
    })

  /** Repetition metrics over a token array in ONE pass: (n_words,
    * n_distinct_words, top_word_count, n_bigrams, top_bigram_count).
    * Exactly the five expressions of `repetitionMetrics` (max run of
    * the sorted array == max multiplicity; bigram key = "w1 w2"), with
    * the null-text semantics of the originals: size(null) = null,
    * greatest(null-1, 0) = 0, when(null >= 2 …).otherwise(0) = 0. */
  case class RepStats(n_words: java.lang.Long, n_distinct_words: java.lang.Long,
                      top_word_count: java.lang.Long, n_bigrams: java.lang.Long,
                      top_bigram_count: java.lang.Long)
  val repStats = udf((toks: Seq[String]) =>
    if (toks == null) RepStats(null, null, null, 0L, 0L)
    else {
      val n = toks.length
      val wc = new java.util.HashMap[String, Long](n * 2)
      var topW = 0L
      var i = 0
      while (i < n) {
        val c = wc.merge(toks(i), 1L, _ + _)
        if (c > topW) topW = c
        i += 1
      }
      var topB = 0L
      if (n >= 2) {
        val bc = new java.util.HashMap[String, Long](n * 2)
        var j = 1
        while (j < n) {
          val c = bc.merge(toks(j - 1) + " " + toks(j), 1L, _ + _)
          if (c > topB) topB = c
          j += 1
        }
      }
      RepStats(n.toLong, wc.size.toLong, topW, math.max(n - 1L, 0L), topB)
    })
}
