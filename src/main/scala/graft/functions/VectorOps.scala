package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DoubleType, FloatType}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels, each bound to Catalyst by one [[Kernel]] node (a
  * `StaticInvoke`), which calls it from generated code and from
  * interpreted eval. Keeping these as plain static-style methods keeps
  * the kernels inside whole-stage codegen: the generated code is a single
  * virtual-free call per row.
  */
object VectorOps {

  /** Single-pass cosine similarity over two float/double arrays. */
  def cosine(a: ArrayData, b: ArrayData, isFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    if (isFloat) {
      while (i < n) {
        val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
    } else {
      while (i < n) {
        val x = a.getDouble(i); val y = b.getDouble(i)
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Argmax-cosine centroid index over a flat-packed float centroid
    * matrix (`cents[j·dim + i]`): returns the index j maximizing
    * cosine(vec, cent_j), ties to the SMALLEST j. Bit-identical to the
    * declarative `array_max(struct(cosine_similarity(v, lit(cent_j)),
    * -cid_j))` form when centroids are passed in ascending-cid order:
    * each cosine is the same [[cosine]] fold (float→double widening,
    * ascending-i accumulation), and the strict `>` update keeps the first
    * (smallest-j) maximum exactly like the negated-cid struct max — NaN
    * sorts above every finite cosine in both (Spark total ordering).
    * Exists because inlining k centroid literals builds a k-branch
    * expression tree: fine at k=16 (IVF coarse quantizers), seconds of
    * plan/JIT setup and quadratic-growth pressure at the corpus-derived
    * k a SemDeDup pass needs.
    */
  def argmaxCosine(vec: ArrayData, cents: Array[Float], k: Int, dim: Int,
      isFloat: Boolean): Int = {
    var bestCos = Double.NegativeInfinity
    var bestJ = 0
    var first = true
    var j = 0
    while (j < k) {
      val off = j * dim
      val n = math.min(vec.numElements(), dim)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
        val y = cents(off + i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      val cos = if (denom == 0.0) 0.0 else dot / denom
      if (first || java.lang.Double.compare(cos, bestCos) > 0) {
        bestCos = cos; bestJ = j; first = false
      }
      j += 1
    }
    bestJ
  }

  /** Dot product (vectors assumed pre-normalized when used for cosine). */
  def dot(a: ArrayData, b: ArrayData, isFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    if (isFloat) { while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 } }
    else { while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 } }
    s
  }

  /** Fused tokenizer: lower → whitespace split → drop empties in ONE
    * byte pass, no regex and no intermediate empty strings.
    * Bit-identical to the declarative
    * `filter(split(lower(text), "[ \t\n\f\r]+"), t => length(t) > 0)`
    * (asserted in RegressionSpec): tokens are maximal runs of
    * non-whitespace bytes of `lower(text)`; multi-byte UTF-8 units are
    * all >= 0x80, never whitespace, so byte scanning cannot split a
    * code point. The returned UTF8Strings alias the lowered byte array
    * (no per-token copies). */
  def tokenize(text: UTF8String): ArrayData = {
    val bytes = text.toLowerCase.getBytes
    var nTok = 0
    var out = new Array[AnyRef](8)
    var i = 0
    val len = bytes.length
    while (i < len) {
      val b = bytes(i)
      val ws = b == ' ' || (b >= 9 && b <= 13 && b != 11)
      if (!ws) {
        val s = i
        while (i < len && {
          val c = bytes(i); !(c == ' ' || (c >= 9 && c <= 13 && c != 11))
        }) i += 1
        if (nTok == out.length) out = java.util.Arrays.copyOf(out, nTok * 2)
        out(nTok) = UTF8String.fromBytes(bytes, s, i - s)
        nTok += 1
      } else i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (nTok == out.length) out else java.util.Arrays.copyOf(out, nTok))
  }

  /** Doc-local n-gram COUNTS in one pass: returns
    * array<struct<n token fields, k: long>> with one row per DISTINCT
    * n-gram of the token array, in first-occurrence order (a
    * deterministic function of the input — task retries and chaos
    * probes replay exactly). The LM-family shape wants counts, not
    * occurrences: `explode(ngram_counts(tk))` feeds the model hash-agg
    * with map-side-collapsed rows AND lets the scoring join attach the
    * model to n-gram TYPES weighted by k, instead of re-shuffling the
    * full occurrence stream through every model join. Replaces the
    * interpreted `transform(sequence(...), i -> struct(...))` HOF
    * (CodegenFallback: per-row sequence array + per-element lambda rows
    * — the allocation storm behind the G1 mid-heap pathology the r9
    * BASELINE records on the kn3 family). */
  def ngramCounts(tokens: ArrayData, n: Int): ArrayData = {
    val m = tokens.numElements()
    if (m < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[AnyRef])
    // key = the n-gram's token list; List.equals/hashCode delegate to
    // UTF8String bytes equality
    val map = new java.util.LinkedHashMap[java.util.ArrayList[UTF8String], Array[AnyRef]]()
    var i = 0
    val last = m - n
    while (i <= last) {
      val key = new java.util.ArrayList[UTF8String](n)
      var j = 0
      while (j < n) { key.add(tokens.getUTF8String(i + j)); j += 1 }
      val row = map.get(key)
      if (row == null) {
        val vals = new Array[AnyRef](n + 1)
        var x = 0
        while (x < n) { vals(x) = key.get(x); x += 1 }
        vals(n) = java.lang.Long.valueOf(1L)
        map.put(key, vals)
      } else row(n) = java.lang.Long.valueOf(
        row(n).asInstanceOf[java.lang.Long].longValue + 1L)
      i += 1
    }
    val out = new Array[AnyRef](map.size)
    val it = map.values().iterator()
    var r = 0
    while (it.hasNext) {
      out(r) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        it.next().asInstanceOf[Array[Any]])
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  // ---- hashing kernels ------------------------------------------------

  /** 64-bit FNV-1a over UTF-8 bytes — stable, dependency-free base hash. */
  def fnv1a64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** splitmix64 finalizer — decorrelates the k permutations. */
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  // Permutation constants are pure functions of (seed, k): cache them so
  // the per-row cost is k multiplies per shingle, nothing else.
  private val permCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int), (Array[Long], Array[Long])]()

  private def perms(seed: Long, k: Int): (Array[Long], Array[Long]) =
    permCache.computeIfAbsent((seed, k), { key =>
      val (s, kk) = key
      val a = Array.tabulate(kk)(j => mix64(s + 2L * j) | 1L) // odd multipliers
      val b = Array.tabulate(kk)(j => mix64(s + 2L * j + 1L))
      (a, b)
    })

  /** MinHash signature: k permutation-minima over the element hashes.
    * One pass over the shingles per row, O(|shingles| * k) multiplies —
    * the Spark-side analog of a banded LSH signature builder. Empty input
    * yields Long.MaxValue sentinels (matches no non-empty signature).
    */
  def minHash(shingles: ArrayData, k: Int, seed: Long): ArrayData = {
    val (pa, pb) = perms(seed, k)
    val sig = Array.fill(k)(Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      val base = fnv1a64(shingles.getUTF8String(i))
      var j = 0
      while (j < k) {
        val h = pa(j) * base + pb(j)
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
  }

  /** Fused tokenize→shingle→minhash: one pass over the lowercased UTF-8
    * bytes, no intermediate token/shingle arrays. Bit-identical to
    * `minHash(word_shingles(tokens(text), n), k, seed)`: tokens are maximal
    * runs of non-`\s` bytes of `lower(text)` and each shingle hash is
    * FNV-1a over the n tokens' bytes with a single 0x20 between them —
    * exactly the bytes of the array_join'd shingle string. This is the
    * Spark analog of the reference's fused interops kernel (SURVEY §2.2):
    * collapse an expression pipeline into one tight loop.
    */
  def minHashText(text: UTF8String, n: Int, k: Int, seed: Long): ArrayData = {
    val (pa, pb) = perms(seed, k)
    val sig = Array.fill(k)(Long.MaxValue)
    val bytes = text.toLowerCase.getBytes

    // token offsets (maximal runs of non-whitespace bytes; whitespace =
    // [ \t\n\f\r], RE2's \s — NO \v, so DuckDB string_split_regex '\s+'
    // segments identically). multi-byte UTF-8 units are all >= 0x80,
    // never whitespace
    var nTok = 0
    var starts = new Array[Int](64)
    var ends = new Array[Int](64)
    var i = 0
    val len = bytes.length
    while (i < len) {
      val b = bytes(i)
      val ws = b == ' ' || (b >= 9 && b <= 13 && b != 11)
      if (!ws) {
        val s = i
        while (i < len && {
          val c = bytes(i); !(c == ' ' || (c >= 9 && c <= 13 && c != 11))
        }) i += 1
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTok * 2)
          ends = java.util.Arrays.copyOf(ends, nTok * 2)
        }
        starts(nTok) = s; ends(nTok) = i; nTok += 1
      } else i += 1
    }

    var w = 0
    while (w <= nTok - n) {
      var h = 0xcbf29ce484222325L
      var t = 0
      while (t < n) {
        if (t > 0) { h ^= 0x20L; h *= 0x100000001b3L }
        var p = starts(w + t)
        val e = ends(w + t)
        while (p < e) { h ^= (bytes(p) & 0xffL); h *= 0x100000001b3L; p += 1 }
        t += 1
      }
      var j = 0
      while (j < k) {
        val v = pa(j) * h + pb(j)
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      w += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
  }

  /** Fused tokenize→shingle→hash: the DISTINCT FNV-1a hashes of the word
    * n-gram shingles of `lower(text)` (sorted, so equal sets are equal
    * arrays). Hash-space twin of
    * `array_distinct(word_shingles(tokens(text), n))` for Jaccard
    * verification: intersecting long arrays costs a fraction of string
    * arrays and the 64-bit hash makes collisions irrelevant at any corpus
    * size. Same tokenizer and shingle-byte hashing as [[minHashText]].
    */
  def shingleHashes(text: UTF8String, n: Int): ArrayData = {
    val bytes = text.toLowerCase.getBytes
    var nTok = 0
    var starts = new Array[Int](64)
    var ends = new Array[Int](64)
    var i = 0
    val len = bytes.length
    while (i < len) {
      val b = bytes(i)
      val ws = b == ' ' || (b >= 9 && b <= 13 && b != 11)
      if (!ws) {
        val s = i
        while (i < len && {
          val c = bytes(i); !(c == ' ' || (c >= 9 && c <= 13 && c != 11))
        }) i += 1
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTok * 2)
          ends = java.util.Arrays.copyOf(ends, nTok * 2)
        }
        starts(nTok) = s; ends(nTok) = i; nTok += 1
      } else i += 1
    }
    val m = math.max(nTok - n + 1, 0)
    val hs = new Array[Long](m)
    var w = 0
    while (w < m) {
      var h = 0xcbf29ce484222325L
      var t = 0
      while (t < n) {
        if (t > 0) { h ^= 0x20L; h *= 0x100000001b3L }
        var p = starts(w + t)
        val e = ends(w + t)
        while (p < e) { h ^= (bytes(p) & 0xffL); h *= 0x100000001b3L; p += 1 }
        t += 1
      }
      hs(w) = h
      w += 1
    }
    java.util.Arrays.sort(hs)
    // dedupe in place (sorted): distinct sets must compare equal
    var o = 0
    var r = 0
    while (r < m) {
      if (o == 0 || hs(r) != hs(o - 1)) { hs(o) = hs(r); o += 1 }
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(hs, o))
  }

  /** Fused lower→collapse-whitespace→trim, byte-identical to
    * `trim(regexp_replace(lower(text), "[ \t\n\f\r]+", " "))`. The
    * whitespace set is RE2's `\s` = [ \t\n\f\r] (NO \x0B — DuckDB/RE2
    * exclude vertical tab, unlike Java's `\s`), so fingerprints built on
    * this normalization replay exactly under DuckDB `regexp_replace(_,
    * '\s+', ' ')`. Whitespace bytes are all < 0x80, never multi-byte
    * UTF-8 units; interior runs collapse to one 0x20, and leading/
    * trailing runs vanish (the composed form collapses them to a space
    * that trim then strips). One pass, no regex machinery.
    */
  def normalizeText(s: UTF8String): UTF8String = {
    val bytes = s.toLowerCase.getBytes
    val n = bytes.length
    val out = new Array[Byte](n)
    var o = 0
    var pendingSpace = false
    var i = 0
    while (i < n) {
      val b = bytes(i)
      val ws = b == ' ' || (b >= 9 && b <= 13 && b != 11)
      if (ws) { if (o > 0) pendingSpace = true }
      else {
        if (pendingSpace) { out(o) = ' '; o += 1; pendingSpace = false }
        out(o) = b; o += 1
      }
      i += 1
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, o))
  }

  /** Unicode NFC canonical composition (é as one codepoint, not
    * e + U+0301) — the normalization pass that must run BEFORE any
    * hash-based dedup, or byte-different spellings of the same text
    * fingerprint apart. ASCII fast path: NFC is the identity on ASCII,
    * and the quick-check scan avoids the UTF8String→String→UTF8String
    * round-trip for the overwhelmingly common case; non-ASCII input
    * pays one java.text.Normalizer call (same utf8proc-equivalent
    * tables DuckDB's nfc_normalize uses, so oracles replay it).
    */
  def nfcNormalize(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    var i = 0
    var ascii = true
    while (ascii && i < bytes.length) { ascii = bytes(i) >= 0; i += 1 }
    if (ascii) s
    else {
      val str = s.toString
      if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
      else UTF8String.fromString(
        java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
    }
  }

  /** Canonical stopword sets for the langId heuristic (shared with
    * `TextAnalysis.stopwords` — one definition, two surfaces). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "que", "pour", "dans"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "que", "por", "con"),
    "it" -> Seq("il", "la", "gli", "e", "che", "un", "una", "per", "con", "non"))

  /** Canonical Gopher stopword list (arXiv:2112.11446 §A1.1.2 — shared
    * with the declarative battery in TextAnalysis; one definition). */
  val gopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  private def toBytes(ws: Seq[String]): Array[Array[Byte]] =
    ws.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray

  private val enStopBytes: Array[Array[Byte]] = toBytes(stopwords("en"))

  /** Fused quality battery: one pass over the raw bytes for the
    * punct/alpha/char counts plus one pass over the lowered bytes for the
    * token stats, result-identical to the declarative
    * `TextAnalysis.qualityColumnsDeclarative` composition (asserted in
    * RegressionSpec), including its null-text semantics: Spark's
    * `size(null)` is null, `when(null > 0, …).otherwise(0)` takes the
    * otherwise branch, and `least`/`greatest` SKIP null children — so a
    * null document yields (null, 0, 0, 0, 0, 0.5), which this kernel
    * hard-codes.
    *
    * Exact-arithmetic argument: every count is an exact int; every ratio
    * is one int/int double division; the composite is the same
    * left-associated 0.25-weighted sum with min/max clamps (math.min ≡
    * `least` for non-NaN operands, and no operand here can be NaN).
    * Fields: n_tokens, mean_tok_len, punct_ratio, alpha_ratio,
    * stopword_ratio, quality — all double.
    */
  def qualityStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    if (text == null)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](null, 0.0, 0.0, 0.0, 0.0, 0.5))
    // pass 1: ORIGINAL text — code points, \p{Punct} (ASCII-only class)
    // and [A-Za-z] counts; ASCII bytes are never UTF-8 continuations
    val ob = text.getBytes
    var nChars = 0L; var punct = 0L; var alpha = 0L
    var i = 0
    while (i < ob.length) {
      val b = ob(i) & 0xFF
      if ((b & 0xC0) != 0x80) nChars += 1
      if (b >= 33 && b <= 126 &&
        !((b >= 48 && b <= 57) || (b >= 65 && b <= 90) || (b >= 97 && b <= 122)))
        punct += 1
      if ((b >= 65 && b <= 90) || (b >= 97 && b <= 122)) alpha += 1
      i += 1
    }
    // pass 2: LOWERED text — `\s+`-token count, summed code-point token
    // lengths, en-stopword hits (whitespace = [ \t\n\f\r], RE2's \s)
    val lb = text.toLowerCase.getBytes
    var nTok = 0L; var sumLen = 0L; var sw = 0L
    i = 0
    val len = lb.length
    while (i < len) {
      val b = lb(i)
      val ws = b == ' ' || (b >= 9 && b <= 13 && b != 11)
      if (!ws) {
        val st = i
        var cps = 0L
        while (i < len && {
          val c = lb(i); !(c == ' ' || (c >= 9 && c <= 13 && c != 11))
        }) {
          if ((lb(i) & 0xC0) != 0x80) cps += 1
          i += 1
        }
        nTok += 1; sumLen += cps
        val tl = i - st
        var j = 0
        var hit = false
        while (!hit && j < enStopBytes.length) {
          val s = enStopBytes(j)
          if (s.length == tl) {
            var k = 0
            while (k < tl && s(k) == lb(st + k)) k += 1
            hit = k == tl
          }
          j += 1
        }
        if (hit) sw += 1
      } else i += 1
    }
    val nTokD = nTok.toDouble
    val meanLen = if (nTok > 0) sumLen.toDouble / nTokD else 0.0
    val punctR = if (nChars > 0) punct.toDouble / nChars else 0.0
    val alphaR = if (nChars > 0) alpha.toDouble / nChars else 0.0
    val swR = if (nTok > 0) sw.toDouble / nTokD else 0.0
    val comp0 = 0.25 * math.min(nTokD / 100.0, 1.0) +
      0.25 * math.min(meanLen / 8.0, 1.0) +
      0.25 * (1.0 - math.min(punctR * 5.0, 1.0)) +
      0.25 * math.min(swR * 5.0, 1.0)
    val comp = math.min(math.max(comp0, 0.0), 1.0)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTokD, meanLen, punctR, alphaR, swR, comp))
  }

  private val gopherStopBytes: Array[Array[Byte]] = toBytes(gopherStops)

  /** Fused readability COUNTS (the expensive part of the Flesch/FK
    * battery — the formulas stay declarative): sentence runs `[.!?]+` on
    * the ORIGINAL text, `\s+` tokens of the LOWERED text, and per-token
    * vowel-group runs `[aeiouy]+` (min 1 per token). Result-identical to
    * the regexp_extract_all composition (RegressionSpec): the ASCII
    * classes never match UTF-8 continuation bytes, and lowercasing maps
    * non-whitespace to non-whitespace so the token walk segments exactly
    * like `split(lower(text), ws)`.
    *
    * Null-text semantics mirror the declarative forms: `greatest` skips
    * the null regexp count so n_sents is 1; n_words/n_syllables are null.
    */
  def readCounts(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    if (text == null)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](1L, null, null))
    val ob = text.getBytes
    var sentRuns = 0L
    var inRun = false
    var i = 0
    while (i < ob.length) {
      val s = ob(i) == '.' || ob(i) == '!' || ob(i) == '?'
      if (s && !inRun) sentRuns += 1
      inRun = s
      i += 1
    }
    val nSents = math.max(sentRuns, 1L)
    val lb = text.toLowerCase.getBytes
    var nTok = 0L; var nSyll = 0L
    i = 0
    val len = lb.length
    while (i < len) {
      val b = lb(i)
      val ws = b == ' ' || (b >= 9 && b <= 13 && b != 11)
      if (!ws) {
        var runs = 0L
        var inV = false
        while (i < len && {
          val c = lb(i); !(c == ' ' || (c >= 9 && c <= 13 && c != 11))
        }) {
          val v = lb(i) == 'a' || lb(i) == 'e' || lb(i) == 'i' ||
            lb(i) == 'o' || lb(i) == 'u' || lb(i) == 'y'
          if (v && !inV) runs += 1
          inV = v
          i += 1
        }
        nTok += 1
        nSyll += math.max(runs, 1L)
      } else i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nSents, nTok, nSyll))
  }

  /** Fused Gopher rule battery, result-identical to the declarative
    * `TextAnalysis.gopherQualityColumnsDeclarative` composition
    * (RegressionSpec), including null-text semantics: `filter` drops
    * null-predicate elements so stop_hits is 0 (not null) for a null doc,
    * the `when(n>0,…).otherwise(0)` ratios are 0.0, the line fractions
    * (no guard in the declarative form) stay null, and the keep flag is
    * null.
    *
    * Exact-arithmetic notes mirroring the declarative ops:
    *  - tokens come from LOWERED text on the `[ \t\n\f\r]+` class; token
    *    lengths count code points;
    *  - '#' and leftmost non-overlapping '...' are counted on the
    *    ORIGINAL text; ellipsisCount is (3·matches)/3 via Spark's double
    *    division — an integer-valued double, reproduced as a double here;
    *  - lines split the ORIGINAL text on '\n' KEEPING empty segments
    *    (Spark split has limit -1);
    *  - bullet test: ltrim strips 0x20 only, then the first CODE POINT ∈
    *    {'-','*','•'}; ellipsis-line test: rtrim strips 0x20, then the
    *    last three bytes are "...";
    *  - stop_hits counts DISTINCT Gopher stopwords present (0..8).
    */
  def gopherStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    if (text == null)
      // keep is FALSE, not null: mean_word_len is 0.0 (otherwise-branch),
      // its between(3,10) is false, and null && false = false in SQL
      // three-valued logic
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](null, 0.0, 0.0, 0.0, 0.0, 0, null, null, false))
    // ---- original-text pass: '#' count, '...' count, line structure ----
    val ob = text.getBytes
    var hashC = 0L
    var ellC = 0L
    var i = 0
    while (i < ob.length) {
      if (ob(i) == '#') hashC += 1
      i += 1
    }
    i = 0
    while (i < ob.length) {
      if (ob(i) == '.' && i + 2 < ob.length && ob(i + 1) == '.' && ob(i + 2) == '.') {
        ellC += 1; i += 3
      } else i += 1
    }
    // lines: segments between '\n' bytes, empties kept
    var nLines = 0L; var bulletLines = 0L; var ellLines = 0L
    var ls = 0
    i = 0
    while (i <= ob.length) {
      if (i == ob.length || ob(i) == '\n') {
        nLines += 1
        // ltrim spaces, then first code point in {'-','*','•'}
        var a = ls
        while (a < i && ob(a) == ' ') a += 1
        if (a < i) {
          val b0 = ob(a) & 0xFF
          // '-', '*', or '•' (U+2022 = E2 80 A2) as the first code point
          if (b0 == '-' || b0 == '*' ||
            (b0 == 0xE2 && a + 2 < i &&
              (ob(a + 1) & 0xFF) == 0x80 && (ob(a + 2) & 0xFF) == 0xA2))
            bulletLines += 1
        }
        // rtrim spaces, then endswith "..."
        var e = i
        while (e > ls && ob(e - 1) == ' ') e -= 1
        if (e - ls >= 3 && ob(e - 1) == '.' && ob(e - 2) == '.' && ob(e - 3) == '.')
          ellLines += 1
        ls = i + 1
      }
      i += 1
    }
    // ---- lowered-text pass: token count, summed lengths, alpha tokens,
    // distinct Gopher stopword presence ----
    val lb = text.toLowerCase.getBytes
    var nTok = 0L; var sumLen = 0L; var alphaTok = 0L
    val stopSeen = new Array[Boolean](gopherStopBytes.length)
    i = 0
    val len = lb.length
    while (i < len) {
      val b = lb(i)
      val ws = b == ' ' || (b >= 9 && b <= 13 && b != 11)
      if (!ws) {
        val st = i
        var cps = 0L
        var hasAlpha = false
        while (i < len && {
          val c = lb(i); !(c == ' ' || (c >= 9 && c <= 13 && c != 11))
        }) {
          if ((lb(i) & 0xC0) != 0x80) cps += 1
          if (lb(i) >= 'a' && lb(i) <= 'z') hasAlpha = true
          i += 1
        }
        nTok += 1; sumLen += cps
        if (hasAlpha) alphaTok += 1
        val tl = i - st
        var j = 0
        while (j < gopherStopBytes.length) {
          if (!stopSeen(j)) {
            val s = gopherStopBytes(j)
            if (s.length == tl) {
              var k = 0
              while (k < tl && s(k) == lb(st + k)) k += 1
              if (k == tl) stopSeen(j) = true
            }
          }
          j += 1
        }
      } else i += 1
    }
    var stopHits = 0
    var j = 0
    while (j < stopSeen.length) { if (stopSeen(j)) stopHits += 1; j += 1 }
    val nD = nTok.toDouble
    val meanWordLen = if (nTok > 0) sumLen.toDouble / nD else 0.0
    val ellCountD = (3.0 * ellC) / 3.0 // Spark: (int diff) / 3 in double
    val hashRatio = if (nTok > 0) hashC.toDouble / nD else 0.0
    val ellRatio = if (nTok > 0) ellCountD / nD else 0.0
    val alphaFrac = if (nTok > 0) alphaTok.toDouble / nD else 0.0
    val bulletFrac = bulletLines.toDouble / nLines.toDouble
    val ellLineFrac = ellLines.toDouble / nLines.toDouble
    val keep = nTok >= 50 && nTok <= 100000 &&
      meanWordLen >= 3.0 && meanWordLen <= 10.0 &&
      hashRatio < 0.1 && ellRatio < 0.1 &&
      bulletFrac < 0.9 && ellLineFrac < 0.3 &&
      alphaFrac >= 0.8 && stopHits >= 2
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTok, meanWordLen, hashRatio, ellRatio, alphaFrac,
        stopHits, bulletFrac, ellLineFrac, keep))
  }

  private val langIdLangs: Array[String] = stopwords.keys.toArray.sorted
  private val langIdMaxSwLen = stopwords.valuesIterator.flatten.map(_.length).max
  // token → bitmask of languages that list it as a stopword: ONE hash
  // lookup per token instead of 5 langs × 10 array_contains scans
  private val stopwordMask: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    var li = 0
    while (li < langIdLangs.length) {
      stopwords(langIdLangs(li)).foreach { w =>
        val prev = m.get(w)
        m.put(w, Integer.valueOf((if (prev == null) 0 else prev.intValue) | (1 << li)))
      }
      li += 1
    }
    m
  }

  /** Fused language-ID kernel, result-identical to the declarative
    * stopword-ratio argmax (`TextAnalysis` composed form, asserted in
    * RegressionSpec): CJK code-point ratio > 0.3 ⇒ "zh"; otherwise the
    * language with the max stopword-hit ratio over the `\s+` tokens of
    * `lower(text)` (ties → lexicographically greatest lang, exactly like
    * `array_max` over (score, lang) structs); all-zero scores ⇒ "unknown".
    * One pass over the bytes; no regexes, no intermediate arrays.
    */
  def langId(text: UTF8String): UTF8String = {
    // CJK override counts CODE POINTS of the raw text (Spark's length())
    val s = text.toString
    var ci = 0; var nCp = 0; var nCjk = 0
    while (ci < s.length) {
      val cp = s.codePointAt(ci)
      if (cp >= 0x4e00 && cp <= 0x9fff) nCjk += 1
      nCp += 1
      ci += Character.charCount(cp)
    }
    if (nCp > 0 && nCjk.toDouble / nCp > 0.3) return UTF8String.fromString("zh")

    val bytes = text.toLowerCase.getBytes
    val counts = new Array[Int](langIdLangs.length)
    var nTok = 0
    var i = 0
    val len = bytes.length
    while (i < len) {
      val b = bytes(i)
      val ws = b == ' ' || (b >= 9 && b <= 13 && b != 11)
      if (!ws) {
        val st = i
        while (i < len && {
          val c = bytes(i); !(c == ' ' || (c >= 9 && c <= 13 && c != 11))
        }) i += 1
        nTok += 1
        // stopwords are short ASCII: longer tokens can't match, skip decode
        if (i - st <= langIdMaxSwLen) {
          val mask = stopwordMask.get(
            new String(bytes, st, i - st, java.nio.charset.StandardCharsets.UTF_8))
          if (mask != null) {
            val m = mask.intValue
            var j = 0
            while (j < counts.length) {
              if ((m & (1 << j)) != 0) counts(j) += 1
              j += 1
            }
          }
        }
      } else i += 1
    }
    var best = 0.0
    var bestLang: String = langIdLangs(0)
    if (nTok > 0) {
      var j = 0
      while (j < counts.length) {
        val sc = counts(j).toDouble / nTok
        if (sc >= best) { best = sc; bestLang = langIdLangs(j) } // tie → later lang
        j += 1
      }
    }
    UTF8String.fromString(if (best > 0.0) bestLang else "unknown")
  }

  /** 64-bit SimHash over token hashes: sign of per-bit vote counts. */
  def simHash(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val h = mix64(fnv1a64(tokens.getUTF8String(i)))
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
        bit += 1
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (votes(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }

  /** Character-unigram entropy in nats: code points sorted ascending,
    * each run of equal chars closed with run·ln(run), entropy =
    * ln(n) − Σ/n. Bit-identical to the declarative sorted run-length fold
    * (same add sequence, same Math.log) — asserted in RegressionSpec.
    */
  def charEntropy(text: UTF8String): Double = {
    val s = text.toString
    val len = s.length
    if (len == 0) return 0.0
    val n0 = s.codePointCount(0, len)
    val cps = new Array[Int](n0)
    var i = 0
    var j = 0
    while (i < len) {
      val cp = s.codePointAt(i)
      cps(j) = cp; j += 1; i += Character.charCount(cp)
    }
    java.util.Arrays.sort(cps)
    // StrictMath.log, not Math.log: Catalyst's log() evaluates via
    // StrictMath and the two differ by 1 ulp on many inputs (e.g. ln 3) —
    // bit-identity with the declarative fold requires the same libm
    var acc = 0.0
    var run = 1
    var k = 1
    while (k < n0) {
      if (cps(k) == cps(k - 1)) run += 1
      else { acc += run.toDouble * java.lang.StrictMath.log(run.toDouble); run = 1 }
      k += 1
    }
    acc += run.toDouble * java.lang.StrictMath.log(run.toDouble)
    java.lang.StrictMath.log(n0.toDouble) - acc / n0
  }

  /** Exact-bytes hash key: gram/line content with a cached FNV hash so
    * HashMap grouping is equality-exact (no hash-space approximation —
    * the multiset counts must replay bit-exactly in the oracle). */
  private final class BytesKey(val b: Array[Byte]) {
    override val hashCode: Int = java.util.Arrays.hashCode(b)
    override def equals(o: Any): Boolean = o match {
      case k: BytesKey => java.util.Arrays.equals(b, k.b)
      case _ => false
    }
  }

  /** Fused Gopher repetition signals over a raw text column →
    * struct(dup_line_frac, top_2gram_frac, dup_5gram_frac). Result-
    * identical to TextAnalysis.gopherRepetitionDeclarative
    * (RegressionSpec): the declarative form sorts the joined-gram string
    * arrays and folds runs, but run lengths are MULTISET properties —
    * grouping equal grams in a hash map (keys = exact joined bytes,
    * tokens never contain the space separator so the joined string parses
    * back uniquely) yields the same most-common-gram count (max
    * multiplicity) and has-a-duplicate count (sum of multiplicities > 1)
    * without building, joining, or sorting string arrays. Null text
    * yields (0.0, 0.0, 0.0) — the declarative when/otherwise chain's
    * null-condition fallthrough — so the expression is non-nullable.
    *
    * Lines split the ORIGINAL text on 0x0A (trailing empties kept,
    * Java split limit -1 semantics, = Spark's split); grams come from
    * the LOWERCASED tokenization (same byte-run scanner as
    * [[minHashText]]).
    */
  def repStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    def row(a: Double, b: Double, c: Double) =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](a, b, c))
    if (text == null) return row(0.0, 0.0, 0.0)

    // ---- duplicate-line fraction over the ORIGINAL bytes ----
    val raw = text.getBytes
    val seen = new java.util.HashSet[BytesKey]()
    var nLines = 0
    var lineStart = 0
    var i = 0
    while (i <= raw.length) {
      if (i == raw.length || raw(i) == '\n') {
        seen.add(new BytesKey(
          java.util.Arrays.copyOfRange(raw, lineStart, i)))
        nLines += 1
        lineStart = i + 1
      }
      i += 1
    }
    val dupLineFrac =
      if (nLines > 0) (nLines - seen.size).toDouble / nLines.toDouble else 0.0

    // ---- gram multiplicity stats over the LOWERCASED tokenization ----
    val bytes = text.toLowerCase.getBytes
    var nTok = 0
    var starts = new Array[Int](64)
    var ends = new Array[Int](64)
    i = 0
    val len = bytes.length
    while (i < len) {
      val b = bytes(i)
      val ws = b == ' ' || (b >= 9 && b <= 13 && b != 11)
      if (!ws) {
        val s = i
        while (i < len && {
          val c = bytes(i); !(c == ' ' || (c >= 9 && c <= 13 && c != 11))
        }) i += 1
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTok * 2)
          ends = java.util.Arrays.copyOf(ends, nTok * 2)
        }
        starts(nTok) = s; ends(nTok) = i; nTok += 1
      } else i += 1
    }

    // (top-run fraction, has-duplicate fraction) of n-gram positions
    def gramFracs(n: Int): (Double, Double) = {
      val m = nTok - n + 1
      if (m <= 0) return (0.0, 0.0)
      val counts = new java.util.HashMap[BytesKey, Array[Int]](m * 2)
      var g = 0
      while (g < m) {
        var glen = n - 1 // separators
        var t = 0
        while (t < n) { glen += ends(g + t) - starts(g + t); t += 1 }
        val gb = new Array[Byte](glen)
        var o = 0
        t = 0
        while (t < n) {
          if (t > 0) { gb(o) = ' '; o += 1 }
          val tl = ends(g + t) - starts(g + t)
          System.arraycopy(bytes, starts(g + t), gb, o, tl)
          o += tl
          t += 1
        }
        val c = counts.computeIfAbsent(new BytesKey(gb), _ => new Array[Int](1))
        c(0) += 1
        g += 1
      }
      var best = 0
      var dup = 0
      val it = counts.values().iterator()
      while (it.hasNext) {
        val c = it.next()(0)
        if (c > best) best = c
        if (c > 1) dup += c
      }
      (best.toDouble / m.toDouble, dup.toDouble / m.toDouble)
    }

    val (top2, _) = gramFracs(2)
    val (_, dup5) = gramFracs(5)
    row(dupLineFrac, top2, dup5)
  }

  /** Count of positions where two equal-length signature arrays agree —
    * the MinHash match count behind est_jaccard. Bit-identical to
    * `aggregate(zip_with(a, b, (x,y) -> if(x=y,1,0)), 0, +)` for both
    * the long-hash and md5-hex-chunk families (RegressionSpec). Runs
    * once per CANDIDATE PAIR, the quadratic-in-cluster-size hot loop of
    * LSH verification — interpreted zip_with there costs two array
    * allocations and k lambda frames per pair. */
  def eqCount(a: ArrayData, b: ArrayData, isString: Boolean): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    if (isString) {
      while (i < n) {
        if (a.getUTF8String(i).equals(b.getUTF8String(i))) c += 1
        i += 1
      }
    } else {
      while (i < n) {
        if (a.getLong(i) == b.getLong(i)) c += 1
        i += 1
      }
    }
    c
  }

  /** Byte-run tokenizer shared by the md5-replay kernels: maximal runs of
    * non-whitespace bytes of `bytes`, whitespace = [ \t\n\f\r] (RE2's
    * `\s`, the [[minHashText]] contract). Returns (starts, ends, nTok).
    */
  private def tokenRuns(bytes: Array[Byte]): (Array[Int], Array[Int], Int) = {
    var nTok = 0
    var starts = new Array[Int](64)
    var ends = new Array[Int](64)
    var i = 0
    val len = bytes.length
    while (i < len) {
      val b = bytes(i)
      val ws = b == ' ' || (b >= 9 && b <= 13 && b != 11)
      if (!ws) {
        val s = i
        while (i < len && {
          val c = bytes(i); !(c == ' ' || (c >= 9 && c <= 13 && c != 11))
        }) i += 1
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTok * 2)
          ends = java.util.Arrays.copyOf(ends, nTok * 2)
        }
        starts(nTok) = s; ends(nTok) = i; nTok += 1
      } else i += 1
    }
    (starts, ends, nTok)
  }

  private val hexDigits = "0123456789abcdef".getBytes

  private def toHex(dg: Array[Byte]): Array[Byte] = {
    val hx = new Array[Byte](32)
    var b = 0
    while (b < 16) {
      hx(2 * b) = hexDigits((dg(b) >> 4) & 0xf)
      hx(2 * b + 1) = hexDigits(dg(b) & 0xf)
      b += 1
    }
    hx
  }

  /** Fused tokenize→shingle→md5: hex digests of the n-token grams of
    * lower(text), bit-identical to
    * `transform(word_shingles(tokens(text), n), md5)` — null text → null,
    * fewer than n tokens → empty array — without materializing token or
    * gram strings. Backs the exact-substring span statistics
    * (Dedup.crossDocSpans), where the per-gram md5 pass dominated the
    * map side as interpreted HOFs.
    */
  def gramMd5s(text: UTF8String, n: Int): ArrayData = {
    val bytes = text.toLowerCase.getBytes
    val (starts, ends, nTok) = tokenRuns(bytes)
    val m = math.max(nTok - n + 1, 0)
    val out = new Array[AnyRef](m)
    if (m > 0) {
      val md = java.security.MessageDigest.getInstance("MD5")
      var g = 0
      while (g < m) {
        md.reset()
        var t = 0
        while (t < n) {
          if (t > 0) md.update(' '.toByte)
          md.update(bytes, starts(g + t), ends(g + t) - starts(g + t))
          t += 1
        }
        out(g) = UTF8String.fromBytes(toHex(md.digest()))
        g += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Fused md5-majority-vote SimHash signature (the engine-replayable
    * family of Dedup.replayableSigs): dimension d of a token's projection
    * is hexchar_d(md5(token) || md5('x'||token)) >= '8'; signature bit d
    * is the majority vote (2·ones > n). Returns struct(n_tokens, bits
    * 64-char string, h1, h2) where h1/h2 are the two 32-bit halves as
    * longs — bit-identical to the declarative 64-unrolled-column form
    * incl. `conv(substring(bits,...),2,10)` packing (RegressionSpec).
    * One pass over the tokens instead of 64 interpreted filter+substring
    * scans of the per-token digest array.
    */
  def replaySimhashSig(
      text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = text.toLowerCase.getBytes
    val (starts, ends, nTok) = tokenRuns(bytes)
    val ones = new Array[Int](64)
    val md = java.security.MessageDigest.getInstance("MD5")
    var t = 0
    while (t < nTok) {
      md.reset()
      md.update(bytes, starts(t), ends(t) - starts(t))
      val h1x = toHex(md.digest())
      md.reset()
      md.update('x'.toByte)
      md.update(bytes, starts(t), ends(t) - starts(t))
      val h2x = toHex(md.digest())
      var d = 0
      while (d < 32) {
        if (h1x(d) >= '8') ones(d) += 1
        if (h2x(d) >= '8') ones(32 + d) += 1
        d += 1
      }
      t += 1
    }
    val bits = new Array[Byte](64)
    var h1 = 0L
    var h2 = 0L
    var d = 0
    while (d < 64) {
      val one = 2 * ones(d) > nTok
      bits(d) = if (one) '1' else '0'
      if (d < 32) h1 = (h1 << 1) | (if (one) 1L else 0L)
      else h2 = (h2 << 1) | (if (one) 1L else 0L)
      d += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTok, UTF8String.fromBytes(bits), h1, h2))
  }

  /** Fused engine-replayable MinHash signature (the md5 family of
    * Dedup.minHashPairsReplayable, fixed at k=16 = 4 salted md5s × 4
    * 8-hex chunks): permutation p's hash of a gram is chunk p%4 of
    * `md5((p/4) || ':' || gram)` and the signature entry is the
    * LEXICOGRAPHIC minimum over grams. Returns struct(n_grams, sig
    * array<string> of 16 8-hex minima) — bit-identical to the staged
    * declarative form (4 digest-array columns + 16 array_min(transform(
    * substring))) asserted in RegressionSpec. One md5 pass per
    * (gram, salt) with no intermediate digest arrays.
    */
  def replayMinhashSig(text: UTF8String,
      shingle: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = text.toLowerCase.getBytes
    val (starts, ends, nTok) = tokenRuns(bytes)
    val m = math.max(nTok - shingle + 1, 0)
    if (m == 0)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](0, new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array.empty[AnyRef])))
    val mins = new Array[Array[Byte]](16)
    val md = java.security.MessageDigest.getInstance("MD5")
    var g = 0
    while (g < m) {
      var salt = 0
      while (salt < 4) {
        md.reset()
        md.update(('0' + salt).toByte)
        md.update(':'.toByte)
        var t = 0
        while (t < shingle) {
          if (t > 0) md.update(' '.toByte)
          md.update(bytes, starts(g + t), ends(g + t) - starts(g + t))
          t += 1
        }
        val hx = toHex(md.digest())
        var c = 0
        while (c < 4) {
          val p = salt * 4 + c
          val chunk = java.util.Arrays.copyOfRange(hx, 8 * c, 8 * c + 8)
          if (mins(p) == null ||
              java.util.Arrays.compare(chunk, mins(p)) < 0) mins(p) = chunk
          c += 1
        }
        salt += 1
      }
      g += 1
    }
    val sig = new Array[AnyRef](16)
    var p = 0
    while (p < 16) { sig(p) = UTF8String.fromBytes(mins(p)); p += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](m, new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)))
  }

  /** Fused tokenize→shingle→md5-first-byte buckets: bucket of gram g is
    * `conv(substring(md5(g),1,2),16,10)` = the first digest byte
    * (0..255). Bit-identical to the declarative transform over
    * word_shingles (RegressionSpec); backs the DSIR importance-weight
    * bucketing where the persisted gram-STRING arrays and the per-gram
    * interpreted md5 dominated both passes.
    */
  def gramMd5Buckets(text: UTF8String, n: Int): ArrayData = {
    val bytes = text.toLowerCase.getBytes
    val (starts, ends, nTok) = tokenRuns(bytes)
    val m = math.max(nTok - n + 1, 0)
    val out = new Array[Int](m)
    if (m > 0) {
      val md = java.security.MessageDigest.getInstance("MD5")
      var g = 0
      while (g < m) {
        md.reset()
        var t = 0
        while (t < n) {
          if (t > 0) md.update(' '.toByte)
          md.update(bytes, starts(g + t), ends(g + t) - starts(g + t))
          t += 1
        }
        out(g) = md.digest()(0) & 0xff
        g += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Σ lut(i) over an int-bucket array, left to right — bit-identical to
    * the declarative `aggregate(transform(bk, b -> element_at(lut, b+1)),
    * 0.0, +)` fold (same element order, same IEEE adds). */
  def lutSum(buckets: ArrayData, lut: Array[Double]): Double = {
    val n = buckets.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { acc += lut(buckets.getInt(i)); i += 1 }
    acc
  }

  /** Fused winnowing fingerprint selection (Schleimer et al. 2003 / MOSS):
    * tokenize lower(text) (same byte-run scanner as [[minHashText]]),
    * md5-hex each k-token gram, then per sliding window of `w` gram
    * positions select the lexicographic-minimum hash at its RIGHTMOST
    * occurrence, deduping across overlapping windows. Returns
    * struct(n_grams INT, fps ARRAY<STRING>) where each fingerprint is
    * "md5hex:pos" (pos 1-based gram index).
    *
    * Result-identical to the declarative slice/array_min/reverse
    * formulation ([[graft.operators.Dedup.winnowStatsDeclarative]],
    * equality asserted in RegressionSpec over the fixture) but O(grams)
    * via a monotonic deque instead of O(grams·w) interpreted-HOF window
    * slices: pop-back on `>=` keeps the RIGHTMOST of equal minima —
    * the same tie the declarative reverse+first-position arithmetic
    * selects — and a (hash,pos) pair can only repeat across CONSECUTIVE
    * windows (a gram index leaves the window for good once it slides
    * past), so last-emitted dedup equals array_distinct.
    */
  def winnowFps(text: UTF8String, k: Int,
      w: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = text.toLowerCase.getBytes
    var nTok = 0
    var starts = new Array[Int](64)
    var ends = new Array[Int](64)
    var i = 0
    val len = bytes.length
    while (i < len) {
      val b = bytes(i)
      val ws = b == ' ' || (b >= 9 && b <= 13 && b != 11)
      if (!ws) {
        val s = i
        while (i < len && {
          val c = bytes(i); !(c == ' ' || (c >= 9 && c <= 13 && c != 11))
        }) i += 1
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTok * 2)
          ends = java.util.Arrays.copyOf(ends, nTok * 2)
        }
        starts(nTok) = s; ends(nTok) = i; nTok += 1
      } else i += 1
    }
    val m = math.max(nTok - k + 1, 0)
    if (m == 0)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](0, new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array.empty[AnyRef])))

    // md5 hex of each gram (tokens joined by one 0x20) — 32 ASCII bytes,
    // so byte-wise compare == the string compare array_min performs
    val hexd = "0123456789abcdef".getBytes
    val md = java.security.MessageDigest.getInstance("MD5")
    val grams = new Array[Array[Byte]](m)
    var g = 0
    while (g < m) {
      md.reset()
      var t = 0
      while (t < k) {
        if (t > 0) md.update(' '.toByte)
        md.update(bytes, starts(g + t), ends(g + t) - starts(g + t))
        t += 1
      }
      val dg = md.digest()
      val hx = new Array[Byte](32)
      var b = 0
      while (b < 16) {
        hx(2 * b) = hexd((dg(b) >> 4) & 0xf)
        hx(2 * b + 1) = hexd(dg(b) & 0xf)
        b += 1
      }
      grams(g) = hx
      g += 1
    }

    val out = new scala.collection.mutable.ArrayBuffer[AnyRef](
      2 * m / (w + 1) + 2)
    def emit(idx: Int): Unit = {
      val pos = java.lang.Integer.toString(idx + 1).getBytes
      val fp = new Array[Byte](33 + pos.length)
      System.arraycopy(grams(idx), 0, fp, 0, 32)
      fp(32) = ':'
      System.arraycopy(pos, 0, fp, 33, pos.length)
      out += UTF8String.fromBytes(fp)
    }
    @inline def cmp(a: Int, b: Int): Int =
      java.util.Arrays.compare(grams(a), grams(b)) // hex is ASCII: signed ok

    if (m < w) {
      // single truncated window over all grams: rightmost min
      var best = 0
      var j = 1
      while (j < m) { if (cmp(j, best) <= 0) best = j; j += 1 }
      emit(best)
    } else {
      val dq = new Array[Int](m)
      var head = 0
      var tail = 0 // live indices in dq(head until tail)
      var last = -1
      var idx = 0
      while (idx < m) {
        while (tail > head && cmp(dq(tail - 1), idx) >= 0) tail -= 1
        dq(tail) = idx; tail += 1
        if (dq(head) <= idx - w) head += 1
        if (idx >= w - 1 && dq(head) != last) { last = dq(head); emit(last) }
        idx += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](m,
        new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)))
  }

  def isFloatArray(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ArrayType(FloatType, _) => true
    case org.apache.spark.sql.types.ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(s"expected array<float|double>, got $other")
  }

  /** Fused PQ encode: per subspace mi, the argmin-L2 codeword index over
    * the flat-packed codebooks (`books[(mi·ksub + j)·dsub + i]`).
    * Bit-identical to the declarative
    * `array_min(struct(aggregate(zip_with(sub, cw, (a,b) -> (a-b)²)), j))`
    * form: the distance is the same ascending-i double fold (float widened
    * to double first, exactly the array<double> cast), and the argmin uses
    * Spark's total double ordering (`Double.compare`: ties keep the
    * smallest j because j ascends and the comparison is strict; NaN sorts
    * above every finite distance, so an all-NaN row encodes to j=0 like
    * the struct min). The declarative form costs seconds of one-time
    * plan/JIT setup (an m·ksub-branch expression tree); this is one flat
    * loop per row inside whole-stage codegen.
    */
  def pqEncode(vec: ArrayData, books: Array[Double], m: Int, ksub: Int,
      isFloat: Boolean): ArrayData = {
    val dsub = books.length / (m * ksub)
    if (vec.numElements() < m * dsub)
      throw new IllegalArgumentException(
        s"pqEncode: vector dim ${vec.numElements()} < m*dsub = ${m * dsub}")
    val codes = new Array[Byte](m)
    var mi = 0
    while (mi < m) {
      val vOff = mi * dsub
      var bestDist = Double.PositiveInfinity
      var bestJ = 0
      var j = 0
      while (j < ksub) {
        val bOff = (mi * ksub + j) * dsub
        var acc = 0.0
        var i = 0
        while (i < dsub) {
          val a = if (isFloat) vec.getFloat(vOff + i).toDouble
                  else vec.getDouble(vOff + i)
          val diff = a - books(bOff + i)
          acc += diff * diff
          i += 1
        }
        if (java.lang.Double.compare(acc, bestDist) < 0) { bestDist = acc; bestJ = j }
        j += 1
      }
      codes(mi) = bestJ.toByte
      mi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }

  // ---- sketch double-hash family (Bloom / Count-Min) -----------------------

  private def nibbleAt(dg: Array[Byte], i: Int): Long = {
    val b = dg(i >> 1) & 0xFF
    (if ((i & 1) == 0) b >> 4 else b & 0xF).toLong
  }

  /** The two 60-bit md5 halves reduced mod m — bit-identical to
    * `pmod(conv(substring(md5(key),1,15),16,10) cast long, m)` and the
    * 16..30 twin (hex chars 1-15 are digest nibbles 0-14, etc.). Fills
    * `out(0)=h1, out(1)=h2`. One digest per key instead of the two the
    * declarative tree evaluates (and HOFs re-evaluate per element).
    */
  private def doubleHash(key: UTF8String, m: Int, out: Array[Long]): Unit = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val dg = md.digest(key.getBytes)
    var h1 = 0L; var i = 0
    while (i < 15) { h1 = (h1 << 4) | nibbleAt(dg, i); i += 1 }
    var h2 = 0L
    while (i < 30) { h2 = (h2 << 4) | nibbleAt(dg, i); i += 1 }
    out(0) = h1 % m
    out(1) = h2 % m
  }

  /** Kirsch–Mitzenmacher positions (h1 + i·h2) mod m, i in 0..k-1 —
    * bit-identical to Bloom.positionsDeclarative. */
  def bloomPositions(key: UTF8String, m: Int, k: Int): ArrayData = {
    val h = new Array[Long](2)
    doubleHash(key, m, h)
    val out = new Array[Long](k)
    var i = 0
    while (i < k) { out(i) = (h(0) + i * h(1)) % m; i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Membership probe against the 32-bit-word bitmap — bit-identical to
    * the forall/element_at/bitwiseAND declarative form, with early
    * exit on the first clear bit and no per-row array allocation. */
  def bloomContains(bits: ArrayData, key: UTF8String, m: Int, k: Int): Boolean = {
    val h = new Array[Long](2)
    doubleHash(key, m, h)
    var i = 0
    while (i < k) {
      val p = (h(0) + i * h(1)) % m
      if ((bits.getLong((p >> 5).toInt) & (1L << (p & 31))) == 0L) return false
      i += 1
    }
    true
  }

  /** How many of `keys` probe true against the bitmap: the per-row fold
    * of [[bloomContains]] over an array. A null array (or bitmap) counts
    * 0, as a doc with no grams does. */
  def bloomCount(bits: ArrayData, keys: ArrayData, m: Int, k: Int): Long = {
    if (bits == null || keys == null) return 0L
    var n = 0L
    var i = 0
    while (i < keys.numElements()) {
      if (!keys.isNullAt(i) && bloomContains(bits, keys.getUTF8String(i), m, k)) n += 1
      i += 1
    }
    n
  }

  /** Count-Min point estimate: min over the d row counters — bit-identical
    * to the array_min/zip_with declarative form. */
  def cmsEstimate(cms: ArrayData, key: UTF8String, w: Int, d: Int): Long = {
    val h = new Array[Long](2)
    doubleHash(key, w, h)
    var best = Long.MaxValue
    var i = 0
    while (i < d) {
      val p = (h(0) + i * h(1)) % w
      val c = cms.getArray(i).getLong(p.toInt)
      if (c < best) best = c
      i += 1
    }
    best
  }

  def buildAc(phrases: Array[String]): AcAutomaton =
    new AcAutomaton(phrases.map(_.getBytes("UTF-8")))

  def acMatches(ac: AcAutomaton, text: UTF8String): ArrayData = ac.matches(text)

  /** Morton interleave of the low `bits` bits of d cell values (bit i of
    * cell j → position i·d+j) — bit-identical to the aggregate-fold
    * declarative form incl. its null propagation (any null cell → null).
    */
  def morton(cells: ArrayData, bits: Int): java.lang.Long = {
    val d = cells.numElements()
    var z = 0L
    var j = 0
    while (j < d) {
      if (cells.isNullAt(j)) return null
      val c = cells.getLong(j)
      var i = 0
      while (i < bits) { z |= ((c >> i) & 1L) << (i * d + j); i += 1 }
      j += 1
    }
    java.lang.Long.valueOf(z)
  }
  /** Fused sign projection (Achlioptas '01 random projection with the
    * ±1 distribution): out[j] = Σ_i v[i]·signs[j·dIn+i] / √dOut, the sum
    * an ascending-i double fold (float input widened first, exactly the
    * array<double> cast) — bit-identical to the declarative per-term
    * chain ([[graft.operators.Projection.projectDeclarative]]) and to
    * DuckDB's `list_sum(list_transform(...))` replay. One generated loop
    * regardless of dimensions: 768→64 as a built-in expression tree
    * would be ~50k codegen nodes.
    */
  def signProject(vec: ArrayData, signs: Array[Double], dIn: Int, dOut: Int,
      isFloat: Boolean): ArrayData = {
    if (vec.numElements() < dIn)
      throw new IllegalArgumentException(
        s"signProject: vector dim ${vec.numElements()} < dIn = $dIn")
    // divide, don't multiply by a reciprocal: x/√d and x·(1/√d) differ in
    // the last bit, and the DuckDB replay divides
    val root = math.sqrt(dOut.toDouble)
    val out = new Array[Double](dOut)
    var j = 0
    while (j < dOut) {
      val off = j * dIn
      var acc = 0.0
      var i = 0
      while (i < dIn) {
        val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
        acc += x * signs(off + i)
        i += 1
      }
      out(j) = acc / root
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Aho–Corasick multi-pattern matcher over UTF-8 BYTES — one pass per
  * document regardless of ban-list size, vs the O(len·phrases) of a
  * per-phrase `contains` fold. Byte-level matching is exactly what
  * both Spark's `UTF8String.contains` and DuckDB's `contains` compute
  * on UTF-8 text, so `matches` is bit-identical to
  * `filter(sequence(0, n-1), i -> contains(text, phrases(i)))` —
  * sorted ascending phrase ids, one entry per matched phrase.
  *
  * Built once driver-side from the phrase list (broadcast model
  * state, the ArgmaxCosine-centroids pattern): goto is a single
  * int-keyed hash map ((node<<8)|byte — sound while nodes < 2²³,
  * i.e. ban lists far beyond 10⁵ phrases), fail links by BFS, and
  * each node's output set pre-chains its fail outputs. Top-level class
  * so generated code can name it without a `$`.
  */
final class AcAutomaton(phrases: Array[Array[Byte]]) extends Serializable {
    require(phrases.forall(_.nonEmpty), "empty ban phrase")
    private val goto_ = new java.util.HashMap[Integer, Integer]()
    private val ends = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[Int])
    private var nNodes = 1
    phrases.zipWithIndex.foreach { case (p, id) =>
      var cur = 0
      p.foreach { b =>
        val key = Integer.valueOf((cur << 8) | (b & 0xFF))
        val nxt = goto_.get(key)
        if (nxt == null) {
          goto_.put(key, Integer.valueOf(nNodes))
          ends += scala.collection.mutable.ArrayBuffer.empty[Int]
          cur = nNodes
          nNodes += 1
          require(nNodes < (1 << 23), "ban list too large for int goto keys")
        } else cur = nxt.intValue()
      }
      ends(cur) += id
    }
    private val fail = new Array[Int](nNodes)
    private val out = new Array[Array[Int]](nNodes)
    locally {
      val q = scala.collection.mutable.Queue.empty[(Int, Int, Int)] // (node, parent, byte)
      out(0) = ends(0).toArray
      var b = 0
      while (b < 256) {
        val v = goto_.get(Integer.valueOf(b))
        if (v != null) { fail(v.intValue()) = 0; q += ((v.intValue(), 0, b)) }
        b += 1
      }
      while (q.nonEmpty) {
        val (u, _, _) = q.dequeue()
        if (out(u) == null)
          out(u) = (ends(u) ++ out(fail(u))).distinct.sorted.toArray
        var bb = 0
        while (bb < 256) {
          val v = goto_.get(Integer.valueOf((u << 8) | bb))
          if (v != null) {
            var f = fail(u)
            var hop = goto_.get(Integer.valueOf((f << 8) | bb))
            while (f != 0 && hop == null) {
              f = fail(f)
              hop = goto_.get(Integer.valueOf((f << 8) | bb))
            }
            fail(v.intValue()) =
              if (hop != null && hop.intValue() != v.intValue()) hop.intValue() else 0
            q += ((v.intValue(), u, bb))
          }
          bb += 1
        }
      }
    }

    /** Sorted ascending ids of every phrase occurring in `text`. */
    def matches(text: UTF8String): ArrayData = {
      val bytes = text.getBytes
      val hit = new Array[Boolean](phrases.length)
      var cur = 0
      var i = 0
      while (i < bytes.length) {
        val b = bytes(i) & 0xFF
        var nxt = goto_.get(Integer.valueOf((cur << 8) | b))
        while (cur != 0 && nxt == null) {
          cur = fail(cur)
          nxt = goto_.get(Integer.valueOf((cur << 8) | b))
        }
        cur = if (nxt == null) 0 else nxt.intValue()
        val o = out(cur)
        var j = 0
        while (j < o.length) { hit(o(j)) = true; j += 1 }
        i += 1
      }
      val ids = (0 until phrases.length).filter(i => hit(i))
        .map(_.asInstanceOf[AnyRef])
      new org.apache.spark.sql.catalyst.util.GenericArrayData(ids.toArray)
    }
}
