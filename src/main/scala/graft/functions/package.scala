package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column-level API over the fused kernels plus composed built-ins.
  * Everything here returns `Column`s built from codegen-friendly
  * expressions — no Scala UDFs anywhere (SURVEY §7.3 stance: built-ins >
  * custom Expression > UDF). Each fused function is one [[Kernel]] node:
  * a `StaticInvoke` of its [[VectorOps]] method. Its parameter range
  * checks live here, in its one builder, which the SQL surface
  * ([[graft.GraftExtensions.functions]]) calls too.
  */
package object functions {

  private def expr0(c: Column) = Shims.expression(c)
  private def col0(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    Shims.column(e)

  /** `VectorOps.<method>(columns…, constants…)` as the SQL function `name`;
    * a null column yields null. */
  private def kernel(name: String, method: String, dataType: DataType,
      columns: Column*)(constants: Any*): Column =
    col0(Kernel(name, method, dataType, columns.map(expr0), constants))

  /** A one-text struct kernel that takes a null text itself (its
    * declarative twin yields a row for it), so the result is never null. */
  private def textStats(name: String, method: String, dataType: StructType,
      text: Column): Column =
    col0(Kernel(name, method, dataType, Seq(expr0(text)), propagateNull = false))

  /** Kernels over float|double arrays take `isFloat` last. */
  private val floatFlag = Some((FloatType: DataType, DoubleType: DataType))

  private val longs = ArrayType(LongType, containsNull = false)
  private val ints = ArrayType(IntegerType, containsNull = false)
  private val strings = ArrayType(StringType, containsNull = false)

  // ---- struct result types: field names, types and nullability are the
  // declarative twins' (RegressionSpec asserts the results equal) --------

  private def fields(fs: (String, DataType, Boolean)*): StructType =
    StructType(fs.map { case (n, t, nullable) => StructField(n, t, nullable) })

  private val qualityStatsType = fields(("n_tokens", DoubleType, true),
    ("mean_tok_len", DoubleType, false), ("punct_ratio", DoubleType, false),
    ("alpha_ratio", DoubleType, false), ("stopword_ratio", DoubleType, false),
    ("quality", DoubleType, false))
  private val gopherStatsType = fields(("n_words", LongType, true),
    ("mean_word_len", DoubleType, false), ("hash_ratio", DoubleType, false),
    ("ellipsis_ratio", DoubleType, false), ("alpha_word_frac", DoubleType, false),
    ("stop_hits", IntegerType, false), ("bullet_line_frac", DoubleType, true),
    ("ellipsis_line_frac", DoubleType, true), ("gopher_keep", BooleanType, true))
  private val readCountsType = fields(("n_sents", LongType, false),
    ("n_words", LongType, true), ("n_syllables", LongType, true))
  private val repStatsType = fields(("dup_line_frac", DoubleType, false),
    ("top_2gram_frac", DoubleType, false), ("dup_5gram_frac", DoubleType, false))
  private val replaySimhashType = fields(("n_tokens", IntegerType, false),
    ("bits", StringType, false), ("h1", LongType, false), ("h2", LongType, false))
  private val replayMinhashType = fields(("n_grams", IntegerType, false),
    ("sig", strings, false))
  private val winnowFpsType = fields(("n_grams", IntegerType, false),
    ("fps", strings, false))
  /** Doc-local n-gram counts; the field names match the LM-family join
    * keys downstream: unigrams are (token), bigrams (prev, cur), trigrams
    * (u, v, w); k is the in-doc count. */
  private def ngramCountsType(grams: String*): DataType = ArrayType(
    fields(grams.map(g => (g, StringType: DataType, false)) :+
      (("k", LongType, false)): _*),
    containsNull = false)

  /** Cosine similarity of two array<float>/array<double> columns. */
  def cosine_similarity(a: Column, b: Column): Column =
    col0(Kernel("cosine_similarity", "cosine", DoubleType, Seq(expr0(a), expr0(b)),
      flag = floatFlag))

  /** MinHash signature (k permutation minima) of an array<string>. */
  def minhash_signature(shingles: Column, k: Int = 128, seed: Long = 42L): Column = {
    require(k > 0 && k <= 1024, s"minhash k out of range: $k")
    kernel("minhash_signature", "minHash", longs, shingles)(k, seed)
  }

  /** 64-bit SimHash of an array<string> of tokens. */
  def simhash64(tokens: Column): Column =
    kernel("simhash64", "simHash", LongType, tokens)()

  /** Fused text→shingle→minhash signature (bit-identical to
    * `minhash_signature(word_shingles(tokens(text), n), k, seed)`,
    * ~10× cheaper: no intermediate token/shingle arrays; see
    * VectorOps.minHashText). */
  def minhash_text(text: Column, n: Int = 3, k: Int = 128,
      seed: Long = 42L): Column = {
    require(n > 0 && k > 0 && k <= 1024, s"minhash params out of range: n=$n k=$k")
    kernel("minhash_text", "minHashText", longs, text)(n, k, seed)
  }

  // ---- composed built-ins (kept here so operators share one definition) --

  /** Whitespace tokens of lower-cased text; empty strings removed.
    * The whitespace class is RE2's `\s` = [ \t\n\f\r] (NOT Java's, which
    * adds \x0B): DuckDB `string_split_regex(_, '\s+')` and the fused
    * kernels ([[graft.functions.VectorOps]]) then segment identically
    * even for documents containing vertical tabs. Fused to one kernel
    * call because the declarative form is a higher-order `filter`, which
    * is CodegenFallback and breaks whole-stage codegen at the hottest
    * operator of the corpus scan. */
  // .cast("string") restores the declarative twin's implicit-cast
  // contract for non-string inputs; Catalyst folds it away when the
  // column is already a string. The kernel itself is string-only: a
  // wrong input type fails at analysis, never as a runtime error.
  def tokens(text: Column): Column =
    col0(Kernel("tokens", "tokenize", strings, Seq(expr0(text.cast("string"))),
      inputType = Some(StringType)))

  /** The declarative twin of [[tokens]] — kept for the bit-identity
    * regression assert (and as executable documentation of the fused
    * kernel's exact semantics). */
  private[graft] def tokensDeclarative(text: Column): Column =
    filter(split(lower(text), "[ \t\n\f\r]+"), t => length(t) > 0)

  /** Word n-gram shingles: joins each n consecutive tokens with one space.
    * NULL token arrays stay NULL (size(NULL) = -1 would otherwise fall into
    * the empty branch and silently turn NULL into []). Documents with fewer
    * than n tokens yield an empty array (sequence() would otherwise produce
    * a DESCENDING range when size<n and slice(_,0,_) throws — guard the
    * range explicitly).
    *
    * The token array is LET-BOUND via a one-element transform before the
    * per-shingle lambda touches it. Higher-order functions run interpreted
    * (CodegenFallback), and interpreted lambda bodies re-evaluate their
    * whole subtree per element — with `toks` inlined (e.g.
    * `tokens(text)` = filter+split+lower), every shingle would rebuild
    * the token array from the raw text: O(grams × split-cost) per row,
    * measured as a ~50× slowdown on the fixture. As a lambda variable the
    * array is evaluated once per row and each access is O(1).
    */
  def word_shingles(toks: Column, n: Int): Column =
    element_at(transform(array(toks), t =>
      when(t.isNull, lit(null).cast("array<string>"))
        .when(size(t) >= n,
          transform(
            sequence(lit(0), size(t) - n),
            i => array_join(slice(t, i + 1, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))), 1)

  /** Fused tokenize→shingle→md5 (bit-identical to
    * `transform(word_shingles(tokens(text), n), md5)`). */
  def gram_md5s(text: Column, n: Int): Column = {
    require(n >= 1, s"gram size out of range: $n")
    kernel("gram_md5s", "gramMd5s", strings, text)(n)
  }

  /** Count of agreeing positions between two signature arrays
    * (bit-identical to the zip_with/aggregate fold). */
  def sig_eq_count(a: Column, b: Column): Column =
    col0(Kernel("sig_eq_count", "eqCount", IntegerType, Seq(expr0(a), expr0(b)),
      flag = Some((StringType, LongType))))

  /** Fused md5-first-byte gram buckets (0..255) for hashed-ngram
    * importance weighting. */
  def gram_buckets(text: Column, n: Int): Column = {
    require(n >= 1, s"gram size out of range: $n")
    kernel("gram_buckets", "gramMd5Buckets", ints, text)(n)
  }

  /** Σ lut(bucket) over an int-bucket array (bit-identical to the
    * element_at fold). */
  def lut_sum(buckets: Column, lut: Array[Double]): Column =
    kernel("lut_sum", "lutSum", DoubleType, buckets)(lut)

  /** Fused md5-majority-vote SimHash signature:
    * struct(n_tokens, bits, h1, h2) — the engine-replayable family. */
  def replay_simhash(text: Column): Column =
    kernel("replay_simhash", "replaySimhashSig", replaySimhashType, text)()

  /** Fused engine-replayable MinHash signature (k=16 salted-md5-chunk
    * family): struct(n_grams, sig). */
  def replay_minhash(text: Column, shingle: Int = 3): Column = {
    require(shingle >= 1, s"shingle size out of range: $shingle")
    kernel("replay_minhash", "replayMinhashSig", replayMinhashType, text)(shingle)
  }

  /** Fused Gopher repetition signals: text → struct(dup_line_frac,
    * top_2gram_frac, dup_5gram_frac) (result-identical to the
    * declarative sort+fold form — see VectorOps.repStats). */
  def rep_stats(text: Column): Column =
    textStats("rep_stats", "repStats", repStatsType, text)

  /** Fused winnowing fingerprints: text → struct(n_grams, fps) of
    * "md5hex:pos" window-min fingerprints (result-identical to the
    * declarative k-gram window fold at O(grams) — see
    * VectorOps.winnowFps). */
  def winnow_fps(text: Column, k: Int = 5, w: Int = 4): Column = {
    require(k >= 1 && w >= 1, s"winnow params out of range: k=$k w=$w")
    kernel("winnow_fps", "winnowFps", winnowFpsType, text)(k, w)
  }

  /** Fused stopword-ratio language ID (result-identical to the composed
    * argmax form; one pass, no regexes — see VectorOps.langId). */
  def lang_id(text: Column): Column =
    kernel("lang_id", "langId", StringType, text)()

  /** Kirsch–Mitzenmacher md5 double-hash positions (bit-identical to the
    * conv/substring/md5 declarative form — see VectorOps.bloomPositions). */
  def bloom_positions(key: Column, m: Int, k: Int): Column = {
    require(m > 0 && k > 0, s"need m>0, k>0; got m=$m k=$k")
    kernel("bloom_positions", "bloomPositions", longs, key)(m, k)
  }

  /** Bloom bitmap membership probe (bit-identical to the forall /
    * element_at / bitwiseAND declarative form, early-exit, zero
    * allocation). */
  def bloom_contains(bits: Column, key: Column, m: Int, k: Int): Column = {
    require(m % 32 == 0 && m > 0 && k > 0, s"need m%32==0, k>0; got m=$m k=$k")
    kernel("bloom_contains", "bloomContains", BooleanType, bits, key)(m, k)
  }

  /** How many of the `keys` array's elements probe true against the
    * bitmap — [[bloom_contains]] folded over an array in one call; a
    * null array counts 0, so the result is never null. */
  def bloom_count(bits: Column, keys: Column, m: Int, k: Int): Column = {
    require(m % 32 == 0 && m > 0 && k > 0, s"need m%32==0, k>0; got m=$m k=$k")
    col0(Kernel("bloom_count", "bloomCount", LongType, Seq(expr0(bits), expr0(keys)),
      Seq(m, k), propagateNull = false))
  }

  /** Count-Min point estimate (bit-identical to the array_min/zip_with
    * declarative form). */
  def cms_estimate(cms: Column, key: Column, w: Int, d: Int): Column = {
    require(w > 0 && d > 0, s"need w>0, d>0; got w=$w d=$d")
    kernel("cms_estimate", "cmsEstimate", LongType, cms, key)(w, d)
  }

  /** Morton interleave of an array of cell values (bit-identical to the
    * aggregate shift/mask fold incl. null propagation). */
  def morton_interleave(cells: Column, bits: Int): Column = {
    require(bits > 0, s"need bits>0; got $bits")
    col0(Kernel("morton_interleave", "morton", LongType, Seq(expr0(cells)), Seq(bits),
      returnNullable = true))
  }

  /** Aho–Corasick multi-pattern match: sorted ids of the ban phrases
    * occurring in `text` — O(bytes) per doc regardless of ban-list
    * size (bit-identical to the per-phrase contains fold). */
  def multi_contains(text: Column, phrases: Seq[String]): Column = {
    require(phrases.nonEmpty && phrases.forall(_.nonEmpty),
      "need a non-empty ban list of non-empty phrases")
    // the automaton is built once and shipped as a codegen reference
    // object; VectorOps.acMatches takes it first, so it is the first child
    col0(Kernel("multi_contains", "acMatches", ints,
      Seq(Literal.fromObject(VectorOps.buildAc(phrases.toArray)), expr0(text))))
  }

  /** Character-unigram entropy in nats (fused kernel — bit-identical to
    * the declarative sorted run-length fold; see VectorOps.charEntropy). */
  def char_entropy(text: Column): Column =
    kernel("char_entropy", "charEntropy", DoubleType, text)()

  /** Fused quality battery: struct(n_tokens, mean_tok_len, punct_ratio,
    * alpha_ratio, stopword_ratio, quality) — result-identical to the
    * declarative composition incl. null-text semantics (RegressionSpec);
    * see VectorOps.qualityStats. */
  def quality_stats(text: Column): Column =
    textStats("quality_stats", "qualityStats", qualityStatsType, text)

  /** Fused readability counts: struct(n_sents, n_words, n_syllables) —
    * result-identical to the regexp_extract_all composition incl.
    * null-text semantics (RegressionSpec); see VectorOps.readCounts. */
  def read_counts(text: Column): Column =
    textStats("read_counts", "readCounts", readCountsType, text)

  /** Doc-local term frequencies: array<struct<token, k>> — one row per
    * DISTINCT token of the array with its in-doc count, in
    * first-occurrence order. Computes a per-doc tf MAP-SIDE (a doc's
    * tokens are co-located in its row), so classifier scoring never
    * needs the corpus-wide (doc, token) aggregate exchange. */
  def unigram_counts(toks: Column): Column =
    ngramCounts("unigram_counts", toks, "token")

  /** Doc-local bigram counts: array<struct<prev, cur, k>> — one row
    * per DISTINCT bigram of the token array with its in-doc count, in
    * first-occurrence order; see VectorOps.ngramCounts. */
  def bigram_counts(toks: Column): Column =
    ngramCounts("bigram_counts", toks, "prev", "cur")

  /** Doc-local trigram counts: array<struct<u, v, w, k>> — the order-3
    * twin of [[bigram_counts]]. */
  def trigram_counts(toks: Column): Column =
    ngramCounts("trigram_counts", toks, "u", "v", "w")

  /** Codegen'd single static call, so the scan → tokens → ngram-counts
    * prologue of the LM family stays in one whole-stage-codegen loop;
    * bit-identity vs the declarative `transform(sequence(...))` + groupBy
    * twin asserted in RegressionSpec. */
  private def ngramCounts(name: String, toks: Column, grams: String*): Column =
    col0(Kernel(name, "ngramCounts", ngramCountsType(grams: _*), Seq(expr0(toks)),
      Seq(grams.size), inputType = Some(ArrayType(StringType))))

  /** Fused Gopher rule battery: struct of the nine §A1.1.2 signals —
    * result-identical to the declarative composition incl. null-text
    * semantics (RegressionSpec); see VectorOps.gopherStats. */
  def gopher_stats(text: Column): Column =
    textStats("gopher_stats", "gopherStats", gopherStatsType, text)

  /** Fused PQ encode: per-subspace argmin-L2 codeword bytes over
    * flat-packed codebooks (bit-identical to the declarative
    * slice/zip_with/array_min form; see VectorOps.pqEncode). Exists
    * because the declarative form's m·ksub-branch expression tree costs
    * seconds of one-time plan/JIT setup per query tree. */
  def pq_encode(vec: Column, booksFlat: Array[Double], m: Int, ksub: Int): Column = {
    require(m >= 1 && ksub >= 2 && ksub <= 128,
      s"pq_encode params out of range: m=$m ksub=$ksub (byte codes cap ksub at 128)")
    require(booksFlat.length % (m * ksub) == 0 && booksFlat.length > 0,
      s"pq_encode: flat books length ${booksFlat.length} not divisible by m*ksub=${m * ksub}")
    col0(Kernel("pq_encode", "pqEncode", ArrayType(ByteType, containsNull = false),
      Seq(expr0(vec)), Seq(booksFlat, m, ksub), flag = floatFlag))
  }

  /** Fused argmax-cosine centroid index over flat-packed float centroids
    * (ties to the smallest index; see VectorOps.argmaxCosine). Lets the
    * centroid count scale with the corpus (SemDeDup's derived nlist)
    * without building a k-branch expression tree. */
  def argmax_cosine(vec: Column, centsFlat: Array[Float], k: Int, dim: Int): Column = {
    require(k >= 1 && dim >= 1 && centsFlat.length == k * dim,
      s"argmax_cosine: flat centroids length ${centsFlat.length} != k*dim = ${k * dim}")
    col0(Kernel("argmax_cosine", "argmaxCosine", IntegerType, Seq(expr0(vec)),
      Seq(centsFlat, k, dim), flag = floatFlag))
  }

  /** Fused ±1 sign projection dIn → dOut dims (flat signs row-major by
    * output dim); out[j] = Σᵢ v[i]·s[j·dIn+i] / √dOut. */
  def sign_project(vec: Column, signsFlat: Array[Double], dIn: Int,
      dOut: Int): Column = {
    require(dIn >= 1 && dOut >= 1 && signsFlat.length == dIn * dOut,
      s"sign_project: flat signs length ${signsFlat.length} != dIn*dOut = ${dIn * dOut}")
    col0(Kernel("sign_project", "signProject", ArrayType(DoubleType, containsNull = false),
      Seq(expr0(vec)), Seq(signsFlat, dIn, dOut), flag = floatFlag))
  }

  /** Distinct sorted FNV-1a shingle hashes — hash-space twin of
    * `array_distinct(word_shingles(tokens(text), n))` for Jaccard
    * verification over longs instead of strings. */
  def shingle_hashes(text: Column, n: Int = 3): Column = {
    require(n > 0, s"shingle size out of range: $n")
    kernel("shingle_hashes", "shingleHashes", longs, text)(n)
  }

  /** Canonical text normalization shared by dedup + fingerprinting:
    * lower-case, collapse whitespace ([ \t\n\f\r] — RE2's `\s`, so the
    * DuckDB oracle's '\s+' replays it exactly), trim. Fused single-pass
    * kernel, byte-identical to
    * `trim(regexp_replace(lower(text), "[ \t\n\f\r]+", " "))`
    * (asserted in RegressionSpec) — the regex form dominated dedup_exact
    * wall-clock.
    */
  def normalize_text(text: Column): Column =
    kernel("normalize_text", "normalizeText", StringType, text)()

  /** Unicode NFC canonical composition — run before hash-based dedup so
    * combining-mark and precomposed spellings fingerprint together.
    * ASCII passes through untouched (identity fast path). */
  def nfc_normalize(text: Column): Column =
    kernel("nfc_normalize", "nfcNormalize", StringType, text)()

  /** Register the SQL-surface functions ([[graft.GraftExtensions.functions]],
    * the one list the extensions inject) that `spark`'s registry lacks —
    * for a session built without `spark.sql.extensions=graft.GraftExtensions`.
    * On an engine session every name is already there and this is a no-op.
    */
  def registerSql(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    graft.GraftExtensions.functions.foreach { case (id, info, build) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, build)
    }
  }
}
