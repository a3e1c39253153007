package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.functions._

/** Column-level API over the custom expressions plus composed built-ins.
  * Everything here returns `Column`s built from codegen-friendly
  * expressions — no Scala UDFs anywhere (SURVEY §7.3 stance: built-ins >
  * custom Expression > UDF).
  */
package object functions {

  private def expr0(c: Column) = Shims.expression(c)
  private def col0(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    Shims.column(e)

  /** Cosine similarity of two array<float>/array<double> columns. */
  def cosine_similarity(a: Column, b: Column): Column =
    col0(CosineSimilarity(expr0(a), expr0(b)))

  /** MinHash signature (k permutation minima) of an array<string>. */
  def minhash_signature(shingles: Column, k: Int = 128, seed: Long = 42L): Column =
    col0(MinHashSignature(expr0(shingles), k, seed))

  /** 64-bit SimHash of an array<string> of tokens. */
  def simhash64(tokens: Column): Column =
    col0(SimHash64(expr0(tokens)))

  /** Fused text→shingle→minhash signature (bit-identical to
    * `minhash_signature(word_shingles(tokens(text), n), k, seed)`,
    * ~10× cheaper: no intermediate token/shingle arrays). */
  def minhash_text(text: Column, n: Int = 3, k: Int = 128,
      seed: Long = 42L): Column =
    col0(MinHashText(expr0(text), n, k, seed))

  // ---- composed built-ins (kept here so operators share one definition) --

  /** Whitespace tokens of lower-cased text; empty strings removed.
    * The whitespace class is RE2's `\s` = [ \t\n\f\r] (NOT Java's, which
    * adds \x0B): DuckDB `string_split_regex(_, '\s+')` and the fused
    * kernels ([[graft.functions.VectorOps]]) then segment identically
    * even for documents containing vertical tabs. */
  // .cast("string") restores the declarative twin's implicit-cast
  // contract for non-string inputs; Catalyst folds it away when the
  // column is already a string
  def tokens(text: Column): Column = col0(TokensExpr(expr0(text.cast("string"))))

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
  def gram_md5s(text: Column, n: Int): Column =
    col0(GramMd5sExpr(expr0(text), n))

  /** Count of agreeing positions between two signature arrays
    * (bit-identical to the zip_with/aggregate fold). */
  def sig_eq_count(a: Column, b: Column): Column =
    col0(SigEqCount(expr0(a), expr0(b)))

  /** Fused md5-first-byte gram buckets (0..255) for hashed-ngram
    * importance weighting. */
  def gram_buckets(text: Column, n: Int): Column =
    col0(GramBucketsExpr(expr0(text), n))

  /** Σ lut(bucket) over an int-bucket array (bit-identical to the
    * element_at fold). */
  def lut_sum(buckets: Column, lut: Array[Double]): Column =
    col0(LutSumExpr(expr0(buckets), lut))

  /** Fused md5-majority-vote SimHash signature:
    * struct(n_tokens, bits, h1, h2) — the engine-replayable family. */
  def replay_simhash(text: Column): Column =
    col0(ReplaySimhashExpr(expr0(text)))

  /** Fused engine-replayable MinHash signature (k=16 salted-md5-chunk
    * family): struct(n_grams, sig). */
  def replay_minhash(text: Column, shingle: Int = 3): Column =
    col0(ReplayMinhashExpr(expr0(text), shingle))

  /** Fused Gopher repetition signals: text → struct(dup_line_frac,
    * top_2gram_frac, dup_5gram_frac) (result-identical to the
    * declarative sort+fold form — see VectorOps.repStats). */
  def rep_stats(text: Column): Column =
    col0(RepStatsExpr(expr0(text)))

  /** Fused winnowing fingerprints: text → struct(n_grams, fps) of
    * "md5hex:pos" window-min fingerprints (result-identical to the
    * declarative k-gram window fold at O(grams) — see
    * VectorOps.winnowFps). */
  def winnow_fps(text: Column, k: Int = 5, w: Int = 4): Column =
    col0(WinnowFpsExpr(expr0(text), k, w))

  /** Fused stopword-ratio language ID (result-identical to the composed
    * argmax form; one pass, no regexes — see VectorOps.langId). */
  def lang_id(text: Column): Column =
    col0(LangIdExpr(expr0(text)))

  /** Kirsch–Mitzenmacher md5 double-hash positions (bit-identical to the
    * conv/substring/md5 declarative form — see VectorOps.bloomPositions). */
  def bloom_positions(key: Column, m: Int, k: Int): Column =
    col0(BloomPositionsExpr(expr0(key), m, k))

  /** Bloom bitmap membership probe (bit-identical to the forall /
    * element_at / bitwiseAND declarative form, early-exit, zero
    * allocation). */
  def bloom_contains(bits: Column, key: Column, m: Int, k: Int): Column =
    col0(BloomContainsExpr(expr0(bits), expr0(key), m, k))

  /** Count-Min point estimate (bit-identical to the array_min/zip_with
    * declarative form). */
  def cms_estimate(cms: Column, key: Column, w: Int, d: Int): Column =
    col0(CmsEstimateExpr(expr0(cms), expr0(key), w, d))

  /** Morton interleave of an array of cell values (bit-identical to the
    * aggregate shift/mask fold incl. null propagation). */
  def morton_interleave(cells: Column, bits: Int): Column =
    col0(MortonInterleaveExpr(expr0(cells), bits))

  /** Aho–Corasick multi-pattern match: sorted ids of the ban phrases
    * occurring in `text` — O(bytes) per doc regardless of ban-list
    * size (bit-identical to the per-phrase contains fold). */
  def multi_contains(text: Column, phrases: Seq[String]): Column =
    col0(MultiContainsExpr(expr0(text), phrases))

  /** Character-unigram entropy in nats (fused kernel — bit-identical to
    * the declarative sorted run-length fold; see VectorOps.charEntropy). */
  def char_entropy(text: Column): Column =
    col0(CharEntropyExpr(expr0(text)))

  /** Fused quality battery: struct(n_tokens, mean_tok_len, punct_ratio,
    * alpha_ratio, stopword_ratio, quality) — result-identical to the
    * declarative composition incl. null-text semantics (RegressionSpec);
    * see VectorOps.qualityStats. */
  def quality_stats(text: Column): Column =
    col0(QualityStatsExpr(expr0(text)))

  /** Fused readability counts: struct(n_sents, n_words, n_syllables) —
    * result-identical to the regexp_extract_all composition incl.
    * null-text semantics (RegressionSpec); see VectorOps.readCounts. */
  def read_counts(text: Column): Column =
    col0(ReadCountsExpr(expr0(text)))

  /** Doc-local term frequencies: array<struct<token, k>> — one row per
    * DISTINCT token of the array with its in-doc count, in
    * first-occurrence order. Computes a per-doc tf MAP-SIDE (a doc's
    * tokens are co-located in its row), so classifier scoring never
    * needs the corpus-wide (doc, token) aggregate exchange. */
  def unigram_counts(toks: Column): Column =
    col0(NgramCountsExpr(expr0(toks), 1))

  /** Doc-local bigram counts: array<struct<prev, cur, k>> — one row
    * per DISTINCT bigram of the token array with its in-doc count, in
    * first-occurrence order; see VectorOps.ngramCounts. */
  def bigram_counts(toks: Column): Column =
    col0(NgramCountsExpr(expr0(toks), 2))

  /** Doc-local trigram counts: array<struct<u, v, w, k>> — the order-3
    * twin of [[bigram_counts]]. */
  def trigram_counts(toks: Column): Column =
    col0(NgramCountsExpr(expr0(toks), 3))

  /** Fused Gopher rule battery: struct of the nine §A1.1.2 signals —
    * result-identical to the declarative composition incl. null-text
    * semantics (RegressionSpec); see VectorOps.gopherStats. */
  def gopher_stats(text: Column): Column =
    col0(GopherStatsExpr(expr0(text)))

  /** Fused PQ encode: per-subspace argmin-L2 codeword bytes over
    * flat-packed codebooks (bit-identical to the declarative
    * slice/zip_with/array_min form; see [[PqEncodeExpr]]). */
  def pq_encode(vec: Column, booksFlat: Array[Double], m: Int, ksub: Int): Column =
    col0(PqEncodeExpr(expr0(vec), booksFlat, m, ksub))

  /** Fused argmax-cosine centroid index over flat-packed float centroids
    * (ties to the smallest index; see [[ArgmaxCosineExpr]]). */
  def argmax_cosine(vec: Column, centsFlat: Array[Float], k: Int, dim: Int): Column =
    col0(ArgmaxCosineExpr(expr0(vec), centsFlat, k, dim))

  /** Fused ±1 sign projection dIn → dOut dims (flat signs row-major by
    * output dim); out[j] = Σᵢ v[i]·s[j·dIn+i] / √dOut. */
  def sign_project(vec: Column, signsFlat: Array[Double], dIn: Int,
      dOut: Int): Column =
    col0(SignProjectExpr(expr0(vec), signsFlat, dIn, dOut))

  /** Distinct sorted FNV-1a shingle hashes — hash-space twin of
    * `array_distinct(word_shingles(tokens(text), n))` for Jaccard
    * verification over longs instead of strings. */
  def shingle_hashes(text: Column, n: Int = 3): Column =
    col0(ShingleHashes(expr0(text), n))

  /** Canonical text normalization shared by dedup + fingerprinting:
    * lower-case, collapse whitespace ([ \t\n\f\r] — RE2's `\s`, so the
    * DuckDB oracle's '\s+' replays it exactly), trim. Fused single-pass
    * kernel, byte-identical to
    * `trim(regexp_replace(lower(text), "[ \t\n\f\r]+", " "))`
    * (asserted in RegressionSpec) — the regex form dominated dedup_exact
    * wall-clock.
    */
  def normalize_text(text: Column): Column =
    col0(NormalizeText(expr0(text)))

  /** Unicode NFC canonical composition — run before hash-based dedup so
    * combining-mark and precomposed spellings fingerprint together.
    * ASCII passes through untouched (identity fast path). */
  def nfc_normalize(text: Column): Column =
    col0(NfcNormalize(expr0(text)))

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
