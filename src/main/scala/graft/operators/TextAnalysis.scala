package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions._
import org.apache.spark.sql.graft.Shims

/** Text analysis for training-data curation: language ID, quality scores,
  * token counting, fingerprinting. All pure `functions._` compositions —
  * codegen'd, no UDFs, one pass over the text per query.
  */
object TextAnalysis {

  /** Small per-language stopword sets for the n-gram/stopword heuristic
    * (canonical definition lives beside the fused kernel in VectorOps). */
  val stopwords: Map[String, Seq[String]] = VectorOps.stopwords

  /** Fraction of tokens that are stopwords of `lang`. */
  def stopwordRatio(toks: Column, lang: String): Column = {
    val sw = typedlit(stopwords(lang))
    when(size(toks) > 0,
      size(filter(toks, t => array_contains(sw, t))).cast("double") / size(toks))
      .otherwise(lit(0.0))
  }

  /** Heuristic language ID: stopword-ratio argmax across known languages,
    * with a CJK-character override for zh. Returns a language code.
    * Runs as the fused one-pass kernel (`lang_id`); the declarative
    * composition it must match stays below for the bit-identity spec.
    */
  def langId(text: Column): Column = lang_id(text)

  /** The composed-builtins form of [[langId]] — the kernel's semantic
    * specification, asserted result-identical in RegressionSpec. */
  private[graft] def langIdDeclarative(text: Column): Column = {
    val toks = tokens(text)
    val cjkRatio = when(length(text) > 0,
      (length(text) - length(regexp_replace(text, "[\\u4e00-\\u9fff]", "")))
        .cast("double") / length(text)).otherwise(lit(0.0))
    // argmax via ordered struct array: Spark orders structs field-by-field
    val scored = array(stopwords.keys.toSeq.sorted.map(l =>
      struct(stopwordRatio(toks, l).as("score"), lit(l).as("lang"))): _*)
    when(cjkRatio > 0.3, lit("zh"))
      .otherwise(
        when(array_max(scored).getField("score") > 0.0,
          array_max(scored).getField("lang"))
          .otherwise(lit("unknown")))
  }

  /** Quality feature columns for a text column (all in [0,1]-ish ranges):
    * n_tokens, mean token length, punctuation ratio, stopword ratio (en),
    * alpha ratio, and a clamped composite score.
    *
    * Runs as the fused one-pass `quality_stats` kernel (the six field
    * references share ONE evaluation via subexpression elimination);
    * the composed-builtins specification it must match bit-for-bit stays
    * below (RegressionSpec asserts identity, including null-text
    * semantics).
    */
  def qualityColumns(text: Column): Seq[Column] = {
    val q = quality_stats(text)
    Seq(q.getField("n_tokens").as("n_tokens"),
      q.getField("mean_tok_len").as("mean_tok_len"),
      q.getField("punct_ratio").as("punct_ratio"),
      q.getField("alpha_ratio").as("alpha_ratio"),
      q.getField("stopword_ratio").as("stopword_ratio"),
      q.getField("quality").as("quality"))
  }

  /** The composed-builtins form of [[qualityColumns]] — the kernel's
    * semantic specification, asserted bit-identical in RegressionSpec. */
  private[graft] def qualityColumnsDeclarative(text: Column): Seq[Column] = {
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val meanLen = when(nTok > 0,
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / nTok)
      .otherwise(lit(0.0))
    val punct = when(length(text) > 0,
      (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double")
        / length(text)).otherwise(lit(0.0))
    val alpha = when(length(text) > 0,
      (length(text) - length(regexp_replace(text, "[A-Za-z]", ""))).cast("double")
        / length(text)).otherwise(lit(0.0))
    val swEn = stopwordRatio(toks, "en")
    val composite =
      least(greatest(
        lit(0.25) * least(nTok / 100.0, lit(1.0)) +
        lit(0.25) * least(meanLen / 8.0, lit(1.0)) +
        lit(0.25) * (lit(1.0) - least(punct * 5.0, lit(1.0))) +
        lit(0.25) * least(swEn * 5.0, lit(1.0)),
        lit(0.0)), lit(1.0))
    Seq(nTok.as("n_tokens"), meanLen.as("mean_tok_len"), punct.as("punct_ratio"),
      alpha.as("alpha_ratio"), swEn.as("stopword_ratio"), composite.as("quality"))
  }

  /** Gopher quality-filter signals (Rae et al. 2021, arXiv:2112.11446,
    * §A1.1.2) for one document, as named columns. Every ratio is a single
    * int/int double division, so an independent engine computes the exact
    * same bits — the whole rule battery is oracle-checkable.
    *
    * Scale: pure per-row projection over the scan — no shuffle, no UDFs.
    * Runs as the fused one-pass `gopher_stats` kernel (the interpreted
    * HOF folds of the declarative form cost ~14× more at sf10); the
    * composed-builtins specification stays below for the RegressionSpec
    * bit-identity assert. The repetition signals ([[gopherRepetition]])
    * are separate because their cost model differs (quadratic in
    * distinct grams).
    */
  def gopherQualityColumns(text: Column): Seq[Column] = {
    val g = gopher_stats(text)
    Seq("n_words", "mean_word_len", "hash_ratio", "ellipsis_ratio",
      "alpha_word_frac", "stop_hits", "bullet_line_frac",
      "ellipsis_line_frac", "gopher_keep")
      .map(f => g.getField(f).as(f))
  }

  /** The composed-builtins form of [[gopherQualityColumns]] — the
    * kernel's semantic specification, asserted bit-identical in
    * RegressionSpec. */
  private[graft] def gopherQualityColumnsDeclarative(text: Column): Seq[Column] = {
    val tk = tokens(text)
    val n = size(tk)
    val nD = n.cast("double")
    val meanWordLen = when(n > 0,
      aggregate(tk, lit(0L), (acc, t) => acc + length(t)).cast("double") / nD)
      .otherwise(lit(0.0))
    val hashCount = length(text) - length(regexp_replace(text, "#", ""))
    // '...' occurrences: replace is leftmost non-overlapping in both engines
    val ellipsisCount = (length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / 3
    val hashRatio = when(n > 0, hashCount.cast("double") / nD).otherwise(lit(0.0))
    val ellipsisRatio = when(n > 0, ellipsisCount.cast("double") / nD).otherwise(lit(0.0))
    val alphaFrac = when(n > 0,
      size(filter(tk, t => t.rlike("[a-z]"))).cast("double") / nD).otherwise(lit(0.0))
    val gopherStops = VectorOps.gopherStops
    val stopHits = size(filter(
      array(gopherStops.map(lit): _*), w => array_contains(tk, w)))
    val lines = split(text, "\n")
    val nLines = size(lines).cast("double")
    val bulletFrac = size(filter(lines, l =>
      substring(ltrim(l), 1, 1).isin("-", "*", "•"))).cast("double") / nLines
    val ellipsisLineFrac = size(filter(lines, l =>
      endswith(rtrim(l), lit("...")))).cast("double") / nLines
    val keep = n.between(50, 100000) && meanWordLen.between(3.0, 10.0) &&
      hashRatio < 0.1 && ellipsisRatio < 0.1 &&
      bulletFrac < 0.9 && ellipsisLineFrac < 0.3 &&
      alphaFrac >= 0.8 && stopHits >= 2
    Seq(n.cast("long").as("n_words"), meanWordLen.as("mean_word_len"),
      hashRatio.as("hash_ratio"), ellipsisRatio.as("ellipsis_ratio"),
      alphaFrac.as("alpha_word_frac"), stopHits.cast("int").as("stop_hits"),
      bulletFrac.as("bullet_line_frac"), ellipsisLineFrac.as("ellipsis_line_frac"),
      keep.as("gopher_keep"))
  }

  /** Gopher repetition signals per document: duplicate-line fraction,
    * most-common-2gram position fraction, duplicated-5gram position
    * fraction (the paper's char-weighted fractions simplified to position
    * fractions — same discriminative shape, and exactly replayable as
    * int/int divisions).
    *
    * Cost model: map-side only (no shuffle), one fused O(grams) kernel
    * per row ([[graft.functions.rep_stats]] — run lengths are multiset
    * properties, so a hash map over exact gram bytes replaces the
    * declarative sort+fold; result-identity asserted in RegressionSpec
    * against [[gopherRepetitionDeclarative]]).
    */
  def gopherRepetition(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    Par.ensure(docs, col(idCol))
      .select(col(idCol), rep_stats(col(textCol)).as("st"))
      .select(col(idCol),
        col("st.dup_line_frac").as("dup_line_frac"),
        col("st.top_2gram_frac").as("top_2gram_frac"),
        col("st.dup_5gram_frac").as("dup_5gram_frac"))
  }

  /** The declarative twin of [[gopherRepetition]] — what the DuckDB
    * oracle replays (sorted gram arrays, run-length fold, neighbor
    * comparisons). Kept as the result-identity baseline for the fused
    * kernel and as documentation of the exact semantics. The gram arrays
    * are staged as real projection columns so each is computed once per
    * row: a naive nested-filter count (O(g²)) re-evaluates the
    * gram-building expression per inner element whenever the plan falls
    * back to interpreted eval — measured MINUTES per partition on the
    * fixture vs milliseconds here.
    */
  def gopherRepetitionDeclarative(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val tk = tokens(col(textCol))
    val lines = split(col(textCol), "\n")
    val staged = Par.ensure(docs, col(idCol)).select(col(idCol), lines.as("lines"),
        word_shingles(tk, 2).as("g2"), word_shingles(tk, 5).as("g5"))
      .select(col(idCol), col("lines"),
        array_sort(col("g2")).as("s2"), array_sort(col("g5")).as("s5"))
    val dupLineFrac = when(size(col("lines")) > 0,
      (size(col("lines")) - size(array_distinct(col("lines")))).cast("double")
        / size(col("lines")).cast("double"))
      .otherwise(lit(0.0))
    // longest run in the sorted array = count of the most common gram
    def topRunFrac(s: Column): Column = {
      val folded = aggregate(s,
        struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
        (acc, x) => {
          val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
            .otherwise(lit(1))
          struct(x.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"))
        })
      when(size(s) > 0,
        folded.getField("best").cast("double") / size(s).cast("double"))
        .otherwise(lit(0.0))
    }
    // an element has a duplicate iff it equals a sorted neighbor
    def dupFrac(s: Column): Column =
      when(size(s) > 0,
        size(filter(sequence(lit(1), size(s)), i =>
          (i > 1 && element_at(s, i) === element_at(s, i - 1)) ||
            (i < size(s) && element_at(s, i) === element_at(s, i + 1))))
          .cast("double") / size(s).cast("double"))
        .otherwise(lit(0.0))
    staged.select(col(idCol),
      dupLineFrac.as("dup_line_frac"),
      topRunFrac(col("s2")).as("top_2gram_frac"),
      dupFrac(col("s5")).as("dup_5gram_frac"))
  }

  /** C4 heuristic-filter signals (Raffel et al. 2020, arXiv:1910.10683
    * §2.2): terminal-punctuation line fraction, short-line fraction, code
    * brace / "lorem ipsum" flags, sentence count, and the combined keep.
    * Pure per-row projection, oracle-replayable (booleans + single
    * divisions only).
    */
  def c4Columns(text: Column): Seq[Column] = {
    val lines = split(text, "\n")
    val nLines = size(lines).cast("double")
    val terminalFrac = size(filter(lines, l =>
      Seq(".", "!", "?", "\"").map(s => endswith(rtrim(l), lit(s)))
        .reduce(_ || _))).cast("double") / nLines
    val shortLineFrac = size(filter(lines, l =>
      size(filter(split(l, "[ \t\n\f\r]+"), t => length(t) > 0)) < 5)).cast("double") / nLines
    val hasBrace = instr(text, "{") > 0
    val hasLorem = instr(lower(text), "lorem ipsum") > 0
    val sentences = size(filter(split(text, "[.!?]+"), p => length(trim(p)) > 0))
    val keep = !hasBrace && !hasLorem && sentences >= 3 && terminalFrac >= 0.5
    Seq(terminalFrac.as("terminal_line_frac"), shortLineFrac.as("short_line_frac"),
      hasBrace.as("has_brace"), hasLorem.as("has_lorem"),
      sentences.cast("int").as("n_sentences"), keep.as("c4_keep"))
  }

  /** Character-unigram entropy per document (nats): H = ln(n) − Σ cᵢ·ln(cᵢ)
    * / n over character counts cᵢ — the classic gibberish/compressibility
    * signal (degenerate repeated-char spam scores near 0, natural text
    * ~2.5-4). Map-side only; the char array is let-bound (see
    * [[graft.functions.word_shingles]]) so the O(distinct × n) counting
    * reads a lambda variable, not a re-split of the text. round-6 output
    * absorbs ln/summation ulps across engines.
    */
  def charEntropy(text: Column): Column = char_entropy(text)

  /** The composed-builtins form of [[charEntropy]] — the kernel's semantic
    * specification, asserted bit-identical in RegressionSpec. */
  private[graft] def charEntropyDeclarative(text: Column): Column = {
    // sort-then-fold (O(n log n), one pass): runs of equal chars in the
    // sorted array ARE the character counts; the fold closes each run by
    // adding run·ln(run), and the aggregate's finish lambda closes the
    // last run — no per-distinct-char rescans of the array
    val h = element_at(transform(array(array_sort(split(text, ""))), chars => {
      val n = size(chars)
      val s = aggregate(
        chars,
        struct(lit("").as("prev"), lit(0).as("run"), lit(0.0).as("acc")),
        (st, x) => {
          val same = x === st.getField("prev")
          val closed = when(same || st.getField("run") === 0, st.getField("acc"))
            .otherwise(st.getField("acc") +
              st.getField("run").cast("double") * log(st.getField("run").cast("double")))
          struct(x.as("prev"),
            when(same, st.getField("run") + 1).otherwise(lit(1)).as("run"),
            closed.as("acc"))
        },
        st => when(st.getField("run") > 0,
          st.getField("acc") +
            st.getField("run").cast("double") * log(st.getField("run").cast("double")))
          .otherwise(st.getField("acc")))
      log(n.cast("double")) - s / n.cast("double")
    }), 1)
    when(length(text) > 0, h).otherwise(lit(0.0))
  }

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subword count: letter runs, digit runs, and single symbols —
    * the usual pre-tokenizer regex shape.
    */
  def bpeTokenCount(text: Column): Column =
    size(call_function("regexp_extract_all", text,
      lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  /** Order-insensitive document fingerprint: md5 of the sorted distinct
    * token set (the classic "fingerprint" clustering key).
    */
  def fingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(text))), " "))

  /** N-gram-overlap benchmark decontamination (the GPT-3/Pile recipe):
    * flag any document sharing at least one word n-gram with the benchmark
    * set, with the matching-gram count for thresholding.
    *
    * Scale shape: the benchmark gram set is tiny relative to the corpus
    * (eval suites, not training data) — broadcast it; corpus grams stream
    * through the join scan-side (explode → broadcast-hash-join → count),
    * so nothing corpus-sized shuffles and no gram set is ever collected.
    */
  def ngramDecontaminate(docs: DataFrame, benchmark: DataFrame, n: Int = 13,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    def grams(df: DataFrame) =
      explode(array_distinct(word_shingles(tokens(df(textCol)), n))).as("gram")
    val bg = benchmark.select(grams(benchmark)).distinct()
    val hits = docs.select(col(idCol), grams(docs))
      .join(broadcast(bg), Seq("gram"))
      .groupBy(col(idCol))
      // per-doc grams are distinct already (array_distinct before the
      // explode) — count(1) ≡ count_distinct without the extra exchange
      .agg(count(lit(1)).as("n_hits"))
    docs.select(col(idCol)).join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_contaminated_grams"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Multi-phrase ban-list matching via Aho–Corasick: one automaton pass
    * per document regardless of ban-list size — the form literal
    * decontamination takes when the ban list is 10⁴ phrases, where the
    * per-phrase `contains` fold of [[graft.queries.Pipeline]]'s
    * `text_decontaminate` is O(bytes·phrases). Returns (idCol,
    * matched_ids sorted ascending, n_matched, contaminated).
    */
  def banPhraseMatches(docs: DataFrame, phrases: Seq[String],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol),
      // null text ≡ no matches here (size(NULL) is -1, so coalesce first)
      coalesce(multi_contains(col(textCol), phrases),
        array().cast("array<int>")).as("ids"))
      .select(col(idCol),
        array_join(col("ids"), ",").as("matched_ids"),
        size(col("ids")).as("n_matched"),
        (size(col("ids")) > 0).as("contaminated"))

  /** The per-phrase contains fold the kernel is bit-identical to
    * (RegressionSpec twin; null text → null like the kernel). */
  private[graft] def multiContainsDeclarative(text: Column,
      phrases: Seq[String]): Column = {
    val arr = array(phrases.map(lit): _*)
    when(text.isNull, lit(null).cast("array<int>"))
      .otherwise(filter(
        sequence(lit(0), lit(phrases.size - 1)),
        i => call_function("contains", text, element_at(arr, i + 1))))
  }

  /** GPT-style sequence packing: documents are concatenated in id order
    * and cut into fixed `seqLen`-token training sequences; a document whose
    * tokens straddle a cut spans consecutive sequences (pretraining packs
    * split documents across context boundaries rather than padding).
    *
    * Packing runs independently per `shardSize`-doc shard: the shard is
    * the parallelism unit — the running-total window partitions by shard,
    * so no stage ever funnels the corpus into one partition, and at
    * cluster scale each shard maps onto one output file of the training
    * set. Sequence numbers are shard-local.
    *
    * Returns (idCol, shard, n_tokens, first_seq, last_seq, n_seqs).
    */
  def packSequences(docs: DataFrame, seqLen: Int = 2048, shardSize: Int = 500,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(seqLen > 0 && shardSize > 0, "seqLen and shardSize must be > 0")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col(idCol),
        expr(s"$idCol div $shardSize").as("shard"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      // empty docs still occupy a point in the stream: greatest(n,1) keeps
      // last_seq >= first_seq without advancing the cumulative offset
      .select(col(idCol), col("shard"), col("n_tokens"),
        expr(s"cum_before div $seqLen").as("first_seq"),
        expr(s"(cum_before + greatest(n_tokens, 1L) - 1L) div $seqLen").as("last_seq"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
  }

  /** Length-grouped batching audit (the HF LengthGroupedSampler /
    * dynamic-padding recipe): padded-batch training pads every sequence
    * in a batch to the batch max, so batching docs sorted by length —
    * instead of arrival order — collapses the padding waste. Within each
    * shard, docs group into batches of `batchSize` under BOTH orders
    * (by (n_tokens, id), and naively by id); per batch the report emits
    * `waste = n·max_len − Σ len` for each, making the win measurable
    * before any GPU time is spent.
    *
    * Scale shape: two shard-keyed windows over the same exchange (rank
    * by length, rank by id — same partitioning, one shuffle), aggregated
    * to one row per batch. Shards bound the window groups exactly like
    * [[packSequences]].
    *
    * Returns (shard, batch, n_docs, sorted_max, sorted_waste,
    * naive_max, naive_waste) — batch ids align across orders because
    * both partition the same shard into ⌈shardDocs/batchSize⌉ groups.
    */
  def batchPaddingStats(docs: DataFrame, batchSize: Int = 32,
      shardSize: Int = 500, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(batchSize > 0 && shardSize > 0, "batchSize and shardSize must be > 0")
    import org.apache.spark.sql.expressions.Window
    // null text counts as 0 tokens: a NULL ordering key would place the
    // doc at opposite window ends cross-engine (Spark nulls-first asc,
    // DuckDB nulls-last), shifting every batch boundary
    val base = docs.select(col(idCol),
      expr(s"$idCol div $shardSize").as("shard"),
      coalesce(size(tokens(col(textCol))).cast("long"), lit(0L)).as("n_tokens"))
    val bySorted = Window.partitionBy(col("shard"))
      .orderBy(col("n_tokens"), col(idCol))
    val byId = Window.partitionBy(col("shard")).orderBy(col(idCol))
    // `div`, not `/`: Column./ is ALWAYS double division in Spark SQL
    val batched = base
      .withColumn("srn", row_number().over(bySorted))
      .withColumn("nrn", row_number().over(byId))
      .withColumn("sorted_batch",
        expr(s"CAST((srn - 1) div $batchSize AS BIGINT)"))
      .withColumn("naive_batch",
        expr(s"CAST((nrn - 1) div $batchSize AS BIGINT)"))
    def stats(batchCol: String, prefix: String) = batched
      .groupBy(col("shard"), col(batchCol).as("batch"))
      .agg(count(lit(1)).as(s"${prefix}_n"),
        max(col("n_tokens")).as(s"${prefix}_max"),
        sum(col("n_tokens")).as(s"${prefix}_sum"))
      .select(col("shard"), col("batch"), col(s"${prefix}_n"),
        col(s"${prefix}_max"),
        (col(s"${prefix}_n") * col(s"${prefix}_max") - col(s"${prefix}_sum"))
          .as(s"${prefix}_waste"))
    stats("sorted_batch", "sorted")
      .join(stats("naive_batch", "naive"), Seq("shard", "batch"))
      .select(col("shard"), col("batch"), col("sorted_n").as("n_docs"),
        col("sorted_max"), col("sorted_waste"),
        col("naive_max"), col("naive_waste"))
  }

  /** Unigram-LM perplexity per document — the KenLM-shaped quality gate
    * (docs whose perplexity under a corpus-fit LM is extreme are
    * boilerplate or noise), with the n-gram order dropped to 1 so the
    * model is pure counting and an independent engine can replay
    * fit+score exactly.
    *
    * Scale shape: one explode + one token hash-agg builds the LM (model
    * state = vocab-sized count table, joined back by token key — AQE
    * broadcasts it when small); scoring is a per-doc avg of Laplace
    * log-probs. Nothing is collected to the driver.
    *
    * Returns (idCol, n_tokens, avg_nll, ppl). Token-free documents keep
    * NULL scores (no tokens to score).
    */
  def unigramPerplexity(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", alpha: Double = 1.0): DataFrame = {
    // per-doc token TYPES with in-doc counts, computed MAP-SIDE by the
    // fused unigram kernel (a doc's tokens are co-located in its row) —
    // the former cache held the full OCCURRENCE stream (id, token),
    // several-fold more rows, and the scoring join re-shuffled all of it.
    // Scoring is tf-weighted: Σk·ln p / Σk ≡ avg over occurrences (the
    // same round-6-absorbed latitude the bigram family documents), and
    // the per-doc aggregate's map-side partials collapse to one row per
    // doc. Both model scalars come from ONE tiny aggregate over cnt.
    val dtf = Caches.persist(
      docs.select(col(idCol),
          explode(unigram_counts(tokens(col(textCol)))).as("u"))
        .select(col(idCol), col("u.token").as("token"), col("u.k").as("k")))
    val cnt = dtf.groupBy(col("token")).agg(sum(col("k")).as("c"))
    val scalars = cnt.agg(count(lit(1)), coalesce(sum(col("c")), lit(0L))).head()
    val vocab = scalars.getLong(0)
    val total = scalars.getLong(1)
    val scored = dtf.join(cnt, Seq("token"))
      .groupBy(col(idCol))
      .agg(sum(col("k")).as("n_tokens"),
        (-(sum(col("k") *
            log((col("c") + lit(alpha)) / lit(total + alpha * vocab))) /
          sum(col("k")))).as("avg_nll"))
      .withColumn("ppl", exp(col("avg_nll")))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("avg_nll"), col("ppl"))
  }

  /** Bigram-LM perplexity with Jelinek-Mercer interpolation — one n-gram
    * order up from [[unigramPerplexity]], the shape real KenLM-style
    * quality gates use (interpolated higher-order estimates backed off
    * toward the unigram). Both component models are Laplace-smoothed
    * pure-count estimates so an independent engine replays fit+score
    * exactly:
    *   P(cur|prev) = λ·(c(prev,cur)+1)/(c(prev)+V)
    *               + (1−λ)·(c(cur)+1)/(T+V)
    *
    * Scale shape: bigrams come from a map-side `transform` over the token
    * array (no window, no self-join — position pairing never shuffles);
    * the model is two hash-aggs (bigram + unigram counts) joined back by
    * token keys, AQE-broadcast when small; only V and T (two scalars)
    * reach the driver. The token projection is persisted once and feeds
    * counting and scoring (released via the Caches contract).
    *
    * Returns (idCol, n_bigrams, avg_nll2, ppl2); docs with < 2 tokens
    * keep NULL scores (nothing to score), n_bigrams 0.
    */
  def bigramPerplexity(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", lambda: Double = 0.7): DataFrame = {
    val tk = Caches.persist(docs.select(col(idCol), tokens(col(textCol)).as("tk")))
    // doc-local counts from the fused kernel: the bigram hash-agg sees
    // map-side-collapsed rows, and scoring attaches the model to bigram
    // TYPES weighted by k instead of re-shuffling the full occurrence
    // stream through every model join (same value: avg over occurrences
    // ≡ Σk·ln p / Σk; round-6 absorbs the addition-order delta)
    val bi = tk.filter(size(col("tk")) >= 2)
      .select(col(idCol), explode(graft.functions.bigram_counts(col("tk"))).as("b"))
      .select(col(idCol), col("b.prev").as("prev"), col("b.cur").as("cur"),
        col("b.k").as("k"))
    // unigram model counts via the fused kernel (map-side pre-reduction,
    // same exact integers); both scalars from ONE aggregate instead of
    // two corpus-stream count() jobs
    val uni = tk.select(explode(graft.functions.unigram_counts(col("tk"))).as("u"))
      .select(col("u.token").as("token"), col("u.k").as("k"))
    val cu = uni.groupBy(col("token")).agg(sum(col("k")).as("cu"))
    val cb = bi.groupBy(col("prev"), col("cur")).agg(sum(col("k")).as("cb"))
    val scalars = cu.agg(count(lit(1)), coalesce(sum(col("cu")), lit(0L))).head()
    val vocab = scalars.getLong(0)
    val total = scalars.getLong(1)
    // (1 - λ) is COMPUTED in IEEE double on both engines (the oracle says
    // 1.0 - 0.7 with ::DOUBLE casts), not written as a 0.3 literal — the
    // parsed-0.3 double differs from computed-0.3 in the last ulp.
    val p = lit(lambda) * (col("cb") + lit(1.0)) / (col("c_ctx") + lit(vocab.toDouble)) +
      (lit(1.0) - lit(lambda)) * (col("c_cur") + lit(1.0)) / lit((total + vocab).toDouble)
    val model = cb
      .join(cu.select(col("token").as("prev"), col("cu").as("c_ctx")), Seq("prev"))
      .join(cu.select(col("token").as("cur"), col("cu").as("c_cur")), Seq("cur"))
      .select(col("prev"), col("cur"), log(p).as("lp"))
    val scored = bi
      .join(model, Seq("prev", "cur"))
      .groupBy(col(idCol))
      .agg(sum(col("k")).as("n_bigrams"),
        (-(sum(col("k") * col("lp")) / sum(col("k")))).as("avg_nll2"))
      .withColumn("ppl2", exp(col("avg_nll2")))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_nll2"), col("ppl2"))
  }

  /** Bigram-LM perplexity with interpolated Kneser-Ney smoothing — the
    * estimator KenLM actually ships (Heafield 2011; Kneser & Ney 1995),
    * one rung up from the Jelinek-Mercer mix in [[bigramPerplexity]]:
    *   P(cur|prev) = max(c(prev,cur) − D, 0) / cctx(prev)
    *               + D · N1+(prev,·)/cctx(prev) · N1+(·,cur)/N1+(·,·)
    * with absolute discount D = 0.75 (exactly representable, so both
    * engines see the same double). cctx(prev) = Σ_w c(prev,w) is the
    * bigram-context mass (NOT the corpus unigram count — they differ at
    * document boundaries), N1+ are distinct-continuation counts, and the
    * backoff distribution is the continuation probability — the KN
    * insight that "Francisco" is frequent but follows almost nothing.
    * Every scored bigram has c≥1 and N1+(·,cur)≥1, so P > 0 with no
    * extra smoothing and the fit is replayable from exact counts.
    *
    * Scale shape: identical to [[bigramPerplexity]] — map-side position
    * pairing (no shuffle), the model is one bigram hash-agg re-aggregated
    * twice by its two key halves, and only N1+(·,·) (one scalar) reaches
    * the driver. The bigram-type table is persisted once and feeds all
    * three aggregations plus the scoring join.
    *
    * Returns (idCol, n_bigrams, avg_nll_kn, ppl_kn); docs with < 2
    * tokens keep NULL scores, n_bigrams 0.
    */
  /** Shared bigram machinery for the KN family: from the persisted
    * (id, tk) table, the (prev, cur, cb) bigram-count table (persisted
    * — its ROWS are the bigram types), the backward continuation
    * counts N1+(·,w), and the single N1+(·,·) scalar. One definition:
    * the subtle KN bottom level (bigram TYPES, not tokens) cannot
    * desynchronize between the order-2 and order-3 estimators.
    */
  /** Scale-path join hint with a build-side memory guard. Pins
    * `shuffle_hash` on `df` (making it the hash-BUILD side) only while
    * the per-partition build fits a budget: Spark's shuffled-hash build
    * side cannot spill (guide §3.1), so an unconditional hint turns
    * "model side bigger than executor memory" into an OOM where
    * sort-merge would just spill (ADVICE r13 — the trigram/bigram model
    * tables are corpus-vocabulary-sized, hundreds of millions of rows at
    * sf100, and the framework targets 100 TB). The guard divides the
    * build side's plan-stat size across the session's shuffle
    * partitions; above `spark.graft.shj.maxBuildBytesPerPartition`
    * (default 256 MB — what a 4 GB executor can hash-build while also
    * streaming the probe side) the join is left to the planner, whose
    * sort-merge choice spills gracefully. Because shuffle partition
    * counts should scale with input bytes (Bench sizes
    * `spark.sql.shuffle.partitions` at ⌈fixture bytes / 128 MB⌉), the
    * per-partition build shrinks as data and partitioning grow together,
    * so the hint stays on for exactly the deployments it is safe on.
    */
  /** `sizeProxy`: plan-stat SIZE estimates multiply through join chains
    * (size-only estimation has no row counts to divide by), so a
    * multi-join build side like the assembled KN model table estimates
    * astronomically even when its true cardinality equals its largest
    * base table's. Callers pass that base table as the proxy; its
    * single-subtree estimate is the honest stand-in.
    */
  private def shjWithinBudget(gate: Boolean,
      sizeProxy: Option[DataFrame] = None)(df: DataFrame): DataFrame =
    if (!gate) df
    else {
      val conf = df.sparkSession.conf
      val parts = scala.util.Try(
        conf.get("spark.sql.shuffle.partitions").trim.toInt)
        .getOrElse(200).max(1)
      val budget = scala.util.Try(
        conf.get("spark.graft.shj.maxBuildBytesPerPartition",
          (256L << 20).toString).trim.toLong)
        .getOrElse(256L << 20)
      val est = sizeProxy.getOrElse(df)
        .queryExecution.optimizedPlan.stats.sizeInBytes
      val hint = est / parts <= BigInt(budget)
      // stderr breadcrumb so any leg's log shows which joins hash-build
      // vs degrade to sort-merge (the decision is invisible in timings)
      System.err.println(
        s"[graft.shj] est=$est parts=$parts budget=$budget hint=$hint")
      if (hint) df.hint("shuffle_hash") else df
    }

  private def bigramTypeModel(tk: DataFrame): (DataFrame, DataFrame, Long) = {
    val bi = tk.filter(size(col("tk")) >= 2)
      .select(explode(graft.functions.bigram_counts(col("tk"))).as("b"))
      .select(col("b.prev").as("prev"), col("b.cur").as("cur"),
        col("b.k").as("k"))
    // Repartition-first before this aggregate was TRIED and REVERTED
    // (r13): the sf100 leg went 134->218 s with the spill unchanged —
    // the kn3 spill lives in the scoring join's sorts, not here, and
    // the raw-stream exchange costs more than the partial-agg hashmaps
    // save (unlike the r12 dup-key count, whose aggregate WAS the
    // spiller). Measured negative result; the plain shape stays.
    val cb = Caches.persist(
      bi.groupBy(col("prev"), col("cur")).agg(sum(col("k")).as("cb")))
    val ccont = cb.groupBy(col("cur")).agg(count(lit(1)).as("n1bwd"))
    (cb, ccont, cb.count()) // count = N1+(·,·), the one driver scalar
  }

  def kneserNeyPerplexity(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", discount: Double = 0.75): DataFrame = {
    val tk = Caches.persist(docs.select(col(idCol), tokens(col(textCol)).as("tk")))
    // doc-local counts (fused kernel) + model attached to bigram TYPES:
    // see bigramPerplexity for the shuffle-shape rationale
    val bi = tk.filter(size(col("tk")) >= 2)
      .select(col(idCol), explode(graft.functions.bigram_counts(col("tk"))).as("b"))
      .select(col(idCol), col("b.prev").as("prev"), col("b.cur").as("cur"),
        col("b.k").as("k"))
    val (cb, ccont, nBigramTypes) = bigramTypeModel(tk)
    val cctx = cb.groupBy(col("prev"))
      .agg(sum(col("cb")).as("cv"), count(lit(1)).as("n1fwd"))
    val d = lit(discount)
    // expression shape mirrors the oracle SQL term-for-term (left-assoc
    // products, computed casts) so the doubles agree to the last ulp
    // before the round-6 the query applies
    val p = greatest(col("cb") - d, lit(0.0)) / col("cv") +
      d * col("n1fwd") / col("cv") *
        (col("n1bwd") / lit(nBigramTypes.toDouble))
    // scale path: hash-build the model sides instead of sort-merging —
    // same rationale (and gate) as the trigram ladder's scaleHint, with
    // the per-partition build-size budget of [[shjWithinBudget]]
    val scaleGate = Dedup.scaleLsh(tk)
    def scaleHint(df: DataFrame): DataFrame = shjWithinBudget(scaleGate)(df)
    val model = cb
      .join(scaleHint(cctx), Seq("prev"))
      .join(scaleHint(ccont), Seq("cur"))
      .select(col("prev"), col("cur"), log(p).as("lp"))
    val scored = bi
      .join(shjWithinBudget(scaleGate, Some(cb))(model), Seq("prev", "cur"))
      .groupBy(col(idCol))
      .agg(sum(col("k")).as("n_bigrams"),
        (-(sum(col("k") * col("lp")) / sum(col("k")))).as("avg_nll_kn"))
      .withColumn("ppl_kn", exp(col("avg_nll_kn")))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_nll_kn"), col("ppl_kn"))
  }

  /** Trigram interpolated Kneser-Ney perplexity — the full recursive KN
    * ladder (order 3 → 2 → continuation unigram), with the defining
    * subtlety implemented correctly: the MIDDLE order does not use raw
    * bigram counts but continuation counts ĉ(v,w) = N1+(·vw) = |{u :
    * c(u,v,w) > 0}| (Chen & Goodman 1999 eq. 18) —
    *   P₃(w|u,v) = max(c(uvw)−D,0)/c(uv·) + D·N1+(uv,·)/c(uv·) · P₂'(w|v)
    *   P₂'(w|v)  = max(ĉ(v,w)−D,0)/ĉ(v,·) + D·N1+'(v,·)/ĉ(v,·) · Pcont(w)
    *   Pcont(w)  = N1+(·,w)/N1+(·,·)  (over bigram types, as in order 2)
    * Fixed D = 0.75 at both levels (exactly representable). Every count
    * is an exact integer, so the whole model replays in an independent
    * engine; Σ_w P₃(w|u,v) = 1 is property-tested.
    *
    * Scale shape: doc-local trigram counts come map-side from the fused
    * `trigram_counts` kernel (no shuffle, whole-stage codegen); the
    * model is ONE trigram hash-agg re-aggregated down the ladder (c3 →
    * cctx3/ĉ → cctx2 → Pcont via the bigram table), each a shrinking
    * keyed agg; the ladder joins ride the trigram TYPE table and
    * scoring attaches log-probabilities to per-doc counts in ONE join —
    * the occurrence stream never re-exchanges across model keys; one
    * scalar (N1+(·,·)) to the driver. Docs with < 3 tokens keep NULL
    * scores.
    *
    * On the size-gated scale path the model reads two local checkpoints:
    * materialize the result before `Dedup.releaseCaches()`. After release,
    * or after losing an executor holding their blocks, Spark cannot
    * recompute it and fails with "Checkpoint block … not found".
    */
  def kneserNeyTrigramPerplexity(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", discount: Double = 0.75): DataFrame = {
    val tk = Caches.persist(docs.select(col(idCol), tokens(col(textCol)).as("tk")))
    // doc-local trigram counts from the fused kernel — the trigram
    // hash-agg sees map-side-collapsed rows, and scoring joins the
    // model to trigram TYPES weighted by k, so the occurrence stream is
    // never re-exchanged across the five model keys (at sf10 that was
    // five shuffles of ~100 M three-string rows; the re-shape plus the
    // codegen'd kernel removes the G1 mid-heap pathology BASELINE r9
    // records: 64 s at 8g-G1 for work that costs ~21 s well-configured)
    val tri = tk.filter(size(col("tk")) >= 3)
      .select(col(idCol), explode(graft.functions.trigram_counts(col("tk"))).as("t"))
      .select(col(idCol), col("t.u").as("u"), col("t.v").as("v"),
        col("t.w").as("w"), col("t.k").as("k"))
    // Repartition-first before this aggregate was TRIED and REVERTED
    // (r13): sf100 kn3 went 133.7 -> 218 s with the 80 GB spill
    // UNCHANGED — the spill lives in the ladder/scoring joins' sort-
    // merge sorts (fixed below), not in this aggregate's map-side
    // hashmaps, and the raw trigram-stream exchange costs more than
    // partial aggregation saves. Measured negative result.
    // SCALE PATH co-partitioning (r13 verdict item 3): every model-side
    // derivation and all but one ladder join share the middle token `v`
    // as a key subset, so pinning the persisted c3 TYPE table to
    // HashPartitioning(v) lets the whole ladder — cctx3 (u,v), chat
    // (v,w), cctx2 (v), their joins back onto c3, and the model side of
    // the scoring join — reuse ONE exchange instead of re-exchanging
    // corpus-vocabulary-sized tables per consumer (guide §2.4: two
    // operations keyed the same way share one exchange; subset
    // partitioning satisfies each aggregate/join's clustered
    // distribution). The repartition runs on the AGGREGATED type table
    // (the r13 repartition-first negative exchanged the raw occurrence
    // stream — that lesson holds, this is not that). Works because
    // spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
    // defaults false: the cached plan's output partitioning is
    // deterministic and visible to consumers. Gated off at fixture
    // scale, where the sides broadcast and a 32-way repartition of a
    // tiny table would be pure floor.
    val scaleGate0 = Dedup.scaleLsh(tk)
    val c3base = tri.groupBy(col("u"), col("v"), col("w"))
      .agg(sum(col("k")).as("c3"))
    // Scale path reuses the one v-exchange through LOCALCHECKPOINT, not
    // persist: Spark 4 wraps every cached plan in an AdaptiveSparkPlan
    // (TableCacheQueryStage), whose output partitioning is opaque to
    // consumers — plan-verified here: with persist, every ladder join
    // re-exchanged both sides (18 exchanges) exactly as r13's blocked
    // prototype found. A localCheckpoint materializes to a LogicalRDD
    // that CARRIES the physical plan's HashPartitioning(v), so the
    // ladder aggregates/joins satisfy their distributions without new
    // exchanges. Storage is row-level MEMORY_AND_DISK blocks, owned by
    // Caches like every other intermediate here; the fixture path keeps
    // the columnar persist and its byte-identical r12/r13 plans.
    // Why the checkpointed subtrees plan with AQE OFF: LogicalRDD takes
    // its partitioning from the source Dataset's
    // executedPlan.outputPartitioning, and AdaptiveSparkPlanExec never
    // overrides outputPartitioning — an AQE-wrapped plan ALWAYS reports
    // UnknownPartitioning into the checkpoint (plan-verified: every
    // ladder consumer re-exchanged). Planning exactly these two small
    // builds (one pinned-count repartition, one exchange-free aggregate
    // over it) with AQE off makes the captured partitioning
    // HashPartitioning(v, N). They plan in a CLONE of the session with
    // AQE off in the clone's own conf, so the caller's session — and any
    // query planned on it concurrently — keeps AQE throughout; each
    // checkpoint's LogicalRDD is then rebound to the caller's session,
    // where the CONSUMING query plans with full AQE. The explicit count
    // matters too: an un-numbered repartition would be legitimate
    // AQE-coalesce bait on the consumer side.
    val sess = docs.sparkSession
    val vParts = sess.sessionState.conf.numShufflePartitions
    val (c3, chatOpt) =
      if (!scaleGate0)
        (Caches.persist(c3base), None)
      else {
        val noAqe = Shims.cloneSession(sess,
          Seq("spark.sql.adaptive.enabled" -> "false"))
        val c3ck = Caches.checkpoint(
          Shims.ofRows(noAqe, c3base.queryExecution.logical)
            .repartition(vParts, col("v")))
        val chatCk = Caches.checkpoint(c3ck.groupBy(col("v"), col("w"))
          .agg(count(lit(1)).as("chat")))
        def rebind(ck: DataFrame) = Shims.ofRows(sess, ck.queryExecution.logical)
        (rebind(c3ck), Some(rebind(chatCk)))
      }
    val cctx3 = c3.groupBy(col("u"), col("v"))
      .agg(sum(col("c3")).as("cv3"), count(lit(1)).as("n1f3"))
    // continuation counts: c3 rows are distinct (u,v,w), so count(*)
    // per (v,w) IS |{u : c(u,v,w) > 0}|
    val chat = chatOpt.getOrElse(Caches.persist(
      c3.groupBy(col("v"), col("w")).agg(count(lit(1)).as("chat"))))
    val cctx2 = chat.groupBy(col("v"))
      .agg(sum(col("chat")).as("cv2"), count(lit(1)).as("n1f2"))
    // bottom level over bigram TYPES of the same corpus — the SAME
    // shared model the order-2 estimator uses: Pcont(w) = N1+(·,w)/N1+(·,·)
    val (_, ccont, nBigramTypes) = bigramTypeModel(tk)
    val d = lit(discount)
    // term order mirrors the oracle SQL exactly (left-assoc products)
    val p2 = greatest(col("chat") - d, lit(0.0)) / col("cv2") +
      d * col("n1f2") / col("cv2") *
        (col("n1bwd") / lit(nBigramTypes.toDouble))
    val p3 = greatest(col("c3") - d, lit(0.0)) / col("cv3") +
      d * col("n1f3") / col("cv3") * p2
    // model per trigram TYPE (c3 is already distinct (u,v,w)): the four
    // ladder joins ride the type table, then ONE join attaches lp3 to
    // the per-doc counts.
    // SCALE PATH (same gate/conf as the LSH family): pin shuffle_hash on
    // the ladder and scoring joins — at sf100 these are SMJs over
    // hundreds of millions of 3-string rows and their SORTS are the
    // query's entire 80 GB spill (guide §3.1: hash-build the smaller
    // side per partition instead of sorting both streams; the r11
    // blocked-simhash self-join lesson). At fixture scale the sides
    // broadcast and the hint is a no-op, but it is gated anyway so the
    // small-corpus plans stay byte-identical to r12's.
    // (each hinted side passes the [[shjWithinBudget]] per-partition
    // build budget, so a memory-constrained deployment degrades to
    // spill-safe sort-merge instead of OOMing the un-spillable build)
    val scaleGate = scaleGate0
    def scaleHint(df: DataFrame): DataFrame = shjWithinBudget(scaleGate)(df)
    val model = if (!scaleGate) {
      // fixture path: exactly the r12/r13 shape (sides broadcast; plans
      // stay byte-identical to the oracle-validated small-corpus plans)
      c3.join(scaleHint(cctx3), Seq("u", "v"))
        .join(scaleHint(chat), Seq("v", "w"))
        .join(scaleHint(cctx2), Seq("v"))
        .join(scaleHint(ccont.withColumnRenamed("cur", "w")), Seq("w"))
        .select(col("u"), col("v"), col("w"), log(p3).as("lp3"))
    } else {
      // v-co-partitioned ladder: the only w-keyed attachment (Pcont's
      // N1+(·,w)) is applied to the SECOND-order (v,w) table first —
      // the smallest stream that carries w — and the result is brought
      // back to v-partitioning, so the trigram-type ladder never leaves
      // v. Join reordering only: the same four factors attach 1:1 to
      // the same (u,v,w) rows, and the p3/p2 expression trees are
      // unchanged, so lp3 is bit-identical (pinned-gate equality spec +
      // oracle cover this).
      val chatP = chat
        .join(scaleHint(ccont.withColumnRenamed("cur", "w")), Seq("w"))
        .repartition(vParts, col("v"))
      c3.join(scaleHint(cctx3), Seq("u", "v"))
        .join(scaleHint(chatP), Seq("v", "w"))
        .join(scaleHint(cctx2), Seq("v"))
        .select(col("u"), col("v"), col("w"), log(p3).as("lp3"))
    }
    // scale path: the probe stream enters the scoring join already
    // v-partitioned (explicit count — co-partition compatibility needs
    // equal partition counts), matching the model side, so
    // EnsureRequirements adds no exchange. Requires the session conf
    // spark.sql.requireAllClusterKeysForCoPartition=false (an engine
    // conf, GraftContext.sessionBuilder; Spark's default true refuses
    // subset-key co-partitioning)
    // — with it true the plan degrades to the r13 full-key exchanges,
    // never to a wrong result.
    val triJ = if (scaleGate) tri.repartition(vParts, col("v")) else tri
    val scored = triJ
      .join(shjWithinBudget(scaleGate, Some(c3))(model), Seq("u", "v", "w"))
      .groupBy(col(idCol))
      .agg(sum(col("k")).as("n_trigrams"),
        (-(sum(col("k") * col("lp3")) / sum(col("k")))).as("avg_nll_kn3"))
      .withColumn("ppl_kn3", exp(col("avg_nll_kn3")))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        col("avg_nll_kn3"), col("ppl_kn3"))
  }

  /** All analysis columns materialized for a documents table. */
  def analyze(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.select(
      Seq(col(idCol), langId(col(textCol)).as("lang_pred"),
        wsTokenCount(col(textCol)).as("ws_tokens"),
        fingerprint(col(textCol)).as("fingerprint")) ++
        qualityColumns(col(textCol)): _*)

  /** Readability signals (Flesch Reading Ease + Flesch-Kincaid grade,
    * the classic curation heuristics): sentences = maximal `[.!?]+` runs
    * (min 1), words = whitespace tokens, syllables = per-word vowel-group
    * count `[aeiouy]+` (min 1 per word — the standard approximation).
    * All three counts are exact ints in both engines (Java regex and
    * DuckDB's RE2 agree on these ASCII classes), so only the two final
    * formula divisions need round-6. Map-side only, one pass.
    *
    * The three COUNTS run as the fused one-pass `read_counts` kernel
    * (the per-word regexp_extract_all of the declarative form was the
    * battery's whole cost); the formulas stay declarative, so
    * bit-identity with the spec below reduces to the counts
    * (RegressionSpec asserts the full battery anyway).
    */
  def readabilityColumns(text: Column): Seq[Column] = {
    val r = read_counts(text)
    val nSents = r.getField("n_sents").cast("double")
    val nWords = r.getField("n_words").cast("double")
    val nSyll = r.getField("n_syllables").cast("double")
    val wps = nWords / nSents
    val spw = when(nWords > 0, nSyll / nWords).otherwise(lit(0.0))
    Seq(
      nSents.cast("long").as("n_sents"),
      nWords.cast("long").as("n_words"),
      nSyll.cast("long").as("n_syllables"),
      round(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 6).as("flesch_ease"),
      round(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 6).as("fk_grade"))
  }

  /** The composed-builtins form of [[readabilityColumns]] — the kernel's
    * semantic specification, asserted bit-identical in RegressionSpec.
    * The per-word fold reads the let-bound token array (lambda variable),
    * so the interpreted HOF costs O(tokens), not O(tokens × split). */
  private[graft] def readabilityColumnsDeclarative(text: Column): Seq[Column] = {
    val toks = tokens(text)
    val nSents = greatest(
      size(call_function("regexp_extract_all", text, lit("[.!?]+"), lit(0))),
      lit(1)).cast("double")
    val nWords = size(toks).cast("double")
    val nSyll = aggregate(toks, lit(0L), (acc, w) =>
      acc + greatest(
        size(call_function("regexp_extract_all", w, lit("[aeiouy]+"), lit(0))),
        lit(1)).cast("long")).cast("double")
    val wps = nWords / nSents
    val spw = when(nWords > 0, nSyll / nWords).otherwise(lit(0.0))
    Seq(
      nSents.cast("long").as("n_sents"),
      nWords.cast("long").as("n_words"),
      nSyll.cast("long").as("n_syllables"),
      round(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 6).as("flesch_ease"),
      round(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 6).as("fk_grade"))
  }

  /** Encoding-quality signals (the ftfy-ish mojibake battery): U+FFFD
    * replacement chars, C0/DEL control chars (tab/newline family excluded
    * — those are legitimate layout), non-ASCII code-point ratio, and the
    * two classic UTF-8-read-as-Latin-1 artifacts ('Ã' U+00C3 and the
    * 'â€' prefix of mangled smart punctuation). Every signal is a
    * code-point count (Spark `length` and DuckDB `len` both count code
    * points) or an int/int ratio — hash-exact cross-engine, no rounding
    * beyond the ratio's round-6.
    */
  def encodingColumns(text: Column): Seq[Column] = {
    val n = length(text)
    def cnt(pattern: String): Column =
      n - length(regexp_replace(text, pattern, ""))
    val nonAscii = cnt("[^\\x00-\\x7F]")
    // 'â€' occurrences: replacing the 2-char artifact with 1 char shrinks
    // the string by exactly one code point per occurrence
    val mangledPunct = n - length(replace(text, lit("â€"), lit("x")))
    Seq(
      cnt("�").cast("long").as("n_replacement"),
      cnt("[\\x01-\\x08\\x0E-\\x1F\\x7F]").cast("long").as("n_control"),
      when(n > 0, round(nonAscii.cast("double") / n, 6))
        .otherwise(lit(0.0)).as("non_ascii_ratio"),
      (cnt("Ã") + mangledPunct).cast("long").as("n_mojibake"))
  }

  /** Per-domain dataset-card report (the "what's actually in my training
    * set" battery): document and token counts, a discrete median token
    * length, mean composite quality, the exact-duplicate rate
    * (1 − distinct fingerprints / docs), and the dominant language with
    * its share.
    *
    * Scale shape (100 TB): everything is a keyed partial aggregate —
    * the token-length median comes from a (domain, n_tokens) HISTOGRAM
    * (map-side combined; ~domains × distinct-lengths rows), never a
    * per-domain value list (exact `percentile` would buffer whole
    * groups); the dup rate shuffles (domain, 16-byte fp) pairs; the
    * language mode shuffles (domain, lang) pairs. The final join glues
    * k-row aggregates (broadcast). Median contract: smallest value whose
    * cumulative count reaches half the domain (2·cum ≥ n) — pure int
    * arithmetic, engine-stable, no interpolation.
    */
  def corpusReport(docs: DataFrame, domainCol: String = "source",
      langCol: String = "lang", textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val quality = qualityColumns(col(textCol)).last
    val base = Caches.persist(docs.select(col(domainCol), col(langCol),
        wsTokenCount(col(textCol)).as("n_tokens"), quality.as("q"),
        fingerprint(col(textCol)).as("fp")))
    val agg = base.groupBy(col(domainCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("total_tokens"),
      round(avg(col("q")), 6).as("mean_quality"),
      countDistinct(col("fp")).as("n_fp"))
    // null n_tokens (null-text docs) stays out of the median histogram:
    // a null row would sit at opposite window ends cross-engine (Spark
    // orders nulls first, DuckDB last) and shift every cum; the median is
    // over docs WITH tokens (a domain of only null docs drops from the
    // report via the inner join, on both engines)
    val hist = base.filter(col("n_tokens").isNotNull)
      .groupBy(col(domainCol), col("n_tokens"))
      .agg(count(lit(1)).as("c"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol)).orderBy(col("n_tokens"))
    val p50 = hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("tot", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(domainCol))))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy(col(domainCol)).agg(min(col("n_tokens")).as("p50_tokens"))
    // asc_nulls_last pins the tiebreak to DuckDB's default (nulls LAST in
    // ASC) — Spark's nulls-first default would let a null lang WIN a
    // count tie that the oracle resolves to the real language
    val wLang = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol))
      .orderBy(col("lc").desc, col(langCol).asc_nulls_last)
    val topLang = base.groupBy(col(domainCol), col(langCol))
      .agg(count(lit(1)).as("lc"))
      .withColumn("rn", row_number().over(wLang))
      .filter(col("rn") === 1)
      .select(col(domainCol), col(langCol).as("top_lang"), col("lc"))
    agg.join(broadcast(p50), Seq(domainCol))
      .join(broadcast(topLang), Seq(domainCol))
      .select(col(domainCol), col("n_docs"), col("total_tokens"),
        col("p50_tokens"),
        col("mean_quality"),
        round(lit(1.0) - col("n_fp").cast("double") / col("n_docs"), 6)
          .as("dup_rate"),
        col("top_lang"),
        round(col("lc").cast("double") / col("n_docs"), 6)
          .as("top_lang_share"))
  }

  /** Token-window document chunking (the RAG / context-window prep shape):
    * split each document's token stream into windows of `window` tokens
    * advancing by `stride` (overlap = window - stride). Chunk i covers
    * tokens [i*stride, i*stride+window); the last chunk is the first one
    * reaching the end, so every token lands in ≥1 chunk and no chunk is
    * empty (requires stride ≤ window). Chunk count = 1 + ⌈max(n-window,0)
    * / stride⌉ — pure int arithmetic, identical in any engine.
    *
    * Scale shape: tokenize + slice are map-side (explode of an int range,
    * not of the tokens); output rows carry only the chunk text. No
    * shuffle at all — chunking composes with a downstream repartition or
    * the sharded sink.
    */
  def chunkDocs(docs: DataFrame, window: Int = 64, stride: Int = 48,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(stride > 0 && stride <= window,
      s"stride ($stride) must be in [1, window=$window]")
    val base = docs
      .select(col(idCol), tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) > 0)
    val n = size(col("tk"))
    // ⌈max(n-window,0)/stride⌉ via (x + stride-1) / stride on exact ints
    val lastChunk = floor((greatest(n - lit(window), lit(0)) + lit(stride - 1))
      .cast("double") / lit(stride.toDouble)).cast("int")
    base
      .select(col(idCol), col("tk"),
        explode(sequence(lit(0), lastChunk)).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        slice(col("tk"), col("chunk_id") * stride + 1, lit(window)).as("ck"))
      .select(col(idCol), col("chunk_id"),
        size(col("ck")).cast("long").as("n_chunk_tokens"),
        array_join(col("ck"), " ").as("chunk_text"))
  }
}
