package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions._

/** Deterministic corpus sampling for training-data assembly.
  *
  * Everything here is pure hash arithmetic — membership in a sample is a
  * property of the ROW, not of partitioning, executor count, or iteration
  * order, so a 100-TB corpus resampled after growing (or on a different
  * cluster) keeps every previously-selected row stable, and an independent
  * engine can replay the exact selection.
  */
object Sampling {

  /** 32-bit uniform hash of an id: the first 8 md5 hex digits as a long in
    * [0, 2³²). Cheap, engine-agnostic, and uncorrelated with the id's own
    * magnitude (unlike `id % k` sampling, which aliases any id-assignment
    * pattern straight into the sample).
    */
  def hash32(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long")

  /** Bernoulli-sample `fraction` of rows, deterministically. */
  def bernoulli(docs: DataFrame, fraction: Double,
      idCol: String = "doc_id"): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction out of range: $fraction")
    docs.filter(hash32(col(idCol)) < math.floor(fraction * 4294967296.0).toLong)
  }

  /** Domain-mixture sampling to a token budget (the data-mixing step of a
    * pretraining pipeline: "50% en, 20% zh, ... capped at N tokens").
    *
    * Per domain d with normalized weight w_d: the token target is
    * `budgetTokens`·w_d, the sampling fraction is min(1, target/available),
    * and a document is kept when hash32(id) < fraction·2³². Domains absent
    * from `weights` get fraction 0 (dropped).
    *
    * Scale shape: one partial-aggregated pass computes per-domain token
    * availability (a handful of rows), which broadcast-joins back onto the
    * corpus; the keep decision is then a scan-local filter — nothing
    * corpus-sized shuffles, and the sample needs no sorting or windowing.
    *
    * Returns one row per input document: (idCol, domainCol, n_tokens,
    * threshold, kept) — callers filter on `kept`; the threshold column
    * makes the decision auditable.
    */
  def mixtureSample(docs: DataFrame, weights: Map[String, Double],
      budgetTokens: Long, domainCol: String = "lang",
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(weights.nonEmpty, "mixtureSample: empty weight map")
    val wSum = weights.values.sum
    require(wSum > 0, s"mixtureSample: weights must sum > 0, got $wSum")
    val wCol = coalesce(
      element_at(typedlit(weights), col(domainCol)), lit(0.0))
    val toks = docs.select(col(idCol), col(domainCol),
      size(tokens(col(textCol))).cast("long").as("n_tokens"))
    val avail = toks.groupBy(col(domainCol))
      .agg(sum(col("n_tokens")).as("avail_tokens"))
    toks.join(broadcast(avail), Seq(domainCol))
      .withColumn("threshold",
        // avail=0 guard: 0/0 is NaN and least(1.0, NaN) = 1.0 under
        // Spark's NaN-greatest ordering — an all-empty domain would keep
        // EVERYTHING instead of nothing
        when(col("avail_tokens") > 0,
          floor(least(lit(1.0),
            lit(budgetTokens) * wCol / wSum / col("avail_tokens"))
            * 4294967296.0).cast("long"))
          .otherwise(lit(0L)))
      .select(col(idCol), col(domainCol), col("n_tokens"), col("threshold"),
        (hash32(col(idCol)) < col("threshold")).as("kept"))
  }

  /** Temperature-weighted domain mixing (the mT5/XLM-R α-sampling recipe,
    * arXiv:2010.11934 §3.1, at α = 0.5): rare domains are UP-weighted
    * relative to proportional sampling — weight w_d ∝ avail_d^α — so a
    * low-resource language isn't drowned out by the head domain.
    *
    * Exact-arithmetic formulation: w_d = ⌊√avail_d⌋. Token counts are
    * exact integers, IEEE sqrt is correctly rounded (and cannot straddle
    * an integer boundary for integer inputs, so the floor is
    * engine-stable), the normalizer S = Σ w_d is an INTEGER sum (no
    * float summation-order drift — the trap a float-weight normalizer
    * would step into), and the per-domain fraction
    * (budget·w_d)/S/avail_d is a fixed two-division sequence over
    * exactly-represented integers: every step bit-identical in any
    * IEEE-754 engine, so the 2³²-scaled keep threshold replays exactly.
    *
    * Same scale shape as [[mixtureSample]]: one partial-aggregated pass
    * for per-domain availability (a handful of rows), the integer
    * normalizer via one tiny aggregate cross-joined back, then a
    * scan-local hash filter — nothing corpus-sized shuffles.
    */
  def temperatureMixture(docs: DataFrame, budgetTokens: Long,
      domainCol: String = "lang", textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol), col(domainCol),
      size(tokens(col(textCol))).cast("long").as("n_tokens"))
    val avail = toks.groupBy(col(domainCol))
      .agg(sum(col("n_tokens")).as("avail_tokens"))
      .withColumn("w", floor(sqrt(col("avail_tokens"))).cast("long"))
    val s = avail.agg(sum(col("w")).as("s_norm"))
    toks.join(broadcast(avail), Seq(domainCol))
      .crossJoin(broadcast(s))
      .withColumn("threshold",
        // avail=0 guard: w = √0 = 0 makes the fraction 0/0 = NaN, and
        // least(1.0, NaN) = 1.0 (NaN sorts greatest) — the inverse of
        // the intended zero weight for an all-empty domain
        when(col("avail_tokens") > 0,
          floor(least(lit(1.0),
            lit(budgetTokens) * col("w") / col("s_norm") / col("avail_tokens"))
            * 4294967296.0).cast("long"))
          .otherwise(lit(0L)))
      .select(col(idCol), col(domainCol), col("n_tokens"), col("threshold"),
        (hash32(col(idCol)) < col("threshold")).as("kept"))
  }

  /** Curriculum bucketing (shortest-first length curriculum, the standard
    * practical schedule): assign each document a bucket 1..nBuckets by its
    * token-count quantile, so a trainer can feed buckets in order.
    *
    * bucket = 1 + ⌊nBuckets · cumBelow / total⌋ where cumBelow = number of
    * docs with STRICTLY smaller score — pure integer arithmetic over the
    * score histogram, so ties share a bucket and any engine replays the
    * assignment exactly (no ntile, whose remainder spreading depends on a
    * global row order).
    *
    * Scale shape (100 TB): the histogram is one map-side-combined
    * aggregate (≈ distinct-score rows, bounded by max doc length); the
    * cumulative window runs over the HISTOGRAM, not the corpus; the
    * assignment is a broadcast join of histogram thresholds back onto a
    * scan-side projection. A global-sort ntile would instead range-shuffle
    * the whole corpus through one window.
    */
  def curriculumBuckets(docs: DataFrame, nBuckets: Int = 10,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val scored = docs.select(col(idCol),
      size(tokens(col(textCol))).cast("long").as("score"))
    // null scores (null-text docs) stay OUT of the histogram: they can't
    // be bucketed (the equi-join below drops them on both engines), and a
    // null histogram row would sit at opposite window ends cross-engine
    // (Spark orders nulls first, DuckDB last), shifting every cum_below
    val hist = scored.filter(col("score").isNotNull)
      .groupBy(col("score")).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("score"))
    val cum = hist
      .withColumn("cum_below", coalesce(
        sum(col("c")).over(w) - col("c"), lit(0L)))
      .crossJoin(broadcast(hist.agg(sum(col("c")).as("total"))))
      .select(col("score"), col("cum_below"), col("total"))
    scored.join(broadcast(cum), Seq("score"))
      .select(col(idCol), col("score"),
        (lit(1) + floor(lit(nBuckets) * col("cum_below") / col("total")))
          .cast("int").as("bucket"))
  }

  /** DoReMi-style domain reweighting (Xie et al. 2023, arXiv:2305.10429,
    * the static-proxy simplification): domains whose documents the shared
    * corpus language model fits WORST get UP-weighted by multiplicative
    * weights, so the training mixture shifts toward underserved domains.
    *
    *  - proxy loss: per-domain mean of per-doc avg-NLL under the corpus
    *    unigram LM ([[TextAnalysis.unigramPerplexity]] — Laplace counts,
    *    fully replayable);
    *  - excess loss: max(0, L_d − min_d L_d) (the best-fit domain is the
    *    reference point; DoReMi's trained reference model is out of scope
    *    for a relational engine, and the excess stays static across
    *    rounds — documented divergence from the paper's per-step proxy
    *    retraining);
    *  - `iters` rounds of multiplicative weights from uniform α₀:
    *    raw_d = α_d·exp(η·excess_d), α ← (1−c)·raw/Σraw + c/k.
    *
    * Determinism contract: domain means are avg-of-avgs (order-sensitive
    * at ~1e-14, round-6 output absorbs), the driver iterates in
    * domain-sorted order, and (1−c) is COMPUTED in IEEE double on both
    * engines (the oracle writes `1.0 - 0.01`, never a parsed `0.99` —
    * the two differ in the last ulp).
    *
    * Scale shape (100 TB): the LM fit is the perplexity operator's two
    * hash-aggs; domain stats are one tiny aggregate (k rows ≈ dozens) —
    * constant-size driver model state like a centroid set; the final
    * weight assignment is a scan-local broadcast-literal lookup. Nothing
    * corpus-sized shuffles beyond the perplexity scoring join.
    */
  def doremiWeights(docs: DataFrame, eta: Double = 1.0,
      smoothing: Double = 0.01, iters: Int = 3,
      domainCol: String = "source", textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val nll = TextAnalysis.unigramPerplexity(docs, textCol, idCol)
      .select(col(idCol), col("avg_nll"))
    // NULL domains never survive the oracle's inner `JOIN ... USING
    // (source)`, and a null map key would NPE the sort below — drop them
    // here so both engines see the same domain set. avg() skips null
    // avg_nll (token-free docs), and a domain with NO scored docs gets a
    // null mean, which must also drop (the oracle's a3 has no such row).
    val domStats = docs.select(col(idCol), col(domainCol))
      .filter(col(domainCol).isNotNull)
      .join(nll, Seq(idCol))
      .groupBy(col(domainCol))
      .agg(avg(col("avg_nll")).as("dom_nll"))
      .filter(col("dom_nll").isNotNull)
      .collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .sortBy(_._1)
    require(domStats.nonEmpty, "doremiWeights: no domains")
    val k = domStats.length
    val minNll = domStats.map(_._2).min
    val excess = domStats.map { case (_, l) => math.max(0.0, l - minNll) }
    var alpha = Array.fill(k)(1.0 / k)
    for (_ <- 1 to iters) {
      val raw = Array.tabulate(k)(i => alpha(i) * math.exp(eta * excess(i)))
      val s = raw.sum // domain-sorted order, mirrored by the oracle
      alpha = raw.map(r => (1.0 - smoothing) * r / s + smoothing / k)
    }
    val excessMap = domStats.indices.map(i => domStats(i)._1 -> excess(i)).toMap
    val alphaMap = domStats.indices.map(i => domStats(i)._1 -> alpha(i)).toMap
    // emit exactly the docs the oracle's inner join keeps: known domains
    // only (null domains and all-token-free domains have no weight row)
    docs.select(col(idCol), col(domainCol))
      .filter(col(domainCol).isInCollection(alphaMap.keys.toSeq))
      .select(col(idCol), col(domainCol),
        round(element_at(typedlit(excessMap), col(domainCol)), 6).as("dom_excess"),
        round(element_at(typedlit(alphaMap), col(domainCol)), 6).as("dom_weight"))
  }

  /** DSIR importance weights (Xie et al. 2023, arXiv:2302.03169): score
    * each document by how target-like its hashed-bigram distribution is,
    * log w(doc) = Σ_grams [ln p̂(bucket) − ln q̂(bucket)], where p̂/q̂ are
    * add-1-smoothed bucket frequencies of the target subset vs the whole
    * corpus. Returns the `topK` docs by weight with their rank.
    *
    * Scale shape (100 TB): the count pass shuffles only `buckets`-keyed
    * partial aggregates (map-side combine ⇒ ~buckets rows per partition);
    * the collected model is `buckets` longs — constant-size driver state
    * like a centroid set. Scoring is then a ZERO-SHUFFLE scan projection:
    * the log-ratio table rides along as a broadcast literal and each doc
    * folds its own grams (`element_at` lookups) map-side. The only
    * corpus-order operation is the final top-k, which fuses to
    * TakeOrderedAndProject.
    *
    * Replayability: buckets come from md5 hex pairs (`conv(_,16,10)` ≡
    * strpos arithmetic in any engine), counts are exact ints, and ln is
    * correctly rounded to ulps in both engines — round-6 output absorbs
    * the drift. The RANKING therefore also runs on the round-6 value
    * (with the id as tiebreak): ranking raw doubles would let near-tied
    * docs (gap under the Math.log-vs-libm-ln ulp drift × gram count)
    * swap ranks across engines even though their displayed weights agree.
    */
  def dsirWeights(docs: DataFrame, isTarget: Column, buckets: Int = 256,
      topK: Int = 200, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(buckets == 256, "bucket count is fixed at 256 (two md5 hex chars)")
    // Fused tokenize→shingle→md5-first-byte kernel (GramBucketsExpr —
    // bit-identical to conv(substring(md5(gram),1,2),16,10) over
    // word_shingles, RegressionSpec). The persisted per-doc state is an
    // array<int> of buckets (4 B/gram) instead of the gram STRINGS the
    // declarative form staged (~15 B/gram + per-gram interpreted md5 in
    // both passes). Feeds BOTH the collected count pass and the scoring
    // scan — persist so the shingle+digest work runs once.
    val grams = Caches.persist(
      Par.ensure(docs, col(idCol)).select(col(idCol).as("id"), isTarget.as("tgt"),
          gram_buckets(col(textCol), 2).as("bk"))
        .filter(size(col("bk")) > 0))
    val counts = grams.select(col("tgt"), explode(col("bk")).as("b"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("cq"),
        sum(when(col("tgt"), 1L).otherwise(0L)).as("cp"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val nq = counts.values.map(_._1).sum.toDouble
    val np = counts.values.map(_._2).sum.toDouble
    val lut = Array.tabulate(buckets) { b =>
      val (cq, cp) = counts.getOrElse(b, (0L, 0L))
      math.log((cp + 1.0) / (np + buckets)) - math.log((cq + 1.0) / (nq + buckets))
    }
    // Σ lut(bucket) in gram order — bit-identical to the element_at fold
    val logw = lut_sum(col("bk"), lut)
    // rank/top-k on the ROUND-6 weight + id tiebreak (engine-stable; see
    // scaladoc) — the raw double survives only inside this projection
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("dsir_logw").desc, col(idCol))
    grams.select(col("id").as(idCol), round(logw, 6).as("dsir_logw"))
      .orderBy(col("dsir_logw").desc, col(idCol)).limit(topK)
      .withColumn("rn", row_number().over(w))
      .select(col(idCol), col("dsir_logw"), col("rn"))
  }

  /** Leakage-safe train/val/test assignment: the split is a hash of the
    * document's DUPLICATE-CLUSTER label, not of the document itself, so
    * exact duplicates can never straddle a split boundary (the classic
    * eval-contamination bug: test docs whose twins sit in train). Cluster
    * label = min id over the exact-dedup fingerprint group (the
    * [[Dedup.exactGroups]] normalization); singletons are their own
    * cluster. Buckets 0..7 → train, 8 → val, 9 → test (8/1/1).
    *
    * Scale shape: one fingerprint-keyed shuffle carrying (16-byte fp, id)
    * to pick cluster representatives (map-side partial min), one join
    * back; the split decision itself is map-side md5 arithmetic — the
    * same replayable-hash idiom as [[bernoulli]], keyed by ':split' so it
    * is independent of any sampling decision made with [[hash32]].
    */
  def leakageSafeSplit(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", prefixLen: Int = 0): DataFrame = {
    // NULL text coalesces to '' BEFORE hashing: a null fp would silently
    // drop the doc at the equi-join (NULL ≠ NULL), and contentless docs
    // belong in one cluster anyway. prefixLen > 0 fingerprints the
    // normalized prefix, matching [[Dedup.exactGroups]]'s knob.
    val norm = coalesce(normalize_text(col(textCol)), lit(""))
    val keyed = if (prefixLen > 0) substring(norm, 1, prefixLen) else norm
    val fp = docs.select(col(idCol), md5(keyed).as("fp"))
    val reps = fp.groupBy(col("fp")).agg(min(col(idCol)).as("cluster_id"))
    val bucket = conv(substring(
      md5(concat(col("cluster_id").cast("string"), lit(":split"))), 1, 4),
      16, 10).cast("int") % 10
    fp.join(reps, Seq("fp"))
      .select(col(idCol), col("cluster_id"), bucket.as("bucket"))
      .withColumn("split",
        when(col("bucket") <= 7, "train")
          .when(col("bucket") === 8, "val").otherwise("test"))
  }
}
