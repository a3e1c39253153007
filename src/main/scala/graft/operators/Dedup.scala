package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._

/** Document deduplication for large-scale training-data pipelines.
  *
  * Scale design notes (100 TB target):
  *  - Exact dedup is a single hash-aggregate on a 16-byte fingerprint —
  *    one shuffle of (fingerprint, id), never of the text.
  *  - MinHash/SimHash LSH: signatures are computed scan-side in one
  *    codegen'd pass (custom expressions, no UDFs); only (band-key, id,
  *    signature) rows shuffle, and the self-join key is the band hash, so
  *    candidate generation is a standard shuffle join that partitions
  *    evenly unless the corpus is pathologically self-similar.
  *  - All pair outputs are id < id ordered and deduplicated across bands.
  */
object Dedup {

  /** Free every intermediate this thread's operators persisted or
    * checkpointed since the last call (see [[Caches]]). Contract: call
    * AFTER materializing (count/collect/write) the returned plan. Earlier
    * makes the job recompute a persisted intermediate, and fails a plan
    * that reads a checkpoint (`Components.connectedComponents`,
    * `nearDupClusters`, KN3 at scale) with "Checkpoint block … not
    * found", as its lineage is truncated. Kept on Dedup for harness
    * compatibility (Bench/Verify call this between queries).
    */
  // NOTE deliberately does NOT clear the Bloom filter memo: memo keys
  // pin the DATA identity (PlanMemo folds every leaf's file listing —
  // path, size, mtime — into the key, and refuses in-memory plans), so a
  // stale entry can never be HIT — a table overwritten in place produces
  // a different key and misses (PlanMemoSpec proves this end-to-end).
  // Clearing here was measured at +34% on sf100 dedup_clusters and +30%
  // on dedup_minhash_oracle (every bench sample re-paid two filter-build
  // banding passes) while adding no correctness: the keys are the guard.
  // Session teardown ([[releaseAllCaches]]) still drops the memo.
  def releaseCaches(): Unit = Caches.release()

  /** Session-teardown hatch: unpersist every registered intermediate
    * regardless of owning thread (see [[Caches.releaseAll]]) — for
    * cleanup after a worker thread died without releasing. Do not call
    * with queries in flight.
    */
  def releaseAllCaches(): Unit = { Caches.releaseAll(); Bloom.clearMemo() }

  /** Default per-(band, key) occupancy cap for LSH candidate generation —
    * see [[guardedBandPairs]]. 1024 bounds worst-case within-bucket pair
    * work at ~0.5M per bucket while sitting far above the expected
    * occupancy of every banding scheme here at its design scale (minhash
    * band hashes are near-unique; simhash 4×16 occupancy is n/2¹⁶;
    * hyperplane buckets are sized to `targetBucketSize`).
    */
  val DefaultBucketCap: Int = 1024

  private val guardSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Scale-path decision for the LSH pipelines — the [[graft.queries]]
    * `dim()` pattern applied to dedup: the Bloom-pruned, persist-backed
    * candidate machinery (banded-table cache, map-side dup-bucket prune,
    * candidate-id verify prune) pays off when the corpus is large (sf100:
    * clusters 183.9 → 108.6 s, 13.3 GB spill → 0) but is pure fixed
    * overhead at fixture scale — two 2 MB filter literals riding every
    * tiny stage's task binary, three persist populations per execution,
    * and an AQE-broadcast of pruned fat-array sides that OOM'd an 8 GB
    * heap on the sf0.1 ngram verify. Gate on the SOURCE's file-stat
    * estimate (the same signal `dim()` broadcasts on): above the
    * threshold the scale machinery engages; below it the plans keep the
    * direct small-corpus shapes, which are both faster and broadcast-
    * safe there. Conf `spark.graft.scalePath.minInputBytes` (default
    * 256 MB — sf100's 590 MB documents qualify, sf0.1's ~6 MB do not);
    * tests pin it to 0 to force the scale path on in-memory corpora. The
    * gate is shared beyond LSH: the KN/bigram LM ladders hint their joins
    * through it too, so pinning the key flips every size-gated family.
    */
  private[graft] def scaleLsh(source: DataFrame): Boolean = {
    val threshold = source.sparkSession.conf.get(
      "spark.graft.scalePath.minInputBytes", (256L << 20).toString)
    val t = scala.util.Try(threshold.trim.toLong).getOrElse(256L << 20)
    source.queryExecution.optimizedPlan.stats.sizeInBytes >= BigInt(t)
  }

  /** Within-bucket candidate pairs from a banded table, with a HOT-BUCKET
    * GUARD bounding the per-bucket work.
    *
    * An unguarded LSH band self-join is quadratic in bucket occupancy: a
    * replica-heavy corpus (mirrors, templated boilerplate) concentrates
    * ids into few band keys and the candidate count explodes — measured
    * 11.9× cost for 10× data at the sf100 decade on exactly this join.
    * The guard bounds each bucket:
    *
    *  - occupancy <= `cap`: the normal pairwise self-join — output is
    *    IDENTICAL to the unguarded join;
    *  - occupancy  > `cap`: STAR topology — every member pairs with the
    *    bucket's min-id representative only: (occ-1) pairs instead of
    *    C(occ,2). Downstream verify still scores every emitted pair, and
    *    pair→cluster resolution ([[Components]]) still groups the whole
    *    bucket through the representative, so dedup RESOLUTION keeps its
    *    recall; only pairwise-similarity ENUMERATION inside a hot bucket
    *    is capped (a member similar to another member but not to the
    *    representative can be missed — the standard production tradeoff).
    *
    * Never silent: the star branch carries an `observe` node
    * (`lsh_bucket_guard_<i>`: star_pairs, pairs_dropped = Σ C(occ-1,2),
    * max_occupancy) and [[GraftContext]]'s query-log listener records
    * observed metrics, so a fired guard shows up in the `log()` table.
    *
    * Plan shape: LSH band tables are overwhelmingly SINGLETON buckets —
    * at sf100 the minhash table is 160 M banded rows yielding 350 k
    * candidates — and a singleton emits nothing (id_a < id_b kills the
    * self-pair), so the full-stream WindowExec the first formulation
    * paid (an interpreted per-partition sort of every banded row:
    * measured 139 s of dedup_clusters' 210 s at sf100) bought occupancy
    * facts for rows that could never produce output. The dup-bucket KEY
    * SET now rides a native Bloom filter (the bloomSemi pattern): one
    * codegen'd count-aggregate finds keys with occ ≥ 2, the serialized
    * filter prunes the stream MAP-SIDE — no exchange, no sort — and the
    * occ/rep window runs over the ~0.2% survivors. A false positive
    * admits a singleton row that the self-join drops anyway, and the
    * filter has no false negatives, so the output is row-identical.
    * The filter build is memoised through [[graft.PlanMemo]] like every
    * bloom probe in this repo — repeated executions over file-backed
    * inputs skip it; in-memory inputs (whose plan text cannot pin their
    * data) rebuild every time, and an overwritten file-backed input
    * misses the memo by key (the file listing is part of it).
    * Input columns: keyCols ++ (id [, payload]); output (id_a, id_b
    * [, payload_a, payload_b]), distinct on (id_a, id_b) when `dedupe`
    * (callers whose verify step kills ~all candidates dedupe AFTER
    * filtering instead, so the dedup exchange only shuffles survivors).
    */
  private[graft] def guardedBandPairs(banded0: DataFrame, keyCols: Seq[String],
      cap: Int, payloadCol: Option[String] = None,
      dedupe: Boolean = true, scalePath: Option[Boolean] = None): DataFrame = {
    require(cap >= 2, s"bucket cap must be >= 2, got $cap")
    val keys = keyCols.map(col)
    val keyHash = xxhash64(keys: _*)
    // callers pass the source-table decision ([[scaleLsh]] on the docs /
    // embeddings table); a direct caller without one is judged on the
    // banded plan's own estimate
    val scale = scalePath.getOrElse(scaleLsh(banded0))
    // SCALE PATH ONLY — at fixture scale the persist + filter builds are
    // pure overhead (see [[scaleLsh]]) and the window below runs over
    // the raw banded table directly, which is exactly right for small
    // corpora.
    //
    // The banded table feeds two full passes (the dup-key count below
    // and the Bloom-pruned occupancy/pair stream) — persist it so the
    // band-key computation (32 hash-slices per row for minhash, 56
    // combination keys for blocked simhash) runs once per execution, not
    // once per consumer. Columnar-compressed cache, ~tens of bytes per
    // banded row.
    val banded = if (scale) Caches.persist(banded0) else banded0
    val pruned = if (!scale) banded else {
      // sized for ~1.6 M dup-bucket keys at 10 bits/key — a 2 MB literal,
      // deliberately small: the serialized filter rides EVERY task binary
      // of every stage whose lineage includes the pruned stream (a 16 MB
      // filter measurably inflated downstream consumers' stages, r11). A
      // larger dup set only raises the FP rate, which costs extra
      // singleton rows in the window below, never correctness.
      //
      // Shape of the dup-key count (r12, BASELINE.md dedup_clusters
      // decomposition): band keys are
      // near-UNIQUE (160 M banded rows → ~0.2% dup keys at sf100), so a
      // plain groupBy's map-side partial aggregate builds a multi-million-
      // entry hashmap per task that reduces almost nothing — measured as
      // 13.3 GB of spill and the bulk of the 220 s candidate stage.
      // Repartitioning the RAW 8-byte key hashes first moves the exchange
      // BEFORE the aggregate: the shuffle carries narrow longs (no partial
      // agg, no hashmaps at scan width) and the post-exchange aggregate
      // holds only rows/shuffle-partitions keys per task. Grouping by the
      // HASH (not the key pair) is what the Bloom membership already
      // sees — a collision admits a singleton the self-join drops, exactly
      // like a filter false positive.
      val dupKeys = banded.select(keyHash.as("graft_kh"))
        .repartition(col("graft_kh"))
        .groupBy(col("graft_kh"))
        .agg(count(lit(1)).as("graft_occ"))
        .filter(col("graft_occ") >= 2)
        .select(col("graft_kh"))
      val bloom = Bloom.nativeKeyBloomMemo(
        dupKeys, col("graft_kh"), 1600000L, 1L << 24)
      Bloom.nativePruned(banded, keyHash, bloom)
    }
    val w = Window.partitionBy(keys: _*)
    val repS = payloadCol match {
      case Some(p) => struct(col("id").as("id"), col(p).as("p"))
      case None    => struct(col("id").as("id"))
    }
    val bn = pruned
      .withColumn("occ", count(lit(1)).over(w))
      .withColumn("rep", min(repS).over(w))
    def side(suffix: String) = {
      val base = keys :+ col("id").as(s"id_$suffix")
      val cols = payloadCol match {
        case Some(p) => base :+ col(p).as(s"${p}_$suffix")
        case None    => base
      }
      bn.filter(col("occ") <= cap).select(cols: _*)
    }
    val coldPairs = side("a").join(side("b"), keyCols)
      .filter(col("id_a") < col("id_b"))
      .drop(keyCols: _*)
    // per hot bucket: (occ-1) star rows, each "foregoes" (occ-2)/2 pairs —
    // summing occ-2 over star rows and halving gives C(occ,2)-(occ-1)
    val hot = bn.filter(col("occ") > cap && col("id") =!= col("rep.id"))
      .observe(s"lsh_bucket_guard_${guardSeq.incrementAndGet()}",
        count(lit(1)).as("star_pairs"),
        (sum(col("occ") - lit(2)) / 2).cast("long").as("pairs_dropped"),
        max(col("occ")).as("max_occupancy"))
    val hotPairs = {
      val base = Seq(col("rep.id").as("id_a"), col("id").as("id_b"))
      val cols = payloadCol match {
        case Some(p) =>
          base ++ Seq(col("rep.p").as(s"${p}_a"), col(p).as(s"${p}_b"))
        case None => base
      }
      hot.select(cols: _*)
    }
    val all = coldPairs.unionByName(hotPairs)
    if (dedupe) all.dropDuplicates("id_a", "id_b") else all
  }

  /** Restrict `table` MAP-SIDE to rows whose `keyCol` appears on either
    * side of a candidate pair — the verify-join prune.
    *
    * The LSH verify step joins the candidate pairs back to a CORPUS-SIZED
    * table (minhash signatures: k longs per doc; ngram verify: the docs
    * themselves) while candidates are a sliver of the corpus (sf100:
    * ~0.3 M pairs from millions of docs). A plain shuffle join — or a
    * left_semi against the id set — still shuffle-WRITES the entire big
    * side before AQE can see how small the other side is; measured as
    * the dominant remaining cost of dedup_clusters at sf100 (13.3 GB of
    * spill through two signature exchanges). A native Bloom over the
    * candidate ids (the guardedBandPairs pattern; 2 MB literal riding
    * the task binary) drops non-candidate rows IN THE SCAN STAGE, so
    * each verify join exchanges ~the candidate count instead of the
    * corpus. No false negatives, and a false positive only admits a row
    * the join drops — output identical, so the hash-exact oracle twins
    * (dedup_minhash_oracle) replay unchanged.
    *
    * `cands` must be persisted by the caller: the filter build is an
    * eager job at plan construction, and the persist makes the main
    * query reuse the banding work instead of re-running it.
    */
  private def pruneToCandidateIds(table: DataFrame, keyCol: Column,
      cands: DataFrame): DataFrame = {
    val ids = cands.select(explode(array(col("id_a"), col("id_b"))).as("cid"))
    val bloom = Bloom.nativeKeyBloomMemo(ids, col("cid"), 1600000L, 1L << 24)
    Bloom.nativePruned(table, keyCol, bloom)
  }

  /** Exact duplicates by normalized text: md5 fingerprint → hash-agg.
    * Returns one row per duplicate group (n_dups >= 2) with the kept id.
    * `prefixLen > 0` fingerprints only the first N normalized chars
    * (prefix dedup, the common "same opening" heuristic).
    */
  def exactGroups(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", prefixLen: Int = 0): DataFrame = {
    val normalized = normalize_text(col(textCol))
    val keyed = if (prefixLen > 0) substring(normalized, 1, prefixLen) else normalized
    docs.select(md5(keyed).as("fingerprint"), col(idCol))
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      .filter(col("n_dups") >= 2)
  }

  /** MinHash signature column for a text column (fused kernel — see
    * VectorOps.minHashText; bit-identical to the composed
    * minhash_signature(word_shingles(tokens(text), n), k, seed)). */
  def minHashSig(text: Column, k: Int, shingle: Int, seed: Long): Column =
    minhash_text(text, shingle, k, seed)

  /** True when a signature came from a doc with ≥1 shingle. Zero-shingle
    * docs (empty / < n tokens) yield the all-Long.MaxValue sentinel; left
    * in, every such doc collides with every other in EVERY band (identical
    * signatures), reporting unrelated short docs as est_jaccard=1.0 dups
    * and going quadratic in the short-doc count. A real first minimum
    * equals MaxValue with probability 2^-64 — acceptable to treat as empty.
    */
  private[graft] def hasShingles(sig: Column): Column =
    element_at(sig, 1) =!= lit(Long.MaxValue)

  /** (band, band-hash) pairs of a signature, exploded one row per band —
    * shared by the batch candidate join and the streaming bucket keyer so
    * the banding scheme cannot drift between the two.
    *
    * Measured NON-obvious plan fact (r11, sf100, a full-evaluation
    * aggregate so the generator can't be pruned; this comment is the
    * record of that measurement):
    * this interpreted transform(sequence(...)) HOF runs the 160 M-row
    * banded pass in 23.7 s; the "codegen-friendly" statically-unrolled
    * explode(array(struct(lit(b), hash(slice(...))) ×32)) form takes
    * 83 s — 3.5× SLOWER despite whole-stage codegen, because the
    * unrolled generator materializes all 32 struct rows per input row
    * before exploding. Do not "optimize" this into an unrolled array.
    */
  private[graft] def bandKeys(sig: Column, bands: Int, r: Int): Column =
    explode(transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band"), hash(slice(sig, b * r + 1, lit(r))).as("bh"))))

  /** Near-duplicate pairs via MinHash + banded LSH.
    *
    * k minhashes split into `bands` bands of k/bands rows; docs sharing any
    * band hash become candidates; the signature-estimated Jaccard filters
    * them to `threshold`. Candidate recall follows the usual S-curve
    * 1-(1-s^r)^b.
    */
  def minHashPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 128, bands: Int = 32,
      shingle: Int = 3, threshold: Double = 0.5, seed: Long = 42L,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val r = k / bands

    // Signature pass is the dominant compute (O(shingles*k) per doc); it
    // feeds three consumers (two self-join sides + the verify join), so
    // persist it — ~k*8 bytes/doc, MEMORY_AND_DISK-safe at any scale.
    val sigs = Caches.persist(docs.select(col(idCol).as("id"),
      minHashSig(col(textCol), k, shingle, seed).as("sig"))
      .filter(hasShingles(col("sig"))))

    val scale = scaleLsh(docs)
    // scale path: persisted (consumed by the candidate-id filter build
    // AND the verify join — one banding/self-join pass); small corpora
    // keep the direct single-pass plan
    val candidates0 = bandCandidates(sigs, bands, r, bucketCap, scale)
    val candidates = if (scale) Caches.persist(candidates0) else candidates0

    // fused per-pair match count (sig_eq_count) — bit-identical to the
    // interpreted zip_with/aggregate fold (RegressionSpec); this runs
    // once per candidate pair, the LSH-verify hot loop
    val est = sig_eq_count(col("sig_a"), col("sig_b")).cast("double") / k

    // scale path: verify joins move only candidate signatures, not the
    // corpus's — see [[pruneToCandidateIds]]
    val sigsV = if (scale) pruneToCandidateIds(sigs, col("id"), candidates)
      else sigs
    candidates
      .join(sigsV.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigsV.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), est.as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** MinHash+LSH near-dup pairs with an ENGINE-REPLAYABLE hash family.
    *
    * Same algorithm as [[minHashPairs]] — k permutation minima, banded
    * candidate generation, signature-estimated Jaccard filter — but the
    * j-th permutation hash of a shingle is `md5(j || ':' || shingle)` and
    * the minimum is LEXICOGRAPHIC over the 32-char hex strings. md5 is a
    * bit-identical builtin in any engine (DuckDB, Trino, Postgres…), so
    * the WHOLE pipeline (signatures → bands → candidates → estimate) is
    * an oracle-checkable query, not just its exact-Jaccard twin: the
    * driver's DuckDB replay verifies LSH dedup end to end, hash family
    * included.
    *
    * Scale notes: each shingle is hashed with FOUR salted md5 calls, and
    * each 32-hex digest is split into four independent 8-hex chunks —
    * 16 permutations from 4 md5s instead of 16 (the md5 pass dominates
    * the signature cost; measured ~3× at the 10× fixture). Still ~an
    * order of magnitude costlier than the fused 64-bit kernel, so
    * [[minHashPairs]] stays the 100-TB default; this variant is the
    * verification twin. The shuffle structure is identical: band
    * self-join with exchange reuse, id-only candidate payloads,
    * signatures joined back only for survivors.
    */
  def minHashPairsReplayable(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 16, bands: Int = 8,
      shingle: Int = 3, threshold: Double = 0.3,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    require(k == 16 && bands == 8,
      "the replayable family is fixed at k=16 (4 md5 salts × 4 chunks), bands=8 " +
        "— the published oracle SQL hard-codes this shape")
    val r = k / bands
    // fused one-pass kernel (replay_minhash) — bit-identical to the
    // staged declarative form ([[replayMinhashSigsDeclarative]],
    // RegressionSpec)
    val sigs0 = Par.ensure(docs, col(idCol))
      .select(col(idCol).as("id"),
        replay_minhash(col(textCol), shingle).as("st"))
      .filter(col("st.n_grams") > 0)
      .select(col("id"), col("st.sig").as("sig"))
    val sigs = Caches.persist(sigs0)
    val banded = sigs.select(col("id"),
        explode(transform(sequence(lit(0), lit(bands - 1)), b =>
          struct(b.as("band"),
            concat_ws(",", slice(col("sig"), b * r + 1, lit(r))).as("bkey")))).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    // the hot-bucket guard is part of the REPLAYED contract: the oracle
    // SQL mirrors the same occ/rep window and star fallback with the same
    // cap literal, so a fired guard stays hash-exact (Pipeline.scala,
    // dedup_minhash_oracle)
    val scale = scaleLsh(docs)
    val cands0 = guardedBandPairs(banded, Seq("band", "bkey"), bucketCap,
      scalePath = Some(scale))
    val cands = if (scale) Caches.persist(cands0) else cands0
    // fused per-pair match count (sig_eq_count) — bit-identical to the
    // interpreted zip_with/aggregate fold (RegressionSpec); this runs
    // once per candidate pair, the LSH-verify hot loop
    val est = sig_eq_count(col("sig_a"), col("sig_b")).cast("double") / k
    // scale path: verify joins move only candidate signatures — see
    // [[pruneToCandidateIds]]; transparent to the DuckDB oracle replay
    // (no false negatives, join drops the false positives)
    val sigsV = if (scale) pruneToCandidateIds(sigs, col("id"), cands) else sigs
    cands
      .join(sigsV.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigsV.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), est.as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Declarative twin of the replayable-minhash signature construction —
    * the formulation the DuckDB oracle replays (4 staged salted digest
    * arrays, 16 chunk minima via array_min(transform(substring))). Kept
    * as the bit-identity baseline for replay_minhash
    * (RegressionSpec). */
  private[graft] def replayMinhashSigsDeclarative(docs: DataFrame,
      textCol: String, idCol: String, shingle: Int = 3): DataFrame = {
    val k = 16
    val ss = word_shingles(tokens(col(textCol)), shingle)
    val hsCols = (0 until 4).map(g =>
      transform(col("ss"), s =>
        md5(concat(lit(s"$g:"), s))).as(s"h$g"))
    Par.ensure(docs, col(idCol))
      .select(col(idCol).as("id"), ss.as("ss"))
      .filter(size(col("ss")) > 0)
      .select(col("id") +: hsCols: _*)
      .select(col("id"),
        array((0 until k).map { p =>
          array_min(transform(col(s"h${p / 4}"), h =>
            substring(h, (p % 4) * 8 + 1, 8)))
        }: _*).as("sig"))
  }

  /** LSH band-collision candidate pairs over a signature table
    * (id, sig). Band keys shuffle id-only payloads (~20 bytes/row), never
    * the signature array; occupancy window + self-join sides reuse ONE
    * keyed exchange. (A groupBy+collect_list formulation was benchmarked
    * ~40% slower: 1.6M near-unique groups push ObjectHashAggregate into
    * sort-based fallback.) Hot buckets fall back to star pairs — see
    * [[guardedBandPairs]].
    */
  private def bandCandidates(sigs: DataFrame, bands: Int, r: Int,
      cap: Int = DefaultBucketCap, scale: Boolean = false): DataFrame = {
    val banded = sigs.select(col("id"), bandKeys(col("sig"), bands, r).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    guardedBandPairs(banded, Seq("band", "bh"), cap, scalePath = Some(scale))
  }

  /** Exact n-gram Jaccard for candidate pairs: MinHash-LSH banding
    * generates the candidates (cheap), then the true shingle sets are
    * joined back and intersected — the classic verify step, so the
    * quadratic work only happens on the candidate set. No estimated-Jaccard
    * pre-filter: the exact verify supersedes it, and skipping it drops two
    * signature-array joins AND the recall loss from estimate noise.
    */
  def ngramJaccardPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingle: Int = 3, threshold: Double = 0.5,
      k: Int = 128, bands: Int = 32, seed: Long = 42L,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val sigs0 = docs.select(col(idCol).as("id"),
      minHashSig(col(textCol), k, shingle, seed).as("sig"))
      .filter(hasShingles(col("sig")))
    val sigs = Caches.persist(sigs0)
    val scale = scaleLsh(docs)
    val cands0 = bandCandidates(sigs, bands, k / bands, bucketCap, scale)
    // Candidates feed two consumers (the id prune below + the verify join)
    // — persist so banding/join runs once.
    val cands = Caches.persist(cands0)

    // Exact shingle SETS are the expensive artifact (full arrays, not
    // 8-byte signatures) — build them only for docs that appear in a
    // candidate pair. At corpus scale candidates are a sliver of the data,
    // so this prunes almost all of the set materialization. Sets are the
    // fused 64-bit shingle HASHES, not strings: same Jaccard (collisions
    // are irrelevant at 64 bits), long-array intersection, one kernel
    // pass, and the verify join moves 8 bytes per shingle instead of the
    // shingle text.
    // Scale path: map-side Bloom prune instead of a left_semi — the semi
    // join still shuffle-writes the whole corpus before AQE sees the
    // tiny id set; see [[pruneToCandidateIds]] (FPs build a few extra
    // sets; the verify joins below drop them). Small corpora keep the
    // semi join. Either way the verify joins are pinned shuffle_hash:
    // the sets side is SMALL IN ROWS but FAT PER ROW (a full shingle-
    // hash array per doc), and an AQE broadcast of it hash-builds
    // multi-hundred-MB relations on the driver — measured as an 8 GB-
    // heap OOM on the sf0.1 leg.
    val setSource =
      if (scale) pruneToCandidateIds(docs, col(idCol), cands)
      else docs.join(
        cands.select(explode(array(col("id_a"), col("id_b"))).as(idCol))
          .distinct(),
        Seq(idCol), "left_semi")
    val sets = setSource
      .select(col(idCol).as("sid"),
        shingle_hashes(col(textCol), shingle).as("sset"))
      .hint("shuffle_hash")
    val inter = size(array_intersect(col("set_a"), col("set_b"))).cast("double")
    val union = size(array_union(col("set_a"), col("set_b"))).cast("double")
    cands
      .join(sets.select(col("sid"), col("sset").as("set_a")), col("id_a") === col("sid")).drop("sid")
      .join(sets.select(col("sid"), col("sset").as("set_b")), col("id_b") === col("sid")).drop("sid")
      .select(col("id_a"), col("id_b"),
        when(union > 0, inter / union).otherwise(lit(0.0)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact all-pairs n-gram Jaccard. Quadratic — meant for bounded slices
    * (oracle checks, final verification of a pre-filtered candidate set);
    * [[minHashPairs]]/[[ngramJaccardPairs]] are the at-scale path.
    */
  def exactJaccardPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingle: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val sets = docs.select(col(idCol).as("sid"),
      array_distinct(word_shingles(tokens(col(textCol)), shingle)).as("ss"))
    // repartition the streamed side with an explicit count (AQE never
    // coalesces REPARTITION_BY_NUM): a bounded slice otherwise shrinks to
    // one partition and the O(n²) intersect work runs single-threaded
    val shufflePartitions = docs.sparkSession.sessionState.conf.numShufflePartitions
    val a = sets.select(col("sid").as("id_a"), col("ss").as("set_a"))
      .repartition(shufflePartitions, col("id_a"))
    val b = sets.select(col("sid").as("id_b"), col("ss").as("set_b"))
    val inter = size(array_intersect(col("set_a"), col("set_b"))).cast("double")
    val union = size(array_union(col("set_a"), col("set_b"))).cast("double")
    a.join(b, col("id_a") < col("id_b"))
      .filter(union > 0)
      .select(col("id_a"), col("id_b"), (inter / union).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact all-pairs embedding cosine above a threshold. Quadratic — for
    * bounded slices; [[embeddingPairs]] is the LSH-bucketed scale path.
    */
  def exactCosinePairs(embs: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id", threshold: Double = 0.95): DataFrame = {
    val a = embs.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
      .repartition(embs.sparkSession.sessionState.conf.numShufflePartitions,
        col("id_a")) // see exactJaccardPairs: keep the O(n²) work parallel
    val b = embs.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosine_similarity(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Near-duplicate pairs via 64-bit SimHash: candidates share one of four
    * 16-bit bands; verified by Hamming distance <= maxHamming.
    *
    * SCALE ENVELOPE (unlike the minhash/embedding LSH paths, whose band
    * keys are hash VALUES with unbounded keyspace): the candidate key
    * space here is 4 × 2¹⁶ buckets, so expected bucket occupancy is
    * n/65536 and within-bucket pair work grows quadratically once
    * occupancy is material — fine to ~10⁷ docs per run (occupancy ≤
    * ~150), the per-shard regime this operator targets. Corpus-wide
    * dedup at 10⁸–10⁹+ docs should go through [[minHashPairs]] (the
    * at-scale primary) or [[simHashPairsBlocked]] — the Manku
    * combination-banding scheme with a 2⁴⁰ key space and a guaranteed
    * hamming ≤ 3 recall.
    */
  def simHashPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxHamming: Int = 8,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    val hashed = docs.select(col(idCol).as("id"), simhash64(tokens(col(textCol))).as("sh"))
    val banded = hashed.select(col("id"), col("sh"),
        explode(transform(sequence(lit(0), lit(3)), i =>
          struct(i.as("band"),
            call_function("shiftright", col("sh"), lit(16) * i)
              .bitwiseAND(lit(0xffffL)).as("bh"))))
          .as("bk"))
      .select(col("id"), col("sh"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    // same pre-distinct verify shape as [[simHashPairsBlocked]]: filter
    // on map-side hamming, then dedupe (id_a, id_b, hamming)-narrow rows
    guardedBandPairs(banded, Seq("band", "bh"), bucketCap, Some("sh"),
        dedupe = false, scalePath = Some(scaleLsh(docs)))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(sh_a ^ sh_b)").cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Candidate pairs under Manku combination banding over (id, sh) 64-bit
    * signatures: split the signature into `blocks` equal blocks; a pair
    * with Hamming distance ≤ `maxHamming` has ≥ blocks−maxHamming clean
    * blocks, so it shares at least one (blocks−maxHamming)-block
    * combination key EXACTLY — every such combination is a banding table.
    * Exposed for the guarantee property test; [[simHashPairsBlocked]]
    * verifies candidates by true Hamming distance.
    *
    * The pairwise guarantee holds per bucket up to `cap` occupancy; a
    * hotter bucket degrades to star pairs around its min-id member
    * ([[guardedBandPairs]]) — resolution-level recall via the
    * representative, with the drop count observed/logged.
    */
  private[graft] def blockedCandidates(sigs: DataFrame, maxHamming: Int,
      blocks: Int, cap: Int = DefaultBucketCap,
      dedupe: Boolean = true, scale: Boolean = false): DataFrame = {
    require(64 % blocks == 0, s"blocks must divide 64, got $blocks")
    require(maxHamming >= 1 && maxHamming < blocks,
      s"need 1 <= maxHamming < blocks, got h=$maxHamming b=$blocks")
    val w = 64 / blocks
    val mask = (1L << w) - 1
    def block(i: Int) = // arithmetic shift + mask ≡ logical shift per block
      call_function("shiftright", col("sh"), lit(w * i)).bitwiseAND(lit(mask))
    val combos = (0 until blocks).combinations(blocks - maxHamming).toSeq
    val keys = combos.zipWithIndex.map { case (c, bi) =>
      val key = c.foldLeft(lit(0L)) { (acc, i) =>
        call_function("shiftleft", acc, lit(w)).bitwiseOR(block(i))
      }
      struct(lit(bi).as("band"), key.as("bkey"))
    }
    val banded = sigs.select(col("id"), col("sh"),
        explode(array(keys.toIndexedSeq: _*)).as("bk"))
      .select(col("id"), col("sh"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    guardedBandPairs(banded, Seq("band", "bkey"), cap, Some("sh"), dedupe,
      scalePath = Some(scale))
  }

  /** Near-duplicate pairs via 64-bit SimHash with the GUARANTEED-recall,
    * corpus-scale candidate scheme (Manku, Jain & Das Sarma, "Detecting
    * Near-Duplicates for Web Crawling", WWW 2007): every pair with
    * Hamming distance ≤ `maxHamming` is a candidate BY CONSTRUCTION (see
    * [[blockedCandidates]]), unlike [[simHashPairs]]' fixed 4×16 banding,
    * whose 2¹⁶ key space caps it at per-shard corpora (~10⁷ docs). With
    * the defaults (h=3, 8 blocks of 8 bits) the key space is
    * 2⁴⁰ per table — occupancy stays negligible at 10⁹+ docs — for
    * C(8,5)=56 banding tables; the C(b,b−h) growth is why production
    * simhash systems fix h ≤ 3 (Manku run h=3 over 8 B pages).
    * Signatures are single longs, so banding rows are (id, long, long)
    * and the verify is one `bit_count(xor)`.
    */
  def simHashPairsBlocked(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxHamming: Int = 3,
      blocks: Int = 8, bucketCap: Int = DefaultBucketCap): DataFrame = {
    val sigs = Caches.persist(
      docs.select(col(idCol).as("id"), simhash64(tokens(col(textCol))).as("sh")))
    // hamming is computed and filtered BEFORE the distinct: the verify
    // is a map-side bit_count on the pair's own columns, so the dedupe
    // exchange (the one cross-process shuffle multi-JVM legs price —
    // BASELINE r9: 1.38× at sf10) carries only TRUE near-dup pairs at
    // (id_a, id_b, hamming) width instead of every candidate with both
    // raw signatures. The residual multiplicity is inherent to
    // combination banding: a hamming-0 pair shares all C(b, b−h) keys
    // and must cross once per shared-cold-bucket — collapsing those
    // earlier would need each row to know OTHER buckets' occupancy.
    blockedCandidates(sigs, maxHamming, blocks, bucketCap, dedupe = false,
        scale = scaleLsh(docs))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(sh_a ^ sh_b)").cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Oracle twin of [[simHashPairsBlocked]]: same md5-majority-vote
    * replayable signatures as [[simHashPairsReplayable]], with the
    * combination-banded candidate scheme expressed over the bit STRING
    * (bkey = concatenated block substrings) so DuckDB replays banding,
    * candidates, and Hamming verify exactly.
    */
  def simHashPairsBlockedReplayable(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxHamming: Int = 3,
      blocks: Int = 8): DataFrame = {
    require(64 % blocks == 0 && maxHamming >= 1 && maxHamming < blocks)
    val w = 64 / blocks
    val sigs = replayableSigs(docs, textCol, idCol)
    val combos = (0 until blocks).combinations(blocks - maxHamming).toSeq
    // The (band, bkey) join key is a 40-char substring concatenation —
    // joined AS a string it put ~80-byte rows through a sort-merge
    // self-join at sf100 (two 280 M-row sorts: 98 GB mem / 34 GB disk
    // spill at 32 g). r11 collapsed it to xxhash64(band, bkey); r13
    // collapses it further to a PACKED LONG computed by integer
    // shifts/masks on the h1/h2 32-bit packs: block j of the signature
    // is w contiguous bits of h1 (j < 32/w) or h2, so each combination
    // key is bandId·2^(kw) | block bytes — INJECTIVE in (band, bkey)
    // (not merely collision-unlikely), and the banding pass drops from
    // 53 s to shift-arithmetic per row at sf100 (the string
    // substring+concat+xxhash formulation was the stage's entire cost;
    // OPTIMIZATION_r13.md, 32a828f). Equal string keys ⟺ equal packed
    // longs, so the candidate SET is exactly the oracle's. Hamming is
    // verified map-side on the join output BEFORE the distinct (the r10
    // reshape), so the dedupe exchange carries only true pairs at
    // (id_a, id_b, hamming) width, and the self-join hash-builds per
    // partition (shuffle_hash) instead of sorting both streams.
    val kBlocks = blocks - maxHamming
    val bandBits = 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, combos.length - 1L)).toInt
    val numericKeys = 32 % w == 0 && w <= 32 &&
      kBlocks * w + bandBits <= 63
    val keyCols: Seq[org.apache.spark.sql.Column] =
      if (numericKeys) {
        val perHalf = 32 / w
        def blockBits(j: Int) = shiftright(
          if (j < perHalf) col("h1") else col("h2"),
          (perHalf - 1 - (j % perHalf)) * w).bitwiseAND(lit((1L << w) - 1))
        combos.zipWithIndex.map { case (c, bi) =>
          c.zipWithIndex.foldLeft(
            lit(bi.toLong << (kBlocks * w)): org.apache.spark.sql.Column) {
            case (acc, (j, pos)) =>
              acc.bitwiseOR(shiftleft(blockBits(j), (kBlocks - 1 - pos) * w))
          }
        }
      } else combos.zipWithIndex.map { case (c, bi) =>
        xxhash64(lit(bi),
          concat(c.map(i => substring(col("bits"), i * w + 1, w)).toIndexedSeq: _*))
      }
    val banded0 = sigs.select(col("id"), col("h1"), col("h2"),
        explode(array(keyCols.toIndexedSeq: _*)).as("bh"))
    // SCALE PATH (same [[scaleLsh]] gate as guardedBandPairs): most of
    // the 280 M banded rows at sf100 hold a bh no other row shares —
    // they cannot produce a pair, yet the raw self-join exchanges and
    // hash-builds all of them on BOTH sides. Count dup keys with the
    // r12 repartition-first shape (narrow 8-byte longs on the wire, no
    // scan-width map-side hashmaps), Bloom the recurring ones, and
    // prune both join inputs. Recall-exact: a key with one occurrence
    // cannot emit a pair, and a Bloom FP only admits rows the join
    // drops. The Bloom is sized from the EXACT dup-key count (dupKeys
    // is persisted, counted, then scanned once more for the build):
    // r13's first cut hardcoded 1.6 M expected / 2^24 bits while sf100
    // has 8.2 M dup keys — 2 bits/key saturated the filter to an 81%
    // pass rate, all prune cost and no prune (OPTIMIZATION_r13.md, 9da6f45).
    // 16 bits/key ⇒ FPR ~5·10⁻⁴. Banding is re-derived per pass, but
    // from the PERSISTED signatures — pure shift arithmetic, no md5.
    val banded = if (!scaleLsh(docs)) banded0 else {
      // One banding pass, not two: the explode is the pipeline's single
      // largest stage (~43 s at sf100 even with packed keys,
      // OPTIMIZATION_r14.md — row GENERATION, not key arithmetic), and
      // both the dup-key count and the join sides consume it. Persist the banded
      // table (compressed columnar longs; the dup-key count below
      // materializes it) so the prune pass is a cache scan. The Bloom
      // build coalesces the persisted dup keys to a few partitions —
      // with 121, each partial aggregate allocates and merges its own
      // 16 MB filter (measured 14 s of pure filter-merge; 8.2 M keys
      // need only a handful of partials).
      val bandedP = Caches.persist(banded0)
      val dupKeys = Caches.persist(
        bandedP.select(col("bh"))
          .repartition(col("bh"))
          .groupBy(col("bh")).agg(count(lit(1)).as("graft_occ"))
          .filter(col("graft_occ") >= 2)
          .select(col("bh")))
      val nDup = dupKeys.count()
      val bloom = graft.operators.Bloom.nativeKeyBloomMemo(
        dupKeys.coalesce(8), col("bh"), math.max(1L, nDup),
        math.max(1L << 20, nDup * 16))
      graft.operators.Bloom.nativePruned(bandedP, col("bh"), bloom)
    }
    val left = banded.select(col("bh"), col("id").as("id_a"),
      col("h1").as("a1"), col("h2").as("a2"))
    val right = banded.select(col("bh"), col("id").as("id_b"),
      col("h1").as("b1"), col("h2").as("b2"))
    val hamming =
      expr("bit_count(a1 ^ b1)") + expr("bit_count(a2 ^ b2)")
    left.join(right.hint("shuffle_hash"), Seq("bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming.cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Cross-document duplicated-span statistics (the signal behind exact
    * substring dedup, Lee et al. 2021, arXiv:2107.06499): for each doc,
    * how many of its `n`-token spans also occur in ANOTHER document.
    * Docs with high `dup_frac` are boilerplate/mirror copies that
    * resemblance-based LSH can miss (a short shared span barely moves
    * Jaccard).
    *
    * Scale shape: spans travel as md5 strings, never text. One gram-keyed
    * shuffle finds cross-doc grams (min(doc) != max(doc) — cheaper than
    * countDistinct and enough for "appears elsewhere"); the left-semi join
    * back shares that partitioning (AQE broadcasts the dup-gram set
    * instead when it is small), and the per-doc count partially
    * aggregates map-side. This is the distributed formulation of the
    * paper's suffix-array pass. Output ratios are single int/int
    * divisions — engine-replayable.
    */
  def crossDocSpans(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 10): DataFrame = {
    // fused tokenize→shingle→md5 kernel — bit-identical to
    // transform(word_shingles(tokens(text), n), md5) (RegressionSpec)
    val gh = gram_md5s(col(textCol), n)
    val base0 = Par.ensure(docs, col(idCol)).select(col(idCol).as("id"), gh.as("gh"))
      .filter(size(col("gh")) > 0)
    val base = Caches.persist(base0)
    val ex = base.select(col("id"), explode(col("gh")).as("h"))
    val crossDup = ex.groupBy(col("h"))
      .agg(min(col("id")).as("mn"), max(col("id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("h"))
    val perDoc = ex.join(crossDup, Seq("h"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_dup"))
    base.join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        size(col("gh")).cast("long").as("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        (coalesce(col("n_dup"), lit(0L)).cast("double") /
          size(col("gh")).cast("double")).as("dup_frac"))
  }

  /** Winnowing fingerprint selection + cross-doc overlap (Schleimer et
    * al. 2003, the MOSS algorithm): hash every k-token gram, then in each
    * sliding window of `w` consecutive gram positions select the MINIMUM
    * hash (ties → the RIGHTMOST occurrence, the paper's density
    * optimization), dedupe the selected (hash, pos) pairs across
    * overlapping windows. Guarantees every shared substring of length ≥
    * w+k-1 tokens contributes at least one shared fingerprint while
    * storing only ~2/(w+1) of the grams — the classic robust alternative
    * to fixed-stride span sampling ([[crossDocSpans]] keeps ALL grams).
    *
    * Replayability: hashes are md5 hex strings (lexicographic min is
    * engine-stable); the rightmost-min position comes from the reversed
    * window slice via first-position arithmetic — the IDENTICAL
    * formulation in Spark and SQL. Docs with fewer than w grams winnow
    * over one short window (global min), matching the truncating slice on
    * both engines. All output ratios are single int/int divisions.
    *
    * Scale shape: selection is map-side and O(grams) — the fused
    * [[graft.functions.winnow_fps]] kernel (monotonic-deque window
    * min; result-identical to the declarative O(grams·w) fold below,
    * asserted in RegressionSpec); only the selected ~2/(w+1) fraction of
    * (id, 16-byte hash) pairs ever shuffles for the cross-doc pass (same
    * min!=max shape as crossDocSpans) — winnowing cuts the exchange
    * volume by the same factor it cuts storage.
    */
  def winnowStats(docs: DataFrame, k: Int = 5, w: Int = 4,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    val base = Caches.persist(
      Par.ensure(docs, col(idCol))
        .select(col(idCol).as("id"),
          graft.functions.winnow_fps(col(textCol), k, w).as("st"))
        .select(col("id"), col("st.n_grams").as("n_grams"),
          col("st.fps").as("fps"))
        .filter(col("n_grams") > 0))
    winnowCrossDoc(base, idCol)
  }

  /** The declarative twin of [[winnowStats]] — the reference formulation
    * the DuckDB oracle replays verbatim (slice/array_min/reverse window
    * fold over k-gram md5s). Kept as the bit-identity baseline for the
    * fused kernel (RegressionSpec) and as documentation of the exact
    * selection semantics.
    */
  def winnowStatsDeclarative(docs: DataFrame, k: Int = 5, w: Int = 4,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
    val gh = transform(word_shingles(tokens(col(textCol)), k), g => md5(g))
    // let-bind the hash array; per window j (1-based): slice of w hashes,
    // rightmost min via reverse + first-position
    // fingerprints encode as "md5hex:pos" STRINGS (md5 is fixed 32 hex
    // chars, so the hash recovers via substring) — DuckDB's list_distinct
    // has no struct support, and string dedup is engine-identical
    val fps = element_at(transform(array(gh), hs => {
      val nW = greatest(size(hs) - (w - 1), lit(1))
      array_distinct(transform(sequence(lit(1), nW), j => {
        val win = slice(hs, j, lit(w))
        val mv = array_min(win)
        val pos = j + (size(win) - array_position(reverse(win), mv)).cast("int")
        concat(mv, lit(":"), pos.cast("string"))
      }))
    }), 1)
    val base = Caches.persist(
      Par.ensure(docs, col(idCol)).select(col(idCol).as("id"),
          size(gh).as("n_grams"), fps.as("fps"))
        // filter on the GRAM count: a null text yields a NULL gram array,
        // which word_shingles preserves and the window fold turns into a
        // phantom [null] fingerprint list — size(fps) > 0 would keep it
        .filter(col("n_grams") > 0))
    winnowCrossDoc(base, idCol)
  }

  /** Shared cross-doc overlap pass over a winnowed (id, n_grams, fps)
    * base — the only part of winnowStats that shuffles. */
  private def winnowCrossDoc(base: DataFrame, idCol: String): DataFrame = {
    val ex = base.select(col("id"), explode(col("fps")).as("f"))
      .select(col("id"), substring(col("f"), 1, 32).as("h")).distinct()
    val crossDup = ex.groupBy(col("h"))
      .agg(min(col("id")).as("mn"), max(col("id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("h"))
    val perDoc = ex.join(crossDup, Seq("h"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_shared"))
    base.join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        col("n_grams").cast("long").as("n_grams"),
        size(col("fps")).cast("long").as("n_fp"),
        round(size(col("fps")).cast("double") / col("n_grams"), 6)
          .as("density"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(coalesce(col("n_shared"), lit(0L)).cast("double") /
          size(col("fps")), 6).as("shared_frac"))
  }

  /** C4-style corpus-level segment dedup WITH REWRITE (Raffel et al. 2020,
    * arXiv:1910.10683 §2.2 "we discarded all but one of any three-sentence
    * span occurring more than once"): where [[crossDocSpans]] only measures
    * duplication, this operator removes it — every duplicated segment is
    * dropped from all but its FIRST corpus occurrence (min (doc_id,
    * seg_idx)) and each document is reassembled from its surviving
    * segments. The fixtures have no sentence boundaries, so a "span" is a
    * consecutive non-overlapping `segTokens`-token chunk.
    *
    * Scale shape: duplicate resolution shuffles only (id, seg_idx, 16-byte
    * md5) — segment TEXT never rides the fingerprint exchange. Winners come
    * from a hash-agg `min(packed id·2³²+idx)` (map-side partial min, no
    * window or SortAggregate sort over the corpus — a `min(struct)` buffer
    * can't live in HashAggregateExec); the kept-key set semi-joins back to the
    * exploded segments, and reassembly is one id-keyed agg. Documents
    * reassemble via sort_array over their own ≤⌈n/segTokens⌉ segments —
    * per-doc state, never corpus-ordered.
    *
    * Returns (idCol, n_segs, n_kept, clean_text) for every input document;
    * token-free docs keep n_segs 0 and NULL clean_text.
    */
  def dedupSegments(docs: DataFrame, segTokens: Int = 15,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val segs = Caches.persist(
      Par.ensure(docs, col(idCol))
        .select(col(idCol).as("id"), tokens(col(textCol)).as("tk"))
        .filter(size(col("tk")) > 0)
        .select(col("id"), posexplode(expr(
          s"transform(sequence(0, (size(tk) - 1) div $segTokens)," +
            s" i -> array_join(slice(tk, i * $segTokens + 1, $segTokens), ' '))")))
        .toDF("id", "seg_idx", "seg"))
    val fps = segs.select(col("id"), col("seg_idx"), md5(col("seg")).as("fp"))
    // Lexicographic min (id, seg_idx) as a PACKED decimal min:
    // `min(struct(...))` has a struct aggregation buffer, which
    // HashAggregateExec can't hold — the whole fp stream falls to
    // SortAggregate (a corpus-wide sort per execution, ~70 M rows ×
    // 50 B at sf100). seg_idx is a posexplode Int in [0, 2³¹), so
    // id·2³² + seg_idx is strictly monotone in (id, seg_idx) for EVERY
    // long id including negatives (the 2³² stride dominates the
    // seg_idx range), and decimal(38,0) holds 2⁶³·2³² exactly. floor()
    // unpack is sign-correct (floor toward -∞).
    val stride = lit(4294967296L) // 2³²
    val winners = fps
      .select(col("fp"),
        (col("id").cast("decimal(38,0)") * stride + col("seg_idx")).as("pk"))
      .groupBy(col("fp")).agg(min(col("pk")).as("pk"))
      .withColumn("wid", floor(col("pk") / stride).cast("long"))
      .select(col("wid").as("id"),
        (col("pk") - col("wid").cast("decimal(38,0)") * stride)
          .cast("int").as("seg_idx"))
    val kept = segs.join(winners, Seq("id", "seg_idx"), "left_semi")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
          x => x("seg")), " ").as("clean_text"))
    val counts = segs.groupBy(col("id")).agg(count(lit(1)).as("n_segs"))
    docs.select(col(idCol))
      .join(counts.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .join(kept.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_segs"), lit(0L)).as("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("clean_text"))
  }

  /** SimHash near-dup pairs with an ENGINE-REPLAYABLE hash family (the
    * [[minHashPairsReplayable]] companion): dimension d of a token's
    * 64-bit projection is the top bit of hex char d of
    * `md5(token) || md5('x' || token)` — i.e. bit_d = (hexchar_d >= '8'),
    * a pure string comparison identical in any engine. Signature bit d is
    * the majority vote over tokens (2·ones > n). Candidates share one of
    * 4 16-bit bands; verified by Hamming distance over the bit strings.
    *
    * The 64 per-dimension majority votes are STATICALLY UNROLLED columns
    * (no lambda-position indexing), so the whole signature stays inside
    * whole-stage codegen. [[simHashPairs]]' fused 64-bit kernel remains
    * the at-scale default; this is its oracle twin.
    */
  /** md5-majority-vote replayable signatures shared by the simhash oracle
    * twins: (id, bits 64-char bit string, h1/h2 32-bit packs).
    * PERSISTED (two join sides would otherwise recompute the 64 majority
    * votes); the longs make the per-pair Hamming distance a native
    * bit_count(xor) instead of 128 interpreted substring compares —
    * candidate sets grow quadratically inside near-dup clusters, so the
    * verify step is the hot loop at scale (measured 9s over 4.5M
    * candidates on the 10x fixture the string way, ~0.5s packed).
    */
  private def replayableSigs(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    // fused one-pass kernel (replay_simhash) — bit-identical to the
    // declarative 64-unrolled-column form below (RegressionSpec)
    val sigs0 = Par.ensure(docs, col(idCol))
      .select(col(idCol).as("id"), replay_simhash(col(textCol)).as("st"))
      .filter(col("st.n_tokens") > 0)
      .select(col("id"), col("st.bits").as("bits"),
        col("st.h1").as("h1"), col("st.h2").as("h2"))
    Caches.persist(sigs0)
  }

  /** Test hook: the fused signature path with the default columns. */
  private[graft] def replayableSigsTestHook(docs: DataFrame): DataFrame =
    replayableSigs(docs, "text", "doc_id")

  /** Declarative twin of [[replayableSigs]] — the formulation the DuckDB
    * oracle replays (64 statically-unrolled majority-vote columns over
    * the per-token digest array). Kept as the bit-identity baseline for
    * the fused kernel (RegressionSpec). */
  private[graft] def replayableSigsDeclarative(docs: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val dims = 64
    val hh = transform(tokens(col(textCol)), t => concat(md5(t), md5(concat(lit("x"), t))))
    val sigSrc = Par.ensure(docs, col(idCol)).select(col(idCol).as("id"), hh.as("hh"))
      .filter(size(col("hh")) > 0)
      .withColumn("n", size(col("hh")))
    val bitCols = (1 to dims).map { d =>
      when(lit(2) * size(filter(col("hh"), h => substring(h, d, 1) >= lit("8"))) > col("n"),
        lit("1")).otherwise(lit("0"))
    }
    sigSrc.select(col("id"), concat(bitCols: _*).as("bits"))
      .select(col("id"), col("bits"),
        conv(substring(col("bits"), 1, 32), 2, 10).cast("long").as("h1"),
        conv(substring(col("bits"), 33, 32), 2, 10).cast("long").as("h2"))
  }

  def simHashPairsReplayable(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxHamming: Int = 3): DataFrame = {
    val bands = 4
    val r = 64 / bands // 16-bit bands
    val sigs = replayableSigs(docs, textCol, idCol)
    val banded = sigs.select(col("id"), col("h1"), col("h2"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"), substring(col("bits"), b * r + 1, r).as("bkey"))): _*)).as("bk"))
      .select(col("id"), col("h1"), col("h2"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    val left = banded.select(col("band"), col("bkey"), col("id").as("id_a"),
      col("h1").as("a1"), col("h2").as("a2"))
    val right = banded.select(col("band"), col("bkey"), col("id").as("id_b"),
      col("h1").as("b1"), col("h2").as("b2"))
    val hamming =
      expr("bit_count(a1 ^ b1)") + expr("bit_count(a2 ^ b2)")
    left.join(right, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("a1"), col("a2"), col("b1"), col("b2"))
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), hamming.cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** md5-Rademacher hyperplane for [[embeddingPairsReplayable]]: component
    * d of plane p is +1 when the first hex char of `md5(p + "," + d)` is
    * >= '8', else -1 — the same rule the DuckDB oracle evaluates with its
    * own md5, so the plane family (not just the verify step) is checked.
    */
  private[graft] def rademacherPlane(p: Int, dim: Int): Array[Double] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { d =>
      val hex = digest.digest(s"$p,$d".getBytes("UTF-8"))
      digest.reset()
      // top bit of the first hex char == top bit of the first byte
      if ((hex(0) & 0x80) != 0) 1.0 else -1.0
    }
  }

  /** Near-duplicate embedding pairs with ENGINE-REPLAYABLE hyperplanes:
    * 8 deterministic md5-derived ±1 planes ([[rademacherPlane]]) bucket
    * the corpus by an 8-bit sign key (pure map-side projection — the
    * planes are literals); candidates within a bucket verify by exact
    * cosine. The random-plane [[embeddingPairs]] (two probe sets, derived
    * plane count) stays the scale/recall path; this variant exists so the
    * bucketing itself — not only the cosine verify — is oracle-checked.
    * Sign stability: |dot| ⋙ double-summation drift (asserted on the
    * fixture at ~4e-6 vs ~1e-15), so both engines compute identical keys.
    */
  def embeddingPairsReplayable(embs: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id", dim: Int = 64, planes: Int = 8,
      threshold: Double = 0.3): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val bitCols = (0 until planes).map { p =>
      val w = typedlit(rademacherPlane(p, dim))
      val dot = aggregate(zip_with(v, w, (a, b) => a * b), lit(0.0), (acc, x) => acc + x)
      when(dot >= 0, lit("1")).otherwise(lit("0"))
    }
    val keyed = embs.select(col(idCol).as("id"), col(vecCol).as("v"),
      concat(bitCols: _*).as("bkey"))
    val leftK = keyed.select(col("bkey"), col("id").as("id_a"), col("v").as("v_a"))
    val rightK = keyed.select(col("bkey"), col("id").as("id_b"), col("v").as("v_b"))
    leftK.join(rightK, Seq("bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosine_similarity(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Hyperplane count for [[embeddingPairs]] sized so the EXPECTED bucket
    * population is ≤ `targetBucketSize`: planes = ⌈log₂(n/target)⌉,
    * clamped to [4, 30]. The within-bucket join is O(Σ bucketᵢ²), so a
    * FIXED plane count degenerates toward all-pairs as the corpus grows
    * (2⁸ buckets over 10⁹ vectors ⇒ ~4M rows/bucket); deriving planes
    * from n keeps per-bucket work constant at any scale.
    */
  def derivePlanes(n: Long, targetBucketSize: Long): Int = {
    require(targetBucketSize > 0, s"targetBucketSize must be > 0: $targetBucketSize")
    val p = math.ceil(
      math.log(math.max(n, 1L).toDouble / targetBucketSize) / math.log(2.0)).toInt
    math.min(30, math.max(4, p))
  }

  /** Near-duplicate embedding pairs: random-hyperplane LSH buckets (sign
    * bits of `planes` pseudo-random projections) generate candidates;
    * exact cosine verifies. Two independent plane sets improve recall.
    *
    * `planes <= 0` (the default) derives the count from the corpus size
    * via [[derivePlanes]] so bucket occupancy — and therefore the
    * quadratic within-bucket verify — stays bounded at any scale. Pass an
    * explicit `planes` only for recall tuning at a known corpus size.
    */
  def embeddingPairs(embs: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id", dim: Int = 64, planes: Int = 0,
      threshold: Double = 0.95, seed: Long = 42L,
      targetBucketSize: Long = 1024L, bucketCap: Int = 0): DataFrame = {
    val nPlanes =
      if (planes > 0) planes else derivePlanes(embs.count(), targetBucketSize)
    // derived planes bound occupancy in EXPECTATION; the guard cap covers
    // the replica-heavy tail (identical vectors land in one bucket no
    // matter how many planes). Default: 8× the target bucket size.
    val cap = if (bucketCap > 0) bucketCap
      else math.max(DefaultBucketCap.toLong, 8L * targetBucketSize)
        .min(Int.MaxValue).toInt
    val tagged = hyperplaneBuckets(embs, vecCol, idCol, dim, nPlanes, seed)
    // verify BEFORE de-duplicating across probe sets (dedupe = false): the
    // threshold filter runs inside the join's codegen stage and kills ~all
    // candidates, so the dropDuplicates exchange shuffles only
    // (id, id, cos) survivors — dedup-first would shuffle full vector
    // payloads for every candidate pair (2×dim×4 bytes each), the
    // dominant cost at corpus scale.
    guardedBandPairs(tagged, Seq("probe", "bkt"), cap, Some("v"),
        dedupe = false, scalePath = Some(scaleLsh(embs)))
      .select(col("id_a"), col("id_b"),
        cosine_similarity(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= threshold)
      .dropDuplicates("id_a", "id_b")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup whose
    * quadratic pair search is BOUNDED by clustering first — near-dup
    * candidates exist only within a cluster, so per-cluster verify work is
    * (n/k)² instead of n², and the cluster id is the one shuffle key.
    *
    * Keep rule: a document is dropped when some smaller-id document in the
    * SAME cluster is ≥ `threshold` cosine-similar ("keep lowest id" — the
    * paper keeps the pair member farthest from the centroid; any
    * deterministic representative works, and min-id is non-recursive, so
    * an independent engine replays it with a plain anti-join).
    *
    * Scale shape: the coarse assignment is [[Similarity.assign]]'s
    * map-side argmax over broadcast centroids (zero shuffle for the
    * corpus, fused ArgmaxCosine kernel); the within-cluster self-join is
    * the only exchange, keyed by centroid_id, and the cosine filter runs
    * inside its codegen stage so only surviving (id, id) pairs reach the
    * distinct.
    *
    * The centroid count must GROW with the corpus: a fixed nlist makes
    * mean cluster size n/k linear in n and the within-cluster pair work
    * (n/k)²·k quadratic — measured as 52× cost for 10× data at the sf10
    * scale point. Pass `nlist = 0` (the scale-correct default) to derive
    * k = max(8, n/targetClusterSize), which pins mean cluster size and
    * makes pair work linear: (target)²·(n/target) = n·target. The cap at
    * 65536 keeps the broadcast centroid matrix model-state sized; beyond
    * that (≫4 B vectors), layer a second IVF level before this operator.
    *
    * Returns (idCol, centroid_id, kept) for every input vector.
    */
  def semDedup(embs: DataFrame, nlist: Int = 0, threshold: Double = 0.9,
      targetClusterSize: Int = 64,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    // one count() serves both the derived k and the centroid stride —
    // a second count on an uncached derived pipeline would re-run it
    val n = embs.count()
    val k =
      if (nlist > 0) nlist
      else math.min(65536L, math.max(8L, n / targetClusterSize)).toInt
    val cents = Similarity.centroids(embs, k, vecCol, idCol, knownCount = n)
    val assigned = Similarity.assign(embs, cents, vecCol, idCol, "c", top = 1)
    val a = assigned.select(col("centroid_id"), col("c_id").as("id_a"),
      col("c_vec").as("v_a"))
    val b = assigned.select(col("centroid_id"), col("c_id").as("id_b"),
      col("c_vec").as("v_b"))
    val dropped = a.join(b, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosine_similarity(col("v_a"), col("v_b")) >= threshold)
      .select(col("id_b").as(idCol)).distinct()
      .withColumn("dropped", lit(true))
    assigned.select(col("c_id").as(idCol), col("centroid_id"))
      .join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("centroid_id"),
        coalesce(!col("dropped"), lit(true)).as("kept"))
  }

  /** (id, v, probe, bkt) rows — each vector tagged with its sign-bit
    * bucket under two independent hyperplane sets. Exposed for occupancy
    * tests; [[embeddingPairs]] self-joins this on (probe, bkt).
    */
  private[graft] def hyperplaneBuckets(embs: DataFrame, vecCol: String,
      idCol: String, dim: Int, nPlanes: Int, seed: Long): DataFrame = {
    def bucket(seedOffset: Long): Column = {
      val rng = new scala.util.Random(seed + seedOffset)
      val bits = (0 until nPlanes).map { p =>
        val plane = Array.fill(dim)((rng.nextDouble() * 2 - 1).toFloat)
        (cosine_similarity(col(vecCol), typedlit(plane)) > 0).cast("long") * (1L << p)
      }
      bits.reduce(_ + _)
    }
    embs.select(col(idCol).as("id"), col(vecCol).as("v"),
      explode(array(
        struct(lit(0).as("probe"), bucket(0).as("bkt")),
        struct(lit(1).as("probe"), bucket(1000).as("bkt")))).as("pb"))
      .select(col("id"), col("v"), col("pb.probe").as("probe"), col("pb.bkt").as("bkt"))
  }
}
