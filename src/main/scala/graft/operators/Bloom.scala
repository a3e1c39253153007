package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{tokens, word_shingles}

/** Deterministic Bloom-filter membership — the scale path for ban-list /
  * decontamination joins whose ban side is too large to broadcast exactly.
  *
  * An exact broadcast of 10⁹ seen-URL or banned-gram strings is tens of GB;
  * the Bloom bitmap for the same set at 1% fpp is ~1.2 GB, and at the fpp
  * a decontamination pass tolerates (flagging 0.1% extra docs) far less.
  * The reference exposes no sketch joins; this is a superset in the same
  * family as the HLL workflow (SURVEY.md §2 supersets).
  *
  * Everything here is deliberately DETERMINISTIC and built from Spark
  * built-in functions only (md5 → two 60-bit halves → double hashing,
  * Kirsch–Mitzenmacher), so the whole pipeline — including which false
  * positives fire — is replayable bit-for-bit by the DuckDB oracle: the
  * `dedup_bloom_decontaminate` query is hash-exact-checked, not a
  * rows-only twin.
  *
  * Scale shape:
  *  - build: keys → k positions each (map-side), partial `bit_or` per
  *    32-bit word collapses the shuffle to ≤ m/32 rows regardless of key
  *    count; the dense bitmap materializes as ONE row holding an
  *    array<long> of m/32 words (m=2²⁷ → 16 MB — broadcast-joined model
  *    state, the k-means-centroid pattern).
  *  - probe: corpus side never shuffles — broadcast the one-row bitmap;
  *    each row probes its own keys in one codegen'd kernel call
  *    (`bloom_contains` for a key, `bloom_count` for a doc's gram array),
  *    so decontamination counts per row, with no explode, no shuffle by
  *    doc id and no join back.
  *
  * Words are 32 bits stored in BIGINT so every shifted value stays
  * positive and two's-complement-free — DuckDB `<<`/`&`/`bit_or` then
  * agree with Spark on every word value.
  */
object Bloom {

  /** Sizing per the standard Bloom formulae: m = -n·ln(p)/ln(2)², rounded
    * up to a multiple of 32; k = round(m/n·ln 2), clamped to [1,16].
    */
  def derivedParams(n: Long, fpp: Double): (Int, Int) = {
    require(n > 0 && fpp > 0 && fpp < 1, s"need n>0, 0<fpp<1; got n=$n fpp=$fpp")
    val mRaw = math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2)))
    val m = (((mRaw.toLong + 31) / 32) * 32).min(Int.MaxValue.toLong / 2).toInt
    val k = math.max(1, math.min(16, math.round(m.toDouble / n * math.log(2)).toInt))
    (m, k)
  }

  /** The k bit positions of `key`: h1,h2 = the two 60-bit halves of
    * md5(key) reduced mod m, position i = (h1 + i·h2) mod m. Reducing
    * BEFORE the multiply keeps every intermediate < m·k ≪ 2⁶³ (h1 + i·h2
    * on raw 60-bit halves would overflow signed 64 at i ≥ 8).
    *
    * Fused kernel (one digest per key); [[positionsDeclarative]] is the
    * formulation the DuckDB oracles replay — bit-identity asserted in
    * RegressionSpec.
    */
  def positions(key: Column, m: Int, k: Int): Column =
    graft.functions.bloom_positions(key, m, k)

  private[graft] def positionsDeclarative(key: Column, m: Int, k: Int): Column = {
    val h = md5(key)
    val h1 = pmod(conv(substring(h, 1, 15), 16, 10).cast("long"), lit(m.toLong))
    val h2 = pmod(conv(substring(h, 16, 15), 16, 10).cast("long"), lit(m.toLong))
    transform(sequence(lit(0L), lit((k - 1).toLong)),
      i => pmod(h1 + i * h2, lit(m.toLong)))
  }

  private def wordOf(p: Column): Column = floor(p / lit(32)).cast("long")
  private def bitOf(p: Column): Column =
    call_function("shiftleft", lit(1L), pmod(p, lit(32L)).cast("int"))

  /** Build the bitmap over `keys(keyCol)`: ONE row, column `bits` =
    * array<long> of m/32 32-bit words ordered by word index. The explode
    * is map-side only — partial `bit_or` aggregation collapses each
    * partition's positions to ≤ m/32 words before the single exchange.
    */
  def buildBits(keys: DataFrame, keyCol: Column, m: Int, k: Int): DataFrame = {
    require(m % 32 == 0 && m > 0, s"m must be a positive multiple of 32; got $m")
    val words = m / 32
    val set = keys
      .select(explode(positions(keyCol, m, k)).as("p"))
      .select(wordOf(col("p")).as("w"), bitOf(col("p")).as("b"))
      .groupBy(col("w")).agg(expr("bit_or(b)").as("b"))
    keys.sparkSession.range(words).select(col("id").as("w"))
      .join(set, Seq("w"), "left")
      .select(col("w"), coalesce(col("b"), lit(0L)).as("b"))
      .agg(collect_list(struct(col("w"), col("b"))).as("wb"))
      .select(transform(array_sort(col("wb")), s => s.getField("b")).as("bits"))
  }

  /** Membership probe against a `bits` column (the array from
    * [[buildBits]], normally attached via one broadcast crossJoin).
    * No false negatives; false positives are the deterministic ones the
    * double-hash family produces at the chosen m,k.
    */
  def mightContain(bits: Column, key: Column, m: Int, k: Int): Column =
    graft.functions.bloom_contains(bits, key, m, k)

  private[graft] def mightContainDeclarative(bits: Column, key: Column,
      m: Int, k: Int): Column =
    forall(positionsDeclarative(key, m, k), p =>
      element_at(bits, wordOf(p).cast("int") + 1)
        .bitwiseAND(bitOf(p)) =!= lit(0L))

  /** Bloom-prefiltered equi-join: build the bitmap over the SMALLER
    * side's keys, discard left rows that cannot match BEFORE the
    * exchange, then run the exact join. Semantics-preserving (no false
    * negatives, and the exact join eliminates the false positives), so
    * this is purely a shuffle-volume optimization: at 100 TB, a fact
    * table joining a 1%-selective dimension shuffles ~1% of its rows
    * instead of all of them — the runtime-filter pattern, but explicit,
    * deterministic, and available on any join the optimizer can't see
    * through. The broadcast is the m-bit bitmap, viable even when the
    * dimension itself is too wide or too tall to broadcast-hash-join.
    */
  def prefilterJoin(left: DataFrame, right: DataFrame, key: String,
      m: Int, k: Int, joinType: String = "inner"): DataFrame = {
    // the prune discards left rows with no right match, which is only
    // sound for join types that drop them anyway — an outer/anti join
    // through the prefilter would silently lose its preserved rows
    val ok = Set("inner", "leftsemi", "left_semi", "semi", "cross")
    require(ok.contains(joinType.toLowerCase.replace("_", "")) ||
        ok.contains(joinType.toLowerCase),
      s"prefilterJoin preserves semantics only for inner/semi joins; got $joinType")
    // hash the STRING form on both sides (the key may be numeric)
    // no distinct(): bit_or is idempotent, a repeated key sets the same bits
    val bits = buildBits(right.select(col(key).cast("string").as(key)), col(key), m, k)
    val pruned = left.crossJoin(broadcast(bits))
      .filter(mightContain(col("bits"), col(key).cast("string"), m, k))
      .drop("bits")
    pruned.join(right, Seq(key), joinType)
  }

  /** N-gram benchmark decontamination through the Bloom filter — the
    * 100 TB form of [[TextAnalysis.ngramDecontaminate]]: instead of
    * broadcasting the benchmark gram SET, broadcast its m-bit bitmap.
    * Returns (idCol, n_bloom_hits, flagged); `n_bloom_hits` counts the
    * doc's distinct grams the filter claims are in the benchmark (≥ the
    * true contaminated-gram count, never less — no false negatives).
    */
  def ngramDecontaminate(docs: DataFrame, benchmark: DataFrame, n: Int,
      m: Int, k: Int, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    def grams(df: DataFrame) = array_distinct(word_shingles(tokens(df(textCol)), n))
    val bits = buildBits(benchmark.select(explode(grams(benchmark)).as("gram")),
      col("gram"), m, k)
    // one probe per doc over its distinct grams: a null text or a doc
    // shorter than n tokens has no grams and counts 0
    docs.crossJoin(broadcast(bits))
      .select(col(idCol), graft.functions.bloom_count(col("bits"), grams(docs), m, k)
        .as("n_bloom_hits"))
      .select(col(idCol), col("n_bloom_hits"), (col("n_bloom_hits") > 0).as("flagged"))
  }

  // --- native Tungsten key filter -----------------------------------------

  /** Build Spark's own Tungsten Bloom filter (`BloomFilterAggregate`,
    * XxHash64 — the engine the optimizer's InjectRuntimeFilter uses) over
    * `keyCol` and return its serialized bytes: driver-held model state in
    * the k-means-centroid pattern, a few MB for tens of millions of keys.
    *
    * This is the HOT-PATH twin of [[prefilterJoin]]: the md5 family above
    * exists to be bit-replayable by the DuckDB oracle; when the prune is a
    * pure shuffle-volume optimization inside an exact join, replayability
    * of the intermediate is irrelevant and the codegen'd xxhash probe is
    * ~10× cheaper per row. Returns null when `keys` is empty — a join
    * against an empty build side returns nothing, and [[nativePruned]]
    * preserves exactly that.
    */
  def nativeKeyBloom(keys: DataFrame, keyCol: Column,
      expectedItems: Long, numBits: Long): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.Shims
    val items = math.max(1L, expectedItems)
    val bits = math.max(64L, numBits)
    // BloomFilterAggregate silently Math.min-caps both arguments against
    // the runtime.bloomFilter session confs (defaults: 4M items, 2^26
    // bits = 8 MB) — at sf100 key sets that would shrink the requested
    // 10 bits/key to ~4.5 and the real FPR far past the documented ~1%.
    // The build runs in a clone of the session whose caps are the
    // requested size: the caller's session, its concurrent queries and
    // Spark's own injected runtime filters keep their caps.
    val capped = Shims.cloneSession(keys.sparkSession, Seq(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" -> items.toString,
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> bits.toString))
    val agg = new BloomFilterAggregate(
      Shims.expression(keyCol.cast("long")), Literal(items), Literal(bits))
    Shims.ofRows(capped, keys.queryExecution.logical)
      .select(Shims.column(agg.toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** [[nativeKeyBloom]] memoised per [[graft.PlanMemo]] key — the
    * [[graft.queries.Relational]] bloomSemi contract: the key-scan +
    * filter-build jobs run eagerly at first plan construction per
    * session and are amortized out of repeated executions; an empty key
    * set memoises the empty-array sentinel ([[nativePruned]] folds it to
    * false). Entries are filter-bytes-sized; cleared wholesale past 64
    * (leak guard) and at session teardown ([[Dedup.releaseAllCaches]]).
    * Staleness needs no clear: the PlanMemo key pins each leaf's file
    * listing, so changed data changes the key and misses. */
  private val bloomMemo = new java.util.concurrent.ConcurrentHashMap[
    (Int, String), Array[Byte]]()

  /** Drop every memoised filter — wired into [[Dedup.releaseAllCaches]]
    * (session teardown). Not part of the between-queries release path:
    * clearing there re-paid two filter-build banding passes per bench
    * sample (measured +34% on sf100 dedup_clusters) and protects nothing
    * the data-pinned memo key doesn't already. */
  private[graft] def clearMemo(): Unit = bloomMemo.clear()

  def nativeKeyBloomMemo(keys: DataFrame, keyCol: Column,
      expectedItems: Long, numBits: Long): Array[Byte] = {
    def build(): Array[Byte] = {
      val b = nativeKeyBloom(keys, keyCol, expectedItems, numBits)
      if (b == null) Array.emptyByteArray else b
    }
    // PlanMemo refuses a key when the plan's text + file identity cannot
    // pin its DATA (in-memory corpora, overwritten files): round 11
    // memoised those under a data-blind key and a second same-schema
    // corpus silently reused the first corpus's filter — whole dup
    // buckets pruned map-side, near-dup pairs lost. Un-memoisable plans
    // build fresh every time; only file-pinned plans amortize.
    graft.PlanMemo.keyOf(keys) match {
      case None => build()
      case Some(memoKey) =>
        if (bloomMemo.size > 64) bloomMemo.clear()
        bloomMemo.computeIfAbsent(memoKey, _ => build())
    }
  }

  /** Drop `fact` rows whose `factKey` cannot be in the serialized filter
    * (no false negatives — sound below any inner/semi join on that key).
    * The bytes ride the plan as a Literal, exactly how the optimizer's
    * injected runtime filters ship after subquery execution: one
    * stage-level task-binary broadcast, never per-row state.
    */
  def nativePruned(fact: DataFrame, factKey: Column,
      bloom: Array[Byte]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graft.Shims
    import org.apache.spark.sql.types.BinaryType
    // null (empty build side) and the empty-array memo sentinel both mean
    // "no key can match": the inner join this guards is empty, so prune
    // everything with a foldable false rather than a per-row null probe.
    if (bloom == null || bloom.isEmpty) fact.filter(lit(false))
    else fact.filter(Shims.column(new BloomFilterMightContain(
      Literal(bloom, BinaryType), Shims.expression(factKey.cast("long")))))
  }
}
