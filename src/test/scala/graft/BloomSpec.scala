package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import graft.functions.{tokens, word_shingles}
import graft.operators.{Bloom, TextAnalysis}

/** [[Bloom]] — the deterministic sketch-join path for oversized ban
  * lists. The contract under test: zero false negatives (every inserted
  * key probes true), a false-positive rate near the analytic bound at
  * the chosen (m,k), bitmap shape invariants that the DuckDB oracle's
  * replay relies on (word count, 32-bit-positive words), and the
  * decontamination superset law n_bloom_hits ≥ exact n_contaminated.
  */
class BloomSpec extends SparkSuite {
  import spark.implicits._

  private val M = 4096
  private val K = 4

  private def keys(n: Int, tag: String) =
    (1 to n).map(i => s"$tag-key-$i").toDF("gram")

  test("bitmap shape: m/32 words, every word a positive 32-bit value") {
    val bits = Bloom.buildBits(keys(200, "in"), col("gram"), M, K)
      .collect()(0).getSeq[Long](0)
    assert(bits.length === M / 32)
    assert(bits.forall(w => w >= 0L && w < (1L << 32)), "words must stay in [0, 2^32)")
    assert(bits.exists(_ != 0L), "200 keys must set at least one bit")
  }

  test("no false negatives: every inserted key probes true") {
    val in = keys(500, "in")
    val bits = Bloom.buildBits(in, col("gram"), M, K)
    val missed = in.crossJoin(broadcast(bits))
      .filter(!Bloom.mightContain(col("bits"), col("gram"), M, K))
      .count()
    assert(missed === 0L)
  }

  test("false-positive rate tracks the analytic bound") {
    val in = keys(400, "in")
    val bits = Bloom.buildBits(in, col("gram"), M, K)
    val probes = 5000
    val fp = keys(probes, "out").crossJoin(broadcast(bits))
      .filter(Bloom.mightContain(col("bits"), col("gram"), M, K))
      .count()
    // analytic fpp at n=400, m=4096, k=4: (1 - e^(-kn/m))^k ≈ 0.0079
    val expected = math.pow(1 - math.exp(-K * 400.0 / M), K)
    assert(fp < probes * expected * 3 + 10,
      s"fp=$fp way above analytic ${probes * expected}")
  }

  test("derivedParams matches the standard formulae") {
    val (m, k) = Bloom.derivedParams(1000000L, 0.01)
    assert(m % 32 === 0)
    // -n ln p / ln^2 2 ≈ 9.59 bits/key at 1% fpp
    assert(m > 9000000 && m < 10000000, s"m=$m")
    assert(k === 7, s"k=$k") // round(m/n * ln 2)
  }

  test("prefilterJoin equals the plain join and prunes before it") {
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("okey"), col("l_quantity"))
    val sel = Tables.load(spark, sfDir, "orders")
      .filter(col("o_totalprice") > 400000)
      .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
    val viaBloom = Bloom.prefilterJoin(li, sel, "okey", m = 4096, k = 4)
    val plain = li.join(sel, Seq("okey"))
    assert(viaBloom.exceptAll(plain).isEmpty && plain.exceptAll(viaBloom).isEmpty,
      "bloom prefilter changed the join result")
    // the prune must actually discard non-matching fact rows pre-join
    val bits = Bloom.buildBits(sel.select(col("okey").cast("string").as("okey")),
      col("okey"), 4096, 4)
    val kept = li.crossJoin(broadcast(bits))
      .filter(Bloom.mightContain(col("bits"), col("okey").cast("string"), 4096, 4))
      .count()
    assert(kept < li.count() / 2, s"prefilter kept $kept of ${li.count()} rows")
    assert(kept >= plain.count(), "prefilter may never drop a matching row")
    // outer joins would silently lose their preserved rows — refuse them
    intercept[IllegalArgumentException] {
      Bloom.prefilterJoin(li, sel, "okey", m = 4096, k = 4, joinType = "left")
    }
  }

  test("bloom decontamination is a superset of the exact ngram pass") {
    val docs = Tables.load(spark, sfDir, "documents")
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val bloom = Bloom.ngramDecontaminate(docs, bench, n = 3, m = M, k = K)
    val exact = TextAnalysis.ngramDecontaminate(docs, bench, n = 3)
    val joined = bloom.join(exact, Seq("doc_id")).cache()
    try {
      val undercount = joined
        .filter(col("n_bloom_hits") < col("n_contaminated_grams")).count()
      assert(undercount === 0L, "bloom may overcount (fp) but never undercount")
      // benchmark docs are contaminated with themselves — all must flag
      val benchMissed = joined
        .filter(col("doc_id") % 97 === 0 && !col("flagged")).count()
      assert(benchMissed === 0L)
    } finally joined.unpersist()
  }

  test("per-row bloom probe equals the explode-groupBy-join form") {
    val docs = Tables.load(spark, sfDir, "documents").select(col("doc_id"), col("text"))
      .unionByName(Seq((-1L, null: String), (-2L, "two words")).toDF("doc_id", "text"))
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val perRow = Bloom.ngramDecontaminate(docs, bench, n = 3, m = M, k = K)
    // the former shape: one row per (doc, distinct gram) probed through
    // the broadcast bitmap, counted per doc and left-joined back
    def grams(df: org.apache.spark.sql.DataFrame) =
      explode(array_distinct(word_shingles(tokens(df("text")), 3))).as("gram")
    val bits = Bloom.buildBits(bench.select(grams(bench)).distinct(), col("gram"), M, K)
    val hits = docs.select(col("doc_id"), grams(docs))
      .crossJoin(broadcast(bits))
      .filter(Bloom.mightContain(col("bits"), col("gram"), M, K))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    val joined = docs.select(col("doc_id")).join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_bloom_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("flagged"))
    assert(perRow.schema == joined.schema)
    val got = perRow.orderBy("doc_id").collect()
    assert(got.sameElements(joined.orderBy("doc_id").collect()))
    assert(got.count(_.getBoolean(2)) >= 10, "benchmark docs must flag")
    // a null text and a doc shorter than n tokens have no grams
    assert(got.take(2).toSeq == Seq(Row(-2L, 0L, false), Row(-1L, 0L, false)))
    // bit_or is idempotent: repeated keys build the same bitmap
    val dup = keys(300, "in").unionAll(keys(100, "in"))
    assert(Bloom.buildBits(dup, col("gram"), M, K).collect().sameElements(
      Bloom.buildBits(dup.distinct(), col("gram"), M, K).collect()))
  }

  test("nativeKeyBloom/nativePruned: no false negatives, real pruning, exact join") {
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val sel = Tables.load(spark, sfDir, "orders")
      .filter(col("o_totalprice") > 400000)
      .select(col("o_orderkey"))
    val n = sel.count()
    val bf = Bloom.nativeKeyBloom(sel, col("o_orderkey"), n, n * 10)
    assert(bf != null && bf.nonEmpty)
    val pruned = Bloom.nativePruned(li, col("l_orderkey"), bf)
    // sound: the pruned join equals the plain join
    val viaBloom = pruned.join(sel, col("l_orderkey") === col("o_orderkey"))
    val plain = li.join(sel, col("l_orderkey") === col("o_orderkey"))
    assert(viaBloom.exceptAll(plain).isEmpty && plain.exceptAll(viaBloom).isEmpty,
      "native bloom prune changed the join result")
    // effective: at 10 bits/key the pass-through is matches + ~1% noise
    val kept = pruned.count()
    assert(kept >= plain.count(), "prune may never drop a matching row")
    assert(kept < li.count() / 2, s"prune kept $kept of ${li.count()} rows")
  }

  test("nativeKeyBloom over an empty key set prunes everything (empty-join parity)") {
    val li = Tables.load(spark, sfDir, "lineitem").select(col("l_orderkey"))
    val none = Tables.load(spark, sfDir, "orders")
      .filter(col("o_totalprice") < -1).select(col("o_orderkey"))
    val bf = Bloom.nativeKeyBloom(none, col("o_orderkey"), 1, 64)
    assert(Bloom.nativePruned(li, col("l_orderkey"), bf).count() === 0L,
      "an empty build side admits no fact rows — the inner join it guards is empty")
  }

  test("nativeKeyBloom sizes past Spark's runtime caps without writing the session's") {
    val caps = Seq("spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
    val before = caps.map(spark.conf.getOption)
    val keys = Tables.load(spark, sfDir, "orders").select(col("o_orderkey"))
    val bits = 1L << 27 // twice Spark's 8 MB default cap
    val bf = Bloom.nativeKeyBloom(keys, col("o_orderkey"), 10000000L, bits)
    assert(caps.map(spark.conf.getOption) == before, "the build wrote the session's caps")
    val filter = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bf))
    assert(filter.bitSize() >= bits, s"filter capped to ${filter.bitSize()} bits")
    assert(keys.collect().forall(r => filter.mightContainLong(r.getLong(0))),
      "a built key probes false")
  }
}
