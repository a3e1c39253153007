package graft

import org.apache.spark.sql.functions._
import graft.functions._
import graft.operators.{AsOfJoin, Dedup}

/** Regressions for the round-1 advisor findings (ADVICE.md). */
class RegressionSpec extends SparkSuite {
  import spark.implicits._

  test("word_shingles yields empty array for docs shorter than n tokens") {
    // sequence(0, size-n) is DESCENDING when size<n and slice(_,0,_) throws
    // — the guard must return [] for empty/1/2-token docs instead.
    val df = Seq((1L, ""), (2L, "one"), (3L, "one two"), (4L, "one two three"))
      .toDF("id", "text")
    val got = df.select($"id", word_shingles(tokens($"text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L).isEmpty && got(2L).isEmpty && got(3L).isEmpty)
    assert(got(4L) == Seq("one two three"))
  }

  test("minHashPairs survives a corpus with sub-n-token documents") {
    val docs = Seq(
      (1L, "a b"), (2L, ""), (3L, "tiny"),
      (4L, "the quick brown fox jumps over the lazy dog again"),
      (5L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    // must not throw; the near pair must still be found
    val pairs = Dedup.minHashPairs(docs, threshold = 0.5).collect()
    Dedup.releaseCaches()
    assert(pairs.exists(r => r.getLong(0) == 4L && r.getLong(1) == 5L),
      s"near pair not found: ${pairs.mkString(";")}")
    // zero-shingle docs (1,2,3) share the sentinel signature; left in, they
    // collide in EVERY band at est_jaccard exactly 1.0 despite true
    // Jaccard 0 — they must be excluded, not reported as duplicates
    assert(pairs.length == 1,
      s"spurious pairs among zero-shingle docs: ${pairs.mkString(";")}")
  }

  test("ngramJaccardPairs reports no pairs among zero-shingle documents") {
    val docs = Seq(
      (1L, ""), (2L, "x"), (3L, "y z"),
      (4L, "the quick brown fox jumps over the lazy dog again"),
      (5L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.5).collect()
    Dedup.releaseCaches()
    assert(pairs.length == 1 && pairs.head.getLong(0) == 4L &&
      pairs.head.getLong(1) == 5L,
      s"expected only (4,5): ${pairs.mkString(";")}")
  }

  test("word_shingles of NULL tokens stays NULL (not [])") {
    val df = Seq((1L, Some("a b c d")), (2L, None))
      .toDF("id", "text")
    val got = df.select($"id",
      word_shingles(tokens($"text"), 3).as("sh"),
      minhash_text($"text", 3, 16, 7L).as("fused"),
      minhash_signature(word_shingles(tokens($"text"), 3), 16, 7L).as("composed"))
    val r2 = got.filter($"id" === 2L).collect().head
    assert(r2.isNullAt(1), "word_shingles(NULL) must be NULL")
    // NULL input: fused and composed paths must AGREE (both NULL)
    assert(r2.isNullAt(2) && r2.isNullAt(3),
      "minhash of NULL text must be NULL on both fused and composed paths")
  }

  test("as-of join attaches NULL payload from the matched row, not a stale value") {
    // right row at t=150 has a legitimately NULL score; a left row at
    // t=200 must see NULL (most recent match), not 9.0 from t=90.
    val left = Seq((1L, 200L, "p")).toDF("k", "t", "name")
    val right = Seq((1L, 90L, Some(9.0)), (1L, 150L, None))
      .toDF("k", "t", "score")
    val row = AsOfJoin.backward(left, right, "k", "t", "t").collect().head
    assert(row.getAs[Long]("asof_time") == 150L,
      s"matched wrong right row: ${row}")
    assert(row.isNullAt(row.fieldIndex("asof_score")),
      s"stale payload carried instead of NULL: ${row}")
  }

  test("SQL minhash_signature honors k and seed arguments") {
    registerSql(spark)
    Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "text").createOrReplaceTempView("mh_docs")
    val k64 = spark.sql(
      "SELECT minhash_signature(split(text, ' '), 64, 7) AS s FROM mh_docs")
      .collect().head.getSeq[Long](0)
    assert(k64.size == 64, s"k ignored: got ${k64.size} hashes")
    val k64s2 = spark.sql(
      "SELECT minhash_signature(split(text, ' '), 64, 8) AS s FROM mh_docs")
      .collect().head.getSeq[Long](0)
    assert(k64 != k64s2, "seed ignored: same signature for different seeds")
    intercept[Exception] {
      spark.sql("SELECT minhash_signature(split(text, ' '), 64, 7, 9) AS s FROM mh_docs")
        .collect()
    }
  }

  test("fused minhash_text is bit-identical to composed shingle+minhash") {
    val docs = Tables.load(spark, sfDir, "documents").limit(200)
      .select($"doc_id", $"text")
      // exercise short docs, weird whitespace, unicode
      .union(Seq((900001L, ""), (900002L, "one two"), (900003L, "  tabs\tand\nnewlines  x "),
        (900004L, "Ünïcödé ÇASE Mixed tokens here")).toDF("doc_id", "text"))
    val both = docs.select($"doc_id",
      minhash_text($"text", 3, 64, 7L).as("fused"),
      minhash_signature(word_shingles(tokens($"text"), 3), 64, 7L).as("composed"))
    val bad = both.filter(not($"fused" === $"composed")).count()
    assert(bad == 0, s"$bad docs with differing signatures")
  }

  test("ngram_counts kernel equals the transform(sequence) + groupBy twin") {
    val docs = Tables.load(spark, sfDir, "documents").limit(200)
      .select($"doc_id", $"text")
      // edges: null, empty, 1/2/3-token docs (below/at the n boundary),
      // repeated n-grams (the count path), unicode
      .union(Seq((900001L, null.asInstanceOf[String]), (900002L, ""),
        (900003L, "one"), (900004L, "one two"), (900005L, "one two three"),
        (900006L, "a b a b a b c"),
        (900007L, "Ünïcödé ÇASE Ünïcödé ÇASE mixed")).toDF("doc_id", "text"))
      .select($"doc_id", tokens(coalesce($"text", lit(""))).as("tk"))
    // n=1 covers the unigram kernel feeding NaiveBayes + the perplexity
    // family since r13 (ADVICE r13: it only had indirect oracle coverage)
    for (n <- Seq(1, 2, 3)) {
      val kernelCol =
        if (n == 1) unigram_counts($"tk")
        else if (n == 2) bigram_counts($"tk") else trigram_counts($"tk")
      val kernel = docs.select($"doc_id", explode(kernelCol).as("g"))
        .select($"doc_id", to_json($"g").as("row"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val fields =
        if (n == 1) Seq("token")
        else if (n == 2) Seq("prev", "cur") else Seq("u", "v", "w")
      val lambdaStruct = fields.zipWithIndex
        .map { case (f, j) => s"tk[i${if (j == 0) "-1" else s"+${j - 1}"}] AS $f" }
        .mkString(", ")
      // the twin needs the >= n guard the operators apply (sequence(1, 0)
      // DESCENDS and would index past the array); the kernel returns []
      // below n tokens, which explode drops on its own
      val twin = docs.filter(size($"tk") >= n)
        .select($"doc_id", explode(expr(
          s"transform(sequence(1, size(tk) - ${n - 1}), i -> struct($lambdaStruct))"))
          .as("g"))
        .groupBy($"doc_id", $"g").agg(count(lit(1)).as("k"))
        .select($"doc_id",
          to_json(struct((fields.map(f => col(s"g.$f").as(f)) :+ $"k"): _*)).as("row"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(kernel == twin,
        s"n=$n mismatch: kernel-only=${(kernel -- twin).take(3)}, " +
          s"twin-only=${(twin -- kernel).take(3)}")
    }
  }

  test("fused winnowStats is identical to the declarative window fold") {
    // fixture docs (real near-dup structure) + adversarial edges: null
    // text, empty, below-k tokens (single truncated window), exactly
    // k and k+w-1 tokens (window-count boundaries), repeated tokens
    // (equal-hash ties -> rightmost-occurrence selection must agree)
    val docs = Tables.load(spark, sfDir, "documents").limit(300)
      .select($"doc_id", $"text")
      .union(Seq(
        (920001L, Some("")), (920002L, None), (920003L, Some("one two three")),
        (920004L, Some("a b c d e")), // exactly k=5 tokens: one gram
        (920005L, Some("a b c d e f g h")), // m=4=w grams: one full window
        (920006L, Some("x x x x x x x x x x x x")), // all-equal gram hashes
        (920007L, Some("p q r p q r p q r p q r p q r")))
        .toDF("doc_id", "text"))
    val fused = Dedup.winnowStats(docs)
    val decl = Dedup.winnowStatsDeclarative(docs)
    Dedup.releaseCaches()
    val onlyF = fused.exceptAll(decl).count()
    val onlyD = decl.exceptAll(fused).count()
    assert(onlyF == 0 && onlyD == 0,
      s"winnow fused/declarative diverge: $onlyF fused-only, $onlyD decl-only rows")
  }

  test("fused gram_md5s is bit-identical to composed shingle+md5") {
    val docs = Tables.load(spark, sfDir, "documents").limit(300)
      .select($"doc_id", $"text")
      .union(Seq((940001L, Some("")), (940002L, None),
        (940003L, Some("below gram size")), (940004L, Some("Ünïcödé ÇASE tokens \t mixed whitespace here ok fine")))
        .toDF("doc_id", "text"))
    val both = docs.select($"doc_id",
      gram_md5s($"text", 10).as("fused"),
      transform(word_shingles(tokens($"text"), 10), g => md5(g)).as("composed"))
    val bad = both.filter(not($"fused" <=> $"composed")).count()
    assert(bad == 0, s"$bad docs with differing gram digests")
  }

  test("fused replay_simhash is bit-identical to the 64-column majority form") {
    val docs = Tables.load(spark, sfDir, "documents").limit(300)
      .select($"doc_id", $"text")
      .union(Seq((950001L, Some("one")), (950002L, Some("tie tie vote vote")),
        (950003L, Some("Ünïcödé text with  spacing")))
        .toDF("doc_id", "text"))
    val fused = Dedup.replayableSigsTestHook(docs)
    val decl = Dedup.replayableSigsDeclarative(docs, "text", "doc_id")
    Dedup.releaseCaches()
    val onlyF = fused.exceptAll(decl).count()
    val onlyD = decl.exceptAll(fused).count()
    assert(onlyF == 0 && onlyD == 0,
      s"simhash fused/declarative diverge: $onlyF/$onlyD rows")
  }

  test("fused replay_minhash is bit-identical to the staged chunk-min form") {
    val docs = Tables.load(spark, sfDir, "documents").limit(300)
      .select($"doc_id", $"text")
      .union(Seq((960001L, Some("a b")), (960002L, Some("exactly three tokens")),
        (960003L, Some("the quick brown fox jumps over the lazy dog")))
        .toDF("doc_id", "text"))
    val fused = docs
      .select($"doc_id".as("id"), replay_minhash($"text", 3).as("st"))
      .filter($"st.n_grams" > 0)
      .select($"id", $"st.sig".as("sig"))
    val decl = Dedup.replayMinhashSigsDeclarative(docs, "text", "doc_id")
    val onlyF = fused.exceptAll(decl).count()
    val onlyD = decl.exceptAll(fused).count()
    assert(onlyF == 0 && onlyD == 0,
      s"minhash fused/declarative diverge: $onlyF/$onlyD rows")
  }

  test("gram_buckets and lut_sum are bit-identical to their declarative forms") {
    val docs = Tables.load(spark, sfDir, "documents").limit(200)
      .select($"doc_id", $"text")
      .union(Seq((970001L, Some("")), (970002L, None), (970003L, Some("one")))
        .toDF("doc_id", "text"))
    def bkt(gr: org.apache.spark.sql.Column) =
      conv(substring(md5(gr), 1, 2), 16, 10).cast("int")
    val bad = docs.select(
        gram_buckets($"text", 2).as("fused"),
        transform(word_shingles(tokens($"text"), 2), g => bkt(g)).as("composed"))
      .filter(not($"fused" <=> $"composed")).count()
    assert(bad == 0, s"$bad docs with differing buckets")
    val lut = Array.tabulate(256)(b => math.log(b + 2.0) - 1.7)
    val lbad = docs.select(gram_buckets($"text", 2).as("bk"))
      .filter(size($"bk") > 0)
      .select(lut_sum($"bk", lut).as("fused"),
        aggregate(transform($"bk", b => element_at(typedlit(lut), b + 1)),
          lit(0.0), (acc, x) => acc + x).as("composed"))
      .filter($"fused" =!= $"composed").count()
    assert(lbad == 0, s"$lbad docs where lut_sum differs from the fold")
  }

  test("sig_eq_count equals the zip_with/aggregate fold for both families") {
    val docs = Tables.load(spark, sfDir, "documents").limit(120)
      .select($"doc_id", $"text")
    // long-hash family: pair each doc's signature with a rotated sibling
    val longs = docs.select(
      minhash_text($"text", 3, 64, 7L).as("a"),
      minhash_text(concat($"text", lit(" extra suffix")), 3, 64, 7L).as("b"))
      .filter($"a".isNotNull && $"b".isNotNull)
    val lbad = longs.select(
      sig_eq_count($"a", $"b").as("fused"),
      aggregate(zip_with($"a", $"b", (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v).as("composed"))
      .filter($"fused" =!= $"composed").count()
    assert(lbad == 0, s"$lbad long-family mismatches")
    // md5-chunk (string) family
    val strs = docs
      .select(replay_minhash($"text", 3).as("sa"),
        replay_minhash(concat($"text", lit(" more")), 3).as("sb"))
      .filter($"sa.n_grams" > 0 && $"sb.n_grams" > 0)
      .select($"sa.sig".as("a"), $"sb.sig".as("b"))
    val sbad = strs.select(
      sig_eq_count($"a", $"b").as("fused"),
      aggregate(zip_with($"a", $"b", (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v).as("composed"))
      .filter($"fused" =!= $"composed").count()
    assert(sbad == 0, s"$sbad string-family mismatches")
  }

  test("fused gopherRepetition is identical to the declarative sort+fold") {
    // fixture docs + edges: null, empty (one empty "line"), trailing
    // newline (trailing empty line kept), duplicate lines, heavy gram
    // repetition, below-gram-size token counts
    val docs = Tables.load(spark, sfDir, "documents").limit(300)
      .select($"doc_id", $"text")
      .union(Seq(
        (930001L, Some("")), (930002L, None),
        (930003L, Some("same line\nsame line\nother\n")),
        (930004L, Some("spam spam spam spam spam spam spam spam")),
        (930005L, Some("one two")), (930006L, Some("a b c d e f a b c d e f")))
        .toDF("doc_id", "text"))
    val fused = operators.TextAnalysis.gopherRepetition(docs)
    val decl = operators.TextAnalysis.gopherRepetitionDeclarative(docs)
    val onlyF = fused.exceptAll(decl).count()
    val onlyD = decl.exceptAll(fused).count()
    assert(onlyF == 0 && onlyD == 0,
      s"rep fused/declarative diverge: $onlyF fused-only, $onlyD decl-only rows")
    // hand check: 930003 has 4 lines (trailing empty), one duplicated pair
    val r = fused.filter($"doc_id" === 930003L).collect().head
    assert(r.getDouble(1) == 0.25, s"dup_line_frac: ${r.getDouble(1)}")
  }

  test("winnow_fps kernel selects rightmost minimum and dedupes windows") {
    // hand-checkable: token run "c a a b" with k=1 grams (md5 of single
    // tokens), w=2 windows: [c,a]->a@2, [a,a]->a@3 (rightmost of the
    // tie), [a,b]->a@3 (dup, dedeup) => fps = {md5(a):2, md5(a):3}
    val got = Seq(Tuple1("c a a b")).toDF("text")
      .select(winnow_fps($"text", k = 1, w = 2).as("st"))
      .select($"st.n_grams", $"st.fps").collect().head
    val md5a = java.security.MessageDigest.getInstance("MD5")
      .digest("a".getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    assert(got.getInt(0) == 4)
    assert(got.getSeq[String](1) == Seq(s"$md5a:2", s"$md5a:3"),
      s"got ${got.getSeq[String](1)}")
  }

  test("dedup paths silently exclude NULL-text documents") {
    // minhash_text(NULL) is NULL; the sentinel filter's NULL comparison is
    // three-valued-false, so NULL-text docs drop out of banding entirely
    // instead of crashing or colliding
    val docs = Seq((1L, Some("the quick brown fox jumps over the lazy dog")),
      (2L, None), (3L, Some("the quick brown fox jumps over the lazy dog")))
      .toDF("doc_id", "text")
    val pairs = Dedup.minHashPairs(docs, threshold = 0.5).collect()
    Dedup.releaseCaches()
    assert(pairs.length == 1 && pairs.head.getLong(0) == 1L &&
      pairs.head.getLong(1) == 3L, s"got: ${pairs.mkString(";")}")
  }

  test("fused normalize_text is byte-identical to the regex formulation") {
    val docs = Tables.load(spark, sfDir, "documents").limit(300)
      .select($"doc_id", $"text")
      .union(Seq(
        (910001L, ""), (910002L, "   "), (910003L, "\t\n mixed \r\n WS here  "),
        (910004L, "Ünïcödé ÇASE\t\ttabs"), (910005L, "already clean"),
        // \v (0x0B) is NOT whitespace under the RE2/DuckDB contract —
        // the fused kernel must keep it glued to its neighbors
        (910006L, "verticaltab stays  put"))
        .toDF("doc_id", "text"))
    val both = docs.select($"doc_id",
      normalize_text($"text").as("fused"),
      trim(regexp_replace(lower($"text"), "[ \t\n\f\r]+", " ")).as("composed"))
    val bad = both.filter(not($"fused" <=> $"composed")).count()
    assert(bad == 0, s"$bad docs where fused differs from regex form")
  }

  test("fused lang_id is result-identical to the declarative argmax form") {
    val docs = Tables.load(spark, sfDir, "documents").limit(300)
      .select($"doc_id", $"text")
      .union(Seq(
        (920001L, ""), (920002L, "   "),
        (920003L, "der die und ist mit"),              // de
        (920004L, "le la les et est pour"),            // fr
        (920005L, "的 人 在 有 我 他 这 中 大 来"),      // zh via CJK override
        (920006L, "zzz qqq xxx www"),                  // no stopword hits
        (920007L, "la la la"),                         // es/fr/it tie → it
        (920008L, "mixed 的 text with one cjk char"))
        .toDF("doc_id", "text"))
    val both = docs.select($"doc_id",
      graft.functions.lang_id($"text").as("fused"),
      graft.operators.TextAnalysis.langIdDeclarative($"text").as("composed"))
    val bad = both.filter(not($"fused" <=> $"composed")).count()
    assert(bad == 0, s"$bad docs where fused lang_id differs from declarative form")
  }

  test("fused char_entropy is bit-identical to the declarative fold") {
    val docs = Tables.load(spark, sfDir, "documents").limit(300)
      .select($"doc_id", $"text")
      .union(Seq(
        (930001L, "aaaa"),                             // single run → 0.0
        (930002L, "ab"),                               // two singleton runs
        (930003L, "的 人 在 有 我 他"),                  // CJK code points
        (930004L, "mixed ascii 的 and cjk"))
        .toDF("doc_id", "text"))
      .filter(length($"text") > 0)
    val both = docs.select($"doc_id",
      graft.functions.char_entropy($"text").as("fused"),
      graft.operators.TextAnalysis.charEntropyDeclarative($"text").as("composed"))
    val bad = both.filter(not($"fused" <=> $"composed")).count()
    assert(bad == 0, s"$bad docs where fused char_entropy differs bit-for-bit")
  }

  test("SQL surface exposes the one-pass text kernels") {
    Seq((1L, "the cat sat. it was flat!"))
      .toDF("id", "text").createOrReplaceTempView("kern_docs")
    val row = spark.sql(
      """SELECT lang_id(text) AS l, char_entropy(text) AS e,
        |  quality_stats(text).quality AS q,
        |  gopher_stats(text).stop_hits AS g,
        |  read_counts(text).n_sents AS s
        |FROM kern_docs""".stripMargin).collect().head
    assert(row.getString(0) == "en", s"lang_id via SQL: $row")
    assert(row.getDouble(1) > 0.0 && row.getDouble(2) > 0.0, s"$row")
    assert(row.getInt(3) >= 1 && row.getLong(4) == 2L, s"$row")
    // the md5-replay kernel family is SQL-callable too
    val r2 = spark.sql(
      """SELECT size(gram_md5s(text, 3)) AS ng,
        |  gram_buckets(text, 2)[0] AS b0,
        |  rep_stats(text).dup_line_frac AS dl,
        |  winnow_fps(text, 2, 2).n_grams AS wn,
        |  replay_simhash(text).n_tokens AS nt,
        |  replay_minhash(text, 2).n_grams AS mg,
        |  sig_eq_count(array(1L, 2L), array(1L, 3L)) AS eq
        |FROM kern_docs""".stripMargin).collect().head
    assert(r2.getInt(0) == 4 && r2.getInt(1) >= 0 && r2.getInt(1) <= 255, s"$r2")
    assert(r2.getDouble(2) == 0.0 && r2.getInt(3) == 5, s"$r2")
    assert(r2.getInt(4) == 6 && r2.getInt(5) == 5 && r2.getInt(6) == 1, s"$r2")
    // the sketch double-hash family is SQL-callable too
    val r3 = spark.sql(
      """SELECT size(bloom_positions(text, 4096, 5)) AS np,
        |  bloom_contains(array_repeat(-1L, 128), text, 4096, 5) AS hit,
        |  bloom_contains(array_repeat(0L, 128), text, 4096, 5) AS miss,
        |  cms_estimate(array(array_repeat(7L, 64), array_repeat(9L, 64)), text, 64, 2) AS est,
        |  morton_interleave(array(5L, 3L), 3) AS z
        |FROM kern_docs""".stripMargin).collect().head
    assert(r3.getInt(0) == 5 && r3.getBoolean(1) && !r3.getBoolean(2), s"$r3")
    assert(r3.getLong(3) == 7L && r3.getLong(4) == 27L, s"$r3")
  }

  test("fused quality_stats is bit-identical to the declarative battery") {
    // fixture docs + adversarial edges: null text, empty text, whitespace
    // only, unicode incl. Turkish İ (whose lowering ADDS a code point),
    // punctuation-heavy, stopword-only, and CJK
    val docs = Tables.load(spark, sfDir, "documents").limit(300)
      .select($"doc_id", $"text")
      .union(Seq(
        (940001L, null.asInstanceOf[String]),
        (940002L, ""),
        (940003L, " \t\n "),
        (940004L, "İstanbul İİ deniz"),
        (940005L, "!!! ??? ,,, ;;; ### $$$"),
        (940006L, "the a and of to in is that it for"),
        (940007L, "的人在有我他 mixed 的"),
        (940008L, "touché naïve café"))
        .toDF("doc_id", "text"))
    val fields = Seq("n_tokens", "mean_tok_len", "punct_ratio",
      "alpha_ratio", "stopword_ratio", "quality")
    val fused = operators.TextAnalysis.qualityColumns($"text")
    val composed = operators.TextAnalysis.qualityColumnsDeclarative($"text")
    val both = docs.select(
      $"doc_id" +:
        (fused.zip(fields).map { case (c, f) => c.as(s"f_$f") } ++
          composed.zip(fields).map { case (c, f) => c.as(s"c_$f") }): _*)
    fields.foreach { f =>
      val bad = both.filter(not(col(s"f_$f") <=> col(s"c_$f")))
      assert(bad.count() == 0,
        s"$f differs: ${bad.select("doc_id", s"f_$f", s"c_$f").head(3).mkString(", ")}")
    }
  }

  test("fused gopher_stats is bit-identical to the declarative battery") {
    // fixture docs + line-structure and boundary edges: bullets (ascii +
    // '•'), indented bullets, trailing-space ellipsis lines, '....' runs
    // (non-overlapping '...' count), '#' spam, null/empty/ws-only text,
    // trailing newline (split keeps the empty segment)
    val docs = Tables.load(spark, sfDir, "documents").limit(300)
      .select($"doc_id", $"text")
      .union(Seq(
        (950001L, null.asInstanceOf[String]),
        (950002L, ""),
        (950003L, " \t "),
        (950004L, "- item one\n  * item two\n• bullet three\nplain"),
        (950005L, "to be continued...   \nnext line....\nend"),
        (950006L, "#tag #tag #tag the of and that"),
        (950007L, "line with trailing newline\n"),
        (950008L, "the be to of and that have with all eight stops"),
        (950009L, "naïve café 的人在有 mixed…"))
        .toDF("doc_id", "text"))
    val fields = Seq("n_words", "mean_word_len", "hash_ratio",
      "ellipsis_ratio", "alpha_word_frac", "stop_hits",
      "bullet_line_frac", "ellipsis_line_frac", "gopher_keep")
    val fused = operators.TextAnalysis.gopherQualityColumns($"text")
    val composed = operators.TextAnalysis.gopherQualityColumnsDeclarative($"text")
    val both = docs.select(
      $"doc_id" +:
        (fused.zip(fields).map { case (c, f) => c.as(s"f_$f") } ++
          composed.zip(fields).map { case (c, f) => c.as(s"c_$f") }): _*)
    fields.foreach { f =>
      val bad = both.filter(not(col(s"f_$f") <=> col(s"c_$f")))
      assert(bad.count() == 0,
        s"$f differs: ${bad.select("doc_id", s"f_$f", s"c_$f").head(3).mkString(", ")}")
    }
  }

  test("fused read_counts battery is bit-identical to the declarative form") {
    val docs = Tables.load(spark, sfDir, "documents").limit(300)
      .select($"doc_id", $"text")
      .union(Seq(
        (960001L, null.asInstanceOf[String]),
        (960002L, ""),
        (960003L, "no sentence marks here"),
        (960004L, "one. two! three? runs!?. collapse"),
        (960005L, "rhythm gym fly by"), // zero-vowel-ish words floor at 1
        (960006L, "Queueing AEIOU yyy naïve"),
        (960007L, "的人在有 mixed vowels aeiou"))
        .toDF("doc_id", "text"))
    val fields = Seq("n_sents", "n_words", "n_syllables", "flesch_ease", "fk_grade")
    val fused = operators.TextAnalysis.readabilityColumns($"text")
    val composed = operators.TextAnalysis.readabilityColumnsDeclarative($"text")
    val both = docs.select(
      $"doc_id" +:
        (fused.zip(fields).map { case (c, f) => c.as(s"f_$f") } ++
          composed.zip(fields).map { case (c, f) => c.as(s"c_$f") }): _*)
    fields.foreach { f =>
      val bad = both.filter(not(col(s"f_$f") <=> col(s"c_$f")))
      assert(bad.count() == 0,
        s"$f differs: ${bad.select("doc_id", s"f_$f", s"c_$f").head(3).mkString(", ")}")
    }
  }

  test("shingle_hashes jaccard equals string-set jaccard") {
    val docs = Tables.load(spark, sfDir, "documents").limit(200)
      .select($"doc_id", $"text")
    val strSets = docs.select($"doc_id",
      array_distinct(word_shingles(tokens($"text"), 3)).as("ss"))
    val hashSets = docs.select($"doc_id", shingle_hashes($"text", 3).as("hs"))
    val joined = strSets.as("a").join(strSets.as("b"),
        $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
        size(array_intersect($"a.ss", $"b.ss")).as("i_str"),
        size(array_union($"a.ss", $"b.ss")).as("u_str"))
    val hashed = hashSets.as("a").join(hashSets.as("b"),
        $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
        size(array_intersect($"a.hs", $"b.hs")).as("i_hash"),
        size(array_union($"a.hs", $"b.hs")).as("u_hash"))
    val bad = joined.join(hashed, Seq("id_a", "id_b"))
      .filter($"i_str" =!= $"i_hash" || $"u_str" =!= $"u_hash").count()
    assert(bad == 0, s"$bad pairs where hash-space sets diverge from string sets")
  }

  test("fused pq_encode is bit-identical to the declarative argmin form") {
    import graft.operators.Similarity
    val embs = Tables.load(spark, sfDir, "embeddings")
    val books = Similarity.pqCodebooks(embs, m = 8, ksub = 16)
    val fused = Similarity.pqEncode(embs, books)
    val decl = Similarity.pqEncodeDeclarative(embs, books)
    // compare as int sequences (byte vs cast-tinyint element types)
    val joined = fused.as("f").join(decl.as("d"), "vec_id")
      .select($"vec_id",
        $"f.codes".cast("array<int>").as("fc"),
        $"d.codes".cast("array<int>").as("dc"))
    val bad = joined.filter(not($"fc" <=> $"dc")).count()
    assert(bad == 0, s"$bad vectors where fused codes differ from declarative")
    // synthetic edge rows: zero vector, ties (equidistant codewords ->
    // smallest j), negative components
    val d = books.length * books(0)(0).length
    val edge = Seq(
      (900001L, Array.fill(d)(0.0f)),
      (900002L, Array.fill(d)(1.0f)),
      (900003L, Array.tabulate(d)(i => if (i % 2 == 0) -1.5f else 2.5f)))
      .toDF("vec_id", "embedding")
    val fe = Similarity.pqEncode(edge, books)
      .select($"vec_id", $"codes".cast("array<int>").as("fc"))
    val de = Similarity.pqEncodeDeclarative(edge, books)
      .select($"vec_id", $"codes".cast("array<int>").as("dc"))
    val badEdge = fe.join(de, "vec_id").filter(not($"fc" <=> $"dc")).count()
    assert(badEdge == 0, "edge vectors diverge between fused and declarative")
  }

  test("fused argmax_cosine assignment is identical to the declarative argmax") {
    import graft.operators.Similarity
    val embs = Tables.load(spark, sfDir, "embeddings")
    val cents = Similarity.centroids(embs, 16)
    val fused = Similarity.assign(embs, cents, "embedding", "vec_id", "c", top = 1)
      .select($"c_id", $"centroid_id".as("f_cid"))
    val decl = Similarity.assignDeclarative(embs, cents, "embedding", "vec_id", "c")
      .select($"c_id", $"centroid_id".as("d_cid"))
    val bad = fused.join(decl, "c_id").filter($"f_cid" =!= $"d_cid").count()
    assert(bad == 0, s"$bad vectors assigned to different centroids")
    // edge vectors: zero vector (all cosines 0 -> tie -> smallest cid),
    // exact centroid copy, negated centroid
    val dim = embs.select($"embedding").head().getSeq[Float](0).length
    val c0 = cents.orderBy($"centroid_id").head().getSeq[Float](1).toArray
    val edge = Seq(
      (900001L, Array.fill(dim)(0.0f)),
      (900002L, c0),
      (900003L, c0.map(x => -x))).toDF("vec_id", "embedding")
    val fe = Similarity.assign(edge, cents, "embedding", "vec_id", "c", top = 1)
      .select($"c_id", $"centroid_id".as("f_cid"))
    val de = Similarity.assignDeclarative(edge, cents, "embedding", "vec_id", "c")
      .select($"c_id", $"centroid_id".as("d_cid"))
    val badEdge = fe.join(de, "c_id").filter($"f_cid" =!= $"d_cid").count()
    assert(badEdge == 0, "edge vectors diverge between fused and declarative assign")
  }

  test("blocked simhash banding: every <=3-bit-flip pair is a candidate") {
    // the Manku combination scheme's whole point is a RECALL GUARANTEE:
    // h <= maxHamming diffs across 8 blocks leave >= 5 clean blocks, so
    // some 5-block combination key matches exactly. Plant neighbors at
    // hamming 1..3 of a base signature among random far rows and require
    // every one to surface as a candidate.
    val rng = new scala.util.Random(7)
    val base = rng.nextLong()
    val planted = (1 to 40).map { i =>
      val nbits = 1 + rng.nextInt(3)
      val bits = rng.shuffle((0 until 64).toList).take(nbits)
      (100L + i, bits.foldLeft(base)((v, b) => v ^ (1L << b)))
    }
    val far = (1 to 60).map(i => (500L + i, rng.nextLong()))
    val sigs = (Seq((1L, base)) ++ planted ++ far).toDF("id", "sh")
    val verified = Dedup.blockedCandidates(sigs, maxHamming = 3, blocks = 8)
      .withColumn("hamming", expr("bit_count(sh_a ^ sh_b)"))
    val cands = verified.select($"id_a", $"id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    planted.foreach { case (pid, _) =>
      assert(cands.contains((1L, pid)),
        s"planted <=3-flip neighbor $pid missed — recall guarantee broken")
    }
    // verify step: no pair beyond maxHamming survives the filter
    val survivors = verified.filter($"hamming" <= 3)
      .select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    planted.foreach { case (pid, _) => assert(survivors.contains((1L, pid))) }
    val farIds = far.map(_._1).toSet
    assert(!survivors.exists { case (a, b) =>
      (a == 1L && farIds(b)) || (b == 1L && farIds(a)) },
      "a random far signature slipped under hamming<=3")
  }

  test("tokenize kernel is bit-identical to filter(split(lower)) ") {
    // the entry stage of every text pipeline — fused to one codegen'd
    // call (TokensExpr); adversarial inputs: unicode (multi-byte must
    // never split), vertical tab (NOT whitespace in the RE2 class),
    // leading/trailing/repeated separators, empties, null
    val docs = Tables.load(spark, sfDir, "documents").limit(300)
      .select($"text")
      .union(Seq("", "  ", "ab", " é漢字 🙂x ", "A\tB\nC\fD\rE",
        "one", "\t\n\f\r ", "MiXeD CaSe", "a" * 500 + " b",
        "xy z" /* VT stays INSIDE a token (RE2 \s excludes it) */)
        .toDF("text"))
      .union(Seq(null.asInstanceOf[String]).toDF("text"))
    val diff = docs.select(
        graft.functions.tokens($"text").as("a"),
        graft.functions.tokensDeclarative($"text").as("b"))
      .filter(!($"a" <=> $"b")).count()
    assert(diff === 0L, "tokenize kernel diverges from the declarative twin")
    // and the fused path really is the custom expression, not a rewrite
    val plan = docs.select(graft.functions.tokens($"text"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("tokensexpr") || plan.contains("TokensExpr"),
      s"expected TokensExpr in plan:\n$plan")
    // implicit-cast contract of the declarative twin: non-string inputs
    // tokenize via a string cast, not a runtime ClassCastException
    val nums = Seq(101L, 202L).toDF("n")
      .select(graft.functions.tokens($"n").as("t"))
      .collect().map(_.getSeq[String](0))
    assert(nums.toSeq == Seq(Seq("101"), Seq("202")))
  }

  test("sketch kernels are bit-identical to their declarative twins") {
    import graft.operators.{Bloom, CountMin, ZOrder}
    val docs = Tables.load(spark, sfDir, "documents").limit(300)
      .select($"doc_id", $"text")
    // adversarial keys: unicode, empties, long strings, raw fixture text
    val keys = docs.select($"text".as("k"))
      .union(Seq("", "é漢字🙂", "a" * 500, "NULL", "0").toDF("k"))
    val (m, k) = (4096, 5)
    val posDiff = keys.select(
        Bloom.positions($"k", m, k).as("a"),
        Bloom.positionsDeclarative($"k", m, k).as("b"))
      .filter(!($"a" <=> $"b")).count()
    assert(posDiff === 0L, "bloom positions kernel diverges")
    val bits = Bloom.buildBits(keys.limit(100), $"k", m, k)
    val containsDiff = keys.crossJoin(broadcast(bits)).select(
        Bloom.mightContain($"bits", $"k", m, k).as("a"),
        Bloom.mightContainDeclarative($"bits", $"k", m, k).as("b"))
      .filter(!($"a" <=> $"b")).count()
    assert(containsDiff === 0L, "bloom contains kernel diverges")
    val cms = CountMin.build(keys, $"k", w = 512, d = 4)
    val estDiff = keys.crossJoin(broadcast(cms)).select(
        CountMin.estimate($"cms", $"k", 512, 4).as("a"),
        CountMin.estimateDeclarative($"cms", $"k", 512, 4).as("b"))
      .filter(!($"a" <=> $"b")).count()
    assert(estDiff === 0L, "cms estimate kernel diverges")
    // morton: include nulls and boundary cells
    val cells = Seq((0L, 0L), (65535L, 65535L), (12345L, 54321L), (1L, 0L))
      .toDF("x", "y")
      .union(Seq((null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(3L)))
        .toDF("x", "y"))
    val mortonDiff = cells.select(
        ZOrder.interleave(Seq($"x", $"y"), 16).as("a"),
        ZOrder.interleaveDeclarative(Seq($"x", $"y"), 16).as("b"))
      .filter(!($"a" <=> $"b")).count()
    assert(mortonDiff === 0L, "morton kernel diverges")
  }

  test("aho-corasick kernel is bit-identical to the per-phrase contains fold") {
    import graft.operators.TextAnalysis
    val phrases = Seq("customer query", "spark order", "scan", "scan slow",
      "table scan", "an s", "é漢", "aa", "aaa")
    // fixture text + adversarial: overlapping/prefix patterns, unicode,
    // repeated chars (aaaa matches both aa and aaa), null
    val docs = Tables.load(spark, sfDir, "documents").limit(200)
      .select($"text")
      .union(Seq("aaaa", "scan slow scan", "é漢字", "", "table scan slow")
        .toDF("text"))
      .union(Seq(null.asInstanceOf[String]).toDF("text"))
    val diff = docs.select(
        graft.functions.multi_contains($"text", phrases).as("a"),
        TextAnalysis.multiContainsDeclarative($"text", phrases).as("b"))
      .filter(!($"a" <=> $"b")).count()
    assert(diff === 0L, "AC kernel diverges from the contains fold")
  }

  test("fused sign_project is bit-identical to the declarative term chain") {
    import graft.operators.Projection
    val embs = Tables.load(spark, sfDir, "embeddings").limit(100)
    val a = Projection.project(embs, 64, 16)
      .select($"vec_id", $"embedding").orderBy($"vec_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    val b = Projection.projectDeclarative(embs, 64, 16)
      .select($"vec_id", $"embedding").orderBy($"vec_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    assert(a.toSeq == b.toSeq, "kernel diverges from the declarative chain")
  }

  test("sign projection preserves pairwise distance within the JL band") {
    import graft.operators.Projection
    val embs = Tables.load(spark, sfDir, "embeddings").limit(40)
    def dists(df: org.apache.spark.sql.DataFrame) = {
      val vs = df.orderBy($"vec_id").collect()
        .map(_.getSeq[Any](1).map {
          case f: Float => f.toDouble
          case d: Double => d
        }.toArray)
      for (i <- vs.indices; j <- 0 until i) yield
        math.sqrt(vs(i).zip(vs(j)).map { case (x, y) => (x - y) * (x - y) }.sum)
    }
    val orig = dists(embs.select($"vec_id", $"embedding"))
    val proj = dists(Projection.project(embs, 64, 16)
      .select($"vec_id", $"embedding"))
    // JL with dOut=16 is coarse: assert the distance RATIO distribution
    // is centered (median within 25%) rather than per-pair tight
    val ratios = orig.zip(proj).collect { case (o, p) if o > 0 => p / o }
    val med = ratios.sorted.apply(ratios.size / 2)
    assert(med > 0.75 && med < 1.25, s"median distance ratio $med")
  }

  test("releaseCaches unpersists minhash signature cache") {
    // For each operator call: the exact RDD ids it persisted or
    // checkpointed (the keys it added to getPersistentRDDs) must all be
    // gone after release. A global count is flaky in a full-suite run
    // (see ConcurrencySpec). The result stays referenced until the poll
    // ends, so GC cannot free a snapshot that release missed.
    val sc = spark.sparkContext
    def assertReleased(what: String)(run: => org.apache.spark.sql.DataFrame): Unit = {
      val before = sc.getPersistentRDDs.keySet
      val out = run
      out.count()
      val made = sc.getPersistentRDDs.keySet -- before
      assert(made.nonEmpty, s"$what persisted nothing")
      Dedup.releaseCaches()
      // allow async unpersist to settle
      val deadline = System.currentTimeMillis() + 10000
      def left = made intersect sc.getPersistentRDDs.keySet
      while (left.nonEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(left.isEmpty, s"$what: RDDs $left leaked after releaseCaches (of $made)")
      assert(out.columns.nonEmpty)
    }
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta")).toDF("doc_id", "text")
    assertReleased("minHashPairs")(Dedup.minHashPairs(docs, threshold = 0.9))
    assertReleased("connectedComponents") {
      graft.operators.Components.connectedComponents(
        (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b"))
    }
    // forced scale gate: the model reads two local checkpoints
    val gate = "spark.graft.scalePath.minInputBytes"
    spark.conf.set(gate, "0")
    try assertReleased("kneserNeyTrigramPerplexity") {
      graft.operators.TextAnalysis.kneserNeyTrigramPerplexity(docs)
    } finally spark.conf.unset(gate)
    assertReleased("Bpe.train")(graft.operators.Bpe.train(docs, merges = 4))
  }
}
