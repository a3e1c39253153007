package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims
import graft.functions._

/** The fused kernels' one Catalyst binding, [[graft.functions.Kernel]]:
  * every kernel gives the same rows through Spark's interpreted path as
  * through generated code, its plan text carries every constant (PlanMemo
  * keys on it), and an unaliased call is named after its SQL function.
  */
class KernelSpec extends SparkSuite {

  /** The suite session with all code generation off: whole-stage codegen
    * and the per-operator projection/predicate factories both fall to
    * interpreted `eval`. */
  private lazy val interpreted = Shims.cloneSession(spark, Map(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  /** documents plus one null-text row, and the sketch inputs the
    * two-column kernels probe */
  private def docs(s: SparkSession): DataFrame =
    Tables.load(s, sfDir, "documents").select(col("doc_id").as("id"), col("text"))
      .union(s.range(1).select(lit(-1L).as("id"), lit(null).cast("string").as("text")))
      .withColumn("bits", typedLit(Array.tabulate(32)(i => (i * 2654435761L) & 0xffffffffL)))
      .withColumn("cms", typedLit(Array.tabulate(3, 64)((r, c) => (r * 64 + c) % 17L)))
      .withColumn("cells", array(col("id"), length(col("text")).cast("long")))

  /** embeddings (array<float>) plus one null-vector row */
  private def embeddings(s: SparkSession): DataFrame =
    Tables.load(s, sfDir, "embeddings").select(col("vec_id").as("id"), col("embedding"))
      .union(s.range(1).select(lit(-1L).as("id"),
        lit(null).cast("array<float>").as("embedding")))

  private lazy val dim =
    Tables.load(spark, sfDir, "embeddings").select(size(col("embedding"))).head().getInt(0)

  /** Kernels over documents: the SQL surface by name, the Column-only
    * kernels through their builders. */
  private def textKernels: Seq[(String, Column)] = Seq(
    "minhash_signature(split(text, ' '), 16, 7)", "minhash_text(text, 3, 16, 7)",
    "winnow_fps(text, 5, 4)", "bloom_positions(text, 1024, 4)",
    "sig_eq_count(minhash_text(text, 3, 16), minhash_text(text, 2, 16))",
    "sig_eq_count(gram_md5s(text, 2), gram_md5s(text, 3))",
    "bloom_contains(bits, text, 1024, 4)", "cms_estimate(cms, text, 64, 3)",
    "morton_interleave(cells, 16)", "simhash64(split(text, ' '))",
    "normalize_text(text)", "nfc_normalize(text)", "lang_id(text)",
    "char_entropy(text)", "quality_stats(text)", "gopher_stats(text)",
    "read_counts(text)", "rep_stats(text)", "replay_simhash(text)",
    "gram_md5s(text, 2)", "gram_buckets(text, 2)", "replay_minhash(text, 3)"
  ).map(e => e -> expr(e)) ++ Seq(
    "tokens" -> tokens(col("text")),
    // tokens inside a higher-order function: CodegenFallback, so
    // interpreted on both sessions
    "minhash_signature(word_shingles)" ->
      minhash_signature(word_shingles(tokens(col("text")), 3), 16, 7L),
    "shingle_hashes" -> shingle_hashes(col("text"), 3),
    "lut_sum" -> lut_sum(gram_buckets(col("text"), 2), Array.tabulate(256)(i => i * 0.5)),
    "multi_contains" -> multi_contains(col("text"), Seq("the", "and the", "of")),
    "unigram_counts" -> unigram_counts(tokens(col("text"))),
    "bigram_counts" -> bigram_counts(tokens(col("text"))),
    "trigram_counts" -> trigram_counts(tokens(col("text"))))

  /** Kernels over embeddings, on float and on double vectors. */
  private def vectorKernels: Seq[(String, Column)] = {
    val (m, ksub, k, dOut) = (2, 4, 5, 4)
    val books = Array.tabulate(ksub * dim)(i => math.sin(i.toDouble))
    val cents = Array.tabulate(k * dim)(i => math.cos(i.toDouble).toFloat)
    val signs = Array.tabulate(dim * dOut)(i => if (i % 3 == 0) 1.0 else -1.0)
    for {
      (t, v) <- Seq("float" -> col("embedding"),
        "double" -> col("embedding").cast("array<double>"))
      (name, c) <- Seq(
        "cosine_similarity" -> cosine_similarity(v, reverse(v)),
        "pq_encode" -> pq_encode(v, books, m, ksub),
        "argmax_cosine" -> argmax_cosine(v, cents, k, dim),
        "sign_project" -> sign_project(v, signs, dim, dOut))
    } yield s"$name/$t" -> c
  }

  /** Each kernel's value per id, rendered (NaN-safe), on session `s`. */
  private def run(s: SparkSession, in: SparkSession => DataFrame,
      kernels: Seq[(String, Column)]): Seq[Seq[String]] =
    in(s).select(col("id") +: kernels.map(_._2): _*).orderBy("id").collect()
      .map(r => (1 to kernels.size).map(i => String.valueOf(r.get(i))))
      .toSeq.transpose

  test("every kernel gives the same rows interpreted as in generated code") {
    for ((in, kernels) <- Seq((docs _, textKernels), (embeddings _, vectorKernels))) {
      val compiled = run(spark, in, kernels)
      val interp = run(interpreted, in, kernels)
      kernels.map(_._1).zip(compiled.zip(interp)).foreach { case (name, (c, i)) =>
        assert(c.size == in(spark).count() && c.exists(_ != "null"), s"$name: no rows")
        val diff = c.indices.filter(j => c(j) != i(j))
        diff.headOption.foreach(j =>
          fail(s"$name: ${diff.size} rows differ, first: ${c(j)} vs ${i(j)}"))
      }
    }
    // a call on literals constant-folds: evaluated once, by the optimizer
    val onLiterals = Seq("normalize_text('  Hello \tWorld ')",
      "quality_stats('the cat sat.')", "minhash_text('a b c d', 2, 8, 3)",
      "morton_interleave(array(3L, CAST(NULL AS BIGINT)), 4)")
    def folded(s: SparkSession) = {
      val df = s.range(1).selectExpr(onLiterals: _*)
      assert(!df.queryExecution.optimizedPlan.expressions.exists(_.exists(_.isInstanceOf[Kernel])),
        "a kernel call on literals was not constant-folded")
      df.collect().head.toSeq.map(String.valueOf)
    }
    assert(folded(spark) == folded(interpreted))
  }

  test("PlanMemo keys of kernel plans differ in each constant; equal constructions agree") {
    val docs = Tables.load(spark, sfDir, "documents")
    def key(c: Column): String = PlanMemo.keyOf(docs.select(c.as("k"))).get._2
    val text = col("text")
    val base = key(minhash_text(text, 3, 16, 7L))
    assert(key(minhash_text(text, 3, 16, 7L)) == base)
    assert(PlanMemo.keyOf(docs.selectExpr("minhash_text(text, 3, 16, 7) AS k")).get._2 == base,
      "the SQL builder and the Column builder make different nodes")
    Seq(minhash_text(text, 3, 16, 8L), minhash_text(text, 2, 16, 7L),
        minhash_text(text, 3, 32, 7L)).foreach { c =>
      assert(key(c) != base, s"$c shares the key of minhash_text(text, 3, 16, 7)")
    }
    assert(key(bloom_positions(text, 1024, 4)) == key(bloom_positions(text, 1024, 4)))
    assert(key(bloom_positions(text, 1024, 4)) != key(bloom_positions(text, 1024, 5)))
    assert(key(winnow_fps(text, 5, 4)) != key(winnow_fps(text, 5, 3)))
    assert(key(bigram_counts(tokens(text))) != key(trigram_counts(tokens(text))))
  }

  test("an unaliased kernel call is named after its SQL function") {
    Tables.load(spark, sfDir, "documents").createOrReplaceTempView("kernel_spec_docs")
    try {
      val cols = spark.sql("SELECT normalize_text(text), lang_id(text), " +
        "quality_stats(text) FROM kernel_spec_docs").columns
      assert(cols.toSeq == Seq("normalize_text(text)", "lang_id(text)", "quality_stats(text)"))
    } finally spark.catalog.dropTempView("kernel_spec_docs")
  }
}
