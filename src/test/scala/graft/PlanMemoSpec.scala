package graft

import org.apache.spark.sql.functions._
import graft.operators.{Bloom, Dedup}

/** [[PlanMemo]] — the guard against data-blind memo keys (round-11
  * post-mortem: a Bloom filter memoised under a canonicalized-plan-text
  * key was silently reused across DIFFERENT in-memory corpora with the
  * same schema, map-side dropping genuinely duplicated band buckets).
  * Every plan-keyed memo in the repo routes through PlanMemo.keyOf;
  * these specs pin both halves of its contract: refusal where the key
  * cannot pin the data, and stable amortization where it can.
  */
class PlanMemoSpec extends SparkSuite {
  import spark.implicits._

  /** Force the LSH scale path (Bloom prune + persists) regardless of
    * input size — these specs exist to exercise exactly that machinery
    * on small in-memory / tiny-file corpora. */
  private def forcingScalePath[T](body: => T): T = {
    val key = "spark.graft.scalePath.minInputBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "0")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("keyOf refuses in-memory plans: two same-schema corpora must not share a key") {
    val a = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text")
    val b = Seq((9L, "p"), (8L, "q")).toDF("doc_id", "text")
    assert(PlanMemo.keyOf(a).isEmpty, "LocalRelation plan must not be memoisable")
    assert(PlanMemo.keyOf(b).isEmpty, "LocalRelation plan must not be memoisable")
    // and a derived plan over an in-memory leaf is equally refused
    assert(PlanMemo.keyOf(a.groupBy($"text").count()).isEmpty,
      "derived plan over a LocalRelation leaf must not be memoisable")
  }

  test("keyOf is stable across separate constructions over the same files") {
    def dim() = Tables.load(spark, sfDir, "part").filter(col("p_size") === 15)
    val k1 = PlanMemo.keyOf(dim())
    val k2 = PlanMemo.keyOf(dim())
    assert(k1.nonEmpty && k1 == k2,
      s"same (path, filter) must produce the same memo key: $k1 vs $k2")
    val other = PlanMemo.keyOf(
      Tables.load(spark, sfDir, "part").filter(col("p_size") === 23))
    assert(other.nonEmpty && other != k1,
      "a different filter over the same files must produce a different key")
  }

  test("keyOf folds file identity: an overwritten path yields a new key") {
    val dir = java.nio.file.Files.createTempDirectory("planmemo").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val k1 = PlanMemo.keyOf(spark.read.parquet(dir))
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val k2 = PlanMemo.keyOf(spark.read.parquet(dir))
    assert(k1.nonEmpty && k2.nonEmpty && k1 != k2,
      "same path with different file content must not share a memo key")
  }

  test("minHashPairs on two different in-memory corpora in one session " +
      "finds both planted pairs (no cross-dataset filter reuse)") {
    // the round-11 failure shape exactly: same schema, same plan text,
    // different data, NO releaseCaches between the two calls — the
    // second corpus's dup band buckets must not be pruned by a filter
    // built over the first corpus
    val corpus1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely unrelated text about databases and sharding"))
      .toDF("doc_id", "text")
    val corpus2 = Seq(
      (4L, "large scale training data pipelines need deduplication"),
      (5L, "large scale training data pipelines need deduplication now"),
      (6L, "another unrelated document about spark physical planning"))
      .toDF("doc_id", "text")
    try forcingScalePath {
      val p1 = Dedup.minHashPairs(corpus1, threshold = 0.5).collect()
      assert(p1.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L),
        s"corpus1 planted pair lost: ${p1.mkString(";")}")
      val p2 = Dedup.minHashPairs(corpus2, threshold = 0.5).collect()
      assert(p2.exists(r => r.getLong(0) == 4L && r.getLong(1) == 5L),
        s"corpus2 planted pair lost (stale filter reuse): ${p2.mkString(";")}")
    } finally Dedup.releaseCaches()
  }

  test("nativeKeyBloomMemo amortizes file-backed builds; releaseCaches keeps " +
      "them (data-pinned keys); releaseAllCaches drops them") {
    // asserted via INSTANCE identity, not job counting: computeIfAbsent
    // returning the stored array proves the builder (and its Spark jobs)
    // did not re-run, and the assert stays immune to the async listener
    // bus delivering earlier tests' backlogged job events mid-window (a
    // job-count formulation failed exactly that way in full-suite order)
    Dedup.releaseAllCaches() // start from an empty memo
    def build() = Bloom.nativeKeyBloomMemo(
      Tables.load(spark, sfDir, "part").select(col("p_partkey")),
      col("p_partkey"), 1000L, 1L << 14)
    val first = build() // pays the aggregate job, seeds the memo
    val second = build()
    assert(second eq first,
      "second build over unchanged files must return the memoised instance")
    // the between-queries release must NOT drop file-pinned entries: the
    // key embeds the file listing, so staleness is impossible by key and
    // clearing re-paid two banding passes per bench sample at sf100
    Dedup.releaseCaches()
    val third = build()
    assert(third eq first,
      "releaseCaches must keep data-pinned bloom memo entries")
    Dedup.releaseAllCaches()
    val fourth = build()
    assert(!(fourth eq first),
      "releaseAllCaches (session teardown) must drop the bloom memo")
    assert(java.util.Arrays.equals(first, fourth),
      "rebuilt filter must be bit-identical to the original")
  }

  test("minHashPairs over a parquet table OVERWRITTEN in place finds the " +
      "new corpus's pairs (no stale filter reuse across file versions)") {
    // the snapshot-apply / incremental-dedup loop shape: same PATH, same
    // plan text, different data — the memo key must miss because the
    // file listing changed, never hit a filter built over the old files
    val dir = java.nio.file.Files.createTempDirectory("planmemo_ow").toString
    def writeCorpus(rows: Seq[(Long, String)]): Unit = {
      import spark.implicits._
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(dir)
    }
    try forcingScalePath {
      writeCorpus(Seq(
        (1L, "the quick brown fox jumps over the lazy dog again"),
        (2L, "the quick brown fox jumps over the lazy dog today"),
        (3L, "unrelated text about spark adaptive query execution")))
      val p1 = Dedup.minHashPairs(spark.read.parquet(dir), threshold = 0.5)
        .collect()
      assert(p1.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L),
        s"v1 planted pair lost: ${p1.mkString(";")}")
      writeCorpus(Seq(
        (4L, "large scale training data pipelines need deduplication"),
        (5L, "large scale training data pipelines need deduplication now"),
        (6L, "another unrelated document about columnar file formats")))
      // NO releaseCaches between versions — the key itself must protect
      val p2 = Dedup.minHashPairs(spark.read.parquet(dir), threshold = 0.5)
        .collect()
      assert(p2.exists(r => r.getLong(0) == 4L && r.getLong(1) == 5L),
        s"v2 planted pair lost (stale filter across overwrite): ${p2.mkString(";")}")
    } finally Dedup.releaseCaches()
  }
}
