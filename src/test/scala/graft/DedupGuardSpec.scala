package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.Dedup

/** The LSH hot-bucket guard ([[Dedup.guardedBandPairs]]): a
  * pathological bucket (10⁴ ids sharing one band key — the
  * replica-heavy-corpus failure mode that went 11.9×-superlinear at the
  * sf100 decade) must produce LINEAR star-topology output, keep cold
  * buckets bit-identical to the unguarded pairwise join, and REPORT the
  * dropped-pair count through observed metrics (never a silent cap).
  */
class DedupGuardSpec extends SparkSuite {
  import spark.implicits._

  private val HOT = 10000 // pathological bucket occupancy

  private def banded = bucketed(HOT)

  /** banded fixture: one hot bucket of `hot` ids + one cold bucket of 5
    * disjoint ids (and a singleton, which must emit nothing).
    */
  private def bucketed(hot: Int) = {
    val hotIds = (1L to hot.toLong).map(id => (0, 1L, id))
    val cold = (20001L to 20005L).map(id => (0, 2L, id))
    val single = Seq((1, 3L, 30001L))
    (hotIds ++ cold ++ single).toDF("band", "bh", "id")
  }

  test("hot bucket degrades to star pairs; cold buckets stay pairwise") {
    val pairs = Dedup.guardedBandPairs(banded, Seq("band", "bh"), cap = 100)
      .collect()
    // unguarded this bucket alone is C(10^4,2) ≈ 5×10^7 pairs; the guard
    // emits occ-1 star pairs — the row count IS the linearity evidence
    val hotPairs = pairs.filter(_.getLong(1) <= HOT)
    assert(hotPairs.length === HOT - 1, s"expected ${HOT - 1} star pairs")
    assert(hotPairs.forall(_.getLong(0) == 1L),
      "star pairs must all anchor at the bucket's min-id representative")
    val coldPairs = pairs.filter(_.getLong(0) >= 20001L)
    assert(coldPairs.length === 10, "cold bucket must stay full pairwise C(5,2)")
    assert(pairs.length === HOT - 1 + 10, "singleton bucket must emit nothing")
  }

  test("guard reports dropped-pair count via observed metrics") {
    val seen = new java.util.concurrent.ConcurrentHashMap[String, Row]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        qe.observedMetrics.foreach { case (n, r) =>
          if (n.startsWith("lsh_bucket_guard")) seen.put(n, r)
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Dedup.guardedBandPairs(banded, Seq("band", "bh"), cap = 100).count()
      // listener delivery is async
      val deadline = System.currentTimeMillis() + 15000
      while (seen.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(!seen.isEmpty, "no lsh_bucket_guard metric observed")
      val m = seen.values().iterator().next()
      val byName = m.schema.fieldNames.zip(m.toSeq).toMap
      assert(byName("star_pairs") === (HOT - 1).toLong)
      // pairs foregone in the hot bucket: C(occ,2) - (occ-1) = C(occ-1,2)
      val expectDropped = (HOT - 1).toLong * (HOT - 2).toLong / 2
      assert(byName("pairs_dropped") === expectDropped)
      assert(byName("max_occupancy") === HOT.toLong)
    } finally spark.listenerManager.unregister(listener)
  }

  test("scale path (persist + Bloom dup-key prune) is row-identical to the " +
      "direct small-corpus path, hot and cold buckets included") {
    val direct = Dedup.guardedBandPairs(banded, Seq("band", "bh"), cap = 100,
      scalePath = Some(false))
    val scaled = Dedup.guardedBandPairs(banded, Seq("band", "bh"), cap = 100,
      scalePath = Some(true))
    try {
      assert(scaled.count() === direct.count())
      assert(scaled.except(direct).count() === 0L)
      assert(direct.except(scaled).count() === 0L)
    } finally Dedup.releaseCaches() // scale path registers the banded persist
  }

  test("blocked-simhash scale path (packed band keys + exact-sized Bloom " +
      "dup-key prune) is row-identical to the direct path") {
    // near-dup docs (one token changed) band together under the packed
    // 5-of-8-block keys; unrelated docs must not pair. Forcing the
    // scale gate on exercises the dupKeys persist + count + Bloom prune
    // on both join sides — identical output is recall-exactness.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "totally different content with no shared tokens at all here"),
      (5L, "yet another unrelated document body of words entirely")
    ).toDF("doc_id", "text")
    val key = "spark.graft.scalePath.minInputBytes"
    val direct = Dedup.simHashPairsBlockedReplayable(docs)
      .collect().toSet
    spark.conf.set(key, "0")
    try {
      val scaled = Dedup.simHashPairsBlockedReplayable(docs)
        .collect().toSet
      assert(scaled === direct)
      assert(direct.nonEmpty, "fixture must produce at least one pair")
    } finally {
      spark.conf.unset(key)
      Dedup.releaseCaches()
    }
  }

  test("guard is the identity when no bucket exceeds the cap") {
    // a hot bucket whose occupancy EQUALS the cap — the occ <= cap
    // boundary — kept to a few hundred ids so the naive self-join below
    // is ~4.5·10⁴ pairs, not the ~5·10⁷ of the HOT fixture
    val occ = 300
    val banded = bucketed(occ)
    val naive = banded.select($"band", $"bh", $"id".as("id_a"))
      .join(banded.select($"band", $"bh", $"id".as("id_b")), Seq("band", "bh"))
      .filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b").distinct()
    val guarded =
      Dedup.guardedBandPairs(banded, Seq("band", "bh"), cap = occ)
    assert(guarded.count() === naive.count())
    assert(guarded.except(naive).count() === 0L)
    assert(naive.except(guarded).count() === 0L)
  }

  test("payload variant carries both sides' payloads through star pairs") {
    val b = Seq((0, 1L, 1L, 11L), (0, 1L, 2L, 22L), (0, 1L, 3L, 33L),
      (0, 1L, 4L, 44L)).toDF("band", "bh", "id", "sh")
    val got = Dedup.guardedBandPairs(b, Seq("band", "bh"), cap = 2,
        payloadCol = Some("sh"))
      .orderBy($"id_b").collect()
    assert(got.length === 3) // star: (1,2),(1,3),(1,4)
    got.foreach { r =>
      assert(r.getAs[Long]("id_a") === 1L && r.getAs[Long]("sh_a") === 11L)
      assert(r.getAs[Long]("sh_b") === r.getAs[Long]("id_b") * 11L)
    }
  }

  test("minHashPairsReplayable end-to-end: planted replica cluster stays linear") {
    // 1000 identical docs: every band bucket holds all 1000 ids, so the
    // unguarded candidate join would be ~8×C(1000,2)≈4M rows; with
    // cap=50 each band degrades to 999 star pairs and the output is the
    // 999 (rep, other) pairs at est_jaccard 1.0.
    val docs = (1L to 1000L)
      .map(id => (id, "the same boilerplate mirror page body repeated verbatim"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minHashPairsReplayable(docs, bucketCap = 50).collect()
    Dedup.releaseCaches()
    assert(pairs.length === 999)
    assert(pairs.forall(r => r.getLong(0) == 1L && r.getDouble(2) == 1.0))
  }

  test("a FIRED guard's pairs_dropped is queryable through ctx.log()") {
    // closes the "never silent" loop at the USER-facing surface: not just
    // the observe node (covered above), but the reference-parity log()
    // table a pipeline operator would actually consult
    val ctx = new GraftContext(spark) // registers the query-log listener
    val docs = (1L to 40L)
      .map(id => (id, "identical boilerplate body shared by every mirror"))
      .toDF("doc_id", "text")
    // identical docs ⇒ every band bucket holds all 40 ids; cap=8 fires
    Dedup.minHashPairs(docs, bucketCap = 8).count()
    Dedup.releaseCaches()
    // listener delivery is async — poll the log table
    val deadline = System.currentTimeMillis() + 15000
    var fired: Array[String] = Array.empty
    while (fired.isEmpty && System.currentTimeMillis() < deadline) {
      fired = ctx.log(
        "SELECT metrics FROM graft_logs WHERE metrics LIKE '%lsh_bucket_guard%'")
        .collect().map(_.getString(0))
      if (fired.isEmpty) Thread.sleep(200)
    }
    assert(fired.nonEmpty, "fired guard never surfaced in the log() table")
    val dropped = "pairs_dropped:(\\d+)".r
    val counts = fired.flatMap(m =>
      dropped.findAllMatchIn(m).map(_.group(1).toLong))
    assert(counts.exists(_ > 0L),
      s"log rows mention the guard but report no dropped pairs: ${fired.toSeq}")
    // 32 bands × one 40-id bucket each: star rows forego C(39,2)=741
    // pairs per bucket ⇒ the recorded total is a multiple of 741
    assert(counts.max >= 741L,
      s"dropped-pair accounting looks wrong: ${counts.toSeq}")
  }
}
