package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions._

/** Byte-pair-encoding tokenizer TRAINING (Sennrich et al. 2016,
  * arXiv:1508.07909 — the algorithm behind GPT-2/LLaMA-family vocabularies):
  * iteratively merge the most frequent adjacent symbol pair, starting from
  * characters plus a `</w>` end-of-word marker.
  *
  * Scale shape — the part that matters at 100 TB: merges are learned on the
  * WORD-FREQUENCY table, not the corpus. The corpus is touched exactly once
  * (one token hash-agg builds `vocab`); every merge round then aggregates
  * pair counts over the vocab (distinct words — millions of rows at web
  * scale, not trillions), takes the top-1 pair via `orderBy.limit(1)`
  * (TakeOrdered fusion — one row to the driver per round, which is model
  * state like a k-means centroid), and rewrites symbol arrays with a
  * map-side fold. No corpus re-scan, no driver-side data.
  *
  * Merge application is the standard greedy left-to-right pass, expressed
  * as an `aggregate` fold with (out, carry) state — equivalent to
  * repeatedly merging the leftmost occurrence (a merged symbol can never
  * create a new occurrence of the SAME pair to its left, since the merged
  * symbol differs from both halves).
  *
  * Determinism: ties on pair count break on (lsym, rsym) lexicographic
  * order, so the learned merge table is engine-replayable; the DuckDB
  * oracle replays all rounds with a recursive leftmost-first rewrite.
  * Fixture contract: tokens are `[a-z]+` (verified in the oracle spec), so
  * the `</w>` marker cannot collide and the oracle's pattern needs no
  * regex escaping.
  */
object Bpe {

  /** One greedy left-to-right merge pass of (l, r) → l+r over a symbol
    * array: fold with (out, carry) state, flushing the carry unless it
    * pairs with the current element.
    */
  private def applyMerge(syms: org.apache.spark.sql.Column, l: String,
      r: String): org.apache.spark.sql.Column = applyMerges(syms, Seq((l, r)))

  /** One greedy left-to-right pass applying a SET of merge rules
    * simultaneously. Sound ONLY for rules whose triple sets
    * {l, r, l+r} are MUTUALLY DISJOINT (the [[trainBatched]] selection
    * invariant): then no rule's match can create, destroy, or overlap
    * another's (inputs are never another rule's inputs OR output, and
    * outputs are never another rule's inputs), so one combined pass is
    * provably equal to applying the rules sequentially in any order —
    * which is what the DuckDB oracle does, one rewrite per rule.
    */
  private def applyMerges(syms: org.apache.spark.sql.Column,
      rules: Seq[(String, String)]): org.apache.spark.sql.Column =
    aggregate(
      syms,
      expr("named_struct('out', CAST(array() AS ARRAY<STRING>), 'carry', CAST(NULL AS STRING))"),
      (st, x) => {
        val out = st.getField("out"); val carry = st.getField("carry")
        val start = when(carry.isNull, struct(out.as("out"), x.as("carry")))
        rules.foldLeft(start) { case (acc, (l, r)) =>
          acc.when(carry === lit(l) && x === lit(r),
            struct(concat(out, array(lit(l + r))).as("out"),
              lit(null).cast("string").as("carry")))
        }.otherwise(
          struct(concat(out, array(carry)).as("out"), x.as("carry")))
      },
      st => when(st.getField("carry").isNull, st.getField("out"))
        .otherwise(concat(st.getField("out"), array(st.getField("carry")))))

  /** Learn `merges` BPE merge rules from a document corpus. Returns one row
    * per rule: (merge_round, lsym, rsym, cnt) in learning order.
    */
  /** Word-frequency table with initial symbol sequences (chars + `</w>`):
    * the corpus's only appearance in BPE — everything downstream works on
    * this (distinct-word-sized) table.
    */
  def vocab(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        concat(split(col("word"), ""), array(lit("</w>"))).as("syms"))

  def train(docs: DataFrame, merges: Int = 4,
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = Caches.persist(this.vocab(docs, textCol))
    var cur = vocab
    val learned = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    // each round's rewritten vocab is persisted so round r+1's pair count
    // evaluates ONE applyMerge fold over cached rows — an unpersisted
    // chain re-runs every previous round's interpreted fold per round
    // (O(merges²) work, unbounded expression tree). `older` (two rounds
    // back) is dropped only after the collect has materialized the round
    // that read it.
    var older: DataFrame = null
    var round = 1
    var exhausted = false
    while (round <= merges && !exhausted) {
      val bestRows = cur
        // single-symbol words carry no pairs — and sequence(1, 0) is
        // DESCENDING in Spark ([1,0] → syms[1] out-of-bounds), so they
        // must be filtered out, not handed to the transform
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1)," +
            " i -> struct(syms[i-1] AS l, syms[i] AS r))")).as("p"))
        .groupBy(col("p.l").as("lsym"), col("p.r").as("rsym"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("lsym"), col("rsym"))
        .limit(1).collect()
      if (older != null) { Caches.drop(older); older = null }
      if (bestRows.isEmpty) {
        // no adjacent pairs anywhere (empty/all-null corpus, or every
        // word already collapsed to a single symbol): stop with the
        // merges learned so far instead of indexing an empty result
        exhausted = true
      } else {
        val best: Row = bestRows(0)
        val (l, r, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
        learned += ((round, l, r, cnt))
        val next = Caches.persist(cur.select(col("word"), col("freq"),
            applyMerge(col("syms"), l, r).as("syms")))
        if (!(cur eq vocab)) older = cur
        cur = next
      }
      round += 1
    }
    learned.toSeq.toDF("merge_round", "lsym", "rsym", "cnt")
  }

  /** Batched BPE training — the production-scale variant of [[train]].
    *
    * Strict Sennrich training is one Spark job PER MERGE (pair count +
    * top-1 collect): a 32k-merge vocabulary is 32k sequential
    * scheduler round-trips — hours of driver overhead regardless of
    * cluster size. This variant learns up to `batch` rules per corpus
    * pass: the pass's pair counts are snapshotted once, the top
    * `batch × candidateFactor` ranked pairs come to the driver (bounded
    * model state, like k-means centroids), and rules are selected
    * greedily in rank order subject to TRIPLE-SET DISJOINTNESS — a
    * candidate is skipped if its {l, r, l+r} intersects any already
    * selected rule's triple set. Disjointness makes the selection
    * EXACT: an earlier selection cannot change a later one's true count
    * (no shared symbols to merge away, no output feeding another's
    * input), so every emitted (rule, cnt) row is the count strict BPE
    * would have seen. The approximation vs strict Sennrich ordering:
    * a pair whose count would RISE from an earlier merge in the same
    * pass (it contains that merge's output) is deferred to the next
    * pass, where strict BPE might rank it earlier. This is the standard
    * parallel-BPE tradeoff; batch=1 reproduces [[train]] exactly.
    *
    * Runs ceil(merges/batch) passes (driver rounds drop by the batch
    * factor) and trims to `merges` rules; a pathological corpus whose
    * top candidates all conflict may yield fewer rules per pass — the
    * DuckDB oracle replays the IDENTICAL M-bounded greedy selection, so
    * the two engines agree row-for-row either way.
    */
  def trainBatched(docs: DataFrame, merges: Int = 64, batch: Int = 16,
      candidateFactor: Int = 8, textCol: String = "text"): DataFrame = {
    require(merges >= 1 && batch >= 1 && candidateFactor >= 1)
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = Caches.persist(this.vocab(docs, textCol))
    var cur = vocab
    var older: DataFrame = null
    val learned = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    val passes = (merges + batch - 1) / batch
    var pass = 0
    var exhausted = false
    while (pass < passes && !exhausted && learned.size < merges) {
      val want = math.min(batch, merges - learned.size)
      val cands = cur
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1)," +
            " i -> struct(syms[i-1] AS l, syms[i] AS r))")).as("p"))
        .groupBy(col("p.l").as("lsym"), col("p.r").as("rsym"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("lsym"), col("rsym"))
        .limit(batch * candidateFactor)
        .collect()
      if (older != null) { Caches.drop(older); older = null }
      if (cands.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val sel = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
        val it = cands.iterator
        while (sel.size < want && it.hasNext) {
          val row = it.next()
          val (l, r, c) = (row.getString(0), row.getString(1), row.getLong(2))
          if (!used(l) && !used(r) && !used(l + r)) {
            sel += ((l, r, c)); used ++= Seq(l, r, l + r)
          }
        }
        if (sel.isEmpty) exhausted = true
        else {
          sel.foreach { case (l, r, c) =>
            learned += ((learned.size + 1, l, r, c))
          }
          val next = Caches.persist(cur.select(col("word"), col("freq"),
              applyMerges(col("syms"), sel.map(s => (s._1, s._2)).toSeq).as("syms")))
          if (!(cur eq vocab)) older = cur
          cur = next
        }
      }
      pass += 1
    }
    learned.toSeq.toDF("merge_round", "lsym", "rsym", "cnt")
  }

  /** Segment words with a learned merge table (greedy passes in learning
    * order — the standard BPE apply). Returns (word, freq, syms).
    */
  def segment(vocab: DataFrame, rules: Seq[(String, String)]): DataFrame =
    rules.foldLeft(vocab) { case (df, (l, r)) =>
      df.withColumn("syms", applyMerge(col("syms"), l, r))
    }
}
