package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions._
import graft.operators.{Components, Dedup}

/** Training-data curation operators beyond the dedup/ANN family already in
  * [[Pipeline]]: pair→cluster resolution (connected components), term
  * scoring (TF-IDF, BM25), repetition-based quality filters, deterministic
  * sampling, and PII redaction. Every query here is DuckDB-oracle-checked —
  * the arithmetic is integer counts, IEEE-exact ratios, or round-6'd
  * logarithms, so an independent engine can replay it hash-exact.
  */
object Curation {
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Shared edge set for the components oracle: exact 60-char-prefix
    * duplicate pairs over the whole table ∪ exact 3-gram Jaccard ≥ 0.2
    * pairs over a bounded id-slice. Deterministic text arithmetic only, so
    * DuckDB rebuilds the identical graph.
    */
  private def exactDedupEdges(docs: DataFrame): DataFrame = {
    val pref = docs.select(col("doc_id"),
      md5(substring(normalize_text(col("text")), 1, 60)).as("fp"))
    val exact = pref.as("a")
      .join(pref.as("b"), col("a.fp") === col("b.fp") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val jac = Dedup.exactJaccardPairs(
        docs.filter(col("doc_id") < 200), shingle = 3, threshold = 0.2)
      .select(col("id_a"), col("id_b"))
    exact.unionAll(jac).distinct()
  }

  /** Shared DuckDB closure for the components oracles — replays
    * [[exactDedupEdges]] (exact-prefix pairs ∪ bounded-slice 3-gram
    * Jaccard pairs) and closes it with a recursive CTE; `reach(id, r)`
    * holds every (node, reachable node) pair, so `min(r) GROUP BY id`
    * is the component label. dedup_components emits the labels;
    * dedup_keep_best extends with quality ranking. ONE definition so
    * an edge-rule tweak cannot desynchronize the pair.
    */
  private val componentsChainSql: String =
    """pref AS (
      |  SELECT doc_id,
      |    md5(substring(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 60)) AS fp
      |  FROM documents),
      |eexact AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM pref a JOIN pref b ON a.fp = b.fp AND a.doc_id < b.doc_id),
      |sets AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 3 THEN
      |      list_transform(generate_series(1, len(tk)-2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
      |      ELSE [] END) AS ss
      |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk
      |        FROM documents WHERE doc_id < 200)),
      |ejac AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
      |  WHERE len(list_distinct(a.ss || b.ss)) > 0
      |    AND CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE) / len(list_distinct(a.ss || b.ss)) >= 0.2),
      |e0 AS (SELECT id_a, id_b FROM eexact UNION SELECT id_a, id_b FROM ejac),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM e0
      |          UNION SELECT id_b AS src, id_a AS dst FROM e0),
      |reach(id, r) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, re.r FROM edges e JOIN reach re ON e.dst = re.id)""".stripMargin

  /** Generated DuckDB oracle for `bpe_train_batched` — replays
    * [[graft.operators.Bpe.trainBatched]] exactly: per pass, pair counts
    * over the current symbol table, the top `batch × candidateFactor`
    * ranked candidates (the same M bound the Spark side collects), a
    * greedy selection of up to `batch` rules whose {l, r, l+r} triple
    * sets are mutually disjoint (b/u CTE pairs: u accumulates used
    * symbols, b picks the best non-conflicting candidate), then one
    * recursive leftmost-first rewrite per selected rule — sequential
    * rewrites equal Spark's combined fold because the rules are
    * disjoint. Empty selections no-op via a sentinel pattern that can
    * never occur (symbols are [a-z]+ and `</w>`). The last pass skips
    * rewrites (nothing consumes them). Every non-recursive CTE is
    * MATERIALIZED: the b/u chains reference each other ~3× through
    * scalar subqueries, and DuckDB's default inlining duplicates the
    * subtree per reference — ~10× expansion per selection step, which
    * compounds to an exponential plan (observed as "Too many open
    * files" from thousands of duplicated parquet scans).
    */
  private def bpeBatchedOracleSql(merges: Int, batch: Int,
      candidateFactor: Int): String = {
    val passes = (merges + batch - 1) / batch
    val m = batch * candidateFactor
    val sb = new StringBuilder
    sb ++= s"""WITH RECURSIVE tk AS MATERIALIZED (
      |  SELECT list_filter(string_split_regex(lower(text), '\\s+'), t -> len(t) > 0) AS tk
      |  FROM documents),
      |wf AS MATERIALIZED (SELECT unnest(tk) AS word FROM tk),
      |vocab AS MATERIALIZED (SELECT word, count(*) AS freq FROM wf GROUP BY 1),
      |s0_$batch AS MATERIALIZED (SELECT word, freq,
      |        ' ' || array_to_string(list_transform(generate_series(1, len(word)), i -> word[i]), ' ') || ' </w> ' AS s
      |       FROM vocab)""".stripMargin
    for (p <- 1 to passes) {
      val src = s"s${p - 1}_$batch"
      sb ++= s""",
        |p$p AS MATERIALIZED (
        |  SELECT l[i] AS lsym, l[i+1] AS rsym, CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT freq, string_split(trim(s), ' ') AS l FROM $src),
        |       LATERAL (SELECT unnest(generate_series(1, len(l) - 1)) AS i) ii
        |  GROUP BY 1, 2),
        |r$p AS MATERIALIZED (SELECT lsym, rsym, cnt FROM p$p ORDER BY cnt DESC, lsym, rsym LIMIT $m)""".stripMargin
      for (k <- 1 to batch) {
        val conflict =
          if (k == 1) ""
          else s"""
            |  WHERE lsym NOT IN (SELECT s FROM u${p}_${k - 1})
            |    AND rsym NOT IN (SELECT s FROM u${p}_${k - 1})
            |    AND (lsym || rsym) NOT IN (SELECT s FROM u${p}_${k - 1})""".stripMargin
        val carry =
          if (k == 1) "" else s"SELECT s FROM u${p}_${k - 1} UNION ALL "
        sb ++= s""",
          |b${p}_$k AS MATERIALIZED (SELECT lsym, rsym, cnt FROM r$p$conflict
          |  ORDER BY cnt DESC, lsym, rsym LIMIT 1),
          |u${p}_$k AS MATERIALIZED (${carry}SELECT lsym AS s FROM b${p}_$k
          |  UNION ALL SELECT rsym FROM b${p}_$k
          |  UNION ALL SELECT lsym || rsym FROM b${p}_$k)""".stripMargin
        if (p < passes) {
          val prev = if (k == 1) src else s"s${p}_${k - 1}"
          sb ++= s""",
            |pr${p}_$k AS MATERIALIZED (SELECT ' ' || lsym || ' ' || rsym || ' ' AS pat,
            |              ' ' || lsym || rsym || ' ' AS rep FROM b${p}_$k),
            |a${p}_$k AS (
            |  SELECT word, freq, s FROM $prev
            |  UNION ALL
            |  SELECT word, freq, regexp_replace(s, (SELECT pat FROM pr${p}_$k), (SELECT rep FROM pr${p}_$k))
            |  FROM a${p}_$k WHERE contains(s, coalesce((SELECT pat FROM pr${p}_$k), ' NOMATCH '))),
            |s${p}_$k AS MATERIALIZED (SELECT word, freq, s FROM a${p}_$k
            |  WHERE NOT contains(s, coalesce((SELECT pat FROM pr${p}_$k), ' NOMATCH ')))""".stripMargin
        }
      }
    }
    val unions = (for (p <- 1 to passes; k <- 1 to batch) yield
      s"SELECT $p AS pass, $k AS sel, lsym, rsym, cnt FROM b${p}_$k")
      .mkString("\n  UNION ALL ")
    sb ++= s"""
      |SELECT merge_round, lsym, rsym, cnt FROM (
      |  SELECT CAST(row_number() OVER (ORDER BY pass, sel) AS INT) AS merge_round,
      |         lsym, rsym, cnt
      |  FROM ($unions))
      |WHERE merge_round <= $merges
      |ORDER BY merge_round""".stripMargin
    sb.toString
  }

  /** Shared DuckDB replay chain for the bpe_apply family: vocab ->
    * 4 learned rules (greedy max-count, lex tie-break), one recursive
    * leftmost-first rewrite per rule, final segmented state
    * `s4 = (word, freq, s)`. bpe_apply emits the rows; bpe_coverage
    * aggregates tokenizer-QA metrics over the same state.
    */
  private val bpeApplyChainSql: String =
    """WITH RECURSIVE tk AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents),
        |wf AS (SELECT unnest(tk) AS word FROM tk),
        |vocab AS (SELECT word, count(*) AS freq FROM wf GROUP BY 1),
        |s0 AS (SELECT word, freq,
        |        ' ' || array_to_string(list_transform(generate_series(1, len(word)), i -> word[i]), ' ') || ' </w> ' AS s
        |       FROM vocab),
        |p1 AS (
        |  SELECT l[i] AS lsym, l[i+1] AS rsym, CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT freq, string_split(trim(s), ' ') AS l FROM s0),
        |       LATERAL (SELECT unnest(generate_series(1, len(l) - 1)) AS i) ii
        |  GROUP BY 1, 2),
        |b1 AS (SELECT ' ' || lsym || ' ' || rsym || ' ' AS pat, ' ' || lsym || rsym || ' ' AS rep
        |       FROM p1 ORDER BY cnt DESC, lsym, rsym LIMIT 1),
        |a1 AS (
        |  SELECT word, freq, s FROM s0
        |  UNION ALL
        |  SELECT word, freq, regexp_replace(s, (SELECT pat FROM b1), (SELECT rep FROM b1))
        |  FROM a1 WHERE contains(s, (SELECT pat FROM b1))),
        |s1 AS (SELECT word, freq, s FROM a1 WHERE NOT contains(s, (SELECT pat FROM b1))),
        |p2 AS (
        |  SELECT l[i] AS lsym, l[i+1] AS rsym, CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT freq, string_split(trim(s), ' ') AS l FROM s1),
        |       LATERAL (SELECT unnest(generate_series(1, len(l) - 1)) AS i) ii
        |  GROUP BY 1, 2),
        |b2 AS (SELECT ' ' || lsym || ' ' || rsym || ' ' AS pat, ' ' || lsym || rsym || ' ' AS rep
        |       FROM p2 ORDER BY cnt DESC, lsym, rsym LIMIT 1),
        |a2 AS (
        |  SELECT word, freq, s FROM s1
        |  UNION ALL
        |  SELECT word, freq, regexp_replace(s, (SELECT pat FROM b2), (SELECT rep FROM b2))
        |  FROM a2 WHERE contains(s, (SELECT pat FROM b2))),
        |s2 AS (SELECT word, freq, s FROM a2 WHERE NOT contains(s, (SELECT pat FROM b2))),
        |p3 AS (
        |  SELECT l[i] AS lsym, l[i+1] AS rsym, CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT freq, string_split(trim(s), ' ') AS l FROM s2),
        |       LATERAL (SELECT unnest(generate_series(1, len(l) - 1)) AS i) ii
        |  GROUP BY 1, 2),
        |b3 AS (SELECT ' ' || lsym || ' ' || rsym || ' ' AS pat, ' ' || lsym || rsym || ' ' AS rep
        |       FROM p3 ORDER BY cnt DESC, lsym, rsym LIMIT 1),
        |a3 AS (
        |  SELECT word, freq, s FROM s2
        |  UNION ALL
        |  SELECT word, freq, regexp_replace(s, (SELECT pat FROM b3), (SELECT rep FROM b3))
        |  FROM a3 WHERE contains(s, (SELECT pat FROM b3))),
        |s3 AS (SELECT word, freq, s FROM a3 WHERE NOT contains(s, (SELECT pat FROM b3))),
        |p4 AS (
        |  SELECT l[i] AS lsym, l[i+1] AS rsym, CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT freq, string_split(trim(s), ' ') AS l FROM s3),
        |       LATERAL (SELECT unnest(generate_series(1, len(l) - 1)) AS i) ii
        |  GROUP BY 1, 2),
        |b4 AS (SELECT ' ' || lsym || ' ' || rsym || ' ' AS pat, ' ' || lsym || rsym || ' ' AS rep
        |       FROM p4 ORDER BY cnt DESC, lsym, rsym LIMIT 1),
        |a4 AS (
        |  SELECT word, freq, s FROM s3
        |  UNION ALL
        |  SELECT word, freq, regexp_replace(s, (SELECT pat FROM b4), (SELECT rep FROM b4))
        |  FROM a4 WHERE contains(s, (SELECT pat FROM b4))),
        |s4 AS (SELECT word, freq, s FROM a4 WHERE NOT contains(s, (SELECT pat FROM b4)))""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // ---- pair→cluster resolution ----------------------------------------
    QuerySpec(
      "dedup_components",
      // DuckDB replays the same edge set and closes it with a recursive
      // CTE; component = min reachable id. The Spark side runs the
      // at-scale large-graph algorithm (min-label propagation + pointer
      // jumping), so this checks that the distributed algorithm reaches
      // the true transitive closure.
      "WITH RECURSIVE\n" + componentsChainSql + """
        |SELECT id, min(r) AS component FROM reach GROUP BY id
        |ORDER BY id""".stripMargin) { (s, dir) =>
      Components.connectedComponents(exactDedupEdges(t(s, dir, "documents")))
        .orderBy(col("id"))
    },

    QuerySpec.noOracle("dedup_clusters") { (s, dir) =>
      // the 100-TB path: MinHash-LSH pairs → components → cluster sizes
      // (hash-family-specific, so rows-only; the algorithm itself is
      // oracle-proven by dedup_components above and OperatorSpec).
      Components.clusterSummary(
          Components.nearDupClusters(t(s, dir, "documents"), threshold = 0.3))
        .select(col("component"), col("size"),
          element_at(col("member_ids"), -1).as("max_member"))
        .orderBy(col("component"))
    },

    QuerySpec(
      "dedup_keep_best",
      // Quality-aware cluster resolution: production near-dup pipelines
      // keep the BEST document per duplicate cluster (RefinedWeb,
      // FineWeb), not the min-id one — min-id silently prefers whichever
      // shard was ingested first. Same edge set + recursive-CTE closure
      // as dedup_components; the keep rule is argmax over exact integer
      // quality signals (token count, then distinct-token count, then
      // min doc_id) so both engines rank identically with no float in
      // the decision. Singletons (no edge) are their own component and
      // trivially kept. NULL-text docs score NULL (not size(NULL) = -1)
      // and rank after every real doc on both engines (DESC NULLS LAST
      // pinned explicitly — Spark's and DuckDB's defaults agree here but
      // the contract shouldn't ride on defaults).
      "WITH RECURSIVE\n" + componentsChainSql + """,
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |scored AS (
        |  SELECT doc_id,
        |    CAST(len(tk) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct
        |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk
        |        FROM documents)),
        |lab AS (
        |  SELECT s.doc_id, coalesce(c.component, s.doc_id) AS component,
        |         s.n_tokens, s.n_distinct
        |  FROM scored s LEFT JOIN comp c ON s.doc_id = c.id)
        |SELECT doc_id, component, n_tokens, n_distinct,
        |  row_number() OVER (PARTITION BY component
        |    ORDER BY n_tokens DESC NULLS LAST, n_distinct DESC NULLS LAST, doc_id) = 1 AS keep
        |FROM lab ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val comp = Components.connectedComponents(exactDedupEdges(docs))
      // quality signals reduce to two longs BEFORE the component shuffle
      // and the window — text never moves after the map-side projection.
      // NULL text → NULL counts (size(NULL) would be -1 under the
      // legacy sizeOfNull setting and leak a bogus score).
      val scored = docs.select(col("doc_id"),
        when(col("text").isNotNull,
          size(tokens(col("text"))).cast("long")).as("n_tokens"),
        when(col("text").isNotNull,
          size(array_distinct(tokens(col("text")))).cast("long")).as("n_distinct"))
      val lab = scored.join(comp, scored("doc_id") === comp("id"), "left")
        .select(scored("doc_id"),
          coalesce(col("component"), scored("doc_id")).as("component"),
          col("n_tokens"), col("n_distinct"))
      val w = Window.partitionBy(col("component"))
        .orderBy(col("n_tokens").desc_nulls_last,
          col("n_distinct").desc_nulls_last, col("doc_id"))
      lab.withColumn("keep", row_number().over(w) === 1)
        .select(col("doc_id"), col("component"), col("n_tokens"),
          col("n_distinct"), col("keep"))
        .orderBy(col("doc_id"))
    },

    // ---- term scoring ----------------------------------------------------
    QuerySpec(
      "tfidf_topterms",
      // tf and df are exact ints; idf = ln(N/df) is the only transcendental
      // and is round-6'd on both sides. Ranking stays on the raw double
      // with a term tie-break (equal (tf, df) ⇒ identical doubles).
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents),
        |n AS (SELECT count(*) AS n_docs FROM toks),
        |tf AS (SELECT doc_id, t, count(*) AS tf
        |       FROM (SELECT doc_id, unnest(tk) AS t FROM toks) GROUP BY 1, 2),
        |df AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id, tf.t AS term, tf.tf,
        |    tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS score
        |  FROM tf JOIN df USING (t) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, tf, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
        |  FROM scored)
        |SELECT doc_id, term, tf, round(score, 6) AS score, rn
        |FROM ranked WHERE rn <= 5 ORDER BY doc_id, rn""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      val tf = toks.groupBy(col("doc_id"), col("t"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, Seq("t")).crossJoin(broadcast(n))
        .select(col("doc_id"), col("t").as("term"), col("tf"),
          (col("tf") * log(col("n_docs").cast("double") / col("df"))).as("score"))
      import org.apache.spark.sql.expressions.Window
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id"))
            .orderBy(col("score").desc, col("term"))))
        .filter(col("rn") <= 5)
        .select(col("doc_id"), col("term"), col("tf"),
          round(col("score"), 6).as("score"), col("rn"))
        .orderBy(col("doc_id"), col("rn"))
    },

    QuerySpec(
      "bm25_search",
      // Okapi BM25 (k1=1.2, b=0.75) over a literal query term set; the
      // whole corpus is ranked. Per-doc sums span ≤4 addends so round-6
      // absorbs addition-order noise; rank ties break on doc_id.
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents),
        |stats AS (SELECT count(*) AS n_docs, avg(len(tk)) AS avgdl FROM toks),
        |tf AS (SELECT doc_id, t, count(*) AS tf
        |       FROM (SELECT doc_id, unnest(tk) AS t FROM toks) x
        |       WHERE t IN ('customer', 'query', 'spark', 'order') GROUP BY 1, 2),
        |df AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
        |dl AS (SELECT doc_id, len(tk) AS dl FROM toks),
        |scored AS (
        |  SELECT tf.doc_id,
        |    sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) *
        |        tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
        |  FROM tf JOIN df USING (t) JOIN dl USING (doc_id) CROSS JOIN stats
        |  GROUP BY tf.doc_id),
        |ranked AS (
        |  SELECT doc_id, score,
        |    row_number() OVER (ORDER BY score DESC, doc_id) AS rn
        |  FROM scored)
        |SELECT doc_id, round(score, 6) AS score, rn
        |FROM ranked WHERE rn <= 20 ORDER BY rn""".stripMargin) { (s, dir) =>
      // global top-20 BEFORE the rank window: orderBy+limit fuses to
      // TakeOrderedAndProject (per-partition heaps), so the partition-less
      // row_number only ever sees 20 rows — ranking the full scored corpus
      // in one window partition is the classic global-top-k scale trap
      // (operator: Retrieval.bm25TopK)
      graft.operators.Retrieval.bm25TopK(t(s, dir, "documents"),
          Seq("customer", "query", "spark", "order"), k = 20)
        .select(col("doc_id"), round(col("score"), 6).as("score"), col("rn"))
        .orderBy(col("rn"))
    },

    QuerySpec(
      "search_hybrid_rrf",
      // Hybrid lexical+vector retrieval via reciprocal-rank fusion
      // (Cormack et al. 2009): BM25 top-50 fused with cosine top-50 around
      // the vec_id-0 embedding, rrf = Σ 1/(60+rank). Each 1/(60+rn) is one
      // correctly-rounded double op on exact ints and the two-term sum has
      // fixed order, so ranking on the RAW fused score is engine-exact.
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents),
        |stats AS (SELECT count(*) AS n_docs, avg(len(tk)) AS avgdl FROM toks),
        |tf AS (SELECT doc_id, t, count(*) AS tf
        |       FROM (SELECT doc_id, unnest(tk) AS t FROM toks) x
        |       WHERE t IN ('customer', 'query', 'spark', 'order') GROUP BY 1, 2),
        |df AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
        |dl AS (SELECT doc_id, len(tk) AS dl FROM toks),
        |scored AS (
        |  SELECT tf.doc_id,
        |    sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) *
        |        tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
        |  FROM tf JOIN df USING (t) JOIN dl USING (doc_id) CROSS JOIN stats
        |  GROUP BY tf.doc_id),
        |lex AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rn
        |  FROM scored QUALIFY lex_rn <= 50),
        |q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id = 0),
        |vecl AS (
        |  SELECT c.vec_id AS doc_id,
        |    row_number() OVER (ORDER BY list_cosine_similarity((SELECT e FROM q), c.embedding::DOUBLE[]) DESC, c.vec_id) AS vec_rn
        |  FROM embeddings c WHERE c.vec_id <> 0
        |  QUALIFY vec_rn <= 50),
        |fused AS (
        |  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
        |    coalesce(1.0::DOUBLE / (60 + l.lex_rn), 0.0) +
        |    coalesce(1.0::DOUBLE / (60 + v.vec_rn), 0.0) AS rrf,
        |    l.lex_rn, v.vec_rn
        |  FROM lex l FULL JOIN vecl v ON l.doc_id = v.doc_id)
        |SELECT doc_id, round(rrf, 6) AS rrf, lex_rn, vec_rn,
        |  row_number() OVER (ORDER BY rrf DESC, doc_id) AS rn
        |FROM fused QUALIFY rn <= 20 ORDER BY rn""".stripMargin) { (s, dir) =>
      graft.operators.Retrieval.hybridRrf(
          t(s, dir, "documents"), t(s, dir, "embeddings"),
          Seq("customer", "query", "spark", "order"),
          queryVecId = 0L, topEach = 50, kRrf = 60, k = 20)
        .select(col("doc_id"), round(col("rrf"), 6).as("rrf"),
          col("lex_rn"), col("vec_rn"), col("rn"))
        .orderBy(col("rn"))
    },

    // ---- repetition quality filters --------------------------------------
    QuerySpec(
      "text_repetition",
      // Gopher-style repetition signals: duplicate-word fraction, top-word
      // fraction, duplicate 2-/3-gram fractions. All ratios of exact ints.
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents),
        |freq AS (SELECT doc_id, t, count(*) AS c
        |         FROM (SELECT doc_id, unnest(tk) AS t FROM toks) GROUP BY 1, 2),
        |top AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot, count(*) AS nd
        |        FROM freq GROUP BY 1),
        |grams AS (SELECT doc_id,
        |  CASE WHEN len(tk) >= 2 THEN list_transform(generate_series(1, len(tk)-1), i -> tk[i] || ' ' || tk[i+1]) ELSE [] END AS g2,
        |  CASE WHEN len(tk) >= 3 THEN list_transform(generate_series(1, len(tk)-2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) ELSE [] END AS g3
        |  FROM toks)
        |SELECT k.doc_id,
        |  round(CASE WHEN coalesce(tot, 0) > 0 THEN 1.0 - CAST(nd AS DOUBLE) / tot ELSE 0.0 END, 6) AS dup_word_frac,
        |  round(CASE WHEN coalesce(tot, 0) > 0 THEN CAST(mx AS DOUBLE) / tot ELSE 0.0 END, 6) AS top_word_frac,
        |  round(CASE WHEN len(g2) > 0 THEN 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) ELSE 0.0 END, 6) AS dup_2gram_frac,
        |  round(CASE WHEN len(g3) > 0 THEN 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3) ELSE 0.0 END, 6) AS dup_3gram_frac
        |FROM toks k
        |LEFT JOIN top USING (doc_id)
        |JOIN grams USING (doc_id)
        |ORDER BY k.doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
      val freq = toks.select(col("doc_id"), explode(col("tk")).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      val top = freq.groupBy(col("doc_id"))
        .agg(max(col("c")).as("mx"), sum(col("c")).as("tot"),
          count(lit(1)).as("nd"))
      val grams = toks.select(col("doc_id"),
        word_shingles(col("tk"), 2).as("g2"),
        word_shingles(col("tk"), 3).as("g3"))
      def dupFrac(g: org.apache.spark.sql.Column) =
        when(size(g) > 0,
          lit(1.0) - size(array_distinct(g)).cast("double") / size(g))
          .otherwise(lit(0.0))
      toks.join(top, Seq("doc_id"), "left").join(grams, Seq("doc_id"))
        .select(col("doc_id"),
          round(when(coalesce(col("tot"), lit(0L)) > 0,
            lit(1.0) - col("nd").cast("double") / col("tot"))
            .otherwise(lit(0.0)), 6).as("dup_word_frac"),
          round(when(coalesce(col("tot"), lit(0L)) > 0,
            col("mx").cast("double") / col("tot"))
            .otherwise(lit(0.0)), 6).as("top_word_frac"),
          round(dupFrac(col("g2")), 6).as("dup_2gram_frac"),
          round(dupFrac(col("g3")), 6).as("dup_3gram_frac"))
        .orderBy(col("doc_id"))
    },

    // ---- deterministic sampling ------------------------------------------
    QuerySpec(
      "sample_hash",
      // Bernoulli sampling that any engine reproduces: keep rows whose
      // md5(id) hex string sorts below the threshold — ~0x28/0x100 ≈ 15.6%.
      // The same idiom shards a 100-TB corpus into stable train/eval splits.
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE md5(CAST(doc_id AS VARCHAR)) < '28'
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .filter(md5(col("doc_id").cast("string")) < "28")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    QuerySpec(
      "sample_stratified",
      // Exact-n per-stratum sampling: rank by md5(id) within each language
      // and keep 5. Deterministic (md5 collisions impossible at any n that
      // fits in a cluster), so resampling a grown corpus is stable.
      """SELECT doc_id, lang, rn FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) x
        |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      t(s, dir, "documents")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("lang"))
            .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
        .filter(col("rn") <= 5)
        .select(col("doc_id"), col("lang"), col("rn"))
        .orderBy(col("lang"), col("rn"))
    },

    // ---- semantic (embedding-cluster) dedup ------------------------------
    QuerySpec(
      "dedup_semantic",
      // SemDeDup replayed end-to-end: deterministic coarse centroids
      // (every step-th vector, first nlist in id order — the QUALIFY
      // replays Spark's ORDER BY id LIMIT nlist; a `vec_id // step <
      // nlist` clause would silently assume DENSE 0..n-1 ids and pick a
      // different centroid set on sparse-id corpora like the ScaleData
      // sf1/sf10 fixtures), argmax assignment (tie → smallest centroid),
      // within-cluster cosine ≥ 0.42 against any smaller id ⇒ dropped
      // (the fixture's top decile of similarity; sf1's perturbed copies sit
      // far above it, so the same query drops true near-dups at scale).
      // Cosines compare on raw doubles (DOUBLE[] cast matches Spark's
      // double accumulation); no cosine is emitted, so no rounding needed.
      """WITH nn AS (SELECT count(*) AS n FROM embeddings),
        |params AS (SELECT greatest(n // 64, 8) AS nlist,
        |                  greatest(n // greatest(n // 64, 8), 1) AS step FROM nn),
        |cents AS (
        |  SELECT vec_id // step AS centroid_id, embedding::DOUBLE[] AS cv
        |  FROM embeddings, params
        |  WHERE vec_id % step = 0
        |  QUALIFY row_number() OVER (ORDER BY vec_id) <= nlist),
        |assigned AS (
        |  SELECT vec_id, v, centroid_id FROM (
        |    SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.centroid_id,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv) DESC, c.centroid_id) AS crn
        |    FROM embeddings e CROSS JOIN cents c) x WHERE crn = 1),
        |dropped AS (
        |  SELECT DISTINCT b.vec_id FROM assigned a JOIN assigned b
        |    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.42)
        |SELECT a.vec_id, a.centroid_id, d.vec_id IS NULL AS kept
        |FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
        |ORDER BY a.vec_id""".stripMargin) { (s, dir) =>
      // nlist = 0 -> derived max(8, n/64): pins mean cluster size so the
      // within-cluster pair work scales LINEARLY in corpus size (the sf10
      // scale point measured the fixed-nlist form at 52x for 10x data);
      // at sf0.01 (n=500) the derived k is exactly the former nlist=8
      Dedup.semDedup(t(s, dir, "embeddings"), nlist = 0, threshold = 0.42,
          targetClusterSize = 64)
        .orderBy(col("vec_id"))
    },

    QuerySpec(
      "text_decontaminate_ngram",
      // n-gram-overlap decontamination (text_decontaminate is the literal
      // ban-phrase variant): benchmark = every 97th doc, 3-grams (fixture
      // docs are ~25-60 tokens, so 13-grams would be vacuous at this SF).
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(tk) >= 3 THEN
        |    list_transform(generate_series(1, len(tk)-2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
        |    ELSE [] END)) AS gram
        |  FROM toks),
        |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
        |hits AS (SELECT g.doc_id, count(DISTINCT g.gram) AS n_hits
        |         FROM grams g JOIN bench USING (gram) GROUP BY 1)
        |SELECT t.doc_id,
        |  coalesce(n_hits, 0) AS n_contaminated_grams,
        |  coalesce(n_hits, 0) > 0 AS contaminated
        |FROM toks t LEFT JOIN hits USING (doc_id) ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.operators.TextAnalysis.ngramDecontaminate(
          docs, docs.filter(col("doc_id") % 97 === 0), n = 3)
        .orderBy(col("doc_id"))
    },

    QuerySpec(
      "text_decontaminate_bloom",
      // The 100 TB form of text_decontaminate_ngram: the benchmark gram
      // SET is replaced by its 4096-bit Bloom bitmap (k=4, md5 double
      // hashing) — at real scale the bitmap broadcast is ~50x smaller
      // than the exact gram set. Deterministic md5 double hashing means
      // even the false positives replay bit-for-bit in DuckDB, so this
      // is hash-exact-checked, not a rows-only twin.
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(tk) >= 3 THEN
        |    list_transform(generate_series(1, len(tk)-2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
        |    ELSE [] END)) AS gram
        |  FROM toks),
        |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
        |pos AS (
        |  SELECT unnest(list_transform(generate_series(0, 3), i -> (h1 + i*h2) % 4096)) AS p
        |  FROM (SELECT ('0x' || substr(md5(gram), 1, 15))::BIGINT % 4096 AS h1,
        |               ('0x' || substr(md5(gram), 16, 15))::BIGINT % 4096 AS h2
        |        FROM bench)),
        |setw AS (SELECT p // 32 AS w, bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS b
        |         FROM pos GROUP BY 1),
        |bits AS (SELECT list(coalesce(b, 0) ORDER BY w) AS bits
        |         FROM (SELECT range AS w FROM range(0, 128)) allw LEFT JOIN setw USING (w)),
        |probe AS (
        |  SELECT doc_id, gram,
        |    ('0x' || substr(md5(gram), 1, 15))::BIGINT % 4096 AS h1,
        |    ('0x' || substr(md5(gram), 16, 15))::BIGINT % 4096 AS h2
        |  FROM grams),
        |hits AS (
        |  SELECT p.doc_id, count(DISTINCT p.gram) AS n_hits
        |  FROM probe p, bits
        |  WHERE len(list_filter(list_transform(generate_series(0, 3), i -> (p.h1 + i*p.h2) % 4096),
        |        q -> (bits.bits[CAST(q // 32 AS INT) + 1] & (1::BIGINT << CAST(q % 32 AS INT))) != 0)) = 4
        |  GROUP BY 1)
        |SELECT t.doc_id,
        |  coalesce(n_hits, 0) AS n_bloom_hits,
        |  coalesce(n_hits, 0) > 0 AS flagged
        |FROM toks t LEFT JOIN hits USING (doc_id) ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.operators.Bloom.ngramDecontaminate(
          docs, docs.filter(col("doc_id") % 97 === 0), n = 3, m = 4096, k = 4)
        .orderBy(col("doc_id"))
    },

    QuerySpec(
      "graph_pagerank",
      // Domain-authority scoring: PageRank over the cross-source content
      // syndication graph (sources sharing an exact-dup fingerprint).
      // Fixed-point integer arithmetic (scale 1e9, damping 85/100) makes
      // all three unrolled iterations bit-exact in any engine — no
      // float-summation-order latitude, no rounding caveats.
      """WITH fpsrc AS (
        |  SELECT DISTINCT md5(substring(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 60)) AS fp,
        |         source
        |  FROM documents),
        |e AS (SELECT DISTINCT a.source AS src, b.source AS dst
        |      FROM fpsrc a JOIN fpsrc b USING (fp) WHERE a.source <> b.source),
        |vs AS (SELECT DISTINCT source AS node FROM documents),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |c AS (SELECT count(*) AS n FROM vs),
        |r0 AS (SELECT node, 1000000000 // n AS r FROM vs CROSS JOIN c),
        |d1 AS (SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dm FROM r0 LEFT JOIN deg ON r0.node = deg.src WHERE deg.deg IS NULL),
        |ct1 AS (SELECT e.dst AS node, CAST(sum(r0.r // deg.deg) AS BIGINT) AS contrib
        |        FROM r0 JOIN deg ON r0.node = deg.src JOIN e ON e.src = r0.node GROUP BY 1),
        |r1 AS (SELECT vs.node,
        |         CAST(((15::BIGINT * 1000000000) // 100) // n + (85 * (coalesce(contrib, 0) + dm // n)) // 100 AS BIGINT) AS r
        |       FROM vs CROSS JOIN c CROSS JOIN d1 LEFT JOIN ct1 ON vs.node = ct1.node),
        |d2 AS (SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dm FROM r1 LEFT JOIN deg ON r1.node = deg.src WHERE deg.deg IS NULL),
        |ct2 AS (SELECT e.dst AS node, CAST(sum(r1.r // deg.deg) AS BIGINT) AS contrib
        |        FROM r1 JOIN deg ON r1.node = deg.src JOIN e ON e.src = r1.node GROUP BY 1),
        |r2 AS (SELECT vs.node,
        |         CAST(((15::BIGINT * 1000000000) // 100) // n + (85 * (coalesce(contrib, 0) + dm // n)) // 100 AS BIGINT) AS r
        |       FROM vs CROSS JOIN c CROSS JOIN d2 LEFT JOIN ct2 ON vs.node = ct2.node),
        |d3 AS (SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dm FROM r2 LEFT JOIN deg ON r2.node = deg.src WHERE deg.deg IS NULL),
        |ct3 AS (SELECT e.dst AS node, CAST(sum(r2.r // deg.deg) AS BIGINT) AS contrib
        |        FROM r2 JOIN deg ON r2.node = deg.src JOIN e ON e.src = r2.node GROUP BY 1),
        |r3 AS (SELECT vs.node,
        |         CAST(((15::BIGINT * 1000000000) // 100) // n + (85 * (coalesce(contrib, 0) + dm // n)) // 100 AS BIGINT) AS r
        |       FROM vs CROSS JOIN c CROSS JOIN d3 LEFT JOIN ct3 ON vs.node = ct3.node)
        |SELECT node, r AS rank_fp FROM r3 ORDER BY rank_fp DESC, node""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val fpsrc = docs.select(
          md5(substring(normalize_text(col("text")), 1, 60)).as("fp"),
          col("source")).distinct()
      val edges = fpsrc.as("a").join(fpsrc.as("b"), Seq("fp"))
        .filter(col("a.source") =!= col("b.source"))
        .select(col("a.source").as("src"), col("b.source").as("dst"))
      val nodes = docs.select(col("source").as("node"))
      graft.operators.PageRank.fixedPoint(edges, Some(nodes), iters = 3)
        .orderBy(col("rank_fp").desc, col("node"))
    },

    QuerySpec(
      "text_decontaminate_ac",
      // Aho–Corasick ban-phrase matching: 12 phrases incl. prefix pairs
      // ("scan" / "scan slow"), overlapping suffixes ("table scan"),
      // 3-word phrases, and guaranteed misses. The oracle replays the
      // SEMANTICS (per-phrase contains) — the kernel is the O(bytes)
      // automaton, bit-identity asserted separately in RegressionSpec.
      """WITH p AS (SELECT ['customer query', 'spark order', 'hash join', 'scan',
        |                   'scan slow', 'sort merge', 'vector', 'row fast merge',
        |                   'table scan', 'merge batch', 'quantum leap', 'zzz'] AS ph)
        |SELECT doc_id,
        |  coalesce(array_to_string(list_filter(generate_series(0, 11), i -> contains(text, ph[i+1])), ','), '') AS matched_ids,
        |  CAST(len(list_filter(generate_series(0, 11), i -> contains(text, ph[i+1]))) AS INT) AS n_matched,
        |  len(list_filter(generate_series(0, 11), i -> contains(text, ph[i+1]))) > 0 AS contaminated
        |FROM documents, p ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val phrases = Seq("customer query", "spark order", "hash join", "scan",
        "scan slow", "sort merge", "vector", "row fast merge",
        "table scan", "merge batch", "quantum leap", "zzz")
      graft.operators.TextAnalysis.banPhraseMatches(
          t(s, dir, "documents"), phrases)
        .orderBy(col("doc_id"))
    },

    QuerySpec(
      "snapshot_diff",
      // Corpus-version delta (incremental-pipeline bookkeeping): old =
      // ids not divisible by 7, new = ids not divisible by 5 with every
      // 11th doc's text perturbed — exercising all four statuses.
      """WITH older AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        |newer AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text
        |          FROM documents WHERE doc_id % 5 <> 0),
        |o AS (SELECT doc_id, md5(coalesce(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '')) AS fp_old FROM older),
        |n AS (SELECT doc_id, md5(coalesce(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '')) AS fp_new FROM newer)
        |SELECT doc_id,
        |  CASE WHEN fp_old IS NULL THEN 'added'
        |       WHEN fp_new IS NULL THEN 'removed'
        |       WHEN fp_old = fp_new THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val older = docs.filter(col("doc_id") % 7 =!= 0)
      val newer = docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      graft.operators.Snapshot.diff(older, newer).orderBy(col("doc_id"))
    },

    QuerySpec(
      "snapshot_apply",
      // CDC changeset-apply (the write side of snapshot_diff): deletes
      // (id%7=3), in-place upserts (id%7=4, uppercased), inserts
      // (id%7=5 re-keyed +100000), plus a SECOND seq for half the
      // upserts — exercising highest-sequence-wins. Result pinned by
      // (doc_id, text fingerprint).
      """WITH changes AS (
        |  SELECT doc_id, 1 AS seq, 'delete' AS op, CAST(NULL AS VARCHAR) AS text
        |    FROM documents WHERE doc_id % 7 = 3
        |  UNION ALL SELECT doc_id, 1, 'upsert', upper(text) FROM documents WHERE doc_id % 7 = 4
        |  UNION ALL SELECT doc_id + 100000, 1, 'upsert', text || ' v2' FROM documents WHERE doc_id % 7 = 5
        |  UNION ALL SELECT doc_id, 2, 'upsert', text || ' final' FROM documents WHERE doc_id % 14 = 4),
        |latest AS (
        |  SELECT doc_id, op, text FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
        |    FROM changes) WHERE rn = 1),
        |applied AS (
        |  SELECT b.doc_id, b.text FROM documents b LEFT JOIN latest c USING (doc_id)
        |  WHERE c.doc_id IS NULL
        |  UNION ALL SELECT doc_id, text FROM latest WHERE op = 'upsert')
        |SELECT doc_id, md5(coalesce(text, '')) AS fp FROM applied
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val changes =
        base.filter(col("doc_id") % 7 === 3)
          .select(col("doc_id"), lit(1).as("seq"), lit("delete").as("op"),
            lit(null).cast("string").as("text"))
        .unionByName(base.filter(col("doc_id") % 7 === 4)
          .select(col("doc_id"), lit(1).as("seq"), lit("upsert").as("op"),
            upper(col("text")).as("text")))
        .unionByName(base.filter(col("doc_id") % 7 === 5)
          .select((col("doc_id") + 100000).as("doc_id"), lit(1).as("seq"),
            lit("upsert").as("op"), concat(col("text"), lit(" v2")).as("text")))
        .unionByName(base.filter(col("doc_id") % 14 === 4)
          .select(col("doc_id"), lit(2).as("seq"), lit("upsert").as("op"),
            concat(col("text"), lit(" final")).as("text")))
      graft.operators.Snapshot.applyChanges(base, changes, seqCol = Some("seq"))
        .select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("fp"))
        .orderBy(col("doc_id"))
    },

    // ---- dataset assembly: packing and mixing ----------------------------
    QuerySpec(
      "pack_sequences",
      // GPT-style concatenate-and-chunk: within each 200-doc shard, docs
      // concatenate in id order and cut into 1024-token sequences; a doc
      // straddling a cut spans consecutive ones. Pure integer window
      // arithmetic — replayed exactly.
      """WITH toks AS (
        |  SELECT doc_id, doc_id // 200 AS shard,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |cum AS (
        |  SELECT *, CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM toks)
        |SELECT doc_id, shard, n_tokens,
        |  cum_before // 1024 AS first_seq,
        |  (cum_before + greatest(n_tokens, 1) - 1) // 1024 AS last_seq,
        |  (cum_before + greatest(n_tokens, 1) - 1) // 1024 - cum_before // 1024 + 1 AS n_seqs
        |FROM cum ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.TextAnalysis.packSequences(
          t(s, dir, "documents"), seqLen = 1024, shardSize = 200)
        .orderBy(col("doc_id"))
    },

    QuerySpec(
      "batch_padding",
      // Length-grouped batching audit (HF LengthGroupedSampler recipe):
      // within 200-doc shards, batches of 32 formed by (n_tokens, id)
      // order vs naive id order; waste = n·max − Σlen per batch. Pure
      // integer window arithmetic, replayed exactly — and the sorted
      // waste column demonstrates the padding win without GPU time.
      """WITH toks AS (
        |  SELECT doc_id, doc_id // 200 AS shard,
        |    coalesce(CAST(len(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS BIGINT), 0) AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY n_tokens, doc_id) AS srn,
        |            row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS nrn
        |  FROM toks),
        |b AS (SELECT shard, n_tokens, (srn - 1) // 32 AS sb, (nrn - 1) // 32 AS nb FROM r),
        |s AS (SELECT shard, sb AS batch, count(*) AS n_docs, max(n_tokens) AS sorted_max,
        |        CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT) AS sorted_waste
        |      FROM b GROUP BY 1, 2),
        |nv AS (SELECT shard, nb AS batch, max(n_tokens) AS naive_max,
        |        CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT) AS naive_waste
        |      FROM b GROUP BY 1, 2)
        |SELECT s.shard, s.batch, n_docs, sorted_max, sorted_waste, naive_max, naive_waste
        |FROM s JOIN nv ON s.shard = nv.shard AND s.batch = nv.batch
        |ORDER BY s.shard, s.batch""".stripMargin) { (s, dir) =>
      graft.operators.TextAnalysis.batchPaddingStats(
          t(s, dir, "documents"), batchSize = 32, shardSize = 200)
        .orderBy(col("shard"), col("batch"))
    },

    QuerySpec(
      "sample_mixture",
      // Domain mixing to a 10k-token budget with power-of-two weights
      // (their sum is EXACTLY 1.0 in binary under any summation order, so
      // the normalizing division is an exact no-op on both engines and the
      // per-lang threshold integer is bit-reproducible).
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |avail AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS avail_tokens FROM toks GROUP BY 1),
        |thr AS (
        |  SELECT lang,
        |    CASE WHEN avail_tokens > 0 THEN
        |    CAST(floor(least(1.0, 10000 *
        |      (CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.25 WHEN 'es' THEN 0.125
        |                 WHEN 'de' THEN 0.0625 WHEN 'fr' THEN 0.0625 ELSE 0.0 END)
        |      / avail_tokens) * 4294967296.0) AS BIGINT) ELSE 0 END AS threshold
        |  FROM avail)
        |SELECT t.doc_id, t.lang, t.n_tokens, thr.threshold,
        |  ('0x' || substring(md5(CAST(t.doc_id AS VARCHAR)), 1, 8))::BIGINT < thr.threshold AS kept
        |FROM toks t JOIN thr USING (lang) ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.mixtureSample(
          t(s, dir, "documents"),
          weights = Map("en" -> 0.5, "zh" -> 0.25, "es" -> 0.125,
            "de" -> 0.0625, "fr" -> 0.0625),
          budgetTokens = 10000L)
        .orderBy(col("doc_id"))
    },

    QuerySpec(
      "sample_temperature",
      // mT5-style α=0.5 temperature mixing (arXiv:2010.11934 §3.1) in the
      // exact-arithmetic form: w_d = floor(sqrt(avail_d)) is an exact
      // integer in both engines (correctly-rounded sqrt of an integer
      // cannot straddle an integer boundary), the normalizer is an
      // INTEGER sum (no float summation-order drift), and the fraction is
      // the same two-division sequence — so the 2^32 threshold and the
      // md5 keep decision replay bit-exact.
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |avail AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS avail_tokens,
        |                 CAST(floor(sqrt(CAST(sum(n_tokens) AS BIGINT))) AS BIGINT) AS w
        |          FROM toks GROUP BY 1),
        |s AS (SELECT CAST(sum(w) AS BIGINT) AS s_norm FROM avail),
        |thr AS (
        |  SELECT lang,
        |    CASE WHEN avail_tokens > 0 THEN
        |    CAST(floor(least(1.0, 10000 * w / s_norm / avail_tokens) * 4294967296.0) AS BIGINT) ELSE 0 END AS threshold
        |  FROM avail CROSS JOIN s)
        |SELECT t.doc_id, t.lang, t.n_tokens, thr.threshold,
        |  ('0x' || substring(md5(CAST(t.doc_id AS VARCHAR)), 1, 8))::BIGINT < thr.threshold AS kept
        |FROM toks t JOIN thr USING (lang) ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.temperatureMixture(
          t(s, dir, "documents"), budgetTokens = 10000L)
        .orderBy(col("doc_id"))
    },

    QuerySpec(
      "curriculum_buckets",
      // Length-curriculum bucketing: bucket = 1 + floor(n·cumBelow/total)
      // over the token-count histogram — all-int inputs, so the only
      // float op is one exact-ratio division whose floor cannot straddle
      // (distance to an integer is ≥ 1/total ≫ double ulp).
      """WITH scored AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS BIGINT) AS score
        |  FROM documents),
        |hist AS (SELECT score, count(*) AS c FROM scored
        |  WHERE score IS NOT NULL GROUP BY 1),
        |cum AS (SELECT score,
        |    CAST(sum(c) OVER (ORDER BY score) - c AS BIGINT) AS cum_below,
        |    (SELECT CAST(sum(c) AS BIGINT) FROM hist) AS total
        |  FROM hist)
        |SELECT s.doc_id, s.score,
        |  CAST(1 + floor(10 * cum_below / total) AS INT) AS bucket
        |FROM scored s JOIN cum USING (score)
        |ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.curriculumBuckets(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    },

    QuerySpec(
      "dsir_weights",
      // DSIR importance resampling (arXiv:2302.03169) toward an English
      // target: hashed-bigram bucket counts (exact ints) → add-1-smoothed
      // log-ratio table → per-doc Σ log-ratio, folded IN DOC ORDER on both
      // engines (list_transform + list_sum here, aggregate() in Spark), so
      // the only cross-engine drift is ln ulps, absorbed by round-6.
      """WITH toks AS (SELECT doc_id, lang, list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk FROM documents),
        |g AS (SELECT doc_id, lang, CASE WHEN len(tk) >= 2 THEN list_transform(generate_series(1, len(tk)-1), i -> tk[i] || ' ' || tk[i+1]) ELSE [] END AS g2 FROM toks),
        |gnz AS (SELECT * FROM g WHERE len(g2) > 0),
        |eb AS (SELECT doc_id, lang, ('0x' || substr(md5(gr), 1, 2))::INT AS bkt
        |       FROM (SELECT doc_id, lang, unnest(g2) AS gr FROM gnz)),
        |cnt AS (SELECT bkt, count(*) AS cq,
        |          sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS cp
        |        FROM eb GROUP BY 1),
        |tot AS (SELECT sum(cq) AS nq, sum(cp) AS np FROM cnt),
        |dense AS (SELECT d.b AS bkt, coalesce(cnt.cq, 0) AS cq, coalesce(cnt.cp, 0) AS cp
        |          FROM generate_series(0, 255) d(b) LEFT JOIN cnt ON cnt.bkt = d.b),
        |lutl AS (SELECT list(ln((cp+1.0)/(np+256.0)) - ln((cq+1.0)/(nq+256.0)) ORDER BY bkt) AS L
        |         FROM dense CROSS JOIN tot),
        |scored AS (SELECT doc_id,
        |    list_sum(list_transform(g2, gr -> L[('0x' || substr(md5(gr), 1, 2))::INT + 1])) AS logw
        |  FROM gnz CROSS JOIN lutl)
        |SELECT doc_id, round(logw, 6) AS dsir_logw,
        |  row_number() OVER (ORDER BY round(logw, 6) DESC, doc_id) AS rn
        |FROM scored QUALIFY rn <= 200 ORDER BY rn""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.dsirWeights(
          t(s, dir, "documents"), isTarget = col("lang") === "en", topK = 200)
        .orderBy(col("rn"))
    },

    QuerySpec(
      "doremi_weights",
      // DoReMi domain reweighting (arXiv:2305.10429, static-proxy
      // simplification): corpus unigram-LM per-domain mean NLL → excess
      // over the best-fit domain → 3 unrolled multiplicative-weights
      // rounds from uniform α. (1−c) is COMPUTED as 1.0-0.01 on both
      // engines (parsed 0.99 differs in the last ulp); Σraw is a k-row
      // float sum whose order drift (~1e-17) round-6 absorbs.
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS token
        |  FROM documents),
        |cnt AS (SELECT token, count(*) AS c FROM toks GROUP BY 1),
        |consts AS (SELECT (SELECT count(*) FROM toks) AS total,
        |                  (SELECT count(*) FROM cnt) AS vs),
        |nll AS (
        |  SELECT t.doc_id,
        |    -avg(ln((cnt.c + 1.0) / (consts.total + consts.vs))) AS avg_nll
        |  FROM toks t JOIN cnt USING (token) CROSS JOIN consts
        |  GROUP BY t.doc_id),
        |dom AS (
        |  -- NULL sources are excluded HERE, not just at the final join:
        |  -- a null-domain row would otherwise inflate k and shift the
        |  -- min-NLL reference, changing every weight
        |  SELECT d.source, avg(n.avg_nll) AS dom_nll
        |  FROM documents d JOIN nll n USING (doc_id)
        |  WHERE d.source IS NOT NULL GROUP BY 1),
        |ex AS (SELECT source,
        |         greatest(0.0, dom_nll - (SELECT min(dom_nll) FROM dom)) AS excess
        |       FROM dom),
        |kk AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM ex),
        |a0 AS (SELECT source, excess, 1.0 / (SELECT k FROM kk) AS alpha FROM ex),
        |i1 AS (SELECT source, excess, alpha * exp(1.0 * excess) AS raw FROM a0),
        |a1 AS (SELECT source, excess,
        |         (1.0 - 0.01) * raw / (SELECT sum(raw) FROM i1)
        |           + 0.01 / (SELECT k FROM kk) AS alpha FROM i1),
        |i2 AS (SELECT source, excess, alpha * exp(1.0 * excess) AS raw FROM a1),
        |a2 AS (SELECT source, excess,
        |         (1.0 - 0.01) * raw / (SELECT sum(raw) FROM i2)
        |           + 0.01 / (SELECT k FROM kk) AS alpha FROM i2),
        |i3 AS (SELECT source, excess, alpha * exp(1.0 * excess) AS raw FROM a2),
        |a3 AS (SELECT source, excess,
        |         (1.0 - 0.01) * raw / (SELECT sum(raw) FROM i3)
        |           + 0.01 / (SELECT k FROM kk) AS alpha FROM i3)
        |SELECT d.doc_id, d.source,
        |  round(a3.excess, 6) AS dom_excess, round(a3.alpha, 6) AS dom_weight
        |FROM documents d JOIN a3 USING (source)
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.doremiWeights(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    },

    QuerySpec(
      "lr_quality",
      // Trainable logistic-regression quality filter: label = the
      // text_quality composite > 0.62 (bit-exact int/int arithmetic),
      // 2 unrolled full-batch GD rounds from w=0 at lr 0.5. Every CTE
      // mirrors the Spark arithmetic ORDER (left-assoc dot product,
      // w - 0.5*g updates); drift is avg() summation order + ln/exp
      // ulps (~1e-13 by the final score), absorbed by round-6.
      """WITH base AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents),
        |feat0 AS (
        |  SELECT doc_id,
        |    CAST(len(tk) AS DOUBLE) AS ntok,
        |    CASE WHEN len(tk) > 0 THEN CAST(list_sum(list_transform(tk, t -> len(t))) AS DOUBLE)/len(tk) ELSE 0.0 END AS ml,
        |    CASE WHEN len(text) > 0 THEN CAST(len(text) - len(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE)/len(text) ELSE 0.0 END AS pr,
        |    CASE WHEN len(tk) > 0 THEN CAST(len(list_filter(tk, t -> list_contains(['the','a','and','of','to','in','is','that','it','for'], t))) AS DOUBLE)/len(tk) ELSE 0.0 END AS sw,
        |    CASE WHEN len(text) > 0 THEN CAST(len(text) - len(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE)/len(text) ELSE 0.0 END AS ar
        |  FROM base),
        |f AS (
        |  SELECT doc_id,
        |    CASE WHEN least(greatest(
        |        0.25*least(ntok/100.0, 1.0) + 0.25*least(ml/8.0, 1.0)
        |        + 0.25*(1.0 - least(pr*5.0, 1.0)) + 0.25*least(sw*5.0, 1.0),
        |        0.0), 1.0) > 0.62 THEN 1.0 ELSE 0.0 END AS y,
        |    ln(1.0 + ntok) AS x1, ml AS x2, sw AS x3, ar AS x4
        |  FROM feat0),
        |s1 AS (SELECT *,
        |    1.0/(1.0 + exp(-(0.0 + 0.0*x1 + 0.0*x2 + 0.0*x3 + 0.0*x4))) AS p
        |  FROM f),
        |g1 AS (SELECT avg(p - y) AS g0, avg((p - y)*x1) AS g1,
        |    avg((p - y)*x2) AS g2, avg((p - y)*x3) AS g3,
        |    avg((p - y)*x4) AS g4 FROM s1),
        |w1 AS (SELECT 0.0 - 0.5*g0 AS w0, 0.0 - 0.5*g1 AS w1,
        |    0.0 - 0.5*g2 AS w2, 0.0 - 0.5*g3 AS w3, 0.0 - 0.5*g4 AS w4
        |  FROM g1),
        |s2 AS (SELECT f.*,
        |    1.0/(1.0 + exp(-(w0 + w1*x1 + w2*x2 + w3*x3 + w4*x4))) AS p
        |  FROM f CROSS JOIN w1),
        |g2c AS (SELECT avg(p - y) AS g0, avg((p - y)*x1) AS g1,
        |    avg((p - y)*x2) AS g2, avg((p - y)*x3) AS g3,
        |    avg((p - y)*x4) AS g4 FROM s2),
        |w2 AS (SELECT w1.w0 - 0.5*g2c.g0 AS w0, w1.w1 - 0.5*g2c.g1 AS w1,
        |    w1.w2 - 0.5*g2c.g2 AS w2, w1.w3 - 0.5*g2c.g3 AS w3,
        |    w1.w4 - 0.5*g2c.g4 AS w4
        |  FROM w1 CROSS JOIN g2c)
        |SELECT f.doc_id, CAST(f.y AS INT) AS label,
        |  round(1.0/(1.0 + exp(-(w0 + w1*x1 + w2*x2 + w3*x3 + w4*x4))), 6) AS lr_score
        |FROM f CROSS JOIN w2 ORDER BY f.doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Logistic.fitPredict(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    },

    QuerySpec(
      "nb_langid",
      // Trainable curation classifier: multinomial Naive Bayes trained on
      // the corpus's (text, lang) pairs, then applied back to every doc.
      // Training is exact integer counting + one log per count, so DuckDB
      // replays the ENTIRE train->predict pipeline. Output is only the
      // argmax label (no floats), immune to hash-agg summation reorder.
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS token
        |  FROM documents),
        |cnt AS (SELECT lang AS label, token, count(*) AS c FROM toks GROUP BY 1, 2),
        |tot AS (SELECT label, CAST(sum(c) AS BIGINT) AS total FROM cnt GROUP BY 1),
        |v AS (SELECT count(DISTINCT token) AS vs FROM cnt),
        |pri AS (
        |  SELECT d.lang AS label, ln(count(*) / (SELECT count(*) FROM documents)) AS logprior,
        |         ln(1.0 / (any_value(tot.total) + any_value(v.vs))) AS logunseen
        |  FROM documents d JOIN tot ON tot.label = d.lang CROSS JOIN v
        |  GROUP BY d.lang),
        |w AS (
        |  SELECT cnt.label, cnt.token, ln((cnt.c + 1.0) / (tot.total + v.vs)) AS logp
        |  FROM cnt JOIN tot USING (label) CROSS JOIN v),
        |sc AS (
        |  SELECT t.doc_id, p.label,
        |         any_value(p.logprior) + sum(coalesce(w.logp, p.logunseen)) AS score
        |  FROM toks t CROSS JOIN pri p
        |  LEFT JOIN w ON w.label = p.label AND w.token = t.token
        |  GROUP BY t.doc_id, p.label),
        |best AS (
        |  SELECT doc_id, label AS lang_nb,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label) AS rn
        |  FROM sc)
        |SELECT d.doc_id, d.lang, b.lang_nb
        |FROM documents d JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      // prediction universe = docs with >= 1 token, matching the oracle's
      // toks-derived rows: a token-free (or NULL-text) doc has no features
      // and the SQL formulation never scores it (no-op on dense fixtures)
      docs.filter(size(graft.functions.tokens(col("text"))) > 0)
        .select(col("doc_id"), col("lang"))
        .join(graft.operators.NaiveBayes.fitPredict(docs)
          .withColumnRenamed("label_pred", "lang_nb"), Seq("doc_id"))
        .orderBy(col("doc_id"))
    },

    // ---- end-to-end curation pipeline ------------------------------------
    QuerySpec(
      "curate_pipeline",
      // The whole training-data flow in one plan: quality gate (length +
      // punctuation) → exact-dup removal keeping the min id per normalized
      // 60-char-prefix fingerprint → deterministic md5 train/val split →
      // per (lang, split) corpus stats. Every stage is deterministic
      // arithmetic, so DuckDB replays the complete pipeline.
      """WITH enriched AS (
        |  SELECT doc_id, lang, text,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS n_tokens,
        |    CASE WHEN len(text) > 0 THEN
        |      CAST(len(text) - len(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE) / len(text)
        |      ELSE 0.0 END AS punct_ratio
        |  FROM documents),
        |kept AS (
        |  SELECT *, md5(substring(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 60)) AS fp
        |  FROM enriched WHERE n_tokens >= 20 AND punct_ratio < 0.2),
        |deduped AS (
        |  SELECT * FROM (SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keep_id FROM kept) x
        |  WHERE doc_id = keep_id),
        |split AS (
        |  SELECT *, CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '80' THEN 'train' ELSE 'val' END AS split
        |  FROM deduped)
        |SELECT lang, split, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  min(doc_id) AS first_doc
        |FROM split GROUP BY lang, split ORDER BY lang, split""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val q = graft.operators.TextAnalysis.qualityColumns(col("text"))
      val enriched = docs.select(col("doc_id"), col("lang"), col("text"),
        q(0).cast("long").as("n_tokens"), q(2).as("punct_ratio"))
      val kept = enriched
        .filter(col("n_tokens") >= 20 && col("punct_ratio") < 0.2)
        .withColumn("fp", md5(substring(normalize_text(col("text")), 1, 60)))
      val deduped = kept
        .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
        .filter(col("doc_id") === col("keep_id"))
      deduped
        .withColumn("split",
          when(md5(col("doc_id").cast("string")) < "80", "train").otherwise("val"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          min(col("doc_id")).as("first_doc"))
        .orderBy(col("lang"), col("split"))
    },

    // ---- PII redaction ---------------------------------------------------
    QuerySpec(
      "text_pii",
      // Both engines synthesize the same contact block per doc (the fixture
      // text itself is PII-free), then count and redact emails / phones /
      // IPv4s with regexes in the Java∩RE2 common subset. md5 of the
      // redacted text proves the replacements are byte-identical.
      """WITH aug AS (
        |  SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
        |    || '@example.com phone 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |    || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS s
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(s, '\d{3}-\d{3}-\d{4}')) AS n_phones,
        |  len(regexp_extract_all(s, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
        |  md5(regexp_replace(regexp_replace(regexp_replace(s,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')) AS clean_md5
        |FROM aug ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\d{3}-\\d{3}-\\d{4}"
      val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com phone 555-867-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" ip 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"))
      def nMatches(c: org.apache.spark.sql.Column, re: String) =
        size(call_function("regexp_extract_all", c, lit(re), lit(0))).cast("long")
      // widened (r14): six regex passes per row over a byte-sized scan
      // ran on 1-2 partitions at fixture scale (0.8 s serial); per-row
      // projection + final sort are partition-layout-independent, so
      // results are unchanged and the widen is a no-op at corpus scale
      graft.operators.Par.ensure(t(s, dir, "documents"))
        .withColumn("s", aug)
        .select(col("doc_id"),
          nMatches(col("s"), email).as("n_emails"),
          nMatches(col("s"), phone).as("n_phones"),
          nMatches(col("s"), ip).as("n_ips"),
          md5(regexp_replace(regexp_replace(regexp_replace(col("s"),
            email, "<EMAIL>"), phone, "<PHONE>"), ip, "<IP>")).as("clean_md5"))
        .orderBy(col("doc_id"))
    },

    QuerySpec(
      "bpe_train",
      // BPE tokenizer training (Sennrich et al. 2016, arXiv:1508.07909):
      // 4 merge rounds learned on the word-frequency table — the corpus is
      // touched once (token count hash-agg); each round aggregates pair
      // counts over the VOCAB and rewrites symbol sequences. DuckDB
      // replays every round: pair counts from the split symbol string, the
      // same (cnt DESC, lsym, rsym) argmax, and a RECURSIVE leftmost-first
      // rewrite (regexp_replace without 'g' = first occurrence) that is
      // provably equivalent to Spark's greedy left-to-right fold — a
      // merged symbol can never create a new occurrence of the same pair
      // to its left. Counts are exact integers; no floats anywhere.
      // Fixture contract: tokens are [a-z]+ (so '</w>' cannot collide and
      // the oracle's pattern needs no regex escaping).
      """WITH RECURSIVE tk AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk
        |  FROM documents),
        |wf AS (SELECT unnest(tk) AS word FROM tk),
        |vocab AS (SELECT word, count(*) AS freq FROM wf GROUP BY 1),
        |s0 AS (SELECT word, freq,
        |        ' ' || array_to_string(list_transform(generate_series(1, len(word)), i -> word[i]), ' ') || ' </w> ' AS s
        |       FROM vocab),
        |p1 AS (
        |  SELECT l[i] AS lsym, l[i+1] AS rsym, CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT freq, string_split(trim(s), ' ') AS l FROM s0),
        |       LATERAL (SELECT unnest(generate_series(1, len(l) - 1)) AS i) ii
        |  GROUP BY 1, 2),
        |b1 AS (SELECT lsym, rsym, cnt, ' ' || lsym || ' ' || rsym || ' ' AS pat,
        |              ' ' || lsym || rsym || ' ' AS rep
        |       FROM p1 ORDER BY cnt DESC, lsym, rsym LIMIT 1),
        |a1 AS (
        |  SELECT word, freq, s FROM s0
        |  UNION ALL
        |  SELECT word, freq, regexp_replace(s, (SELECT pat FROM b1), (SELECT rep FROM b1))
        |  FROM a1 WHERE contains(s, (SELECT pat FROM b1))),
        |s1 AS (SELECT word, freq, s FROM a1 WHERE NOT contains(s, (SELECT pat FROM b1))),
        |p2 AS (
        |  SELECT l[i] AS lsym, l[i+1] AS rsym, CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT freq, string_split(trim(s), ' ') AS l FROM s1),
        |       LATERAL (SELECT unnest(generate_series(1, len(l) - 1)) AS i) ii
        |  GROUP BY 1, 2),
        |b2 AS (SELECT lsym, rsym, cnt, ' ' || lsym || ' ' || rsym || ' ' AS pat,
        |              ' ' || lsym || rsym || ' ' AS rep
        |       FROM p2 ORDER BY cnt DESC, lsym, rsym LIMIT 1),
        |a2 AS (
        |  SELECT word, freq, s FROM s1
        |  UNION ALL
        |  SELECT word, freq, regexp_replace(s, (SELECT pat FROM b2), (SELECT rep FROM b2))
        |  FROM a2 WHERE contains(s, (SELECT pat FROM b2))),
        |s2 AS (SELECT word, freq, s FROM a2 WHERE NOT contains(s, (SELECT pat FROM b2))),
        |p3 AS (
        |  SELECT l[i] AS lsym, l[i+1] AS rsym, CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT freq, string_split(trim(s), ' ') AS l FROM s2),
        |       LATERAL (SELECT unnest(generate_series(1, len(l) - 1)) AS i) ii
        |  GROUP BY 1, 2),
        |b3 AS (SELECT lsym, rsym, cnt, ' ' || lsym || ' ' || rsym || ' ' AS pat,
        |              ' ' || lsym || rsym || ' ' AS rep
        |       FROM p3 ORDER BY cnt DESC, lsym, rsym LIMIT 1),
        |a3 AS (
        |  SELECT word, freq, s FROM s2
        |  UNION ALL
        |  SELECT word, freq, regexp_replace(s, (SELECT pat FROM b3), (SELECT rep FROM b3))
        |  FROM a3 WHERE contains(s, (SELECT pat FROM b3))),
        |s3 AS (SELECT word, freq, s FROM a3 WHERE NOT contains(s, (SELECT pat FROM b3))),
        |p4 AS (
        |  SELECT l[i] AS lsym, l[i+1] AS rsym, CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM (SELECT freq, string_split(trim(s), ' ') AS l FROM s3),
        |       LATERAL (SELECT unnest(generate_series(1, len(l) - 1)) AS i) ii
        |  GROUP BY 1, 2),
        |b4 AS (SELECT lsym, rsym, cnt, ' ' || lsym || ' ' || rsym || ' ' AS pat,
        |              ' ' || lsym || rsym || ' ' AS rep
        |       FROM p4 ORDER BY cnt DESC, lsym, rsym LIMIT 1)
        |SELECT merge_round, lsym, rsym, cnt FROM (
        |  SELECT 1 AS merge_round, lsym, rsym, cnt FROM b1 UNION ALL
        |  SELECT 2, lsym, rsym, cnt FROM b2 UNION ALL
        |  SELECT 3, lsym, rsym, cnt FROM b3 UNION ALL
        |  SELECT 4, lsym, rsym, cnt FROM b4)
        |ORDER BY merge_round""".stripMargin) { (s, dir) =>
      graft.operators.Bpe.train(t(s, dir, "documents"), merges = 4)
        .orderBy(col("merge_round"))
    },

    QuerySpec(
      "bpe_apply",
      // The learned 4-rule merge table APPLIED back to the vocabulary —
      // the tokenizer end-to-end: every word's final symbol sequence and
      // piece count. The oracle extends the bpe_train chain one more
      // recursive rewrite (a4/s4) and emits the post-merge state; the
      // Spark side re-derives the rules with Bpe.train (model state, 4
      // rows to the driver) and replays them with the greedy fold.
      bpeApplyChainSql + """
        |SELECT word, CAST(freq AS BIGINT) AS freq,
        |  CAST(len(string_split(trim(s), ' ')) AS INT) AS n_pieces,
        |  trim(s) AS segmented
        |FROM s4 ORDER BY word""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val rules = graft.operators.Bpe.train(docs, merges = 4)
        .orderBy(col("merge_round")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.Bpe.segment(graft.operators.Bpe.vocab(docs), rules)
        .select(col("word"), col("freq"),
          size(col("syms")).as("n_pieces"),
          array_join(col("syms"), " ").as("segmented"))
        .orderBy(col("word"))
    },

    QuerySpec(
      "bpe_coverage",
      // Tokenizer-QA metrics over the SAME segmented state the bpe_apply
      // oracle replays: fertility (pieces/word), compression (chars/
      // piece), vocabulary size, and the freq-weighted fraction of
      // pieces still single characters (unmerged residue — the signal a
      // too-small merge budget leaves). Every metric is a division of
      // exact integer counts — deterministic IEEE doubles, no rounding.
      // The chain MUST run MATERIALIZED here: this SELECT references s4
      // three times (pieces + two scalar subqueries), and DuckDB's
      // default inlining re-expands the whole recursive rewrite chain
      // per reference — >300 s planned vs 0.5 s materialized (the same
      // blowup bpeBatchedOracleSql documents).
      Seq("tk", "wf", "vocab", "s0", "p1", "b1", "s1", "p2", "b2", "s2",
        "p3", "b3", "s3", "p4", "b4", "s4")
        .foldLeft(bpeApplyChainSql)((q, cte) =>
          q.replace(s"$cte AS (", s"$cte AS MATERIALIZED (")) + """,
        |pieces AS MATERIALIZED (SELECT freq, unnest(string_split(trim(s), ' ')) AS piece FROM s4)
        |SELECT CAST((SELECT sum(freq) FROM s4) AS BIGINT) AS total_words,
        |  CAST(sum(freq) AS BIGINT) AS total_pieces,
        |  CAST(count(DISTINCT piece) AS BIGINT) AS piece_types,
        |  CAST(sum(CASE WHEN len(piece) = 1 THEN freq ELSE 0 END) AS DOUBLE) / sum(freq) AS singleton_frac,
        |  CAST(sum(freq * len(piece)) AS DOUBLE) / sum(freq) AS mean_piece_chars,
        |  CAST(sum(freq) AS DOUBLE) / (SELECT sum(freq) FROM s4) AS pieces_per_word
        |FROM pieces""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val rules = graft.operators.Bpe.train(docs, merges = 4)
        .orderBy(col("merge_round")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val seg = graft.operators.Bpe.segment(
        graft.operators.Bpe.vocab(docs), rules)
      val pieces = seg.select(col("freq"), explode(col("syms")).as("piece"))
      val tw = seg.agg(sum(col("freq")).as("total_words"))
      pieces.agg(
          sum(col("freq")).as("_tp"),
          count_distinct(col("piece")).as("piece_types"),
          sum(when(length(col("piece")) === 1, col("freq")).otherwise(0L))
            .as("_single"),
          sum(col("freq") * length(col("piece"))).as("_chars"))
        .crossJoin(tw)
        .select(col("total_words"), col("_tp").as("total_pieces"),
          col("piece_types"),
          (col("_single").cast("double") / col("_tp")).as("singleton_frac"),
          (col("_chars").cast("double") / col("_tp")).as("mean_piece_chars"),
          (col("_tp").cast("double") / col("total_words")).as("pieces_per_word"))
    },

    QuerySpec(
      "bpe_train_batched",
      // Batched BPE (Bpe.trainBatched): 64 rules in 4 corpus passes of 16
      // — the production path that cuts driver rounds by the batch factor
      // (strict Sennrich is one Spark job per rule; 32k rules = 32k
      // scheduler round-trips). DuckDB replays the IDENTICAL algorithm,
      // generated below: per pass the M-bounded ranked candidate list,
      // the greedy triple-set-disjoint selection (one b/u CTE pair per
      // rule; disjointness keeps every selected count exact), and one
      // recursive leftmost-first rewrite per selected rule (sequential
      // rewrite ≡ Spark's combined single pass BECAUSE the rules are
      // disjoint — see Bpe.applyMerges).
      bpeBatchedOracleSql(merges = 64, batch = 16, candidateFactor = 8)) { (s, dir) =>
      graft.operators.Bpe.trainBatched(t(s, dir, "documents"),
          merges = 64, batch = 16, candidateFactor = 8)
        .orderBy(col("merge_round"))
    },

    QuerySpec(
      "split_leakage_safe",
      // Leakage-safe train/val/test assignment: the split hashes the
      // DUPLICATE-CLUSTER label (min doc_id over the 60-char-prefix
      // fingerprint group — dedup_exact's normalization), so duplicates
      // can never straddle a split boundary (the classic eval-
      // contamination bug). Pure md5 arithmetic on both engines.
      """WITH fp AS (
        |  SELECT doc_id,
        |    md5(substring(coalesce(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ''), 1, 60)) AS fp
        |  FROM documents),
        |reps AS (SELECT fp, min(doc_id) AS cluster_id FROM fp GROUP BY 1)
        |SELECT f.doc_id, r.cluster_id,
        |  ('0x' || substring(md5(CAST(r.cluster_id AS VARCHAR) || ':split'), 1, 4))::INT % 10 AS bucket,
        |  CASE WHEN ('0x' || substring(md5(CAST(r.cluster_id AS VARCHAR) || ':split'), 1, 4))::INT % 10 <= 7 THEN 'train'
        |       WHEN ('0x' || substring(md5(CAST(r.cluster_id AS VARCHAR) || ':split'), 1, 4))::INT % 10 = 8 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM fp f JOIN reps r USING (fp)
        |ORDER BY f.doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.leakageSafeSplit(
          t(s, dir, "documents"), prefixLen = 60)
        .orderBy(col("doc_id"))
    },

    QuerySpec(
      "validate_constraints",
      // Deequ-style constraint audit over orders (operators/Validation):
      // the rule mix exercises every metric family AND both verdicts —
      // uniqueness(o_custkey) genuinely fails (customers repeat), the
      // rest pass. All metrics are ratios of exact integer counts; only
      // the final division is rounded (6) on both sides. Thresholds are
      // CAST(...AS DOUBLE) in the oracle because a bare DuckDB decimal
      // literal is DECIMAL, and the driver hash is type-sensitive.
      """WITH rl AS (
        |  SELECT 'completeness' AS rule, 'o_custkey' AS col_name,
        |    round(CAST(sum(CASE WHEN o_custkey IS NOT NULL THEN 1.0 ELSE 0.0 END) AS DOUBLE) / count(*), 6) AS metric,
        |    CAST(1.0 AS DOUBLE) AS threshold
        |  FROM orders
        |  UNION ALL
        |  SELECT 'in_range', 'o_totalprice',
        |    round(CAST(sum(CASE WHEN CAST(o_totalprice AS DOUBLE) BETWEEN 0.0 AND 200000.0 THEN 1.0 ELSE 0.0 END) AS DOUBLE) / count(*), 6),
        |    CAST(0.9 AS DOUBLE)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'accepted_values', 'o_orderstatus',
        |    round(CAST(sum(CASE WHEN CAST(o_orderstatus AS VARCHAR) IN ('F', 'O', 'P') THEN 1.0 ELSE 0.0 END) AS DOUBLE) / count(*), 6),
        |    CAST(1.0 AS DOUBLE)
        |  FROM orders),
        |uq AS (
        |  SELECT 'uniqueness' AS rule, col_name,
        |    round(CAST(u AS DOUBLE) / n, 6) AS metric, CAST(1.0 AS DOUBLE) AS threshold
        |  FROM (
        |    SELECT 'o_orderkey' AS col_name,
        |      sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS u, sum(c) AS n
        |    FROM (SELECT o_orderkey, count(*) AS c FROM orders GROUP BY 1)
        |    UNION ALL
        |    SELECT 'o_custkey',
        |      sum(CASE WHEN c = 1 THEN 1 ELSE 0 END), sum(c)
        |    FROM (SELECT o_custkey, count(*) AS c FROM orders GROUP BY 1))),
        |fk AS (
        |  SELECT 'referenced_in' AS rule, 'o_custkey' AS col_name,
        |    round(1.0 - CAST((SELECT count(*) FROM orders
        |        WHERE o_custkey IS NULL
        |           OR o_custkey NOT IN (SELECT c_custkey FROM customer)) AS DOUBLE)
        |      / (SELECT count(*) FROM orders), 6) AS metric,
        |    CAST(1.0 AS DOUBLE) AS threshold),
        |allr AS (SELECT * FROM rl UNION ALL SELECT * FROM uq UNION ALL SELECT * FROM fk)
        |SELECT rule, col_name, metric, threshold, metric >= threshold AS passed
        |FROM allr ORDER BY rule, col_name""".stripMargin) { (s, dir) =>
      import graft.operators.Validation._
      audit(t(s, dir, "orders"), Seq(
        Completeness("o_custkey"),
        InRange("o_totalprice", 0.0, 200000.0, threshold = 0.9),
        AcceptedValues("o_orderstatus", Seq("F", "O", "P")),
        Uniqueness("o_orderkey"),
        Uniqueness("o_custkey"),
        ReferencedIn("o_custkey", t(s, dir, "customer"), "c_custkey")))
    },

    QuerySpec(
      "profile_columns",
      // One-pass numeric profile of lineitem's measure columns: the
      // stack(4 cols) explodes map-side, then a single hash-agg computes
      // every stat — the scan cost is constant in the column count.
      // count/nulls/distinct/min/max are exact; the mean sums through
      // DECIMAL(30,6) (exact, order-insensitive — a double avg flipped
      // the 6th decimal between engines) then converts once to double.
      """WITH s AS (
        |  SELECT 'l_quantity' AS col_name, CAST(l_quantity AS DOUBLE) AS v FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem
        |  UNION ALL SELECT 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem
        |  UNION ALL SELECT 'l_tax', CAST(l_tax AS DOUBLE) FROM lineitem)
        |SELECT col_name, count(*) AS n_rows,
        |  count(*) - count(v) AS n_nulls,
        |  count(DISTINCT v) AS n_distinct,
        |  min(v) AS min_v, max(v) AS max_v,
        |  CAST(sum(CAST(v AS DECIMAL(30,6))) AS DOUBLE) / count(v) AS avg_v
        |FROM s GROUP BY col_name ORDER BY col_name""".stripMargin) { (s, dir) =>
      graft.operators.Validation.profileNumeric(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    },

    QuerySpec(
      "profile_frequent",
      // Top-5 frequent values per categorical column: one stacked scan,
      // one (col,value) count shuffle, ranking window on the tiny
      // distinct-value table. share = exact-count division (IEEE-
      // deterministic, no rounding).
      """WITH s AS (
        |  SELECT 'p_brand' AS col_name, CAST(p_brand AS VARCHAR) AS value FROM part
        |  UNION ALL SELECT 'p_type', CAST(p_type AS VARCHAR) FROM part),
        |c AS (SELECT col_name, value, count(*) AS cnt FROM s GROUP BY 1, 2),
        |t AS (SELECT col_name, value, cnt,
        |        CAST(sum(cnt) OVER (PARTITION BY col_name) AS BIGINT) AS total,
        |        row_number() OVER (PARTITION BY col_name ORDER BY cnt DESC, value ASC NULLS LAST) AS rn
        |      FROM c)
        |SELECT col_name, value, cnt, CAST(cnt AS DOUBLE) / total AS share, rn
        |FROM t WHERE rn <= 5 ORDER BY col_name, rn""".stripMargin) { (s, dir) =>
      graft.operators.Validation.profileFrequent(t(s, dir, "part"),
        Seq("p_brand", "p_type"), k = 5)
    }
  )
}
