package graft

import org.apache.spark.sql.functions._
import graft.operators.{Similarity, SkewJoin}

/** Scale-mechanics specs: salted skew joins, approximate aggregates,
  * bucketed co-located joins (SURVEY §4.2's shuffle-avoidance strategies).
  */
class ScaleSpec extends SparkSuite {

  test("filters and projections reach the parquet scan") {
    val plan = Tables.load(spark, sfDir, "lineitem")
      .filter(col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_quantity"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45"),
      s"filter not pushed to scan:\n$plan")
    val read = "ReadSchema: [^\n]*".r.findFirstIn(plan).getOrElse("")
    assert(read.contains("l_orderkey") && read.contains("l_quantity") &&
      !read.contains("l_extendedprice"),
      s"schema not pruned to the projection: $read")
  }

  test("small dimension joins broadcast, never shuffle the fact side") {
    val plan = SparkEntry.queries("q5_local_supplier")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"dim join fell back to sort-merge:\n$plan")
  }

  test("sorted top-k fuses into TakeOrderedAndProject (no global sort)") {
    val plan = SparkEntry.queries("sort_limit_topk")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k fusion:\n$plan")
  }

  test("IVF corpus centroid assignment is map-side: no exchange, no window") {
    // The corpus side (top=1) must be a pure projection over the scan —
    // an argmax over the inlined centroid literals. A row_number window
    // here would shuffle the whole corpus (vectors in the payload) by id.
    val embs = Tables.load(spark, sfDir, "embeddings")
    val cents = Similarity.centroids(embs, nlist = 8)
    val plan = Similarity.assign(embs, cents, "embedding", "vec_id", "c", top = 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"corpus assignment shuffles:\n$plan")
    assert(!plan.contains("Window"), s"corpus assignment uses a window:\n$plan")
    // and it must agree with the row_number-window formulation exactly
    val viaArgmax = Similarity.assign(embs, cents, "embedding", "vec_id", "c", top = 1)
      .select(col("c_id"), col("centroid_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("centroid_id"))
    val viaWindow = embs.join(broadcast(cents))
      .select(col("vec_id"), col("centroid_id"),
        graft.functions.cosine_similarity(col("embedding"), col("centroid_vec")).as("ccos"))
      .withColumn("crn", row_number().over(w)).filter(col("crn") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaArgmax == viaWindow,
      s"argmax and window assignments diverge on ${
        viaArgmax.count { case (k, v) => viaWindow.get(k) != Some(v) }} ids")
  }

  test("fused PQ encode and argmax assignment stay in one codegen stage") {
    // both kernels must be a whole-stage-codegen projection DIRECTLY over
    // the scan: no exchange, no window, no per-codeword expression forest
    // (the declarative forms they replace cost seconds of plan/JIT setup
    // and, for assignment, capped the centroid count SemDeDup can derive)
    val embs = Tables.load(spark, sfDir, "embeddings")
    val cents = Similarity.centroids(embs, nlist = 32)
    val assignPlan = Similarity.assign(embs, cents, "embedding", "vec_id", "c", top = 1)
      .queryExecution.executedPlan.toString
    assert(assignPlan.contains("argmax_cosine("), s"kernel missing:\n$assignPlan")
    assert(!assignPlan.contains("Exchange") && !assignPlan.contains("Window"),
      s"assignment left the scan stage:\n$assignPlan")
    val books = Similarity.pqCodebooks(embs, m = 8, ksub = 16)
    val encPlan = Similarity.pqEncode(embs, books)
      .queryExecution.executedPlan.toString
    assert(encPlan.contains("pq_encode("), s"kernel missing:\n$encPlan")
    assert(!encPlan.contains("Exchange"), s"encode shuffles:\n$encPlan")
  }

  test("q21_waiting shuffles lineitem as a pruned projection, dims broadcast") {
    // The group-rewrite must not reintroduce TPC-H q21's double self-join:
    // supplier/nation stay broadcast, and every lineitem exchange carries
    // only the 3-column (orderkey, suppkey, is_late) projection — never
    // the full row.
    val df = SparkEntry.queries("q21_waiting")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"supplier not broadcast:\n$plan")
    val wide = "Exchange hashpartitioning[^\n]*l_extendedprice".r.findFirstIn(plan)
    assert(wide.isEmpty,
      s"lineitem shuffled with full payload:\n${wide.getOrElse("")}")
    // the (orderkey, suppkey, max(is_late)) pre-aggregate replaced the two
    // countDistincts — no Expand may double the rows through the aggregate
    assert(!plan.contains("Expand"), s"countDistinct Expand reappeared:\n$plan")
    // the per-order (nsupp, nlate, late_supp) rollup is a SECOND hash
    // aggregate riding the join's own orderkey partitioning — neither a
    // window (whose within-partition sort spilled 94 GB at sf100) nor a
    // join back to the pre-aggregate may reappear
    assert(!plan.contains("Window"),
      s"per-order rollup regressed to a window:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"fact join regressed to sort-merge (two fact-stream sorts):\n$plan")
    // single fact pipeline: the only hash exchanges are the two join
    // inputs (l_orderkey / o_orderkey) and the final s_name aggregate —
    // both per-order aggregates must reuse the join's partitioning
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges <= 3,
      s"fact pipeline re-exchanges ($hashExchanges hash exchanges):\n$plan")
  }

  test("semDedup's only exchanges are the centroid-keyed pair join") {
    // assignment must stay map-side (broadcast centroids, no shuffle of
    // the corpus by vector id) — the exchanges in the plan may only key on
    // centroid_id (pair join) or the dropped-id sets, never carry a window
    val embs = Tables.load(spark, sfDir, "embeddings")
    val plan = operators.Dedup.semDedup(embs, nlist = 4, threshold = 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"semDedup assignment uses a window:\n$plan")
    assert(!plan.contains("hashpartitioning(c_id"),
      s"semDedup shuffles the corpus by vector id:\n$plan")
  }

  test("mixtureSample broadcasts the per-domain stats, never sorts or windows") {
    val docs = Tables.load(spark, sfDir, "documents")
    val plan = operators.Sampling.mixtureSample(docs,
        Map("en" -> 0.5, "zh" -> 0.5), budgetTokens = 1000L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"domain stats not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"),
      s"mixtureSample plan has a sort/window stage:\n$plan")
  }

  test("packSequences windows by shard, never a single global partition") {
    val docs = Tables.load(spark, sfDir, "documents")
    val plan = operators.TextAnalysis.packSequences(docs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"packing lost its window:\n$plan")
    // a partition-less window plans as 'Window [...] ORDER BY ...' over a
    // SinglePartition exchange — the shard key must appear in the spec
    assert(plan.contains("shard"), s"window not partitioned by shard:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"packing funnels the corpus into one partition:\n$plan")
  }

  test("dsirWeights scores map-side: top-k fusion, no corpus hash shuffle") {
    // the scoring pass folds each doc's grams against the broadcast
    // log-ratio literal — the only plan nodes after the scan may be the
    // top-k fusion and the 200-row window, never a corpus-keyed exchange
    val docs = Tables.load(spark, sfDir, "documents")
    val plan = operators.Sampling.dsirWeights(docs, col("lang") === "en")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k fusion:\n$plan")
    // the only exchange allowed is Par.ensure's explicit REPARTITION_BY_NUM
    // parallelism guard (single-split fixture file); nothing in the scoring
    // plan may REQUIRE a corpus shuffle
    val required = "Exchange hashpartitioning[^\n]*ENSURE_REQUIREMENTS".r
    assert(required.findFirstIn(plan).isEmpty,
      s"scoring pass requires a corpus shuffle:\n$plan")
  }

  test("Par.ensure repartitions starved inputs and no-ops healthy ones") {
    val docs = Tables.load(spark, sfDir, "documents") // single-split fixture
    val want = spark.sparkContext.defaultParallelism
    val fixed = operators.Par.ensure(docs, col("doc_id"))
    assert(fixed.rdd.getNumPartitions == want,
      s"starved input not widened: ${fixed.rdd.getNumPartitions} != $want")
    // already-parallel input: same instance back, no extra exchange
    val healthy = docs.repartition(want, col("doc_id"))
    assert(operators.Par.ensure(healthy, col("doc_id")) eq healthy,
      "healthy input was needlessly repartitioned")
  }

  test("Par.ensure leaves a source of many small files alone") {
    val docs = Tables.load(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val many = java.nio.file.Files.createTempDirectory("graft-par-many").toString
    val one = java.nio.file.Files.createTempDirectory("graft-par-one").toString
    try {
      docs.repartition(100).write.mode("overwrite").parquet(many)
      docs.coalesce(1).write.mode("overwrite").parquet(one)
      val target = spark.sparkContext.defaultParallelism
      // 100 files pay 100 open costs: Spark's split planner packs them
      // into about the cores' worth of partitions
      val small = spark.read.parquet(many)
      assert(small.rdd.getNumPartitions * 2 >= target)
      assert(operators.Par.ensure(small, col("doc_id")) eq small,
        "a many-small-files source was widened")
      // the same rows in one file are one split, and widened
      val single = spark.read.parquet(one)
      assert(single.rdd.getNumPartitions == 1)
      assert(operators.Par.ensure(single).rdd.getNumPartitions == target)
    } finally Seq(many, one).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }

  test("saltedEquiJoin equals plain join on a skewed key") {
    // events.user_id has only 15 distinct values over 1000 rows — skewed.
    val events = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("value"))
    val users = events.groupBy(col("user_id"))
      .agg(avg(col("value")).as("user_avg"))
    val plain = events.join(users, Seq("user_id"))
      .agg(count(lit(1)), round(sum(col("value") * col("user_avg")), 4))
      .collect()(0)
    val salted = SkewJoin.saltedEquiJoin(events, users, "user_id", saltFactor = 4)
      .agg(count(lit(1)), round(sum(col("value") * col("user_avg")), 4))
      .collect()(0)
    assert(plain == salted)
  }

  test("saltedCount equals exact counts") {
    val li = Tables.load(spark, sfDir, "lineitem")
    val exact = li.groupBy(col("l_returnflag").as("k")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = SkewJoin.saltedCount(li, col("l_returnflag"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact == salted)
  }

  test("approx_count_distinct accuracy invariants hold (oracle booleans)") {
    // the query now emits its rsd-bound invariants as booleans the DuckDB
    // oracle checks hash-exact; here we assert they are actually true AND
    // the exact counts are sane
    val row = SparkEntry.queries("agg_approx")(spark, sfDir).collect()(0)
    assert(row.getBoolean(0), "apx_parts outside the 6% rsd bound")
    assert(row.getBoolean(1), "apx_orders outside the 6% rsd bound")
    assert(row.getLong(2) > 0 && row.getLong(3) > 0 && row.getLong(4) > 0)
  }

  test("approx percentile rank-error invariants hold (oracle booleans)") {
    val rows = SparkEntry.queries("agg_approx_percentile")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(1), s"${r.getString(0)}: p50 outside rank bound")
      assert(r.getBoolean(2), s"${r.getString(0)}: p95 outside rank bound")
      assert(r.getLong(3) > 0)
    }
  }

  test("cte_query scans lineitem exactly once") {
    // regression guard for the single-scan rewrite: the scalar-subquery
    // form made Spark scan + aggregate lineitem twice (CTEs inline)
    val plan = SparkEntry.queries("cte_query")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val scans = "lineitem\\.parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected 1 lineitem scan, found $scans:\n$plan")
  }

  test("bm25TopK tokenizes the corpus exactly twice with hits-only shuffle") {
    // stats pass + tf pass — a naive formulation adds a third scan for the
    // per-doc length join and re-tokenizes the corpus for doc frequency
    val plan = SparkEntry.queries("bm25_search")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // per-term doc frequency is folded into the broadcast stats row, so
    // the only corpus passes are the stats aggregate and the tf pass — a
    // tf.groupBy(t) df formulation re-tokenizes a third time (column
    // pruning makes the branches canonically different, defeating
    // ReuseExchange), and a dl join would add a fourth
    val scans = "documents\\.parquet".r.findAllIn(plan).length
    assert(scans == 2, s"expected 2 documents scans (stats + tf), found $scans:\n$plan")
    // the codegen'd term filter must sit on the Generate's output (it
    // prints ABOVE the Generate, tree-root-first), before any exchange —
    // only query-term hits may reach the aggregation shuffle
    assert(plan.contains("Generate explode(tk"), s"no token explode:\n$plan")
    assert("Filter t#\\d+ IN".r.findFirstIn(plan).nonEmpty ||
      "Filter t#\\d+ INSET".r.findFirstIn(plan).nonEmpty,
      s"expected a codegen'd IN/INSET term filter on the exploded tokens:\n$plan")
  }

  test("pivot plans as one scan + one aggregate pair (no per-value scans)") {
    val plan = SparkEntry.queries("pivot_wide")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("lineitem\\.parquet".r.findAllIn(plan).length == 1,
      s"pivot should read the fact table once:\n$plan")
  }

  test("unpivot plans as a single Expand, not a union of scans") {
    val plan = SparkEntry.queries("unpivot_long")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), s"no Expand node:\n$plan")
    assert("lineitem\\.parquet".r.findAllIn(plan).length == 1,
      s"unpivot should read the fact table once:\n$plan")
  }

  test("bucketed tables join without an exchange") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    Tables.load(s2, sfDir, "orders")
      .write.mode("overwrite").bucketBy(4, "o_custkey").sortBy("o_custkey")
      .option("path", s"$wh/orders_b").saveAsTable("orders_b")
    Tables.load(s2, sfDir, "customer")
      .write.mode("overwrite").bucketBy(4, "c_custkey").sortBy("c_custkey")
      .option("path", s"$wh/customer_b").saveAsTable("customer_b")

    val joined = s2.table("orders_b")
      .join(s2.table("customer_b"),
        col("o_custkey") === col("c_custkey"))
    val plan = joined.queryExecution.executedPlan.toString
    // co-located buckets: no ShuffleExchange on either side
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    assert(joined.count() ==
      Tables.load(s2, sfDir, "orders").join(
        Tables.load(s2, sfDir, "customer"),
        col("o_custkey") === col("c_custkey")).count())
  }

  test("dedupSegments resolves duplicates without shuffling segment text") {
    // The fingerprint exchange (duplicate resolution) may carry only
    // (id, seg_idx, 16-byte md5) — segment TEXT must ride no exchange
    // keyed on the fingerprint. Text travels once, on the id-keyed
    // reassembly exchange.
    val docs = Tables.load(spark, sfDir, "documents")
    val plan = operators.Dedup.dedupSegments(docs, segTokens = 15)
      .queryExecution.executedPlan.toString
    val fpShuffleWithText =
      "Exchange hashpartitioning\\(fp[^\n]*seg#".r.findFirstIn(plan)
    assert(fpShuffleWithText.isEmpty,
      s"segment text rides the fingerprint shuffle:\n${fpShuffleWithText.getOrElse("")}")
    assert(plan.contains("Exchange hashpartitioning(fp"),
      s"expected a fingerprint-keyed resolution exchange:\n$plan")
    operators.Dedup.releaseCaches()
  }

  test("chunkDocs is a pure scan-side pipeline: no exchange anywhere") {
    val docs = Tables.load(spark, sfDir, "documents")
    val plan = operators.TextAnalysis.chunkDocs(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking shuffles:\n$plan")
  }

  test("doremi weight assignment is a scan-side literal lookup") {
    // after the (collected, k-row) domain stats, the OUTPUT plan must be
    // a map-side projection: weights ride as literals, never a join
    val docs = Tables.load(spark, sfDir, "documents")
    val plan = operators.Sampling.doremiWeights(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"doremi output should be a broadcast-literal projection:\n$plan")
  }

  test("corpusReport median comes from the histogram, not a value buffer") {
    val docs = Tables.load(spark, sfDir, "documents")
    val plan = operators.TextAnalysis.corpusReport(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("percentile"),
      s"median must derive from the (domain, n_tokens) histogram:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"the three aggregates should share one cached scan pass:\n$plan")
    operators.Dedup.releaseCaches()
  }

  test("logistic scoring is one pass over the cached features, no shuffle") {
    val docs = Tables.load(spark, sfDir, "documents")
    val out = operators.Logistic.fitPredict(docs)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"LR scoring must be scan-local (weights are literals):\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"LR scoring should reuse the persisted feature pass:\n$plan")
    operators.Dedup.releaseCaches()
  }

  test("bloom probe broadcasts the bitmap; corpus side stays map-side") {
    val docs = Tables.load(spark, sfDir, "documents")
    val out = operators.Bloom.ngramDecontaminate(
      docs, docs.filter(col("doc_id") % 97 === 0), n = 3, m = 4096, k = 4)
    val plan = out.queryExecution.executedPlan.toString
    // the one-row bitmap must arrive via broadcast, never a shuffled join
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"bitmap not broadcast:\n$plan")
    // corpus grams must not shuffle before the membership filter: the
    // only exchanges are the per-doc hit count and the final left join
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 3, s"bloom probe shuffles too much ($exchanges):\n$plan")
  }

  test("count-min build collapses to cells via partial aggregation") {
    val toks = Tables.load(spark, sfDir, "documents")
      .select(explode(graft.functions.tokens(col("text"))).as("token"))
    val plan = operators.CountMin.build(toks, col("token"), w = 1024, d = 4)
      .queryExecution.executedPlan.toString
    // partial_count before the exchange = per-partition cell collapse,
    // so the shuffle carries <= d*w rows regardless of corpus size
    assert(plan.contains("partial_count") || plan.contains("Partial"),
      s"no map-side partial aggregation before the cell shuffle:\n$plan")
  }

  test("dimCounted memoises its count probe: a repeated (path, filter) " +
      "dim plans with zero jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // a filter the file-stat estimate can't size — the dimCounted case
    def dim() = queries.Relational.dimCounted(
      Tables.load(spark, sfDir, "part").filter(col("p_size") === 15))
    dim() // first call pays the count job and seeds the session memo
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val second = dim() // must hit the memo: no count job at plan time
      // the job-start events ride the ASYNC listener bus — drain it
      // before reading the counter (listenerBus is private[spark])
      val bus = spark.sparkContext.getClass.getMethod("listenerBus")
        .invoke(spark.sparkContext)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 1)
        .foreach(_.invoke(bus, java.lang.Long.valueOf(10000L)))
      assert(jobs.get() == 0,
        s"memoised dim probe still ran ${jobs.get()} job(s)")
      // and the memo must not change the decision: the small filtered
      // dim still carries the broadcast hint
      assert(second.queryExecution.analyzed.toString.contains("Hint"),
        s"memo hit lost the broadcast decision:\n${second.queryExecution.analyzed}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("KN ladder joins are ShuffledHashJoin on the scale path (r13 verdict #5)") {
    // The r13 sf100 evidence for the KN shuffle_hash ladder was
    // behavioral only (77 GB spill → 0) — the committed "scalepath"
    // plan dump was captured with the gate off. Pin the gate here and
    // assert the plan: the ladder + scoring joins must hash-build, not
    // sort-merge (sort-merge sorts of the trigram streams were the
    // query's entire spill at sf100). The neutral conf key gates every
    // size-gated family (see Dedup.scaleLsh).
    val key = "spark.graft.scalePath.minInputBytes"
    spark.conf.set(key, "0")
    // tiny sides auto-broadcast below the threshold and the hint would
    // be moot — pin broadcasts off so strategy choice is visible
    val bcast = "spark.sql.autoBroadcastJoinThreshold"
    val prevBcast = spark.conf.get(bcast)
    val aqeBcast = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    val prevAqeBcast = spark.conf.getOption(aqeBcast)
    spark.conf.set(bcast, "-1")
    spark.conf.set(aqeBcast, "-1")
    try {
      val kn3 = SparkEntry.queries("text_perplexity_kn3")(spark, sfDir)
        .queryExecution.executedPlan.toString
      val shj3 = "ShuffledHashJoin".r.findAllIn(kn3).size
      assert(shj3 >= 5,
        s"kn3 scale path: expected >=5 ShuffledHashJoin (4 ladder + scoring), got $shj3:\n$kn3")
      val kn = SparkEntry.queries("text_perplexity_kn")(spark, sfDir)
        .queryExecution.executedPlan.toString
      val shj2 = "ShuffledHashJoin".r.findAllIn(kn).size
      assert(shj2 >= 3,
        s"kn scale path: expected >=3 ShuffledHashJoin (2 ladder + scoring), got $shj2:\n$kn")
    } finally {
      spark.conf.unset(key)
      spark.conf.set(bcast, prevBcast)
      prevAqeBcast match {
        case Some(v) => spark.conf.set(aqeBcast, v)
        case None => spark.conf.unset(aqeBcast)
      }
      operators.Dedup.releaseCaches()
    }
  }

  test("KN3 scale path (v-co-partitioned ladder) is result-identical to the fixture path") {
    // The scale path reorders the ladder joins (Pcont attaches to the
    // (v,w) table first) and pins v-partitioning — 1:1 enrichment joins
    // over the same keys, so every (u,v,w) row carries the same factor
    // columns and lp3 must be BIT-identical, not merely close.
    val key = "spark.graft.scalePath.minInputBytes"
    val direct = SparkEntry.queries("text_perplexity_kn3")(spark, sfDir)
      .collect().map(r => r.toString).sorted
    operators.Dedup.releaseCaches()
    spark.conf.set(key, "0")
    // the exact production session: the engine sets subset
    // co-partitioning (the plan the sf100 legs run); correctness must
    // hold under it
    val coPart = "spark.sql.requireAllClusterKeysForCoPartition"
    val prevCoPart = spark.conf.getOption(coPart)
    spark.conf.set(coPart, "false")
    try {
      val scaled = SparkEntry.queries("text_perplexity_kn3")(spark, sfDir)
        .collect().map(r => r.toString).sorted
      assert(direct.length > 0 && scaled.length == direct.length)
      assert(scaled.sameElements(direct),
        s"first diff: ${scaled.zip(direct).find(p => p._1 != p._2)}")
    } finally {
      spark.conf.unset(key)
      prevCoPart match {
        case Some(v) => spark.conf.set(coPart, v)
        case None => spark.conf.unset(coPart)
      }
      operators.Dedup.releaseCaches()
    }
  }

  /** Build forced-gate (scale path) `text_perplexity_kn3`, release its
    * caches and restore the gate. */
  private def forcedKn3[T](use: org.apache.spark.sql.DataFrame => T): T = {
    val key = "spark.graft.scalePath.minInputBytes"
    spark.conf.set(key, "0")
    try use(SparkEntry.queries("text_perplexity_kn3")(spark, sfDir))
    finally {
      spark.conf.unset(key)
      operators.Dedup.releaseCaches()
    }
  }

  test("KN3 scale path never turns the session's AQE off") {
    // the checkpointed subtrees plan with AQE off; a query planned on the
    // same session meanwhile must still see AQE on
    val aqe = "spark.sql.adaptive.enabled"
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicLong(0L)
    val offReads = new java.util.concurrent.atomic.AtomicLong(0L)
    val poller = new Thread(() => {
      while (!stop.get()) {
        if (spark.conf.get(aqe) == "false") offReads.incrementAndGet()
        reads.incrementAndGet()
        Thread.sleep(1)
      }
    })
    poller.start()
    try forcedKn3(_ => ())
    finally { stop.set(true); poller.join() }
    assert(reads.get() > 0)
    assert(offReads.get() == 0,
      s"AQE read false ${offReads.get()} times out of ${reads.get()}")
    assert(spark.conf.get(aqe) == "true")
  }

  test("KN3 scale path plans no more exchanges than the save/restore build did") {
    // 9: what the build that flipped AQE off and back on the session
    // around the checkpoints planned on this fixture and session
    val before = 9
    val exchanges = forcedKn3 { df =>
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).size
    }
    assert(exchanges <= before,
      s"forced-gate kn3 plans $exchanges exchanges, was $before")
  }

  test("zorder zvalue attaches via one broadcast stats row, no extra shuffle") {
    val li = Tables.load(spark, sfDir, "lineitem")
    val plan = operators.ZOrder.zvalues(li, Seq("l_partkey", "l_suppkey"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"min/max stats row not broadcast:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"zvalue computation must be map-side after the stats broadcast:\n$plan")
  }
}
