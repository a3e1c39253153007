package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Relational operator battery: scans, joins (all types incl. null-safe and
  * inequality), aggregation (all agg functions of the reference's GroupBy.h
  * enum — /root/reference engine/src/operators/GroupBy.h:15-28), sorts with
  * explicit null ordering (OrderBy.cpp:133-184), limits, set operations
  * (BatchUnionProcessing.cpp + INTERSECT/EXCEPT as Spark superset).
  *
  * Everything here is declarative DataFrame API so Catalyst performs
  * predicate pushdown, column pruning and join selection; broadcast hints
  * are placed where one side is dimension-sized at any scale factor.
  */
object Relational {
  private def ts(s: String): Column =
    lit(java.sql.Timestamp.valueOf(s + " 00:00:00"))

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Broadcast a dimension only while it is actually dimension-sized
    * (the optimizer's file-stat estimate stays under `cap`). A hard
    * `broadcast()` pinned to an SF-scaled table is a scale cliff: at
    * sf100 q14's `broadcast(part)` built a 20 M-row, ~0.5 GB hash
    * relation on the driver (24 s, an OOM hazard at smaller heaps)
    * where the shuffle join runs in ~2 s on the filtered fact side.
    * 64 MB ≈ the most a 4 GB-executor cluster wants shipped to every
    * task slot; above it the join falls back to shuffle, and AQE still
    * converts back to broadcast at runtime if the built side proves
    * small (runtime stats see through filters this file-stat estimate
    * cannot). */
  private def dim(df: DataFrame, cap: Long = 64L << 20,
      shuffleHashFallback: Boolean = false): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(cap))
      broadcast(df)
    // above the broadcast cap a dimension still shouldn't force the FACT
    // side through a sort-merge sort: hash-build the dim partitions
    // (dimension/partition-count rows per task stays small at any SF
    // when partitions are data-sized)
    else if (shuffleHashFallback) df.hint("shuffle_hash")
    else df

  /** [[dimCounted]]'s probe memo: repeated executions of the same query
    * (bench samples, a dashboard refresh) would otherwise pay the
    * dimension-scan count JOB at every plan time. Keyed by
    * [[graft.PlanMemo.keyOf]] — session identity + canonicalized plan
    * text + a digest of every leaf's FILE listing (path, size, mtime),
    * so the same (path, filter) pair hits across separately-built
    * DataFrames in one session while different filters, different
    * paths, or the SAME path overwritten in place all miss. Plans whose
    * data the key cannot pin (in-memory relations) are never memoised —
    * PlanMemo refuses them and the probe re-runs. Entries are one Long
    * each and only dimension probes land here; cleared wholesale if it
    * ever grows past 512 (a leak guard, not an LRU — dim probes number
    * in the dozens). */
  private val probeMemo =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), java.lang.Long]()

  /** [[dim]] for a FILTERED dimension the file-stat estimate cannot
    * size (without CBO a Filter passes its child's sizeInBytes through
    * unchanged): pays one dimension-scale count job at plan time — the
    * price a cost-based optimizer pays for the same cardinality — and
    * broadcasts under `maxRows`. 4 M narrow rows ≈ the 64 MB cap.
    * The count is memoised per session ([[probeMemo]]), so only the
    * FIRST execution of a given (path, filter) pays the job. */
  private[graft] def dimCounted(df: DataFrame,
      maxRows: Long = 4000000L): DataFrame = {
    if (probeMemo.size > 512) probeMemo.clear()
    val n = graft.PlanMemo.keyOf(df) match {
      case None      => df.count()
      case Some(key) => probeMemo.computeIfAbsent(key, _ => df.count()).longValue()
    }
    if (n <= maxRows) broadcast(df) else df
  }

  /** Bloom-prune `fact` rows whose `factKey` has no candidate in
    * `keys(keyCol)` BEFORE the join's exchange — the explicit form of the
    * optimizer's runtime filter, for the joins whose creation side it
    * cannot size (a filtered or derived dim has its parent's file-stat
    * estimate without CBO). Sound only below inner/semi joins on the same
    * key: no false negatives, and the exact join removes the ~1% false
    * positives. At 100 TB this is the difference between shuffling a
    * fact table and shuffling the percent of it that can match.
    *
    * Cost model: one count job + one aggregate job over `keys`, paid
    * EAGERLY at first plan construction per session (the count memoised
    * like [[dimCounted]]'s probe, the filter by
    * [[graft.operators.Bloom.nativeKeyBloomMemo]]) — so repeated
    * executions of the same query amortize the build jobs out entirely,
    * and bench samples after the first never include them. The filter
    * bytes (10 bits/key, ≤32 MB — [[graft.operators.Bloom.nativeKeyBloom]]
    * raises Spark's 8 MB runtime-bloomFilter conf cap to honor that
    * sizing) ride the task binary's stage-level broadcast.
    */
  private def bloomSemi(fact: DataFrame, factKey: Column,
      keys: DataFrame, keyCol: Column): DataFrame = {
    // a plan PlanMemo cannot key (in-memory relations, overwritten files)
    // pays its count, and its filter build, at every plan construction
    val n = graft.PlanMemo.keyOf(keys) match {
      case Some(k) => probeMemo.computeIfAbsent(k, _ => keys.count()).longValue()
      case None    => keys.count()
    }
    graft.operators.Bloom.nativePruned(fact, factKey,
      graft.operators.Bloom.nativeKeyBloomMemo(
        keys, keyCol, n, math.min(n * 10L, 1L << 28)))
  }

  /** Derived-partsupp CTE, DuckDB dialect. The fixtures omit partsupp
    * (TESTDATA.md), so the Q2/Q11/Q16/Q20 quartet derives it from
    * part × supplier with dbgen's fan-out rule and md5-family quantities;
    * both engines evaluate the IDENTICAL derivation so the oracle replays
    * the full query. Dialect deltas vs Spark: `//` vs `div` integer
    * division, `('0x'||hex)::T` vs `conv(hex,16,10)`, unnest vs explode.
    * availqty ∈ [1, 9999] and costcents ∈ [1, 99999] match dbgen's value
    * ranges (PS_AVAILQTY 1..9999, PS_SUPPLYCOST $1..$1000). */
  private val psDuck: String =
    """sp AS (SELECT count(*) AS s_cnt FROM supplier),
      |partsupp AS (
      |  SELECT p_partkey AS ps_partkey,
      |         (p_partkey + i.i * (s_cnt // 4 + p_partkey // s_cnt)) % s_cnt AS ps_suppkey,
      |         1 + ('0x' || substr(md5(CAST(p_partkey AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)), 1, 4))::INT % 9999 AS ps_availqty,
      |         1 + ('0x' || substr(md5(CAST(p_partkey AS VARCHAR) || ':' || CAST(i.i AS VARCHAR) || ':c'), 1, 8))::BIGINT % 99999 AS ps_costcents
      |  FROM part CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) i CROSS JOIN sp)""".stripMargin

  /** Derived-partsupp CTE, Spark dialect — same derivation as [[psDuck]].
    * Builds as a map-side flatMap of part (4 rows out per row, no shuffle),
    * which is how a generated dimension should behave at 100 TB. */
  private val psSpark: String =
    """sp AS (SELECT count(*) AS s_cnt FROM supplier),
      |partsupp AS (
      |  SELECT p_partkey AS ps_partkey,
      |         (p_partkey + i.i * (s_cnt div 4 + p_partkey div s_cnt)) % s_cnt AS ps_suppkey,
      |         1 + CAST(conv(substr(md5(CAST(p_partkey AS STRING) || ':' || CAST(i.i AS STRING)), 1, 4), 16, 10) AS INT) % 9999 AS ps_availqty,
      |         1 + CAST(conv(substr(md5(CAST(p_partkey AS STRING) || ':' || CAST(i.i AS STRING) || ':c'), 1, 8), 16, 10) AS BIGINT) % 99999 AS ps_costcents
      |  FROM part CROSS JOIN (SELECT explode(array(0, 1, 2, 3)) AS i) i CROSS JOIN sp)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // ---- TPC-H style analytical queries -------------------------------
    QuerySpec(
      "q1_agg",
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  sum(l_extendedprice) AS sum_base_price,
        |  sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
        |  sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
        |  avg(l_quantity) AS avg_qty,
        |  avg(l_extendedprice) AS avg_price,
        |  avg(l_discount) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= ts("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          avg(col("l_quantity")).as("avg_qty"),
          avg(col("l_extendedprice")).as("avg_price"),
          avg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    QuerySpec(
      "q6_filter",
      """SELECT sum(l_extendedprice * l_discount) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.08
        |  AND l_quantity < 24""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1996-01-01") &&
          col("l_shipdate") < ts("1997-01-01") &&
          col("l_discount").between(0.05, 0.08) &&
          col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice") * col("l_discount")).as("revenue"))
    },

    QuerySpec(
      "q3_topk",
      """SELECT l_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  CAST(o_orderdate AS DATE) AS orderdate
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin) { (s, dir) =>
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders").filter(col("o_orderdate") < ts("1998-03-15"))
      val li = t(s, dir, "lineitem").filter(col("l_shipdate") > ts("1998-03-15"))
      // customer contributes only its FILTER here (c_custkey is unique,
      // no cust column survives the groupBy) — run it as a broadcast
      // semi-join of the segment's KEYS against orders BEFORE the big
      // orderkey join, so the one unavoidable li⋈ord shuffle carries the
      // pre-filtered orders. The key set is 1/5 of customer (~24 MB of
      // longs at sf100) — dimCounted sizes it through the filter that
      // the file-stat estimate can't see.
      val buildingOrd = ord.join(dimCounted(cust.select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left_semi")
      // the shipdate filter keeps ~53% of lineitem while BUILDING×window
      // keeps ~10% of orders — Bloom-prune the fact by the order-key set
      // before its exchange (~5× less shuffled), and hash-build the
      // pruned orders instead of sorting both streams for a hash
      // aggregate that needs no order
      bloomSemi(li, col("l_orderkey"),
          buildingOrd.select(col("o_orderkey")), col("o_orderkey"))
        .join(buildingOrd.hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .select(col("l_orderkey"), col("revenue"),
          col("o_orderdate").cast("date").as("orderdate"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    QuerySpec(
      "q5_local_supplier",
      """SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin) { (s, dir) =>
      // The c_nationkey = s_nationkey constraint plus the region chain
      // restricts BOTH the customer and the supplier to ASIA nations —
      // stated explicitly (Catalyst cannot derive a one-side IN from a
      // cross-relation equality), every dimension of this 6-way join
      // becomes broadcast-sized and the whole query collapses to ONE
      // exchange of the doubly-prefiltered fact: lineitem probes the
      // 20%-of-supplier ASIA map, then the Bloom filter of the ~3% ASIA
      // order window, so ~0.6% of lineitem reaches the orderkey shuffle.
      // The previous shape shuffled ALL of lineitem, then sort-merged
      // 90 M rows by custkey, then again by suppkey — 63 s at sf100;
      // this one is scan-bound.
      val asiaN = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val asupp = t(s, dir, "supplier")
        .join(broadcast(asiaN), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
      val acust = t(s, dir, "customer")
        .join(broadcast(asiaN.select(col("n_nationkey").as("cnk"))),
          col("c_nationkey") === col("cnk"))
        .select(col("c_custkey"), col("c_nationkey"))
      val aord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1997-01-01"))
        .join(dimCounted(acust), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_nationkey"))
      val ali = t(s, dir, "lineitem")
        .join(dimCounted(asupp), col("l_suppkey") === col("s_suppkey"))
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"),
          col("s_nationkey"), col("n_name"))
      bloomSemi(ali, col("l_orderkey"), aord.select(col("o_orderkey")), col("o_orderkey"))
        .join(aord.hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey") &&
            col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    QuerySpec(
      "q10_returns",
      // revenue is ranked ROUNDED (round-2 money, both engines): raw
      // float sums of identical-true-revenue groups differ by summation-
      // order ulps per engine, so a LIMIT boundary between such ties
      // (exact dupes in the sf10 replica fixtures caught this) selects
      // different rows. Rounding restores a stable total order with the
      // custkey tiebreak. Same contract on q3.
      """SELECT c_custkey, c_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  c_acctbal, n_name
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin) { (s, dir) =>
      // the quarter keeps ~4% of orders while returnflag keeps 25% of
      // lineitem: Bloom-prune the fact by the quarter's order keys before
      // its exchange (~26× less shuffled), hash-build the quarter, and
      // aggregate revenue per custkey BEFORE the customer join — custkey
      // is customer's unique key, so grouping by it first is exactly the
      // original group-by with the customer attributes attached after,
      // and the custkey exchange carries aggregated rows, not lines
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= ts("1996-10-01") && col("o_orderdate") < ts("1997-01-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val perCust = bloomSemi(li, col("l_orderkey"),
          ord.select(col("o_orderkey")), col("o_orderkey"))
        .join(ord.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      perCust
        .join(dim(t(s, dir, "customer"), shuffleHashFallback = true),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("revenue"), col("c_acctbal"), col("n_name"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    QuerySpec(
      "q14_promo",
      """SELECT 100.00 * sum(CASE WHEN p_type LIKE 'PROMO%'
        |    THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
        |  / sum(l_extendedprice * (1 - l_discount)) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-02-01 00:00:00'""".stripMargin) { (s, dir) =>
      // The join exists only to ask one bit per row — "is this part
      // PROMO?" — and every partkey in lineitem has exactly one part row
      // (p_partkey is the PK), so the 20 M-row part exchange the generic
      // join form pays at sf100 buys nothing: a LEFT join against the
      // broadcast promo-filtered KEY SET (~1/6 of part ≈ 3.3 M keys,
      // inside dimCounted's 4 M-row cap) marks promo rows, a missing
      // match means non-promo, and the month slice of lineitem is the
      // ONLY distributed stream — zero fact exchange, one scan, one
      // single-row aggregate. At a scale where promo keys outgrow the
      // broadcast cap dimCounted degrades to the shuffle join this
      // replaces.
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1996-02-01"))
      val promoKeys = t(s, dir, "part")
        .filter(col("p_type").like("PROMO%")).select(col("p_partkey"))
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      li.join(dimCounted(promoKeys), col("l_partkey") === col("p_partkey"), "left")
        .agg((lit(100.0) *
          sum(when(col("p_partkey").isNotNull, rev).otherwise(lit(0.0))) / sum(rev))
          .as("promo_revenue"))
    },

    QuerySpec(
      "q18_big_orders",
      """SELECT c_custkey, o_orderkey, o_totalprice, sum_qty FROM (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |         sum(l_quantity) AS sum_qty
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY o_orderkey, o_custkey, o_totalprice
        |) big JOIN customer ON c_custkey = o_custkey
        |WHERE sum_qty > 180
        |ORDER BY sum_qty DESC, o_orderkey
        |LIMIT 50""".stripMargin) { (s, dir) =>
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 180)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(dim(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("sum_qty").desc, col("o_orderkey"))
        .limit(50)
    },

    QuerySpec(
      "q19_disjunctive",
      // fixture brands are 'Brand#N' (dbgen style) — the round-2 version
      // used spec-style 'BRAND_N' literals that matched nothing, so the
      // pushed predicate was pruning to an EMPTY join; the 3 160-row
      // (sf0.1) real-work form is the honest benchmark
      // revenue in exact 1e-4 units: cents x (100 - discount%), both
      // 2-decimal columns — a raw double sum drifts ~1e-9 across engines
      """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |         * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
        |   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
        |   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      // p-only weakening of the disjunction, applied before the join so
      // the (potentially broadcast) build side is the ~3-brand slice of
      // part, not all of it — Catalyst derives the same predicate for
      // the scan, but the file-stat size estimate dim() reads cannot see
      // through it, so the filter selectivity is declared here
      val part = t(s, dir, "part").filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 5)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 10)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 15)))
      val cond =
        (col("p_brand") === "Brand#1" && col("l_quantity").between(1, 11) && col("p_size").between(1, 5)) ||
        (col("p_brand") === "Brand#2" && col("l_quantity").between(10, 20) && col("p_size").between(1, 10)) ||
        (col("p_brand") === "Brand#3" && col("l_quantity").between(20, 30) && col("p_size").between(1, 15))
      li.join(broadcast(part), col("p_partkey") === col("l_partkey"))
        .filter(cond)
        .agg((sum(round(col("l_extendedprice") * 100).cast("long")
            * (lit(100L) - round(col("l_discount") * 100).cast("long")))
          .cast("double") / 10000.0).as("revenue"))
    },

    // ---- TPC-H battery, part 2. The fixtures omit partsupp and the
    // commitdate/receiptdate/phone columns, so Q4/Q9/Q12/Q21/Q22 run as
    // documented variants keeping the original plan shape (exists-subquery,
    // multi-join profit, delay-bucket CASE agg, sole-late-supplier group
    // rewrite, anti-join + scalar subquery); the partsupp quartet
    // Q2/Q11/Q16/Q20 runs in part 3 below over a derived partsupp. --------

    QuerySpec(
      "q4_late",
      // Q4 variant: priority histogram of orders having a lineitem shipped
      // >60 days after the order date (stands in for commit<receipt).
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      // The EXISTS planned as a left-semi SORT-merge join that sorted the
      // ENTIRE 600 M-row lineitem stream (the leg's chronic GC hotspot —
      // it OOM'd one 48 GB marathon outright). Per order the correlated
      // predicate is monotone in l_shipdate, so EXISTS(l_shipdate >
      // o_orderdate + 60) ⟺ max(l_shipdate) > o_orderdate + 60: one
      // map-side-combined hash aggregate (600 M → order cardinality, no
      // sort), then a hash join that reuses the aggregate's own orderkey
      // partitioning — only the date-filtered orders side exchanges.
      // NULL/no-lineitem orders drop from the inner join exactly as
      // EXISTS excludes them (max over all-NULL is NULL → predicate
      // NULL → false).
      s.sql(
        """SELECT /*+ SHUFFLE_HASH(orders) */
          |  o_orderpriority, count(*) AS order_count
          |FROM orders JOIN (
          |  SELECT l_orderkey, max(l_shipdate) AS max_ship
          |  FROM lineitem GROUP BY l_orderkey) lmax
          |  ON o_orderkey = l_orderkey
          |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
          |  AND max_ship > o_orderdate + INTERVAL 60 DAY
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    },

    QuerySpec(
      "q7_volume",
      """SELECT supp_nation, cust_nation, l_year, sum(volume) AS revenue FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |         year(l_shipdate) AS l_year,
        |         l_extendedprice * (1 - l_discount) AS volume
        |  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
        |    JOIN orders ON o_orderkey = l_orderkey
        |    JOIN customer ON c_custkey = o_custkey
        |    JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |    JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
        |      OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
        |    AND l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31') shipping
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      // The nation-pair OR spans two relations, so Catalyst cannot derive
      // per-side constraints from it — each branch's IN implication is
      // stated explicitly. That pushes `n_name IN (pair)` through the
      // nation joins into supplier (→ ~8% of suppliers) and customer
      // (→ ~8%), both then under the AQE runtime-broadcast cap, and the
      // lineitem stream shrinks 12× BEFORE the orders join — the only
      // remaining fact exchange. The OR itself still applies as the final
      // pair filter.
      s.sql(
        """SELECT supp_nation, cust_nation, l_year, sum(volume) AS revenue FROM (
          |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          |         year(l_shipdate) AS l_year,
          |         l_extendedprice * (1 - l_discount) AS volume
          |  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
          |    JOIN orders ON o_orderkey = l_orderkey
          |    JOIN customer ON c_custkey = o_custkey
          |    JOIN nation n1 ON s_nationkey = n1.n_nationkey
          |    JOIN nation n2 ON c_nationkey = n2.n_nationkey
          |  WHERE ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
          |      OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
          |    AND n1.n_name IN ('NATION_10', 'NATION_12')
          |    AND n2.n_name IN ('NATION_10', 'NATION_12')
          |    AND l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31') shipping
          |GROUP BY supp_nation, cust_nation, l_year
          |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)
    },

    QuerySpec(
      "q8_share",
      """SELECT o_year, round(sum(CASE WHEN nation = 'NATION_1' THEN volume ELSE 0 END) / sum(volume), 6) AS mkt_share
        |FROM (
        |  SELECT year(o_orderdate) AS o_year,
        |         l_extendedprice * (1 - l_discount) AS volume,
        |         n2.n_name AS nation
        |  FROM part JOIN lineitem ON p_partkey = l_partkey
        |    JOIN supplier ON s_suppkey = l_suppkey
        |    JOIN orders ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |    JOIN region ON n1.n_regionkey = r_regionkey
        |    JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'ASIA'
        |    AND o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
        |    AND p_type LIKE '%PROMO%') all_nations
        |GROUP BY o_year ORDER BY o_year""".stripMargin) { (s, dir) =>
      // written left-to-right this 8-way join ran FOUR fact exchanges
      // (partkey, suppkey, orderkey, custkey — 38.6 s at sf100); but
      // part contributes only its FILTER (broadcast the ~17% PROMO key
      // set as a semi-join), supplier⋈n2 is a 2-column broadcast map,
      // and customer⋈n1⋈region reduces to a broadcast semi that turns
      // orders into the ~6%-selective ASIA window — so the one real
      // exchange is the Bloom-pruned promo lineitem against those
      // orders, hash-built, no sorts
      val asiaCust = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")
            .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val aord = t(s, dir, "orders")
        .filter(col("o_orderdate").between(ts("1996-01-01"), ts("1997-12-31")))
        .join(dimCounted(asiaCust), col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
      val suppNation = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      val promoKeys = t(s, dir, "part")
        .filter(col("p_type").like("%PROMO%")).select(col("p_partkey"))
      val li = t(s, dir, "lineitem")
        .join(dimCounted(promoKeys), col("l_partkey") === col("p_partkey"), "left_semi")
        .join(dimCounted(suppNation), col("l_suppkey") === col("s_suppkey"))
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("volume"),
          col("nation"))
      bloomSemi(li, col("l_orderkey"), aord.select(col("o_orderkey")), col("o_orderkey"))
        .join(aord.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_year"))
        .agg(round(sum(when(col("nation") === "NATION_1", col("volume")).otherwise(lit(0.0)))
          / sum(col("volume")), 6).as("mkt_share"))
        .orderBy(col("o_year"))
    },

    QuerySpec(
      "q9_profit",
      // Q9 variant: no partsupp → profit = revenue (supplycost term
      // dropped); plan shape (5-way join + LIKE on p_name + group by
      // nation/year) preserved.
      """SELECT nation, o_year, sum(amount) AS sum_profit FROM (
        |  SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |         l_extendedprice * (1 - l_discount) AS amount
        |  FROM part JOIN lineitem ON p_partkey = l_partkey
        |    JOIN supplier ON s_suppkey = l_suppkey
        |    JOIN orders ON o_orderkey = l_orderkey
        |    JOIN nation ON s_nationkey = n_nationkey
        |  WHERE p_name LIKE '%widget%') profit
        |GROUP BY nation, o_year ORDER BY nation, o_year DESC""".stripMargin) { (s, dir) =>
      // part contributes only its ~12% `widget` filter (broadcast key
      // set, semi) and supplier⋈nation is a 2-column broadcast map, so
      // the only real exchange is filtered-lineitem ⋈ orders on orderkey
      // — hash-built on the narrower orders projection (orderkey, year),
      // no sorts. The left-to-right SQL shape ran partkey + suppkey +
      // orderkey fact exchanges back-to-back.
      val widgetKeys = t(s, dir, "part")
        .filter(col("p_name").like("%widget%")).select(col("p_partkey"))
      val suppNation = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
        .hint("shuffle_hash")
      t(s, dir, "lineitem")
        .join(dimCounted(widgetKeys), col("l_partkey") === col("p_partkey"), "left_semi")
        .join(dimCounted(suppNation), col("l_suppkey") === col("s_suppkey"))
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("amount"),
          col("nation"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("nation"), col("o_year"))
        .agg(sum(col("amount")).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },

    QuerySpec(
      "q12_delay",
      // Q12 variant: no shipmode/commit/receipt → bucket by ship delay
      // (l_shipdate - o_orderdate), priority-split CASE aggregation kept.
      // CAST the sums: DuckDB sum(int) is HUGEINT → decimal128 through the
      // driver's arrow path, Spark's is BIGINT; values match but the exact
      // hash doesn't. BIGINT on both sides (no-op for Spark).
      """SELECT delay_bucket,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM (
        |  SELECT CASE WHEN l_shipdate <= o_orderdate + INTERVAL 30 DAY THEN 'fast'
        |              WHEN l_shipdate <= o_orderdate + INTERVAL 90 DAY THEN 'medium'
        |              ELSE 'slow' END AS delay_bucket,
        |         o_orderpriority
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE l_shipdate >= DATE '1996-01-01') x
        |GROUP BY delay_bucket ORDER BY delay_bucket""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      // SHUFFLE_HASH(orders): the unfiltered orders side never
      // broadcasts, and sort-merge would SORT both fact streams —
      // at sf100 those two sorts were 90 GB of spill for a 3-group
      // aggregate. Hash-building the (narrower) orders partitions
      // skips both sorts; at small SFs AQE still turns the join into
      // a broadcast when runtime stats allow.
      // Both exchange payloads are narrowed map-side: the priority
      // CASE collapses to a boolean BEFORE the shuffle (no ~10-byte
      // string per order row) and both midnight timestamps ride as
      // 4-byte DATEs — every fixture timestamp is 00:00:00, so the
      // `± INTERVAL n DAY` compares are exactly date arithmetic.
      s.sql(
        """SELECT delay_bucket,
          |  CAST(sum(CASE WHEN is_high THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          |  CAST(sum(CASE WHEN is_high THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
          |FROM (
          |  SELECT /*+ SHUFFLE_HASH(o) */
          |         CASE WHEN l_ship <= o_date + INTERVAL 30 DAY THEN 'fast'
          |              WHEN l_ship <= o_date + INTERVAL 90 DAY THEN 'medium'
          |              ELSE 'slow' END AS delay_bucket,
          |         is_high
          |  FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
          |               o_orderpriority IN ('1-URGENT', '2-HIGH') AS is_high
          |        FROM orders) o
          |  JOIN (SELECT l_orderkey, CAST(l_shipdate AS DATE) AS l_ship
          |        FROM lineitem WHERE l_shipdate >= DATE '1996-01-01') l
          |    ON o_orderkey = l_orderkey) x
          |GROUP BY delay_bucket ORDER BY delay_bucket""".stripMargin)
    },

    QuerySpec(
      "q13_orders",
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY c_custkey) c_orders
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      // orders pre-aggregates to per-custkey counts BEFORE the left
      // join, so the join exchange carries customer-cardinality rows
      // (15 M at sf100) instead of every order (150 M); unmatched
      // customers take c_count 0 via coalesce — exactly the LEFT JOIN +
      // count(o_orderkey) semantics the oracle keeps.
      s.sql(
        """WITH oc AS (
          |  SELECT o_custkey, count(*) AS c
          |  FROM orders WHERE o_orderpriority <> '5-LOW'
          |  GROUP BY o_custkey)
          |SELECT c_count, count(*) AS custdist FROM (
          |  SELECT c_custkey, coalesce(oc.c, 0) AS c_count
          |  FROM customer LEFT JOIN oc ON c_custkey = o_custkey) c_orders
          |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)
    },

    QuerySpec(
      "q15_top_supplier",
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |         sum(l_extendedprice * (1 - l_discount)) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      // rank() over the aggregated revenue replaces the scalar-subquery
      // max: Spark inlines the CTE, so `= (SELECT max ...)` scanned and
      // aggregated lineitem TWICE (the r10 plan audit). rank=1 keeps
      // every tied max row — identical semantics on the same computed
      // doubles. The empty-partition window sees only the per-supplier
      // AGGREGATE (supplier cardinality, two skinny columns); at a
      // truly supplier-heavy SF the same one-pass shape would go
      // max-agg + broadcast join instead.
      s.sql(
        """WITH revenue AS (
          |  SELECT l_suppkey AS supplier_no,
          |         sum(l_extendedprice * (1 - l_discount)) AS total_revenue
          |  FROM lineitem
          |  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
          |  GROUP BY l_suppkey),
          |ranked AS (
          |  SELECT supplier_no, total_revenue,
          |         rank() OVER (ORDER BY total_revenue DESC) AS rk
          |  FROM revenue)
          |SELECT s_suppkey, s_name, total_revenue
          |FROM supplier JOIN ranked ON s_suppkey = supplier_no
          |WHERE rk = 1
          |ORDER BY s_suppkey""".stripMargin)
    },

    QuerySpec(
      "q22_idle_rich",
      // Q22 variant: no c_phone → "rich but idle" customers: acctbal above
      // the positive-balance average, with no orders (anti-join + scalar
      // subquery shape preserved).
      """SELECT c_mktsegment, count(*) AS numcust, CAST(sum(c_acctbal) AS DOUBLE) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= DATE '1999-01-01')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      // The SQL form left Catalyst a sort-merge LeftAnti: both the
      // above-average customers AND the ~40% recent-orders key stream
      // sorted, for a join whose output feeds a 5-group hash aggregate
      // that wants no order. Explicit shapes instead: the scalar avg
      // rides a broadcast 1-row cross join (same two customer scans the
      // subquery pays, minus the subquery machinery), and the anti join
      // hash-builds the recent-custkey side per partition (~0.5 M keys
      // per task at sf100's data-sized partitions) — no 60 M-row sort.
      val cust = t(s, dir, "customer")
      val avgRow = cust.filter(col("c_acctbal") > 0.0)
        .agg(avg(col("c_acctbal")).as("graft_avg"))
      val recent = t(s, dir, "orders")
        .filter(col("o_orderdate") >= ts("1999-01-01"))
        .select(col("o_custkey"))
      cust.select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .crossJoin(broadcast(avgRow))
        .filter(col("c_acctbal") > col("graft_avg"))
        .join(recent.hint("shuffle_hash"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("numcust"),
          sum(col("c_acctbal")).cast("double").as("totacctbal"))
        .orderBy(col("c_mktsegment"))
    },

    QuerySpec(
      "q21_waiting",
      // Q21 variant (no l_commitdate/l_receiptdate in fixtures): a lineitem
      // is "late" when it ships >60 days after the order date. Suppliers
      // counted once per multi-supplier finished order on which they were
      // the SOLE late supplier (the TPC-H per-order numwait granularity).
      // Plan shape: ONE pre-aggregate to (l_orderkey, l_suppkey,
      // max(is_late)) collapses the fact join, then a SECOND hash
      // aggregate over l_orderkey derives (nsupp, nlate) plus — via
      // max(CASE is_late THEN suppkey) — the identity of the sole late
      // supplier for qualifying orders. Both aggregates ride the join's
      // own l_orderkey hash partitioning (orderkey ⊆ each grouping
      // set), so the fact pipeline runs ONCE with ZERO extra exchanges
      // and, unlike the r10 window formulation this replaces, no
      // 500 M-row within-partition SORT (the window's sort spilled
      // 94 GB at sf100 and was the leg's variance driver; a hash agg
      // to order cardinality spills a fraction of that). (The earlier
      // self-join formulation referenced the pre-aggregate twice and
      // relied on exchange reuse that never fired: the two branches
      // push different IsNotNull sets into the lineitem scan, breaking
      // canonical equality — 4 fact exchanges, 68 GB of spill.)
      // Replaces TPC-H's EXISTS + NOT EXISTS double self-join: 2 keyed
      // fact exchanges at 100 TB. Oracle SQL keeps the equivalent
      // derivation so DuckDB agrees bit-for-bit (exact-integer
      // counts). Ref: /root/reference engine q21 coverage via
      // algebra/src/.../LogicalFilter + BatchJoinProcessing.cpp
      // semi/anti.
      """WITH late AS (
        |  SELECT l_orderkey, l_suppkey,
        |         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
        |                  THEN 1 ELSE 0 END) AS is_late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |  GROUP BY l_orderkey, l_suppkey
        |), per_order AS (
        |  SELECT l_orderkey, count(*) AS nsupp, sum(is_late) AS nlate
        |  FROM late GROUP BY l_orderkey
        |)
        |SELECT s_name, count(*) AS numwait
        |FROM late
        |JOIN per_order USING (l_orderkey)
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |WHERE is_late = 1 AND nsupp > 1 AND nlate = 1
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin) { (s, dir) =>
      // shuffle_hash on the filtered-orders side: sort-merge would sort
      // BOTH fact streams; the hash build is two skinny columns at
      // order/partition-count rows per task (~0.6 M at sf100 with
      // data-sized partitions), and the downstream aggregates want hash
      // partitioning, not sort order, so the sorts buy nothing.
      val late = t(s, dir, "lineitem")
        .join(
          t(s, dir, "orders").filter(col("o_orderstatus") === "F")
            .select(col("o_orderkey"), col("o_orderdate"))
            .hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max((col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .cast("int")).as("is_late"))
      // per-order rollup: when exactly one supplier was late,
      // max(CASE) IS that supplier — no join back to `late`, no window
      late
        .groupBy(col("l_orderkey"))
        .agg(
          count(lit(1)).as("nsupp"),
          sum(col("is_late")).as("nlate"),
          max(when(col("is_late") === 1, col("l_suppkey"))).as("late_supp"))
        .filter(col("nsupp") > 1 && col("nlate") === 1)
        .join(
          dim(t(s, dir, "supplier")
            .join(broadcast(t(s, dir, "nation")),
              col("s_nationkey") === col("n_nationkey"))
            .select(col("s_suppkey"), col("s_name"))),
          col("late_supp") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    },

    // ---- TPC-H battery, part 3: the partsupp quartet. ------------------
    // The fixtures ship no partsupp table, so Q2/Q11/Q16/Q20 derive one
    // deterministically from part × supplier with dbgen's own fan-out rule
    // (4 suppliers per part, suppkey = (p + i*(S/4 + p/S)) mod S — the
    // 0-based analogue of tpch dbgen PS_SUPPKEY) and md5-hash-family
    // quantities, the repo's standard replayable-randomness idiom (see
    // operators/Sampling.scala): DuckDB evaluates the IDENTICAL derivation,
    // so the oracle checks the full query, not a lookalike. supplycost is
    // kept in integer CENTS so every aggregate/HAVING/min comparison is
    // exact integer arithmetic — no float-summation-order drift across
    // engines — and only the displayed value divides by 100.
    // At scale the derived partsupp is a map-side flatMap of part (4 rows
    // out per row in, no shuffle to build), exactly how a generated dim
    // should behave at 100 TB.
    QuerySpec(
      "q2_min_cost",
      // Q2 variant: fixtures lack p_mfgr/s_address/s_phone/s_comment, so
      // the output keeps the available columns; the plan shape (region-
      // filtered 4-way dim join + correlated min-cost subquery over the
      // same join) is canonical Q2. p_size <= 15 stands in for = 15 to
      // keep the sf0.01 result non-trivial (43 rows, not 2).
      s"""WITH $psDuck
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
        |       round(ps_costcents / 100.0, 2) AS ps_supplycost
        |FROM part JOIN partsupp ON p_partkey = ps_partkey
        |  JOIN supplier ON s_suppkey = ps_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE p_size <= 15 AND p_type LIKE '%CONO%' AND r_name = 'EUROPE'
        |  AND ps_costcents = (
        |    SELECT min(ps2.ps_costcents)
        |    FROM partsupp ps2 JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
        |      JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        |      JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |    WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC NULLS LAST, n_name NULLS FIRST, s_name NULLS FIRST, p_partkey LIMIT 100""".stripMargin) { (s, dir) =>
      // Spark-side shape: the correlated-subquery form referenced the
      // partsupp CTE twice, and Spark inlines CTEs — at sf100 that meant
      // generating the 80 M-row derived dim TWICE plus an 80 M-group
      // aggregate (94.8 s vs DuckDB 3.4 s). Single-pass form: derive
      // partsupp from the FILTERED parts only (legal — the correlation
      // evaluates the subquery exactly at those partkeys), join the
      // Europe supplier slice once, and take the per-part min as a
      // window over the ~3% surviving rows. One exchange, one derivation.
      val p = t(s, dir, "part")
        .filter(col("p_size") <= 15 && col("p_type").like("%CONO%"))
        .select(col("p_partkey"), col("p_type"))
      val spc = t(s, dir, "supplier").agg(count(lit(1)).as("s_cnt"))
      val ps = p.crossJoin(broadcast(spc))
        .withColumn("i", explode(array(lit(0), lit(1), lit(2), lit(3))))
        .select(col("p_partkey"), col("p_type"),
          expr("(p_partkey + i * (s_cnt div 4 + p_partkey div s_cnt)) % s_cnt")
            .as("ps_suppkey"),
          expr("1 + CAST(conv(substr(md5(CAST(p_partkey AS STRING) || ':' || CAST(i AS STRING) || ':c'), 1, 8), 16, 10) AS BIGINT) % 99999")
            .as("ps_costcents"))
      val euro = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_acctbal"), col("s_name"), col("n_name"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("p_partkey"))
      ps.join(dim(euro), col("ps_suppkey") === col("s_suppkey"))
        .withColumn("min_cost", min(col("ps_costcents")).over(w))
        .filter(col("ps_costcents") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_type"),
          round(col("ps_costcents") / 100.0, 2).as("ps_supplycost"))
        .orderBy(col("s_acctbal").desc_nulls_last, col("n_name").asc_nulls_first,
          col("s_name").asc_nulls_first, col("p_partkey"))
        .limit(100)
    },

    QuerySpec(
      "q11_stock_value",
      // Q11: stock value per part in one nation, HAVING above a fraction
      // of the national total. The threshold compare runs on exact integer
      // cents (sum * 200 > total ⟺ sum > total/200) so a borderline group
      // cannot flip on cross-engine rounding.
      s"""WITH $psDuck
        |SELECT ps_partkey, round(sum(ps_costcents * ps_availqty) / 100.0, 2) AS value
        |FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_12'
        |GROUP BY ps_partkey
        |HAVING sum(ps_costcents * ps_availqty) * 200 > (
        |  SELECT sum(ps_costcents * ps_availqty)
        |  FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey
        |    JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_12')
        |ORDER BY value DESC, ps_partkey""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        s"""WITH $psSpark
          |SELECT ps_partkey, round(sum(ps_costcents * ps_availqty) / 100.0D, 2) AS value
          |FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey
          |  JOIN nation ON s_nationkey = n_nationkey
          |WHERE n_name = 'NATION_12'
          |GROUP BY ps_partkey
          |HAVING sum(ps_costcents * ps_availqty) * 200 > (
          |  SELECT sum(ps_costcents * ps_availqty)
          |  FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey
          |    JOIN nation ON s_nationkey = n_nationkey
          |  WHERE n_name = 'NATION_12')
          |ORDER BY value DESC, ps_partkey""".stripMargin)
    },

    QuerySpec(
      "q16_supplier_cnt",
      // Q16: supplier count per (brand, type, size) bucket with the three
      // canonical exclusions. The s_comment NOT LIKE filter becomes a
      // negative-balance exclusion (fixtures lack comments); NOT IN + null
      // semantics are identical SQL in both engines.
      s"""WITH $psDuck
        |SELECT p_brand, p_type, p_size, count(DISTINCT ps_suppkey) AS supplier_cnt
        |FROM partsupp JOIN part ON p_partkey = ps_partkey
        |WHERE p_brand <> 'Brand#17' AND p_type NOT LIKE 'SMALL%'
        |  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand NULLS FIRST, p_type NULLS FIRST, p_size NULLS FIRST LIMIT 100""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      // partsupp is GENERATED from part (4 rows per part, ps_partkey =
      // p_partkey), so `partsupp JOIN part ON p_partkey = ps_partkey` is
      // an identity self-join on the generator: inline the generation
      // over the ALREADY-FILTERED part rows instead. The brand/type/size
      // predicates then prune ~87% of part BEFORE the 4-way explode, the
      // 80 M-row join (two partkey exchanges + sorts at sf100)
      // disappears, and the unused availqty/costcents md5s are never
      // computed. Same rows as the oracle's join by construction.
      s.sql(
        """WITH sp AS (SELECT count(*) AS s_cnt FROM supplier),
          |fpart AS (
          |  SELECT p_partkey, p_brand, p_type, p_size FROM part
          |  WHERE p_brand <> 'Brand#17' AND p_type NOT LIKE 'SMALL%'
          |    AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)),
          |ps AS (
          |  SELECT p_brand, p_type, p_size,
          |         (p_partkey + i.i * (s_cnt div 4 + p_partkey div s_cnt)) % s_cnt AS ps_suppkey
          |  FROM fpart CROSS JOIN (SELECT explode(array(0, 1, 2, 3)) AS i) i CROSS JOIN sp)
          |SELECT p_brand, p_type, p_size, count(DISTINCT ps_suppkey) AS supplier_cnt
          |FROM ps
          |WHERE ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
          |GROUP BY p_brand, p_type, p_size
          |ORDER BY supplier_cnt DESC, p_brand NULLS FIRST, p_type NULLS FIRST, p_size NULLS FIRST LIMIT 100""".stripMargin)
    },

    QuerySpec(
      "q20_excess",
      // Q20: suppliers in one region holding excess stock (availqty above
      // half the shipped quantity) of 'red' parts. Region rather than the
      // canonical single nation: the sf0.001 fixture has 10 suppliers
      // spread over 10 nations, so any single-nation literal is vacuous
      // at the smallest scale; the dim-chain shape is unchanged.
      // l_quantity is integral in the fixtures, so 0.5*sum is exact in
      // double regardless of summation order and the > compare cannot
      // drift across engines.
      s"""WITH $psDuck
        |SELECT s_name, n_name, round(s_acctbal, 2) AS s_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |  AND s_suppkey IN (
        |    SELECT ps_suppkey FROM partsupp
        |    WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |      AND ps_availqty > (
        |        SELECT 0.5 * sum(l_quantity) FROM lineitem
        |        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |          AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'))
        |ORDER BY s_name""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      // The q17 lesson applied to q20: Spark decorrelates the
      // availqty-vs-half-shipped scalar subquery into an aggregate over
      // EVERY (l_partkey, l_suppkey) group — ~170 M groups from the
      // year-filtered fact at sf100 — then joins the red-part partsupp
      // slice against it. Pushing the red semi-filter BELOW the
      // aggregate (broadcast of ~red-part keys — explicit hint: the
      // ~13% key set is ~20 MB of longs at sf100, above the 10 MB
      // auto-broadcast threshold, so the IN-subquery semi silently
      // became a fact exchange) shrinks the grouped stream ~10×,
      // and partsupp is generated from red parts only
      // (ps_partkey = p_partkey by construction), never materializing
      // the other ~90% of the derived dim. An inner join against the
      // per-group halves keeps the original NULL semantics: a
      // (partkey, suppkey) with no shipped lines made the scalar NULL
      // and the `>` false — absent from the join, identically excluded.
      s.sql(
        """WITH sp AS (SELECT count(*) AS s_cnt FROM supplier),
          |red AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
          |ps AS (
          |  SELECT p_partkey AS ps_partkey,
          |         (p_partkey + i.i * (s_cnt div 4 + p_partkey div s_cnt)) % s_cnt AS ps_suppkey,
          |         1 + CAST(conv(substr(md5(CAST(p_partkey AS STRING) || ':' || CAST(i.i AS STRING)), 1, 4), 16, 10) AS INT) % 9999 AS ps_availqty
          |  FROM red CROSS JOIN (SELECT explode(array(0, 1, 2, 3)) AS i) i CROSS JOIN sp),
          |lsum AS (
          |  SELECT /*+ BROADCAST(red) */
          |         l_partkey, l_suppkey, 0.5 * sum(l_quantity) AS half_qty
          |  FROM lineitem LEFT SEMI JOIN red ON l_partkey = p_partkey
          |  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
          |  GROUP BY l_partkey, l_suppkey)
          |SELECT s_name, n_name, round(s_acctbal, 2) AS s_acctbal
          |FROM supplier JOIN nation ON s_nationkey = n_nationkey
          |  JOIN region ON n_regionkey = r_regionkey
          |WHERE r_name = 'EUROPE'
          |  AND s_suppkey IN (
          |    SELECT ps_suppkey
          |    FROM ps JOIN lsum ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
          |    WHERE ps_availqty > half_qty)
          |ORDER BY s_name""".stripMargin)
    },

    // ---- join types ---------------------------------------------------
    QuerySpec(
      "join_inner",
      """SELECT n_name, count(*) AS n_cust, CAST(sum(c_acctbal) AS DOUBLE) AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"), sum(col("c_acctbal")).cast("double").as("total_bal"))
        .orderBy(col("n_name"))
    },

    QuerySpec(
      "join_left",
      """SELECT c_custkey, c_name, o_cnt FROM (
        |  SELECT c_custkey, c_name, count(o_orderkey) AS o_cnt
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey, c_name
        |) x ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(col("o_orderkey")).as("o_cnt"))
        .orderBy(col("c_custkey"))
    },

    QuerySpec(
      "join_right",
      """SELECT o_orderkey, c_name
        |FROM (SELECT * FROM customer WHERE c_custkey <= 50) c
        |RIGHT JOIN orders ON c_custkey = o_custkey
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").filter(col("c_custkey") <= 50)
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "right")
        .select(col("o_orderkey"), col("c_name"))
        .orderBy(col("o_orderkey"))
    },

    QuerySpec(
      "join_full",
      """SELECT c_custkey, o_orderkey
        |FROM (SELECT * FROM customer WHERE c_custkey <= 60) c
        |FULL JOIN (SELECT * FROM orders WHERE o_custkey >= 40) o
        |  ON c_custkey = o_custkey
        |ORDER BY c_custkey NULLS FIRST, o_orderkey NULLS FIRST""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer").filter(col("c_custkey") <= 60)
      val o = t(s, dir, "orders").filter(col("o_custkey") >= 40)
      c.join(o, col("c_custkey") === col("o_custkey"), "full")
        .select(col("c_custkey"), col("o_orderkey"))
        .orderBy(col("c_custkey").asc_nulls_first, col("o_orderkey").asc_nulls_first)
    },

    QuerySpec(
      "join_cross",
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin) { (s, dir) =>
      t(s, dir, "region").crossJoin(t(s, dir, "nation"))
        .select(col("r_name"), col("n_name"))
        .orderBy(col("r_name"), col("n_name"))
    },

    QuerySpec(
      "join_semi",
      // IN-subquery — the reference rewrites these into joins via Calcite
      // (SURVEY §2.3); Spark plans a LeftSemi join directly.
      """SELECT o_orderstatus, count(*) AS n
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      val building = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      t(s, dir, "orders")
        .join(dim(building), col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    },

    QuerySpec(
      "join_anti",
      """SELECT n_name, count(*) AS n_no_p_order
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, dir) =>
      val pCust = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "P").select(col("o_custkey"))
      t(s, dir, "customer")
        .join(pCust, col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_no_p_order"))
        .orderBy(col("n_name"))
    },

    QuerySpec(
      "join_nonequi",
      // Equi + inequality condition: the reference splits this into an
      // equi-join plus post-filter (BatchJoinProcessing.cpp:148-230);
      // Spark evaluates the extra predicate inside the join natively.
      """SELECT s_suppkey, count(*) AS n_richer
        |FROM supplier JOIN customer
        |  ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
      val supp = t(s, dir, "supplier")
      val cust = t(s, dir, "customer")
      supp.join(cust,
          col("s_nationkey") === col("c_nationkey") && col("s_acctbal") > col("c_acctbal"))
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_richer"))
        .orderBy(col("s_suppkey"))
    },

    QuerySpec(
      "join_skew_zipf",
      // Planted-skew join: the zipf-ish key `100000 div (u+1)` (u a
      // multiplicative hash of l_orderkey, exact in DECIMAL/HUGEINT so
      // both engines derive identical keys) puts ~half of lineitem on
      // key 1 — P(zkey ≥ x) ≈ 1/x. The merge hint pins the SHUFFLE join
      // path (modelling a dim too large to broadcast, where skew
      // actually hurts); at data-dominated SFs the hot partition crosses
      // AQE's skewedPartitionThresholdInBytes and the runtime skew-split
      // fires — recorded per query by Bench's skew_joins field.
      // tools/SkewProbe measures the task-time distribution.
      // dim joins on dkey + 1, NOT its own grouping key: grouped on the
      // join key, the dim side would reuse its aggregation exchange and
      // OptimizeSkewedJoin cannot split (it must re-read the other
      // side's partition per split, which needs a plain shuffle stage)
      """WITH zli AS (
        |  SELECT 100000 // (CAST((CAST(l_orderkey AS HUGEINT) * 2654435761) % 100000 AS BIGINT) + 1) AS zkey,
        |    CAST(round(l_quantity) AS BIGINT) AS qty
        |  FROM lineitem),
        |dim AS (
        |  SELECT s_suppkey % 1000 AS dkey, count(*) AS n_sup
        |  FROM supplier GROUP BY 1)
        |SELECT zli.zkey, count(*) AS n, CAST(sum(qty) AS BIGINT) AS sum_qty,
        |  max(n_sup) AS n_sup
        |FROM zli JOIN dim ON zli.zkey = dim.dkey + 1
        |GROUP BY zli.zkey ORDER BY zli.zkey""".stripMargin) { (s, dir) =>
      val zli = t(s, dir, "lineitem").select(
        expr("100000L div (CAST((CAST(l_orderkey AS DECIMAL(38,0)) * 2654435761) % 100000 AS BIGINT) + 1)")
          .as("zkey"),
        round(col("l_quantity")).cast("long").as("qty"))
      val dim = t(s, dir, "supplier")
        .groupBy((col("s_suppkey") % 1000).as("dkey"))
        .agg(count(lit(1)).as("n_sup"))
      zli.hint("merge").join(dim, col("zkey") === col("dkey") + 1)
        .groupBy(col("zkey"))
        .agg(count(lit(1)).as("n"), sum(col("qty")).cast("long").as("sum_qty"),
          max(col("n_sup")).as("n_sup"))
        .orderBy(col("zkey"))
    },

    QuerySpec(
      "join_nullsafe",
      // IS NOT DISTINCT FROM keys (reference: null-equality joins,
      // BatchJoinProcessing.cpp:75-112). Nulls injected deterministically.
      """SELECT cnk, count(*) AS n
        |FROM (SELECT CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_nationkey END AS cnk
        |      FROM customer) c
        |JOIN (SELECT CASE WHEN s_suppkey % 5 = 0 THEN NULL ELSE s_nationkey END AS snk
        |      FROM supplier) s
        |  ON cnk IS NOT DISTINCT FROM snk
        |GROUP BY cnk ORDER BY cnk NULLS FIRST""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer").select(
        when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_nationkey")).as("cnk"))
      val sp = t(s, dir, "supplier").select(
        when(col("s_suppkey") % 5 === 0, lit(null)).otherwise(col("s_nationkey")).as("snk"))
      c.join(sp, col("cnk") <=> col("snk"))
        .groupBy(col("cnk"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("cnk").asc_nulls_first)
    },

    // ---- aggregation --------------------------------------------------
    QuerySpec(
      "agg_nogroup",
      """SELECT count(*) AS n_rows,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
        |  CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
        |  avg(l_extendedprice) AS avg_price,
        |  min(l_extendedprice) AS min_price,
        |  max(l_extendedprice) AS max_price
        |FROM lineitem""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_suppkey")).cast("long").as("n_supp"),
        sum(col("l_quantity")).cast("double").as("sum_qty"),
        avg(col("l_extendedprice")).as("avg_price"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
    },

    QuerySpec(
      "agg_distinct",
      // COUNT(DISTINCT) — the reference expands this via Calcite's
      // AggregateExpandDistinctAggregatesRule (SURVEY §2.4); Spark plans it
      // natively with a two-phase distinct aggregate.
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS d_supp,
        |  CAST(count(DISTINCT (l_suppkey, l_partkey)) AS BIGINT) AS d_sp,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_suppkey")).cast("long").as("d_supp"),
          countDistinct(col("l_suppkey"), col("l_partkey")).cast("long").as("d_sp"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    },

    QuerySpec(
      "agg_stats",
      // round(_, 2) on both sides: Spark and DuckDB accumulate variance in
      // different orders, so raw doubles differ in the last bits and the
      // driver's exact hash would mismatch (values agree to ~1e-9 rel).
      """SELECT l_returnflag,
        |  round(stddev_samp(l_extendedprice), 2) AS sd_samp,
        |  round(stddev_pop(l_extendedprice), 2) AS sd_pop,
        |  round(var_samp(l_extendedprice), 2) AS v_samp,
        |  round(var_pop(l_extendedprice), 2) AS v_pop
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(stddev_samp(col("l_extendedprice")), 2).as("sd_samp"),
          round(stddev_pop(col("l_extendedprice")), 2).as("sd_pop"),
          round(var_samp(col("l_extendedprice")), 2).as("v_samp"),
          round(var_pop(col("l_extendedprice")), 2).as("v_pop"))
        .orderBy(col("l_returnflag"))
    },

    QuerySpec(
      "agg_corr",
      // corr / covar / linear-regression aggregate family (SQL:2003
      // bivariate aggregates; superset of the reference's stat kernels,
      // SURVEY §2.4). round(_, k) on both sides — two-engine accumulation
      // order differs in the last float bits (agg_stats pattern); ranks
      // and filters stay on raw values. regr_count is exact (BIGINT).
      """SELECT l_returnflag,
        |  round(corr(l_extendedprice, l_quantity), 6) AS r,
        |  round(covar_samp(l_extendedprice, l_quantity), 2) AS cov_s,
        |  round(covar_pop(l_extendedprice, l_quantity), 2) AS cov_p,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 2) AS icept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
        |  round(regr_avgx(l_extendedprice, l_quantity), 4) AS ax,
        |  round(regr_avgy(l_extendedprice, l_quantity), 2) AS ay
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(corr(col("l_extendedprice"), col("l_quantity")), 6).as("r"),
          round(covar_samp(col("l_extendedprice"), col("l_quantity")), 2).as("cov_s"),
          round(covar_pop(col("l_extendedprice"), col("l_quantity")), 2).as("cov_p"),
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 2).as("icept"),
          round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2"),
          regr_count(col("l_extendedprice"), col("l_quantity")).cast("long").as("n"),
          round(regr_avgx(col("l_extendedprice"), col("l_quantity")), 4).as("ax"),
          round(regr_avgy(col("l_extendedprice"), col("l_quantity")), 2).as("ay"))
        .orderBy(col("l_returnflag"))
    },

    QuerySpec(
      "agg_having",
      // HAVING → Filter-above-Aggregate (reference: Calcite rewrite,
      // docsrc aggregating.rst:55-71).
      """SELECT l_suppkey, CAST(sum(l_quantity) AS DOUBLE) AS total_qty
        |FROM lineitem GROUP BY l_suppkey
        |HAVING sum(l_quantity) > 400
        |ORDER BY total_qty DESC, l_suppkey""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_quantity")).cast("double").as("total_qty"))
        .filter(col("total_qty") > 400)
        .orderBy(col("total_qty").desc, col("l_suppkey"))
    },

    QuerySpec(
      "agg_distinct_rows",
      // group-by with no aggregations = DISTINCT (reference:
      // cudf::drop_duplicates path, GroupBy.cpp:205-213).
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // ---- sort / limit --------------------------------------------------
    QuerySpec(
      "sort_multikey_nulls",
      // Explicit per-key ASC/DESC + NULLS FIRST/LAST (reference:
      // OrderBy.cpp:133-184). Spark default null-ordering differs from
      // DuckDB's, so both sides are explicit.
      """SELECT c_custkey, bal, c_mktsegment FROM (
        |  SELECT c_custkey, CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_acctbal END AS bal,
        |         c_mktsegment
        |  FROM customer) x
        |ORDER BY bal DESC NULLS LAST, c_mktsegment ASC, c_custkey ASC
        |LIMIT 100""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"),
          when(col("c_custkey") % 11 === 0, lit(null)).otherwise(col("c_acctbal")).as("bal"),
          col("c_mktsegment"))
        .orderBy(col("bal").desc_nulls_last, col("c_mktsegment").asc, col("c_custkey").asc)
        .limit(100)
    },

    QuerySpec(
      "sort_limit_topk",
      // ORDER BY + LIMIT fuses into TakeOrderedAndProject (top-k, no full
      // sort) — the analog of the reference's distributed LimitKernel.
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(25)
    },

    // ---- set operations -------------------------------------------------
    QuerySpec(
      "set_union_all",
      """SELECT k, src FROM (
        |  SELECT l_orderkey AS k, 'a' AS src FROM lineitem WHERE l_linenumber = 1
        |  UNION ALL
        |  SELECT o_orderkey AS k, 'b' AS src FROM orders WHERE o_orderstatus = 'O'
        |) x ORDER BY k, src""".stripMargin) { (s, dir) =>
      val a = t(s, dir, "lineitem").filter(col("l_linenumber") === 1)
        .select(col("l_orderkey").as("k"), lit("a").as("src"))
      val b = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey").as("k"), lit("b").as("src"))
      a.unionByName(b).orderBy(col("k"), col("src"))
    },

    QuerySpec(
      "set_union_widen",
      // UNION type widening (reference: get_common_types /
      // normalize_types, CommonOperations.cpp): BIGINT ∪ DOUBLE → DOUBLE in
      // both engines' coercion rules — no explicit casts on either side.
      """SELECT v, src FROM (
        |  SELECT l_quantity AS v, 'q' AS src FROM lineitem WHERE l_orderkey <= 100
        |  UNION ALL
        |  SELECT o_orderkey, 'k' FROM orders WHERE o_orderkey <= 100
        |) x ORDER BY src, v""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT v, src FROM (
          |  SELECT l_quantity AS v, 'q' AS src FROM lineitem WHERE l_orderkey <= 100
          |  UNION ALL
          |  SELECT o_orderkey, 'k' FROM orders WHERE o_orderkey <= 100
          |) x ORDER BY src, v""".stripMargin)
    },

    QuerySpec(
      "set_union_distinct",
      // UNION (distinct) — reference rewrites to UNION ALL + dedup
      // (PhysicalPlanGenerator.h:251-294); Spark: union + distinct.
      """SELECT nk FROM (
        |  SELECT c_nationkey AS nk FROM customer
        |  UNION
        |  SELECT s_nationkey AS nk FROM supplier
        |) x ORDER BY nk""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nk"))
        .union(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))
        .distinct()
        .orderBy(col("nk"))
    },

    QuerySpec(
      "set_intersect",
      """SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'
        |INTERSECT
        |SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'A'
        |ORDER BY k""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      li.filter(col("l_returnflag") === "R").select(col("l_suppkey").as("k"))
        .intersect(li.filter(col("l_returnflag") === "A").select(col("l_suppkey").as("k")))
        .orderBy(col("k"))
    },

    QuerySpec(
      "set_except",
      """SELECT l_partkey AS k FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-02-01 00:00:00'
        |EXCEPT
        |SELECT l_partkey AS k FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-02-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-03-01 00:00:00'
        |ORDER BY k""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      li.filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1996-02-01"))
        .select(col("l_partkey").as("k"))
        .except(
          li.filter(col("l_shipdate") >= ts("1996-02-01") && col("l_shipdate") < ts("1996-03-01"))
            .select(col("l_partkey").as("k")))
        .orderBy(col("k"))
    },

    // ---- subqueries / CTEs (SQL surface via Spark's parser) -------------
    QuerySpec(
      "sub_scalar",
      """SELECT o_orderstatus, count(*) AS n
        |FROM orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT o_orderstatus, count(*) AS n
          |FROM orders
          |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    },

    QuerySpec(
      "sub_correlated",
      // Correlated scalar subquery → decorrelated into a join by Catalyst
      // (reference: Calcite sql-to-rel decorrelation, SURVEY §4.1).
      """SELECT c_custkey, c_acctbal FROM customer c1
        |WHERE c_acctbal > (SELECT avg(c_acctbal) * 1.5 FROM customer c2
        |                   WHERE c2.c_nationkey = c1.c_nationkey)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT c_custkey, c_acctbal FROM customer c1
          |WHERE c_acctbal > (SELECT avg(c_acctbal) * 1.5 FROM customer c2
          |                   WHERE c2.c_nationkey = c1.c_nationkey)
          |ORDER BY c_custkey""".stripMargin)
    },

    QuerySpec(
      "q17_small_qty",
      // 'Brand#1' is the fixture literal (dbgen style) — the earlier
      // 'BRAND_1' matched nothing, so the query aggregated 600 M rows
      // into an empty join at sf100; this is the real-work form
      // the revenue sum rides exact integer cents (prices have 2
      // decimals) — a raw double sum drifts ~1e-9 with partial-agg order
      // and breaks the exact hash; the quantity threshold needs no such
      // care (integer-valued sums are fp-exact at any order)
      """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 700.0 AS avg_yearly
        |FROM lineitem l1 JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#1'
        |  AND l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
        |                    WHERE l2.l_partkey = l1.l_partkey)""".stripMargin) { (s, dir) =>
      // Spark's decorrelation aggregates ALL of lineitem per partkey
      // before joining (150 s at sf100); the correlation only evaluates
      // at Brand#1 partkeys (~4% of parts), so semi-filter lineitem by
      // the brand's KEYS first — every downstream node then touches 4%
      // of the fact table. avg(l_quantity)*0.5 is fp-identical to the
      // oracle's 0.5*avg (integral-valued sums are exact at any order;
      // the multiply commutes exactly).
      val pk = t(s, dir, "part").filter(col("p_brand") === "Brand#1")
        .select(col("p_partkey"))
      val li1 = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .join(dimCounted(pk), col("l_partkey") === col("p_partkey"))
        .drop("p_partkey")
      val thr = li1.groupBy(col("l_partkey"))
        .agg((avg(col("l_quantity")) * 0.5).as("half_avg"))
      li1.join(thr, Seq("l_partkey"))
        .filter(col("l_quantity") < col("half_avg"))
        .agg((sum(round(col("l_extendedprice") * 100).cast("long"))
          .cast("double") / 700.0).as("avg_yearly"))
    },

    QuerySpec(
      "cte_query",
      """WITH rev AS (
        |  SELECT l_suppkey AS supp, sum(l_extendedprice * (1 - l_discount)) AS total
        |  FROM lineitem GROUP BY l_suppkey
        |)
        |SELECT s_suppkey, s_name, total FROM supplier JOIN rev ON s_suppkey = supp
        |WHERE total > (SELECT avg(total) FROM rev)
        |ORDER BY total DESC, s_suppkey""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      // Spark inlines CTEs, so the scalar-subquery form scans + aggregates
      // lineitem TWICE. Computing avg(total) as an empty-frame window over
      // the aggregated rev keeps ONE lineitem scan; the window's
      // single-partition exchange only sees |suppliers| aggregated rows,
      // not base data — at 100 TB that's the difference between 2× scan IO
      // and a kilobyte-scale exchange.
      s.sql(
        """WITH rev AS (
          |  SELECT l_suppkey AS supp, sum(l_extendedprice * (1 - l_discount)) AS total
          |  FROM lineitem GROUP BY l_suppkey
          |),
          |w AS (SELECT supp, total, avg(total) OVER () AS avg_total FROM rev)
          |SELECT s_suppkey, s_name, total FROM supplier JOIN w ON s_suppkey = supp
          |WHERE total > avg_total
          |ORDER BY total DESC, s_suppkey""".stripMargin)
    },

    // ---- grouping sets / rollup / cube (Spark superset; absent in the
    // reference — SURVEY §2.4 marks them free wins) ----------------------
    QuerySpec(
      "agg_rollup",
      """SELECT l_returnflag, l_linestatus, CAST(sum(l_quantity) AS DOUBLE) AS sq
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
      // two-phase: pre-aggregate to the distinct key combos (6 rows), then
      // rollup the tiny intermediate — Expand over the raw table would
      // multiply 100 TB of scan output ×3 before any reduction. sum is
      // decomposable, so sum(psq) == sum(qty) per rollup group. Unlike
      // agg_cube, no rounding needed: l_quantity is integral, so every
      // partial double sum is exact and reordering can't drift.
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("psq"))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("psq")).cast("double").as("sq"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }
  )
}
