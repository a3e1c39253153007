package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.normalize_text

/** Capabilities the reference explicitly lacks (SURVEY §2.4/§2.6/§7.4 mark
  * them absent) that Spark provides natively — shipped as supersets:
  * OFFSET, CUBE / GROUPING SETS, approximate aggregates, semi-structured
  * explode.
  */
object Superset {
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  val specs: Seq[QuerySpec] = Seq(

    QuerySpec(
      "sort_offset",
      // OFFSET — absent in the reference (LIMIT only, SURVEY §2.6).
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET 40""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .offset(40).limit(20)
    },

    QuerySpec(
      "agg_cube",
      """SELECT l_returnflag, l_linestatus,
        |  count(*) AS n, CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS total
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
      // two-phase cube: pre-agg to distinct key combos, then Expand over
      // the 6-row intermediate (see agg_rollup; count(*) == sum of partial
      // counts, so both aggs decompose). round(_, 2) on BOTH sides: the
      // two-phase sum reorders double accumulation, so last-bit drift vs
      // the oracle's single-phase sum is expected — the driver hash is
      // exact (agg_stats pattern).
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("pn"), sum(col("l_extendedprice")).as("pt"))
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("pn")).as("n"),
          round(sum(col("pt")), 2).cast("double").as("total"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },

    QuerySpec(
      "agg_grouping_sets",
      """SELECT l_returnflag, l_suppkey % 10 AS supp_bucket,
        |  CAST(sum(l_quantity) AS DOUBLE) AS sq
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_suppkey % 10), ())
        |ORDER BY l_returnflag NULLS FIRST, supp_bucket NULLS FIRST""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      // two-phase grouping sets (see agg_rollup): the pre-agg reduces to
      // ~30 (flag, bucket) rows before Expand triples anything.
      s.sql(
        """WITH pre AS (
          |  SELECT l_returnflag, l_suppkey % 10 AS supp_bucket,
          |    sum(l_quantity) AS psq
          |  FROM lineitem GROUP BY l_returnflag, l_suppkey % 10)
          |SELECT l_returnflag, supp_bucket, CAST(sum(psq) AS DOUBLE) AS sq
          |FROM pre
          |GROUP BY GROUPING SETS ((l_returnflag), (supp_bucket), ())
          |ORDER BY l_returnflag ASC NULLS FIRST, supp_bucket ASC NULLS FIRST""".stripMargin)
    },

    // HLL sketch cardinality: no cross-engine oracle (different sketches);
    // the ScalaTest spec asserts <5% error vs the exact count instead.
    QuerySpec(
      "agg_approx",
      // HLL++ estimates are sketch-specific, but their ACCURACY CONTRACT
      // is checkable: emit the rsd-bound invariants as booleans (plus the
      // exact counts), and the oracle states what a correct approx-distinct
      // must satisfy — same pattern as expr_nondet. 0.02 rsd ⇒ ±3σ = 6%.
      """SELECT true AS parts_within_6pct, true AS orders_within_6pct,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  count(DISTINCT l_orderkey) AS exact_orders,
        |  count(*) AS n
        |FROM lineitem""".stripMargin) { (s, dir) =>
      // three independent single-row aggs + cross join: mixing two
      // DISTINCT aggregates with the HLL sketches in one Aggregate forces
      // an Expand plan that re-evaluates the sketches over 3x rows (35s at
      // sf1 vs 4s split; the reference's distinct kernels also run
      // separate passes, BatchAggregationProcessing.cpp)
      val li = t(s, dir, "lineitem")
      val apx = li.agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("apx_parts"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("apx_orders"),
        count(lit(1)).as("n"))
      val exParts = li.agg(countDistinct(col("l_partkey")).as("exact_parts"))
      val exOrders = li.agg(countDistinct(col("l_orderkey")).as("exact_orders"))
      apx.crossJoin(exParts).crossJoin(exOrders)
        .select(
          (abs(col("apx_parts") - col("exact_parts")) <=
            col("exact_parts") * 0.06).as("parts_within_6pct"),
          (abs(col("apx_orders") - col("exact_orders")) <=
            col("exact_orders") * 0.06).as("orders_within_6pct"),
          col("exact_parts"), col("exact_orders"), col("n"))
    },

    // Approximate percentiles (Greenwald-Khanna sketch): mergeable across
    // partitions — the at-scale path where exact interpolation
    // (agg_percentile) would shuffle whole value sets. The sketch value is
    // engine-specific but its rank-error contract is oracle-checkable:
    // with accuracy 5000 the result must land within ±1/5000 of the target
    // rank; the oracle checks the approx value sits between the exact
    // quantiles at rank ± 2·n/5000 (covering interpolation edge effects).
    QuerySpec(
      "agg_approx_percentile",
      """SELECT l_returnflag,
        |  true AS p50_rank_ok, true AS p95_rank_ok, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      // one sketch and one exact-percentile buffer per group, not 2 + 4:
      // both aggregates take percentage ARRAYS and share a single pass
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(
          percentile_approx(col("l_extendedprice"),
            array(lit(0.5), lit(0.95)), lit(5000)).as("apx"),
          expr(s"percentile(l_extendedprice, array(${0.5 - 2.0 / 5000}, " +
            s"${0.5 + 2.0 / 5000}, ${0.95 - 2.0 / 5000}, ${0.95 + 2.0 / 5000}))")
            .as("ex"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          (col("apx").getItem(0) >= col("ex").getItem(0) &&
            col("apx").getItem(0) <= col("ex").getItem(1)).as("p50_rank_ok"),
          (col("apx").getItem(1) >= col("ex").getItem(2) &&
            col("apx").getItem(1) <= col("ex").getItem(3)).as("p95_rank_ok"),
          col("n"))
        .orderBy(col("l_returnflag"))
    },

    QuerySpec(
      "agg_hll_merge",
      // Mergeable-sketch workflow (the 100-TB distinct-count story: one
      // HLL sketch per shard, union the sketches, never reshuffle raw
      // ids): per-source sketches of doc ids union per lang; the oracle
      // checks the estimate against the exact distinct via an rsd-bound
      // boolean (default lgConfigK=12 ⇒ rsd ~1.6%; 5% bound) plus the
      // exact count itself.
      """SELECT lang, true AS est_ok, count(DISTINCT doc_id) AS exact_n
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val perShard = docs.groupBy(col("lang"), col("source"))
        .agg(hll_sketch_agg(col("doc_id")).as("sk"))
      val unioned = perShard.groupBy(col("lang"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = docs.groupBy(col("lang"))
        .agg(countDistinct(col("doc_id")).as("exact_n"))
      // null-safe join key: both sides carry a NULL-lang group on
      // with-nulls data, and an equi-join would silently drop it
      unioned.join(exact, unioned("lang") <=> exact("lang"))
        .select(unioned("lang"),
          (abs(col("est") - col("exact_n")) <= col("exact_n") * 0.05).as("est_ok"),
          col("exact_n"))
        .orderBy(col("lang"))
    },

    QuerySpec(
      "dedup_incremental",
      // Production crawl-dedup flow: an INCOMING batch (doc_id >= 250) is
      // checked against an existing INDEX (doc_id < 250) by normalized
      // 60-char-prefix fingerprint — only matches surface, each with the
      // index doc it collides with. The index side aggregates to one row
      // per fingerprint before the join, so the probe is index-distinct
      // sized, and at scale the incoming batch (small side) broadcasts.
      """WITH fp AS (
        |  SELECT doc_id,
        |    md5(substring(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 60)) AS fingerprint
        |  FROM documents),
        |idx AS (SELECT fingerprint, min(doc_id) AS index_id FROM fp WHERE doc_id < 250 GROUP BY 1),
        |inc AS (SELECT doc_id, fingerprint FROM fp WHERE doc_id >= 250)
        |SELECT inc.doc_id, idx.index_id
        |FROM inc JOIN idx USING (fingerprint)
        |ORDER BY inc.doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val fp = docs.select(col("doc_id"),
        md5(substring(normalize_text(col("text")), 1, 60)).as("fingerprint"))
      val idx = fp.filter(col("doc_id") < 250)
        .groupBy(col("fingerprint")).agg(min(col("doc_id")).as("index_id"))
      fp.filter(col("doc_id") >= 250)
        .join(idx, Seq("fingerprint"))
        .select(col("doc_id"), col("index_id"))
        .orderBy(col("doc_id"))
    },

    QuerySpec(
      "asof_join",
      // As-of join composed from union + window carry-forward (see
      // operators/AsOfJoin.scala); DuckDB's native ASOF JOIN is the oracle.
      """SELECT p.event_id, p.user_id,
        |  date_diff('second', v.ts, p.ts) AS gap_seconds
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND v.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"))
      graft.operators.AsOfJoin.backward(purchases, views, "user_id", "ts", "ts")
        .select(col("event_id"), col("user_id"),
          (unix_timestamp(col("ts")) - unix_timestamp(col("asof_time")))
            .as("gap_seconds"))
        .orderBy(col("event_id"))
    },

    QuerySpec(
      "topk_per_group",
      // The row_number ≤ k idiom plans as partial→shuffle→final bounded
      // heaps (plans/TopKPerGroup.scala): no sort of the table, and the
      // exchange carries ≤ k·groups·partitions rows.
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice FROM (
        |  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem) x WHERE rn <= 5
        |ORDER BY l_returnflag, l_extendedprice DESC, l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .withColumn("rn", row_number().over(Window.partitionBy(col("l_returnflag"))
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))))
        .filter(col("rn") <= 5)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"))
        .orderBy(col("l_returnflag"), col("l_extendedprice").desc,
          col("l_orderkey"), col("l_linenumber"))
    },

    QuerySpec(
      "agg_filter_clause",
      // Aggregate FILTER clause — absent in the reference's closed
      // aggregate set; both engines support it natively. Conditional
      // aggregation without the CASE detour stays a single HashAggregate.
      """SELECT l_returnflag,
        |  count(*) FILTER (WHERE l_quantity > 25) AS n_big,
        |  CAST(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS disc_rev
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT l_returnflag,
          |  count(*) FILTER (WHERE l_quantity > 25) AS n_big,
          |  CAST(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS disc_rev
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    },

    QuerySpec(
      "expr_semistruct",
      // Struct / map / array construction + access — the reference is
      // flat-column-only (§1.2); these are scalar in/scalar out so the
      // oracle replays the semantics (CASE for the map lookup) without
      // needing DuckDB's nested syntax quirks.
      """SELECT l_orderkey, l_linenumber,
        |  l_quantity AS s_qty,
        |  CASE l_returnflag WHEN 'A' THEN 1.0 WHEN 'N' THEN 2.0
        |       WHEN 'R' THEN 3.0 END AS flag_weight,
        |  'q=' || CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) AS arr_pick
        |FROM lineitem WHERE l_orderkey < 200
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem").filter(col("l_orderkey") < 200)
        .select(col("l_orderkey"), col("l_linenumber"),
          // struct build + field access round-trip
          struct(col("l_quantity").as("q"), col("l_returnflag").as("f"))
            .getField("q").as("s_qty"),
          // map literal lookup keyed by a column
          element_at(
            map_from_arrays(
              typedlit(Seq("A", "N", "R")),
              typedlit(Seq(1.0, 2.0, 3.0))),
            col("l_returnflag")).as("flag_weight"),
          // array build + element_at with a computed index
          element_at(
            transform(array(col("l_quantity")),
              q => concat(lit("q="), q.cast("long").cast("string"))),
            1).as("arr_pick"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    QuerySpec(
      "pivot_wide",
      // PIVOT — absent in the reference (closed Calcite operator set);
      // Spark's groupBy().pivot() with explicit values keeps the plan a
      // single pass (no per-value scans). Oracle = conditional aggregation;
      // no ELSE so absent combos stay NULL, matching pivot semantics.
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS DOUBLE) AS qty_a,
        |  CAST(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS DOUBLE) AS qty_n,
        |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS DOUBLE) AS qty_r
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin) { (s, dir) =>
      // explicit pivot values: skips the values-discovery job AND keeps
      // the column set stable at any data scale
      t(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_quantity")))
        .select(col("l_linestatus"),
          col("A").cast("double").as("qty_a"),
          col("N").cast("double").as("qty_n"),
          col("R").cast("double").as("qty_r"))
        .orderBy(col("l_linestatus"))
    },

    QuerySpec(
      "unpivot_long",
      // UNPIVOT / melt — absent in the reference. Spark's unpivot is a
      // single Expand node (one scan); the oracle's UNION ALL re-scans per
      // measure, which is exactly why the operator matters at scale.
      """SELECT l_orderkey, l_linenumber, measure, val FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_discount' AS measure, l_discount AS val
        |  FROM lineitem WHERE l_orderkey < 1000
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        |  FROM lineitem WHERE l_orderkey < 1000
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_quantity', l_quantity
        |  FROM lineitem WHERE l_orderkey < 1000) u
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") < 1000)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_discount"), col("l_extendedprice"), col("l_quantity")),
          "measure", "val")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"))
    },

    QuerySpec(
      "set_except_all",
      // Multiset EXCEPT ALL — duplicate-preserving difference, beyond both
      // the reference (no INTERSECT/EXCEPT at all, §2.7) and its distinct
      // variants already covered by set_except.
      """SELECT l_suppkey FROM lineitem WHERE l_orderkey % 7 = 0
        |EXCEPT ALL
        |SELECT l_suppkey FROM lineitem WHERE l_orderkey % 7 = 1
        |ORDER BY l_suppkey""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      li.filter(col("l_orderkey") % 7 === 0).select(col("l_suppkey"))
        .exceptAll(
          li.filter(col("l_orderkey") % 7 === 1).select(col("l_suppkey")))
        .orderBy(col("l_suppkey"))
    },

    QuerySpec(
      "set_intersect_all",
      """SELECT l_suppkey FROM lineitem WHERE l_orderkey % 7 = 0
        |INTERSECT ALL
        |SELECT l_suppkey FROM lineitem WHERE l_orderkey % 7 = 1
        |ORDER BY l_suppkey""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      li.filter(col("l_orderkey") % 7 === 0).select(col("l_suppkey"))
        .intersectAll(
          li.filter(col("l_orderkey") % 7 === 1).select(col("l_suppkey")))
        .orderBy(col("l_suppkey"))
    },

    QuerySpec(
      "expr_arrayfuncs",
      // Array function battery (sort/distinct/slice/contains/join) — the
      // reference is flat-column-only (§1.2). Sort-before-slice keeps the
      // result independent of either engine's distinct ordering; outputs
      // are joined to strings (array columns break the compare path).
      """SELECT doc_id,
        |  array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:8], ',') AS first8,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        |  list_contains(string_split(text, ' '), 'table') AS has_table
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val words = split(col("text"), " ")
      t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          array_join(slice(array_sort(array_distinct(words)), 1, 8), ",").as("first8"),
          size(array_distinct(words)).cast("long").as("n_distinct"),
          array_contains(words, "table").as("has_table"))
        .orderBy(col("doc_id"))
    },

    QuerySpec(
      "set_union_byname",
      // unionByName with missing columns NULL-padded — schema-evolution
      // union the reference's strict concat kernel cannot do
      // (BatchUnionProcessing.cpp normalizes types but requires the same
      // column set).
      """SELECT id, price, bal FROM (
        |  SELECT o_orderkey AS id, o_totalprice AS price, CAST(NULL AS DOUBLE) AS bal
        |  FROM orders WHERE o_orderkey < 2000
        |  UNION ALL
        |  SELECT c_custkey, CAST(NULL AS DOUBLE), c_acctbal FROM customer) u
        |ORDER BY id, price NULLS FIRST, bal NULLS FIRST""".stripMargin) { (s, dir) =>
      val a = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey").as("id"), col("o_totalprice").as("price"))
      val b = t(s, dir, "customer")
        .select(col("c_custkey").as("id"), col("c_acctbal").as("bal"))
      a.unionByName(b, allowMissingColumns = true)
        .orderBy(col("id"), col("price").asc_nulls_first, col("bal").asc_nulls_first)
    },

    QuerySpec(
      "explode_pos",
      // Generator WITH ORDINALITY (posexplode) — position-aware UNNEST the
      // flat-column reference can't express; DuckDB replays it by zipping
      // a parallel generate_series unnest.
      """SELECT doc_id, CAST(pos AS INT) AS pos, tok FROM (
        |  SELECT doc_id, unnest(generate_series(0, len(tk) - 1)) AS pos, unnest(tk) AS tok
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk
        |        FROM documents WHERE doc_id < 50) x) y
        |ORDER BY doc_id, pos""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"),
          posexplode(graft.functions.tokens(col("text"))).as(Seq("pos", "tok")))
        .orderBy(col("doc_id"), col("pos"))
    },

    QuerySpec(
      "explode_tokens",
      // Generator/UNNEST path — flat-column-only in the reference (§1.2).
      """SELECT tok, count(*) AS n FROM (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |                            x -> len(x) > 0)) AS tok
        |  FROM documents WHERE doc_id < 100) x
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(explode(graft.functions.tokens(col("text"))).as("tok"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(20)
    },

    QuerySpec(
      "layout_zorder",
      // Z-order (Morton) layout key over (l_partkey, l_suppkey): exact
      // integer grid quantization + bit interleave, so the multi-column
      // clustering key the write path sorts by — and the fixed-grid
      // zbucket — replay bit-for-bit in DuckDB. The write-side locality
      // effect (per-file min/max tightening on BOTH columns) is asserted
      // in ZOrderSpec; this query pins the arithmetic.
      """WITH stats AS (
        |  SELECT CAST(min(l_partkey) AS BIGINT) AS mn1, CAST(max(l_partkey) AS BIGINT) AS mx1,
        |         CAST(min(l_suppkey) AS BIGINT) AS mn2, CAST(max(l_suppkey) AS BIGINT) AS mx2
        |  FROM lineitem),
        |cells AS (
        |  SELECT l_orderkey, l_linenumber,
        |    ((CAST(l_partkey AS BIGINT) - mn1) * 256) // (mx1 - mn1 + 1) AS c1,
        |    ((CAST(l_suppkey AS BIGINT) - mn2) * 256) // (mx2 - mn2 + 1) AS c2
        |  FROM lineitem, stats)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(list_sum(list_transform(generate_series(0, 7), i ->
        |    (((c1 >> i) & 1) << (2*i)) + (((c2 >> i) & 1) << (2*i + 1)))) AS BIGINT) AS zval,
        |  CAST(list_sum(list_transform(generate_series(0, 7), i ->
        |    (((c1 >> i) & 1) << (2*i)) + (((c2 >> i) & 1) << (2*i + 1)))) AS BIGINT) >> 12 AS zbucket
        |FROM cells ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      graft.operators.ZOrder.zvalues(
          t(s, dir, "lineitem"), Seq("l_partkey", "l_suppkey"),
          bits = 8, bucketBits = 4)
        .select(col("l_orderkey"), col("l_linenumber"), col("zval"), col("zbucket"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    QuerySpec(
      "join_bloom_prefilter",
      // Bloom-prefiltered fact⋈dim join: the fact side is pruned by the
      // dimension-key bitmap BEFORE the exchange, then exactly joined —
      // semantics-preserving, so the oracle is the plain join. At scale
      // this shuffles ~2% of lineitem instead of all of it.
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 490000
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_quantity"))
      val sel = t(s, dir, "orders").filter(col("o_totalprice") > 490000)
        .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
      graft.operators.Bloom.prefilterJoin(li, sel, "okey", m = 8192, k = 6)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("long")).as("qty"))
        .orderBy(col("o_orderpriority"))
    },

    QuerySpec(
      "sketch_heavyhitters",
      // Count-Min heavy hitters: token frequencies estimated from a
      // 4×1024 counter grid instead of the vocabulary-sized exact
      // histogram shuffle. The md5 double-hash family is deterministic,
      // so DuckDB rebuilds the identical grid and the identical
      // (over)estimates — hash-exact including collision noise.
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS token
        |  FROM documents),
        |pos AS (
        |  SELECT token,
        |    ('0x' || substr(md5(token), 1, 15))::BIGINT % 1024 AS h1,
        |    ('0x' || substr(md5(token), 16, 15))::BIGINT % 1024 AS h2
        |  FROM toks),
        |rs AS (SELECT unnest(generate_series(0, 3)) AS r),
        |cells AS (
        |  SELECT r, (h1 + r*h2) % 1024 AS p, count(*) AS c
        |  FROM pos, rs GROUP BY 1, 2),
        |probe AS (SELECT DISTINCT token, h1, h2 FROM pos),
        |est AS (
        |  SELECT p.token, min(coalesce(c.c, 0)) AS est
        |  FROM probe p CROSS JOIN rs
        |  LEFT JOIN cells c ON c.r = rs.r AND c.p = (p.h1 + rs.r*p.h2) % 1024
        |  GROUP BY 1)
        |SELECT token, est FROM est ORDER BY est DESC, token LIMIT 25""".stripMargin) { (s, dir) =>
      import graft.operators.CountMin
      val toks = t(s, dir, "documents")
        .select(explode(graft.functions.tokens(col("text"))).as("token"))
      val cms = CountMin.build(toks, col("token"), w = 1024, d = 4)
      toks.distinct().crossJoin(broadcast(cms))
        .select(col("token"),
          CountMin.estimate(col("cms"), col("token"), w = 1024, d = 4).as("est"))
        .orderBy(col("est").desc, col("token"))
        .limit(25)
    },

    QuerySpec(
      "sketch_kmv_distinct",
      // KMV bottom-k distinct sketch (Beyer et al. SIGMOD'07): per-group
      // distinct-count estimate from the k smallest md5-60bit hash
      // values. Unlike HLL (agg_hll_merge, rsd-bound only) the sketch
      // AND the estimate are deterministic, so DuckDB rebuilds them
      // hash-exact. k=256 ⇒ rsd ≈ 6%; true per-priority cardinality
      // ≈ 1300 custkeys.
      """WITH hs AS (
        |  SELECT DISTINCT o_orderpriority,
        |    ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM orders),
        |sk AS (
        |  SELECT o_orderpriority, (list_sort(list(h)))[1:256] AS sketch
        |  FROM hs GROUP BY 1)
        |SELECT o_orderpriority, CAST(len(sketch) AS INT) AS sketch_size,
        |  CASE WHEN len(sketch) < 256 THEN CAST(len(sketch) AS DOUBLE)
        |       ELSE 255.0 * 1152921504606846976.0 / sketch[256] END AS kmv_est
        |FROM sk ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      import graft.operators.Kmv
      Kmv.sketch(t(s, dir, "orders"), col("o_custkey").cast("string"),
          k = 256, groupCols = Seq(col("o_orderpriority")))
        .select(col("o_orderpriority"),
          size(col("sketch")).as("sketch_size"),
          Kmv.estimate(col("sketch"), 256).as("kmv_est"))
        .orderBy(col("o_orderpriority"))
    },

    QuerySpec(
      "sketch_kmv_setops",
      // KMV set-operation estimates — the capability HLL lacks: overlap
      // of the URGENT vs LOW customer populations from two 256-value
      // sketches, no exact distinct or join anywhere. L = bottom-k of
      // the sketch union is itself the union's KMV; the match fraction
      // within L estimates Jaccard; their product the intersection.
      """WITH hs AS (
        |  SELECT DISTINCT o_orderpriority,
        |    ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |ska AS (SELECT (list_sort(list(h)))[1:256] AS a FROM hs WHERE o_orderpriority = '1-URGENT'),
        |skb AS (SELECT (list_sort(list(h)))[1:256] AS b FROM hs WHERE o_orderpriority = '5-LOW'),
        |m AS (SELECT a, b, (list_sort(list_distinct(list_concat(a, b))))[1:256] AS l FROM ska, skb),
        |c AS (SELECT
        |    CAST(len(list_filter(l, v -> list_contains(a, v) AND list_contains(b, v))) AS INT) AS matches,
        |    CAST(len(l) AS INT) AS union_size,
        |    CASE WHEN len(l) < 256 THEN CAST(len(l) AS DOUBLE)
        |         ELSE 255.0 * 1152921504606846976.0 / l[256] END AS union_est
        |  FROM m)
        |SELECT matches, union_size, union_est,
        |  matches * 1.0 / union_size AS jaccard_est,
        |  (matches * 1.0 / union_size) * union_est AS intersect_est
        |FROM c""".stripMargin) { (s, dir) =>
      import graft.operators.Kmv
      val orders = t(s, dir, "orders")
      def side(p: String) = Kmv.sketch(
        orders.filter(col("o_orderpriority") === p),
        col("o_custkey").cast("string"), k = 256)
      Kmv.setOps(side("1-URGENT"), side("5-LOW"), k = 256)
    },

    QuerySpec(
      "layout_compaction",
      // Small-file compaction plan: docs binned to ~50k-char output
      // shards by a GLOBAL exclusive running sum of n_chars in doc_id
      // order. Spark computes the sum distributed (range partition →
      // per-partition window → broadcast offsets, no single-partition
      // window over the corpus); the oracle replays the equivalent
      // global window. Per-bin summary pins every assignment via count,
      // bytes, and the [first, last] key span.
      """WITH cum AS (
        |  SELECT doc_id, n_chars,
        |    CAST(coalesce(sum(n_chars) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM documents)
        |SELECT cum_before // 5000 AS bin, count(*) AS n_items,
        |  CAST(sum(n_chars) AS BIGINT) AS bytes,
        |  min(doc_id) AS first_key, max(doc_id) AS last_key
        |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      graft.operators.Compaction.planSummary(
        t(s, dir, "documents"), col("n_chars"), col("doc_id"),
        targetBytes = 5000L)
    }
  )
}
