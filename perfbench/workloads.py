"""The workloads: what each runs, over which inputs, with how many
clients.  Every operation goes through the engine's public surface; the
harness (src/main/scala/perfbench/Harness.scala) executes them."""
import random

TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]

# Oracle-backed Pipeline/Curation registry stages, in chain order, then the
# sharded write of one stage's output (read back and checked against that
# stage's result).
CURATION_STAGES = [
    "text_normalize_unicode", "text_gopher", "text_langid", "dedup_exact",
    "dedup_simhash_oracle", "text_decontaminate_bloom", "sample_hash",
]
WRITE_STAGE = "text_normalize_unicode"

# Short SQL templates for the concurrent clients; each placeholder takes
# one of the listed values, chosen by the seed.
SQL_TEMPLATES = [
    ("agg_flags", "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty "
     "FROM lineitem WHERE l_shipdate < TIMESTAMP '{d} 00:00:00' "
     "GROUP BY l_returnflag, l_linestatus",
     {"d": ["1996-06-01", "1998-01-01", "1999-06-01", "2000-12-01"]}),
    ("agg_priority", "SELECT o_orderpriority, count(*) AS n, round(avg(o_totalprice), 2) AS avg_price "
     "FROM orders WHERE o_orderstatus = '{s}' GROUP BY o_orderpriority",
     {"s": ["F", "O", "P"]}),
    ("topk_orders", "SELECT o_orderkey, o_totalprice FROM orders "
     "WHERE o_orderdate >= TIMESTAMP '{d} 00:00:00' "
     "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
     {"d": ["1996-01-01", "1998-01-01", "2000-01-01"]}),
    ("topk_customers", "SELECT c_custkey, c_name, c_acctbal FROM customer "
     "WHERE c_mktsegment = '{m}' ORDER BY c_acctbal DESC, c_custkey LIMIT 20",
     {"m": ["AUTOMOBILE", "BUILDING", "MACHINERY"]}),
    ("distinct_parts", "SELECT count(DISTINCT l_partkey) AS n_parts FROM lineitem "
     "WHERE l_linenumber = {n}",
     {"n": ["1", "3", "5", "7"]}),
    ("distinct_customers", "SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust "
     "FROM orders WHERE o_orderpriority = '{p}' GROUP BY o_orderstatus",
     {"p": ["1-URGENT", "3-MEDIUM", "5-LOW"]}),
    ("join_nation", "SELECT n_name, count(*) AS n FROM customer "
     "JOIN nation ON c_nationkey = n_nationkey WHERE n_regionkey = {r} GROUP BY n_name",
     {"r": ["0", "2", "4"]}),
    ("join_region", "SELECT r_name, count(*) AS n, round(sum(s_acctbal), 2) AS bal FROM supplier "
     "JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey "
     "WHERE s_acctbal > {b} GROUP BY r_name",
     {"b": ["0", "2500", "5000"]}),
    ("join_segment", "SELECT c_mktsegment, count(*) AS n, round(sum(o_totalprice), 2) AS total "
     "FROM orders JOIN customer ON o_custkey = c_custkey "
     "WHERE o_orderdate BETWEEN TIMESTAMP '{d} 00:00:00' AND TIMESTAMP '{d} 00:00:00' + INTERVAL 180 DAYS "
     "GROUP BY c_mktsegment",
     {"d": ["1996-01-01", "1998-07-01", "2000-01-01"]}),
    ("window_top", "SELECT o_custkey, o_orderkey, o_totalprice, rn FROM ("
     "SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER "
     "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn "
     "FROM orders WHERE o_custkey < {k}) t WHERE rn <= 3 ORDER BY o_custkey, rn LIMIT 100",
     {"k": ["200", "600", "1200"]}),
    ("part_sizes", "SELECT p_type, count(*) AS n, round(avg(p_retailprice), 3) AS avg_price "
     "FROM part WHERE p_size BETWEEN {a} AND {a} + 10 GROUP BY p_type",
     {"a": ["1", "20", "40"]}),
    ("join_brand", "SELECT p_brand, round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev "
     "FROM lineitem JOIN part ON l_partkey = p_partkey "
     "WHERE p_type = '{t}' AND l_quantity < {q} GROUP BY p_brand ORDER BY rev DESC, p_brand LIMIT 10",
     {"t": ["PROMO", "SMALL", "STANDARD"], "q": ["10", "25"]}),
]


def concurrent_ops(seed):
    """(name, sql) pairs: one seeded parameter choice for each template."""
    rng = random.Random(seed)
    return [(name, text.format(**{k: rng.choice(v) for k, v in params.items()}))
            for name, text, params in SQL_TEMPLATES]


WORKLOADS = {
    "curation": {
        "mode": "chain", "clients": 1, "loop": "closed", "warmup_passes": 2,
        "sf": 0.001, "docs": 1000, "tables": ["documents"],
    },
    "concurrent_sql": {
        "mode": "tokens", "clients": 3, "loop": "closed", "warmup_passes": 4,
        "sf": 0.1, "docs": 200, "tables": TPCH_TABLES,
    },
}


def ops_for(workload, seed):
    """(name, sql) pairs; an empty sql names a registry query."""
    if workload == "curation":
        return [(s, "") for s in CURATION_STAGES] + [("write:" + WRITE_STAGE, WRITE_STAGE)]
    return concurrent_ops(seed)
