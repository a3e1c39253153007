"""Seeded input generation for the benchmark.

Every table has the column names and parquet types of the repository's
TPC-H-shaped fixture (region, nation, customer, supplier, part, orders,
lineitem, events, documents, embeddings), so the registry queries and their
DuckDB oracles run on it unchanged.  Values are drawn from numpy's PCG64
generator keyed by (seed, table), so the same seed gives byte-identical
parquet files.  Generation is cached per (scale, seed) and is never part of
a timed figure.
"""
import hashlib
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 2

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# Corpus vocabulary: shared domain words plus each language's stopwords
# (the ones the engine's stopword-ratio language id scores), so the
# language mix below is what a language-id stage should recover.
DOMAIN_WORDS = ("agg batch big column customer data fast filter group hash join "
                "key line merge order part query row scan slow small sort spark "
                "stream table value vector window").split()
STOPWORDS = {
    "en": "the a and of to in is that it for".split(),
    "de": "der die das und ist nicht ein mit auf zu".split(),
    "fr": "le la les et est un une que pour dans".split(),
    "es": "el la los y es un una que por con".split(),
}
CJK = [chr(c) for c in range(0x4E00, 0x4E00 + 64)]
LANG_MIX = {"en": 0.40, "de": 0.15, "fr": 0.15, "es": 0.15, "zh": 0.15}
EXACT_DUP_FRAC = 0.05   # documents whose text repeats an earlier document's
NEAR_DUP_FRAC = 0.05    # documents that copy an earlier one with ~5% of words replaced

EPOCH_1995 = np.datetime64("1995-01-01", "ms")
EPOCH_2024 = np.datetime64("2024-01-01", "ns")


def _rng(seed, table):
    return np.random.default_rng([seed, TABLES.index(table)])


def _choice(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(seed, sf):
    """TPC-H-shaped tables; row counts follow the fixture (sf0.1 = 600 000
    lineitem rows)."""
    n_cust, n_supp = int(150000 * sf), max(int(10000 * sf), 10)
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_li, n_ev = 4 * n_ord, int(1000000 * sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    r = _rng(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(_choice(r, SEGMENTS, n_cust), pa.string())})
    r = _rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp))})
    r = _rng(seed, "part")
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(_choice(r, names, n_part), pa.string()),
        "p_brand": pa.array(_choice(r, [f"Brand#{i}" for i in range(1, 26)], n_part),
                            pa.string()),
        "p_type": pa.array(_choice(r, PART_TYPES, n_part), pa.string()),
        "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + r.integers(0, 1000, n_part) / 10.0)})
    r = _rng(seed, "orders")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(_choice(r, ["F", "O", "P"], n_ord), pa.string()),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(
            EPOCH_1995 + r.integers(0, 2404, n_ord).astype("timedelta64[D]"),
            pa.timestamp("ms")),
        "o_orderpriority": pa.array(_choice(r, PRIORITIES, n_ord), pa.string())})
    r = _rng(seed, "lineitem")
    qty = r.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(r.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * r.uniform(900.0, 2100.0, n_li), 2)),
        "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(_choice(r, ["A", "N", "R"], n_li), pa.string()),
        "l_linestatus": pa.array(_choice(r, ["F", "O"], n_li), pa.string()),
        "l_shipdate": pa.array(
            EPOCH_1995 + (1 + r.integers(0, 2498, n_li)).astype("timedelta64[D]"),
            pa.timestamp("ms"))})
    r = _rng(seed, "events")
    micros = r.integers(0, 30 * 86400 * 10**6, n_ev) * 1000
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(EPOCH_2024 + np.sort(micros).astype("timedelta64[ns]"),
                       pa.timestamp("ns")),
        "user_id": pa.array(r.integers(0, max(n_cust, 10), n_ev).astype(np.int64)),
        "event_type": pa.array(_choice(r, EVENT_TYPES, n_ev), pa.string()),
        "value": pa.array(_money(r, 0.01, 500.0, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)])})
    return out


def _doc_text(r, lang):
    n = int(r.integers(10, 100))
    if lang == "zh":
        return " ".join("".join(_choice(r, CJK, int(r.integers(2, 5))))
                        for _ in range(n))
    words = np.where(r.random(n) < 0.2, _choice(r, STOPWORDS[lang], n),
                     _choice(r, DOMAIN_WORDS, n))
    return " ".join(words)


def corpus_tables(seed, n_docs):
    """documents + embeddings: a language mix (LANG_MIX), an exact-duplicate
    fraction and a near-duplicate fraction (see the constants above)."""
    r = _rng(seed, "documents")
    langs = list(LANG_MIX)
    lang = np.asarray(langs, dtype=object)[
        r.choice(len(langs), n_docs, p=[LANG_MIX[k] for k in langs])]
    kind = r.random(n_docs)
    texts = []
    for i in range(n_docs):
        if i > 0 and kind[i] < EXACT_DUP_FRAC:
            j = int(r.integers(0, i))
            texts.append(texts[j])
            lang[i] = lang[j]
        elif i > 0 and kind[i] < EXACT_DUP_FRAC + NEAR_DUP_FRAC:
            j = int(r.integers(0, i))
            words = texts[j].split(" ")
            for k in r.integers(0, len(words), max(1, len(words) // 20)):
                words[k] = str(_choice(r, DOMAIN_WORDS, 1)[0])
            texts.append(" ".join(words))
            lang[i] = lang[j]
        else:
            texts.append(_doc_text(r, lang[i]))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    r = _rng(seed, "embeddings")
    n_emb = max(n_docs // 2, 100)
    v = r.standard_normal((n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb).astype(np.int32))})
    return {"documents": docs, "embeddings": emb}


def generate(out_dir, seed, sf, n_docs):
    """Write all ten tables as <out_dir>/<table>.parquet."""
    tables = tpch_tables(seed, sf)
    tables.update(corpus_tables(seed, n_docs))
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")


def digest(data_dir):
    """sha256 over every table file, in table order."""
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(data_dir, f"{name}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def cached(cache_root, seed, sf, n_docs):
    """Generate once per (scale, seed); returns (dir, seconds spent, digest).
    Writes into a temp dir and renames, so an interrupted run never leaves
    a half-written cache entry."""
    key = f"v{GEN_VERSION}-sf{sf}-d{n_docs}-s{seed}"
    out = os.path.join(cache_root, key)
    t0 = time.perf_counter()
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(tmp, seed, sf, n_docs)
        try:
            os.rename(tmp, out)
        except OSError:  # a concurrent run got there first
            shutil.rmtree(tmp, ignore_errors=True)
    return out, time.perf_counter() - t0, digest(out)
