"""Seeded benchmark inputs.

Every input is a pure function of the workload seed, so the same seed gives
byte-identical inputs in any checkout.  The program under test receives only
what is generated here:

* ``crawl``: a ``hostsim.bench_web`` configuration.  The web seed is drawn
  from the workload seed, keeping the first candidate whose total listing
  depth lies within 1% of the taxonomy's expected depth, so every seed
  crawls a web of (nearly) the same size and run-to-run spread measures the
  engine, not the input size.
* ``suite``: the ten parquet tables the ``queries()`` registry reads, in the
  same schema and value domains as the repo's sf0.01 test tables (a TPC-H-like
  star schema, an ``events`` stream, a closed-vocabulary ``documents`` table
  with planted copies, and unit-norm ``embeddings``), plus a sparse
  ``documents`` table of mostly-unique token streams with planted near
  duplicates, shaped like ``scripts/check_sf1.py``'s generated corpus.
"""

from __future__ import annotations

import os

# crawl web: 4 hosts x CRAWL_TYPES types, ~25 KB article pages, listing depth
# 1..16 per type, bench.py's run configuration
CRAWL_TYPES = 12
CRAWL_DEPTH = 16
CRAWL_BATCH_PAGES = 17
CRAWL_BLOOM = {"bloom_buckets": 8, "bloom_expected_per_bucket": 262144}
_DEPTH_TOLERANCE = 0.01

# suite tables at the fixture's sf0.01 sizes
SUITE_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
DUP_FRAC = 0.05  # documents that copy another document plus a " dup" marker

# sparse corpus: 7-character base-36 tokens, 10..99 per document; NEAR_DUP_FRAC
# of the documents copy another one with their last token replaced
SPARSE_DOCS = 1_000
NEAR_DUP_FRAC = 0.05


def crawl_web(seed: int):
    """The crawl workload's web for ``seed`` (see the module docstring)."""
    from crawler_news_spark.sources import hostsim as hs

    n_types = 4 * CRAWL_TYPES
    target = n_types * (1 + CRAWL_DEPTH) / 2
    k = 0
    while True:
        web = hs.bench_web(seed=(seed * 7919 + k) % (1 << 62),
                           types_per_host=CRAWL_TYPES, depth=CRAWL_DEPTH)
        total = sum(hs.listing_depth(web, s.host, t)
                    for s in web.hosts for t in range(s.n_types))
        if abs(total - target) <= _DEPTH_TOLERANCE * target:
            return web
        k += 1


def write_suite_tables(out_dir: str, seed: int) -> None:
    """Write the ten registry tables for ``seed`` into ``out_dir``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = SUITE_ROWS
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo: float, hi: float, size: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, size), 2)

    def days(start: str, end: str, size: int) -> pa.Array:
        lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
        d = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, size)
        return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))

    def pick(values: list[str], size: int) -> pa.Array:
        return pa.array(np.asarray(values)[rng.integers(0, len(values), size)])

    i32, i64 = pa.int32(), pa.int64()
    put("region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    c = n["customer"]
    put("customer", {
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": money(-999.99, 9999.99, c),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], c),
    })
    s = n["supplier"]
    put("supplier", {
        "s_suppkey": pa.array(np.arange(s), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": money(-999.99, 9999.99, s),
    })
    p = n["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    put("part", {
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                        "STANDARD"], p),
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 1),
    })
    o = n["orders"]
    put("orders", {
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": pick(["F", "O", "P"], o),
        "o_totalprice": money(1000, 500000, o),
        "o_orderdate": days("1995-01-01", "2001-08-01", o),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], o),
    })
    li = n["lineitem"]
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, s, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": rng.integers(1, 51, li).astype(float),
        "l_extendedprice": money(900, 105000, li),
        "l_discount": np.round(rng.integers(0, 11, li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, li) / 100, 2),
        "l_returnflag": pick(["A", "N", "R"], li),
        "l_linestatus": pick(["F", "O"], li),
        "l_shipdate": days("1995-01-02", "2001-11-04", li),
    })
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    ts = start + np.sort(rng.integers(0, span_us, e)).astype("timedelta64[us]")
    put("events", {
        "event_id": pa.array(np.arange(e), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, e * 3 // 200), e), i64),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    words = np.asarray(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 101, d)]
    for i in rng.choice(d, size=int(d * DUP_FRAC), replace=False):
        texts[i] = texts[int(rng.integers(0, d))] + " dup"
    put("documents", {
        "doc_id": pa.array(np.arange(d), i64),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, size=d, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    v = n["embeddings"]
    emb = rng.standard_normal((v, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(np.arange(v), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v), i32),
    })


def write_sparse_documents(out_dir: str, seed: int) -> None:
    """Write the sparse corpus for ``seed`` as ``out_dir/documents.parquet``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 1])
    n = SPARSE_DOCS
    alphabet = np.frombuffer(b"0123456789abcdefghijklmnopqrstuvwxyz", "S1")

    def tokens(count: int) -> list[str]:
        v = rng.integers(36**7, size=count, dtype=np.int64)
        chars = np.empty((count, 7), dtype="S1")
        for j in range(6, -1, -1):
            chars[:, j] = alphabet[v % 36]
            v //= 36
        return chars.view("S7").ravel().astype(str).tolist()

    lengths = rng.integers(10, 100, n)
    flat = tokens(int(lengths.sum()))
    offsets = np.concatenate([[0], np.cumsum(lengths)])
    docs = [flat[offsets[i]:offsets[i + 1]] for i in range(n)]
    copies = rng.choice(n, size=2 * int(n * NEAR_DUP_FRAC), replace=False)
    for dst, src in copies.reshape(-1, 2):
        docs[dst] = docs[src][:-1] + tokens(1)
    texts = [" ".join(d) for d in docs]
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))
