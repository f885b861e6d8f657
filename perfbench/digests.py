"""Expected-output digests and the matching engine-side digests.

Expected digests come from the repo's independent specs, computed once per
workload and seed and cached:

* ``crawl``: ``oracle.pyoracle.crawl_oracle`` (the single-threaded
  reference-semantics crawler) gives the seen set, the crawl order and the
  span sequence of every document.
* ``suite``: each leaf's DuckDB twin from ``queries.oracle_sql()``, hashed
  with ``scripts/check_correctness.frame_hash`` (the repo's
  correctness gate's order-insensitive value hash).

Committed digests live in ``perfbench/digests/<workload>.json``; digests for
seeds not found there are computed on first use and cached under the
checkout's ``.perfbench/`` directory.
"""

from __future__ import annotations

import hashlib
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COMMITTED = os.path.join(HERE, "digests")


def _md5_lines(lines) -> str:
    return hashlib.md5("\n".join(lines).encode("utf-8")).hexdigest()


def spans_key(spans) -> str:
    """Digest of one document's span sequence (kind, text, media_ref, offset)
    — the same string the engine side builds in Spark SQL."""
    parts = [
        "\x1e".join((
            s["kind"],
            "\x00" if s["text"] is None else s["text"],
            "\x00" if s["media_ref"] is None else s["media_ref"],
            str(s["offset"]),
        ))
        for s in spans
    ]
    return hashlib.md5("\x1f".join(parts).encode("utf-8")).hexdigest()


def crawl_digest(seen, order, doc_keys) -> dict:
    """Combine a crawl's outputs into three digests: seen set (canonical
    URLs), crawl order (URLs by crawl_order) and span sequences (doc_id ->
    spans_key)."""
    return {
        "seen": _md5_lines(sorted(seen)),
        "order": _md5_lines(order),
        "spans": _md5_lines(sorted(f"{d}\t{k}" for d, k in doc_keys)),
    }


def oracle_crawl_digest(web, batch_pages: int) -> dict:
    from crawler_news_spark.oracle.pyoracle import crawl_oracle

    res = crawl_oracle(web, batch_pages=batch_pages)
    return crawl_digest(
        res.seen, res.crawl_order,
        ((d, spans_key(sp)) for d, sp in res.documents.items()),
    )


def engine_crawl_digest(wc) -> dict:
    """The same three digests from a finished ``WaveCrawl``; the span keys
    are computed executor-side so only (doc_id, md5) pairs are collected."""
    from pyspark.sql import functions as F

    seen = [r[0] for r in wc.seen_df().select("canonical_url").collect()]
    order = [r[0] for r in wc.articles_df().select("url", "crawl_order")
             .orderBy("crawl_order").collect()]
    span_str = F.transform(
        "spans",
        lambda s: F.concat_ws(
            "\x1e", s["kind"],
            F.coalesce(s["text"], F.lit("\x00")),
            F.coalesce(s["media_ref"], F.lit("\x00")),
            s["offset"].cast("string"),
        ),
    )
    keys = wc.documents_df().select(
        "doc_id", F.md5(F.concat_ws("\x1f", span_str)).alias("k")
    ).collect()
    return crawl_digest(seen, order, ((r[0], r[1]) for r in keys))


def frame_hash(pdf) -> str:
    import sys

    scripts = os.path.join(ROOT, "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    from check_correctness import frame_hash as fh

    h, _rows, cols = fh(pdf)
    return f"{h}:{','.join(cols)}"


def twin_digests(ops: dict[str, tuple[str, str]], mem_limit: str) -> dict:
    """frame_hash of the DuckDB twin of every operation; ``ops`` maps an
    operation to (registry query, directory of its parquet tables)."""
    import duckdb

    from crawler_news_spark.queries import TABLES, oracle_sql

    osql = oracle_sql()
    out = {}
    for data_dir in dict.fromkeys(d for _q, d in ops.values()):
        con = duckdb.connect()
        con.sql(f"SET memory_limit='{mem_limit}'")
        for t in TABLES:
            if os.path.exists(f"{data_dir}/{t}.parquet"):
                con.sql(f"CREATE VIEW {t} AS SELECT * "
                        f"FROM read_parquet('{data_dir}/{t}.parquet')")
        for op, (query, d) in ops.items():
            if d == data_dir:
                out[op] = frame_hash(con.sql(osql[query]).df())
        con.close()
    return out


def lookup(workload: str, seed: int, params: dict, cache_dir: str, compute):
    """Expected digests for (workload, seed): committed file, then the
    runtime cache, else ``compute()`` (cached for the next run).  Entries
    made under other input parameters are ignored."""
    key = str(seed)
    for path in (os.path.join(COMMITTED, f"{workload}.json"),
                 os.path.join(cache_dir, f"{workload}-{seed}.json")):
        if os.path.exists(path):
            with open(path) as f:
                doc = json.load(f)
            if doc.get("params") == params and key in doc.get("seeds", {}):
                return doc["seeds"][key], False
    got = compute()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = os.path.join(cache_dir, f"{workload}-{seed}.json.tmp")
    with open(tmp, "w") as f:
        json.dump({"params": params, "seeds": {key: got}}, f, indent=1)
    os.replace(tmp, os.path.join(cache_dir, f"{workload}-{seed}.json"))
    return got, True
