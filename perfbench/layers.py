"""Workload definitions and the per-layer metric list.

``BENCHMARK.json`` lists the same per-layer metrics; ``test_report.py``
checks that the two agree.
"""

from __future__ import annotations

# A suite run (three session set-ups and the measured first pass) stays
# around a minute at local[4], so that the 48 runs of both workloads fit in an
# hour.  The suite keeps, from each of bench.py's families except
# corpus, its cheapest leaves (they measure per-query fixed cost) and the
# operators with Python-worker stages of their own (minhash, simhash, span
# dedup, semantic and LSH embedding dedup, token budget).  The corpus family
# embeds a crawl of the 36-host corpus web and alone takes ~25 s warm at
# local[4].  Families and leaves are in bench.py's order.
SUITE_FAMILIES: list[tuple[str, list[str]]] = [
    ("dedup", ["exact_dedup", "dup_span_dedup"]),
    ("text", ["token_count", "ngram_novelty"]),
    ("sample", ["hash_sample", "token_budget_mix"]),
    ("neardup", ["minhash_near_dups", "minhash_near_dups_sparse",
                 "simhash_near_dups"]),
    ("ann", ["cosine_topk", "embedding_near_dups_lsh", "semantic_dedup"]),
    ("media", ["images_metadata"]),
    ("olap1", ["pricing_summary", "sessionize"]),
    ("olap2", ["topk_per_group", "date_range_typed"]),
    ("olap3", ["shipping_priority", "length_percentiles"]),
]

# Operations that run a registry query over the sparse corpus (mostly-unique
# token streams) instead of the suite tables.  On the dense closed-vocabulary
# ``documents`` table minhash_near_dups verifies through the key side file;
# on the sparse corpus its candidate bound stays under 8 x n_docs and it
# verifies through the join, so the suite measures both strategies.
SPARSE_OPS = {"minhash_near_dups_sparse": "minhash_near_dups"}


def suite_ops() -> list[str]:
    return [op for _fam, ops in SUITE_FAMILIES for op in ops]


def op_query(op: str) -> str:
    """The ``queries()`` registry name an operation runs."""
    return SPARSE_OPS.get(op, op)


CATALOG_TABLES = ("frontier", "articles", "seen", "bloom", "clock", "lineage")
VERIFY_PATHS = ("side_file", "join")


def per_layer() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, grouped by module."""
    m: list[tuple[str, str]] = []
    # plans.catalog
    m += [(f"catalog.write_s.{t}", "s") for t in CATALOG_TABLES]
    m += [(f"catalog.bytes.{t}", "bytes") for t in CATALOG_TABLES]
    m += [("catalog.commit_s", "s")]
    # plans.wave
    m += [("wave.n", "count"), ("wave.self_s", "s")]
    # operators.politeness
    m += [("politeness.schedule_s", "s"), ("politeness.max_host_share", "frac")]
    # operators.seen
    m += [("seen.candidates", "count"), ("seen.bloom_fp", "count"),
          ("seen.fp_rate", "frac"), ("seen.update_s", "s")]
    # operators.parse
    m += [("parse.run_s", "s"), ("parse.python_bytes", "bytes"),
          ("parse.rows_out", "count"), ("parse.parsed_frac", "frac"),
          ("parse.errors", "count")]
    # queries
    m += [(f"leaf.{op}_s", "s") for op in suite_ops()]
    m += [(f"family.{f}_s", "s") for f, _ops in SUITE_FAMILIES]
    # operators.dedup: one set per verify strategy; ``verifies`` counts the
    # calls that took the path, so the path each leaf took is visible
    for p in VERIFY_PATHS:
        m += [(f"minhash.{p}.verifies", "count"),
              (f"minhash.{p}.candidates", "count"),
              (f"minhash.{p}.verify_run_s", "s"),
              (f"minhash.{p}.pairs_out", "count")]
    # operators.similarity
    m += [("semantic.tasks", "count"), ("semantic.max_task_s", "s"),
          ("semantic.task_skew", "ratio")]
    # session and the engine
    m += [("session.start_s", "s"), ("session.warmup_s", "s"),
          ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
          ("spark.busy_frac", "frac"), ("spark.gc_s", "s"),
          ("spark.shuffle_read_bytes", "bytes"),
          ("spark.shuffle_write_bytes", "bytes"),
          ("spark.spill_bytes", "bytes"), ("spark.python_bytes", "bytes"),
          ("spark.tasks", "count")]
    # the traced run itself
    m += [("trace.wall_s", "s"), ("trace.untraced_wall_s", "s"),
          ("trace.overhead_frac", "frac"), ("host.steal_frac", "frac")]
    return m
