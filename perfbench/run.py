#!/usr/bin/env python3
"""Benchmark of the crawl engine and the query registry.

    python3 perfbench/run.py --workload {crawl,suite} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  One invocation is one run: a fresh Python
process that builds its inputs from ``--seed``, starts Spark through
``get_spark`` at local[<cores of this machine>] three times (the set-ups),
then measures the first pass of the workload in the last session, as a
production driver process runs it once: one crawl, or every suite leaf once.
It checks every output against the repo's oracles and prints, as its last
stdout line, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json.  ``--trace 1``
runs the same pass with the layer spans and Spark's event log on and prints
the per-layer metrics; its tracing overhead is read against the median
untraced ``wall_s`` of the earlier runs in this checkout.  Everything a run
writes lives under ``.perfbench/`` in the checkout and is removed at exit,
except the digest cache, the run history and the trace files.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("crawl", "suite")
N_SETUPS = 3
DUCKDB_MEM = "4GB"


def process_start_time() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("no MemTotal in /proc/meminfo")


def configure_env(work: str) -> dict:
    """Fit the session to this machine from the outside: local[<cores>],
    a JVM heap of a quarter of RAM, the package on the Python workers' path,
    and private scratch directories."""
    cpus = len(os.sched_getaffinity(0))
    heap_gb = max(1, min(16, int(mem_total_kb() * 0.25 / 2**20)))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.pop("SPARK_MASTER", None)
    path = os.environ.get("PYTHONPATH", "")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{heap_gb}g",
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    })
    tempfile.tempdir = tmp
    return {"cpus": cpus, "heap_gb": heap_gb, "tmp": tmp}


def process_tree(root: int) -> dict[int, int]:
    """pid -> RSS in KiB of ``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(name))
        rss[int(name)] = int(fields[21]) * page_kb
    tree, todo = {}, [root]
    while todo:
        p = todo.pop()
        if p in rss:
            tree[p] = rss[p]
            todo.extend(children.get(p, []))
    return tree


def pss_kb(pid: int) -> int | None:
    """Proportional set size of ``pid`` in KiB: pages shared with other
    processes (a forked Python worker and its daemon) are split between
    them instead of counted in each."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


class RssSampler(threading.Thread):
    """Peak memory of the Spark JVM (its RSS) plus the Python workers it
    forks (their PSS), polled every 0.2 s through the measured pass.  The
    JVM heap is pre-touched (see session_conf), so the JVM's share is the
    heap size plus what it holds off-heap."""

    def __init__(self, pid: int) -> None:
        super().__init__(daemon=True)
        self.pid = pid
        self.peak_kb = 0
        self.peak_jvm_kb = 0
        self._halt = threading.Event()

    def sample(self) -> None:
        tree = process_tree(self.pid)
        workers = sum(pss_kb(p) or rss for p, rss in tree.items() if p != self.pid)
        self.peak_kb = max(self.peak_kb, tree.get(self.pid, 0) + workers)
        self.peak_jvm_kb = max(self.peak_jvm_kb, tree.get(self.pid, 0))

    def run(self) -> None:
        while not self._halt.is_set():
            self.sample()
            self._halt.wait(0.2)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        self.sample()
        return self.peak_kb / 1024.0


# ---- workloads ----------------------------------------------------------------


class Crawl:
    """WaveCrawl.run over a seeded bench web; one operation is one crawl."""

    name = "crawl"

    def __init__(self, seed: int, work: str) -> None:
        import inputs

        self.seed = seed
        self.work = work
        self.web = inputs.crawl_web(seed)
        self.params = {
            "types_per_host": inputs.CRAWL_TYPES, "depth": inputs.CRAWL_DEPTH,
            "batch_pages": inputs.CRAWL_BATCH_PAGES,
        }

    def expected(self, cache: str):
        import digests
        import inputs

        return digests.lookup(
            self.name, self.seed, self.params, cache,
            lambda: digests.oracle_crawl_digest(self.web, inputs.CRAWL_BATCH_PAGES),
        )

    def first_touch(self, spark) -> None:
        """Nothing to read before the crawl: its web is generated in-process."""

    def _crawl(self, spark):
        import inputs
        from crawler_news_spark.plans.wave import CrawlRunConfig, WaveCrawl

        root = tempfile.mkdtemp(prefix="catalog_", dir=self.work)
        wc = WaveCrawl(spark, self.web, root, CrawlRunConfig(
            batch_pages=inputs.CRAWL_BATCH_PAGES, **inputs.CRAWL_BLOOM))
        t0 = time.time()
        wc.run()
        return wc, root, time.time() - t0

    def one_pass(self, spark, tally, expected, tracer=None) -> dict:
        import contextlib

        import digests

        wc, root, wall = None, None, 0.0
        out = {"wall_s": 0.0, "ops": 0}
        ctx = (tracer.patched(spark.sparkContext) if tracer is not None
               else contextlib.nullcontext())
        try:
            with ctx:
                wc, root, wall = self._crawl(spark)
            manifest = wc.cat.read_manifest()
            waves = manifest["waves"].values()
            out.update(wall_s=wall, ops=sum(w["n_fetched"] for w in waves),
                       waves=len(manifest["waves"]),
                       bloom_fp=sum(w.get("n_bloom_fp", 0) for w in waves))
            if tracer is not None:
                out["lineage"] = [r.asDict() for r in wc.lineage_df().collect()]
            tally.check("crawl", digests.engine_crawl_digest(wc), expected)
        except Exception as e:  # noqa: BLE001 - a failed crawl is a result
            out["wall_s"] = out["wall_s"] or wall
            tally.record("crawl", f"{type(e).__name__}: {e}")
        finally:
            _release(spark)
            if root:
                shutil.rmtree(root, ignore_errors=True)
        return out


class Suite:
    """The queries() leaves of layers.SUITE_FAMILIES over seeded sf0.01-size
    tables and the sparse corpus; one operation is one leaf, materialized
    in full with a collect."""

    name = "suite"

    def __init__(self, seed: int, work: str) -> None:
        import inputs
        import layers

        self.seed = seed
        self.data = os.path.join(work, "data")
        self.sparse = os.path.join(work, "sparse")
        inputs.write_suite_tables(self.data, seed)
        inputs.write_sparse_documents(self.sparse, seed)
        self.families = layers.SUITE_FAMILIES
        self.leaves = layers.suite_ops()
        self.jobs = {op: (layers.op_query(op),
                          self.sparse if op in layers.SPARSE_OPS else self.data)
                     for op in self.leaves}
        self.params = {"rows": inputs.SUITE_ROWS,
                       "sparse_docs": inputs.SPARSE_DOCS, "leaves": self.leaves}

    def expected(self, cache: str):
        import digests

        return digests.lookup(
            self.name, self.seed, self.params, cache,
            lambda: digests.twin_digests(self.jobs, DUCKDB_MEM),
        )

    def first_touch(self, spark) -> None:
        """Scan every column of every input table, in one job."""
        from functools import reduce

        from pyspark.sql import functions as F

        from crawler_news_spark.queries import TABLES

        paths = [f"{self.data}/{t}.parquet" for t in TABLES]
        paths.append(f"{self.sparse}/documents.parquet")
        scans = []
        for p in paths:
            df = spark.read.parquet(p)
            scans.append(df.select(F.greatest(*[F.count(c) for c in df.columns],
                                              F.lit(0)).alias("n")))
        reduce(lambda a, b: a.unionAll(b), scans).collect()

    def one_pass(self, spark, tally, expected, tracer=None) -> dict:
        import contextlib

        import digests
        from crawler_news_spark import queries as Q

        reg = Q.queries()
        leaf_s: dict[str, float] = {}
        rows: dict[str, int] = {}
        ctx = (tracer.patched(spark.sparkContext) if tracer is not None
               else contextlib.nullcontext())
        with ctx:
            for name in self.leaves:
                query, data = self.jobs[name]
                span = (tracer.span(f"leaf.{name}") if tracer is not None
                        else contextlib.nullcontext())
                t0 = time.time()
                try:
                    with span:
                        pdf = reg[query](spark, data).toPandas()
                    leaf_s[name] = time.time() - t0
                    rows[name] = len(pdf)
                    tally.check(name, digests.frame_hash(pdf), expected[name])
                except Exception as e:  # noqa: BLE001
                    leaf_s.setdefault(name, time.time() - t0)
                    tally.record(name, f"{type(e).__name__}: {e}")
                _release(spark)
        return {"wall_s": sum(leaf_s.values()), "ops": len(self.leaves),
                "leaf_s": leaf_s, "rows": rows}


def _fork_workers(spark) -> None:
    n = spark.sparkContext.defaultParallelism
    spark.range(n * 2, numPartitions=n).mapInPandas(lambda it: it, "id long").count()


def _release(spark) -> None:
    """Leaf isolation: no operation reads a previous one's cached stages."""
    from crawler_news_spark import queries as Q
    from crawler_news_spark.operators import _cache

    Q._evict_crawl_body_memo()
    _cache.release_all()
    spark.catalog.clearCache()


# ---- the run ---------------------------------------------------------------------


def session_conf(work: str, tmp: str, event_dir: str | None) -> dict:
    """Spark settings of the benchmark's sessions: private warehouse and
    temp directories, and a heap committed and touched at JVM start
    (-Xms = -Xmx, AlwaysPreTouch), so the JVM's RSS does not depend on when
    the collector chose to grow the heap."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
            f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch"),
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def measure(workload, spark, tally, expected, seconds: float) -> list[dict]:
    """Passes until ``seconds`` have gone by.  Only the first is reported:
    later passes run warm, a different regime; they are checked and
    counted.  With the current code one pass takes longer than the 10 s of
    BENCHMARK.json, so a run makes exactly one."""
    passes = []
    t0 = time.time()
    while True:
        passes.append(workload.one_pass(spark, tally, expected))
        if time.time() - t0 >= seconds:
            return passes


def run(args) -> int:
    t_proc = process_start_time()
    if not os.path.isfile(os.path.join(ROOT, "crawler_news_spark", "__init__.py")):
        print("perfbench: the crawler_news_spark package is not in this "
              "checkout; run from a full repository checkout", file=sys.stderr)
        return 2
    os.makedirs(STATE, exist_ok=True)
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}-{int(time.time())}"
    work = os.path.join(STATE, "runs", run_id)
    env = configure_env(work)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)

    import report
    import spans

    stat0 = report.read_proc_stat()
    spark = None
    try:
        # inputs and expected digests: excluded from setup_s
        t_ex = time.time()
        wl = (Crawl if args.workload == "crawl" else Suite)(args.seed, work)
        expected, computed = wl.expected(os.path.join(STATE, "digests"))
        excluded = time.time() - t_ex
        phases = {"inputs_digests": excluded}

        from pyspark import SparkContext

        from crawler_news_spark.session import get_spark

        event_dir = None
        if args.trace:
            event_dir = os.path.join(work, "events")
            os.makedirs(event_dir)
        conf = session_conf(work, env["tmp"], event_dir)
        setups, start_s, warm_s = [], 0.0, 0.0
        for i in range(N_SETUPS):
            t0 = time.time()
            if spark is not None:
                spark.stop()
            spark = get_spark(app_name="perfbench", extra_conf=conf)
            t_ready = time.time()
            # warm-up: the inputs' first touch (once per process) and the
            # Python worker fork (once per session)
            if i == 0:
                wl.first_touch(spark)
            _fork_workers(spark)
            t_done = time.time()
            if i == 0:
                start_s = t_ready - t_proc - excluded
                warm_s = t_done - t_ready
                setups.append(t_done - t_proc - excluded)
            else:
                setups.append(t_done - t0)
        phases["setups"] = time.time() - t_ex - excluded
        sampler = RssSampler(SparkContext._gateway.proc.pid)
        sampler.start()
        t0 = time.time()
        tally = report.Tally()
        tracer = None
        if args.trace:
            # the same first pass as an untraced run, with the spans on
            tracer = spans.Tracer(run_id)
            passes = [wl.one_pass(spark, tally, expected, tracer=tracer)]
        else:
            passes = measure(wl, spark, tally, expected, args.seconds)
        peak_mb = sampler.stop()
        phases["measure"] = time.time() - t0
        app_id = spark.sparkContext.applicationId
        cores = spark.sparkContext.defaultParallelism
        spark.stop()
        spark = None
        steal = report.steal_frac(stat0, report.read_proc_stat())

        history = os.path.join(STATE, "history.jsonl")
        if args.trace:
            stages = spans.fold_event_log(os.path.join(event_dir, app_id))
            untraced_s = report.history_median(history, args.workload, "wall_s")
            values = layer_values(wl, tracer, stages, passes[0], untraced_s,
                                  start_s, warm_s, cores, steal)
            units = report.metric_units("per_layer")
            tracer.write(os.path.join(STATE, "traces", f"{run_id}.json"))
        else:
            first = passes[0]
            values = {
                "wall_s": first["wall_s"],
                "ops_per_s": (first["ops"] / first["wall_s"]
                              if first["wall_s"] > 0 else 0.0),
                "setup_s": report.median(setups),
                "peak_rss_mb": peak_mb,
            }
            units = report.metric_units("end_to_end")
            if tally.failed == 0:
                report.append_history(history, args.workload, args.seed, values)
        extra = {
            "passes": [{k: v for k, v in p.items() if k != "lineage"}
                       for p in passes],
            "setups_s": setups, "digests_computed": computed,
            "cpus": env["cpus"], "heap_gb": env["heap_gb"],
            "peak_jvm_rss_mb": sampler.peak_jvm_kb / 1024.0,
            "phases_s": phases,
        }
        print(report.run_record(args.workload, args.seed, bool(args.trace),
                                tally, steal, extra))
        print(report.result_line(tally, values, units), flush=True)
        return 0
    finally:
        if spark is not None:
            spark.stop()
        if "pyspark" in sys.modules:
            _stop_jvm(sys.modules["pyspark"].SparkContext._gateway)
        shutil.rmtree(work, ignore_errors=True)


def _stop_jvm(gateway) -> None:
    """Shut the Spark JVM down and wait until it and every process it
    started (the Python worker daemon and workers) have exited."""
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    tree = set(process_tree(proc.pid)) - {proc.pid}
    try:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while tree and time.time() < deadline:
        tree = {p for p in tree if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in tree:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def layer_values(wl, tracer, stages, traced, untraced_s, start_s, warm_s,
                 cores, steal) -> dict[str, float]:
    import layers
    import spans as SP

    v = {name: 0.0 for name, _unit in layers.per_layer()}
    measured = {sid: st for sid, st in stages.items()
                if (st["group"] or "").startswith(SP.MEASURED)}

    def in_group(st, name):
        return st["group"] == SP.MEASURED + name

    for t in layers.CATALOG_TABLES:
        v[f"catalog.write_s.{t}"] = tracer.total(f"catalog.write.{t}")
        v[f"catalog.bytes.{t}"] = tracer.attr_sum(f"catalog.write.{t}", "bytes")
    v["catalog.commit_s"] = tracer.total("catalog.commit")
    v["politeness.schedule_s"] = tracer.total("politeness.schedule")
    v["seen.update_s"] = tracer.total("seen.update") + v["catalog.write_s.bloom"]

    if wl.name == "crawl":
        v["wave.n"] = traced.get("waves", 0)
        v["wave.self_s"] = tracer.self_time("wave.run")
        lineage = traced.get("lineage", [])
        shares = {}
        for r in lineage:
            shares.setdefault(r["wave"], []).append(r["n_fetched"])
        v["politeness.max_host_share"] = max(
            (max(ns) / sum(ns) for ns in shares.values() if sum(ns)), default=0.0)
        v["seen.candidates"] = tracer.attr_sum("seen.anti_join", "candidates")
        v["seen.bloom_fp"] = traced.get("bloom_fp", 0)
        if v["seen.candidates"]:
            v["seen.fp_rate"] = v["seen.bloom_fp"] / v["seen.candidates"]
        fetched = sum(r["n_fetched"] for r in lineage)
        v["parse.parsed_frac"] = (sum(r["n_parsed"] for r in lineage) / fetched
                                  if fetched else 0.0)
        v["parse.errors"] = sum(r["n_errors"] for r in lineage)
        for st in measured.values():
            if any(n.startswith(("MapInPandas", "MapInArrow", "PythonMapIn"))
                   for n in SP.python_nodes(st)):
                v["parse.run_s"] += st["run_ms"] / 1e3
                v["parse.python_bytes"] += SP.python_bytes(st)
                v["parse.rows_out"] += SP.python_rows(st)
    else:
        leaf_s = traced.get("leaf_s", {})
        for name, secs in leaf_s.items():
            v[f"leaf.{name}_s"] = secs
        for fam, qs in wl.families:
            v[f"family.{fam}_s"] = sum(leaf_s.get(q, 0.0) for q in qs)
        rows = traced.get("rows", {})
        for p in layers.VERIFY_PATHS:
            for key in ("verifies", "candidates"):
                v[f"minhash.{p}.{key}"] = tracer.counts.get(f"minhash.{p}.{key}", 0)
        for span_name, p in tracer.verify_path.items():
            v[f"minhash.{p}.pairs_out"] += rows.get(span_name[len("leaf."):], 0)
        task_s = []
        for st in measured.values():
            nodes = SP.python_nodes(st)
            p = tracer.verify_path.get((st["group"] or "")[len(SP.MEASURED):])
            if p and nodes:
                v[f"minhash.{p}.verify_run_s"] += st["run_ms"] / 1e3
            if in_group(st, "leaf.semantic_dedup") and any(
                    "FlatMapGroupsInPandas" in n for n in nodes):
                task_s += [ms / 1e3 for ms in st["task_run_ms"]]
        if task_s:
            import statistics

            v["semantic.tasks"] = len(task_s)
            v["semantic.max_task_s"] = max(task_s)
            med = statistics.median(task_s)
            v["semantic.task_skew"] = max(task_s) / med if med > 0 else 0.0

    v["session.start_s"] = start_s
    v["session.warmup_s"] = warm_s
    for st in measured.values():
        v["spark.executor_run_s"] += st["run_ms"] / 1e3
        v["spark.executor_cpu_s"] += st["cpu_ns"] / 1e9
        v["spark.gc_s"] += st["gc_ms"] / 1e3
        v["spark.shuffle_read_bytes"] += st["shuffle_read"]
        v["spark.shuffle_write_bytes"] += st["shuffle_write"]
        v["spark.spill_bytes"] += st["spill"]
        v["spark.python_bytes"] += SP.python_bytes(st)
        v["spark.tasks"] += len(st["task_run_ms"])
    v["trace.wall_s"] = traced["wall_s"]
    v["trace.untraced_wall_s"] = untraced_s
    if untraced_s > 0:
        v["trace.overhead_frac"] = traced["wall_s"] / untraced_s - 1
    if traced["wall_s"] > 0:
        v["spark.busy_frac"] = v["spark.executor_run_s"] / (traced["wall_s"] * cores)
    v["host.steal_frac"] = steal
    return v


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
