"""Spans around the package's layer boundaries, and Spark's event log folded
per job group.

Tracing is on only in a traced run.  ``Tracer.patched()`` wraps the public
layer entry points the crawl and the queries go through (catalog writes and
commits, the wave loop, the politeness schedule, the seen-set anti-join and
filter update, the minhash verify strategies) and restores the originals on
exit.  Each span records its layer name, start, end, parent span and run id;
spans stay in memory until the run writes them out.  While a span is open
its name is the Spark job group of the calling thread, so the stages each
layer ran can be found in the event log afterwards.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

MEASURED = "m|"  # job-group prefix of the measured pass


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.verify_path: dict[str, str] = {}  # span name -> minhash path
        self.sc = None  # SparkContext whose job group follows the spans
        self._local = threading.local()
        self._root: int | None = None
        self._lock = threading.Lock()

    # ---- spans -----------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, root: bool = False, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        rec = {"id": None, "name": name, "parent": parent,
               "run": self.run_id, "start": time.time(), "end": None}
        rec.update(attrs)
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        if root:
            self._root = rec["id"]
        stack.append(rec["id"])
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", MEASURED + name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if root:
                self._root = None
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + n

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)

    def attr_sum(self, name: str, attr: str) -> float:
        return sum(s.get(attr, 0) for s in self.spans if s["name"] == name)

    def self_time(self, name: str) -> float:
        """Σ over spans called ``name`` of duration minus the part of it
        covered by child spans (overlapping children counted once)."""
        total = 0.0
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            kids = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                          for c in self.spans
                          if c["parent"] == s["id"] and c["end"] is not None)
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in kids:
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            total += (s["end"] - s["start"]) - covered
        return total

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "counts": self.counts,
                       "verify_path": self.verify_path}, f)

    # ---- layer wrappers ----------------------------------------------------
    @contextlib.contextmanager
    def patched(self, sc):
        """Wrap the layer entry points for the duration of the block."""
        from crawler_news_spark.operators import dedup as DD
        from crawler_news_spark.operators import politeness as POL
        from crawler_news_spark.operators import seen as SEEN
        from crawler_news_spark.plans import catalog as CAT
        from crawler_news_spark.plans import wave as WAVE

        tracer = self
        saved = []

        def patch(owner, attr, make):
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, make(orig))

        def spanned(name, root=False):
            def make(orig):
                def wrapper(*a, **kw):
                    with tracer.span(name, root=root):
                        return orig(*a, **kw)
                return wrapper
            return make

        def catalog_write(orig):
            def write(cat, table, wave, df, parts=None, tag=None):
                with tracer.span(f"catalog.write.{table}") as rec:
                    orig(cat, table, wave, df, parts, tag)
                    rec["bytes"] = _dir_bytes(cat._dir(table, wave, tag))
            return write

        def anti_join(orig):
            def wrapper(candidates, *a, **kw):
                with tracer.span("seen.anti_join") as rec:
                    rec["candidates"] = candidates.count()
                    return orig(candidates, *a, **kw)
            return wrapper

        # the candidate bound is computed just before the verify strategy is
        # picked, so it is charged to the path the next verify call takes
        bound = {"last": 0}

        def pair_bound(orig):
            def wrapper(*a, **kw):
                bound["last"] = orig(*a, **kw)
                return bound["last"]
            return wrapper

        def verify(path):
            def make(orig):
                def wrapper(*a, **kw):
                    tracer.count(f"minhash.{path}.verifies")
                    tracer.count(f"minhash.{path}.candidates", bound["last"])
                    stack = tracer._stack()
                    if stack:
                        tracer.verify_path[tracer.spans[stack[-1]]["name"]] = path
                    return orig(*a, **kw)
                return wrapper
            return make

        self.sc = sc
        try:
            patch(CAT.CrawlCatalog, "write", catalog_write)
            patch(CAT.CrawlCatalog, "commit_wave", spanned("catalog.commit"))
            patch(WAVE.WaveCrawl, "run", spanned("wave.run", root=True))
            patch(POL, "schedule_wave", spanned("politeness.schedule"))
            patch(SEEN, "seen_anti_join", anti_join)
            patch(SEEN.BloomState, "update", spanned("seen.update"))
            patch(DD, "_raw_pair_bound", pair_bound)
            patch(DD, "_verify_pairs_on_keys", verify("side_file"))
            patch(DD, "_verify_pairs_join", verify("join"))
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)
            self.sc = None


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


# ---- event log ---------------------------------------------------------------

_PY_NODE_MARKERS = ("Python", "Pandas", "Arrow")


def is_python_node(node: str) -> bool:
    return any(m in node for m in _PY_NODE_MARKERS)


def fold_event_log(path: str) -> dict[int, dict]:
    """Per stage: job group, task run times, summed task metrics and the
    SQL-metric values of the plan nodes it ran, keyed by node name."""
    groups: dict[int, str | None] = {}
    stages: dict[int, dict] = {}
    acc_node: dict[int, tuple[str, str]] = {}
    stage_accs: dict[int, dict[int, float]] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, {
            "task_run_ms": [], "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
            "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
        })

    def walk(plan: dict) -> None:
        for m in plan.get("metrics", []):
            acc_node[m["accumulatorId"]] = (plan["nodeName"], m["name"])
        for child in plan.get("children", []):
            walk(child)

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", []):
                    groups.setdefault(sid, g)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = stage(ev["Stage ID"])
                run = m.get("Executor Run Time", 0)
                st["task_run_ms"].append(run)
                st["run_ms"] += run
                st["cpu_ns"] += m.get("Executor CPU Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                st["spill"] += (m.get("Memory Bytes Spilled", 0)
                                + m.get("Disk Bytes Spilled", 0))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                accs = stage_accs.setdefault(info["Stage ID"], {})
                stage(info["Stage ID"])
                for a in info.get("Accumulables", []):
                    try:
                        accs[a["ID"]] = float(a.get("Value"))
                    except (TypeError, ValueError):
                        pass
            elif kind.endswith(("SparkListenerSQLExecutionStart",
                                "SparkListenerSQLAdaptiveExecutionUpdate")):
                walk(ev["sparkPlanInfo"])

    for sid, st in stages.items():
        st["group"] = groups.get(sid)
        nodes: dict[str, dict[str, float]] = {}
        for acc_id, val in stage_accs.get(sid, {}).items():
            if acc_id in acc_node:
                node, metric = acc_node[acc_id]
                per = nodes.setdefault(node, {})
                per[metric] = per.get(metric, 0.0) + val
        st["nodes"] = nodes
    return stages


def python_nodes(st: dict) -> list[str]:
    return [n for n in st["nodes"] if is_python_node(n)]


def python_bytes(st: dict) -> float:
    return sum(v for n in python_nodes(st) for k, v in st["nodes"][n].items()
               if "Python workers" in k)


def python_rows(st: dict) -> float:
    return sum(st["nodes"][n].get("number of output rows", 0)
               for n in python_nodes(st))
