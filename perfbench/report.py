"""Result accounting and the printed lines of one benchmark run.

Kept free of Spark so the accounting can be unit-tested (test_report.py).
"""

from __future__ import annotations

import json
import math
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC_PATH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def metric_units(kind: str, spec_path: str = SPEC_PATH) -> dict[str, str]:
    """name -> unit for the ``end_to_end`` or ``per_layer`` metrics."""
    with open(spec_path) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[kind]}


class Tally:
    """Operations attempted and failed.  A failure is an exception or an
    output whose digest differs from the expected one."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[dict] = []

    def record(self, op: str, error: str | None = None) -> bool:
        self.attempted += 1
        if error is not None:
            self.failed += 1
            self.failures.append({"op": op, "error": error[:300]})
        return error is None

    def check(self, op: str, got, expected) -> bool:
        """Count ``op`` as done; failed when ``got`` differs from
        ``expected``."""
        if got == expected:
            return self.record(op)
        return self.record(op, f"digest mismatch: got {got!r}, "
                               f"expected {expected!r}")

    @property
    def fail_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def cpu_times(stat_text: str) -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat as integers (user nice
    system idle iowait irq softirq steal ...)."""
    for line in stat_text.splitlines():
        if line.startswith("cpu "):
            return [int(x) for x in line.split()[1:]]
    raise ValueError("no aggregate cpu line")


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of all CPU time between two /proc/stat readings that the
    hypervisor stole (field 8)."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return delta[7] / total if total > 0 else 0.0


def read_proc_stat() -> list[int]:
    with open("/proc/stat") as f:
        return cpu_times(f.read())


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def result_line(tally: Tally, values: dict[str, float],
                units: dict[str, str]) -> str:
    """The final stdout line: exactly ``correct``, ``attempted``, ``failed``
    and ``metrics``, where ``metrics`` holds every metric of ``units``
    with its value and unit."""
    missing = sorted(set(units) - set(values))
    extra = sorted(set(values) - set(units))
    if missing or extra:
        raise ValueError(f"metrics missing {missing}, unknown {extra}")
    metrics = {}
    for name, unit in units.items():
        v = float(values[name])
        if not math.isfinite(v):
            raise ValueError(f"metric {name} is not finite: {v}")
        metrics[name] = {"value": v, "unit": unit}
    return json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    })


def run_record(workload: str, seed: int, trace: bool, tally: Tally,
               steal: float, extra: dict) -> str:
    """One human-readable line per run, printed before the result line: the
    run's own steal reading next to its failures and detail numbers."""
    rec = {
        "workload": workload, "seed": seed, "trace": trace,
        "steal_frac": round(steal, 5),
        "attempted": tally.attempted, "failed": tally.failed,
        "fail_frac": tally.fail_frac, "failures": tally.failures[:10],
    }
    rec.update(extra)
    return "perfbench-run " + json.dumps(rec, default=str)


def append_history(path: str, workload: str, seed: int,
                   values: dict[str, float]) -> None:
    """Append one untraced run's end-to-end values to the run history."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as f:
        f.write(json.dumps({"workload": workload, "seed": seed, **values}) + "\n")


def history_median(path: str, workload: str, metric: str) -> float:
    """Median of ``metric`` over the recorded runs of ``workload``; 0.0 when
    there are none."""
    if not os.path.exists(path):
        return 0.0
    with open(path) as f:
        recs = [json.loads(line) for line in f if line.strip()]
    values = [r[metric] for r in recs if r.get("workload") == workload]
    return median(values) if values else 0.0
