"""From a workload ``Result`` to the printed metrics.

Names and units are declared once, in ``BENCHMARK.json``; this module
computes the values. Per-layer totals are given per timed pass (one round
of the op list) so that runs with different pass counts compare directly,
and so that the job counts repeat exactly.
"""

from __future__ import annotations

import json
import os
import statistics

from workloads import FAMILIES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _rate(ops) -> float:
    total = sum(o.latency_s for o in ops)
    return len(ops) / total if total else 0.0


def ops_per_s(res) -> float:
    """Timed ops over their summed latency. Printed on the detail line, not
    gated: the host's speed drifts too much for it (README, "Dropped")."""
    return _rate(res.ops)


def end_to_end(res) -> dict[str, float]:
    return {
        "setup_s": res.setup_s,
        "peak_mem_mb": res.peak_mem_mb,
    }


def per_layer(res) -> dict[str, float]:
    traced = [o for o in res.ops if o.traced]
    plain = [o for o in res.ops if not o.traced]
    n = max(res.traced_passes, 1)
    build = [c for g, c in res.counters.items() if g.endswith(".build")]
    execs = [c for g, c in res.counters.items() if not g.endswith(".build")]
    every = list(res.counters.values())

    out = {
        "queries.import_s": res.import_s,
        "session.start_s": res.session_s,
        "warmup_s": res.warmup_s,
        "build.p50_s": _median(o.build_s for o in traced),
        "build.total_s": sum(o.build_s for o in traced) / n,
        "build.jobs": sum(c.jobs for c in build) / n,
        "exec.p50_s": _median(o.exec_s for o in traced),
    }
    for k in ("jobs", "stages", "tasks", "cpu_s", "run_s", "gc_s", "shuffle_read_mb",
              "shuffle_write_mb", "spill_mb", "input_mb", "output_mb"):
        out[f"exec.{k}"] = sum(getattr(c, k) for c in execs) / n
    out["python.worker_s"] = sum(c.python_worker_s for c in every) / n
    out["python.sent_mb"] = sum(c.python_sent_mb for c in every) / n
    for fam in FAMILIES.values():
        ops = [o for o in traced if o.family == fam]
        names = {o.name for o in ops}
        out[f"{fam}.build_s"] = sum(o.build_s for o in ops) / n
        out[f"{fam}.exec_s"] = sum(o.exec_s for o in ops) / n
        out[f"{fam}.build_jobs"] = sum(
            c.jobs for g, c in res.counters.items()
            if g.endswith(".build") and g.split(".")[-2] in names
        ) / n
    base = _rate(traced)
    out["trace.overhead"] = _rate(plain) / base if base else 0.0
    return out
