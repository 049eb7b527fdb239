#!/usr/bin/env python3
"""Benchmark driver for trading_dashboard_spark.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 6 --trace 0

Run from the repository root. The workload's tables and oracle results are
generated once under ``.bench_build/perfbench/`` (in a child process, before
the set-up clock starts); ``--seed`` shuffles the op order of every pass. The
workload runs closed-loop with one client on ``local[<cores>]``, and the last
line of standard output is one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones. The line before it records the launch settings and the
run's details. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import hashlib
import subprocess
import sys
import time

import metrics
import workloads as wl

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_build", "perfbench", "cache")
WORKLOADS = tuple(wl.NAMES)


def _launch_env(work: str) -> dict:
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": wl.DRIVER_MEMORY,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "TZ": "UTC",
    }
    os.environ.update(env)
    return env


def _git_sha() -> str:
    try:
        out = subprocess.run(
            ["git", f"--git-dir={os.path.join(ROOT, '.git')}", "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _inputs(workload: str) -> str:
    """Generate the workload's inputs in a child process; returns the data
    directory. The tables and their oracle results depend on the sources
    alone, not on the seed, so they are kept under a key of the benchmark's
    and the package's source files and reused by later runs."""
    digest = hashlib.md5()
    for top in (HERE, os.path.join(ROOT, "trading_dashboard_spark")):
        for dirpath, dirnames, files in os.walk(top):
            dirnames.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        digest.update(fh.read())
    data = os.path.join(CACHE, f"{workload}-{digest.hexdigest()[:16]}")
    if not os.path.isdir(data):
        tmp = f"{data}.{os.getpid()}"
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), workload, tmp],
                       cwd=ROOT, check=True, timeout=600)
        os.replace(tmp, data)
    return data


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "trading_dashboard_spark")):
        print(f"perfbench: no trading_dashboard_spark package under {ROOT}", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".bench_build", "perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        env = _launch_env(work)
        t = time.perf_counter()
        data = _inputs(args.workload)
        gen_s = time.perf_counter() - t

        sys.path.insert(0, ROOT)
        ctx = argparse.Namespace(
            workload=args.workload, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace), work=work, data=data, spark_tmp=env["TMPDIR"],
        )
        res = wl.run_registry(ctx, time.perf_counter())  # setup_s starts here
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = metrics.per_layer(res) if args.trace else metrics.end_to_end(res)
    units = metrics.units()
    detail = {
        "launch": {
            "PYTHONPATH": env["PYTHONPATH"], "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
            "SPARK_DRIVER_MEMORY": env["SPARK_DRIVER_MEMORY"], "cores": os.cpu_count(),
            "git_sha": _git_sha(), "python": sys.version.split()[0],
        },
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "gen_s": round(gen_s, 3), "timed_ops": len(res.ops), "timed_passes": res.passes,
        "ops_per_s": metrics.ops_per_s(res),
        "warmup_times_s": [round(x, 3) for x in res.settle], "warmup_ops": res.warmup_ops,
        "held_mb": [{k: round(v, 1) for k, v in parts.items()} for parts in res.mem_mb],
        "timed_op_s": [(o.name, round(o.latency_s, 3)) for o in res.ops], "failures": res.failures,
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
