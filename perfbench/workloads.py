"""The workloads: closed loop, one client, package functions only.

Each workload returns a ``Result``; ``metrics.py`` turns it into the printed
metrics. Times are ``time.perf_counter`` seconds. An op's latency covers
only the calls into the package; output checks, memory sampling and trace
collection run between ops, outside every latency.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import time
from dataclasses import dataclass, field

from check import canonical, mismatch
from mem import held_mb

#: Driver heap, pinned: with the 8g default, peak memory followed heap
#: growth and swung by 2x between runs; 2g gave the same latencies.
DRIVER_MEMORY = "2g"

#: The dashboard loaders (queries_dashboard.py) plus two headline loaders.
INTERACTIVE = [
    "top_losers", "high_volatility_top10", "latest_prediction_per_symbol",
    "company_news_latest5", "trading_patterns_top100", "company_list",
    "stock_history_range", "market_trends_latest", "top_gainers",
    "market_avg_by_date",
]
#: text, similarity and streaming registry queries.
CORPUS = [
    "near_dup_clusters", "chunk_boilerplate_ratio", "doc_sentiment",
    "lsh_ann_top3", "knn_probe_top10", "streaming_hourly_type_counts",
]
NAMES = {"interactive": INTERACTIVE, "corpus_curation": CORPUS}
#: Where each op's result goes; ``noop`` runs the plan and discards the rows.
SINKS = {"interactive": "collect", "corpus_curation": "noop"}
FAMILIES = {
    "trading_dashboard_spark.queries_text": "text",
    "trading_dashboard_spark.queries_similarity": "similarity",
    "trading_dashboard_spark.queries_streaming": "streaming",
}
TABLES = {
    "interactive": ["customer", "events"],
    "corpus_curation": ["documents", "embeddings", "events"],
}

#: Warm-up length in passes, fixed so that every run sets up alike; chosen
#: from the measured settle curves (README, "Steadiness").
WARMUP_PASSES = {"interactive": 2, "corpus_curation": 2}
#: Nominal seconds per warm pass on a 4-core host: a run times
#: round(seconds / nominal) passes, at least one.
NOMINAL_PASS_S = {"interactive": 5.0, "corpus_curation": 7.0}


def timed_count(ctx) -> int:
    """Timed passes for this run. Traced runs time a multiple of four:
    untraced, traced, traced, untraced, so a drift in speed during the run
    cancels out of ``trace.overhead``."""
    n = max(1, round(ctx.seconds / NOMINAL_PASS_S[ctx.workload]))
    return 4 * -(-n // 4) if ctx.trace else n


def is_traced(ctx, i: int) -> bool:
    return ctx.trace and i % 4 in (1, 2)


@dataclass
class OpRecord:
    name: str
    latency_s: float
    traced: bool
    build_s: float = 0.0
    exec_s: float = 0.0
    phases: list = field(default_factory=list)  # layers.Phase, traced ops only
    family: str = ""


@dataclass
class Result:
    import_s: float = 0.0
    session_s: float = 0.0
    warmup_s: float = 0.0
    setup_s: float = 0.0
    ops: list = field(default_factory=list)  # timed OpRecords
    passes: int = 0  # timed passes (whole rounds of the op list)
    traced_passes: int = 0
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    peak_mem_mb: float = 0.0
    counters: dict = field(default_factory=dict)  # phase group -> layers.Counters
    settle: list = field(default_factory=list)  # warm-up pass times
    warmup_ops: list = field(default_factory=list)  # (name, seconds) per warm-up op
    mem_mb: list = field(default_factory=list)  # mem.held_mb parts, after each op of the last timed pass


def _session(ctx):
    from trading_dashboard_spark.session import get_spark

    return get_spark(
        f"perfbench-{ctx.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": ctx.spark_tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.spark_tmp}",
            "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        },
    )


def _phase(tracer, name: str, phases: list):
    if tracer is None:
        return contextlib.nullcontext()

    @contextlib.contextmanager
    def run():
        with tracer.phase(name) as ph:
            yield
        phases.append(ph)

    return run()


def _fail(res: Result, what: str) -> None:
    res.failed += 1
    if len(res.failures) < 10:
        res.failures.append(what[:300])


def run_registry(ctx, clock_start: float) -> Result:
    """Each op builds one registry query, ``spec.fn(spark, sf_dir)``, and
    runs it into the workload's sink. Passes visit every query once in a
    seeded order; only whole passes are timed. Results are checked against
    each query's DuckDB oracle: on every op where the sink collects them,
    else on every op of the last timed pass. ``clock_start`` is when the
    set-up clock started."""
    res = Result()
    names, sink = NAMES[ctx.workload], SINKS[ctx.workload]
    t = time.perf_counter()
    from trading_dashboard_spark.queries import QUERY_REGISTRY

    res.import_s = time.perf_counter() - t
    t = time.perf_counter()
    spark = _session(ctx)
    res.session_s = time.perf_counter() - t
    try:
        tracer = None
        if ctx.trace:
            from layers import Tracer

            tracer = Tracer(spark, ctx.workload)
        with open(os.path.join(ctx.data, "oracles.json")) as fh:
            oracles = json.load(fh)
        rng = random.Random(ctx.seed)

        def one(name: str, traced: bool, check: bool) -> OpRecord:
            spec = QUERY_REGISTRY[name]
            phases: list = []
            tr = tracer if traced else None
            t0 = time.perf_counter()
            with _phase(tr, f"{name}.build", phases):
                df = spec.fn(spark, ctx.data)
            t1 = time.perf_counter()
            with _phase(tr, f"{name}.exec", phases):
                if sink == "collect":
                    rows = df.collect()
                else:
                    df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            rec = OpRecord(name, t2 - t0, traced, t1 - t0, t2 - t1, phases=phases,
                           family=FAMILIES.get(spec.fn.__module__, ""))
            if sink == "noop" and check:
                # the timed write kept no rows: run the same DataFrame once more
                # for the check, outside the latency and the traced phases
                rows = df.collect()
            if sink == "collect" or check:
                bad = mismatch(canonical(df.columns, rows), oracles[name])
                if bad:
                    _fail(res, f"{name}: {bad}")
            return rec

        def run_pass(traced: bool, last: bool = False) -> list[OpRecord]:
            order = names[:]
            rng.shuffle(order)
            recs = []
            for name in order:
                res.attempted += 1
                try:
                    recs.append(one(name, traced, check=last))
                except Exception as e:  # an op that raises is a failed op
                    _fail(res, f"{name}: {type(e).__name__}: {e}")
                if last:
                    # after every op, not only the last: what the JVM still holds
                    # depends on which query ran last, so the seeded order would
                    # otherwise decide the peak
                    res.mem_mb.append(held_mb(spark))
            return recs

        # Warm-up: whole passes, the first one cold (README, "Steadiness").
        t = time.perf_counter()
        for _ in range(WARMUP_PASSES[ctx.workload]):
            recs = run_pass(False)
            res.warmup_ops += [(r.name, round(r.latency_s, 3)) for r in recs]
            res.settle.append(sum(r.latency_s for r in recs))
        res.warmup_s = time.perf_counter() - t
        res.setup_s = time.perf_counter() - clock_start

        # Timed: a fixed number of whole passes, so every run does the same work
        # and its op latencies come from the same multiset of queries.
        n = timed_count(ctx)
        for i in range(n):
            traced = is_traced(ctx, i)
            recs = run_pass(traced, last=i == n - 1)
            res.ops.extend(recs)
            res.passes += 1
            res.traced_passes += traced
            if tracer is not None and traced:
                phases = [ph for r in recs for ph in r.phases]
                for ph, c in zip(phases, tracer.collect(phases)):
                    res.counters[ph.group] = _add(res.counters.get(ph.group), c)
        res.peak_mem_mb = max(sum(parts.values()) for parts in res.mem_mb)
    finally:
        _stop(spark)
    return res


def _add(acc, c):
    if acc is None:
        return c
    for k, v in vars(c).items():
        if k != "job_ids":
            setattr(acc, k, getattr(acc, k) + v)
    return acc


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    with contextlib.suppress(Exception):  # a call cut short by SIGTERM can leave py4j unusable
        spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
