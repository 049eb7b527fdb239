"""Seeded input generator for the benchmark.

Everything here runs in a child process before the set-up clock starts.
``write_tables`` writes the read-only dataset the ``interactive`` and
``corpus_curation`` workloads scan. It has the shape of the repository's
sf0.1 test tables (same columns, types, row counts and value distributions)
for the tables those workloads read. The files written depend on the seed
alone: the same seed writes byte-identical files on every run.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The read-only dataset is fixed; a run's seed shuffles the op order.
#: Keeping the data fixed keeps job counts and plan shapes identical across
#: seeds (iterative lanes such as connected components converge in a
#: data-dependent number of jobs).
DATA_SEED = 42

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _customer(rng: np.random.Generator, n: int = 15_000) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n)],
    })


def _events(rng: np.random.Generator, n: int = 100_000) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rng.exponential(25.9e6, n).astype(np.int64)  # microseconds
    ts = start + np.cumsum(gaps).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n).astype(np.int64),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng: np.random.Generator, n: int = 5_000) -> pa.Table:
    """Token soup over a 30-word vocabulary, 10..100 tokens per document;
    5 % of documents are another document's text plus a trailing ``dup``
    token, so the near-duplicate lanes have clusters to find."""
    texts: list[str] = []
    for _ in range(n):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), k)))
    dup_ids = rng.choice(n, n // 20, replace=False)
    for i in sorted(dup_ids):
        src = int(rng.integers(0, n))
        if src != i:
            texts[i] = texts[src] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(5, n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int = 2_000, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


_TABLES = {
    "customer": _customer,
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
}


def write_tables(out_dir: str, names: list[str]) -> None:
    """Write ``<out_dir>/<name>.parquet`` for each name. Each table draws
    from its own stream, so the set of names asked for does not change any
    table's contents."""
    for i, name in enumerate(sorted(_TABLES)):
        if name in names:
            rng = np.random.default_rng([DATA_SEED, i])
            _write(_TABLES[name](rng), os.path.join(out_dir, f"{name}.parquet"))


def write_oracles(out_dir: str, names: list[str], tables: list[str]) -> None:
    """Run each query's registered DuckDB oracle (``QuerySpec.oracle``) over
    the written tables; store the canonical results in ``oracles.json``."""
    import duckdb

    from check import canonical
    from trading_dashboard_spark.queries import QUERY_REGISTRY

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{out_dir}/{t}.parquet')")
    out = {}
    for name in names:
        cur = con.execute(QUERY_REGISTRY[name].oracle)
        cols = [c[0] for c in cur.description]
        out[name] = canonical(cols, cur.fetchall())
    with open(os.path.join(out_dir, "oracles.json"), "w") as fh:
        json.dump(out, fh)


def main(argv: list[str]) -> int:
    """``python3 perfbench/gen.py <workload> <out_dir>``: write the
    workload's tables and its oracle results under ``out_dir``."""
    from workloads import NAMES, TABLES

    workload, out_dir = argv
    write_tables(out_dir, TABLES[workload])
    write_oracles(out_dir, NAMES[workload], TABLES[workload])
    return 0


if __name__ == "__main__":
    import sys

    sys.exit(main(sys.argv[1:]))
