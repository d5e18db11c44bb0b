"""The ``query_mix`` workload: registry entries over seeded catalog tables
(see datagen.py), grouped into three families so that a gain in one
family cannot hide a loss in another.

- Set-up: the first execution of every entry, which also warms the JIT,
  the vectorized parquet reader and the Python workers. A first execution
  takes 2-3x a later one and varies with them, so it is not timed; its
  result is hash-compared with the entry's DuckDB oracle (computed before
  the session starts) under the ``tests/conftest.py`` normalize rule.
- Timed: passes over every entry until ``--seconds`` have gone by, at
  least MIN_PASSES. An entry's time is the median of its executions
  (build plus collect); each result is checked against the oracle again,
  untimed.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import sys
import time
from collections import Counter

import datagen
import measure
import probes

FAMILIES = {
    "relational": [
        "q020_inner_join_tpch_q3",
    ],
    "llm": [
        "q112_cosine_topk_bruteforce",
    ],
    "streaming": [
        "q246_offset_managed_stream_source",
    ],
}
ENTRIES = [n for names in FAMILIES.values() for n in names]
# Timed passes at least, so that each entry's time is a median of several
# executions even when one pass outlasts ``--seconds``.
MIN_PASSES = 2


def _normalize():
    """The tests' normalize rule, imported from tests/conftest.py."""
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tests", "conftest.py")
    spec = importlib.util.spec_from_file_location("s4_tests_conftest", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


def result_hash(pdf, normalize) -> str:
    ndf = normalize(pdf).astype(str)
    body = "\n".join(",".join(row) for row in ndf.itertuples(index=False))
    return hashlib.md5(f"{list(ndf.columns)}\n{body}".encode()).hexdigest()


def prepare(bench) -> None:
    """Write the tables and hash every oracle's result, before the session
    starts, so DuckDB's memory is not counted in the session's peak RSS."""
    import duckdb

    from s4_spark.catalog import TABLES
    from s4_spark.queries import REGISTRY

    bench.data_dir = datagen.write(bench.seed, os.path.join(bench.run_dir, "data"))
    bench.normalize = _normalize()
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(bench.data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        bench.oracle_hashes = {
            n: result_hash(con.sql(REGISTRY[n].oracle).df(), bench.normalize)
            for n in ENTRIES
        }
    finally:
        con.close()


def _catalyst_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning time of the DataFrame's own
    query execution, read after the collect that planned it."""
    phases = df._jdf.queryExecution().tracker().phases()
    return {k: phases.apply(k).durationMs() for k in ("analysis", "optimization", "planning")
            if phases.contains(k)}


def _execute(bench, spark, name: str) -> tuple[float, dict | None, bool]:
    """Build and collect one entry. Returns its time, its layer numbers
    (traced runs only) and whether its result matched the oracle; an entry
    that raised counts as a miss."""
    from s4_spark.queries import REGISTRY

    m = bench.status.mark() if bench.trace else None
    t0 = time.time()
    try:
        df = REGISTRY[name].fn(spark, bench.data_dir)
        t1 = time.time()
        pdf = df.toPandas()
    except Exception as e:  # noqa: BLE001 - a raising entry is a counted failure
        print(f"{name} raised {type(e).__name__}: {e}", file=sys.stderr)
        return time.time() - t0, None, False
    t2 = time.time()
    layers = None
    if bench.trace:
        layers = {
            "build_s": t1 - t0,
            "catalyst_ms": _catalyst_ms(df),
            "exec_s": t2 - t1,
            **bench.status.window(m, bench.status.mark()),
        }
    return t2 - t0, layers, result_hash(pdf, bench.normalize) == bench.oracle_hashes[name]


def run(bench, spark) -> dict:
    misses: Counter = Counter()
    t = time.time()
    for name in ENTRIES:
        misses[name] += not _execute(bench, spark, name)[2]
    first_s = time.time() - t
    bench.ready()

    samples: dict[str, list[float]] = {n: [] for n in ENTRIES}
    traced: dict[str, list[dict]] = {n: [] for n in ENTRIES}
    mark0 = bench.status.mark() if bench.trace else None
    t_start = time.time()
    passes = 0
    while passes < MIN_PASSES or time.time() - t_start < bench.seconds:
        for name in ENTRIES:
            took, layers, ok = _execute(bench, spark, name)
            misses[name] += not ok
            if ok:
                samples[name].append(took)
            if layers:
                traced[name].append(layers)
        passes += 1
    t_end = time.time()

    entry_s = {n: measure.median(v) for n, v in samples.items() if v}
    layers: dict = {
        "passes": passes,
        "samples": samples,
        "entry_s": entry_s,
        **{f"queries_{f}_s": sum(entry_s.get(n, 0.0) for n in names)
           for f, names in FAMILIES.items()},
        "setup.first_pass_s": first_s,
        "oracle_misses": {n: c for n, c in misses.items() if c},
    }
    if bench.trace:
        # the last pass's numbers of each entry
        for name, recs in traced.items():
            if recs:
                layers[name] = recs[-1]
        for fam, names in FAMILIES.items():
            recs = [traced[n][-1] for n in names if traced[n]]
            for k in ("tasks", "task_ms", "spill_bytes"):
                layers[f"{fam}.{k}"] = sum(r[k] for r in recs)
        stream = probes.batch_summary(bench.progress.between(t_start, t_end))
        exec_ = bench.status.window(mark0, bench.status.mark())
    else:
        stream = exec_ = None
    times = list(entry_s.values())
    return {
        "attempted": len(ENTRIES) * (passes + 1),
        "failed": sum(misses.values()),
        "metrics": {
            "throughput_per_s": len(times) / sum(times),
            "latency_p50_s": measure.percentile(times, 50),
            "latency_p90_s": measure.percentile(times, 90),
        },
        "first_work_s": first_s,
        "stream": stream,
        "exec": exec_,
        "layers": layers,
    }
