"""Pure measurement helpers: percentile selection, the batch-to-record
join over a file sink's ``_spark_metadata`` log and the stamp of the code
a run measured. No Spark import here, so the tests of the benchmark's own
logic run without a session."""

from __future__ import annotations

import gzip
import hashlib
import json
import math
import os
import re
import statistics
from collections.abc import Iterator
from urllib.parse import unquote, urlparse

MIN_BEYOND = 10  # a percentile is reported only with this many samples above it
TAIL_CANDIDATES = (99.9, 99.0, 90.0, 50.0)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated q-th percentile (the numpy default rule)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of n samples lie strictly above the q-th percentile rank."""
    return n - 1 - math.floor((n - 1) * q / 100.0)


def supported(n: int, q: float) -> bool:
    return samples_beyond(n, q) >= MIN_BEYOND


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """The highest of TAIL_CANDIDATES that has at least MIN_BEYOND samples
    beyond it, as (q, value); None when even the median is unsupported."""
    for q in TAIL_CANDIDATES:
        if supported(len(values), q):
            return q, percentile(values, q)
    return None


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def median(values: list[float]) -> float:
    return statistics.median(values)


def code_stamp(root: str) -> str:
    """Hash of the measured code (the ``s4_spark`` package, ``bench.py``,
    the benchmark and ``BENCHMARK.json`` under ``root``), so that runs of
    different code are never pooled."""
    h = hashlib.sha1()
    paths = [os.path.join(root, "bench.py"), os.path.join(root, "BENCHMARK.json")]
    for sub in ("s4_spark", "perfbench"):
        for dirpath, dirs, files in os.walk(os.path.join(root, sub)):
            dirs[:] = [d for d in dirs if not d.startswith((".", "__"))]
            paths += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    for path in sorted(paths):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha1(f.read()).digest())
    return h.hexdigest()[:12]


_BATCH_FILE = re.compile(r"^(\d+)(\.compact)?$")


def _local_path(uri: str) -> str:
    return unquote(urlparse(uri).path) if uri.startswith("file:") else uri


def sink_batches(out_dir: str) -> list[tuple[int, float, list[str]]]:
    """Each committed batch of a file sink as (batch_id, commit_time,
    data files it added), in batch order.

    The commit time is the modification time of the batch's
    ``_spark_metadata/<id>`` entry, written when the batch commits. A
    ``<id>.compact`` entry lists every live file up to that batch; the
    batch's own files are those not listed by an earlier entry."""
    log_dir = os.path.join(out_dir, "_spark_metadata")
    entries = []
    for name in os.listdir(log_dir):
        m = _BATCH_FILE.match(name)
        if m:
            entries.append((int(m.group(1)), os.path.join(log_dir, name)))
    seen: set[str] = set()
    out = []
    for batch_id, path in sorted(entries):
        committed = os.stat(path).st_mtime_ns / 1e9
        with open(path, encoding="utf-8") as f:
            lines = f.read().splitlines()[1:]  # first line is the log version
        files = []
        for ln in lines:
            rec = json.loads(ln)
            p = _local_path(rec["path"])
            if rec.get("action", "add") == "add" and p not in seen:
                seen.add(p)
                files.append(p)
        out.append((batch_id, committed, files))
    return out


def partition_of(path: str) -> dict[str, str]:
    """``year=/month=/day=`` directory keys of a data file."""
    parts = {}
    for seg in path.split(os.sep):
        k, eq, v = seg.partition("=")
        if eq:
            parts[k] = v
    return parts


def sink_records(out_dir: str) -> Iterator[tuple[int, float, dict[str, str], str]]:
    """Every landed record as (batch_id, commit_time, partition, line)."""
    for batch_id, committed, files in sink_batches(out_dir):
        for path in files:
            part = partition_of(path)
            with gzip.open(path, "rt", encoding="utf-8") as f:
                for line in f:
                    yield batch_id, committed, part, line.rstrip("\n")
