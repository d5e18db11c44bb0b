"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import gzip
import json
import os

import numpy as np
import pytest

import measure
from gen import is_malformed, paced_loop


# -- percentile selection ----------------------------------------------------

def test_percentile_matches_numpy_linear_rule():
    rng = np.random.default_rng(0)
    xs = rng.exponential(1.0, 537).tolist()
    for q in (0, 10, 50, 90, 99, 100):
        assert measure.percentile(xs, q) == pytest.approx(np.percentile(xs, q))


@pytest.mark.parametrize(
    "n, q, ok",
    [(100, 90, True), (90, 90, False),
     (1000, 99, True), (900, 99, False),
     (10_000, 99.9, True), (9_000, 99.9, False),
     (20, 50, True), (19, 50, False)],
)
def test_ten_samples_beyond_rule(n, q, ok):
    assert measure.supported(n, q) is ok


def test_tail_percentile_picks_highest_supported():
    xs = list(range(1, 1001))  # 1000 samples: p99 has 10 beyond, p99.9 has 1
    q, v = measure.tail_percentile(xs)
    assert q == 99.0
    assert v == pytest.approx(np.percentile(xs, 99))
    assert sum(x > v for x in xs) >= measure.MIN_BEYOND
    assert measure.tail_percentile(list(range(50)))[0] == 50.0
    assert measure.tail_percentile(list(range(19))) is None


def test_spread_is_iqr_over_median():
    assert measure.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(
        (8.25 - 2.75) / 5.5
    )


# -- batch-to-record latency join over _spark_metadata -----------------------

def _write_batch(out, log_dir, batch_id, files, mtime, compact=False):
    """Write data files (name -> lines) and the batch's sink log entry."""
    entries = []
    for rel, lines in files.items():
        path = os.path.join(out, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        if lines is not None:
            with gzip.open(path, "wt", encoding="utf-8") as f:
                f.write("".join(ln + "\n" for ln in lines))
        entries.append({"path": "file:" + path, "size": 1, "isDir": False,
                        "modificationTime": 0, "blockReplication": 1,
                        "blockSize": 1, "action": "add"})
    name = f"{batch_id}.compact" if compact else str(batch_id)
    entry = os.path.join(log_dir, name)
    with open(entry, "w", encoding="utf-8") as f:
        f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))
    os.utime(entry, (mtime, mtime))


def test_sink_join_maps_records_to_their_batch_commit(tmp_path):
    out = str(tmp_path / "out")
    log_dir = os.path.join(out, "_spark_metadata")
    os.makedirs(log_dir)
    day = "year=2026/month=10/day=17"
    _write_batch(out, log_dir, 0, {}, 100.0)
    _write_batch(out, log_dir, 1, {f"{day}/part-a.txt.gz": ["r1", "r2"]}, 101.5)
    # a compact entry re-lists every live file; only part-b is batch 2's
    _write_batch(out, log_dir, 2, {f"{day}/part-a.txt.gz": None,
                                   f"{day}/part-b.txt.gz": ["r3"]},
                 103.25, compact=True)

    batches = measure.sink_batches(out)
    assert [(b, t, [os.path.basename(p) for p in fs]) for b, t, fs in batches] == [
        (0, 100.0, []),
        (1, 101.5, ["part-a.txt.gz"]),
        (2, 103.25, ["part-b.txt.gz"]),
    ]
    recs = list(measure.sink_records(out))
    part = {"year": "2026", "month": "10", "day": "17"}
    assert recs == [(1, 101.5, part, "r1"), (1, 101.5, part, "r2"),
                    (2, 103.25, part, "r3")]


# -- open-loop lag accounting -----------------------------------------------

class FakeClock:
    def __init__(self, t):
        self.t = t

    def __call__(self):
        return self.t

    def sleep(self, s):
        self.t += max(s, 1e-4)


def test_open_loop_keeps_schedule_through_a_stall():
    clock = FakeClock(1000.0)
    rate, total, t0 = 100.0, 300, 1000.0
    sends = []

    def send(conn, data):
        sends.append((clock(), conn, data.decode().splitlines()))
        if len(sends) == 5:
            clock.t += 0.5  # the socket blocks for half a second

    lags, log = paced_loop(total, rate, t0, lambda i: str(i), send, 2,
                           clock=clock, sleep=clock.sleep)

    got = sorted(int(x) for _, _, lines in sends for x in lines)
    assert got == list(range(total))  # every record exactly once
    for _, conn, lines in sends:  # round-robin over connections
        assert all(int(x) % 2 == conn for x in lines)
    # records that fell due during the stall are late by the stall...
    assert max(lags) >= 0.45
    # ...and go out together afterwards instead of shifting the schedule:
    # the run ends when the last record falls due, not 0.5 s later
    assert log[-1][0] - (t0 + (total - 1) / rate) < 0.01
    late = [i for i, lag in enumerate(lags) if lag > 0.1]
    assert late and max(late) < total // 2
    assert all(lag >= 0 for lag in lags)
    assert log[-1][1] == total


def test_malformed_share_is_seeded():
    seqs = range(-500, 100_000)
    bad = [s for s in seqs if is_malformed(7, s)]
    assert 0.008 < len(bad) / len(seqs) < 0.012
    assert bad == [s for s in seqs if is_malformed(7, s)]
    assert bad != [s for s in seqs if is_malformed(8, s)]
