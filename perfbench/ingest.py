"""The ``ingest`` workload: the S4 path producer → unix socket → spool →
micro-batch → gzip lake → commit, in two phases on one session.

- paced: ``pipeline.s4.start`` in listen mode with JSON records,
  ``event_time_col="ts"`` and a 2 s flush, fed by the open-loop generator
  at PACED_RATE records/s over 4 connections for ``--seconds`` seconds,
  with about 1% malformed records. Latency runs from each record's due
  time to the commit of the batch that landed it.
- burst: the same path with line records and a 1 s flush;
  BURST_PER_SECOND × ``--seconds`` records pushed at once, after an
  untimed warm-up burst of BURST_PER_SECOND records. Throughput is the
  timed count over the time from its first send to the commit of its last
  record.

Both phases are checked exactly-once against the sequence numbers sent.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import time
from collections import Counter
from datetime import datetime, timezone

import measure
import probes
from gen import PACED_RATE, is_malformed, parse_line_record

BURST_PER_SECOND = 12500
# Seconds of paced records sent, untimed, before the timed ones (two flush
# intervals), so the timed batches do not pay the one-off code generation,
# JIT compilation and worker start-up of the JSON path.
PACED_WARMUP_S = 4
# Flush intervals. A paced batch costs ~0.6-0.7 s on 4 cores, mostly fixed
# cost, and up to twice that while a shared virtual machine runs slow; a
# 2 s flush keeps it inside the interval, so a slow phase does not turn
# into a growing queue that the latency then measures. The burst batches
# run back to back whatever the interval.
PACED_FLUSH_S = 2
BURST_FLUSH_S = 1
# A processing-time trigger fires on whole multiples of its interval, so
# every send starts this far past such a multiple: the same phase against
# the trigger in every run.
TRIGGER_PHASE_S = 0.1
JSON_SCHEMA = "seq long, ts timestamp, message string"
GEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py")
_SOCKET_PATH_MAX = 100


def _socket_path(path: str) -> str:
    # unix socket paths are limited to 108 bytes; fall back to a path
    # relative to the working directory (the checkout root) when needed
    return path if len(path) < _SOCKET_PATH_MAX else os.path.relpath(path)


def _utc_date(epoch_s: float) -> tuple[str, str, str]:
    d = datetime.fromtimestamp(epoch_s, timezone.utc)
    return str(d.year), str(d.month), str(d.day)


def _next_slot(flush_s: int) -> float:
    """The next trigger time (plus TRIGGER_PHASE_S) at least 0.7 s away,
    which leaves the generator time to start and build its records."""
    return math.ceil((time.time() + 0.7) / flush_s) * flush_s + TRIGGER_PHASE_S


def _wait(cond, timeout_s: float, what: str) -> None:
    deadline = time.time() + timeout_s
    while not cond():
        if time.time() > deadline:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(0.05)


class Phase:
    """One pipeline query plus its generator run."""

    def __init__(self, bench, name: str, json_records: bool, flush_s: int):
        from s4_spark.pipeline.s4 import S4Config

        self.bench = bench
        self.name = name
        self.dir = os.path.join(bench.run_dir, name)
        os.makedirs(self.dir, exist_ok=True)
        self.out = os.path.join(self.dir, "out")
        self.sock = _socket_path(os.path.join(self.dir, "s.sock"))
        self.cfg = S4Config(
            input_path=self.sock,
            output_path=self.out,
            checkpoint_path=os.path.join(self.dir, "ckpt"),
            record_type="json" if json_records else "line",
            flush_interval=f"{flush_s} seconds",
            json_schema=JSON_SCHEMA if json_records else None,
            source_format="unixline",
            socket_mode="listen",
            event_time_col="ts" if json_records else None,
        )
        self.query = None

    def start(self, spark) -> float:
        """Start the query; returns seconds until its first (empty) batch
        has committed."""
        from s4_spark.pipeline.s4 import start

        t = time.time()
        self.query = start(spark, self.cfg)
        first = os.path.join(self.out, "_spark_metadata", "0")
        _wait(lambda: os.path.exists(first) and os.path.exists(self.sock),
              120, f"{self.name} first batch")
        return time.time() - t

    def feed(self, tag: str, args: list[str], timeout_s: float) -> dict:
        """Run the generator to completion; returns its report."""
        out = os.path.join(self.dir, f"gen-{tag}.json")
        cmd = [sys.executable, GEN, "--socket", self.sock, "--seed",
               str(self.bench.seed), "--out", out, *args]
        proc = subprocess.Popen(cmd, stdout=subprocess.DEVNULL)
        self.bench.sampler.exclude.add(proc.pid)
        try:
            rc = proc.wait(timeout=timeout_s)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if rc != 0:
            raise RuntimeError(f"{self.name} generator exited with {rc}")
        with open(out, encoding="utf-8") as f:
            return json.load(f)

    def wait_rows(self, rows: int, timeout_s: float = 60) -> None:
        """Wait until ``rows`` records have been planned into committed
        batches."""
        _wait(lambda: sum(p["numInputRows"] for p in self.query.recentProgress) >= rows,
              timeout_s, f"{self.name} rows")

    def spool_bytes(self) -> int:
        return probes.dir_bytes(self.sock + ".spool")


def check_paced(phase: Phase, warm: dict, timed: dict) -> dict:
    """Exactly-once check of the warm-up and timed records, and the due
    time to commit latency of each timed record."""
    seed = phase.bench.seed
    lo, total = warm["first_seq"], timed["sent"]
    t0 = timed["t0"]
    valid = [s for s in range(lo, total) if not is_malformed(seed, s)]
    seen: Counter = Counter()
    latencies, wrong_part, bad_landed = [], 0, 0
    for _, committed, part, line in measure.sink_records(phase.out):
        try:
            rec = json.loads(line)
            seq = int(rec["seq"])
            ts = datetime.fromisoformat(rec["ts"].replace("Z", "+00:00"))
        except (ValueError, KeyError, TypeError):
            bad_landed += 1
            continue
        if not lo <= seq < total or is_malformed(seed, seq):
            bad_landed += 1
            continue
        seen[seq] += 1
        if (part.get("year"), part.get("month"), part.get("day")) != (
            str(ts.year), str(ts.month), str(ts.day)
        ):
            wrong_part += 1
        if seq >= 0:
            latencies.append(committed - (t0 + seq / PACED_RATE))
    missing = sum(1 for s in valid if s not in seen)
    dups = sum(c - 1 for c in seen.values() if c > 1)
    return {
        "sent": warm["sent"] + total,
        "malformed_sent": warm["malformed"] + timed["malformed"],
        "landed": sum(seen.values()),
        "expected": len(valid),
        "missing": missing,
        "duplicated": dups,
        "wrong_partition": wrong_part,
        "malformed_landed": bad_landed,
        "failed": missing + dups + wrong_part + bad_landed,
        "latencies": latencies,
    }


def check_burst(phase: Phase, warm: dict, g: dict) -> dict:
    """Exactly-once check of the warm-up and timed records; throughput of
    the timed ones (sequence numbers from 0)."""
    lo, total = warm["first_seq"], g["sent"]
    seen: Counter = Counter()
    wrong_part, bad_landed, last_commit = 0, 0, 0.0
    for _, committed, part, line in measure.sink_records(phase.out):
        try:
            seq, _ = parse_line_record(line)
        except ValueError:
            bad_landed += 1
            continue
        if not lo <= seq < total:
            bad_landed += 1
            continue
        seen[seq] += 1
        if seq >= 0:
            last_commit = max(last_commit, committed)
        days = {_utc_date(g["t_first_send"]), _utc_date(committed)}
        if (part.get("year"), part.get("month"), part.get("day")) not in days:
            wrong_part += 1
    missing = total - lo - len(seen)
    dups = sum(c - 1 for c in seen.values() if c > 1)
    return {
        "sent": warm["sent"] + total,
        "landed": sum(seen.values()),
        "missing": missing,
        "duplicated": dups,
        "wrong_partition": wrong_part,
        "malformed_landed": bad_landed,
        "failed": missing + dups + wrong_part + bad_landed,
        "drain_s": last_commit - g["t_first_send"],
        "rps": total / (last_commit - g["t_first_send"]),
    }


def _backlog_max(events: list[dict], send_log: list, before: int = 0) -> int:
    """Largest number of records handed to the socket but not yet planned,
    taken as each batch ends (records sent by then minus the batch's end
    offset); ``before`` records were sent ahead of the send log."""
    worst = 0
    for e in events:
        if not e["end_offset"]:
            continue
        planned = json.loads(e["end_offset"])["index"]
        end = e["trigger_start"] + e["duration_ms"].get("triggerExecution", 0) / 1000
        sent = before + max((n for t, n in send_log if t <= end), default=0)
        worst = max(worst, sent - planned)
    return worst


def _batch_log(query) -> list[tuple[int, int, int]]:
    """(batch id, input rows, trigger ms) of each batch the query ran."""
    return [(p["batchId"], p["numInputRows"], p["durationMs"]["triggerExecution"])
            for p in query.recentProgress]


def _sink_files(out: str) -> tuple[int, int]:
    files = [p for _, _, ps in measure.sink_batches(out) for p in ps]
    return len(files), sum(os.path.getsize(p) for p in files)


def run_burst(bench, spark, name: str) -> tuple[Phase, dict, dict, float]:
    phase = Phase(bench, name, json_records=False, flush_s=BURST_FLUSH_S)
    ready_s = phase.start(spark)
    warm = phase.feed("warmup", [
        "--mode", "burst", "--count", str(BURST_PER_SECOND),
        "--first-seq", str(-BURST_PER_SECOND)], timeout_s=60)
    phase.wait_rows(warm["sent"])
    count = BURST_PER_SECOND * bench.seconds
    gen = phase.feed("burst", ["--mode", "burst", "--count", str(count),
                               "--start-at", str(_next_slot(BURST_FLUSH_S))],
                     timeout_s=120)
    phase.wait_rows(warm["sent"] + count)
    phase.query.stop()
    check = check_burst(phase, warm, gen)
    check["batches"] = _batch_log(phase.query)
    return phase, gen, check, ready_s


def prepare(bench) -> None:
    """Nothing to generate ahead of the session: records are made by the
    generator process while the pipeline runs."""


def run(bench, spark) -> dict:
    layers: dict = {}
    paced = Phase(bench, "paced", json_records=True, flush_s=PACED_FLUSH_S)
    if bench.trace:
        bench.sampler.probes["paced_spool_bytes"] = paced.spool_bytes
    first_s = paced.start(spark)
    warm = paced.feed("warmup", [
        "--mode", "paced", "--seconds", str(PACED_WARMUP_S),
        "--first-seq", str(-PACED_RATE * PACED_WARMUP_S)], timeout_s=60)
    paced.wait_rows(warm["sent"])
    bench.ready()
    mark0 = bench.status.mark() if bench.trace else None
    timed = paced.feed("timed", [
        "--mode", "paced", "--seconds", str(bench.seconds),
        "--start-at", str(_next_slot(PACED_FLUSH_S))],
        timeout_s=bench.seconds + 60)
    paced.wait_rows(warm["sent"] + timed["sent"])
    paced.query.stop()
    bench.lap("paced")
    mark1 = bench.status.mark() if bench.trace else None
    burst, bgen, bcheck, burst_ready_s = run_burst(bench, spark, "burst")
    mark2 = bench.status.mark() if bench.trace else None
    bench.lap("burst")

    pcheck = check_paced(paced, warm, timed)
    bench.lap("checked")
    lat = pcheck.pop("latencies")
    metrics = {
        "throughput_per_s": bcheck["rps"],
        "latency_p50_s": measure.percentile(lat, 50),
        "latency_p90_s": measure.percentile(lat, 90),
    }
    tail = measure.tail_percentile(lat)
    layers["paced"] = {
        **pcheck,
        "rate": PACED_RATE,
        "latency_samples": len(lat),
        "latency_tail": {"q": tail[0], "s": tail[1]} if tail else None,
        "batches": _batch_log(paced.query),
    }
    layers["burst"] = {**bcheck, "ready_s": burst_ready_s}
    layers["setup.first_batch_s"] = first_s
    if bench.trace:
        # the batches triggered once the timed records started
        pev = [e for e in bench.progress.of(paced.query) if e["trigger_start"] > timed["t0"]]
        bev = [e for e in bench.progress.of(burst.query)
               if e["trigger_start"] > bgen["t_first_send"]]
        lags = timed["lags"]
        files, nbytes = _sink_files(burst.out)
        bstage = bench.status.window(mark1, mark2)
        generic_stream = probes.batch_summary(pev)
        generic_exec = bench.status.window(mark0, mark2)
        layers.update({
            "gen.lag_p99_s": measure.percentile(lags, 99),
            "gen.lag_max_s": lags[-1],
            "gen.sent_records": pcheck["sent"] + bcheck["sent"],
            "batch": generic_stream,
            "burst.batch": probes.batch_summary(bev),
            "source.backlog_records_max": max(
                _backlog_max(pev, timed["send_log"], warm["sent"]),
                _backlog_max(bev, [(bgen["t_first_send"], 0),
                                   (bgen["t_last_send"], bgen["sent"])],
                             bcheck["sent"] - bgen["sent"]),
            ),
            "source.spool_bytes_max": bench.sampler.peak.get("paced_spool_bytes", 0),
            "validate.dropped_records": sum(
                e["rows"] for e in bench.progress.of(paced.query)) - pcheck["landed"],
            "validate.malformed_injected": pcheck["malformed_sent"],
            "stage.scan_write_task_ms": bstage["task_ms"],
            "stage.scan_write_tasks": bstage["tasks"],
            "sink.files": files,
            "sink.bytes": nbytes,
            "exec.paced": bench.status.window(mark0, mark1),
            "exec.burst": bstage,
        })
    else:
        generic_stream = generic_exec = None
    return {
        "attempted": pcheck["sent"] + bcheck["sent"],
        "failed": pcheck["failed"] + bcheck["failed"],
        "metrics": metrics,
        "first_work_s": first_s,
        "stream": generic_stream,
        "exec": generic_exec,
        "layers": layers,
    }


def single_core_baseline(bench) -> dict:
    """One burst phase on a fresh ``local[1]`` context in the same JVM."""
    from s4_spark.session import get_spark

    bench.spark.stop()
    bench.spark = get_spark(app_name="perfbench", cpus=1, extra_conf=bench.conf)
    phase, _, check, _ = run_burst(bench, bench.spark, "burst_1core")
    shutil.rmtree(phase.dir, ignore_errors=True)
    return {"burst_rps_1core": check["rps"], "burst_1core_failed": check["failed"]}
