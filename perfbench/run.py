"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest|query_mix --seed N \\
        --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S

Run from the repository root. The environment is pinned here before Spark
starts: ``SPARK_GRAFT_CPUS`` = nproc, a bounded driver heap, and private
``SPARK_LOCAL_DIRS``/``TMPDIR`` under ``perfbench/.run``, so the run reads
and writes only inside the checkout. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics untraced, the per-layer metrics traced). Every run also
writes a sidecar with all layer numbers, the pinned environment and the
box fingerprint to ``perfbench/results/`` and appends a summary line to
``perfbench/results/runs.jsonl``; a traced run adds the tracing overhead
(traced minus untraced medians over the runs recorded there with the same
code and ``--seconds``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import ingest
import measure
import probes
import query_mix

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, "results")
WORKLOADS = {"ingest": ingest, "query_mix": query_mix}
DRIVER_MEM = "2g"

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    SPEC = json.load(_f)
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}


def pin_env(run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(env)
    return env


class Bench:
    """Per-run state shared with the workload modules."""

    def __init__(self, args, run_dir: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.sampler = probes.Sampler()
        self.conf = {
            # no hsperfdata file: HotSpot writes it under /tmp whatever
            # java.io.tmpdir says
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
                # a fixed heap size, so peak memory does not depend on when
                # the collector chose to grow the heap
                f" -Xms{DRIVER_MEM}",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        }
        self.spark = None
        self.status = None
        self.progress = None
        self.t_begin = 0.0
        self.t_ready = 0.0
        self.t_process = time.time()
        self.timeline: list[tuple[str, float]] = []

    def lap(self, label: str) -> None:
        """Record how far into the run a step ended (sidecar only)."""
        self.timeline.append((label, round(time.time() - self.t_process, 3)))

    def start_session(self) -> float:
        from s4_spark.session import get_spark

        self.t_begin = time.time()
        self.spark = get_spark(
            app_name="perfbench", cpus=int(os.environ["SPARK_GRAFT_CPUS"]),
            extra_conf=self.conf,
        )
        session_s = time.time() - self.t_begin
        if self.trace:
            self.status = probes.StatusStore(self.spark)
            self.progress = probes.ProgressLog(self.spark)
            self.spark.streams.addListener(self.progress)
        return session_s

    def ready(self) -> None:
        """The workload is set up; timing starts now."""
        self.t_ready = time.time()
        self.lap("ready")

    def shutdown(self) -> None:
        """Stop every query, the session and the JVM, and wait for the
        JVM's Python workers to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                # the gateway JVM exits when its stdin closes
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 15
        while (left := [p for p in probes.descendants(os.getpid()) if p != os.getpid()]):
            if time.time() > deadline:
                for pid in left:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = float("inf")
            time.sleep(0.1)


def _metric_line(result: dict, trace_on: bool) -> dict:
    names = [m["name"] for m in SPEC["per_layer" if trace_on else "end_to_end"]]
    values = result["generic"] if trace_on else result["e2e"]
    return {n: {"value": values[n], "unit": UNITS[n]} for n in names}


def _overhead(workload: str, seconds: int, code: str) -> dict:
    """Traced minus untraced median of each end-to-end metric, over the
    runs of this workload, code and run length recorded in runs.jsonl."""
    runs = {0: [], 1: []}
    path = os.path.join(RESULTS, "runs.jsonl")
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            for ln in f:
                r = json.loads(ln)
                if (r["workload"], r.get("seconds"), r.get("code")) == (
                        workload, seconds, code) and r["correct"]:
                    runs[r["trace"]].append(r["e2e"])
    if not runs[0] or not runs[1]:
        return {}
    return {
        m: measure.median([r[m] for r in runs[1]]) - measure.median([r[m] for r in runs[0]])
        for m in runs[0][0]
    }


def run_one(args) -> dict:
    run_dir = os.path.join(HERE, ".run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        return _measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):  # left while another run uses it
            os.rmdir(os.path.dirname(run_dir))


def _measure(args, run_dir: str) -> dict:
    # the environment is pinned before anything imports s4_spark, whose
    # import-time constants and scratch paths read it
    env = pin_env(run_dir)
    sys.path.insert(0, ROOT)
    from bench import box_fingerprint

    workload = WORKLOADS[args.workload]
    bench = Bench(args, run_dir)
    fingerprint = box_fingerprint()
    steal0 = probes.cpu_steal_s()
    try:
        workload.prepare(bench)
        bench.sampler.start()
        bench.lap("prepared")
        session_s = bench.start_session()
        bench.lap("session")
        out = workload.run(bench, bench.spark)
        bench.lap("measured")
        if bench.trace and args.workload == "ingest":
            out["layers"].update(ingest.single_core_baseline(bench))
            bench.lap("single_core_baseline")
    finally:
        bench.sampler.stop()
        bench.shutdown()
        bench.lap("shutdown")
    fingerprint["cpu_steal_s_during_run"] = probes.cpu_steal_s() - steal0
    e2e = {
        "setup_s": bench.t_ready - bench.t_begin,
        "peak_rss_mb": bench.sampler.peak["mem_bytes"] / 2**20,
        **out["metrics"],
    }
    layers = out["layers"]
    layers["setup.session_s"] = session_s
    generic = {
        "setup.session_s": session_s,
        "setup.first_work_s": out["first_work_s"],
    }
    if bench.trace:
        generic.update({f"stream.{k}": v for k, v in out["stream"].items()})
        generic.update({f"exec.{k}": v for k, v in out["exec"].items()})
    result = {
        "workload": args.workload,
        "code": measure.code_stamp(ROOT),
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": int(bench.trace),
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "error_ratio": out["failed"] / out["attempted"],
        "e2e": e2e,
        "generic": generic,
        "layers": layers,
        "timeline": bench.timeline,
        "env": env,
        "box_fingerprint": fingerprint,
        "time": time.time(),
    }
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, "runs.jsonl"), "a", encoding="utf-8") as f:
        f.write(json.dumps({k: result[k] for k in (
            "workload", "code", "seed", "seconds", "trace", "correct", "e2e",
            "time")}) + "\n")
    if bench.trace:
        result["tracing_overhead"] = _overhead(args.workload, args.seconds, result["code"])
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    side = os.path.join(
        RESULTS, f"{args.workload}-seed{args.seed}-trace{int(bench.trace)}-{stamp}.json")
    with open(side, "w", encoding="utf-8") as f:
        json.dump(result, f, indent=1, default=str)
    return result


def run_all(args) -> int:
    """Run every workload in its own process and print each end-to-end
    metric by name with its unit."""
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True)
        line = json.loads(proc.stdout.strip().splitlines()[-1])
        print(f"{w}: correct={line['correct']} failed={line['failed']}/{line['attempted']}")
        for name, m in line["metrics"].items():
            print(f"  {name:20s} {m['value']:.4f} {m['unit']}")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="s4-spark benchmark")
    ap.add_argument("--workload", choices=(*WORKLOADS, "all"), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    result = run_one(args)
    line = {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": _metric_line(result, bool(args.trace)),
    }
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
