"""Median and quartile spread of each end-to-end metric over the last ten
untraced runs per workload recorded in ``perfbench/results/runs.jsonl`` of
the current code at ``run_seconds``, with the bound ``BENCHMARK.json``
fixes for it.

    python3 perfbench/spread.py
"""

from __future__ import annotations

import json
import os

import measure

HERE = os.path.dirname(os.path.abspath(__file__))
RUNS = 10


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    root = os.path.dirname(HERE)
    code = measure.code_stamp(root)
    runs: dict[str, list[dict]] = {}
    with open(os.path.join(HERE, "results", "runs.jsonl"), encoding="utf-8") as f:
        for ln in f:
            r = json.loads(ln)
            if not r["trace"] and (r.get("code"), r.get("seconds")) == (
                    code, spec["run_seconds"]):
                runs.setdefault(r["workload"], []).append(r)
    for workload, rs in sorted(runs.items()):
        rs = rs[-RUNS:]
        bad = sum(not r["correct"] for r in rs)
        print(f"{workload}: {len(rs)} runs, {bad} incorrect")
        for m in spec["end_to_end"]:
            vals = [r["e2e"][m["name"]] for r in rs]
            sp = measure.spread(vals) if len(vals) >= 2 else float("nan")
            flag = "" if sp <= m["bound"] / 3 else "  (above a third of the bound)"
            print(f"  {m['name']:18s} median {measure.median(vals):12.4f} {m['unit']:6s}"
                  f" spread {sp:6.3f}  bound {m['bound']}{flag}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
