#!/usr/bin/env python3
"""Run the benchmark on several seeds and report, per end-to-end
metric, the median and the inter-quartile distance as a share of the
median, next to the bound ``BENCHMARK.json`` fixes for it.

    python3 perfbench/spread.py --workload served --seeds 1-10 [--seconds S]

Run from the repository root. Each run's JSON line is appended to
``.perfbench/spread-<workload>.jsonl``, its whole output kept beside.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# import the package from the repository root, never its modules by
# bare name (``trace`` would shadow the stdlib module)
sys.path[0] = ROOT

from perfbench.stats import spread  # noqa: E402


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    secs = args.seconds or bench["run_seconds"]
    log = os.path.join(ROOT, ".perfbench", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values: dict[str, list[float]] = {}
    for s in seeds(args.seeds):
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(s), "--seconds", str(secs),
             "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        try:
            res = json.loads(last)
        except json.JSONDecodeError:
            print(f"seed {s}: exit {p.returncode}, no result", flush=True)
            continue
        with open(log[:-len(".jsonl")] + f"-{s}.txt", "w") as f:
            f.write(p.stdout)
        box = {}
        for ln in p.stdout.splitlines():
            if ln.startswith("box: "):
                box = json.loads(ln[5:])
        wall = box.get("run_wall_s")
        with open(log, "a") as f:
            f.write(json.dumps({"seed": s, "box": box, **res}) + "\n")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {s}: exit {p.returncode} wall={wall}s correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        sp = spread(vs)
        b = bounds.get(k)
        flag = "" if b is None else ("  ok" if sp < b / 3 else "  WIDE")
        print(f"{k:<28} median={statistics.median(vs):.5g} spread={sp:.4f} "
              f"bound={b}{flag}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
