"""Event-log stage profile of one registry query — the SCALE.md q5
methodology (round 10) as a reusable tool, for the VERDICT r11 #2
agg_minmax_countd / dedup_exact treatment.

Usage:
    python tools/profile_stages.py <query> [data_dir] [--runs N]

Starts a FRESH SparkSession with spark.eventLog enabled (so profiles
aren't polluted by a shared session's earlier jobs), warms once, times
N runs (default 3, reports min), then aggregates TaskEnd metrics per
stage from the event-log JSON: wall, task count, Σ executor run time,
max task (skew check), CPU time, input / shuffle-read / shuffle-write
bytes.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def profile(
    query: str, data_dir: str, runs: int = 3, bucketed_db: str | None = None
) -> None:
    log_dir = tempfile.mkdtemp(prefix="ranger_evlog_")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from pyspark.sql import SparkSession

    from ranger_spark.queries import load_all
    from ranger_spark.session import get_spark

    # REAL session parity (r15): the previous hand-rolled builder
    # omitted session.py's bloom-filter thresholds / SHJ preference /
    # broadcast threshold, so profiles ran a DIFFERENT plan than the
    # product path (q5@64x: 38.4M rows crossed the fact exchange with
    # no bloom pruning vs 11.7M in the real session). Route through
    # get_spark and add only the event log on top.
    _ = SparkSession  # retained for the module's import surface
    spark = get_spark(
        "ranger_stage_profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.sql.legacy.parquet.nanosAsLong": "true",
            # 64x profiles with the event log need more than the
            # session default of 8g
            "spark.driver.memory": "16g",
        },
    )

    reg = load_all()
    spec = reg[query]
    if bucketed_db:
        # profile the DEPLOYMENT layout (r14, VERDICT r13 #3): register
        # the bucketed copy of the facts and route the query through it
        # exactly as bench.py's bucketed sections do
        from ranger_spark.sources.bucketing import ensure_bucketed_layout

        ensure_bucketed_layout(
            spark, data_dir, bucketed_db,
            buckets=int(os.environ.get("SPARK_GRAFT_BUCKETS", "32")),
        )
        spark.conf.set("spark.ranger.bucketed.db", bucketed_db)

    def run() -> float:
        t0 = time.time()
        spec.builder(spark, data_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.time() - t0

    run()  # warm (scan caches, codegen, broadcast)
    marker_job_start = None
    walls = []
    for i in range(runs):
        if i == runs - 1:
            # profile the LAST run only: note the wall-clock boundary
            marker_job_start = time.time()
        walls.append(run())
    spark.stop()

    stages: dict[int, dict] = {}
    stage_meta: dict[int, dict] = {}
    log_files = []
    for root, _dirs, files in os.walk(log_dir):
        log_files.extend(
            os.path.join(root, f) for f in files if "appstatus" not in f
        )
    for fn in log_files:
        for line in open(fn, errors="replace"):
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            k = ev.get("Event")
            if k == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                sub = si.get("Submission Time")
                comp = si.get("Completion Time")
                if sub and comp and sub / 1000.0 >= (marker_job_start or 0):
                    stage_meta[sid] = {
                        "wall_ms": comp - sub,
                        "name": si.get("Stage Name", "")[:60],
                        "tasks": si.get("Number of Tasks", 0),
                    }
            elif k == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                info = ev.get("Task Info", {})
                if info.get("Launch Time", 0) / 1000.0 < (
                    marker_job_start or 0
                ):
                    continue
                m = ev.get("Task Metrics") or {}
                s = stages.setdefault(
                    sid,
                    {
                        "run_ms": 0,
                        "max_ms": 0,
                        "cpu_ms": 0,
                        "in_mb": 0.0,
                        "sh_r_mb": 0.0,
                        "sh_w_mb": 0.0,
                        "n": 0,
                    },
                )
                rt = m.get("Executor Run Time", 0)
                s["run_ms"] += rt
                s["max_ms"] = max(s["max_ms"], rt)
                s["cpu_ms"] += m.get("Executor CPU Time", 0) // 1_000_000
                s["in_mb"] += (
                    m.get("Input Metrics", {}).get("Bytes Read", 0) / 1e6
                )
                sr = m.get("Shuffle Read Metrics", {})
                s["sh_r_mb"] += (
                    sr.get("Local Bytes Read", 0)
                    + sr.get("Remote Bytes Read", 0)
                ) / 1e6
                s["sh_w_mb"] += (
                    m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    / 1e6
                )
                s["n"] += 1

    print(f"\n{query} @ {data_dir}")
    print(f"walls: {[round(w, 3) for w in walls]}  (profiled: last run)")
    hdr = (
        f"{'stage':>5} {'wall':>6} {'tasks':>5} {'Σrun':>7} {'max':>6} "
        f"{'cpu':>7} {'in MB':>8} {'shR MB':>7} {'shW MB':>7}  name"
    )
    print(hdr)
    for sid in sorted(stages):
        s = stages[sid]
        meta = stage_meta.get(sid, {})
        print(
            f"{sid:>5} {meta.get('wall_ms', 0):>6} {s['n']:>5} "
            f"{s['run_ms']:>7} {s['max_ms']:>6} {s['cpu_ms']:>7} "
            f"{s['in_mb']:>8.1f} {s['sh_r_mb']:>7.1f} {s['sh_w_mb']:>7.1f}"
            f"  {meta.get('name', '')}"
        )
    total_run = sum(s["run_ms"] for s in stages.values())
    print(f"total executor run ms: {total_run}")


if __name__ == "__main__":
    argv = sys.argv[1:]
    args: list[str] = []
    runs = 3
    bucketed_db = None
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--runs"):
            if "=" in a:
                runs = int(a.split("=", 1)[1])
            else:
                if i + 1 >= len(argv):
                    sys.exit("--runs requires a value")
                runs = int(argv[i + 1])
                i += 1  # consume the value — it is NOT a positional
        elif a.startswith("--bucketed-db"):
            if "=" in a:
                bucketed_db = a.split("=", 1)[1]
            else:
                if i + 1 >= len(argv):
                    sys.exit("--bucketed-db requires a value")
                bucketed_db = argv[i + 1]
                i += 1
        else:
            args.append(a)
        i += 1
    q = args[0]
    d = args[1] if len(args) > 1 else os.path.join(ROOT, ".benchcache", "sf0.1_x64")
    profile(q, d, runs, bucketed_db)
