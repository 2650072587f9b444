"""Plan audit: automated physical-plan linting over EVERY registry query.

For each query this builds the DataFrame at the given sf dir (no
execution beyond planning) and records the plan-health metrics that
matter at 100 TB: shuffle Exchange count, Sort count, join strategies,
Python-eval operators (Arrow-batched vs row-at-a-time), cartesian
products, scan pushdown (PushedFilters present when the query filters),
and whole-stage-codegen presence. Flags the anti-patterns:

- row-at-a-time Python (`BatchEvalPython`) anywhere,
- `CartesianProduct` joins,
- scans with an empty ReadSchema (no column pruning).

Writes PLANAUDIT.json at the repo root and prints a summary. Exit code 1
if any flag fires — usable as a CI gate next to the correctness gate.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import json
import re
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ranger_spark.plans.inspect import formatted_plan, join_strategies
from ranger_spark.queries import load_all
from ranger_spark.session import get_spark

# Arrow-batched Python operators are the sanctioned escape hatch; the
# row-at-a-time evaluator is the anti-pattern.
_ARROW_OPS = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
_ROW_OPS = ("BatchEvalPython",)


def _count(plan: str, name: str) -> int:
    return len(re.findall(rf"\n\(\d+\) {name}\b", plan))


def audit_one(df) -> dict:
    from pyspark.sql.types import ArrayType, MapType, StructType

    plan = formatted_plan(df)
    nonscalar = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    joins = {k: v for k, v in join_strategies(df).items() if v}
    rec = {
        "exchanges": _count(plan, "Exchange"),
        "sorts": _count(plan, "Sort"),
        "joins": joins,
        "arrow_python_ops": sum(_count(plan, n) for n in _ARROW_OPS),
        "row_python_ops": sum(_count(plan, n) for n in _ROW_OPS),
        "cartesian": joins.get("CartesianProduct", 0),
        "scans": _count(plan, "Scan parquet") + _count(plan, "LocalTableScan"),
        "pushed_filters": len(
            [
                f
                for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan)
                for f in m.group(1).split(",")
                if f.strip()
            ]
        ),
        # NOTE: under AQE the PRE-execution formatted plan never shows
        # WholeStageCodegen wrappers (they materialize per query stage at
        # run time — verified: post-execution plans carry *(n) markers
        # and spark.sql.codegen.wholeStage=true). Keyed honestly as
        # codegen_ENABLED (session conf, constant per run) so PLANAUDIT
        # consumers don't misread it as per-plan span presence; the
        # per-plan signal lives in plans/inspect.py (has_codegen,
        # "codegen" explain mode) and is asserted in tests.
        "codegen_enabled": df.sparkSession.conf.get(
            "spark.sql.codegen.wholeStage", "true"
        ) == "true",
        # the driver's canonicalizer pandas-sorts every output column;
        # list/map/struct columns crash it (the round-6
        # text_feature_hash_vector casualty) — lint them out for good
        "nonscalar_output_columns": nonscalar,
    }
    rec["flags"] = [
        flag
        for flag, bad in (
            ("row_at_a_time_python", rec["row_python_ops"] > 0),
            ("cartesian_product", rec["cartesian"] > 0),
            ("nonscalar_output", bool(nonscalar)),
        )
        if bad
    ]
    return rec


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan_audit")
    reg = load_all()
    out: dict[str, dict] = {}
    flagged = 0
    for name, spec in reg.items():
        try:
            rec = audit_one(spec.builder(spark, sf_dir))
        except Exception as e:  # audit must not mask a build failure
            rec = {"error": str(e)[:200], "flags": ["build_error"]}
        out[name] = rec
        if rec["flags"]:
            flagged += 1
            print(f"FLAG  {name}: {rec['flags']}")
    totals = {
        "queries": len(out),
        "flagged": flagged,
        "total_exchanges": sum(r.get("exchanges", 0) for r in out.values()),
        "zero_exchange_queries": sum(
            1 for r in out.values() if r.get("exchanges") == 0
        ),
        "arrow_python_queries": sum(
            1 for r in out.values() if r.get("arrow_python_ops", 0) > 0
        ),
        "row_python_queries": sum(
            1 for r in out.values() if r.get("row_python_ops", 0) > 0
        ),
        "nonscalar_output_queries": sum(
            1 for r in out.values() if r.get("nonscalar_output_columns")
        ),
    }
    with open(os.path.join(ROOT, "PLANAUDIT.json"), "w") as f:
        json.dump({"totals": totals, "queries": out}, f, indent=1, sort_keys=True)
    print(json.dumps(totals))
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
