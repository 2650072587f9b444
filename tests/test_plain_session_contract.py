"""Driver-conditions contract: the certification-front head must run on
a PLAIN SparkSession (no ranger_spark.session confs — the driver builds
its own session). A query that silently depends on a get_spark() conf
(UTC session timezone, AQE, arrow, nanosAsLong at the session level)
passes the local gate but dies at certification — the r6 casualty
class. Runs in a subprocess so the module-scoped test session's confs
cannot leak in."""

import json
import os
import subprocess
import sys

_SCRIPT = r"""
import json, sys
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "8")
    .getOrCreate()
)
import __spark_entry__ as entry
qs = entry.queries()
head = list(qs)[:13]
out = {}
for name in head:
    try:
        out[name] = qs[name](spark, "/root/testdata/sf0.001").count()
    except Exception as e:
        out[name] = f"ERROR: {str(e)[:200]}"
print("PLAIN_RESULT " + json.dumps(out))
"""


def test_front_head_runs_on_plain_session():
    r = subprocess.run(
        [sys.executable, "-c", _SCRIPT], capture_output=True, text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=600,
    )
    line = next(
        (ln for ln in r.stdout.splitlines() if ln.startswith("PLAIN_RESULT ")),
        None,
    )
    assert line, f"no result line; stderr tail: {r.stderr[-800:]}"
    out = json.loads(line[len("PLAIN_RESULT "):])
    errors = {k: v for k, v in out.items() if isinstance(v, str)}
    assert not errors, f"queries failed on a plain session: {errors}"
    assert all(isinstance(v, int) for v in out.values())
