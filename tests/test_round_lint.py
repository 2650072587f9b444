"""The rounding-protocol lint (tools/round_lint.py) must stay green on
the repo AND must actually detect the r8/r9 failure shapes."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
from round_lint import lint_source  # noqa: E402


def test_repo_is_clean():
    r = subprocess.run(
        [sys.executable, "tools/round_lint.py"], capture_output=True,
        text=True, cwd=ROOT,
    )
    assert r.returncode == 0, r.stdout + r.stderr


def test_detects_product_sum_rounded():
    # the parts_abc_classification r8 failure shape
    src = '''
    rev = df.agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("r")
    )
    '''
    assert any("product" in f for f in lint_source(src, "x.py"))


def test_detects_coarser_round_of_snapped_sum():
    # the users_kaplan_meier / events_sequence_chi2 r8 failure shape
    src = '''
    out = df.select(
        F.round(
            F.sum(F.round(F.log(1.0 - F.col("a") / F.col("b")), 8)).over(w),
            6,
        ).alias("s")
    )
    '''
    assert any("snap the sum" in f for f in lint_source(src, "x.py"))


def test_accepts_grid_snap_form():
    # money_round2 expansion: round in DECIMAL after snapping — clean
    src = '''
    ok = df.agg(
        F.round(
            F.round(F.sum(F.col("p") * (1 - F.col("d"))), 4)
            .cast("decimal(38,4)"),
            2,
        ).cast("double").alias("v")
    )
    '''
    assert lint_source(src, "x.py") == []


def test_accepts_single_column_snap():
    # grid == scale: the round IS the snap (o_totalprice is 2dp money)
    src = 'm = df.agg(F.round(F.sum("o_totalprice"), 2).alias("t"))'
    assert lint_source(src, "x.py") == []


def test_flags_overprecise_intercept_both_sides():
    # r12 rule: intercepts are y-scale (money here) — 6dp demands 10-15
    # significant digits of cross-engine float agreement (the ar1 flap)
    from tools.round_lint import lint_oracle, lint_source

    src = 'f = b.agg(F.round(F.regr_intercept("y", "x"), 6).alias("a"))'
    assert any("regr_intercept" in f for f in lint_source(src, "x.py"))
    sql = "SELECT round(regr_intercept(y, x), 6) AS a FROM t"
    assert any("regr_intercept" in f for f in lint_oracle(sql, "q"))
    # cents grid is the convention — clean
    assert lint_source(src.replace(", 6)", ", 2)"), "x.py") == []
    assert lint_oracle(sql.replace(", 6)", ", 2)"), "q") == []


def test_flags_fine_rounding_of_revenue_scale_agg_both_sides():
    # the r13 registry-wide rule (VERDICT r12 #2): sum/avg over a
    # money-scale column rounded finer than cents is magnitude-blind —
    # 9-15 significant digits of cross-engine float agreement.
    from round_lint import lint_oracle

    src = 'F.round(F.avg("l_extendedprice"), 4).alias("avg_price")'
    assert any("revenue-scale" in f for f in lint_source(src, "x.py"))
    sql = "SELECT round(avg(l_extendedprice), 4) AS p FROM lineitem"
    assert any("revenue-scale" in f for f in lint_oracle(sql, "t"))


def test_accepts_cents_grid_and_coarse_revenue_rounding():
    from round_lint import lint_oracle

    # exact integer-cents summand: order-independent, any output scale ok
    src = (
        'F.round(F.sum(F.round(F.col("l_extendedprice") * 100)'
        '.cast("bigint")) / F.count(F.lit(1)) / 100.0, 4)'
    )
    assert lint_source(src, "x.py") == []
    sql = (
        "SELECT round(sum(CAST(round(l_extendedprice*100) AS BIGINT))"
        " / count(*) / 100.0, 4) AS p FROM lineitem"
    )
    assert lint_oracle(sql, "t") == []
    # ≤2dp on the raw agg is the cents grid itself
    assert lint_source('F.round(F.avg("o_totalprice"), 2)', "x.py") == []
    # dimensionless O(1) columns keep their 6dp
    assert lint_source('F.round(F.avg("l_discount"), 6)', "x.py") == []


def test_flags_manual_average_and_exemption_actually_fires():
    """r13 review finding: the revenue-scale rule must catch the
    rounded expression by balanced parse — a manual sum/count average
    is the same flap shape as round(avg(x), k) — and the exact-grid
    exemption must be what passes the cents form (removing only the
    cast must flip the verdict)."""
    from round_lint import lint_oracle

    manual = 'F.round(F.sum(F.col("l_extendedprice")) / F.count(F.lit(1)) / 100.0, 4)'
    assert any("revenue-scale" in f for f in lint_source(manual, "x.py"))
    manual_sql = "SELECT round(sum(l_extendedprice) / count(*) / 100.0, 4) AS p FROM lineitem"
    assert any("revenue-scale" in f for f in lint_oracle(manual_sql, "t"))
    # identical shape + cents cast: clean — the exemption, not a parse
    # miss, is what distinguishes them
    cents = (
        'F.round(F.sum(F.round(F.col("l_extendedprice") * 100)'
        '.cast("bigint")) / F.count(F.lit(1)) / 100.0, 4)'
    )
    assert lint_source(cents, "x.py") == []
    cents_sql = (
        "SELECT round(sum(CAST(round(l_extendedprice*100) AS BIGINT))"
        " / count(*) / 100.0, 4) AS p FROM lineitem"
    )
    assert lint_oracle(cents_sql, "t") == []
    # ratio of money sums (the q14 shape) flags until both sums are
    # exact-grid
    ratio_sql = (
        "SELECT round(100.0 * sum(a_price) / sum(l_extendedprice), 4)"
        " AS share FROM lineitem"
    )
    assert any("revenue-scale" in f for f in lint_oracle(ratio_sql, "t"))
    # money_round2 decimal-snap form stays exempt
    snap_sql = (
        "SELECT CAST(round(CAST(round(sum(l_extendedprice * (1 - l_discount)), 4)"
        " AS DECIMAL(38,4)), 2) AS DOUBLE) AS r FROM lineitem"
    )
    assert lint_oracle(snap_sql, "t") == []


def test_jvm_classes_only_through_the_cached_handles():
    """``spark._jvm.org.apache...`` costs one Py4J round trip per dotted
    level, each package level a failed class lookup across the classpath;
    ``ranger_spark.jvm.jclass`` resolves a class once per gateway. No
    other module of the package walks a JVM package path
    (``plans/inspect.py`` reaches a class the JVM view imports, by its
    simple name, for debugging output)."""
    import re

    walk = re.compile(r"\b_?jvm\s*\.\s*[a-z_]\w*\s*\.")
    pkg = os.path.join(ROOT, "ranger_spark")
    exempt = {
        os.path.join(pkg, "jvm.py"),
        os.path.join(pkg, "plans", "inspect.py"),
    }
    found = []
    for dirpath, _, names in os.walk(pkg):
        for n in names:
            path = os.path.join(dirpath, n)
            if not n.endswith(".py") or path in exempt:
                continue
            with open(path) as f:
                for i, line in enumerate(f, 1):
                    if walk.search(line):
                        found.append(f"{os.path.relpath(path, ROOT)}:{i}")
    assert not found, found
    # the pattern does catch the walks it replaced
    assert walk.search("path = jvm.org.apache.hadoop.fs.Path(p)")
    assert walk.search("spark._jvm.java.lang.Class.forName(n)")
    assert not walk.search('jclass(spark, "org.apache.hadoop.fs.Path")')
