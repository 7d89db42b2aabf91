"""Secure-noise distribution tests, explain-report assertions, and
already-enforced-bounds path tests.

Statistical pattern mirrors the reference's e2e strategy
(reference: tests/dp_engine_test.py:1161-1227): run the real pipeline and
check distributional properties rather than exact values.
"""

import math
import statistics

import pytest
from pyspark.sql import functions as F

import pipelinedp_spark as pds

pytestmark = pytest.mark.dp


def test_secure_laplace_noise_distribution(spark):
    """1000 public partitions, one user each, count=1, eps=1, l0=linf=1:
    noise is Laplace(b=1) -> std ~ sqrt(2), mean ~ 1."""
    n = 1000
    rows = [(u, f"p{u}") for u in range(n)]
    df = spark.createDataFrame(rows, "uid int, pk string")
    q = (pds.QueryBuilder(df, "uid")
         .groupby("pk", max_groups_contributed=1,
                  max_contributions_per_group=1,
                  public_keys=[f"p{u}" for u in range(n)])
         .count()
         .build_query())
    vals = [r["count"] for r in q.run_query(pds.Budget(1.0)).collect()]
    mean = statistics.mean(vals)
    std = statistics.pstdev(vals)
    assert abs(mean - 1.0) < 0.25          # E[noise] = 0
    assert abs(std - math.sqrt(2)) < 0.25  # std of Lap(1)
    # Fresh entropy: noise must differ between runs.
    vals2 = [r["count"] for r in q.run_query(pds.Budget(1.0)).collect()]
    assert vals != vals2


def test_secure_gaussian_noise_distribution(spark):
    n = 800
    rows = [(u, f"p{u}") for u in range(n)]
    df = spark.createDataFrame(rows, "uid int, pk string")
    q = (pds.QueryBuilder(df, "uid")
         .groupby("pk", max_groups_contributed=1,
                  max_contributions_per_group=1,
                  public_keys=[f"p{u}" for u in range(n)])
         .count()
         .build_query())
    vals = [r["count"] for r in
            q.run_query(pds.Budget(1.0, 1e-6),
                        noise_kind=pds.NoiseKind.GAUSSIAN).collect()]
    from pipelinedp_spark import dp_computations as dp
    sigma = dp.gaussian_sigma(1.0, 1e-6, 1.0)
    std = statistics.pstdev(vals)
    assert abs(std - sigma) / sigma < 0.15
    assert abs(statistics.mean(vals) - 1.0) < sigma / 4


def test_high_eps_e2e_near_exact(spark):
    """Reference pattern: huge eps -> outputs near-exact
    (reference: tests/dp_engine_test.py:1161-1178)."""
    rows = [(u, "g", 2.0) for u in range(100)]
    df = spark.createDataFrame(rows, "uid int, pk string, v double")
    q = (pds.QueryBuilder(df, "uid")
         .groupby("pk", max_groups_contributed=1,
                  max_contributions_per_group=1, public_keys=["g"])
         .count()
         .sum("v", min_value=0.0, max_value=5.0)
         .build_query())
    row = q.run_query(pds.Budget(1e6, 1e-6)).collect()[0]
    assert row["count"] == pytest.approx(100.0, abs=0.5)
    assert row["sum_v"] == pytest.approx(200.0, abs=0.5)


def test_explain_report_stages(spark):
    """Computation-graph assertions on the explain report
    (reference pattern: tests/dp_engine_test.py:468-568)."""
    rows = [(u, "g", 1.0) for u in range(10)]
    df = spark.createDataFrame(rows, "uid int, pk string, v double")
    q = (pds.QueryBuilder(df, "uid")
         .groupby("pk", max_groups_contributed=2,
                  max_contributions_per_group=3, public_keys=["g"])
         .sum("v", min_value=0.0, max_value=1.0)
         .build_query())
    report = q.explain(pds.Budget(1.0, 1e-6))
    assert "Dropped non-public partitions" in report
    assert "Linf <= 3" in report and "L0 <= 2" in report
    assert "Added empty public partitions" in report
    assert "SUM: laplace noise" in report


def test_explain_report_private_selection(spark):
    rows = [(u, "g") for u in range(10)]
    df = spark.createDataFrame(rows, "uid int, pk string")
    q = (pds.QueryBuilder(df, "uid")
         .groupby("pk", max_groups_contributed=1,
                  max_contributions_per_group=1)
         .count()
         .build_query())
    report = q.explain(pds.Budget(1.0, 1e-6))
    assert "Private partition selection" in report
    assert "Partition selection: truncated geometric" in report


def test_contribution_bounds_already_enforced(spark):
    """No sampling stage when the caller guarantees bounds
    (reference: contribution_bounders.py:234-247)."""
    rows = [(u, "g", 1.0) for u in range(20)]
    df = spark.createDataFrame(rows, "uid int, pk string, v double")
    acct = pds.NaiveBudgetAccountant(1.0, 1e-6)
    engine = pds.DPEngine(acct, noise_mode="zero")
    params = pds.AggregateParams(
        metrics=[pds.Metrics.COUNT],
        contribution_bounds_already_enforced=True,
        max_partitions_contributed=1,
        max_contributions_per_partition=1)
    res = engine.aggregate(df, params,
                           pds.DataFrameExtractors("uid", "pk", None),
                           public_partitions=["g"])
    acct.compute_budgets()
    assert res.dataframe().collect()[0]["count"] == 20.0
    assert any("none (already enforced)" in r
               for r in engine.explain_computation_reports())
