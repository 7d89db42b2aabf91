"""Multi-column sum (single bounding pass) tests."""

import pytest

import pipelinedp_spark as pds

pytestmark = pytest.mark.dp


def test_query_builder_multi_sum(spark):
    rows = [(u, "g", 2.0, 10.0) for u in range(20)]
    df = spark.createDataFrame(rows, "uid int, pk string, a double, b double")
    q = (pds.QueryBuilder(df, "uid")
         .groupby("pk", max_groups_contributed=1,
                  max_contributions_per_group=2, public_keys=["g", "empty"])
         .count()
         .sum("a", min_value=0.0, max_value=5.0)
         .sum("b", min_sum_per_partition=0.0, max_sum_per_partition=8.0)
         .build_query())
    out = {r["pk"]: r for r in
           q.run_query(pds.Budget(1.0), noise_mode="zero").collect()}
    g = out["g"]
    assert g["count"] == 20.0
    assert g["sum_a"] == 40.0  # 20 users x 1 row x 2.0 (clip non-binding)
    assert g["sum_b"] == 160.0  # per-user sum 10 clipped to 8, x20
    e = out["empty"]
    assert (e["count"], e["sum_a"], e["sum_b"]) == (0.0, 0.0, 0.0)


@pytest.mark.parametrize("with_count", [True, False])
def test_explain_describes_multi_sum_run(spark, with_count):
    """explain reports the release run_query builds: one SUM line per
    column and the COUNT line when counted, each at its share of the
    budget (eps / #mechanisms) over its own sensitivity."""
    rows = [(u, "g", 2.0, 10.0) for u in range(20)]
    df = spark.createDataFrame(rows, "uid int, pk string, a double, b double")
    qb = pds.QueryBuilder(df, "uid").groupby(
        "pk", max_groups_contributed=1, max_contributions_per_group=2,
        public_keys=["g"])
    if with_count:
        qb = qb.count()
    q = (qb.sum("a", min_value=0.0, max_value=5.0)
         .sum("b", min_sum_per_partition=0.0, max_sum_per_partition=8.0)
         .build_query())
    report = q.explain(pds.Budget(1.0))
    n = 3 if with_count else 2
    assert [line for line in report.splitlines()
            if line.startswith("SUM[")] == [
        f"SUM[sum_a]: laplace noise, scale={1 * 2 * 5.0 * n:.4g}",
        f"SUM[sum_b]: laplace noise, scale={1 * 8.0 * n:.4g}"]
    count = [line for line in report.splitlines() if "COUNT:" in line]
    assert count == ([f"COUNT: laplace noise, scale={1 * 2 * n:.4g}"]
                     if with_count else [])


def test_multi_sum_duplicate_column_rejected(spark):
    df = spark.createDataFrame([(1, "g", 1.0)], "uid int, pk string, a double")
    qb = (pds.QueryBuilder(df, "uid")
          .groupby("pk", max_groups_contributed=1,
                   max_contributions_per_group=1)
          .sum("a", min_value=0.0, max_value=1.0))
    with pytest.raises(ValueError, match="duplicate sum"):
        qb.sum("a", min_value=0.0, max_value=2.0)


def test_multi_sum_rejects_mean(spark):
    df = spark.createDataFrame([(1, "g", 1.0, 2.0)],
                               "uid int, pk string, a double, b double")
    qb = (pds.QueryBuilder(df, "uid")
          .groupby("pk", max_groups_contributed=1,
                   max_contributions_per_group=1)
          .sum("a", min_value=0.0, max_value=1.0)
          .sum("b", min_value=0.0, max_value=1.0)
          .mean("a", min_value=0.0, max_value=1.0))
    with pytest.raises(ValueError, match="multi-column sums"):
        qb.build_query()


def test_engine_multi_sum_private_selection(spark):
    rows = [(u, "big", 1.0, 2.0) for u in range(50)] + \
        [(99, "tiny", 1.0, 2.0)]
    df = spark.createDataFrame(rows, "uid int, pk string, a double, b double")
    acct = pds.NaiveBudgetAccountant(4.0, 1e-4)
    engine = pds.DPEngine(acct, noise_mode="zero")
    res = engine.aggregate_multi_sum(
        df,
        pds.MultiSumParams(
            max_partitions_contributed=1, max_contributions_per_partition=1,
            include_privacy_id_count=True,
            partition_selection_strategy=pds.PartitionSelectionStrategy
            .LAPLACE_THRESHOLDING),
        pds.MultiValueDataFrameExtractors("uid", "pk",
                                          value_columns=["a", "b"]),
        [pds.MultiSumSpec(min_value=0.0, max_value=1.0),
         pds.MultiSumSpec(min_value=0.0, max_value=3.0)])
    acct.compute_budgets()
    out = {r["pk"]: r for r in res.dataframe().collect()}
    assert "tiny" not in out
    assert out["big"]["sum_a"] == 50.0
    assert out["big"]["sum_b"] == 100.0
    assert out["big"]["privacy_id_count"] == 50.0
