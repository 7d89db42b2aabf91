"""PrivateDataFrame API tests: the `make_private` wrapper's per-metric
actions, budget splitting across actions, privacy-unit guards and the
params it forwards to the engine."""

import pytest
from pyspark.sql import functions as F

import pipelinedp_spark as pds

pytestmark = pytest.mark.dp


def test_private_dataframe_sum_flow(spark):
    rows = [(u, "d1" if u % 2 else "d2", float(u % 5)) for u in range(40)]
    df = spark.createDataFrame(rows, "uid int, day string, spend double")
    acct = pds.NaiveBudgetAccountant(total_epsilon=2.0, total_delta=1e-6)
    pdf = pds.make_private(df, acct, "uid")
    pdf = pdf.with_column("spend2", F.col("spend") * 2)
    result = pdf.sum(pds.SumParams(
        partition_key="day", max_partitions_contributed=1,
        max_contributions_per_partition=1, value_column="spend2",
        min_value=0.0, max_value=8.0, public_partitions=["d1", "d2"]))
    acct.compute_budgets()
    out = result.dataframe()
    assert set(out.columns) == {"day", "sum"}
    assert out.count() == 2


def test_private_dataframe_two_actions_split_budget(spark):
    rows = [(u, "g", 1.0) for u in range(30)]
    df = spark.createDataFrame(rows, "uid int, pk string, v double")
    acct = pds.NaiveBudgetAccountant(total_epsilon=1.0, total_delta=1e-6)
    pdf = pds.make_private(df, acct, "uid")
    r1 = pdf.count(pds.CountParams(
        partition_key="pk", max_partitions_contributed=1,
        max_contributions_per_partition=1, public_partitions=["g"]))
    r2 = pdf.privacy_id_count(pds.PrivacyIdCountParams(
        partition_key="pk", max_partitions_contributed=1,
        max_contributions_per_partition=1, public_partitions=["g"]))
    acct.compute_budgets()
    assert r1.dataframe().collect()[0]["count"] != 0
    assert r2.dataframe().collect()[0]["privacy_id_count"] != 0


def test_private_dataframe_guards(spark):
    df = spark.createDataFrame([(1, "a")], "uid int, pk string")
    acct = pds.NaiveBudgetAccountant(1.0, 1e-6)
    pdf = pds.make_private(df, acct, "uid")
    with pytest.raises(ValueError, match="privacy unit"):
        pdf.select("pk")
    with pytest.raises(ValueError, match="privacy unit"):
        pdf.with_column("uid", F.lit(1))
    with pytest.raises(ValueError):
        pds.make_private(df, acct, "nope")


def test_private_dataframe_select_partitions(spark):
    rows = [(u, "big") for u in range(200)] + [(9999, "tiny")]
    df = spark.createDataFrame(rows, "uid int, pk string")
    acct = pds.NaiveBudgetAccountant(1.0, 1e-6)
    pdf = pds.make_private(df, acct, "uid")
    res = pdf.select_partitions(
        pds.SelectPartitionsParams(max_partitions_contributed=1), "pk")
    acct.compute_budgets()
    kept = [r["pk"] for r in res.dataframe().collect()]
    assert "big" in kept and "tiny" not in kept


def test_private_dataframe_params_carry_bounds_flags(spark):
    # Reference parity: the per-metric params expose
    # contribution_bounds_already_enforced + pre_threshold and the
    # wrapper forwards them to the engine's AggregateParams.
    import pipelinedp_spark as pds
    from pipelinedp_spark.private_dataframe import CountParams, make_private
    rows = [(u, "g") for u in range(30)]
    df = spark.createDataFrame(rows, "uid int, pk string")
    acct = pds.NaiveBudgetAccountant(1.0, 1e-6)
    pdf = make_private(df, acct, "uid")
    res = pdf.count(CountParams(
        partition_key="pk", max_partitions_contributed=1,
        max_contributions_per_partition=1,
        public_partitions=["g"],
        contribution_bounds_already_enforced=True,
        pre_threshold=5))
    acct.compute_budgets()
    out = res.dataframe().collect()
    assert len(out) == 1  # runs end-to-end with both flags set
