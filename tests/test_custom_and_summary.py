"""CustomCombiner hook and public-partitions summary tests."""

import numpy as np
import pandas as pd
import pytest

import pipelinedp_spark as pds
from pipelinedp_spark import analysis as A
from pipelinedp_spark.aggregate_params import MechanismType
from pipelinedp_spark.dp_engine import (CustomCombiner, DataFrameExtractors,
                                        DPEngine)

pytestmark = pytest.mark.dp


def make_median_combiner():
    """Defined in function scope so cloudpickle ships it by value to
    executors (test modules are not importable on workers)."""

    class MedianCombiner(CustomCombiner):
        """Toy custom metric: exact median of bounded values + own noise
        hook (zero noise here — the combiner owns its DP, per the
        contract)."""

        output_schema = "median double, n long"

        def request_budget(self, accountant):
            self.spec = accountant.request_budget(MechanismType.LAPLACE)

        def compute(self, pdf: pd.DataFrame) -> dict:
            assert self.spec.eps > 0  # budget resolved before execution
            v = pdf["__value__"].to_numpy()
            return {"median": float(np.median(v)), "n": len(v)}

    return MedianCombiner()


def test_custom_combiner(spark):
    rows = [(u, "g", float(u % 7)) for u in range(35)]
    df = spark.createDataFrame(rows, "uid int, pk string, v double")
    acct = pds.NaiveBudgetAccountant(1.0, 1e-6)
    engine = DPEngine(acct, noise_mode="zero")
    params = pds.AggregateParams(
        metrics=[pds.Metrics.COUNT],  # placeholder; combiner defines output
        max_partitions_contributed=1,
        max_contributions_per_partition=1)
    res = engine.aggregate_custom(df, params,
                                  DataFrameExtractors("uid", "pk", "v"),
                                  make_median_combiner(),
                                  public_partitions=["g"])
    acct.compute_budgets()
    row = res.dataframe().collect()[0]
    assert row["pk"] == "g"
    assert row["n"] == 35  # one bounded row per user
    assert 0.0 <= row["median"] <= 6.0


def test_custom_combiner_bounding_applied(spark):
    # 1 user with 100 rows, linf=5 -> combiner sees only 5 rows.
    rows = [(1, "g", float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "uid int, pk string, v double")
    acct = pds.NaiveBudgetAccountant(1.0)
    engine = DPEngine(acct, noise_mode="zero")
    params = pds.AggregateParams(
        metrics=[pds.Metrics.COUNT],
        max_partitions_contributed=1,
        max_contributions_per_partition=5)
    res = engine.aggregate_custom(df, params,
                                  DataFrameExtractors("uid", "pk", "v"),
                                  make_median_combiner(),
                                  public_partitions=["g"])
    acct.compute_budgets()
    assert res.dataframe().collect()[0]["n"] == 5


def test_public_partitions_summary(spark):
    rows = [(u, "a") for u in range(6)] + [(u, "b") for u in range(3)] + \
        [(u, "private") for u in range(1)]
    df = spark.createDataFrame(rows, "uid int, pk string")
    s = A.compute_public_partitions_summary(
        df, DataFrameExtractors("uid", "pk", None),
        public_partitions=["a", "b", "never_seen"])
    assert s.num_dataset_partitions == 3
    assert s.num_public_partitions == 3
    assert s.num_in_both == 2
    assert s.num_dataset_only == 1
    assert s.num_public_only == 1
    assert s.ratio_rows_dropped == pytest.approx(1 / 10)


def test_custom_combiners_via_aggregate_params(spark):
    # Reference surface: params.custom_combiners routes DPEngine.aggregate
    # through the custom path; metrics must be empty.
    rows = [(u, "g", float(u % 7)) for u in range(35)]
    df = spark.createDataFrame(rows, "uid int, pk string, v double")
    acct = pds.NaiveBudgetAccountant(1.0, 1e-6)
    engine = DPEngine(acct, noise_mode="zero")
    params = pds.AggregateParams(
        metrics=[],
        custom_combiners=[make_median_combiner()],
        max_partitions_contributed=1,
        max_contributions_per_partition=1)
    res = engine.aggregate(df, params,
                           DataFrameExtractors("uid", "pk", "v"),
                           public_partitions=["g"])
    acct.compute_budgets()
    row = res.dataframe().collect()[0]
    assert row["n"] == 35 and 0.0 <= row["median"] <= 6.0


def test_custom_combiners_composed_and_exclusive(spark):
    def make_count_combiner():
        class CountCombiner(CustomCombiner):
            output_schema = "my_count long"

            def request_budget(self, accountant):
                self.spec = accountant.request_budget(
                    MechanismType.LAPLACE)

            def compute(self, pdf):
                return {"my_count": len(pdf)}

        return CountCombiner()

    rows = [(u, "g", float(u)) for u in range(10)]
    df = spark.createDataFrame(rows, "uid int, pk string, v double")
    acct = pds.NaiveBudgetAccountant(1.0, 1e-6)
    engine = DPEngine(acct, noise_mode="zero")
    params = pds.AggregateParams(
        metrics=[],
        custom_combiners=[make_median_combiner(), make_count_combiner()],
        max_partitions_contributed=1,
        max_contributions_per_partition=1)
    res = engine.aggregate(df, params,
                           DataFrameExtractors("uid", "pk", "v"),
                           public_partitions=["g"])
    acct.compute_budgets()
    row = res.dataframe().collect()[0]
    assert row["my_count"] == 10 and row["n"] == 10
    with pytest.raises(ValueError, match="metrics must be empty"):
        pds.AggregateParams(metrics=[pds.Metrics.COUNT],
                            custom_combiners=[make_median_combiner()],
                            max_partitions_contributed=1,
                            max_contributions_per_partition=1)


def test_public_partitions_already_filtered(spark):
    # Caller pre-filtered to the public key: results match the normal
    # path run over the UNfiltered data, and the engine skips its drop
    # (the explain report records it).
    rows = [(u, "pub", 1.0) for u in range(20)] + \
           [(u, "private", 1.0) for u in range(900, 905)]
    df = spark.createDataFrame(rows, "uid int, pk string, v double")
    ex = DataFrameExtractors("uid", "pk", "v")

    def run(data, flag):
        acct = pds.NaiveBudgetAccountant(1.0, 1e-6)
        engine = DPEngine(acct, noise_mode="zero")
        params = pds.AggregateParams(
            metrics=[pds.Metrics.COUNT],
            max_partitions_contributed=1,
            max_contributions_per_partition=1,
            public_partitions_already_filtered=flag)
        res = engine.aggregate(data, params, ex,
                               public_partitions=["pub"])
        acct.compute_budgets()
        return {r["pk"]: r["count"] for r in res.dataframe().collect()}, \
            engine.explain_computation_reports()

    filtered = df.filter(df.pk == "pub")
    got, report = run(filtered, True)
    want, _ = run(df, False)
    assert got == want == {"pub": 20.0}
    assert "pre-filtered" in report[-1]


def test_public_partitions_already_filtered_requires_public(spark):
    df = spark.createDataFrame([(1, "g", 1.0)],
                               "uid int, pk string, v double")
    acct = pds.NaiveBudgetAccountant(1.0, 1e-6)
    engine = DPEngine(acct, noise_mode="zero")
    params = pds.AggregateParams(
        metrics=[pds.Metrics.COUNT],
        max_partitions_contributed=1,
        max_contributions_per_partition=1,
        public_partitions_already_filtered=True)
    with pytest.raises(ValueError, match="requires public"):
        engine.aggregate(df, params,
                         DataFrameExtractors("uid", "pk", "v"))
