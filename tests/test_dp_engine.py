"""End-to-end DP engine tests in deterministic (zero-noise) mode, mirroring
the reference's noise-off test strategy (reference: tests/combiners_test.py
no_noise parameterizations, tests/dp_engine_test.py e2e tests)."""

import pytest

import pipelinedp_spark as pds

pytestmark = pytest.mark.dp


def _make_df(spark, rows, cols=("pid", "pk", "v")):
    return spark.createDataFrame(rows, list(cols))


class TestAggregatePublicPartitions:

    def test_count_sum_public_partitions_no_noise(self, spark):
        # 2 users; user 1 contributes 3 rows to "a", 1 to "b"; user 2: 1 to "a".
        rows = [(1, "a", 1.0), (1, "a", 2.0), (1, "a", 3.0), (1, "b", 4.0),
                (2, "a", 5.0)]
        df = _make_df(spark, rows)
        query = (pds.QueryBuilder(df, "pid")
                 .groupby("pk", max_groups_contributed=2,
                          max_contributions_per_group=5,
                          public_keys=["a", "b", "c"])
                 .count()
                 .sum("v", min_value=0.0, max_value=10.0)
                 .privacy_id_count()
                 .build_query())
        out = query.run_query(pds.Budget(1.0, 1e-6), noise_mode="zero")
        got = {r["pk"]: r for r in out.collect()}
        assert set(got) == {"a", "b", "c"}
        assert got["a"]["count"] == 4.0
        assert got["a"]["sum_v"] == 11.0
        assert got["a"]["privacy_id_count"] == 2.0
        assert got["b"]["count"] == 1.0
        # empty public partition present with zero accumulators
        assert got["c"]["count"] == 0.0
        assert got["c"]["sum_v"] == 0.0

    def test_count_caps_linf_deterministically(self, spark):
        # Linf cap = 2: user 1's 5 rows in "a" count as 2.
        rows = [(1, "a", 1.0)] * 5 + [(2, "a", 1.0)]
        df = _make_df(spark, rows)
        query = (pds.QueryBuilder(df, "pid")
                 .groupby("pk", max_groups_contributed=1,
                          max_contributions_per_group=2,
                          public_keys=["a"])
                 .count()
                 .build_query())
        out = query.run_query(pds.Budget(1.0), noise_mode="zero")
        assert out.collect()[0]["count"] == 3.0  # 2 (capped) + 1

    def test_l0_bounding_drops_extra_partitions(self, spark):
        # User contributes to 3 partitions, L0 = 1 -> total count == 1.
        rows = [(1, "a", 1.0), (1, "b", 1.0), (1, "c", 1.0)]
        df = _make_df(spark, rows)
        query = (pds.QueryBuilder(df, "pid")
                 .groupby("pk", max_groups_contributed=1,
                          max_contributions_per_group=1,
                          public_keys=["a", "b", "c"])
                 .count()
                 .build_query())
        out = query.run_query(pds.Budget(1.0), noise_mode="zero")
        total = sum(r["count"] for r in out.collect())
        assert total == 1.0

    def test_mean_no_noise(self, spark):
        rows = [(1, "a", 2.0), (1, "a", 4.0), (2, "a", 6.0)]
        df = _make_df(spark, rows)
        query = (pds.QueryBuilder(df, "pid")
                 .groupby("pk", max_groups_contributed=1,
                          max_contributions_per_group=5,
                          public_keys=["a"])
                 .mean("v", min_value=0.0, max_value=10.0)
                 .build_query())
        out = query.run_query(pds.Budget(1.0, 1e-6), noise_mode="zero")
        assert out.collect()[0]["mean_v"] == pytest.approx(4.0)

    def test_variance_no_noise(self, spark):
        rows = [(1, "a", 2.0), (2, "a", 4.0), (3, "a", 6.0)]
        df = _make_df(spark, rows)
        query = (pds.QueryBuilder(df, "pid")
                 .groupby("pk", max_groups_contributed=1,
                          max_contributions_per_group=1,
                          public_keys=["a"])
                 .variance("v", min_value=0.0, max_value=10.0)
                 .build_query())
        out = query.run_query(pds.Budget(1.0, 1e-6), noise_mode="zero")
        # population variance of [2, 4, 6] = 8/3
        assert out.collect()[0]["variance_v"] == pytest.approx(8.0 / 3.0)

    def test_sum_clipping_per_contribution(self, spark):
        rows = [(1, "a", 100.0), (2, "a", -50.0)]
        df = _make_df(spark, rows)
        query = (pds.QueryBuilder(df, "pid")
                 .groupby("pk", max_groups_contributed=1,
                          max_contributions_per_group=1,
                          public_keys=["a"])
                 .sum("v", min_value=0.0, max_value=10.0)
                 .build_query())
        out = query.run_query(pds.Budget(1.0), noise_mode="zero")
        assert out.collect()[0]["sum_v"] == 10.0  # clip(100)=10, clip(-50)=0

    def test_sum_clipping_per_partition(self, spark):
        # per-partition regime: user sums clipped to [0, 5].
        rows = [(1, "a", 4.0), (1, "a", 4.0), (2, "a", -3.0)]
        df = _make_df(spark, rows)
        query = (pds.QueryBuilder(df, "pid")
                 .groupby("pk", max_groups_contributed=1,
                          max_contributions_per_group=10,
                          public_keys=["a"])
                 .sum("v", min_sum_per_partition=0.0,
                      max_sum_per_partition=5.0)
                 .build_query())
        out = query.run_query(pds.Budget(1.0), noise_mode="zero")
        assert out.collect()[0]["sum_v"] == 5.0  # clip(8)=5 + clip(-3)=0

    def test_composite_partition_key(self, spark):
        rows = [(1, "a", "x", 1.0), (1, "a", "y", 1.0), (2, "a", "x", 1.0)]
        df = _make_df(spark, rows, cols=("pid", "k1", "k2", "v"))
        query = (pds.QueryBuilder(df, "pid")
                 .groupby(["k1", "k2"], max_groups_contributed=2,
                          max_contributions_per_group=2,
                          public_keys=[("a", "x"), ("a", "y")])
                 .count()
                 .build_query())
        out = query.run_query(pds.Budget(1.0), noise_mode="zero")
        got = {(r["k1"], r["k2"]): r["count"] for r in out.collect()}
        assert got == {("a", "x"): 2.0, ("a", "y"): 1.0}


class TestPartitionSelection:

    def test_laplace_thresholding_no_noise(self, spark):
        # 50 users in "big", 1 user in "small": zero-noise thresholding keeps
        # only partitions with pid_count >= threshold.
        rows = [(i, "big", 1.0) for i in range(50)] + [(999, "small", 1.0)]
        df = _make_df(spark, rows)
        query = (pds.QueryBuilder(df, "pid")
                 .groupby("pk", max_groups_contributed=1,
                          max_contributions_per_group=1,
                          partition_selection_strategy=pds.
                          PartitionSelectionStrategy.LAPLACE_THRESHOLDING)
                 .count()
                 .build_query())
        out = query.run_query(pds.Budget(1.0, 1e-6), noise_mode="zero")
        got = {r["pk"] for r in out.collect()}
        assert got == {"big"}

    def test_truncated_geometric_no_noise(self, spark):
        rows = [(i, "big", 1.0) for i in range(2000)] + [(9999, "small", 1.0)]
        df = _make_df(spark, rows)
        query = (pds.QueryBuilder(df, "pid")
                 .groupby("pk", max_groups_contributed=1,
                          max_contributions_per_group=1)
                 .count()
                 .build_query())
        out = query.run_query(pds.Budget(1.0, 1e-6), noise_mode="zero")
        got = {r["pk"] for r in out.collect()}
        assert got == {"big"}

    def test_select_partitions(self, spark):
        rows = [(i, "big", 1.0) for i in range(100)] + [(999, "small", 1.0)]
        df = _make_df(spark, rows)
        accountant = pds.NaiveBudgetAccountant(1.0, 1e-6)
        engine = pds.DPEngine(accountant, noise_mode="zero")
        result = engine.select_partitions(
            df, pds.SelectPartitionsParams(max_partitions_contributed=1),
            pds.DataFrameExtractors("pid", "pk"))
        accountant.compute_budgets()
        got = {r["pk"] for r in result.dataframe().collect()}
        assert got == {"big"}


class TestEngineDirect:

    def test_add_dp_noise_zero_mode_identity(self, spark):
        df = spark.createDataFrame([("a", 10.0), ("b", 20.0)], ["k", "v"])
        accountant = pds.NaiveBudgetAccountant(1.0)
        engine = pds.DPEngine(accountant, noise_mode="zero")
        result = engine.add_dp_noise(
            df, "v",
            pds.AddDPNoiseParams(l0_sensitivity=1, linf_sensitivity=1.0))
        accountant.compute_budgets()
        got = {r["k"]: r["v"] for r in result.dataframe().collect()}
        assert got == {"a": 10.0, "b": 20.0}

    def test_noise_actually_added_in_secure_mode(self, spark):
        df = spark.createDataFrame([("a", 0.0)] * 100, ["k", "v"])
        accountant = pds.NaiveBudgetAccountant(1.0)
        engine = pds.DPEngine(accountant)
        result = engine.add_dp_noise(
            df, "v",
            pds.AddDPNoiseParams(l0_sensitivity=1, linf_sensitivity=1.0))
        accountant.compute_budgets()
        vals = [r["v"] for r in result.dataframe().collect()]
        assert len(set(vals)) > 10  # fresh noise per row

    def test_explain_report(self, spark):
        df = spark.createDataFrame([(1, "a", 1.0)], ["pid", "pk", "v"])
        query = (pds.QueryBuilder(df, "pid")
                 .groupby("pk", max_groups_contributed=1,
                          max_contributions_per_group=1, public_keys=["a"])
                 .count().build_query())
        report = query.explain(pds.Budget(1.0))
        assert "Contribution bounding" in report
        assert "COUNT" in report

    def test_public_partition_literals_keep_source_key_types(self, spark):
        # int literals in a SQL VALUES default to INT; the engine must
        # cast the public-partition frame to the DATA's key types so the
        # output schema matches the source (long stays long).
        df = spark.createDataFrame([(1, 10**10 + i, 1.0) for i in range(4)],
                                   "pid int, pk long, v double")
        query = (pds.QueryBuilder(df, "pid")
                 .groupby("pk", max_groups_contributed=4,
                          max_contributions_per_group=2,
                          public_keys=[10**10, 10**10 + 1, 5])
                 .count().build_query())
        out = query.run_query(pds.Budget(1.0), noise_mode="zero")
        assert dict(out.dtypes)["pk"] == "bigint"
        rows = {r["pk"]: r["count"] for r in out.collect()}
        assert rows == {10**10: 1.0, 10**10 + 1: 1.0, 5: 0.0}


class TestCrossBoundingAndNoiseStddev:
    """perform_cross_partition_contribution_bounding + output_noise_stddev
    (reference: pipeline_dp/aggregate_params.py:279-287,308-309,
    dp_engine.py:418-430, combiners.py:276-288,323-335,439-454)."""

    def _count(self, spark, rows, *, cross_bounding, l0=1, linf=10,
               stddev=False, metrics=None):
        df = spark.createDataFrame(rows, ["pid", "pk", "v"])
        accountant = pds.NaiveBudgetAccountant(1.0, 1e-6)
        engine = pds.DPEngine(accountant, noise_mode="zero")
        params = pds.AggregateParams(
            metrics=metrics or [pds.Metrics.COUNT],
            max_partitions_contributed=l0,
            max_contributions_per_partition=linf,
            perform_cross_partition_contribution_bounding=cross_bounding,
            output_noise_stddev=stddev)
        res = engine.aggregate(
            df=df, params=params,
            extractors=pds.DataFrameExtractors("pid", "pk", "v"),
            public_partitions=["a", "b", "c"])
        accountant.compute_budgets()
        return res.dataframe()

    def test_disabled_cross_bounding_keeps_all_partitions(self, spark):
        # One user in 3 partitions with L0 = 1: enabled -> total count 1
        # (sampled); disabled -> all 3 kept, L0 only in sensitivity.
        rows = [(1, "a", 1.0), (1, "b", 1.0), (1, "c", 1.0)]
        out = self._count(spark, rows, cross_bounding=False)
        got = {r["pk"]: r["count"] for r in out.collect()}
        assert got == {"a": 1.0, "b": 1.0, "c": 1.0}
        enabled = self._count(spark, rows, cross_bounding=True)
        assert sum(r["count"] for r in enabled.collect()) == 1.0

    def test_disabled_cross_bounding_still_applies_linf(self, spark):
        # Linf sampling must still cap per-partition rows.
        rows = [(1, "a", 1.0)] * 7 + [(1, "b", 1.0)]
        out = self._count(spark, rows, cross_bounding=False, l0=1, linf=2)
        got = {r["pk"]: r["count"] for r in out.collect()}
        assert got == {"a": 2.0, "b": 1.0, "c": 0.0}

    def test_output_noise_stddev_columns(self, spark):
        import math
        rows = [(1, "a", 2.0), (2, "a", 3.0)]
        # eps = 3.0 split evenly across count/sum/pid_count -> 1.0 each
        df = spark.createDataFrame(rows, ["pid", "pk", "v"])
        accountant = pds.NaiveBudgetAccountant(3.0, 1e-6)
        engine = pds.DPEngine(accountant, noise_mode="zero")
        params = pds.AggregateParams(
            metrics=[pds.Metrics.COUNT, pds.Metrics.SUM,
                     pds.Metrics.PRIVACY_ID_COUNT],
            max_partitions_contributed=2,
            max_contributions_per_partition=3,
            min_value=0.0, max_value=5.0,
            output_noise_stddev=True)
        res = engine.aggregate(
            df=df, params=params,
            extractors=pds.DataFrameExtractors("pid", "pk", "v"),
            public_partitions=["a"])
        accountant.compute_budgets()
        row = res.dataframe().collect()[0]
        cols = set(res.dataframe().columns)
        assert {"count_noise_stddev", "sum_noise_stddev",
                "privacy_id_count_noise_stddev"} <= cols
        # Laplace std = (l1 / eps) * sqrt(2); eps = 1.0 per metric.
        assert row["count_noise_stddev"] == pytest.approx(
            (2 * 3 / 1.0) * math.sqrt(2))
        assert row["sum_noise_stddev"] == pytest.approx(
            (2 * 3 * 5.0 / 1.0) * math.sqrt(2))
        assert row["privacy_id_count_noise_stddev"] == pytest.approx(
            (2 / 1.0) * math.sqrt(2))
        # zero-noise values unaffected by the extra columns
        assert row["count"] == 2.0 and row["privacy_id_count"] == 2.0

    def test_output_noise_stddev_rejects_unsupported_metric(self, spark):
        with pytest.raises(ValueError, match="output_noise_stddev"):
            pds.AggregateParams(
                metrics=[pds.Metrics.MEAN],
                max_partitions_contributed=1,
                max_contributions_per_partition=1,
                min_value=0.0, max_value=1.0,
                output_noise_stddev=True)

    def test_add_dp_noise_output_stddev(self, spark):
        import math
        df = spark.createDataFrame([("a", 10.0)], ["k", "v"])
        accountant = pds.NaiveBudgetAccountant(1.0)
        engine = pds.DPEngine(accountant, noise_mode="zero")
        result = engine.add_dp_noise(
            df, "v",
            pds.AddDPNoiseParams(l0_sensitivity=2, linf_sensitivity=1.5,
                                 output_noise_stddev=True))
        accountant.compute_budgets()
        row = result.dataframe().collect()[0]
        assert row["v"] == 10.0
        assert row["v_noise_stddev"] == pytest.approx(3.0 * math.sqrt(2))


_VALUES = dict(min_value=0.0, max_value=1.0)


@pytest.mark.parametrize("metric,extra", [
    (pds.Metrics.PERCENTILE(50), _VALUES),
    (pds.Metrics.VECTOR_SUM, dict(vector_max_norm=1.0, vector_size=2)),
    (pds.Metrics.VECTOR_MEAN, dict(vector_max_norm=1.0, vector_size=2)),
    (None, {}),  # a custom combiner
    (pds.Metrics.SUM, _VALUES),  # per-contribution bounds
    (pds.Metrics.MEAN, _VALUES),
    (pds.Metrics.VARIANCE, _VALUES),
], ids=["percentile", "vector_sum", "vector_mean", "custom_combiner",
        "per_contribution_sum", "mean", "variance"])
def test_max_contributions_rejected_where_unenforced(metric, extra):
    """max_contributions is enforced only for COUNT, PRIVACY_ID_COUNT and
    per-partition SUM; any other shape is refused at construction instead
    of releasing rows no bounder capped."""
    if metric is None:
        from pipelinedp_spark.dp_engine import CustomCombiner
        shape = dict(metrics=[], custom_combiners=[CustomCombiner()])
        name = "custom_combiners"
    else:
        shape = dict(metrics=[metric], **extra)
        name = metric.metric.value
    with pytest.raises(ValueError, match=f"max_contributions .*{name}"):
        pds.AggregateParams(max_contributions=1, **shape)


def _post_aggregation_keys(spark, ids_per_key, eps, delta, **params):
    """Keys a zero-noise post-aggregation-thresholded COUNT +
    PRIVACY_ID_COUNT release keeps, each key holding the given number of
    single-row privacy ids."""
    rows = [(f"{k}{i}", k, 1.0) for k, n in ids_per_key.items()
            for i in range(n)]
    acct = pds.NaiveBudgetAccountant(eps, delta)
    res = pds.DPEngine(acct, noise_mode="zero").aggregate(
        _make_df(spark, rows), pds.AggregateParams(
            metrics=[pds.Metrics.COUNT, pds.Metrics.PRIVACY_ID_COUNT],
            post_aggregation_thresholding=True, **params),
        pds.DataFrameExtractors("pid", "pk", None))
    acct.compute_budgets()
    return {r["pk"] for r in res.dataframe().collect()}


def test_post_aggregation_threshold_splits_delta_over_max_contributions(
        spark):
    """One privacy id reaches up to max_contributions keys, so the
    threshold's delta is split over that many: 52.60 at eps 2, delta 1e-5,
    max_contributions 4 (47.05 when split over one key)."""
    from pipelinedp_spark.budget_accounting import NaiveBudgetAccountant
    from pipelinedp_spark.dp_engine import DPEngine, partition_keep_rule
    params = pds.AggregateParams(
        metrics=[pds.Metrics.COUNT, pds.Metrics.PRIVACY_ID_COUNT],
        max_contributions=4, post_aggregation_thresholding=True)
    acct = NaiveBudgetAccountant(2.0, 1e-5)
    specs = DPEngine(acct).request_budgets(params, False, [])
    acct.compute_budgets()
    rule = partition_keep_rule(specs["privacy_id_count"], params)
    assert rule.threshold == pytest.approx(52.60, abs=0.01)
    assert _post_aggregation_keys(spark, {"a": 50, "b": 60}, 2.0, 1e-5,
                                  max_contributions=4) == {"b"}


def test_post_aggregation_thresholding_applies_pre_threshold(spark):
    """A key with fewer privacy ids than pre_threshold is not released,
    though its noisy count clears the threshold (~1.8 here)."""
    assert _post_aggregation_keys(
        spark, {"a": 30, "b": 50}, 20.0, 1e-5, max_partitions_contributed=1,
        max_contributions_per_partition=1, pre_threshold=40) == {"b"}
