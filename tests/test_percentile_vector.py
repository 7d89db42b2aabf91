"""PERCENTILE (histogram sketch) and VECTOR_SUM tests, zero-noise mode.

Mirrors the reference's noise-off test strategy
(reference: tests/combiners_test.py:245-266 pattern).
"""

import math

import pytest
from pyspark.sql import functions as F

import pipelinedp_spark as pds

pytestmark = pytest.mark.dp


def _pct_expected(values, p, lo, hi, nbins):
    """Reference implementation of the engine's histogram interpolation."""
    width = (hi - lo) / nbins
    counts = [0] * nbins
    for v in values:
        v = min(max(v, lo), hi)
        b = min(nbins - 1, int(math.floor((v - lo) / width)))
        counts[b] += 1
    tot = sum(counts)
    rank = p / 100.0 * tot
    cum = 0.0
    for b, c in enumerate(counts):
        cum += c
        if c > 0 and cum >= rank:
            return lo + width * (b + (rank - (cum - c)) / c)
    return lo


def test_percentile_uniform(spark):
    values = [float(v) for v in range(1, 101)]
    rows = [(u, "a", v) for u, v in enumerate(values)]
    df = spark.createDataFrame(rows, "pid int, pk string, v double")
    q = (pds.QueryBuilder(df, "pid")
         .groupby("pk", max_groups_contributed=1,
                  max_contributions_per_group=5, public_keys=["a"])
         .percentile("v", 50, min_value=0.0, max_value=100.0)
         .percentile("v", 90, min_value=0.0, max_value=100.0)
         .build_query())
    out = q.run_query(pds.Budget(1.0, 1e-6), noise_mode="zero")
    row = out.collect()[0]
    assert row["percentile_50"] == pytest.approx(
        _pct_expected(values, 50, 0.0, 100.0, 256))
    assert row["percentile_90"] == pytest.approx(
        _pct_expected(values, 90, 0.0, 100.0, 256))
    # Histogram resolution error is bounded by one bin width.
    assert abs(row["percentile_50"] - 50.0) < 100.0 / 256 + 0.5
    assert abs(row["percentile_90"] - 90.0) < 100.0 / 256 + 0.5


def test_percentile_clips_to_bounds(spark):
    rows = [(u, "a", 1000.0) for u in range(20)]
    df = spark.createDataFrame(rows, "pid int, pk string, v double")
    q = (pds.QueryBuilder(df, "pid")
         .groupby("pk", max_groups_contributed=1,
                  max_contributions_per_group=2, public_keys=["a"])
         .percentile("v", 50, min_value=0.0, max_value=10.0)
         .build_query())
    row = q.run_query(pds.Budget(1.0), noise_mode="zero").collect()[0]
    # Everything lands in the top bin.
    assert 10.0 - 10.0 / 256 <= row["percentile_50"] <= 10.0


def test_percentile_empty_public_partition(spark):
    df = spark.createDataFrame([(1, "a", 5.0)], "pid int, pk string, v double")
    q = (pds.QueryBuilder(df, "pid")
         .groupby("pk", max_groups_contributed=1,
                  max_contributions_per_group=1, public_keys=["a", "b"])
         .percentile("v", 50, min_value=0.0, max_value=10.0)
         .build_query())
    rows = {r["pk"]: r for r in
            q.run_query(pds.Budget(1.0), noise_mode="zero").collect()}
    assert rows["b"]["percentile_50"] == 0.0  # min_value for empty


def test_percentile_ignores_null_values(spark):
    """Null values are not binned: a key holding 1.0, 1.0 and three nulls
    reads the median of the two 1.0s (a null used to land in the top bin,
    and this median read 9.17)."""
    df = spark.createDataFrame(
        [(0, "a", 1.0), (1, "a", 1.0), (2, "a", None), (3, "a", None),
         (4, "a", None)], "pid int, pk string, v double")
    acct = pds.NaiveBudgetAccountant(1.0, 1e-6)
    res = pds.DPEngine(acct, noise_mode="zero").aggregate(
        df, pds.AggregateParams(
            metrics=[pds.Metrics.PERCENTILE(50)],
            max_partitions_contributed=1, max_contributions_per_partition=1,
            min_value=0.0, max_value=10.0, percentile_bins=10),
        pds.DataFrameExtractors("pid", "pk", "v"), public_partitions=["a"])
    acct.compute_budgets()
    row = res.dataframe().collect()[0]
    assert row["percentile_50"] == pytest.approx(
        _pct_expected([1.0, 1.0], 50, 0.0, 10.0, 10))


@pytest.mark.parametrize("algorithm", ["histogram", "tree"])
def test_percentile_noises_empty_public_partition(spark, algorithm):
    """Secure mode: an empty public key is released from a noised empty
    histogram like any other key, so it does not read exactly min_value on
    every run (which would tell it apart from a key with users)."""
    df = spark.createDataFrame([(u, "a", 5.0) for u in range(3)],
                               "pid int, pk string, v double")
    got = []
    for _ in range(5):
        acct = pds.NaiveBudgetAccountant(1.0, 1e-6)
        res = pds.DPEngine(acct, noise_mode="secure").aggregate(
            df, pds.AggregateParams(
                metrics=[pds.Metrics.PERCENTILE(50)],
                max_partitions_contributed=1,
                max_contributions_per_partition=1, min_value=0.0,
                max_value=10.0, percentile_algorithm=algorithm),
            pds.DataFrameExtractors("pid", "pk", "v"),
            public_partitions=["a", "b"])
        acct.compute_budgets()
        got += [r["percentile_50"] for r in res.dataframe().collect()
                if r["pk"] == "b"]
    assert len(got) == 5
    assert any(v != 0.0 for v in got), got


def test_percentile_alongside_count(spark):
    rows = [(u, "a", float(u % 10)) for u in range(50)]
    df = spark.createDataFrame(rows, "pid int, pk string, v double")
    q = (pds.QueryBuilder(df, "pid")
         .groupby("pk", max_groups_contributed=1,
                  max_contributions_per_group=3, public_keys=["a"])
         .count()
         .percentile("v", 50, min_value=0.0, max_value=10.0)
         .build_query())
    row = q.run_query(pds.Budget(1.0), noise_mode="zero").collect()[0]
    assert row["count"] == 50.0
    assert 0.0 <= row["percentile_50"] <= 10.0


def test_vector_sum_l2_clip(spark):
    rows = [(1, "x", [1.0, 2.0, 3.0, 4.0]),
            (2, "x", [10.0, 0.0, 0.0, 0.0]),
            (3, "y", [1.0, 1.0, 1.0, 1.0])]
    df = spark.createDataFrame(rows, "pid int, pk string, emb array<double>")
    q = (pds.QueryBuilder(df, "pid")
         .groupby("pk", max_groups_contributed=2,
                  max_contributions_per_group=3,
                  public_keys=["x", "y", "z"])
         .vector_sum("emb", max_norm=5.0, vector_size=4,
                     norm_kind=pds.NormKind.L2)
         .build_query())
    out = {r["pk"]: r["vector_sum_emb"] for r in
           q.run_query(pds.Budget(1.0, 1e-6), noise_mode="zero").collect()}
    f = 5.0 / math.sqrt(30.0)  # user 1's clip factor
    expected_x = [1.0 * f + 5.0, 2.0 * f, 3.0 * f, 4.0 * f]
    for got, want in zip(out["x"], expected_x):
        assert got == pytest.approx(want)
    assert out["y"] == pytest.approx([1.0, 1.0, 1.0, 1.0])
    assert out["z"] == [0.0, 0.0, 0.0, 0.0]  # empty public -> zero vector


def test_vector_sum_linf_clip_and_selection(spark):
    # 30 users in 'big', 1 user in 'small'; private selection drops 'small'.
    rows = [(u, "big", [2.0, -2.0]) for u in range(30)] + \
        [(99, "small", [1.0, 1.0])]
    df = spark.createDataFrame(rows, "pid int, pk string, emb array<double>")
    q = (pds.QueryBuilder(df, "pid")
         .groupby("pk", max_groups_contributed=1,
                  max_contributions_per_group=1,
                  partition_selection_strategy=pds.PartitionSelectionStrategy
                  .LAPLACE_THRESHOLDING)
         .vector_sum("emb", max_norm=1.0, vector_size=2,
                     norm_kind=pds.NormKind.LINF)
         .build_query())
    out = {r["pk"]: r["vector_sum_emb"] for r in
           q.run_query(pds.Budget(5.0, 1e-4), noise_mode="zero").collect()}
    assert "small" not in out
    assert out["big"] == pytest.approx([30.0, -30.0])  # linf clip 2 -> 1


def test_vector_sum_must_be_alone(spark):
    df = spark.createDataFrame([(1, "a", [1.0])],
                               "pid int, pk string, emb array<double>")
    with pytest.raises(ValueError, match="only aggregation"):
        (pds.QueryBuilder(df, "pid")
         .groupby("pk", max_groups_contributed=1,
                  max_contributions_per_group=1)
         .count()
         .vector_sum("emb", max_norm=1.0, vector_size=1)
         .build_query())


def test_vector_clip_matches_numpy(spark):
    """The Catalyst norm clip equals numpy's v * min(1, max_norm / ||v||)
    for the l1, l2 and linf norms, to 1e-12 relative (the norm sums in
    another order); the zero vector and vectors whose norm equals
    max_norm come back unchanged."""
    import numpy as np
    from pipelinedp_spark.dp_engine import _clip_vector
    max_norm = 5.0
    rng = np.random.default_rng(7)
    vecs = rng.normal(0.0, 2.0, (2000, 8)) * rng.uniform(0.1, 2.0, (2000, 1))
    on_ball = np.zeros((3, 8))
    on_ball[0, :4] = [1.0, -2.0, 1.5, 0.5]  # l1 norm 5
    on_ball[1, :2] = [3.0, -4.0]            # l2 norm 5
    on_ball[2, :3] = [5.0, -1.0, 2.0]       # linf norm 5
    vecs = np.vstack([vecs, np.zeros((1, 8)), on_ball])
    df = spark.createDataFrame([(i, v.tolist()) for i, v in enumerate(vecs)],
                               "id int, v array<double>")
    kinds = {"l1": lambda a: np.abs(a).sum(axis=1),
             "l2": lambda a: np.linalg.norm(a, axis=1),
             "linf": lambda a: np.abs(a).max(axis=1)}
    got = df.select("id", *[_clip_vector(F.col("v"), pds.AggregateParams(
        metrics=[pds.Metrics.VECTOR_SUM], max_partitions_contributed=1,
        max_contributions_per_partition=1, vector_norm_kind=pds.NormKind(k),
        vector_max_norm=max_norm, vector_size=8)).alias(k)
        for k in kinds]).orderBy("id").collect()
    for i, (k, norm) in enumerate(kinds.items()):
        clipped = np.array([r[k] for r in got])
        with np.errstate(divide="ignore"):
            want = vecs * np.minimum(1.0, max_norm / norm(vecs))[:, None]
        np.testing.assert_allclose(clipped, want, rtol=1e-12, atol=0.0)
        assert (norm(vecs) > max_norm).sum() > 500, k  # the clip binds
        unchanged = [2000, 2001 + i]  # the zero vector, k's on_ball row
        assert np.array_equal(clipped[unchanged], vecs[unchanged]), k


def test_vector_sum_draws_noise_per_element(spark):
    """Secure VECTOR_SUM adds one draw per element: an empty public key's
    released zero vector holds distinct, finite values."""
    df = spark.createDataFrame([(1, "a", [1.0] * 8)],
                               "pid int, pk string, emb array<double>")
    q = (pds.QueryBuilder(df, "pid")
         .groupby("pk", max_groups_contributed=1,
                  max_contributions_per_group=1, public_keys=["a", "b"])
         .vector_sum("emb", max_norm=1.0, vector_size=8)
         .build_query())
    out = {r["pk"]: r["vector_sum_emb"] for r in
           q.run_query(pds.Budget(1.0, 1e-6)).collect()}
    assert len(out["b"]) == 8 and len(set(out["b"])) == 8
    assert all(math.isfinite(x) for v in out.values() for x in v)


def test_fractional_percentile_names_injective():
    from pipelinedp_spark.aggregate_params import Metrics
    assert Metrics.PERCENTILE(50).output_name == "percentile_50"
    assert Metrics.PERCENTILE(50.4).output_name == "percentile_50_4"
    with pytest.raises(ValueError, match="duplicate output columns"):
        pds.AggregateParams(
            metrics=[Metrics.PERCENTILE(50.0), Metrics.PERCENTILE(50)],
            max_partitions_contributed=1,
            max_contributions_per_partition=1,
            min_value=0.0, max_value=1.0)


def test_public_partition_literal_edge_values(spark):
    from pipelinedp_spark.dp_engine import DPEngine
    vals = [1.5, float("inf"), float("nan")]
    got = DPEngine._as_partitions_df(spark, ["k"], vals)
    assert got.count() == 3
    with pytest.raises(ValueError, match="unsupported public-partition"):
        DPEngine._as_partitions_df(spark, ["k"], [(b"bytes",)])


def test_vector_mean_zero_noise_is_clipped_average(spark):
    import numpy as np
    from pipelinedp_spark.dp_engine import DataFrameExtractors, DPEngine
    rows = [(u, "g", [float(u), 1.0]) for u in range(8)]
    df = spark.createDataFrame(rows, "uid int, pk string, v array<double>")
    acct = pds.NaiveBudgetAccountant(1.0, 1e-6)
    engine = DPEngine(acct, noise_mode="zero")
    params = pds.AggregateParams(
        metrics=[pds.Metrics.VECTOR_MEAN],
        max_partitions_contributed=1,
        max_contributions_per_partition=1,
        vector_max_norm=100.0, vector_norm_kind=pds.NormKind.L2,
        vector_size=2)
    res = engine.aggregate(df, params,
                           DataFrameExtractors("uid", "pk", "v"),
                           public_partitions=["g", "empty"])
    acct.compute_budgets()
    got = {r["pk"]: r["vector_mean"] for r in res.dataframe().collect()}
    want = np.mean([[float(u), 1.0] for u in range(8)], axis=0)
    assert np.allclose(got["g"], want)
    assert got["empty"] == [0.0, 0.0]     # empty public partition


def test_vector_mean_clip_binding(spark):
    # One vector far outside the norm ball: the mean is over CLIPPED
    # vectors, so the release is bounded regardless of outliers.
    from pipelinedp_spark.dp_engine import DataFrameExtractors, DPEngine
    rows = [(1, "g", [3.0, 4.0]), (2, "g", [300.0, 400.0])]
    df = spark.createDataFrame(rows, "uid int, pk string, v array<double>")
    acct = pds.NaiveBudgetAccountant(1.0, 1e-6)
    engine = DPEngine(acct, noise_mode="zero")
    params = pds.AggregateParams(
        metrics=[pds.Metrics.VECTOR_MEAN],
        max_partitions_contributed=1,
        max_contributions_per_partition=1,
        vector_max_norm=5.0, vector_norm_kind=pds.NormKind.L2,
        vector_size=2)
    res = engine.aggregate(df, params,
                           DataFrameExtractors("uid", "pk", "v"),
                           public_partitions=["g"])
    acct.compute_budgets()
    got = res.dataframe().collect()[0]["vector_mean"]
    # both clipped to norm 5 on the same ray -> mean == [3, 4]
    assert got[0] == pytest.approx(3.0) and got[1] == pytest.approx(4.0)


def test_vector_mean_must_be_only_metric(spark):
    with pytest.raises(ValueError, match="only metric"):
        pds.AggregateParams(
            metrics=[pds.Metrics.VECTOR_MEAN, pds.Metrics.COUNT],
            max_partitions_contributed=1,
            max_contributions_per_partition=1,
            vector_max_norm=1.0, vector_size=2)


def test_vector_mean_private_selection_suppresses_sparse_groups(spark):
    from pipelinedp_spark.dp_engine import DataFrameExtractors, DPEngine
    rows = [(u, "big", [1.0, 0.0]) for u in range(40)] + \
           [(100, "sparse", [1.0, 0.0])]
    df = spark.createDataFrame(rows, "uid int, pk string, v array<double>")
    acct = pds.NaiveBudgetAccountant(10.0, 1e-4)
    engine = DPEngine(acct, noise_mode="zero")
    params = pds.AggregateParams(
        metrics=[pds.Metrics.VECTOR_MEAN],
        max_partitions_contributed=1,
        max_contributions_per_partition=1,
        vector_max_norm=2.0, vector_norm_kind=pds.NormKind.L2,
        vector_size=2,
        partition_selection_strategy=pds.PartitionSelectionStrategy
        .LAPLACE_THRESHOLDING)
    res = engine.aggregate(df, params,
                           DataFrameExtractors("uid", "pk", "v"))
    acct.compute_budgets()
    got = {r["pk"]: r["vector_mean"] for r in res.dataframe().collect()}
    assert "sparse" not in got          # 1 supporting user: suppressed
    assert got["big"] == [pytest.approx(1.0), pytest.approx(0.0)]
