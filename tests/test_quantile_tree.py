"""Quantile-tree sketch: pure descent math, engine integration, and the
skewed-distribution comparison against the flat histogram sketch."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

import pipelinedp_spark as pds
from pipelinedp_spark import quantile_tree as qt

pytestmark = pytest.mark.dp


def _leaf_hist(values, lo, hi):
    leaves = np.clip(((np.asarray(values) - lo) / (hi - lo)
                      * qt.num_leaves()).astype(np.int64),
                     0, qt.num_leaves() - 1)
    ids, counts = np.unique(leaves, return_counts=True)
    return ids, counts.astype(float)


ZERO = lambda: 0.0


def test_zero_noise_descent_matches_numpy_quantiles():
    rng = np.random.default_rng(0)
    vals = rng.uniform(0.0, 100.0, size=5000)
    ids, counts = _leaf_hist(vals, 0.0, 100.0)
    got = qt.compute_tree_quantiles(ids, counts, [10, 50, 90, 99],
                                    0.0, 100.0, ZERO)
    want = np.percentile(vals, [10, 50, 90, 99])
    leaf_width = 100.0 / qt.num_leaves()
    for g, w in zip(got, want):
        # exact up to leaf resolution + within-leaf interpolation
        assert abs(g - w) < 10 * leaf_width + 0.05


def test_descent_handles_point_mass():
    # all mass at one value: every quantile lands in that leaf
    ids, counts = _leaf_hist([42.0] * 1000, 0.0, 100.0)
    got = qt.compute_tree_quantiles(ids, counts, [1, 50, 99], 0.0, 100.0,
                                    ZERO)
    for g in got:
        assert abs(g - 42.0) < 100.0 / qt.num_leaves() + 1e-9


def test_quantiles_share_noise_and_are_monotone():
    """All quantiles are computed from ONE noisy tree (memoized draws), so
    they must be monotone in q even under heavy noise."""
    rng = np.random.default_rng(7)
    vals = rng.normal(50.0, 10.0, size=2000).clip(0, 100)
    ids, counts = _leaf_hist(vals, 0.0, 100.0)
    noise = qt.make_noise_fn("secure", "laplace", 5.0,
                             np.random.default_rng(3))
    got = qt.compute_tree_quantiles(ids, counts,
                                    [5, 25, 50, 75, 95], 0.0, 100.0, noise)
    assert all(a <= b + 1e-9 for a, b in zip(got, got[1:]))


def test_empty_tree_returns_domain_values():
    got = qt.compute_tree_quantiles(np.array([], dtype=np.int64),
                                    np.array([]), [50], 0.0, 10.0, ZERO)
    assert 0.0 <= got[0] <= 10.0


def _run_percentile(spark, df, algorithm, noise_mode="zero", eps=1.0,
                    bins=256):
    acct = pds.NaiveBudgetAccountant(eps, 1e-6)
    engine = pds.DPEngine(acct, noise_mode=noise_mode)
    params = pds.AggregateParams(
        metrics=[pds.Metrics.PERCENTILE(25), pds.Metrics.PERCENTILE(50),
                 pds.Metrics.PERCENTILE(90)],
        max_partitions_contributed=1,
        max_contributions_per_partition=1,
        min_value=0.0, max_value=1000.0,
        percentile_bins=bins,
        percentile_algorithm=algorithm)
    res = engine.aggregate(df, params,
                           pds.DataFrameExtractors("uid", "grp", "v"),
                           public_partitions=[0, 1])
    acct.compute_budgets()
    return {r["grp"]: (r["percentile_25"], r["percentile_50"],
                       r["percentile_90"]) for r in
            res.dataframe().collect()}


def _skewed_df(spark, n=4000):
    """Log-skewed values in [0, 1000]: 95% of mass below 50, a thin tail
    to 1000 — the regime where a flat 256-bin histogram puts nearly all
    data into a handful of bins and noise on the ~250 empty bins swamps
    the tail quantiles."""
    return spark.range(n).select(
        F.col("id").alias("uid"),
        (F.col("id") % 2).alias("grp"),
        F.least(F.lit(1000.0),
                F.exp(F.pmod(F.col("id") * 2654435761, 1000) / F.lit(145.0)))
        .alias("v"))


def test_engine_tree_zero_noise_matches_histogram(spark):
    """Zero noise: both sketches must land within their resolution of the
    true quantiles (tree resolution is 16x finer than 256 bins)."""
    df = _skewed_df(spark)
    vals = np.array([r["v"] for r in df.filter("grp = 0").collect()])
    want = np.percentile(vals, [25, 50, 90])
    tree = _run_percentile(spark, df, "tree")[0]
    hist = _run_percentile(spark, df, "histogram")[0]
    # Both sketches share the rank convention (rank = q/100 * total with
    # within-bin interpolation), so at zero noise they must agree within
    # the coarser (histogram) resolution; numpy's order-statistic
    # interpolation differs slightly, so only a loose sanity bound there.
    hist_res = 1000.0 / 256
    for t, h, w in zip(tree, hist, want):
        assert abs(t - h) <= hist_res + 1e-6, (tree, hist)
        assert abs(t - w) <= 2.0, (tree, want)


def test_tree_beats_flat_histogram_at_equal_resolution_secure(spark):
    """The tree's reason to exist: at the tree's own leaf resolution
    (16^4 bins) a FLAT noisy histogram accumulates noise from tens of
    thousands of bins in every cumulative count, while the hierarchical
    descent touches only height*branching = 64 noisy nodes. At eps=1 on
    the skewed distribution the tree's median quantile error must beat
    the equal-resolution flat histogram by a wide margin, and stay small
    in absolute terms."""
    df = _skewed_df(spark)
    vals = np.array([r["v"] for r in df.filter("grp = 0").collect()])
    want = np.percentile(vals, [25, 50, 90])

    def errs(algorithm, bins, runs=3):
        out = []
        for _ in range(runs):
            got = _run_percentile(spark, df, algorithm,
                                  noise_mode="secure", eps=1.0,
                                  bins=bins)[0]
            out.extend(abs(g - w) for g, w in zip(got, want))
        return float(np.median(out))

    tree_err = errs("tree", bins=256)  # bins ignored by the tree path
    flat_err = errs("histogram", bins=qt.num_leaves())
    assert tree_err < 0.5 * flat_err, (tree_err, flat_err)
    assert tree_err < 25.0
