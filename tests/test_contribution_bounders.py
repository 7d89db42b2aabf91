"""Parity of the contribution bounders with the plain-window reference.

Every case runs a public bounder and rebuilds its output from
``_limit_per_key`` (``row_number() OVER (PARTITION BY keys ORDER BY ...)
<= cap``) under one deterministic ordering, and compares row for row.
``F.struct("*")`` orders each window by every column of the frame it runs
over, so the same ``order_cols`` resolve on raw rows, per-(pid, pk)
partials and key pairs alike.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

import pipelinedp_spark as pds
from pipelinedp_spark import contribution_bounders as B
from pipelinedp_spark.aggregate_params import MechanismType
from pipelinedp_spark.dp_engine import (CustomCombiner, DataFrameExtractors,
                                        DPEngine)

pytestmark = pytest.mark.dp

KEYS = ["pid", "pk"]
BIG = B.OVERSIZE_SPLIT_MIN_CAP


@pytest.fixture(scope="module")
def df(spark):
    # Group sizes straddle both caps (3 and BIG) and sit exactly at them;
    # every privacy id contributes to more partitions than l0 = 2; null
    # pid and null pk keys each form their own group.
    groups = {(1, "a"): BIG + 5, (1, "b"): 2, (1, "c"): 4, (1, None): 5,
              (2, "a"): 4, (2, "b"): 1, (2, "c"): BIG,
              (None, "a"): 6, (None, "b"): 2, (None, None): 3}
    rows = [(pid, pk, i) for (pid, pk), n in groups.items()
            for i in range(n)]
    return spark.createDataFrame(rows, "pid int, pk string, v int")


def _order():
    return [F.struct("*")]


def _partials():
    return [F.sum("v").alias("s"), F.count(F.lit(1)).alias("c")]


def _rows(frame):
    return sorted(map(str, frame.collect()))


def _reference(df, kind, l0, linf, row_sampling):
    """The plain-window composition each bounder must reproduce."""
    rows = df
    if linf is not None and (kind == "rows" or row_sampling):
        rows = B._limit_per_key(df, KEYS, linf, _order())
    if kind == "partials":
        out = rows.groupBy(*KEYS).agg(*_partials())
        if l0 is not None:
            out = B._limit_per_key(out, ["pid"], l0, _order())
        return _rows(out)
    if l0 is None:
        return _rows(rows)
    kept = {tuple(r) for r in B._limit_per_key(
        rows.select(*KEYS).distinct(), ["pid"], l0, _order()).collect()}
    return sorted(str(r) for r in rows.collect()
                  if (r["pid"], r["pk"]) in kept)


CASES = [(kind, l0, linf, sampling)
         for kind in ("partials", "rows")
         for l0 in (None, 2)
         for linf in (None, 3, BIG)
         for sampling in ((True, False) if kind == "partials" else (True,))]


@pytest.mark.parametrize("kind,l0,linf,row_sampling", CASES)
def test_bounder_matches_plain_window(df, kind, l0, linf, row_sampling):
    if kind == "partials":
        got = B.bound_cross_and_per_partition(
            df, "pid", ["pk"], _partials(), l0, linf,
            row_sampling_needed=row_sampling, order_cols=_order())
    else:
        got = B.bound_rows(df, "pid", ["pk"], l0, linf, _order())
    assert _rows(got) == _reference(df, kind, l0, linf, row_sampling)


def test_oversize_split_at_small_caps(spark, monkeypatch):
    """Aggregate-first bounding forced at small caps must produce ROW-FOR-
    ROW the per-key partials of the plain sample-then-aggregate plan under
    deterministic ordering — mixed under/over-cap groups and null-valued
    keys included."""
    rows = ([(1, "a", i) for i in range(7)]       # over cap
            + [(1, "b", i) for i in range(2)]     # under cap
            + [(2, "a", i) for i in range(4)]     # at boundary+1
            + [(None, "a", i) for i in range(6)]  # null pid, over cap
            + [(3, None, i) for i in range(5)])   # null pk, over cap
    df = spark.createDataFrame(rows, "pid int, pk string, v int")
    order = [F.col("v")]
    partials = _partials()
    plain = (B._limit_per_key(df, KEYS, 3, order)
             .groupBy(*KEYS).agg(*partials).collect())
    monkeypatch.setattr(B, "OVERSIZE_SPLIT_MIN_CAP", 1)
    split = B.bound_cross_and_per_partition(df, "pid", ["pk"], partials,
                                            linf=3, order_cols=order)
    assert "__gcount__" in split._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert sorted(map(str, plain)) == _rows(split)
    # no-oversize cap: everything aggregates directly
    all_rows = B.bound_cross_and_per_partition(
        df, "pid", ["pk"], partials, linf=100, order_cols=order)
    assert _rows(all_rows) == sorted(map(str, (
        df.groupBy(*KEYS).agg(*partials).collect())))
    # per-privacy-id (L1) bounder: cap key coarser than agg key, under
    # both plans
    l1_plain = sorted(map(str, B._limit_per_key(df, ["pid"], 5, order)
                          .groupBy(*KEYS).agg(*partials).collect()))
    assert _rows(B.bound_per_privacy_id(df, "pid", ["pk"], partials, 5,
                                        order)) == l1_plain
    monkeypatch.setattr(B, "OVERSIZE_SPLIT_MIN_CAP", BIG)
    assert _rows(B.bound_per_privacy_id(df, "pid", ["pk"], partials, 5,
                                        order)) == l1_plain


def test_bound_rows_generous_cap_parity(spark):
    """Row-output oversize cap (vector/custom/percentile paths): identical
    rows to the plain window under deterministic ordering, both regimes."""
    rows = ([(1, "a", i) for i in range(2500)]
            + [(2, "a", i) for i in range(10)]
            + [(2, "b", i) for i in range(1200)])
    df = spark.createDataFrame(rows, "pid int, pk string, v int")
    order = [F.col("v")]
    plain = B._limit_per_key(df, KEYS, 1000, order).collect()
    split = B.bound_rows(df, "pid", ["pk"], None, 1000, order).collect()
    assert sorted(map(str, plain)) == sorted(map(str, split))
    assert len(split) == 1000 + 10 + 1000
    # binding-regime cap (< threshold) takes the plain window
    small = B.bound_rows(df, "pid", ["pk"], None, 5, order).collect()
    assert len(small) == 15


def _count_combiner():
    class CountRows(CustomCombiner):
        output_schema = "n double"

        def request_budget(self, accountant):
            self.spec = accountant.request_budget(MechanismType.LAPLACE)

        def compute(self, pdf: pd.DataFrame) -> dict:
            return {"n": float(len(pdf))}

    return CountRows()


@pytest.mark.parametrize("path", ["percentile", "vector_sum", "custom"])
def test_row_paths_skip_l0_when_cross_partition_bounding_off(spark, path):
    """One user in three public partitions with l0 = 1: with
    cross-partition bounding off every partition keeps its row (the data
    is asserted to satisfy L0 already), as the scalar path does."""
    parts = ["a", "b", "c"]
    df = spark.createDataFrame([(1, pk, 5.0, [1.0, 0.0]) for pk in parts],
                               "uid int, pk string, v double, "
                               "vec array<double>")
    acct = pds.NaiveBudgetAccountant(1.0, 1e-6)
    engine = DPEngine(acct, noise_mode="zero")
    common = dict(max_partitions_contributed=1,
                  max_contributions_per_partition=1,
                  perform_cross_partition_contribution_bounding=False)
    if path == "percentile":
        params = pds.AggregateParams(metrics=[pds.Metrics.PERCENTILE(50)],
                                     min_value=0.0, max_value=10.0, **common)
        res = engine.aggregate(df, params,
                               DataFrameExtractors("uid", "pk", "v"), parts)
        col, check = "percentile_50", lambda x: x > 0.0
    elif path == "vector_sum":
        params = pds.AggregateParams(metrics=[pds.Metrics.VECTOR_SUM],
                                     vector_max_norm=1.0, vector_size=2,
                                     **common)
        res = engine.aggregate(df, params,
                               DataFrameExtractors("uid", "pk", "vec"), parts)
        col, check = "vector_sum", lambda x: list(x) == [1.0, 0.0]
    else:
        params = pds.AggregateParams(metrics=[],
                                     custom_combiners=[_count_combiner()],
                                     **common)
        res = engine.aggregate(df, params,
                               DataFrameExtractors("uid", "pk", "v"), parts)
        col, check = "n", lambda x: x == 1.0
    acct.compute_budgets()
    got = {r["pk"]: r[col] for r in res.dataframe().collect()}
    assert sorted(got) == parts
    assert all(check(v) for v in got.values()), got
