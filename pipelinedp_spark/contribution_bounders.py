"""Contribution bounding as window-sampled DataFrame stages.

The reference bounds sensitivity by materializing per-key lists and random-
sampling them (reference: pipeline_dp/contribution_bounders.py:63-247). Here
every cap is a bounded window sample,
``row_number() OVER (PARTITION BY keys ORDER BY rand()) <= cap``, which
never materializes per-key state, keeps uniform-without-replacement
semantics, and lets AQE handle skew. Three entry points serve every DP path:

- ``bound_cross_and_per_partition``: per-(pid, pk) partial aggregates under
  an optional Linf row cap and an optional L0 key cap, merged by the
  caller's groupBy(pk). With neither cap it is the reference's no-op
  bounder, with ``l0=None`` its Linf-only sampler, and with
  ``row_sampling_needed=False`` its cross-partition-only bounder.
- ``bound_rows``: the surviving ROWS under the same two caps, for paths
  that consume rows (percentile histograms, vector sums, custom combiners).
- ``bound_per_privacy_id``: a cap on a privacy id's rows across ALL
  partitions (``max_contributions``).

Oversize split. A row cap at or above ``OVERSIZE_SPLIT_MIN_CAP`` runs
aggregate-first: one sort-free, map-side-combined pass counts every group
(computing its partials alongside), groups at or under the cap are final
as-is, and only the raw rows of oversize groups are semi-joined back (AQE
broadcasts the key set, or drops the branch when it is empty) and
window-sampled. A plain window sorts the whole input even when no group
exceeds the cap, the generous-cap regime of MEAN/VARIANCE/PERCENTILE
(measured, 30M rows in 430-row groups: 7.1s plain vs 1.9s aggregate-first).
Smaller caps keep the plain window: a small cap binds on nearly every
group, where the split does the old work plus a full hash pass (10.9s vs
3.4s). The split's output equals the plain window's row for row under
deterministic ``order_cols``.
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_RN = "__rn__"
_GC = "__gcount__"

OVERSIZE_SPLIT_MIN_CAP = 1000


def _sample_order(order_cols: Optional[Sequence[Column]]) -> List[Column]:
    # Deterministic ordering is a test hook; production uses rand() for
    # uniform-without-replacement sampling per key.
    return list(order_cols) if order_cols else [F.rand()]


def _limit_per_key(df: DataFrame, keys: Sequence[str], cap: int,
                   order_cols: Optional[Sequence[Column]]) -> DataFrame:
    """The plain-window reference: keep <= cap rows per key."""
    w = Window.partitionBy(*keys).orderBy(*_sample_order(order_cols))
    return (df.withColumn(_RN, F.row_number().over(w))
            .filter(F.col(_RN) <= cap).drop(_RN))


def _null_safe_cond(keys: Sequence[str], other: Sequence[str]) -> Column:
    """Equi-join condition under which null-valued keys group exactly as a
    window's PARTITION BY would."""
    cond = None
    for k, o in zip(keys, other):
        c = F.col(k).eqNullSafe(F.col(o))
        cond = c if cond is None else cond & c
    return cond


def _cap_rows(df: DataFrame, keys: Sequence[str], cap: int,
              order_cols: Optional[Sequence[Column]],
              partial_aggs: Optional[List[Column]] = None,
              group_keys: Optional[Sequence[str]] = None
              ) -> Tuple[DataFrame, Optional[DataFrame]]:
    """Keep <= cap rows per ``keys``; with ``partial_aggs``, return the
    kept rows' partials per ``group_keys`` (a refinement of ``keys``,
    default ``keys``) instead of the rows. The one place the oversize split
    (module docstring) is chosen.

    Returns ``(bounded, counts)``: ``counts`` is the aggregate-first pass
    (one row per ``group_keys`` with its ``__gcount__`` group count), or None
    when the plain window ran.
    """
    group_keys = list(group_keys or keys)
    if cap < OVERSIZE_SPLIT_MIN_CAP:
        kept = _limit_per_key(df, keys, cap, order_cols)
        if partial_aggs is not None:
            kept = kept.groupBy(*group_keys).agg(*partial_aggs)
        return kept, None
    counts = df.groupBy(*group_keys).agg(*(partial_aggs or []),
                                         F.count(F.lit(1)).alias(_GC))
    totals = counts
    if group_keys != list(keys):
        totals = counts.groupBy(*keys).agg(F.sum(_GC).alias(_GC))
    ok_cols = [f"__ok{i}__" for i in range(len(keys))]
    over = (totals.filter(F.col(_GC) > cap)
            .select(*[F.col(k).alias(a) for k, a in zip(keys, ok_cols)]))
    cond = _null_safe_cond(keys, ok_cols)
    resampled = _limit_per_key(df.join(over, on=cond, how="left_semi"),
                               keys, cap, order_cols)
    if partial_aggs is None:
        ok = df.join(over, on=cond, how="left_anti")
        return ok.unionByName(resampled), counts
    if totals is counts:
        ok = counts.filter(F.col(_GC) <= cap).drop(_GC)
    else:
        ok = counts.join(over, on=cond, how="left_anti").drop(_GC)
    return (ok.unionByName(resampled.groupBy(*group_keys)
                           .agg(*partial_aggs)), counts)


def bound_cross_and_per_partition(
        df: DataFrame,
        pid_col: str,
        pk_cols: Sequence[str],
        partial_aggs: List[Column],
        l0: Optional[int] = None,
        linf: Optional[int] = None,
        row_sampling_needed: bool = True,
        order_cols: Optional[Sequence[Column]] = None) -> DataFrame:
    """Per-(pid, pk) partials under an optional Linf row cap and an
    optional L0 cap on partitions per privacy id (reference:
    contribution_bounders.py:63-247, every sampling bounder).

    ``row_sampling_needed=False`` is the fast path for partials that do not
    depend on WHICH rows survive (COUNT is ``least(count, linf)`` whatever
    the sample; a per-partition sum clip bounds the sum itself): no Linf
    window runs, and the caller caps inside ``partial_aggs``.
    """
    keys = [pid_col, *pk_cols]
    if row_sampling_needed and linf is not None:
        per_pid_pk, _ = _cap_rows(df, keys, linf, order_cols, partial_aggs)
    else:
        per_pid_pk = df.groupBy(*keys).agg(*partial_aggs)
    if l0 is not None:
        per_pid_pk = _limit_per_key(per_pid_pk, [pid_col], l0, order_cols)
    return per_pid_pk


def bound_rows(df: DataFrame, pid_col: str, pk_cols: Sequence[str],
               l0: Optional[int], linf: Optional[int],
               order_cols: Optional[Sequence[Column]] = None) -> DataFrame:
    """The rows that survive an optional Linf cap of rows per (pid, pk) and
    then an optional L0 sample of (pid, pk) keys per privacy id. The key
    sample is drawn from the oversize split's count pass when it ran, else
    from the distinct keys, and joined back null-safely."""
    keys = [pid_col, *pk_cols]
    counts = None
    if linf is not None:
        df, counts = _cap_rows(df, keys, linf, order_cols)
    if l0 is None:
        return df
    pairs = (df.select(*keys).distinct() if counts is None
             else counts.select(*keys))
    sampled_cols = [f"__l0k{i}__" for i in range(len(keys))]
    keyset = _limit_per_key(pairs, [pid_col], l0, order_cols).select(
        *[F.col(k).alias(a) for k, a in zip(keys, sampled_cols)])
    return df.join(keyset, on=_null_safe_cond(keys, sampled_cols),
                   how="left_semi")


def bound_per_privacy_id(
        df: DataFrame,
        pid_col: str,
        pk_cols: Sequence[str],
        partial_aggs: List[Column],
        max_contributions: int,
        order_cols: Optional[Sequence[Column]] = None) -> DataFrame:
    """Total-contributions (L1-style) bounding
    (reference: contribution_bounders.py:115-157): keep <= max_contributions
    rows per privacy id across ALL partitions, then aggregate per (pid, pk).
    """
    bounded, _ = _cap_rows(df, [pid_col], max_contributions, order_cols,
                           partial_aggs, group_keys=[pid_col, *pk_cols])
    return bounded
