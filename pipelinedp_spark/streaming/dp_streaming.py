"""DP aggregations over Structured Streaming.

Net-new (the reference is batch-only: SURVEY.md §2.F). Streaming bounds
its own partials and releases them through the batch engine:

  watermark -> event-time window [-> session stage] -> per-(user, window)
  bounded partial -> DPEngine.aggregate_partials (window = partition key)

Each DP window aggregation spends through its own budget accountant and
takes its noise from the engine.

The batch bounders sample rows per (user, partition) with a window sort,
which is not available mid-stream; instead each per-(user, window) partial
is capped with least()/clip() — the batch engine's count fast path, with
the same sensitivity (each user moves a window's aggregate by at most
linf / the clip range). Cross-window L0 bounding has no streaming
equivalent with bounded state, so epsilon spends per *window* and callers
bound user scope by keying windows into the privacy unit via
`l0_per_window` (documented, mirrors production DP streaming systems).
Chained stateful aggregations require Spark >= 3.4 append-mode
multiple-stateful-operator support; all share the event-time watermark.

**Window-presence privacy.** A streaming stateful aggregation only ever
produces groups that received data, so a window row's *existence* reveals
"at least one event happened in this window". When ``delta_per_window > 0``
(and ``threshold_windows`` is not explicitly disabled) a window is released
only if its noisy privacy-id count clears a threshold: the engine's
post-aggregation thresholding (reference: pipeline_dp/combiners.py:
360-416). Budget split: epsilon evenly between the metric and the
privacy-id count; delta evenly among the mechanisms that use it, half of
the privacy-id count's share funding the threshold — delta/2 under Laplace
noise, delta/4 under Gaussian. With ``delta_per_window == 0`` and
``threshold_windows=None`` the output would be (eps, 0)-DP only
*conditional on the released window set*, safe only when the window grid
is public knowledge (e.g. "every hour has traffic"). Callers wanting that
must pass ``threshold_windows=False`` explicitly (every window present is
then a public key); otherwise a pure-eps budget raises.

**Checkpoints.** Count, sum, mean, variance and session-count state holds
the engine's merged partials, percentile state the engine's per-window
sparse histogram, and vector-sum state the engine's per-(window, position)
sums and per-window vector. Checkpoints written before these functions
released through the engine cannot be resumed (their state can match by
type with columns swapped, and percentile and vector-sum state changed
shape): restart such queries from an empty checkpoint.

**Relational state.** Near-dup, line, sentence and semantic dedup and
CDC maintenance (`streaming_apply_changes`) keep state that is a table,
not per-key scalars: applyInPandasWithState cannot express a multi-key
membership test such as near-dup's one doc -> ``num_blocks`` block
groups. Each runs as an availableNow foreachBatch query: per
micro-batch it reads the parquet state, runs its ``*_batch`` step
(callable from batch code too), appends the step's output to the output
path, then writes the new state. Near-dup APPENDS its kept docs' block
rows to the state; line, sentence and semantic dedup and the CDC
snapshot OVERWRITE theirs with the merged state, which the step
localCheckpoints first so the write never deletes files it still reads.

"No state" means the state path does not exist: only then does a batch
start from empty state. Any other read failure (a corrupt part file, an
emptied directory) fails the micro-batch and leaves the state as it
was; read as "no state", it would replace the accumulated state with
one batch's. A trigger with zero rows still writes a readable state.

Replay caveat: the checkpoint guarantees each input file is PROCESSED
once, but a batch replayed after a failure between its writes and the
checkpoint commit can append its output (and near-dup's state rows)
twice, or run against state that already holds it. An ACID table
format's MERGE closes that window; it is out of scope here. The CDC
snapshot is immune: versions are absolute, so a replay is idempotent.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from pipelinedp_spark.aggregate_params import (AggregateParams, MetricSpec,
                                               Metrics, NoiseKind, NormKind)
from pipelinedp_spark.budget_accounting import NaiveBudgetAccountant
from pipelinedp_spark.dp_engine import (PARTIAL_COUNT, PARTIAL_NORM_SQ,
                                        PARTIAL_NORM_SUM, PARTIAL_POS,
                                        PARTIAL_SUM, PARTIAL_VALUE,
                                        PERCENTILE_TOTAL, DPEngine)
from pipelinedp_spark import store


def _clip(col: Column, lo: float, hi: float) -> Column:
    return F.greatest(F.least(col, F.lit(float(hi))), F.lit(float(lo)))


def _resolve_thresholding(threshold_windows: Optional[bool],
                          delta_per_window: float,
                          noise_kind: NoiseKind) -> bool:
    """Default: threshold whenever a delta budget exists; refuse the silent
    presence leak on a pure-eps budget unless explicitly waived. Gaussian
    noise needs a delta either way."""
    if noise_kind == NoiseKind.GAUSSIAN and delta_per_window <= 0.0:
        raise ValueError("Gaussian noise requires delta_per_window > 0")
    if threshold_windows is None:
        if delta_per_window <= 0.0:
            raise ValueError(
                "delta_per_window == 0 cannot fund DP window selection, and "
                "a streaming aggregation releases window *presence* exactly. "
                "Pass threshold_windows=False only if the window grid is "
                "public knowledge, or provide delta_per_window > 0.")
        return True
    if threshold_windows and delta_per_window <= 0.0:
        raise ValueError("threshold_windows=True requires "
                         "delta_per_window > 0")
    return threshold_windows


def _per_user_window(stream: DataFrame, privacy_id_col: str,
                     timestamp_col: str, window_duration: str,
                     watermark_delay: str, *partials: Column,
                     slide_duration: Optional[str] = None,
                     keys: Sequence[str] = ()) -> DataFrame:
    """Per-(user, event-time window[, keys]) partials behind the
    watermark."""
    return (stream
            .withWatermark(timestamp_col, watermark_delay)
            .groupBy(F.col(privacy_id_col).alias("__pid__"),
                     F.window(F.col(timestamp_col), window_duration,
                              slide_duration).alias("window"), *keys)
            .agg(*partials))


def _release_windows(per_user: DataFrame, metrics: List[MetricSpec],
                     threshold_windows: Optional[bool],
                     epsilon_per_window: float, delta_per_window: float,
                     noise_kind: NoiseKind, noise_mode: str,
                     l0_per_window: int, linf: Optional[int] = None,
                     **bounds) -> DataFrame:
    """Release per-(user, window) partials through the engine, the window
    as partition key; AggregateParams validates the caps and bounds."""
    do_threshold = _resolve_thresholding(threshold_windows, delta_per_window,
                                         noise_kind)
    if do_threshold and Metrics.PRIVACY_ID_COUNT not in metrics:
        metrics = [*metrics, Metrics.PRIVACY_ID_COUNT]
    # threshold_windows=False: the caller asserts the window grid is
    # public, so every window present is declared a public key. This is
    # the only caller that sets the flag without public partitions.
    params = AggregateParams(
        metrics=metrics, max_partitions_contributed=l0_per_window,
        max_contributions_per_partition=linf, noise_kind=noise_kind,
        post_aggregation_thresholding=do_threshold,
        public_partitions_already_filtered=not do_threshold, **bounds)
    accountant = NaiveBudgetAccountant(epsilon_per_window, delta_per_window)
    result = DPEngine(accountant, noise_mode).aggregate_partials(
        per_user, params, ["window"])
    accountant.compute_budgets()
    return result.dataframe()


def dp_streaming_count(stream: DataFrame,
                       privacy_id_col: str,
                       timestamp_col: str,
                       window_duration: str,
                       watermark_delay: str,
                       epsilon_per_window: float,
                       max_contributions_per_window: int,
                       l0_per_window: int = 1,
                       noise_kind: NoiseKind = NoiseKind.LAPLACE,
                       delta_per_window: float = 0.0,
                       noise_mode: str = "secure",
                       slide_duration: Optional[str] = None,
                       threshold_windows: Optional[bool] = None) -> DataFrame:
    """DP event count per event-time window.

    Plan: watermark -> groupBy(pid, window) count capped at linf -> the
    engine's release. Returns (window, count, privacy_id_count), noised
    doubles; the released privacy_id_count is the SAME noisy draw the
    window threshold saw.

    ``threshold_windows=None`` (default) enables selection and requires
    ``delta_per_window > 0``; passing ``False`` asserts the window grid is
    public and releases every non-empty window (presence leak documented in
    the module docstring).
    """
    per_user = _per_user_window(
        stream, privacy_id_col, timestamp_col, window_duration,
        watermark_delay,
        F.least(F.count(F.lit(1)), F.lit(max_contributions_per_window))
        .alias(PARTIAL_COUNT), slide_duration=slide_duration)
    return _release_windows(
        per_user, [Metrics.COUNT, Metrics.PRIVACY_ID_COUNT],
        threshold_windows, epsilon_per_window, delta_per_window, noise_kind,
        noise_mode, l0_per_window, max_contributions_per_window)


def dp_streaming_sum(stream: DataFrame,
                     privacy_id_col: str,
                     timestamp_col: str,
                     value_col: str,
                     window_duration: str,
                     watermark_delay: str,
                     epsilon_per_window: float,
                     min_sum_per_window: float,
                     max_sum_per_window: float,
                     l0_per_window: int = 1,
                     noise_kind: NoiseKind = NoiseKind.LAPLACE,
                     delta_per_window: float = 0.0,
                     noise_mode: str = "secure",
                     threshold_windows: Optional[bool] = None) -> DataFrame:
    """DP sum per event-time window with a per-(user, window) sum clip —
    the batch engine's per-partition clipping regime. Window selection as
    in dp_streaming_count. Returns (window, sum)."""
    per_user = _per_user_window(
        stream, privacy_id_col, timestamp_col, window_duration,
        watermark_delay,
        _clip(F.sum(F.col(value_col).cast(DoubleType())),
              min_sum_per_window, max_sum_per_window).alias(PARTIAL_SUM))
    return _release_windows(
        per_user, [Metrics.SUM], threshold_windows, epsilon_per_window,
        delta_per_window, noise_kind, noise_mode, l0_per_window,
        min_sum_per_partition=min_sum_per_window,
        max_sum_per_partition=max_sum_per_window).select("window", "sum")


def _normalized_partials(value_col: str, min_value: float, max_value: float,
                         linf: int, squares: bool) -> List[Column]:
    """Capped count and normalized-sum partials of MEAN / VARIANCE: each
    value is clipped to [min_value, max_value] (as in batch) and centred on
    the midpoint; the per-user sums are then clipped at linf times their
    per-value range. Deviation from batch: a user with more than linf rows
    is clipped toward the cap, not row-sampled (a stream cannot
    order-sample rows); the sensitivity is the same."""
    half = (max_value - min_value) / 2.0
    nval = (_clip(F.col(value_col).cast(DoubleType()), min_value, max_value)
            - F.lit((min_value + max_value) / 2.0))
    partials = [F.least(F.count(F.lit(1)), F.lit(linf)).alias(PARTIAL_COUNT),
                _clip(F.sum(nval), -linf * half, linf * half)
                .alias(PARTIAL_NORM_SUM)]
    if squares:
        partials.append(_clip(F.sum(nval * nval), 0.0, linf * half * half)
                        .alias(PARTIAL_NORM_SQ))
    return partials


def dp_streaming_mean(stream: DataFrame,
                      privacy_id_col: str,
                      timestamp_col: str,
                      value_col: str,
                      window_duration: str,
                      watermark_delay: str,
                      epsilon_per_window: float,
                      min_value: float,
                      max_value: float,
                      max_contributions_per_window: int,
                      l0_per_window: int = 1,
                      noise_kind: NoiseKind = NoiseKind.LAPLACE,
                      delta_per_window: float = 0.0,
                      noise_mode: str = "secure",
                      threshold_windows: Optional[bool] = None) -> DataFrame:
    """DP mean per event-time window: the batch engine's normalized-sum
    construction (noisy clipped-sum / noisy capped-count, each with half
    the metric budget). Window selection as in dp_streaming_count.
    Returns (window, mean)."""
    linf = max_contributions_per_window
    per_user = _per_user_window(
        stream, privacy_id_col, timestamp_col, window_duration,
        watermark_delay,
        *_normalized_partials(value_col, min_value, max_value, linf, False))
    return _release_windows(
        per_user, [Metrics.MEAN], threshold_windows, epsilon_per_window,
        delta_per_window, noise_kind, noise_mode, l0_per_window, linf,
        min_value=min_value, max_value=max_value).select("window", "mean")


def dp_streaming_variance(stream: DataFrame,
                          privacy_id_col: str,
                          timestamp_col: str,
                          value_col: str,
                          window_duration: str,
                          watermark_delay: str,
                          epsilon_per_window: float,
                          min_value: float,
                          max_value: float,
                          max_contributions_per_window: int,
                          l0_per_window: int = 1,
                          noise_kind: NoiseKind = NoiseKind.LAPLACE,
                          delta_per_window: float = 0.0,
                          noise_mode: str = "secure",
                          threshold_windows: Optional[bool] = None
                          ) -> DataFrame:
    """DP variance per event-time window: the batch engine's three-part
    construction (noisy capped count, normalized sum and sum of squares,
    each with a third of the metric budget; reference
    pipeline_dp/dp_computations.py:284-312) on the partials of
    dp_streaming_mean. Window selection as in dp_streaming_count.
    Returns (window, variance)."""
    linf = max_contributions_per_window
    per_user = _per_user_window(
        stream, privacy_id_col, timestamp_col, window_duration,
        watermark_delay,
        *_normalized_partials(value_col, min_value, max_value, linf, True))
    return _release_windows(
        per_user, [Metrics.VARIANCE], threshold_windows, epsilon_per_window,
        delta_per_window, noise_kind, noise_mode, l0_per_window, linf,
        min_value=min_value, max_value=max_value).select("window",
                                                         "variance")


def streaming_exact_dedup(stream: DataFrame,
                          fingerprint_col: str,
                          id_col: str,
                          timeout_minutes: Optional[int] = None) -> DataFrame:
    """Custom stateful operator: emit only the FIRST occurrence of each
    fingerprint across the whole stream (exact online dedup).

    applyInPandasWithState keeps one boolean per fingerprint group; state
    is partitioned by the fingerprint hash, so it scales horizontally, and
    an optional processing-time timeout bounds state for unbounded key
    spaces (trade exactness past the horizon for bounded memory — the
    standard production compromise).
    Returns (fingerprint, id) of first occurrences, update mode.
    """
    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    out_schema = StructType([
        StructField("fingerprint", StringType()),
        StructField(id_col, LongType()),
    ])
    state_schema = StructType([StructField("seen", LongType())])
    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if timeout_minutes else GroupStateTimeout.NoTimeout)
    ms = timeout_minutes

    def dedup_fn(key, pdfs, state: "GroupState"):
        if state.hasTimedOut:
            state.remove()
            return
        first_id = None
        for pdf in pdfs:
            if len(pdf) and first_id is None:
                first_id = int(pdf[id_col].min())
        if not state.exists and first_id is not None:
            state.update((1,))
            if ms:
                state.setTimeoutDuration(ms * 60 * 1000)
            yield pd.DataFrame({"fingerprint": [key[0]],
                                id_col: [first_id]})

    renamed = stream.select(
        F.col(fingerprint_col).alias("fingerprint"), F.col(id_col))
    return (renamed
            .groupBy("fingerprint")
            .applyInPandasWithState(dedup_fn, out_schema, state_schema,
                                    "update", timeout))


def session_window_counts(stream: DataFrame,
                          privacy_id_col: str,
                          timestamp_col: str,
                          gap_duration: str,
                          watermark_delay: str) -> DataFrame:
    """Per-user session windows (non-DP building block): sessions close
    after `gap_duration` of inactivity; state is bounded by the watermark.
    Returns (pid, session_window, n_events)."""
    return (stream
            .withWatermark(timestamp_col, watermark_delay)
            .groupBy(F.col(privacy_id_col).alias("pid"),
                     F.session_window(F.col(timestamp_col), gap_duration)
                     .alias("session_window"))
            .agg(F.count(F.lit(1)).alias("n_events")))


def dp_streaming_session_count(stream: DataFrame,
                               privacy_id_col: str,
                               timestamp_col: str,
                               gap_duration: str,
                               window_duration: str,
                               watermark_delay: str,
                               epsilon_per_window: float,
                               max_sessions_per_window: int,
                               l0_per_window: int = 1,
                               noise_kind: NoiseKind = NoiseKind.LAPLACE,
                               delta_per_window: float = 0.0,
                               noise_mode: str = "secure",
                               threshold_windows: Optional[bool] = None
                               ) -> DataFrame:
    """DP count of closed user sessions per tumbling event-time window.

    THREE chained stateful aggregations (Spark >= 3.4 multi-stateful
    append-mode support, validated on 4.1):

      per-user ``session_window`` close
      -> per-(user, tumble) session count capped at
         ``max_sessions_per_window``
      -> per-window merge (session sum + privacy-id count)

    A session is attributed to the tumbling window containing its session
    END (last event + gap, EXCLUSIVE boundary: a session ending exactly on
    a window edge belongs to the earlier window) — the chained-window
    assignment Spark implements for ``window(session_window_col, dur)``.
    Sensitivity mirrors dp_streaming_count with sessions as the
    contribution unit: a user moves a window's session count by at most
    linf and its privacy-id count by 1. Window selection as in
    dp_streaming_count. Returns (window, session_count,
    privacy_id_count), noised doubles.
    """
    sessions = (stream
                .withWatermark(timestamp_col, watermark_delay)
                .groupBy(F.col(privacy_id_col).alias("__pid__"),
                         F.session_window(F.col(timestamp_col), gap_duration)
                         .alias("__sw__"))
                .agg(F.count(F.lit(1)).alias("__n_events__")))
    per_user = (sessions
                .groupBy("__pid__",
                         F.window(F.col("__sw__"), window_duration)
                         .alias("window"))
                .agg(F.least(F.count(F.lit(1)),
                             F.lit(max_sessions_per_window))
                     .alias(PARTIAL_COUNT)))
    return _release_windows(
        per_user, [Metrics.COUNT, Metrics.PRIVACY_ID_COUNT],
        threshold_windows, epsilon_per_window, delta_per_window, noise_kind,
        noise_mode, l0_per_window, max_sessions_per_window
    ).withColumnRenamed("count", "session_count")


def dp_streaming_vector_sum(stream: DataFrame,
                            privacy_id_col: str,
                            timestamp_col: str,
                            vector_col: str,
                            window_duration: str,
                            watermark_delay: str,
                            epsilon_per_window: float,
                            max_abs_per_dim: float,
                            dims: int,
                            noise_kind: NoiseKind = NoiseKind.LAPLACE,
                            delta_per_window: float = 0.0,
                            noise_mode: str = "secure",
                            threshold_windows: bool = False) -> DataFrame:
    """DP element-wise vector sum per event-time window: the batch
    VECTOR_SUM metric, released by the engine
    (``DPEngine.aggregate_partials``, window as partition key, one
    ``NaiveBudgetAccountant(epsilon_per_window, delta_per_window)``), in the
    per-partition-clip regime: each user's per-(window, dim) sum is clipped
    to [-max_abs_per_dim, +max_abs_per_dim], which bounds the Linf norm of
    the user's per-window vector by ``max_abs_per_dim`` (the norm kinds
    that clip individual contribution vectors need the whole vector at
    once, which a dim-exploded stateful aggregation cannot see; batch
    covers those). The release declares that bound: LINF norm,
    ``max_norm = max_abs_per_dim``, one contribution per (user, window), so
    the noise on each element is scaled to L1 = dims * max_abs_per_dim
    (Laplace) or L2 = sqrt(dims) * max_abs_per_dim (Gaussian). Returns
    (window, dim, vector_sum) rows — callers pivot or collect dims
    downstream of the sink.

    Window thresholding is NOT supported: a vector metric is released
    alone, without the privacy-id count a window threshold reads, and
    thresholding the per-dim rows one by one could release a window for
    some dims but not others. Only a PUBLIC window grid is safe;
    ``threshold_windows=True`` raises.
    """
    if dims < 1:
        raise ValueError("dims must be positive")
    if threshold_windows:
        raise ValueError(
            "dp_streaming_vector_sum cannot threshold windows: a vector "
            "metric has no privacy-id count to threshold on, and per-dim "
            "thresholds could release a window for some dims but not "
            "others. Use it only when the window grid is public knowledge "
            "(threshold_windows=False).")
    exploded = stream.select(
        F.col(privacy_id_col).alias("__pid__"),
        F.col(timestamp_col),
        F.posexplode(F.col(vector_col)).alias(PARTIAL_POS, "__v__"))
    per_user = _per_user_window(
        exploded, "__pid__", timestamp_col, window_duration, watermark_delay,
        _clip(F.sum(F.col("__v__").cast(DoubleType())), -max_abs_per_dim,
              max_abs_per_dim).alias(PARTIAL_SUM), keys=[PARTIAL_POS])
    out = _release_windows(
        per_user, [Metrics.VECTOR_SUM], threshold_windows, epsilon_per_window,
        delta_per_window, noise_kind, noise_mode, 1, 1,
        vector_norm_kind=NormKind.LINF, vector_max_norm=max_abs_per_dim,
        vector_size=dims)
    return out.select("window", F.posexplode("vector_sum").alias(
        "dim", "vector_sum"))


def dp_streaming_percentile(stream: DataFrame,
                            privacy_id_col: str,
                            timestamp_col: str,
                            value_col: str,
                            window_duration: str,
                            watermark_delay: str,
                            epsilon_per_window: float,
                            min_value: float,
                            max_value: float,
                            percentile: float = 50.0,
                            n_bins: int = 256,
                            l0_per_window: int = 1,
                            noise_kind: NoiseKind = NoiseKind.LAPLACE,
                            delta_per_window: float = 0.0,
                            noise_mode: str = "secure",
                            threshold_windows: Optional[bool] = None,
                            percentile_algorithm: str = "histogram"
                            ) -> DataFrame:
    """DP percentile per event-time window over PER-USER window averages,
    released by the batch engine's PERCENTILE: an ``n_bins`` equi-width
    histogram, or with ``percentile_algorithm="tree"`` the reference
    quantile tree (height 4, branching 16; `quantile_tree.py`).

    Contribution unit: each user contributes exactly ONE value per window
    — the average of their clipped contributions — so every user moves
    one bin count by 1 (Linf = 1 by construction, no row sampling needed
    mid-stream). Plan: watermark -> per-(user, window) clipped mean
    (stateful) -> per-(window, bin) user count (stateful, chained) ->
    per-window sparse histogram and user count (stateful, chained) -> the
    engine's release, which noises every bin of the domain (or every
    visited tree node), empty ones included, when the window is read.
    Window selection as in dp_streaming_count, on the user count.
    Returns (window, percentile_value, n_users): n_users is the released
    privacy-id count when windows are thresholded, else the histogram's
    noisy total.
    """
    per_user = _per_user_window(
        stream, privacy_id_col, timestamp_col, window_duration,
        watermark_delay,
        F.avg(_clip(F.col(value_col).cast(DoubleType()), min_value,
                    max_value)).alias(PARTIAL_VALUE))
    spec = Metrics.PERCENTILE(percentile)
    out = _release_windows(
        per_user, [spec], threshold_windows, epsilon_per_window,
        delta_per_window, noise_kind, noise_mode, l0_per_window, 1,
        min_value=min_value, max_value=max_value, percentile_bins=n_bins,
        percentile_algorithm=percentile_algorithm)
    n_users = ("privacy_id_count" if "privacy_id_count" in out.columns
               else PERCENTILE_TOTAL)
    return out.select("window", F.col(spec.output_name).alias(
        "percentile_value"), F.col(n_users).alias("n_users"))


def near_dup_dedup_batch(batch: DataFrame,
                         state: Optional[DataFrame],
                         text_col: str = "text",
                         id_col: str = "doc_id",
                         num_blocks: int = 4,
                         max_hamming: int = 3,
                         materialize: bool = False) -> "tuple[DataFrame, DataFrame]":
    """One micro-batch of incremental NEAR-dup (simhash) dedup: drop
    batch docs within ``max_hamming`` of (a) any previously-kept doc
    (``state`` = accumulated block table) or (b) a smaller-id doc in the
    same batch. Candidates come from the pigeonhole block rule of
    `operators.dedup.simhash_pairs` (`dedup._hamming_blocks`, which
    raises unless ``max_hamming <= num_blocks - 1``: a larger radius
    would silently miss pairs), verified by exact Hamming distance.

    Returns (kept_docs_with_simhash, kept_block_rows); append the block
    rows to the state table for the next batch. Both joins hash on
    (block_idx, block_val) — state-sized, never corpus x corpus.

    ``materialize=True`` localCheckpoints the shared upstreams (the
    fingerprint table and the duplicate-id set) so the two returned
    frames are cheap anti-joins off already-computed inputs — without it
    each returned frame independently re-runs the fingerprint UDF, the
    joins, and any ``state`` re-read when consumed. The streaming writer
    uses this so the state append cannot observe the same batch's
    output-path write mid-plan.
    """
    from pipelinedp_spark.operators import dedup as D

    keys = D._hamming_blocks(F.col("simhash"), D._SIMHASH_BITS,
                             num_blocks, max_hamming)
    fp = (batch.select(F.col(id_col), F.col(text_col))
          .join(D.simhash_fingerprints(batch, text_col, id_col), id_col))
    if materialize:
        fp = fp.localCheckpoint()
    blocks = fp.select(F.col(id_col), F.col("simhash"),
                       F.posexplode(keys).alias("block_idx", "block_val"))
    block_keys = ["block_idx", "block_val"]
    dup_ids = (D._hamming_self_pairs(blocks, block_keys, id_col, "simhash",
                                     max_hamming)
               .select(F.col("id_b").alias(id_col)).distinct())
    if state is not None:
        st = state.select(*block_keys,
                          F.col("simhash").alias("state_simhash"))
        dup_ids = D._hamming_probe(
            blocks, st, block_keys, "simhash", "state_simhash",
            max_hamming, id_col).unionByName(dup_ids).distinct()
    if materialize:
        # Small (duplicate ids only); pins the state-table read so later
        # consumers can't observe concurrent appends to it.
        dup_ids = dup_ids.localCheckpoint()

    kept = fp.join(dup_ids, id_col, "left_anti")
    kept_blocks = blocks.join(dup_ids, id_col, "left_anti") \
        .select(id_col, "block_idx", "block_val", "simhash")
    return kept, kept_blocks


def streaming_near_dup_dedup(stream: DataFrame,
                             output_path: str,
                             state_path: str,
                             checkpoint_dir: str,
                             text_col: str = "text",
                             id_col: str = "doc_id",
                             num_blocks: int = 4,
                             max_hamming: int = 3):
    """Streaming incremental near-dup dedup via foreachBatch: each
    micro-batch is deduped against the accumulated state-block table
    (parquet at ``state_path``) AND within itself, survivors append to
    ``output_path`` and their blocks to the state table (the
    relational-state contract of the module docstring). Returns the
    started StreamingQuery."""
    # materialize=True: the fingerprint table and duplicate-id set are
    # localCheckpoint'd inside, so both writes are cheap anti-joins off
    # already-computed inputs — the fingerprint UDF and the vs-state
    # join run exactly once, and the state append cannot re-read
    # state_path (or observe the output-path write) mid-plan.
    return _micro_batches(
        stream, checkpoint_dir,
        lambda b, _, state: near_dup_dedup_batch(
            b, state, text_col, id_col, num_blocks, max_hamming,
            materialize=True),
        state_path, output_path, state_mode="append")


def streaming_token_topk(stream: DataFrame,
                         text_col: str = "text",
                         timestamp_col: str = "ts",
                         window_duration: str = "1 minute",
                         watermark_delay: str = "0 seconds",
                         k: int = 10,
                         capacity: int = 1024,
                         timeout_minutes: Optional[int] = None
                         ) -> DataFrame:
    """Streaming heavy hitters (trending tokens) per event-time window
    via the Space-Saving sketch (Metwally et al. 2005, "Efficient
    computation of frequent and top-k elements in data streams") in an
    `applyInPandasWithState` custom stateful operator.

    Per window the state is AT MOST ``capacity`` (token, est_count,
    max_overestimate) counters regardless of vocabulary size — the
    bounded-memory property that makes per-window exact counting
    untenable at stream scale. Arrivals for a token already tracked
    increment it; new tokens evict the minimum counter and inherit its
    count (so ``est_count`` never under-counts, and
    ``max_overestimate`` bounds the inflation — the classic guarantees:
    any token with true count > N/capacity is present). With
    ``capacity`` >= the window's distinct tokens the counts are EXACT.

    Plan: watermark -> explode tokens (per-trigger traffic only — the
    sketch, not the stream, holds history) -> state keyed by window
    start, horizontally partitioned across windows. Each trigger emits
    the current top ``k`` (update mode; downstream dedup by
    (window_start, token) keeps the latest). Eviction tie-breaks are
    deterministic (min count, then lexicographically largest token), so
    results are reproducible for a fixed arrival order. By default state
    lives until the query ends; ``timeout_minutes`` adds a processing-
    time TTL per window (reset on every arrival), the same bounded-state
    compromise as `streaming_exact_dedup` — closed windows stop
    receiving data and expire.

    Returns (window_start, token, est_count, max_overestimate).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (ArrayType, LongType, StringType,
                                   StructField, StructType, TimestampType)

    from pipelinedp_spark.functions import text as T

    out_schema = StructType([
        StructField("window_start", TimestampType()),
        StructField("token", StringType()),
        StructField("est_count", LongType()),
        StructField("max_overestimate", LongType()),
    ])
    state_schema = StructType([
        StructField("tokens", ArrayType(StringType())),
        StructField("counts", ArrayType(LongType())),
        StructField("errs", ArrayType(LongType())),
    ])
    cap, kk = int(capacity), int(k)
    ms = timeout_minutes
    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if ms else GroupStateTimeout.NoTimeout)

    toks = (stream.withWatermark(timestamp_col, watermark_delay)
            .select(F.window(F.col(timestamp_col), window_duration)
                    .alias("__w__"),
                    F.explode(T.tokens(F.col(text_col))).alias("token"))
            .filter(F.col("token") != "")
            .select(F.col("__w__.start").alias("window_start"), "token"))

    def topk_fn(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            t0, c0, e0 = state.get
            sketch = {tok: [int(c), int(e)]
                      for tok, c, e in zip(t0, c0, e0)}
        else:
            sketch = {}
        for pdf in pdfs:
            for tok, n in pdf["token"].value_counts().items():
                n = int(n)
                got = sketch.get(tok)
                if got is not None:
                    got[0] += n
                elif len(sketch) < cap:
                    sketch[tok] = [n, 0]
                else:
                    mn = min(v[0] for v in sketch.values())
                    victim = max(t for t, v in sketch.items()
                                 if v[0] == mn)
                    base = sketch.pop(victim)[0]
                    sketch[tok] = [base + n, base]
        items = sorted(sketch.items(), key=lambda kv: (-kv[1][0], kv[0]))
        state.update(([t for t, _ in items],
                      [v[0] for _, v in items],
                      [v[1] for _, v in items]))
        if ms:
            state.setTimeoutDuration(ms * 60 * 1000)
        top = items[:kk]
        yield pd.DataFrame({
            "window_start": [key[0]] * len(top),
            "token": [t for t, _ in top],
            "est_count": [v[0] for _, v in top],
            "max_overestimate": [v[1] for _, v in top]})

    return (toks.groupBy("window_start")
            .applyInPandasWithState(topk_fn, out_schema, state_schema,
                                    "update", timeout))


def streaming_distinct_hll(stream: DataFrame,
                           value_col: str = "user_id",
                           timestamp_col: str = "ts",
                           window_duration: str = "1 hour",
                           watermark_delay: str = "0 seconds",
                           p: int = 8,
                           timeout_minutes: Optional[int] = None
                           ) -> DataFrame:
    """Streaming distinct-count per event-time window via the
    deterministic HyperLogLog sketch (`functions.sketches`): state per
    window is at most 2^p register maxima regardless of how many
    distinct values arrive — the bounded-memory replacement for
    `approx_count_distinct`'s engine-private sketch, with md5-derived
    registers so the streaming estimate EQUALS the batch
    `hll_distinct_estimate_by` over the same window's rows (parity
    tested; the register merge is a max, so arrival order and trigger
    boundaries cannot change it).

    Plan: watermark -> project (window_start, value) -> state keyed by
    window start (horizontally partitioned across windows). Each
    trigger re-emits the window's current estimate (update mode;
    downstream dedup by window_start keeps the latest).
    ``timeout_minutes`` adds the same processing-time TTL per window as
    `streaming_token_topk`.

    Returns (window_start, m, nonzero_registers, raw_estimate,
    estimate).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                                   LongType, StructField, StructType,
                                   TimestampType)

    from pipelinedp_spark.functions.sketches import (hll_estimate_py,
                                                     hll_reg_rho_py)

    m = 1 << int(p)
    out_schema = StructType([
        StructField("window_start", TimestampType()),
        StructField("m", LongType()),
        StructField("nonzero_registers", LongType()),
        StructField("raw_estimate", DoubleType()),
        StructField("estimate", DoubleType()),
    ])
    state_schema = StructType([
        StructField("regs", ArrayType(IntegerType())),
        StructField("rhos", ArrayType(IntegerType())),
    ])
    ms = timeout_minutes
    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if ms else GroupStateTimeout.NoTimeout)

    vals = (stream.withWatermark(timestamp_col, watermark_delay)
            .select(F.window(F.col(timestamp_col), window_duration)
                    .alias("__w__"),
                    F.col(value_col).cast("string").alias("v"))
            .filter(F.col("v").isNotNull())
            .select(F.col("__w__.start").alias("window_start"), "v"))

    def hll_fn(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            r0, h0 = state.get
            sketch = {int(r): int(h) for r, h in zip(r0, h0)}
        else:
            sketch = {}
        for pdf in pdfs:
            for v in pdf["v"].unique():
                reg, rho = hll_reg_rho_py(v, p)
                if rho > sketch.get(reg, 0):
                    sketch[reg] = rho
        state.update((list(sketch.keys()), list(sketch.values())))
        if ms:
            state.setTimeoutDuration(ms * 60 * 1000)
        raw, est = hll_estimate_py(sketch, p)
        yield pd.DataFrame({
            "window_start": [key[0]],
            "m": [m],
            "nonzero_registers": [len(sketch)],
            "raw_estimate": [raw],
            "estimate": [est]})

    return (vals.groupBy("window_start")
            .applyInPandasWithState(hll_fn, out_schema, state_schema,
                                    "update", timeout))


def line_dedup_batch(batch: DataFrame,
                     state: Optional[DataFrame],
                     text_col: str = "text",
                     id_col: str = "doc_id",
                     min_docs: int = 2,
                     delimiter: str = "\n",
                     materialize: bool = False
                     ) -> "tuple[DataFrame, DataFrame]":
    """One micro-batch of incremental corpus line dedup (the streaming
    twin of `operators.dedup.line_dedup`): a line is boilerplate once
    the number of distinct documents that ever contained it — across
    ALL batches so far plus this one — reaches ``min_docs``; such lines
    are stripped from THIS batch's documents (earlier batches were
    already emitted — the inherent one-pass tradeoff, so early copies
    of late-detected boilerplate survive; a compaction re-run of the
    batch operator over the emitted corpus closes that gap offline).

    ``state`` is the accumulated (line hash -> distinct-doc count)
    table from prior batches (None on the first batch). Returns
    (cleaned_docs, new_state); persist new_state for the next batch —
    it REPLACES the old state (counts are merged, not appended).

    Scale shape: per batch one posexplode + two map-side-combinable
    aggs on the 60-bit line hash; the state merge is a groupBy over
    state+batch hash counts (state is distinct-line-sized, not
    corpus-sized); ``materialize=True`` localCheckpoints the merged
    counts so the cleaned output and the returned state don't each
    re-run the merge (and the state write can never observe its own
    consumer mid-plan).
    """
    from pipelinedp_spark.operators.dedup import _boilerplate_dedup
    return _boilerplate_dedup(batch, text_col, id_col, min_docs,
                              delimiter=delimiter, state=state,
                              materialize=materialize)


def streaming_line_dedup(stream: DataFrame,
                         output_path: str,
                         state_path: str,
                         checkpoint_dir: str,
                         text_col: str = "text",
                         id_col: str = "doc_id",
                         min_docs: int = 2,
                         delimiter: str = "\n"):
    """Streaming ingest-time boilerplate removal via foreachBatch:
    each micro-batch's documents are scrubbed of lines whose
    cumulative distinct-doc count (state parquet at ``state_path``)
    reaches ``min_docs``; cleaned docs append to ``output_path`` and
    the merged counts OVERWRITE the state table (the relational-state
    contract of the module docstring). Returns the started
    StreamingQuery."""
    return _micro_batches(
        stream, checkpoint_dir,
        lambda b, _, state: line_dedup_batch(
            b, state, text_col, id_col, min_docs, delimiter,
            materialize=True),
        state_path, output_path)


def sentence_dedup_batch(batch: DataFrame,
                         state: Optional[DataFrame],
                         text_col: str = "text",
                         id_col: str = "doc_id",
                         min_docs: int = 2,
                         min_chars: int = 0,
                         materialize: bool = False
                         ) -> "tuple[DataFrame, DataFrame]":
    """One micro-batch of incremental SENTENCE dedup (streaming twin of
    `operators.dedup.sentence_dedup`, same one-pass semantics and state
    contract as `line_dedup_batch`): a trimmed sentence is boilerplate
    once its cumulative distinct-doc count reaches ``min_docs``;
    sentences shorter than ``min_chars`` are exempt. State is the
    accumulated (sentence hash -> distinct-doc count) table; returns
    (cleaned_docs, new_state) with new_state REPLACING the old.

    Scale shape identical to `line_dedup_batch` — the only differences
    are the splitter (regexp sentence matches, see
    `dedup.SENTENCE_PATTERN`), the trim-normalized hash key, and the
    '' rebuild delimiter (each match carries its own spacing)."""
    from pipelinedp_spark.operators.dedup import _boilerplate_dedup
    return _boilerplate_dedup(batch, text_col, id_col, min_docs,
                              sentences=True, min_chars=min_chars,
                              state=state, materialize=materialize)


def semantic_dedup_batch(batch: DataFrame,
                         state: Optional[DataFrame],
                         centroids,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id",
                         cosine_threshold: float = 0.7,
                         max_cluster_rows: int = 500_000,
                         materialize: bool = False
                         ) -> "tuple[DataFrame, DataFrame]":
    """One micro-batch of incremental SEMANTIC dedup — the streaming
    twin of `operators.semdedup.semantic_dedup` (same state contract as
    `near_dup_dedup_batch`): a batch vector is a duplicate iff its
    round(cosine, 6) >= ``cosine_threshold`` against (a) any previously
    KEPT vector in the same quantizer cell (``state``) or (b) any
    smaller-id same-cell vector of the same batch (kept or not — the
    batch operator's earlier-id rule). ``centroids`` is REQUIRED: cells
    must be stable across batches, so the quantizer trains offline (or
    on the first batch) and is passed in — retraining per batch would
    silently re-shard the state.

    Returns (flags, new_state): flags = (id_col, cell, is_dup) for the
    batch's rows; new_state = state plus the batch's kept
    (id_col, cell, vec) rows, REPLACING the old state.

    Scale shape: cell assignment is one Arrow pass; the comparison is
    the same per-cell numpy mat-mul as the batch operator
    (groupBy(cell).applyInPandas), sized by state+batch per cell and
    guarded by ``max_cluster_rows``; state never joins corpus x corpus.
    """
    import numpy as np
    from pipelinedp_spark.operators.semdedup import assign_cells_udf

    if centroids is None:
        raise ValueError(
            "semantic_dedup_batch requires fixed centroids: train once "
            "offline (train_ivf_centroids) so cells are stable across "
            "batches")
    src = batch.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_vec"))
    cells = src.withColumn("cell",
                           assign_cells_udf(centroids)(F.col("_vec")))         .withColumn("__st__", F.lit(False))
    if materialize:
        cells = cells.localCheckpoint()
    # Only state rows in cells the BATCH touches can influence a batch
    # flag; a cell with no batch row would run its O(n^2) mat-mul just
    # to discard every result. Semi-join the state to the batch's cell
    # set first so per-batch cost scales with the batch's footprint,
    # not the full accumulated state.
    merged = cells if state is None else cells.unionByName(
        state.select(F.col("_id"), F.col("_vec"), F.col("cell"),
                     F.lit(True).alias("__st__"))
        .join(cells.select("cell").distinct(), "cell", "left_semi")
        .select("_id", "_vec", "cell", "__st__"))

    thr = float(cosine_threshold)
    cap = int(max_cluster_rows)

    def _mark(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > cap:
            raise ValueError(
                f"cell {int(pdf['cell'].iloc[0])} has {len(pdf)} rows "
                f"(state+batch) > max_cluster_rows={cap}; raise "
                "num_clusters when training the quantizer")
        # state rows first (they are always "earlier"), then batch
        # rows by ascending id — the lower triangle then encodes
        # exactly the vs-state + earlier-in-batch rule.
        pdf = pdf.sort_values(["__st__", "_id"],
                              ascending=[False, True])
        mat = np.stack(pdf["_vec"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = 1.0
        unit = mat / norms[:, None]
        cos = np.round(unit @ unit.T, 6)
        hit = np.tril(cos >= thr, k=-1).any(axis=1)
        keep = ~pdf["__st__"].to_numpy()
        return pd.DataFrame({id_col: pdf["_id"].to_numpy()[keep],
                             "cell": pdf["cell"].to_numpy()[keep],
                             "is_dup": hit[keep]})

    flags = (merged.groupBy("cell")
             .applyInPandas(_mark,
                            schema=f"{id_col} long, cell int, "
                                   f"is_dup boolean"))
    if materialize:
        flags = flags.localCheckpoint()
    kept = (cells.join(
        flags.filter(~F.col("is_dup")).select(F.col(id_col).alias("_id")),
        "_id").select("_id", "_vec", "cell"))
    new_state = kept if state is None else state.select(
        "_id", "_vec", "cell").unionByName(kept)
    if materialize:
        # Pins the old-state read: the streaming writer OVERWRITES the
        # state path this plan reads from — unmaterialized, the write
        # would delete the files mid-scan.
        new_state = new_state.localCheckpoint()
    return flags, new_state


def streaming_semantic_dedup(stream: DataFrame,
                             centroids,
                             output_path: str,
                             state_path: str,
                             checkpoint_dir: str,
                             vec_col: str = "embedding",
                             id_col: str = "vec_id",
                             cosine_threshold: float = 0.7,
                             max_cluster_rows: int = 500_000):
    """Streaming ingest-time semantic dedup via foreachBatch — the
    SemDeDup twin of `streaming_near_dup_dedup`; its kept vectors
    OVERWRITE the state (the relational-state contract of the module
    docstring). Returns the started StreamingQuery."""
    return _micro_batches(
        stream, checkpoint_dir,
        lambda b, _, state: semantic_dedup_batch(
            b, state, centroids, vec_col, id_col, cosine_threshold,
            max_cluster_rows, materialize=True),
        state_path, output_path)


def streaming_sentence_dedup(stream: DataFrame,
                             output_path: str,
                             state_path: str,
                             checkpoint_dir: str,
                             text_col: str = "text",
                             id_col: str = "doc_id",
                             min_docs: int = 2,
                             min_chars: int = 0):
    """Streaming ingest-time sentence-boilerplate removal via
    foreachBatch — `streaming_line_dedup` with the sentence splitter;
    same state overwrite contract. Returns the started
    StreamingQuery."""
    return _micro_batches(
        stream, checkpoint_dir,
        lambda b, _, state: sentence_dedup_batch(
            b, state, text_col, id_col, min_docs, min_chars,
            materialize=True),
        state_path, output_path)


def stream_into(kind: str, stream: DataFrame, store_name: str,
                checkpoint_dir: str, output_path: str | None = None,
                **kw):
    """Streaming ingest into the persisted store ``store_name`` of kind
    ``kind`` (a `store.KINDS` key): each micro-batch runs
    `store.ingest_batch_once` — exactly once, namespaced by
    ``checkpoint_dir`` — so batch jobs and serving calls between
    triggers see every ingested batch. ``output_path`` (exact and
    minhash) receives each batch's surviving rows as appended parquet;
    ``kw`` passes the kind's column names and options through. The
    caller builds the store first (possibly empty). Unlike
    `streaming_exact_dedup` / `streaming_near_dup_dedup`, whose state
    dies with the query, the store outlives the stream and is shared
    with batch jobs. Returns the started StreamingQuery."""
    sink = None if output_path is None else (
        lambda surv: surv.write.mode("append").parquet(output_path))
    return _micro_batches(
        stream, checkpoint_dir,
        lambda b, batch_id, _: store.ingest_batch_once(
            kind, b, store_name, batch_id, run_id=checkpoint_dir,
            sink=sink, **kw))


def ingest_ann_batch_idempotent(batch_df: DataFrame,
                                store_name: str,
                                batch_id: int,
                                vec_col: str = "embedding",
                                id_col: str = "vec_id",
                                run_id: str = "") -> bool:
    """`store.ingest_batch_once` for the ANN kind, under the name the
    benchmark workload imports and traces."""
    return store.ingest_batch_once("ann", batch_df, store_name, batch_id,
                                   run_id=run_id, vec_col=vec_col,
                                   id_col=id_col)


def streaming_cluster_assign(stream: DataFrame, centroids,
                             vec_col: str = "embedding",
                             quant_scale: int = 1 << 20) -> DataFrame:
    """Attach a k-means `cluster` column to a stream of embeddings
    against FIXED centroids (from `clustering.kmeans_fit` offline).
    Assignment is a stateless codegen expression (k dot-product folds,
    no state store, no shuffle), so it runs identically on batch and
    streaming DataFrames — the rare operator whose streaming twin is
    the operator itself."""
    from pipelinedp_spark.operators.clustering import kmeans_assign_expr

    vd = F.transform(
        F.transform(F.col(vec_col).cast("array<double>"),
                    lambda x: F.floor(x * F.lit(float(quant_scale))
                                      + F.lit(0.5)).cast("long")),
        lambda x: x.cast("double"))
    return stream.withColumn("cluster", kmeans_assign_expr(vd, centroids))


def streaming_cluster_counts(stream: DataFrame, centroids,
                             ts_col: Optional[str] = None,
                             window: str = "1 minute",
                             watermark: str = "2 minutes",
                             vec_col: str = "embedding",
                             quant_scale: int = 1 << 20) -> DataFrame:
    """Topic-drift monitor: per-cluster arrival counts, optionally in
    event-time windows. With `ts_col`, state is watermark-bounded
    (late data beyond `watermark` is dropped and window state is
    evicted — the 100 TB/day stream never accumulates unbounded
    state); without, it is a running total for complete-mode sinks."""
    asg = streaming_cluster_assign(stream, centroids, vec_col,
                                   quant_scale)
    if ts_col is not None:
        return (asg.withWatermark(ts_col, watermark)
                .groupBy(F.window(F.col(ts_col), window), "cluster")
                .count())
    return asg.groupBy("cluster").count()


def streaming_funnel(stream: DataFrame,
                     steps,
                     user_col: str = "user_id",
                     type_col: str = "event_type",
                     ts_col: str = "ts") -> DataFrame:
    """Custom stateful operator: online ordered-funnel tracking via
    applyInPandasWithState. State per user = the completion times of
    the steps reached so far; each micro-batch advances the greedy
    state machine (earliest step-1 time, then earliest later step-2,
    ...), which computes exactly the batch `funnel.funnel_users`
    depths WHEN events arrive in per-user timestamp order across
    batches (replay sorted backfills, or a watermark-reordered
    upstream; out-of-order deliveries can only under-count — document
    the contract, don't silently repair it). Emits (user, completed,
    last_ts) in update mode; state is one small array per user,
    partitioned by user hash — horizontally scalable, never a
    per-user event list."""
    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)
    from pyspark.sql.types import (ArrayType, IntegerType, LongType,
                                   StructField, StructType)

    steps = list(steps)
    out_schema = StructType([
        StructField(user_col, LongType()),
        StructField("completed", IntegerType()),
        StructField("last_ts", LongType()),
    ])
    state_schema = StructType([
        StructField("times", ArrayType(LongType())),
    ])

    def funnel_fn(key, pdfs, state: "GroupState"):
        times = list(state.get[0]) if state.exists else []
        rows = []
        for pdf in pdfs:
            for t, ty in zip(pdf[ts_col].tolist(),
                             pdf[type_col].tolist()):
                rows.append((int(t), str(ty)))
        rows.sort()
        advanced = False
        for t, ty in rows:
            if (len(times) < len(steps) and ty == steps[len(times)]
                    and (not times or t > times[-1])):
                times.append(t)
                advanced = True
        if advanced:
            state.update((times,))
            yield pd.DataFrame({
                user_col: [int(key[0])],
                "completed": [len(times)],
                "last_ts": [times[-1]],
            })

    return (stream.select(F.col(user_col), F.col(type_col),
                          F.col(ts_col))
            .groupBy(user_col)
            .applyInPandasWithState(funnel_fn, out_schema, state_schema,
                                    "update",
                                    GroupStateTimeout.NoTimeout))


def streaming_window_counts(stream: DataFrame,
                            ts_col: str = "ts",
                            group_col: str = "event_type",
                            window: str = "1 hour",
                            watermark: str = "2 hours") -> DataFrame:
    """Watermark-bounded per-(group, window) arrival counts — the
    incremental half of the anomaly monitor (state evicts once the
    watermark passes a window; a 100 TB/day stream holds only open
    windows). Score the resulting count table with
    `funnel.anomaly_scores` per trigger or on a cadence."""
    return (stream.withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("win"),
                     F.col(group_col))
            .count())


def streaming_apply_changes(stream: DataFrame,
                            snapshot_path: str,
                            checkpoint_dir: str,
                            key_col: str,
                            version_col: str,
                            delete_col: str = "_deleted"):
    """Streaming CDC maintenance via foreachBatch: each micro-batch of
    change rows MERGEs into the parquet current-snapshot table with
    `operators.scd.apply_changes` (latest version wins, tombstones
    delete). The snapshot is the relational state (module docstring):
    rebuilt and overwritten per batch, checkpointed first so the writer
    never deletes files mid-scan; at-least-once replay of a batch is
    idempotent because versions are absolute, not incremental. Returns
    the started StreamingQuery."""
    from pipelinedp_spark.operators.scd import apply_changes

    def _step(batch_df: DataFrame, _batch_id: int,
              state: Optional[DataFrame]):
        if delete_col not in batch_df.columns:
            batch_df = batch_df.withColumn(delete_col, F.lit(False))
        if state is None:
            state = batch_df.filter(~F.col(delete_col)).limit(0)
        elif delete_col not in state.columns:
            state = state.withColumn(delete_col, F.lit(False))
        merged = apply_changes(state, batch_df, key_col, version_col,
                               delete_col)
        return None, merged.localCheckpoint()

    return _micro_batches(stream, checkpoint_dir, _step, snapshot_path)


def _read_state(spark, state_path: str) -> Optional[DataFrame]:
    """The relational state at ``state_path``, or None when the path
    does not exist yet (the first batch). Any other failure (a corrupt
    part file, an emptied directory) propagates: read as "no state", it
    would make the next write replace the state with one batch's."""
    from pyspark.errors import AnalysisException
    try:
        return spark.read.parquet(state_path)
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return None
        raise


def _micro_batches(stream: DataFrame, checkpoint_dir: str, step,
                   state_path: Optional[str] = None,
                   output_path: Optional[str] = None,
                   state_mode: str = "overwrite"):
    """Start ``stream`` as an availableNow foreachBatch query
    checkpointed at ``checkpoint_dir``: each micro-batch calls
    ``step(batch_df, batch_id, state)``. Without ``state_path`` state is
    None and the step acts by itself. With it, state is `_read_state`'s
    and the step returns (output, new_state): output appends to
    ``output_path`` when given, then new_state is written to
    ``state_path`` with ``state_mode``. Returns the StreamingQuery."""
    spark = stream.sparkSession

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if state_path is None:
            step(batch_df, batch_id, None)
            return
        out, new_state = step(batch_df, batch_id,
                              _read_state(spark, state_path))
        if output_path is not None:
            out.write.mode("append").parquet(output_path)
        new_state.write.mode(state_mode).parquet(state_path)

    return (stream.writeStream.foreachBatch(_process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
