"""DPEngine: differentially-private aggregations as native DataFrame plans.

Pipeline (mirrors the reference stage order, reference:
pipeline_dp/dp_engine.py:115-195, re-expressed Spark-first):

  select(pid, partition cols, value)            [column pruning -> scan]
  [left_semi broadcast join public partitions]  [drop non-public early]
  window Linf sample -> groupBy(pid, pk) partial aggregates
  window L0 sample over pid
  groupBy(pk) final merge                       [map-side partial agg]
  [union empty public partitions]
  [DP partition selection filter]
  noise projection + metric formulas            [budget-dependent, lazy]

The stages from the final merge on are one release stage
(``DPEngine.aggregate_partials``), shared by ``aggregate``,
``aggregate_multi_sum`` and the streaming window aggregations; PERCENTILE
joins a per-key sparse histogram to it and releases it there, and
VECTOR_SUM / VECTOR_MEAN merge per-position partials into one summed array
per key that it noises element by element.

Budget protocol is two-phase like the reference: ``aggregate`` registers
MechanismSpecs and returns a lazy result; the noise projection is built only
when budgets are computed (reference: pipeline_dp/budget_accounting.py two-
phase contract; pipeline_dp/dataframes.py:206-212).
"""

from __future__ import annotations

import dataclasses
import math
from typing import Callable, Dict, List, Optional, Sequence, Tuple, Union

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from pipelinedp_spark import contribution_bounders as bounders
from pipelinedp_spark import dp_computations as dp
from pipelinedp_spark import quantile_tree as qt
from pipelinedp_spark.aggregate_params import (AddDPNoiseParams,
                                               AggregateParams, MechanismType,
                                               Metric, Metrics, NoiseKind,
                                               NormKind,
                                               PartitionSelectionStrategy,
                                               SelectPartitionsParams)
from pipelinedp_spark.budget_accounting import (MechanismSpec,
                                                NaiveBudgetAccountant)
from pipelinedp_spark.noise import NoiseSource, create_noise_source

_PID = "__pid__"
_VALUE = "__value__"
# Partial columns of the release stage (DPEngine.aggregate_partials), one
# row per (privacy id, partition key), and the per-key sum each merges into.
PARTIAL_COUNT = "__pp_count__"
PARTIAL_SUM = "__pp_sum__"
PARTIAL_NORM_SUM = "__pp_norm_sum__"
PARTIAL_NORM_SQ = "__pp_norm_sq__"
# The one value a privacy id holds in a key (PERCENTILE), binned per key;
# ``aggregate_partials`` returns the noisy histogram total as
# ``PERCENTILE_TOTAL``.
PARTIAL_VALUE = "__pp_value__"
PERCENTILE_TOTAL = "__pct_total__"
# The vector position a VECTOR_SUM / VECTOR_MEAN partial row holds (its
# element sum in ``PARTIAL_SUM``); merged into one array per key, ``_VECTOR``.
PARTIAL_POS = "__pp_pos__"
_PID_COUNT = "__pid_count__"
_COUNT = "__count__"
_SUM = "__sum__"
_NORM_SUM = "__norm_sum__"
_NORM_SQ = "__norm_sq__"
_MERGED = {PARTIAL_COUNT: _COUNT, PARTIAL_SUM: _SUM,
           PARTIAL_NORM_SUM: _NORM_SUM, PARTIAL_NORM_SQ: _NORM_SQ}
_BIN = "__bin__"
_BCNT = "__bcnt__"
_HIST = "__hist__"
_PCT = "__pct__"
_TOT = "__tot__"
_VECTOR = "__vector__"
_VECTOR_METRICS = {Metric.VECTOR_SUM, Metric.VECTOR_MEAN}


@dataclasses.dataclass
class DataFrameExtractors:
    """Named-column analogue of the reference's DataExtractors triple
    (reference: pipeline_dp/data_extractors.py:20-30)."""

    privacy_id_column: str
    partition_key_columns: Union[str, Sequence[str]]
    value_column: Optional[str] = None

    def __post_init__(self):
        if isinstance(self.partition_key_columns, str):
            self.partition_key_columns = [self.partition_key_columns]
        self.partition_key_columns = list(self.partition_key_columns)


@dataclasses.dataclass
class MultiValueDataFrameExtractors(DataFrameExtractors):
    """Multiple value columns aggregated in one pass — the reference's
    MultiValueDataExtractors (reference: pipeline_dp/data_extractors.py:
    33-44, tuple-packed values) become plain named columns here."""

    value_columns: Optional[List[str]] = None

    def __post_init__(self):
        super().__post_init__()
        if self.value_columns:
            self.value_columns = list(self.value_columns)


@dataclasses.dataclass
class MultiSumSpec:
    """Per-column clip bounds + output name for one of several SUMs
    computed in a single aggregation pass."""

    min_value: Optional[float] = None
    max_value: Optional[float] = None
    min_sum_per_partition: Optional[float] = None
    max_sum_per_partition: Optional[float] = None
    output_name: Optional[str] = None

    def __post_init__(self):
        per_contribution = self.min_value is not None
        per_partition = self.min_sum_per_partition is not None
        if per_contribution == per_partition:
            raise ValueError(
                "set exactly one of (min_value, max_value) or "
                "(min_sum_per_partition, max_sum_per_partition)")
        if per_contribution and self.max_value is None:
            raise ValueError("min_value and max_value must be set together")
        if per_partition and self.max_sum_per_partition is None:
            raise ValueError("min/max_sum_per_partition must be set together")


@dataclasses.dataclass
class MultiSumParams:
    """Parameters of a single-pass multi-column DP sum
    (engine-level analogue of the reference's MultiValueDataExtractors
    flow, reference: pipeline_dp/data_extractors.py:33-44)."""

    max_partitions_contributed: int
    max_contributions_per_partition: int
    noise_kind: NoiseKind = NoiseKind.LAPLACE
    include_count: bool = False
    include_privacy_id_count: bool = False
    partition_selection_strategy: PartitionSelectionStrategy = (
        PartitionSelectionStrategy.TRUNCATED_GEOMETRIC)
    pre_threshold: Optional[int] = None
    budget_weight: float = 1.0


class DPResult:
    """Lazy result: the noise projection needs computed budgets, so the final
    DataFrame is built on first access after ``compute_budgets()``."""

    def __init__(self, thunk: Callable[[], DataFrame],
                 accountant: NaiveBudgetAccountant):
        self._thunk = thunk
        self._accountant = accountant
        self._df: Optional[DataFrame] = None

    def dataframe(self) -> DataFrame:
        if self._df is None:
            if not self._accountant.finalized:
                raise AssertionError(
                    "call budget_accountant.compute_budgets() before "
                    "materializing a DP result")
            self._df = self._thunk()
        return self._df


def _clip(col: Column, lo: float, hi: float) -> Column:
    return F.greatest(F.least(col, F.lit(float(hi))), F.lit(float(lo)))


class CustomCombiner:
    """User-defined DP aggregation hook (reference:
    pipeline_dp/combiners.py:110-161 + examples/experimental/
    custom_combiners.py). Subclass and implement:

    - ``request_budget(accountant)``: called once at graph construction;
      store the returned MechanismSpec(s) on self.
    - ``output_schema``: DDL fragment of the metric columns this combiner
      emits, e.g. ``"my_metric double"``.
    - ``compute(pdf)``: given one partition's contribution-bounded rows as
      a pandas DataFrame with columns ``__pid__`` (and ``__value__`` when a
      value column was declared), return a dict of output column -> value.
      THE COMBINER IS RESPONSIBLE FOR ITS OWN DP (noise, clipping beyond
      the engine's row bounds), exactly like the reference contract.
    """

    output_schema: str = ""

    def request_budget(self, accountant) -> None:
        raise NotImplementedError

    def compute(self, pdf: pd.DataFrame) -> dict:
        raise NotImplementedError

    def make_compute_fn(self, pk_cols: Sequence[str]):
        combiner = self

        def _fn(pdf: pd.DataFrame) -> pd.DataFrame:
            out = combiner.compute(pdf)
            row = {c: pdf.iloc[0][c] for c in pk_cols}
            row.update(out)
            return pd.DataFrame([row])

        return _fn


class _CompositeCustomCombiner(CustomCombiner):
    """Composes several CustomCombiners for `AggregateParams.
    custom_combiners` (reference compound-combiner semantics): each
    requests its own budget; per partition, outputs merge into one row
    (duplicate output columns are an error)."""

    def __init__(self, combiners: Sequence[CustomCombiner]):
        self._combiners = list(combiners)
        self.output_schema = ", ".join(
            c.output_schema for c in self._combiners)

    def request_budget(self, accountant) -> None:
        for c in self._combiners:
            c.request_budget(accountant)

    def compute(self, pdf: pd.DataFrame) -> dict:
        out: dict = {}
        for c in self._combiners:
            for k, v in c.compute(pdf).items():
                if k in out:
                    raise ValueError(
                        f"custom combiners emit duplicate column {k!r}")
                out[k] = v
        return out


def _bounding_caps(params: AggregateParams
                   ) -> Tuple[Optional[int], Optional[int]]:
    """The (l0, linf) caps the bounders enforce: none when the caller
    already enforced the bounds, and no L0 sample when cross-partition
    bounding is off — max_partitions_contributed still sets the noise
    sensitivity (reference: pipeline_dp/dp_engine.py:418-430, LinfSampler /
    NoOpSampler dispatch)."""
    if params.contribution_bounds_already_enforced:
        return None, None
    l0 = (params.max_partitions_contributed
          if params.perform_cross_partition_contribution_bounding else None)
    return l0, params.max_contributions_per_partition


def _pp_count(linf: Optional[int], row_sampling: bool) -> Column:
    """Per-(pid, pk) count partial. Without row sampling no window caps
    the rows, so the count is capped at linf here instead."""
    count = F.count(F.lit(1))
    if not row_sampling and linf is not None:
        count = F.least(count, F.lit(linf))
    return count.alias(PARTIAL_COUNT)


_PARTIAL_METRICS = {Metric.COUNT, Metric.PRIVACY_ID_COUNT, Metric.SUM,
                    Metric.MEAN, Metric.VARIANCE}


def _merge_partials(partials: DataFrame, pk_cols: Sequence[str],
                    report: List[str], merged=_MERGED) -> DataFrame:
    """Per-key merge: the privacy-id count plus the sum of each partial
    column present (``merged`` maps partial -> merged column)."""
    report.append("Aggregated partials per partition key")
    return partials.groupBy(*pk_cols).agg(
        F.count(F.lit(1)).alias(_PID_COUNT),
        *[F.sum(p).alias(m) for p, m in merged.items()
          if p in partials.columns])


def _bounding_note(params: AggregateParams) -> str:
    if params.contribution_bounds_already_enforced:
        return "Contribution bounding: none (already enforced)"
    l0, linf = _bounding_caps(params)
    cross = (f"L0 <= {l0} partitions per pid" if l0 is not None else
             "cross-partition bounding disabled (L0 <= "
             f"{params.max_partitions_contributed} kept in sensitivity)")
    return (f"Contribution bounding: Linf <= {linf} rows per (pid, "
            f"partition), {cross}")


def _clip_vector(v: Column, params: AggregateParams) -> Column:
    """Per-vector norm clip, v * min(1, max_norm / ||v||), in Catalyst: the
    norm is folded by ``aggregate`` and bound once, as the lambda variable
    of its finish function, which scales the elements by one ``transform``.
    A vector inside the ball is returned as it is."""
    kind = params.vector_norm_kind
    max_norm = F.lit(float(params.vector_max_norm))
    step = {NormKind.L1: lambda acc, x: acc + F.abs(x),
            NormKind.L2: lambda acc, x: acc + x * x,
            NormKind.LINF: lambda acc, x: F.greatest(acc, F.abs(x))}[kind]

    def scale(acc: Column) -> Column:
        norm = F.sqrt(acc) if kind == NormKind.L2 else acc
        return F.transform(v, lambda x: F.when(
            norm > max_norm, x * (max_norm / norm)).otherwise(x))

    return F.aggregate(v, F.lit(0.0), step, scale)


def _merge_vector_partials(partials: DataFrame, pk_cols: Sequence[str],
                           report: List[str]) -> DataFrame:
    """Per-key merge of per-(privacy id, key, position) vector partials:
    ``_VECTOR``, the element sums in position order, with the key's
    ``_PID_COUNT`` and (from ``PARTIAL_COUNT``) ``_COUNT``, which every
    position of a privacy id's vector repeats."""
    per_pos = _merge_partials(partials, [*pk_cols, PARTIAL_POS], report)
    report.append("Assembled one summed vector per partition key")
    return per_pos.groupBy(*pk_cols).agg(
        F.transform(F.array_sort(F.collect_list(F.struct(PARTIAL_POS, _SUM))),
                    lambda e: e[_SUM]).alias(_VECTOR),
        *[F.max(c).alias(c) for c in (_PID_COUNT, _COUNT)
          if c in per_pos.columns])


# PERCENTILE (reference semantics: pipeline_dp/combiners.py:629-719, a
# quantile tree that noises every node it visits). Values are clipped to
# [min_value, max_value] and binned; a per-key sparse histogram (the
# occupied bins and their counts) is the only per-key state, and one
# Arrow-batched function releases it: "histogram" noises every bin of the
# domain and interpolates inside the bin where the noisy cumulative count
# reaches the rank; "tree" runs the quantile tree's noisy descent
# (`quantile_tree.py`) with the bins as leaves. A key without rows is
# released from an empty histogram the same way.
def _percentile_domain(params: AggregateParams
                       ) -> Tuple[float, float, int, float]:
    """(lo, hi, number of bins, bin width); the tree's leaves are bins."""
    lo, hi = float(params.min_value), float(params.max_value)
    nbins = (qt.num_leaves() if params.percentile_algorithm == "tree"
             else params.percentile_bins)
    return lo, hi, nbins, (hi - lo) / nbins if hi > lo else 1.0


def _bin_column(value: Column, params: AggregateParams) -> Column:
    lo, hi, nbins, width = _percentile_domain(params)
    return F.least(F.lit(nbins - 1).cast("long"),
                   F.floor((_clip(value, lo, hi) - F.lit(lo)) / F.lit(width))
                   ).cast("int").alias(_BIN)


def _sparse_histogram(rows: DataFrame, value: Column, params: AggregateParams,
                      pk_cols: Sequence[str], *aggs: Column) -> DataFrame:
    """One row per key: ``_HIST``, the (bin, count) pairs of its occupied
    bins of ``value``, and ``aggs`` over the per-bin counts ``_BCNT``.
    Null values are dropped first: ``least`` skips a null, so binned they
    would land in the top bin."""
    return (rows.filter(value.isNotNull())
            .groupBy(*pk_cols, _bin_column(value, params))
            .agg(F.count(F.lit(1)).alias(_BCNT))
            .groupBy(*pk_cols)
            .agg(F.collect_list(F.struct(_BIN, _BCNT)).alias(_HIST), *aggs))


def _percentile_release(params: AggregateParams, draw: NoiseDraw,
                        noise_mode: str):
    """The release of ``(bins, counts)`` histogram arrays (null for a key
    without rows): a struct of the requested percentiles by output name
    and the noisy total ``_TOT``. A noisy total of 0 reads min_value."""
    lo, hi, nbins, width = _percentile_domain(params)
    ps = [float(p) for p in params.percentiles_to_compute]
    names = [m.output_name for m in params.metrics
             if m.metric == Metric.PERCENTILE] + [_TOT]
    kind = draw.kind.value

    def histogram(bins, counts, rng):
        hist = np.zeros(nbins)
        hist[bins] = counts
        if noise_mode != "zero":
            hist += (rng.laplace(0.0, draw.scale, nbins) if kind == "laplace"
                     else rng.normal(0.0, draw.scale, nbins))
        hist = np.maximum(hist, 0.0)
        cum = np.cumsum(hist)
        vals = []
        for p in ps:
            rank = p / 100.0 * cum[-1]
            hit = np.flatnonzero((hist > 0) & (cum >= rank))
            b = hit[0] if len(hit) else None
            vals.append(lo if b is None else lo + width * (
                b + (rank - (cum[b] - hist[b])) / hist[b]))
        return vals, cum[-1]

    def tree(bins, counts, rng):
        return qt.compute_tree_quantiles(
            bins, counts, ps, lo, hi,
            qt.make_noise_fn(noise_mode, kind, draw.scale, rng),
            return_total=True)

    read_off = tree if params.percentile_algorithm == "tree" else histogram

    @F.pandas_udf(", ".join(f"`{n}` double" for n in names))
    def release(bins: pd.Series, counts: pd.Series) -> pd.DataFrame:
        rng = np.random.default_rng()
        rows = []
        for b, c in zip(bins, counts):
            vals, total = read_off(
                np.asarray([] if b is None else b, np.int64),
                np.asarray([] if c is None else c, np.float64), rng)
            rows.append([*(vals if total > 0 else [lo] * len(ps)), total])
        return pd.DataFrame(rows, columns=names, dtype="float64")

    # Nondeterministic: every field read shares one evaluation (one draw).
    return release.asNondeterministic()


@dataclasses.dataclass(frozen=True)
class NoiseDraw:
    """One additive noise draw: Laplace scale b or Gaussian sigma."""

    kind: NoiseKind
    scale: float

    @property
    def std(self) -> float:
        return (self.scale * math.sqrt(2) if self.kind == NoiseKind.LAPLACE
                else self.scale)


@dataclasses.dataclass(frozen=True)
class KeepRule:
    """How a release keeps a partition with n privacy ids. With ``noise``
    it adds that draw to n and keeps the partition if the sum reaches
    ``threshold``; with ``probabilities`` (truncated geometric) it keeps it
    with probability ``probabilities[n - pre_threshold + 1]``, the last
    entry holding for larger n. A partition with fewer than
    ``pre_threshold`` privacy ids is never kept."""

    pre_threshold: Optional[int] = None
    noise: Optional[NoiseDraw] = None
    threshold: float = 0.0
    probabilities: Optional[np.ndarray] = None

    def keep_probabilities(self) -> np.ndarray:
        """P(keep | n) for n = 0, 1, ... up to the first n where it reaches
        1, and at most 100000 (as ``truncated_geometric_probabilities``);
        the last entry holds for larger n."""
        pre = self.pre_threshold or 1
        if self.probabilities is not None:
            return np.concatenate([np.zeros(pre - 1), self.probabilities])
        b = self.noise.scale
        top = min(100_000, max(pre, math.ceil(self.threshold + 40 * b)))
        d = (np.arange(top + 1) - self.threshold) / b
        if self.noise.kind == NoiseKind.LAPLACE:
            tail = 0.5 * np.exp(-np.abs(d))
            p = np.where(d >= 0, 1.0 - tail, tail)
        else:
            p = 0.5 * np.vectorize(math.erfc)(-d / math.sqrt(2.0))
        if self.pre_threshold is not None:
            p[:pre] = 0.0
        ones = np.flatnonzero(p >= 1.0)
        return p[:ones[0] + 1] if len(ones) else p

    def keeps(self, noisy: Column, pid_count: Column) -> Column:
        """The keep predicate of a noise rule: ``noisy`` (the privacy-id
        count plus ``noise``) reaches the threshold and ``pid_count``
        reaches ``pre_threshold``."""
        keep = noisy >= F.lit(self.threshold)
        if self.pre_threshold is not None:
            keep = keep & (pid_count >= F.lit(self.pre_threshold))
        return keep


def partition_keep_rule(spec: MechanismSpec,
                        params: AggregateParams) -> KeepRule:
    """The keep rule ``spec`` funds: DP partition selection by
    ``params.partition_selection_strategy``, or, with
    ``params.post_aggregation_thresholding``, the threshold on the noisy
    privacy-id count that spec releases. An accountant that reserves a
    distinct thresholding budget (PLD) pins the threshold's delta in
    ``spec.thresholding_delta``; otherwise Laplace selection gives it all
    of delta (its noise is pure-eps) and every other rule half."""
    l0 = params.max_partitions_contributed or params.max_contributions
    thr_delta = spec.thresholding_delta
    post = params.post_aggregation_thresholding
    strategy = params.partition_selection_strategy
    if not post and strategy == PartitionSelectionStrategy.TRUNCATED_GEOMETRIC:
        return KeepRule(params.pre_threshold,
                        probabilities=dp.truncated_geometric_probabilities(
                            spec.eps, spec.delta, l0))
    if not post and strategy == PartitionSelectionStrategy.LAPLACE_THRESHOLDING:
        scale, threshold = dp.laplace_thresholding(
            spec.eps, spec.delta if thr_delta is None else thr_delta, l0)
        return KeepRule(params.pre_threshold,
                        NoiseDraw(NoiseKind.LAPLACE, scale), threshold)
    kind = spec.mechanism_type.to_noise_kind()
    if thr_delta is None:
        thr_delta = spec.delta / 2
    noise = NoiseDraw(kind, dp.noise_scale(
        kind, spec.eps, spec.delta - thr_delta,
        dp.privacy_id_count_sensitivities(l0)))
    return KeepRule(params.pre_threshold, noise, dp.thresholding_from_std(
        kind, noise.std, thr_delta, l0))


def noise_draws(params: AggregateParams, specs: dict) -> Dict[str, NoiseDraw]:
    """The noise each scalar metric's release adds under ``specs`` (from
    ``DPEngine.request_budgets``, budgets computed): ``count``, ``sum`` and
    ``privacy_id_count``; under MEAN or VARIANCE, ``count`` is the
    moments' count draw (the one COUNT releases) and ``norm_sum`` /
    ``norm_sq`` draw on the normalized sum and (VARIANCE) sum of
    squares. SUM under MEAN or VARIANCE has no draw of its own: it
    releases mid * count + norm_sum. ``percentile`` is the draw on each
    histogram bin, or on each visited quantile-tree node (every level is
    a histogram released with eps/height and delta/height). ``vector_sum``
    is the draw on each element of a summed vector, ``vector_count`` the
    one on VECTOR_MEAN's contribution count."""
    kind = params.noise_kind
    l0 = params.max_partitions_contributed or params.max_contributions
    linf = params.max_contributions_per_partition
    draws: Dict[str, NoiseDraw] = {}

    def additive(name: str, sens: dp.Sensitivities) -> None:
        spec = specs[name]
        draws[name] = NoiseDraw(kind, dp.noise_scale(kind, spec.eps,
                                                     spec.delta, sens))

    if "count" in specs:
        m = params.max_contributions
        additive("count", dp.count_sensitivities(l0, linf) if m is None
                 else dp.Sensitivities(l1=float(m), l2=float(m)))
    if "sum" in specs:
        additive("sum", dp.sum_sensitivities(
            l0, linf, params.min_value, params.max_value,
            params.min_sum_per_partition, params.max_sum_per_partition))
    moments = specs.get("variance") or specs.get("mean")
    if moments is not None:
        ms = (dp.variance_scales if "variance" in specs else dp.mean_scales)(
            kind, moments.eps, moments.delta, params.max_partitions_contributed,
            linf, params.min_value, params.max_value)
        draws["count"] = NoiseDraw(kind, ms.count_scale)
        draws["norm_sum"] = NoiseDraw(kind, ms.norm_sum_scale)
        if "variance" in specs:
            draws["norm_sq"] = NoiseDraw(kind, ms.norm_sum_sq_scale)
    if "percentile" in specs:
        spec = specs["percentile"]
        levels = (qt.DEFAULT_TREE_HEIGHT
                  if params.percentile_algorithm == "tree" else 1)
        draws["percentile"] = NoiseDraw(kind, dp.noise_scale(
            kind, spec.eps / levels, spec.delta / levels,
            dp.count_sensitivities(params.max_partitions_contributed or 1,
                                   linf or 1)))
    if "privacy_id_count" in specs:
        if params.post_aggregation_thresholding:
            draws["privacy_id_count"] = partition_keep_rule(
                specs["privacy_id_count"], params).noise
        else:
            additive("privacy_id_count",
                     dp.privacy_id_count_sensitivities(l0))
    if "vector_sum" in specs:
        # One clipped vector per contribution and <= linf contributions per
        # (pid, pk): a key's norm bound scales by linf.
        additive("vector_sum", dp.vector_sum_sensitivities(
            l0 or 1, params.vector_norm_kind.value,
            float(params.vector_max_norm) * (linf or 1),
            int(params.vector_size)))
    if "vector_count" in specs:
        additive("vector_count", dp.count_sensitivities(l0 or 1, linf or 1))
    return draws


def drop_non_public_partitions(data: DataFrame, pk_cols: Sequence[str],
                               public_partitions,
                               pub_df: Optional[DataFrame] = None
                               ) -> Tuple[DataFrame, str]:
    """The rows of ``data`` whose key is public, and a report line. A small
    local single-column key list compiles to a pushed-down ``isin`` scan
    filter with no broadcast exchange; otherwise a broadcast left-semi
    join with ``pub_df`` (built from ``public_partitions`` if not given)."""
    if (not isinstance(public_partitions, DataFrame)
            and len(pk_cols) == 1 and len(public_partitions) <= 1000):
        keys = [p[0] if isinstance(p, tuple) else p
                for p in public_partitions]
        return (data.filter(F.col(pk_cols[0]).isin(keys)),
                "Dropped non-public partitions (isin pushdown)")
    if pub_df is None:
        pub_df = DPEngine._as_partitions_df(
            data.sparkSession, pk_cols, public_partitions, like=data)
    return (data.join(F.broadcast(pub_df), on=list(pk_cols), how="left_semi"),
            "Dropped non-public partitions (broadcast semi-join)")


class DPEngine:
    """Reference: pipeline_dp/dp_engine.py:71-305 (semantics)."""

    def __init__(self,
                 budget_accountant: NaiveBudgetAccountant,
                 noise_mode: str = "secure",
                 sample_order_cols: Optional[Sequence[Column]] = None):
        self._accountant = budget_accountant
        self._noise_mode = noise_mode
        self._noise: NoiseSource = create_noise_source(noise_mode)
        self._order_cols = sample_order_cols
        self._reports: List[List[str]] = []

    # ------------------------------------------------------------------
    # aggregate
    # ------------------------------------------------------------------
    def aggregate(self,
                  df: DataFrame,
                  params: AggregateParams,
                  extractors: DataFrameExtractors,
                  public_partitions: Optional[Union[DataFrame, Sequence]] = None
                  ) -> DPResult:
        if params.custom_combiners:
            combiner = (params.custom_combiners[0]
                        if len(params.custom_combiners) == 1
                        else _CompositeCustomCombiner(
                            params.custom_combiners))
            return self.aggregate_custom(df, params, extractors, combiner,
                                         public_partitions)
        report: List[str] = [f"DPEngine.aggregate: metrics={params.metrics}"]
        self._reports.append(report)
        pk_cols = extractors.partition_key_columns
        metric_kinds = set(params.metric_kinds)

        needs_value = bool(metric_kinds
                           & {Metric.SUM, Metric.MEAN, Metric.VARIANCE,
                              Metric.PERCENTILE, Metric.VECTOR_SUM,
                              Metric.VECTOR_MEAN})
        if needs_value and extractors.value_column is None:
            raise ValueError("value_column required for value metrics")

        vector = bool(metric_kinds & _VECTOR_METRICS)

        # --- stages 1-2: projection, non-public partitions dropped. ---
        data, pub_df = self._extract(
            df, params, extractors, public_partitions, report,
            [F.col(extractors.value_column).cast("array<double>")
             .alias(_VALUE)] if vector else None)

        # --- stage 3: budget requests. ---
        specs = self.request_budgets(params, pub_df is not None, report)

        if vector:
            merged = _merge_vector_partials(
                self._vector_partials(data, params, pk_cols, report),
                pk_cols, report)
            return DPResult(
                lambda: self._release(merged, params, specs, pk_cols, pub_df,
                                      report),
                self._accountant)

        # --- stage 4: contribution bounding + per-(pid,pk) partials. ---
        per_pid_pk = self._bound_contributions(data, params, pk_cols,
                                               metric_kinds, report)

        # Percentiles bin their own bounded rows into a per-key histogram
        # that joins the merged partials in the release (an independent
        # Linf/L0 sample; both enforce the declared bounds).
        pct_hist = None
        if params.percentiles_to_compute:
            rows = bounders.bound_rows(data, _PID, pk_cols,
                                       *_bounding_caps(params),
                                       self._order_cols)
            pct_hist = _sparse_histogram(rows, F.col(_VALUE), params, pk_cols)
            report.append(f"PERCENTILE: {_percentile_domain(params)[2]}-bin "
                          f"histogram of clipped values")

        # --- stage 5: merge, partition handling, noise. ---
        merged = _merge_partials(per_pid_pk, pk_cols, report)
        return DPResult(
            lambda: self._release(merged, params, specs, pk_cols, pub_df,
                                  report, pct_hist),
            self._accountant)

    # ------------------------------------------------------------------
    def aggregate_partials(self, partials: DataFrame, params: AggregateParams,
                           pk_cols: Sequence[str]) -> DPResult:
        """The release stage ``aggregate`` and ``aggregate_multi_sum`` end
        in, for partials the caller bounded itself (streaming windows).

        ``partials``: one row per (privacy id, key), bounded as ``params``
        declares, with ``pk_cols`` and the partials the metrics read:
        ``PARTIAL_COUNT`` (contributions; COUNT, MEAN, VARIANCE),
        ``PARTIAL_SUM`` (clipped sum; SUM), ``PARTIAL_NORM_SUM`` and
        ``PARTIAL_NORM_SQ`` (sums of values clipped to [min_value,
        max_value] minus their midpoint, and of their squares; MEAN,
        VARIANCE). Each is summed per key; the rows count privacy ids.
        PERCENTILE reads ``PARTIAL_VALUE``, one value per row (Linf = 1),
        binned into a per-key histogram whose total counts the privacy
        ids, so it combines only with PRIVACY_ID_COUNT; its output also
        holds the noisy histogram total, ``PERCENTILE_TOTAL``.
        VECTOR_SUM and VECTOR_MEAN (each alone) read one row per (privacy
        id, key, position): ``PARTIAL_POS``, the position's sum of the
        privacy id's norm-clipped vectors in ``PARTIAL_SUM`` and, for
        VECTOR_MEAN, their number in ``PARTIAL_COUNT``; each position is
        summed per key into one array.
        Keys: post-aggregation thresholding or DP selection, unless
        ``params.public_partitions_already_filtered`` declares every key
        present public (the streaming ``threshold_windows=False``
        contract; it releases key presence exactly)."""
        kinds = set(params.metric_kinds)
        percentile = Metric.PERCENTILE in kinds
        if params.custom_combiners or not kinds <= (
                _PARTIAL_METRICS | _VECTOR_METRICS | {Metric.PERCENTILE}) or \
                percentile and not kinds <= {Metric.PERCENTILE,
                                             Metric.PRIVACY_ID_COUNT}:
            raise ValueError(
                "aggregate_partials releases COUNT, PRIVACY_ID_COUNT, SUM, "
                "MEAN and VARIANCE, PERCENTILE with PRIVACY_ID_COUNT, or "
                "VECTOR_SUM or VECTOR_MEAN alone")
        report = [f"DPEngine.aggregate_partials: metrics={params.metrics}"]
        self._reports.append(report)
        specs = self.request_budgets(params, False, report)
        if percentile:
            merged = _sparse_histogram(partials, F.col(PARTIAL_VALUE), params,
                                       pk_cols, F.sum(_BCNT).alias(_PID_COUNT))
            report.append("Binned value partials per partition key")
        elif kinds & _VECTOR_METRICS:
            merged = _merge_vector_partials(partials, pk_cols, report)
        else:
            merged = _merge_partials(partials, pk_cols, report)
        total = ([F.col(_PCT)[_TOT].alias(PERCENTILE_TOTAL)] if percentile
                 else [])
        return DPResult(
            lambda: self._release(merged, params, specs, pk_cols, None,
                                  report, extra_cols=total),
            self._accountant)

    def _release(self, merged: DataFrame, params, specs: dict,
                 pk_cols: Sequence[str], pub_df: Optional[DataFrame],
                 report: List[str], pct_hist: Optional[DataFrame] = None,
                 extra_cols: Sequence[Column] = ()) -> DataFrame:
        """Partition handling, then the noisy metrics (``extra_cols``
        after them) of merged partials."""
        out = merged
        if pub_df is not None:
            # Every public key appears; missing ones get empty accumulators
            # (reference: pipeline_dp/dp_engine.py:315-330); a missing
            # vector, which ``fillna`` cannot fill, in _compute_metrics.
            out = pub_df.join(out, on=list(pk_cols), how="left").fillna(
                {c: 0 for c in out.columns if c not in (*pk_cols, _VECTOR)})
            report.append("Added empty public partitions")
        elif "partition_selection" in specs:
            out = self._select_private_partitions(
                out, specs["partition_selection"], params, report)
        if pct_hist is not None:
            # Keys without rows (empty public keys, keys the percentile's
            # own L0 sample emptied) get a null histogram, noised like any.
            out = out.join(pct_hist, on=list(pk_cols), how="left")
        out, cols = self._compute_metrics(out, params, specs, pk_cols, report)
        return out.select(*cols, *extra_cols)

    # ------------------------------------------------------------------
    def _extract(self, df: DataFrame, params, extractors: DataFrameExtractors,
                 public_partitions, report: List[str],
                 values: Optional[Sequence[Column]] = None
                 ) -> Tuple[DataFrame, Optional[DataFrame]]:
        """Project (pid, partition keys, ``values``; default: the value
        column as double ``__value__``) and drop non-public partitions
        before bounding, unless the caller pre-filtered them (reference:
        aggregate_params.py:267-269). Returns (rows, public keys or None)."""
        pk_cols = extractors.partition_key_columns
        if values is None:
            values = ([F.col(extractors.value_column).cast(DoubleType())
                       .alias(_VALUE)]
                      if extractors.value_column is not None else [])
        data = df.select(F.col(extractors.privacy_id_column).alias(_PID),
                         *[F.col(c) for c in pk_cols], *values)
        report.append(
            f"Extracted ({extractors.privacy_id_column}, "
            f"{pk_cols}, {extractors.value_column})")
        prefiltered = getattr(params, "public_partitions_already_filtered",
                              False)
        if public_partitions is None:
            if prefiltered:
                raise ValueError(
                    "public_partitions_already_filtered requires public "
                    "partitions")
            return data, None
        pub_df = self._as_partitions_df(df.sparkSession, pk_cols,
                                        public_partitions, like=df)
        if prefiltered:
            report.append(
                "Public partitions pre-filtered by caller (drop skipped)")
        else:
            data, note = drop_non_public_partitions(
                data, pk_cols, public_partitions, pub_df)
            report.append(note)
        return data, pub_df

    # ------------------------------------------------------------------
    def request_budgets(self, params: AggregateParams, public: bool,
                        report: List[str]) -> dict:
        """The budget requests of ``params``' metrics on this engine's
        accountant, by name (``count``, ``sum``, ``mean``, ``variance``,
        ``privacy_id_count``, ``partition_selection``, ...); ``public``: the
        partition keys are public, so no selection is funded."""
        specs: dict = {}
        mt = params.noise_kind.convert_to_mechanism_type()
        metric_kinds = set(params.metric_kinds)
        with self._accountant.scope(params.budget_weight):
            # Combiner grouping mirrors the reference factory
            # (reference: pipeline_dp/combiners.py:914-1003): VARIANCE
            # subsumes MEAN/COUNT/SUM; MEAN subsumes COUNT/SUM.
            if Metric.VARIANCE in metric_kinds:
                specs["variance"] = self._accountant.request_budget(mt)
            elif Metric.MEAN in metric_kinds:
                specs["mean"] = self._accountant.request_budget(mt)
            else:
                if Metric.COUNT in metric_kinds:
                    specs["count"] = self._accountant.request_budget(mt)
                if Metric.SUM in metric_kinds:
                    specs["sum"] = self._accountant.request_budget(mt)
            if Metric.PERCENTILE in metric_kinds:
                specs["percentile"] = self._accountant.request_budget(mt)
            if Metric.VECTOR_SUM in metric_kinds \
                    or Metric.VECTOR_MEAN in metric_kinds:
                specs["vector_sum"] = self._accountant.request_budget(mt)
            if Metric.VECTOR_MEAN in metric_kinds:
                # denominator release: the bounded contribution count
                specs["vector_count"] = self._accountant.request_budget(mt)
            if Metric.PRIVACY_ID_COUNT in metric_kinds:
                if params.post_aggregation_thresholding:
                    thr_mt = (MechanismType.LAPLACE_THRESHOLDING
                              if params.noise_kind == NoiseKind.LAPLACE else
                              MechanismType.GAUSSIAN_THRESHOLDING)
                    specs["privacy_id_count"] = \
                        self._accountant.request_budget(thr_mt)
                else:
                    specs["privacy_id_count"] = \
                        self._accountant.request_budget(mt)
            if not (public or params.public_partitions_already_filtered
                    or params.post_aggregation_thresholding):
                specs["partition_selection"] = self._accountant.request_budget(
                    params.partition_selection_strategy.mechanism_type)
                report.append(
                    f"Private partition selection: "
                    f"{params.partition_selection_strategy.value}")
        return specs

    # ------------------------------------------------------------------
    def _bound_contributions(self, data: DataFrame, params: AggregateParams,
                             pk_cols: Sequence[str], metric_kinds: set,
                             report: List[str]) -> DataFrame:
        per_partition_clip = params.min_sum_per_partition is not None
        l0, linf = _bounding_caps(params)
        # Rows are sampled only when a partial depends on WHICH rows
        # survive: per-contribution value clips, not counts or a
        # per-partition sum clip.
        sampling = not per_partition_clip and bool(
            metric_kinds & {Metric.SUM, Metric.MEAN, Metric.VARIANCE,
                            Metric.PERCENTILE})
        partials = [_pp_count(linf, sampling)]
        if Metric.SUM in metric_kinds:
            if per_partition_clip:
                partials.append(
                    _clip(F.sum(_VALUE), params.min_sum_per_partition,
                          params.max_sum_per_partition).alias(PARTIAL_SUM))
            else:
                partials.append(
                    F.sum(_clip(F.col(_VALUE), params.min_value,
                                params.max_value)).alias(PARTIAL_SUM))
        if metric_kinds & {Metric.MEAN, Metric.VARIANCE}:
            mid = (params.min_value + params.max_value) / 2.0
            norm = _clip(F.col(_VALUE), params.min_value,
                         params.max_value) - F.lit(mid)
            partials.append(F.sum(norm).alias(PARTIAL_NORM_SUM))
            if Metric.VARIANCE in metric_kinds:
                partials.append(F.sum(norm * norm).alias(PARTIAL_NORM_SQ))

        if params.max_contributions is not None and \
                not params.contribution_bounds_already_enforced:
            report.append(
                f"Contribution bounding: <= {params.max_contributions} total "
                "contributions per privacy id")
            return bounders.bound_per_privacy_id(data, _PID, pk_cols, partials,
                                                 params.max_contributions,
                                                 self._order_cols)
        report.append(_bounding_note(params))
        return bounders.bound_cross_and_per_partition(
            data, _PID, pk_cols, partials, l0, linf,
            row_sampling_needed=sampling, order_cols=self._order_cols)

    # ------------------------------------------------------------------
    def _vector_partials(self, data: DataFrame, params: AggregateParams,
                         pk_cols: Sequence[str],
                         report: List[str]) -> DataFrame:
        """VECTOR_SUM / VECTOR_MEAN partials (reference:
        pipeline_dp/combiners.py:850-911 semantics): per (pid, pk,
        position), the sum of the bounded rows' norm-clipped vectors and
        their number. Bounding samples whole vectors, before the clip and
        the explode."""
        rows = bounders.bound_rows(data, _PID, pk_cols,
                                   *_bounding_caps(params), self._order_cols)
        report.append(_bounding_note(params))
        report.append(f"{params.metrics[0].metric.value.upper()}: per-vector "
                      f"{params.vector_norm_kind.value}-norm clip to "
                      f"{params.vector_max_norm}")
        return (rows.select(_PID, *pk_cols, F.posexplode(
                    _clip_vector(F.col(_VALUE), params)).alias(PARTIAL_POS,
                                                               _VALUE))
                .groupBy(_PID, *pk_cols, PARTIAL_POS)
                .agg(F.count(F.lit(1)).alias(PARTIAL_COUNT),
                     F.sum(_VALUE).alias(PARTIAL_SUM)))

    # ------------------------------------------------------------------
    def _select_private_partitions(self, out: DataFrame, spec: MechanismSpec,
                                   params: AggregateParams,
                                   report: List[str]) -> DataFrame:
        """Reference: pipeline_dp/dp_engine.py:332-400 (semantics)."""
        rule = partition_keep_rule(spec, params)
        pid_count = F.col(_PID_COUNT)
        if rule.noise is None:
            keep = self._noise.geometric_keep(pid_count,
                                              rule.keep_probabilities())
            report.append("Partition selection: truncated geometric")
            return out.filter(keep)
        noisy = self._noise.add_noise(pid_count.cast(DoubleType()),
                                      rule.noise.kind.value, rule.noise.scale)
        report.append(
            f"Partition selection: {params.partition_selection_strategy.value}"
            f", threshold={rule.threshold:.3f}")
        return out.filter(rule.keeps(noisy, pid_count))

    # ------------------------------------------------------------------
    def _compute_metrics(self, out: DataFrame, params: AggregateParams,
                         specs: dict, pk_cols: Sequence[str],
                         report: List[str]
                         ) -> Tuple[DataFrame, List[Column]]:
        """Noisy metric columns: returns the frame to select from and the
        partition-key + metric columns, in ``params.metrics`` order. The
        PERCENTILE columns (and the noisy total, ``_PCT.__tot__``) read the
        per-key histogram column ``_HIST``."""
        noise = self._noise
        draws = noise_draws(params, specs)
        metric_cols: dict = {}
        # metric name -> applied noise stddev (constant per metric: the
        # mechanism scale depends only on budget + sensitivities, never on
        # the partition's value), emitted as `<name>_noise_stddev` columns
        # when params.output_noise_stddev is set
        # (reference: pipeline_dp/combiners.py:276-288,323-335,439-454).
        stddev_vals: dict = {}

        def noisy(col: Column, name: str) -> Column:
            d = draws[name]
            return noise.add_noise(col, d.kind.value, d.scale)

        def additive(name: str, col: Column) -> None:
            metric_cols[name] = noisy(col, name)
            stddev_vals[name] = draws[name].std
            report.append(f"{name.upper()}: {draws[name].kind.value} noise, "
                          f"scale={draws[name].scale:.4g}")

        if "count" in specs:
            additive("count", F.col(_COUNT).cast(DoubleType()))
        if "sum" in specs:
            additive("sum", F.col(_SUM))
        # MEAN and VARIANCE: noisy count and normalized sum (plus sum of
        # squares for VARIANCE) under one spec; COUNT and SUM derive.
        if "variance" in specs or "mean" in specs:
            variance = "variance" in specs
            mid = (params.min_value + params.max_value) / 2.0
            out = out.withColumn(
                "__dp_count__",
                noisy(F.col(_COUNT).cast(DoubleType()), "count"))
            out = out.withColumn("__dp_norm_sum__",
                                 noisy(F.col(_NORM_SUM), "norm_sum"))
            denom = F.greatest(F.lit(1.0), F.col("__dp_count__"))
            mean_norm = F.col("__dp_norm_sum__") / denom
            dp_mean = F.lit(mid) + mean_norm
            if variance:
                out = out.withColumn("__dp_norm_sq__",
                                     noisy(F.col(_NORM_SQ), "norm_sq"))
                metric_cols["variance"] = (F.col("__dp_norm_sq__") / denom
                                           - mean_norm * mean_norm)
                report.append("VARIANCE: 3-way budget split estimator")
            else:
                report.append(f"MEAN: normalized-sum estimator, mid={mid}")
            if Metric.MEAN in params.metric_kinds:
                metric_cols["mean"] = dp_mean
            if Metric.COUNT in params.metric_kinds:
                metric_cols["count"] = F.col("__dp_count__")
            if Metric.SUM in params.metric_kinds:
                metric_cols["sum"] = dp_mean * F.col("__dp_count__")
        pid_count = F.col(_PID_COUNT).cast(DoubleType())
        if params.post_aggregation_thresholding:
            # Reference: combiners.py:360-416 + dp_computations.py:821-885:
            # noised pid-count released iff >= threshold; rows below are
            # dropped entirely.
            rule = partition_keep_rule(specs["privacy_id_count"], params)
            out = out.withColumn("__dp_pid_count__",
                                 noisy(pid_count, "privacy_id_count"))
            out = out.filter(rule.keeps(F.col("__dp_pid_count__"),
                                        F.col(_PID_COUNT)))
            metric_cols["privacy_id_count"] = F.col("__dp_pid_count__")
            stddev_vals["privacy_id_count"] = rule.noise.std
            report.append(
                f"PRIVACY_ID_COUNT: post-aggregation thresholding at "
                f"{rule.threshold:.3f}")
        elif "privacy_id_count" in specs:
            additive("privacy_id_count", pid_count)
        if "percentile" in specs:
            draw = draws["percentile"]
            release = _percentile_release(params, draw, self._noise_mode)
            out = out.withColumn(
                _PCT, release(F.col(_HIST)[_BIN], F.col(_HIST)[_BCNT]))
            for m in params.metrics:
                if m.metric == Metric.PERCENTILE:
                    metric_cols[m.output_name] = F.col(_PCT)[m.output_name]
            report.append(
                f"PERCENTILE ({params.percentile_algorithm}): "
                f"{draw.kind.value} noise on every bin or visited node, "
                f"scale={draw.scale:.4g}, qs={params.percentiles_to_compute}")

        if "vector_sum" in specs:
            mean = "vector_count" in specs
            report.append(f"{params.metrics[0].metric.value.upper()}: "
                          f"elementwise noise scale="
                          f"{draws['vector_sum'].scale:.4g}")
            if mean:
                # One denominator draw per key, floored at 1.
                out = out.withColumn("__dp_vector_count__", F.greatest(
                    F.lit(1.0),
                    noisy(F.col(_COUNT).cast(DoubleType()), "vector_count")))
                report.append(f"VECTOR_MEAN: denominator noise scale="
                              f"{draws['vector_count'].scale:.4g}")

            def element(x: Column) -> Column:
                # Evaluated afresh per element: one draw per element.
                x = noisy(x, "vector_sum")
                return x / F.col("__dp_vector_count__") if mean else x

            # A key without rows releases noise on a zero vector.
            metric_cols[params.metrics[0].output_name] = F.transform(
                F.coalesce(F.col(_VECTOR), F.array_repeat(
                    F.lit(0.0), int(params.vector_size))), element)

        ordered = [F.col(c) for c in pk_cols]
        for m in params.metrics:
            name = m.output_name
            if name in metric_cols:
                col = metric_cols[name]
                ordered.append((col if m.metric in _VECTOR_METRICS
                                else col.cast(DoubleType())).alias(name))
            if params.output_noise_stddev and name in stddev_vals:
                ordered.append(
                    F.lit(float(stddev_vals[name])).cast(DoubleType())
                    .alias(f"{name}_noise_stddev"))
        return out, ordered

    # ------------------------------------------------------------------
    # Custom combiner plug-in
    # ------------------------------------------------------------------
    def aggregate_custom(self, df: DataFrame, params: AggregateParams,
                         extractors: DataFrameExtractors,
                         combiner: "CustomCombiner",
                         public_partitions=None) -> DPResult:
        """User-defined DP aggregation (reference CustomCombiner contract:
        pipeline_dp/combiners.py:110-161 — the combiner requests budget at
        graph construction and implements its own DP in compute).

        The engine supplies contribution bounding (the declared Linf/L0
        window samples) and hands each partition's bounded rows to the
        combiner as an Arrow batch via applyInPandas; the combiner returns
        one output row per partition. Group size is bounded by the
        contribution bounds times the partition's user count — combiners
        needing sublinear state should pre-aggregate in SQL instead."""
        report = [f"DPEngine.aggregate_custom: {type(combiner).__name__}"]
        self._reports.append(report)
        pk_cols = extractors.partition_key_columns
        data, _ = self._extract(df, params, extractors, public_partitions,
                                report)
        with self._accountant.scope(params.budget_weight):
            combiner.request_budget(self._accountant)
        data = bounders.bound_rows(data, _PID, pk_cols,
                                   *_bounding_caps(params), self._order_cols)
        report.append(_bounding_note(params))
        schema = ", ".join(
            [f"`{c}` {data.schema[c].dataType.simpleString()}"
             for c in pk_cols] + [combiner.output_schema])
        fn = combiner.make_compute_fn(pk_cols)
        return DPResult(
            lambda: data.groupBy(*pk_cols).applyInPandas(fn, schema),
            self._accountant)

    # ------------------------------------------------------------------
    # Multi-column sums in one pass
    # ------------------------------------------------------------------
    def aggregate_multi_sum(self, df: DataFrame, params: MultiSumParams,
                            extractors: "MultiValueDataFrameExtractors",
                            sum_specs: List[MultiSumSpec],
                            public_partitions=None) -> DPResult:
        """DP sums of several value columns sharing ONE contribution-bounding
        pass (one Linf sample, one L0 sample, one shuffle chain); each
        column has its own clip bounds and its own budget share."""
        if not extractors.value_columns or \
                len(extractors.value_columns) != len(sum_specs):
            raise ValueError("one MultiSumSpec per value column required")
        report = [f"DPEngine.aggregate_multi_sum: "
                  f"{len(sum_specs)} sum columns"]
        self._reports.append(report)
        pk_cols = extractors.partition_key_columns
        l0 = params.max_partitions_contributed
        linf = params.max_contributions_per_partition
        data, pub_df = self._extract(
            df, params, extractors, public_partitions, report,
            [F.col(c).cast(DoubleType()).alias(f"__value{i}__")
             for i, c in enumerate(extractors.value_columns)])

        with self._accountant.scope(params.budget_weight):
            mt = params.noise_kind.convert_to_mechanism_type()
            specs = {"sums": [self._accountant.request_budget(mt)
                              for _ in sum_specs]}
            if params.include_count:
                specs["count"] = self._accountant.request_budget(mt)
            if params.include_privacy_id_count:
                specs["privacy_id_count"] = self._accountant.request_budget(mt)
            if public_partitions is None:
                specs["partition_selection"] = self._accountant.request_budget(
                    params.partition_selection_strategy.mechanism_type)

        # Row sampling is only needed when a per-contribution clip depends
        # on WHICH rows survive; per-partition clips and count caps do not.
        row_sampling = any(s.min_value is not None for s in sum_specs)
        partials = [_pp_count(linf, row_sampling)]
        for i, s in enumerate(sum_specs):
            v = F.col(f"__value{i}__")
            if s.min_value is not None:
                partials.append(
                    F.sum(_clip(v, s.min_value, s.max_value))
                    .alias(f"__pp_sum{i}__"))
            else:
                partials.append(
                    _clip(F.sum(v), s.min_sum_per_partition,
                          s.max_sum_per_partition).alias(f"__pp_sum{i}__"))
        per_pid_pk = bounders.bound_cross_and_per_partition(
            data, _PID, pk_cols, partials, l0, linf,
            row_sampling_needed=row_sampling, order_cols=self._order_cols)
        report.append(
            f"Shared contribution bounding: Linf <= {linf}, L0 <= {l0}")

        merged = _merge_partials(per_pid_pk, pk_cols, report, {
            PARTIAL_COUNT: _COUNT,
            **{f"__pp_sum{i}__": f"__sum{i}__"
               for i in range(len(sum_specs))}})
        # Noises COUNT / PRIVACY_ID_COUNT when their spec was requested.
        agg_params = AggregateParams(
            metrics=[Metrics.COUNT, Metrics.PRIVACY_ID_COUNT],
            max_partitions_contributed=l0,
            max_contributions_per_partition=linf,
            noise_kind=params.noise_kind,
            partition_selection_strategy=params.partition_selection_strategy,
            pre_threshold=params.pre_threshold)

        def finalize() -> DataFrame:
            kind = params.noise_kind.value
            sums, notes = [], []
            for i, (s, spec) in enumerate(zip(sum_specs, specs["sums"])):
                sens = dp.sum_sensitivities(
                    l0, linf, s.min_value, s.max_value,
                    s.min_sum_per_partition, s.max_sum_per_partition)
                scale = dp.noise_scale(params.noise_kind, spec.eps,
                                       spec.delta, sens)
                name = s.output_name or \
                    f"sum_{extractors.value_columns[i]}"
                sums.append(self._noise.add_noise(F.col(f"__sum{i}__"), kind,
                                                  scale).alias(name))
                notes.append(f"SUM[{name}]: {kind} noise, scale={scale:.4g}")
            out = self._release(merged, agg_params, specs, pk_cols, pub_df,
                                report, extra_cols=sums)
            report.extend(notes)
            return out

        return DPResult(finalize, self._accountant)

    # ------------------------------------------------------------------
    def _sampled_pairs(self, df: DataFrame, params: SelectPartitionsParams,
                       extractors: DataFrameExtractors,
                       report: List[str]) -> DataFrame:
        """Distinct (pid, pk) pairs, at most max_partitions_contributed per
        privacy id: the input of partition selection."""
        data, _ = self._extract(df, params, extractors, None, report, [])
        return bounders.bound_cross_and_per_partition(
            data, _PID, extractors.partition_key_columns,
            [F.count(F.lit(1)).alias(PARTIAL_COUNT)],
            l0=params.max_partitions_contributed, order_cols=self._order_cols)

    # ------------------------------------------------------------------
    def select_partitions(self, df: DataFrame, params: SelectPartitionsParams,
                          extractors: DataFrameExtractors) -> DPResult:
        """Reference: pipeline_dp/dp_engine.py:220-305 (semantics)."""
        report = ["DPEngine.select_partitions"]
        self._reports.append(report)
        if params.partition_selection_strategy == \
                PartitionSelectionStrategy.WEIGHTED_GAUSSIAN_THRESHOLDING:
            return self._select_partitions_weighted_gaussian(
                df, params, extractors, report)
        pk_cols = extractors.partition_key_columns
        bounded = self._sampled_pairs(df, params, extractors, report)
        counts = bounded.groupBy(*pk_cols).agg(
            F.count(F.lit(1)).alias(_PID_COUNT))
        with self._accountant.scope(params.budget_weight):
            spec = self._accountant.request_budget(
                params.partition_selection_strategy.mechanism_type)
        agg_params = AggregateParams(
            metrics=[Metrics.COUNT],
            max_partitions_contributed=params.max_partitions_contributed,
            max_contributions_per_partition=1,
            partition_selection_strategy=params.partition_selection_strategy,
            pre_threshold=params.pre_threshold)
        engine = self

        def finalize() -> DataFrame:
            kept = engine._select_private_partitions(counts, spec, agg_params,
                                                     report)
            return kept.select(*pk_cols)

        return DPResult(finalize, self._accountant)

    # ------------------------------------------------------------------
    def _select_partitions_weighted_gaussian(
            self, df: DataFrame, params: SelectPartitionsParams,
            extractors: DataFrameExtractors,
            report: List[str]) -> DPResult:
        """Weighted Gaussian partition selection (reference:
        pipeline_dp/dp_engine.py:664-714): each (pid, pk) is weighted
        1/sqrt(#partitions of the pid after L0 sampling), so every privacy
        id has total L2 weight exactly 1 and sigma is l0-independent. Plan:
        distinct -> L0 window sample -> pid-window weight (reuses the
        sample's hash partitioning) -> groupBy(pk) weight sum -> noisy
        threshold filter."""
        pk_cols = extractors.partition_key_columns
        bounded = self._sampled_pairs(df, params, extractors, report)
        w = Window.partitionBy(_PID)
        weighted = bounded.withColumn(
            "__weight__",
            F.lit(1.0) / F.sqrt(F.count(F.lit(1)).over(w)))
        weights = weighted.groupBy(*pk_cols).agg(
            F.sum("__weight__").alias("__weight__"))
        with self._accountant.scope(params.budget_weight):
            spec = self._accountant.request_budget(
                params.partition_selection_strategy.mechanism_type)
        engine = self
        l0 = params.max_partitions_contributed

        def finalize() -> DataFrame:
            sigma, threshold = dp.weighted_gaussian_thresholding(
                spec.eps, spec.delta, l0)
            noisy = engine._noise.add_noise(F.col("__weight__"), "gaussian",
                                            sigma)
            keep = noisy >= F.lit(threshold)
            if params.pre_threshold is not None:
                # pre-threshold applies to the raw weight sum floor.
                keep = keep & (F.col("__weight__") >=
                               F.lit(float(params.pre_threshold)) /
                               F.sqrt(F.lit(float(l0))))
            report.append(
                f"Partition selection: weighted gaussian, sigma={sigma:.3f},"
                f" threshold={threshold:.3f}")
            return weights.filter(keep).select(*pk_cols)

        return DPResult(finalize, self._accountant)

    # ------------------------------------------------------------------
    def calculate_private_contribution_bounds(
            self, df: DataFrame, params, extractors: DataFrameExtractors,
            rng=None):
        """DP choice of max_partitions_contributed via the exponential
        mechanism over log-spaced candidates
        (reference: pipeline_dp/dp_engine.py:479-531 +
        private_contribution_bounds.py:27-195). One pass over ``df``:
        ``compute_dataset_histograms`` groups it once per (pid, pk); the L0
        histogram and the partition count (the count-per-partition
        histogram's total, one per distinct key) both come from that
        pre-aggregate."""
        from pipelinedp_spark.analysis.histograms import \
            compute_dataset_histograms
        from pipelinedp_spark.private_contribution_bounds import (
            PrivateContributionBounds, PrivateL0Calculator)
        histograms = compute_dataset_histograms(df, extractors)
        n_partitions = histograms.count_per_partition_histogram.total_count
        calc = PrivateL0Calculator(params, n_partitions,
                                   histograms.l0_contributions_histogram)
        if self._noise_mode == "zero":
            # deterministic mode: the exponential mechanism degenerates
            # to the score argmax (what it converges to as
            # calculation_eps -> inf) — same contract as every other
            # zero-noise path, and the oracle-checkable one
            return PrivateContributionBounds(
                max_partitions_contributed=calc.calculate_deterministic())
        return PrivateContributionBounds(
            max_partitions_contributed=calc.calculate(rng=rng))

    # ------------------------------------------------------------------
    def add_dp_noise(self, df: DataFrame, value_columns: Union[str, List[str]],
                     params: AddDPNoiseParams) -> DPResult:
        """Pure noise addition with explicit sensitivities
        (reference: pipeline_dp/dp_engine.py:579-652)."""
        report = ["DPEngine.add_dp_noise"]
        self._reports.append(report)
        if isinstance(value_columns, str):
            value_columns = [value_columns]
        with self._accountant.scope(params.budget_weight):
            spec = self._accountant.request_budget(
                params.noise_kind.convert_to_mechanism_type())
        sens = dp.Sensitivities(l0=params.l0_sensitivity,
                                linf=params.linf_sensitivity,
                                l1=params.l1_sensitivity,
                                l2=params.l2_sensitivity)
        noise = self._noise
        kind = params.noise_kind.value

        def finalize() -> DataFrame:
            scale = dp.noise_scale(params.noise_kind, spec.eps, spec.delta,
                                   sens)
            out = df
            for c in value_columns:
                out = out.withColumn(
                    c, noise.add_noise(F.col(c).cast(DoubleType()), kind,
                                       scale))
            if params.output_noise_stddev:
                std = dp.noise_std(params.noise_kind, spec.eps, spec.delta,
                                   sens)
                for c in value_columns:
                    out = out.withColumn(f"{c}_noise_stddev",
                                         F.lit(float(std)))
            report.append(f"Added {kind} noise, scale={scale:.4g}")
            return out

        return DPResult(finalize, self._accountant)

    # ------------------------------------------------------------------
    def explain_computation_reports(self) -> List[str]:
        """Reference: pipeline_dp/report_generator.py:46-115."""
        return ["\n".join(r) for r in self._reports]

    # ------------------------------------------------------------------
    @staticmethod
    def _as_partitions_df(spark: SparkSession, pk_cols: Sequence[str],
                          partitions: Union[DataFrame, Sequence],
                          like: Optional[DataFrame] = None) -> DataFrame:
        """``like``: a DataFrame carrying the pk columns with the DATA's
        types; the public-partition frame is cast to them so literal
        inference (SQL ints -> INT) can't narrow the output key columns
        away from the source schema."""
        def align(pub: DataFrame) -> DataFrame:
            if like is None:
                return pub
            types = {f.name: f.dataType for f in like.schema.fields}
            return pub.select(*[
                F.col(c).cast(types[c]).alias(c) if c in types else F.col(c)
                for c in pub.columns])

        if isinstance(partitions, DataFrame):
            return align(partitions.select(*pk_cols).distinct())
        # Local list -> SQL VALUES LocalRelation: stays driver-side in
        # Catalyst (no parallelize job, no Python-serialization stage).
        rows = list(
            dict.fromkeys(p if isinstance(p, tuple) else (p,)
                          for p in partitions))

        def lit(v) -> str:
            if v is None:
                return "NULL"
            if isinstance(v, bool):
                return "true" if v else "false"
            if isinstance(v, float):
                # repr() of inf/nan is not a SQL literal.
                if math.isnan(v):
                    return "CAST('NaN' AS DOUBLE)"
                if math.isinf(v):
                    sign = "-" if v < 0 else ""
                    return f"CAST('{sign}Infinity' AS DOUBLE)"
                return repr(v)
            if isinstance(v, int):
                return repr(v)
            if isinstance(v, str):
                s = v.replace("\\", "\\\\").replace("'", "\\'")
                return f"'{s}'"
            raise ValueError(
                f"unsupported public-partition key type {type(v).__name__}: "
                f"pass keys as str/int/float/bool/None, or provide the "
                f"partitions as a DataFrame")

        values = ", ".join(
            "(" + ", ".join(lit(v) for v in row) + ")" for row in rows)
        cols = ", ".join(f"`{c}`" for c in pk_cols)
        return align(spark.sql(f"SELECT * FROM VALUES {values} AS t({cols})"))
