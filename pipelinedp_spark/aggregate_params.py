"""Aggregation parameter objects and validation.

Semantics mirror the reference engine's parameter surface
(reference: pipeline_dp/aggregate_params.py:61-416) but the implementation is
new and Spark-first: partition keys are named DataFrame columns, values are
named columns, and every validation rule is enforced eagerly at construction.
"""

from __future__ import annotations

import dataclasses
import enum
from typing import List, Optional, Sequence, Union


class Metric(enum.Enum):
    """DP aggregation metrics (reference: pipeline_dp/aggregate_params.py:61-72)."""

    COUNT = "count"
    PRIVACY_ID_COUNT = "privacy_id_count"
    SUM = "sum"
    MEAN = "mean"
    VARIANCE = "variance"
    VECTOR_SUM = "vector_sum"
    VECTOR_MEAN = "vector_mean"
    PERCENTILE = "percentile"  # used via Metrics.PERCENTILE(p)


@dataclasses.dataclass(frozen=True)
class MetricSpec:
    """A metric plus its parameter (only percentiles carry one)."""

    metric: Metric
    parameter: Optional[float] = None

    @property
    def output_name(self) -> str:
        if self.metric == Metric.PERCENTILE:
            # Injective for fractional percentiles (reference:
            # combiners.py:686-693): PERCENTILE(50) -> percentile_50,
            # PERCENTILE(50.4) -> percentile_50_4.
            p = self.parameter
            if p == int(p):
                return f"percentile_{int(p)}"
            return "percentile_" + str(p).replace(".", "_")
        return self.metric.value

    def __repr__(self):
        return self.output_name


class _MetricsNamespace:
    """`Metrics.COUNT`-style access mirroring the reference API."""

    COUNT = MetricSpec(Metric.COUNT)
    PRIVACY_ID_COUNT = MetricSpec(Metric.PRIVACY_ID_COUNT)
    SUM = MetricSpec(Metric.SUM)
    MEAN = MetricSpec(Metric.MEAN)
    VARIANCE = MetricSpec(Metric.VARIANCE)
    VECTOR_SUM = MetricSpec(Metric.VECTOR_SUM)
    VECTOR_MEAN = MetricSpec(Metric.VECTOR_MEAN)

    @staticmethod
    def PERCENTILE(percentile: float) -> MetricSpec:
        if not 0 <= percentile <= 100:
            raise ValueError(f"percentile must be in [0, 100], got {percentile}")
        return MetricSpec(Metric.PERCENTILE, percentile)


Metrics = _MetricsNamespace


class NoiseKind(enum.Enum):
    LAPLACE = "laplace"
    GAUSSIAN = "gaussian"

    def convert_to_mechanism_type(self) -> "MechanismType":
        return (MechanismType.LAPLACE
                if self == NoiseKind.LAPLACE else MechanismType.GAUSSIAN)


class MechanismType(enum.Enum):
    LAPLACE = "Laplace"
    GAUSSIAN = "Gaussian"
    LAPLACE_THRESHOLDING = "Laplace Thresholding"
    GAUSSIAN_THRESHOLDING = "Gaussian Thresholding"
    TRUNCATED_GEOMETRIC = "Truncated Geometric"
    GENERIC = "Generic"

    def to_noise_kind(self) -> NoiseKind:
        if self in (MechanismType.LAPLACE, MechanismType.LAPLACE_THRESHOLDING):
            return NoiseKind.LAPLACE
        if self in (MechanismType.GAUSSIAN, MechanismType.GAUSSIAN_THRESHOLDING):
            return NoiseKind.GAUSSIAN
        raise ValueError(f"{self} has no noise kind")


class PartitionSelectionStrategy(enum.Enum):
    """Reference: pipeline_dp/aggregate_params.py:86-107."""

    TRUNCATED_GEOMETRIC = "Truncated Geometric"
    LAPLACE_THRESHOLDING = "Laplace Thresholding"
    GAUSSIAN_THRESHOLDING = "Gaussian Thresholding"
    WEIGHTED_GAUSSIAN_THRESHOLDING = "Weighted Gaussian Thresholding"

    @property
    def mechanism_type(self) -> MechanismType:
        return {
            PartitionSelectionStrategy.TRUNCATED_GEOMETRIC:
                MechanismType.TRUNCATED_GEOMETRIC,
            PartitionSelectionStrategy.LAPLACE_THRESHOLDING:
                MechanismType.LAPLACE_THRESHOLDING,
            PartitionSelectionStrategy.GAUSSIAN_THRESHOLDING:
                MechanismType.GAUSSIAN_THRESHOLDING,
            PartitionSelectionStrategy.WEIGHTED_GAUSSIAN_THRESHOLDING:
                MechanismType.GAUSSIAN_THRESHOLDING,
        }[self]


class NormKind(enum.Enum):
    L1 = "l1"
    L2 = "l2"
    LINF = "linf"


@dataclasses.dataclass
class AggregateParams:
    """Parameters of a DP aggregation.

    Validation rules mirror the reference contract
    (reference: pipeline_dp/aggregate_params.py:328-416).
    """

    metrics: List[MetricSpec]
    max_partitions_contributed: Optional[int] = None  # L0 bound
    max_contributions_per_partition: Optional[int] = None  # Linf bound
    max_contributions: Optional[int] = None  # L1-style total bound
    budget_weight: float = 1.0
    min_value: Optional[float] = None
    max_value: Optional[float] = None
    min_sum_per_partition: Optional[float] = None
    max_sum_per_partition: Optional[float] = None
    noise_kind: NoiseKind = NoiseKind.LAPLACE
    partition_selection_strategy: PartitionSelectionStrategy = (
        PartitionSelectionStrategy.TRUNCATED_GEOMETRIC)
    pre_threshold: Optional[int] = None
    post_aggregation_thresholding: bool = False
    contribution_bounds_already_enforced: bool = False
    vector_norm_kind: NormKind = NormKind.LINF
    vector_max_norm: Optional[float] = None
    vector_size: Optional[int] = None
    # Bounded-domain histogram resolution for PERCENTILE (bin width =
    # (max_value - min_value) / percentile_bins; quantiles interpolate
    # within the bin, so resolution error is <= one bin width).
    percentile_bins: int = 256
    # "histogram" (flat noisy histogram, the fast path) or "tree" (the
    # reference's height-4 branching-16 quantile tree: noise per visited
    # node at eps/height per level — better error on skewed value
    # distributions, where most flat-histogram bins are empty noise).
    percentile_algorithm: str = "histogram"
    # When False, skip the cross-partition (L0) sampling step while KEEPING
    # max_partitions_contributed in the noise sensitivity. Only sound when
    # the data already satisfies the L0 bound
    # (reference: pipeline_dp/aggregate_params.py:279,308 and
    # dp_engine.py:418-430 — LinfSampler / NoOpSampler dispatch).
    perform_cross_partition_contribution_bounding: bool = True
    # When True, emit an extra `<metric>_noise_stddev` DOUBLE column per
    # supported metric (COUNT, PRIVACY_ID_COUNT, SUM — same support set as
    # the reference: pipeline_dp/aggregate_params.py:284-287,309;
    # combiners.py:276-288,323-335,439-454).
    output_noise_stddev: bool = False
    # When True, the caller asserts rows with non-public partition keys are
    # already removed, so the engine skips its drop filter; aggregate()
    # requires public partitions with it (reference:
    # pipeline_dp/aggregate_params.py:267-269, 304). aggregate_partials()
    # takes no public partitions: there the flag declares every key present
    # public, which only the streaming threshold_windows=False path sets.
    public_partitions_already_filtered: bool = False
    # User-defined combiners (reference: pipeline_dp/aggregate_params.py:
    # 254-257,296): mutually exclusive with `metrics`; routed through
    # `DPEngine.aggregate_custom` (multiple combiners are composed — each
    # requests its own budget, outputs are merged per partition).
    custom_combiners: Optional[List] = None

    def __post_init__(self):
        if self.max_contributions is not None:
            self._check_max_contributions_supported()
        if self.custom_combiners:
            if self.metrics:
                raise ValueError(
                    "metrics must be empty when custom_combiners are used "
                    "(each custom combiner implements its own DP)")
            return
        if not self.metrics:
            raise ValueError("metrics must be non-empty")
        metric_kinds = [m.metric for m in self.metrics]
        non_percentile = [m for m in metric_kinds if m != Metric.PERCENTILE]
        if len(set(non_percentile)) != len(non_percentile):
            raise ValueError("each metric may appear at most once")
        out_names = [m.output_name for m in self.metrics]
        if len(set(out_names)) != len(out_names):
            raise ValueError(
                f"metrics map to duplicate output columns: {out_names}")

        if self.max_contributions is not None:
            if self.max_contributions <= 0:
                raise ValueError("max_contributions must be positive")
            if (self.max_partitions_contributed is not None or
                    self.max_contributions_per_partition is not None):
                raise ValueError(
                    "set either max_contributions or "
                    "(max_partitions_contributed, max_contributions_per_partition),"
                    " not both")
        elif not self.contribution_bounds_already_enforced:
            if self.max_partitions_contributed is None:
                raise ValueError("max_partitions_contributed must be set")
            if self.max_partitions_contributed <= 0:
                raise ValueError("max_partitions_contributed must be positive")
            if self._needs_per_partition_bound():
                if self.max_contributions_per_partition is None:
                    raise ValueError(
                        "max_contributions_per_partition must be set")
                if self.max_contributions_per_partition <= 0:
                    raise ValueError(
                        "max_contributions_per_partition must be positive")

        per_contribution = (self.min_value is not None or
                            self.max_value is not None)
        per_partition = (self.min_sum_per_partition is not None or
                         self.max_sum_per_partition is not None)
        if per_contribution and per_partition:
            raise ValueError(
                "set either (min_value, max_value) or "
                "(min_sum_per_partition, max_sum_per_partition), not both")
        if per_contribution and (self.min_value is None or
                                 self.max_value is None):
            raise ValueError("min_value and max_value must be set together")
        if per_partition and (self.min_sum_per_partition is None or
                              self.max_sum_per_partition is None):
            raise ValueError("min_sum_per_partition and max_sum_per_partition "
                             "must be set together")
        if per_contribution and self.min_value > self.max_value:
            raise ValueError("min_value must be <= max_value")
        if per_partition and self.min_sum_per_partition > self.max_sum_per_partition:
            raise ValueError(
                "min_sum_per_partition must be <= max_sum_per_partition")

        needs_values = {Metric.SUM, Metric.MEAN, Metric.VARIANCE,
                        Metric.PERCENTILE}
        if needs_values & set(metric_kinds):
            if not per_contribution and not per_partition:
                raise ValueError(
                    "SUM/MEAN/VARIANCE/PERCENTILE require clipping bounds: set"
                    " (min_value, max_value) or (min/max_sum_per_partition)")
        if {Metric.MEAN, Metric.VARIANCE,
                Metric.PERCENTILE} & set(metric_kinds) and per_partition:
            raise ValueError(
                "MEAN/VARIANCE/PERCENTILE support only per-contribution "
                "bounds (min_value, max_value)")
        if Metric.PERCENTILE in metric_kinds and self.percentile_bins <= 0:
            raise ValueError("percentile_bins must be positive")
        if self.percentile_algorithm not in ("histogram", "tree"):
            raise ValueError("percentile_algorithm must be 'histogram' or "
                             f"'tree', got {self.percentile_algorithm!r}")
        if Metric.VECTOR_SUM in metric_kinds \
                or Metric.VECTOR_MEAN in metric_kinds:
            which = ("VECTOR_SUM" if Metric.VECTOR_SUM in metric_kinds
                     else "VECTOR_MEAN")
            if self.vector_max_norm is None or self.vector_size is None:
                raise ValueError(
                    f"{which} requires vector_max_norm and vector_size")
            if len(metric_kinds) > 1:
                raise ValueError(
                    f"{which} must be the only metric in an aggregation")
        if self.post_aggregation_thresholding:
            # The post-aggregation threshold filter operates on the noisy
            # privacy-id count; without that metric no DP selection would run
            # at all and every partition key would be released (reference
            # raises the same way: pipeline_dp/dp_engine.py:474-477).
            if Metric.PRIVACY_ID_COUNT not in metric_kinds:
                raise ValueError(
                    "post_aggregation_thresholding requires PRIVACY_ID_COUNT "
                    "in metrics (the threshold is applied to the noisy "
                    "privacy-id count)")
        if self.pre_threshold is not None and self.pre_threshold <= 0:
            raise ValueError("pre_threshold must be positive")
        if self.budget_weight <= 0:
            raise ValueError("budget_weight must be positive")
        if self.output_noise_stddev:
            supported = {Metric.COUNT, Metric.PRIVACY_ID_COUNT, Metric.SUM}
            unsupported = set(metric_kinds) - supported
            if unsupported:
                raise ValueError(
                    "output_noise_stddev supports only COUNT, "
                    "PRIVACY_ID_COUNT and SUM (got "
                    f"{sorted(m.value for m in unsupported)})")

    def _check_max_contributions_supported(self) -> None:
        # Only the scalar COUNT / PRIVACY_ID_COUNT / per-partition SUM
        # partials enforce a total per-privacy-id cap; any other metric
        # would release rows that were never bounded.
        supported = {Metric.COUNT, Metric.PRIVACY_ID_COUNT}
        if self.min_sum_per_partition is not None and self.min_value is None:
            supported.add(Metric.SUM)
        unsupported = (["custom_combiners"] if self.custom_combiners else
                       [m.metric.value for m in self.metrics
                        if m.metric not in supported])
        if unsupported:
            raise ValueError(
                f"max_contributions is not supported with {unsupported[0]}: "
                "it bounds only COUNT, PRIVACY_ID_COUNT and SUM with "
                "per-partition bounds (min/max_sum_per_partition)")

    def _needs_per_partition_bound(self) -> bool:
        # Pure per-partition-sum clipping bounds Linf through the sum caps,
        # matching the reference's SumCombiner per-partition regime
        # (reference: pipeline_dp/combiners.py:441-446).
        per_partition_only = (self.min_sum_per_partition is not None and
                              self.min_value is None)
        only_sum_like = all(
            m.metric in (Metric.SUM, Metric.PRIVACY_ID_COUNT)
            for m in self.metrics)
        return not (per_partition_only and only_sum_like)

    @property
    def metric_kinds(self) -> List[Metric]:
        return [m.metric for m in self.metrics]

    @property
    def percentiles_to_compute(self) -> List[float]:
        return [
            m.parameter for m in self.metrics if m.metric == Metric.PERCENTILE
        ]


@dataclasses.dataclass
class SelectPartitionsParams:
    """Reference: pipeline_dp/aggregate_params.py (SelectPartitionsParams)."""

    max_partitions_contributed: int
    budget_weight: float = 1.0
    partition_selection_strategy: PartitionSelectionStrategy = (
        PartitionSelectionStrategy.TRUNCATED_GEOMETRIC)
    pre_threshold: Optional[int] = None

    def __post_init__(self):
        if self.max_partitions_contributed is None or \
                self.max_partitions_contributed <= 0:
            raise ValueError("max_partitions_contributed must be positive")


@dataclasses.dataclass
class AddDPNoiseParams:
    """Explicit-sensitivity noise addition
    (reference: pipeline_dp/aggregate_params.py:770-832)."""

    noise_kind: NoiseKind = NoiseKind.LAPLACE
    budget_weight: float = 1.0
    l0_sensitivity: Optional[int] = None
    linf_sensitivity: Optional[float] = None
    l1_sensitivity: Optional[float] = None
    l2_sensitivity: Optional[float] = None
    # Emit a `<column>_noise_stddev` DOUBLE column per noised value column
    # (reference: pipeline_dp/aggregate_params.py:810,820).
    output_noise_stddev: bool = False

    def __post_init__(self):
        explicit_l1 = self.l1_sensitivity is not None
        explicit_l2 = self.l2_sensitivity is not None
        derived = (self.l0_sensitivity is not None and
                   self.linf_sensitivity is not None)
        if not (explicit_l1 or explicit_l2 or derived):
            raise ValueError(
                "provide l1_sensitivity, l2_sensitivity, or both "
                "l0_sensitivity and linf_sensitivity")
