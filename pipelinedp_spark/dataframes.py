"""Declarative DataFrame query API — the engine's lead surface.

Mirrors the reference's QueryBuilder contract
(reference: pipeline_dp/dataframes.py:251-499): one ``groupby`` per query, a
single input value column, each aggregation at most once, consistent clip
bounds; output is a DataFrame whose partition-key columns keep their input
types and whose metric columns are DoubleType
(reference: pipeline_dp/dataframes.py:112-123).
"""

from __future__ import annotations

import dataclasses
from typing import List, Optional, Sequence, Tuple, Union

from pyspark.sql import DataFrame

from pipelinedp_spark.aggregate_params import (AggregateParams, Metric,
                                               MetricSpec, Metrics, NoiseKind,
                                               NormKind,
                                               PartitionSelectionStrategy)
from pipelinedp_spark.budget_accounting import Budget, NaiveBudgetAccountant
from pipelinedp_spark.dp_engine import (DataFrameExtractors, DPEngine,
                                        MultiSumParams, MultiSumSpec,
                                        MultiValueDataFrameExtractors)


@dataclasses.dataclass
class Columns:
    """Reference: pipeline_dp/dataframes.py:42-46."""

    privacy_key: str
    partition_key: Union[str, Sequence[str]]
    value: Optional[str]


@dataclasses.dataclass
class ContributionBounds:
    """Reference: pipeline_dp/dataframes.py (ContributionBounds)."""

    max_partitions_contributed: Optional[int] = None
    max_contributions_per_partition: Optional[int] = None
    min_value: Optional[float] = None
    max_value: Optional[float] = None
    min_sum_per_partition: Optional[float] = None
    max_sum_per_partition: Optional[float] = None
    vector_max_norm: Optional[float] = None
    vector_norm_kind: NormKind = NormKind.LINF
    vector_size: Optional[int] = None


@dataclasses.dataclass
class _AggregationSpec:
    metric: MetricSpec
    input_column: Optional[str]
    output_column: str
    min_value: Optional[float] = None
    max_value: Optional[float] = None
    min_sum_per_partition: Optional[float] = None
    max_sum_per_partition: Optional[float] = None
    vector_max_norm: Optional[float] = None
    vector_norm_kind: NormKind = NormKind.LINF
    vector_size: Optional[int] = None


class Query:
    """Immutable compiled query (reference: pipeline_dp/dataframes.py:413-436)."""

    def __init__(self, df: DataFrame, columns: Columns,
                 metrics_output_columns: dict,
                 contribution_bounds: ContributionBounds,
                 public_partitions: Optional[Sequence],
                 partition_selection_strategy: PartitionSelectionStrategy,
                 pre_threshold: Optional[int],
                 multi_sum_aggs: Optional[List["_AggregationSpec"]] = None):
        self._df = df
        self._columns = columns
        self._metrics_output_columns = metrics_output_columns
        self._contribution_bounds = contribution_bounds
        self._public_partitions = public_partitions
        self._strategy = partition_selection_strategy
        self._pre_threshold = pre_threshold
        self._multi_sum_aggs = multi_sum_aggs

    def _release(self, budget: Budget, noise_kind: NoiseKind,
                 noise_mode: str) -> Tuple[DPEngine, DataFrame]:
        """The one engine call behind ``run_query`` and ``explain``:
        multi-column sums go through ``aggregate_multi_sum``, everything
        else through ``aggregate``."""
        accountant = NaiveBudgetAccountant(budget.epsilon, budget.delta)
        engine = DPEngine(accountant, noise_mode=noise_mode)
        b = self._contribution_bounds
        if self._multi_sum_aggs:
            params = MultiSumParams(
                max_partitions_contributed=b.max_partitions_contributed,
                max_contributions_per_partition=(
                    b.max_contributions_per_partition),
                noise_kind=noise_kind,
                include_count=Metrics.COUNT in self._metrics_output_columns,
                include_privacy_id_count=(
                    Metrics.PRIVACY_ID_COUNT in self._metrics_output_columns),
                partition_selection_strategy=self._strategy,
                pre_threshold=self._pre_threshold)
            extractors = MultiValueDataFrameExtractors(
                privacy_id_column=self._columns.privacy_key,
                partition_key_columns=self._columns.partition_key,
                value_columns=[a.input_column for a in self._multi_sum_aggs])
            specs = [MultiSumSpec(a.min_value, a.max_value,
                                  a.min_sum_per_partition,
                                  a.max_sum_per_partition, a.output_column)
                     for a in self._multi_sum_aggs]
            result = engine.aggregate_multi_sum(self._df, params, extractors,
                                                specs, self._public_partitions)
        else:
            params = AggregateParams(
                metrics=list(self._metrics_output_columns.keys()),
                max_partitions_contributed=b.max_partitions_contributed,
                max_contributions_per_partition=(
                    b.max_contributions_per_partition),
                min_value=b.min_value,
                max_value=b.max_value,
                min_sum_per_partition=b.min_sum_per_partition,
                max_sum_per_partition=b.max_sum_per_partition,
                vector_max_norm=b.vector_max_norm,
                vector_norm_kind=b.vector_norm_kind,
                vector_size=b.vector_size,
                noise_kind=noise_kind,
                partition_selection_strategy=self._strategy,
                pre_threshold=self._pre_threshold)
            extractors = DataFrameExtractors(
                privacy_id_column=self._columns.privacy_key,
                partition_key_columns=self._columns.partition_key,
                value_column=self._columns.value)
            result = engine.aggregate(self._df, params, extractors,
                                      self._public_partitions)
        accountant.compute_budgets()
        return engine, result.dataframe()

    def run_query(self,
                  budget: Budget,
                  noise_kind: NoiseKind = NoiseKind.LAPLACE,
                  noise_mode: str = "secure") -> DataFrame:
        """Reference: pipeline_dp/dataframes.py:172-248. ``noise_mode='zero'``
        is the deterministic testing/oracle mode."""
        _, out = self._release(budget, noise_kind, noise_mode)
        for metric, out_name in self._metrics_output_columns.items():
            if out_name != metric.output_name:
                out = out.withColumnRenamed(metric.output_name, out_name)
        return out

    def explain(self, budget: Budget,
                noise_kind: NoiseKind = NoiseKind.LAPLACE) -> str:
        """The computation report of the release ``run_query`` builds."""
        engine, _ = self._release(budget, noise_kind, "zero")
        return engine.explain_computation_reports()[-1]


class QueryBuilder:
    """Reference: pipeline_dp/dataframes.py:288-436."""

    def __init__(self, df: DataFrame, privacy_unit_column: str):
        if privacy_unit_column not in df.columns:
            raise ValueError(
                f"column '{privacy_unit_column}' not in DataFrame "
                f"columns {df.columns}")
        self._df = df
        self._privacy_unit_column = privacy_unit_column
        self._by: Optional[List[str]] = None
        self._max_groups: Optional[int] = None
        self._max_rows_per_group: Optional[int] = None
        self._public_keys: Optional[Sequence] = None
        self._strategy = PartitionSelectionStrategy.TRUNCATED_GEOMETRIC
        self._pre_threshold: Optional[int] = None
        self._aggregations: List[_AggregationSpec] = []

    def groupby(self,
                by: Union[str, Sequence[str]],
                max_groups_contributed: int,
                max_contributions_per_group: int,
                public_keys: Optional[Sequence] = None,
                partition_selection_strategy: PartitionSelectionStrategy = (
                    PartitionSelectionStrategy.TRUNCATED_GEOMETRIC),
                pre_threshold: Optional[int] = None) -> "QueryBuilder":
        if self._by is not None:
            raise ValueError("groupby can be called only once "
                             "(reference: dataframes.py:341-342)")
        by = [by] if isinstance(by, str) else list(by)
        missing = [c for c in by if c not in self._df.columns]
        if missing:
            raise ValueError(f"groupby columns not in DataFrame: {missing}")
        self._by = by
        self._max_groups = max_groups_contributed
        self._max_rows_per_group = max_contributions_per_group
        self._public_keys = public_keys
        self._strategy = partition_selection_strategy
        self._pre_threshold = pre_threshold
        return self

    def _check_groupby(self):
        if self._by is None:
            raise ValueError("call groupby before adding aggregations")

    def _check_metric_once(self, metric: MetricSpec):
        if any(a.metric == metric for a in self._aggregations):
            raise ValueError(f"each aggregation can be used once, "
                             f"duplicate: {metric}")

    def count(self, name: Optional[str] = None) -> "QueryBuilder":
        self._check_groupby()
        self._check_metric_once(Metrics.COUNT)
        self._aggregations.append(
            _AggregationSpec(Metrics.COUNT, None, name or "count"))
        return self

    def privacy_id_count(self, name: Optional[str] = None) -> "QueryBuilder":
        self._check_groupby()
        self._check_metric_once(Metrics.PRIVACY_ID_COUNT)
        self._aggregations.append(
            _AggregationSpec(Metrics.PRIVACY_ID_COUNT, None,
                             name or "privacy_id_count"))
        return self

    def sum(self,
            column: str,
            min_value: Optional[float] = None,
            max_value: Optional[float] = None,
            min_sum_per_partition: Optional[float] = None,
            max_sum_per_partition: Optional[float] = None,
            name: Optional[str] = None) -> "QueryBuilder":
        """May be called several times with DIFFERENT columns — multi-column
        sums share one contribution-bounding pass (engine extension of the
        reference's MultiValueDataExtractors; the reference QueryBuilder
        itself allows a single value column, dataframes.py:454-464)."""
        self._check_groupby()
        if any(a.metric == Metrics.SUM and a.input_column == column
               for a in self._aggregations):
            raise ValueError(f"duplicate sum over column '{column}'")
        self._aggregations.append(
            _AggregationSpec(Metrics.SUM, column, name or f"sum_{column}",
                             min_value, max_value, min_sum_per_partition,
                             max_sum_per_partition))
        return self

    def mean(self,
             column: str,
             min_value: float,
             max_value: float,
             name: Optional[str] = None) -> "QueryBuilder":
        self._check_groupby()
        self._check_metric_once(Metrics.MEAN)
        self._aggregations.append(
            _AggregationSpec(Metrics.MEAN, column, name or f"mean_{column}",
                             min_value, max_value))
        return self

    def variance(self,
                 column: str,
                 min_value: float,
                 max_value: float,
                 name: Optional[str] = None) -> "QueryBuilder":
        self._check_groupby()
        self._check_metric_once(Metrics.VARIANCE)
        self._aggregations.append(
            _AggregationSpec(Metrics.VARIANCE, column,
                             name or f"variance_{column}", min_value,
                             max_value))
        return self

    def percentile(self,
                   column: str,
                   percentile: float,
                   min_value: float,
                   max_value: float,
                   name: Optional[str] = None) -> "QueryBuilder":
        """DP percentile (bounded-domain histogram sketch). May be called
        several times with different percentiles of the same column."""
        self._check_groupby()
        spec = Metrics.PERCENTILE(percentile)
        self._check_metric_once(spec)
        self._aggregations.append(
            _AggregationSpec(spec, column, name or spec.output_name,
                             min_value, max_value))
        return self

    def vector_sum(self,
                   column: str,
                   max_norm: float,
                   vector_size: int,
                   norm_kind: NormKind = NormKind.LINF,
                   name: Optional[str] = None) -> "QueryBuilder":
        """DP elementwise sum of an array<double> column with per-vector
        norm clipping. Must be the only aggregation in the query."""
        self._check_groupby()
        self._check_metric_once(Metrics.VECTOR_SUM)
        spec = _AggregationSpec(Metrics.VECTOR_SUM, column,
                                name or f"vector_sum_{column}")
        spec.vector_max_norm = max_norm
        spec.vector_norm_kind = norm_kind
        spec.vector_size = vector_size
        self._aggregations.append(spec)
        return self

    def vector_mean(self,
                    column: str,
                    max_norm: float,
                    vector_size: int,
                    norm_kind: NormKind = NormKind.LINF,
                    name: Optional[str] = None) -> "QueryBuilder":
        """DP elementwise mean of an array<double> column (the private
        embedding-centroid release): noisy clipped vector sum divided by
        a separately released noisy contribution count. Must be the only
        aggregation in the query."""
        self._check_groupby()
        self._check_metric_once(Metrics.VECTOR_MEAN)
        spec = _AggregationSpec(Metrics.VECTOR_MEAN, column,
                                name or f"vector_mean_{column}")
        spec.vector_max_norm = max_norm
        spec.vector_norm_kind = norm_kind
        spec.vector_size = vector_size
        self._aggregations.append(spec)
        return self

    def build_query(self) -> Query:
        """Validation mirrors reference: pipeline_dp/dataframes.py:444-499."""
        self._check_groupby()
        if not self._aggregations:
            raise ValueError("at least one aggregation required")
        vector_aggs = [a for a in self._aggregations
                       if a.metric.metric in (Metric.VECTOR_SUM,
                                              Metric.VECTOR_MEAN)]
        if vector_aggs and len(self._aggregations) > 1:
            raise ValueError(
                "vector_sum/vector_mean must be the only aggregation")

        sum_aggs = [a for a in self._aggregations
                    if a.metric == Metrics.SUM]
        sum_cols = {a.input_column for a in sum_aggs}
        if len(sum_cols) > 1:
            # Multi-column sums: one bounding pass, per-column bounds.
            others = [a for a in self._aggregations
                      if a.metric not in (Metrics.SUM, Metrics.COUNT,
                                          Metrics.PRIVACY_ID_COUNT)]
            if others:
                raise ValueError(
                    "multi-column sums combine only with count / "
                    f"privacy_id_count, got {others}")
            for c in sum_cols:
                if c not in self._df.columns:
                    raise ValueError(f"column '{c}' not in DataFrame")
            metrics_output = {a.metric: a.output_column
                              for a in self._aggregations
                              if a.metric != Metrics.SUM}
            return Query(self._df,
                         Columns(self._privacy_unit_column, self._by, None),
                         metrics_output,
                         ContributionBounds(
                             max_partitions_contributed=self._max_groups,
                             max_contributions_per_partition=(
                                 self._max_rows_per_group)),
                         self._public_keys, self._strategy,
                         self._pre_threshold, multi_sum_aggs=sum_aggs)

        value_cols = {
            a.input_column
            for a in self._aggregations if a.input_column is not None
        }
        if len(value_cols) > 1:
            raise ValueError(
                f"all aggregations must use the same input column, "
                f"got {sorted(value_cols)} "
                "(reference: dataframes.py:454-464)")
        value_col = next(iter(value_cols), None)
        if value_col is not None and value_col not in self._df.columns:
            raise ValueError(f"column '{value_col}' not in DataFrame")

        mins = {(a.min_value, a.max_value, a.min_sum_per_partition,
                 a.max_sum_per_partition)
                for a in self._aggregations if a.input_column is not None}
        if len(mins) > 1:
            raise ValueError("clip bounds must agree across aggregations "
                             "(reference: dataframes.py:472-499)")
        bounds = ContributionBounds(
            max_partitions_contributed=self._max_groups,
            max_contributions_per_partition=self._max_rows_per_group)
        if mins:
            mn, mx, mns, mxs = next(iter(mins))
            bounds.min_value, bounds.max_value = mn, mx
            bounds.min_sum_per_partition = mns
            bounds.max_sum_per_partition = mxs
        if vector_aggs:
            bounds.vector_max_norm = vector_aggs[0].vector_max_norm
            bounds.vector_norm_kind = vector_aggs[0].vector_norm_kind
            bounds.vector_size = vector_aggs[0].vector_size
        metrics_output = {
            a.metric: a.output_column
            for a in self._aggregations
        }
        return Query(self._df,
                     Columns(self._privacy_unit_column, self._by, value_col),
                     metrics_output, bounds, self._public_keys,
                     self._strategy, self._pre_threshold)
