"""Streaming DP window aggregations: exact results in zero-noise mode,
DP window selection, parity with the batch engine, input validation."""

import datetime
import math

import pytest
from pyspark.sql import functions as F

from pipelinedp_spark import sources
from pipelinedp_spark.aggregate_params import (AggregateParams, Metrics,
                                               NoiseKind, NormKind)
from pipelinedp_spark.budget_accounting import NaiveBudgetAccountant
from pipelinedp_spark.dp_engine import DataFrameExtractors, DPEngine
from pipelinedp_spark.streaming import (dp_streaming_count,
                                        dp_streaming_mean,
                                        dp_streaming_percentile,
                                        dp_streaming_session_count,
                                        dp_streaming_sum,
                                        dp_streaming_variance,
                                        dp_streaming_vector_sum)

pytestmark = pytest.mark.dp


def test_dp_streaming_count(spark, stream_dir, events_schema, run_stream):
    stream = sources.read_stream(spark, stream_dir, events_schema)
    out = dp_streaming_count(
        stream, "user_id", "ts", window_duration="1 minute",
        watermark_delay="0 seconds", epsilon_per_window=1.0,
        max_contributions_per_window=2, noise_mode="zero",
        threshold_windows=False)
    got = run_stream(out, "dp_count_stream")
    rows = {r["window"]["start"].minute: r for r in got.collect()}
    # Window 0: 3 events/user capped at 2 -> 40; window 1: 1 event/user.
    assert rows[0]["count"] == 40.0
    assert rows[0]["privacy_id_count"] == 20.0
    assert rows[1]["count"] == 20.0


def test_dp_streaming_count_window_selection(spark, stream_dir, events_schema,
                                             run_stream):
    """DP window selection: the sparse minute-2 window (2 users) falls
    below the Laplace threshold (~2.84 at eps=10, delta=1e-4) and is
    suppressed; dense windows survive and release the same noisy pid
    count the filter saw (exact, in zero-noise mode)."""
    stream = sources.read_stream(spark, stream_dir, events_schema)
    out = dp_streaming_count(
        stream, "user_id", "ts", window_duration="1 minute",
        watermark_delay="0 seconds", epsilon_per_window=10.0,
        delta_per_window=1e-4, max_contributions_per_window=2,
        noise_mode="zero")
    got = run_stream(out, "dp_count_stream_sel")
    rows = {r["window"]["start"].minute: r for r in got.collect()}
    assert set(rows) == {0, 1}
    assert rows[0]["privacy_id_count"] == 20.0


def test_dp_streaming_pure_eps_requires_explicit_waiver(spark, stream_dir,
                                                        events_schema):
    stream = sources.read_stream(spark, stream_dir, events_schema)
    with pytest.raises(ValueError, match="presence"):
        dp_streaming_count(
            stream, "user_id", "ts", window_duration="1 minute",
            watermark_delay="0 seconds", epsilon_per_window=1.0,
            max_contributions_per_window=2, noise_mode="zero")


def test_dp_streaming_sum(spark, stream_dir, events_schema, run_stream):
    stream = sources.read_stream(spark, stream_dir, events_schema)
    out = dp_streaming_sum(
        stream, "user_id", "ts", "value", window_duration="1 minute",
        watermark_delay="0 seconds", epsilon_per_window=1.0,
        min_sum_per_window=0.0, max_sum_per_window=5.0, noise_mode="zero",
        threshold_windows=False)
    got = run_stream(out, "dp_sum_stream")
    rows = {r["window"]["start"].minute: r["sum"] for r in got.collect()}
    # Window 0: per-user sum 6.0 clipped to 5.0 -> 100; window 1: 4*20=80.
    assert rows[0] == 100.0
    assert rows[1] == 80.0


def test_dp_streaming_sum_window_selection(spark, stream_dir, events_schema,
                                           run_stream):
    stream = sources.read_stream(spark, stream_dir, events_schema)
    out = dp_streaming_sum(
        stream, "user_id", "ts", "value", window_duration="1 minute",
        watermark_delay="0 seconds", epsilon_per_window=10.0,
        delta_per_window=1e-4, min_sum_per_window=0.0,
        max_sum_per_window=5.0, noise_mode="zero")
    got = run_stream(out, "dp_sum_stream_sel")
    rows = {r["window"]["start"].minute: r["sum"] for r in got.collect()}
    assert set(rows) == {0, 1}
    assert rows[0] == 100.0
    assert rows[1] == 80.0


def test_dp_streaming_session_count(spark, stream_dir, events_schema,
                                    run_stream):
    """3-chained stateful plan: session close -> per-(user, tumble) capped
    session count -> per-window merge. Fixture sessions (gap 30s): every
    user closes one session ending inside minute 0 ([*:10, *:42)) and one
    ending exactly at 00:02:00 (exclusive boundary -> minute 1). The
    sparse-minute sessions of users 0/1 end in minutes 2/3."""
    stream = sources.read_stream(spark, stream_dir, events_schema)
    out = dp_streaming_session_count(
        stream, "user_id", "ts", gap_duration="30 seconds",
        window_duration="1 minute", watermark_delay="0 seconds",
        epsilon_per_window=1.0, max_sessions_per_window=2,
        noise_mode="zero", threshold_windows=False)
    got = run_stream(out, "dp_sess_stream")
    rows = {r["window"]["start"].minute: r for r in got.collect()}
    assert rows[0]["session_count"] == 20.0
    assert rows[0]["privacy_id_count"] == 20.0
    assert rows[1]["session_count"] == 20.0
    # user 0's sparse session [150,180) ends exactly 00:03:00 -> minute 2;
    # user 1's [151,181) -> minute 3.
    assert rows[2]["session_count"] == 1.0
    assert rows[3]["session_count"] == 1.0


def test_dp_streaming_session_count_selection(spark, stream_dir, events_schema,
                                              run_stream):
    stream = sources.read_stream(spark, stream_dir, events_schema)
    out = dp_streaming_session_count(
        stream, "user_id", "ts", gap_duration="30 seconds",
        window_duration="1 minute", watermark_delay="0 seconds",
        epsilon_per_window=10.0, delta_per_window=1e-4,
        max_sessions_per_window=2, noise_mode="zero")
    got = run_stream(out, "dp_sess_stream_sel")
    rows = {r["window"]["start"].minute: r for r in got.collect()}
    # single-user windows (minutes 2 and 3) fall below the threshold
    assert set(rows) == {0, 1}
    assert rows[0]["session_count"] == 20.0


def test_dp_streaming_percentile(spark, stream_dir, events_schema, run_stream):
    """Histogram-sketch DP percentile over per-user window averages:
    window 0 user averages are all 2.0 (bin 2 of 8, width 1) -> midpoint
    2.5; window 1 all 4.0 -> 4.5."""
    stream = sources.read_stream(spark, stream_dir, events_schema)
    out = dp_streaming_percentile(
        stream, "user_id", "ts", "value", window_duration="1 minute",
        watermark_delay="0 seconds", epsilon_per_window=1.0,
        min_value=0.0, max_value=8.0, percentile=50.0, n_bins=8,
        noise_mode="zero", threshold_windows=False)
    got = run_stream(out, "dp_pct_stream")
    rows = {r["window"]["start"].minute: r for r in got.collect()}
    assert rows[0]["percentile_value"] == pytest.approx(2.5)
    assert rows[0]["n_users"] == pytest.approx(20.0)
    assert rows[1]["percentile_value"] == pytest.approx(4.5)
    assert rows[2]["percentile_value"] == pytest.approx(1.5)  # 2 users @1.0
    assert rows[2]["n_users"] == pytest.approx(2.0)


def test_dp_streaming_percentile_selection(spark, stream_dir, events_schema,
                                           run_stream):
    """At eps=1 the Laplace threshold on the noisy user count is 19.42:
    the 20-user windows are released, the 2-user window is not."""
    stream = sources.read_stream(spark, stream_dir, events_schema)
    out = dp_streaming_percentile(
        stream, "user_id", "ts", "value", window_duration="1 minute",
        watermark_delay="0 seconds", epsilon_per_window=1.0,
        delta_per_window=1e-4, min_value=0.0, max_value=8.0,
        percentile=50.0, n_bins=8, noise_mode="zero")
    got = run_stream(out, "dp_pct_stream_sel")
    rows = {r["window"]["start"].minute: r for r in got.collect()}
    assert set(rows) == {0, 1}  # sparse minute-2 window suppressed
    assert rows[1]["percentile_value"] == pytest.approx(4.5)


def test_dp_streaming_mean(spark, stream_dir, events_schema, run_stream):
    stream = sources.read_stream(spark, stream_dir, events_schema)
    out = dp_streaming_mean(
        stream, "user_id", "ts", "value", window_duration="1 minute",
        watermark_delay="0 seconds", epsilon_per_window=10.0,
        min_value=0.0, max_value=5.0, max_contributions_per_window=3,
        delta_per_window=1e-4, noise_mode="zero")
    got = run_stream(out, "dp_mean_stream")
    rows = {r["window"]["start"].minute: r["mean"] for r in got.collect()}
    # Window 0: each user 3 events of 2.0 -> mean 2.0; window 1: 4.0.
    # Sparse window 2 (2 users) is suppressed by selection.
    assert rows[0] == pytest.approx(2.0)
    assert rows[1] == pytest.approx(4.0)
    assert 2 not in rows


def test_dp_streaming_variance(spark, tmp_path, events_schema, run_stream):
    rows = []
    for u in range(10):
        # window 0: values {1, 4} per user -> variance 2.25 around mean 2.5
        rows.append((u, "2024-01-01 00:00:10", 1.0))
        rows.append((u, "2024-01-01 00:00:20", 4.0))
        # window 1: constant 2.0 -> variance 0
        rows.append((u, "2024-01-01 00:01:30", 2.0))
    # sparse window 2: 2 users, below the selection threshold
    rows.append((0, "2024-01-01 00:02:30", 1.0))
    rows.append((1, "2024-01-01 00:02:31", 1.0))
    rows.append((0, "2024-01-01 00:05:00", 0.0))  # watermark flush
    df = spark.createDataFrame(
        [(u, datetime.datetime.fromisoformat(t), v) for u, t, v in rows],
        events_schema)
    path = str(tmp_path / "varstream")
    df.coalesce(1).write.parquet(path)

    stream = sources.read_stream(spark, path, events_schema)
    out = dp_streaming_variance(
        stream, "user_id", "ts", "value", window_duration="1 minute",
        watermark_delay="0 seconds", epsilon_per_window=10.0,
        min_value=0.0, max_value=5.0, max_contributions_per_window=2,
        delta_per_window=1e-4, noise_mode="zero")
    got = run_stream(out, "dp_var_stream")
    res = {r["window"]["start"].minute: r["variance"] for r in got.collect()}
    assert res[0] == pytest.approx(2.25)
    assert res[1] == pytest.approx(0.0)
    assert 2 not in res  # suppressed by DP window selection


def test_dp_streaming_vector_sum(spark, tmp_path, run_stream):
    """Streaming VECTOR_SUM batch mirror: per-(window, dim) sums with the
    per-user per-dim clip binding for one hot user; zero noise makes the
    check exact."""
    from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                                   StructField, StructType, TimestampType)
    schema = StructType([
        StructField("user_id", IntegerType()),
        StructField("ts", TimestampType()),
        StructField("vec", ArrayType(DoubleType())),
    ])
    rows = []
    t0 = datetime.datetime.fromisoformat("2024-01-01 00:00:10")
    for u in range(5):
        rows.append((u, t0, [1.0, -2.0]))
    # hot user 0: 4 more events in window 0 -> per-dim sum 5.0 / -10.0,
    # clipped to +-3.0
    for k in range(4):
        rows.append((0, t0 + datetime.timedelta(seconds=k + 1),
                     [1.0, -2.0]))
    # window 1 + flush event
    rows.append((1, datetime.datetime.fromisoformat("2024-01-01 00:01:30"),
                 [0.5, 0.5]))
    rows.append((0, datetime.datetime.fromisoformat("2024-01-01 00:05:00"),
                 [0.0, 0.0]))
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "vecstream")
    df.coalesce(1).write.parquet(path)
    stream = sources.read_stream(spark, path, schema)
    out = dp_streaming_vector_sum(
        stream, "user_id", "ts", "vec", window_duration="1 minute",
        watermark_delay="0 seconds", epsilon_per_window=1.0,
        max_abs_per_dim=3.0, dims=2, noise_mode="zero")
    got = run_stream(out, "dp_vecsum_stream")
    res = {(r["window"]["start"].minute, r["dim"]): r["vector_sum"]
           for r in got.collect()}
    # window 0, dim 0: user0 clipped 5.0 -> 3.0, users 1-4: 1.0 each = 7.0
    assert res[(0, 0)] == pytest.approx(7.0)
    # window 0, dim 1: user0 -10 -> -3.0, others -2.0 each = -11.0
    assert res[(0, 1)] == pytest.approx(-11.0)
    assert res[(1, 0)] == pytest.approx(0.5)
    assert res[(1, 1)] == pytest.approx(0.5)


def test_dp_streaming_vector_sum_refuses_thresholding(spark, tmp_path):
    from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                                   StructField, StructType, TimestampType)
    schema = StructType([
        StructField("user_id", IntegerType()),
        StructField("ts", TimestampType()),
        StructField("vec", ArrayType(DoubleType())),
    ])
    stream = sources.read_stream(spark, str(tmp_path), schema)
    with pytest.raises(ValueError, match="per-dim"):
        dp_streaming_vector_sum(
            stream, "user_id", "ts", "vec", window_duration="1 minute",
            watermark_delay="0 seconds", epsilon_per_window=1.0,
            max_abs_per_dim=3.0, dims=2, delta_per_window=1e-4,
            threshold_windows=True)


_VECTOR_SCHEMA = "user_id int, ts timestamp, vec array<double>"


@pytest.fixture
def vector_stream_dir(spark, tmp_path):
    """3-dim vectors, entries multiples of 0.25 (every sum is exact): six
    users in minute 0 (odd users twice), four in minute 1; no per-(user,
    window) sum leaves [-3, 3]. User 99's late event flushes the
    watermark."""
    t = datetime.datetime.fromisoformat
    rows = []
    for u in range(6):
        rows.append((u, t("2024-01-01 00:00:10"), [0.25 * u, -0.5, 1.0]))
        if u % 2:
            rows.append((u, t("2024-01-01 00:00:20"), [0.5, 0.25 * u, -1.0]))
    for u in range(10, 14):
        rows.append((u, t("2024-01-01 00:01:10"), [1.0, 2.0, -2.5]))
    rows.append((99, t("2024-01-01 00:05:00"), [0.0, 0.0, 0.0]))
    path = str(tmp_path / "vectors")
    spark.createDataFrame(rows, _VECTOR_SCHEMA).coalesce(1).write.parquet(
        path)
    return path


def _vector_stream(spark, path, **kw):
    return dp_streaming_vector_sum(
        sources.read_stream(spark, path, _VECTOR_SCHEMA), "user_id", "ts",
        "vec", epsilon_per_window=1.0, max_abs_per_dim=3.0, dims=3,
        **_WINDOW, **kw)


def test_dp_streaming_vector_sum_matches_batch(spark, vector_stream_dir,
                                               run_stream):
    """Zero noise, public windows, a clip that never binds: the streaming
    vector sum releases exactly what DPEngine.aggregate VECTOR_SUM (LINF
    norm, max_norm = max_abs_per_dim, l0 = linf = 1) releases over the
    per-(user, window) summed vectors, the windows as public keys."""
    got = run_stream(_vector_stream(spark, vector_stream_dir,
                                    noise_mode="zero"), "vecsum_parity")
    got = {(r["window"]["start"].minute, r["dim"]): r["vector_sum"]
           for r in got.collect()}

    per_user = (spark.read.parquet(vector_stream_dir)
                .withColumn("window", F.window("ts", "1 minute"))
                .select("user_id", "window",
                        F.posexplode("vec").alias("pos", "x"))
                .groupBy("user_id", "window", "pos")
                .agg(F.sum("x").alias("x"))
                .groupBy("user_id", "window")
                .agg(F.array_sort(F.collect_list(F.struct("pos", "x")))
                     .alias("s"))
                .select("user_id", "window", F.col("s.x").alias("vec")))
    accountant = NaiveBudgetAccountant(1.0, 0.0)
    result = DPEngine(accountant, noise_mode="zero").aggregate(
        per_user, AggregateParams(
            metrics=[Metrics.VECTOR_SUM], max_partitions_contributed=1,
            max_contributions_per_partition=1,
            vector_norm_kind=NormKind.LINF, vector_max_norm=3.0,
            vector_size=3),
        DataFrameExtractors("user_id", "window", "vec"),
        public_partitions=per_user.select("window"))
    accountant.compute_budgets()
    want = {(r["window"]["start"].minute, d): v
            for r in result.dataframe().collect()
            for d, v in enumerate(r["vector_sum"])}

    assert {m for m, _ in got} == {0, 1}
    assert got == {k: v for k, v in want.items() if k[0] in (0, 1)}
    assert got[(0, 0)] == 0.25 * 15 + 0.5 * 3


def test_dp_streaming_vector_sum_secure(spark, vector_stream_dir,
                                        run_stream):
    """Secure noise: one finite draw per (window, dim)."""
    got = run_stream(_vector_stream(spark, vector_stream_dir),
                     "vecsum_secure").collect()
    assert sorted((r["window"]["start"].minute, r["dim"]) for r in got) == \
        [(m, d) for m in (0, 1) for d in range(3)]
    assert all(math.isfinite(r["vector_sum"]) for r in got)


@pytest.mark.parametrize("noise_kind", [NoiseKind.LAPLACE,
                                        NoiseKind.GAUSSIAN])
def test_dp_streaming_vector_sum_noise_scale(spark, tmp_path, monkeypatch,
                                             noise_kind):
    """The engine prices the streaming vector sum (LINF norm, max_norm =
    max_abs_per_dim = m, l0 = linf = 1) as the per-dim clip it applies:
    L1 = dims * m and L2 = sqrt(dims) * m, i.e. Sensitivities(l0=dims,
    linf=m), with all of the window's epsilon and delta."""
    from pipelinedp_spark import dp_computations as dp
    from pipelinedp_spark import dp_engine
    drawn, noise_draws = [], dp_engine.noise_draws

    def record(params, specs):
        drawn.append(noise_draws(params, specs))
        return drawn[-1]

    monkeypatch.setattr(dp_engine, "noise_draws", record)
    eps, delta, m, dims = 1.5, 1e-5, 3.0, 7
    dp_streaming_vector_sum(
        sources.read_stream(spark, str(tmp_path), _VECTOR_SCHEMA), "user_id",
        "ts", "vec", epsilon_per_window=eps, delta_per_window=delta,
        max_abs_per_dim=m, dims=dims, noise_kind=noise_kind, **_WINDOW)
    [draws] = drawn
    assert list(draws) == ["vector_sum"]
    assert draws["vector_sum"].scale == pytest.approx(
        dp.noise_scale(noise_kind, eps, delta,
                       dp.Sensitivities(l0=dims, linf=m)), rel=1e-12)


def test_dp_streaming_percentile_tree_matches_quantile_tree(spark, stream_dir,
                                                            events_schema,
                                                            run_stream):
    """percentile_algorithm='tree' parity with the batch quantile-tree
    path: zero noise, the streaming value must equal a direct
    compute_tree_quantiles descent over the same leaf histogram, and
    n_users must be the exact user count (the level-1 total)."""
    import numpy as np
    from pipelinedp_spark import quantile_tree as qt
    stream = sources.read_stream(spark, stream_dir, events_schema)
    out = dp_streaming_percentile(
        stream, "user_id", "ts", "value", window_duration="1 minute",
        watermark_delay="0 seconds", epsilon_per_window=1.0,
        min_value=0.0, max_value=8.0, percentile=50.0,
        noise_mode="zero", threshold_windows=False,
        percentile_algorithm="tree")
    got = run_stream(out, "dp_pct_tree_stream")
    rows = {r["window"]["start"].minute: r for r in got.collect()}

    n_leaves = qt.num_leaves()
    def mirror(avg, n):
        leaf = int(avg / 8.0 * n_leaves)
        return qt.compute_tree_quantiles(
            np.array([leaf]), np.array([float(n)]), [50.0], 0.0, 8.0,
            lambda: 0.0)[0]

    # minute 0: 20 users, every per-user window avg is 2.0; minute 1:
    # 4.0; minute 2: 2 users at 1.0 (same fixture facts as the
    # histogram-path test above).
    assert rows[0]["percentile_value"] == pytest.approx(mirror(2.0, 20))
    assert rows[0]["n_users"] == pytest.approx(20.0)
    assert rows[1]["percentile_value"] == pytest.approx(mirror(4.0, 20))
    assert rows[2]["percentile_value"] == pytest.approx(mirror(1.0, 2))
    assert rows[2]["n_users"] == pytest.approx(2.0)
    # tree read-off lands inside the (tiny) leaf containing the true
    # value -- far tighter than the histogram path's bin midpoint
    assert abs(rows[0]["percentile_value"] - 2.0) < 8.0 / n_leaves


def test_dp_streaming_percentile_tree_selection(spark, stream_dir,
                                                events_schema, run_stream):
    stream = sources.read_stream(spark, stream_dir, events_schema)
    out = dp_streaming_percentile(
        stream, "user_id", "ts", "value", window_duration="1 minute",
        watermark_delay="0 seconds", epsilon_per_window=10.0,
        delta_per_window=1e-4, min_value=0.0, max_value=8.0,
        percentile=50.0, noise_mode="zero",
        percentile_algorithm="tree")
    got = run_stream(out, "dp_pct_tree_stream_sel")
    rows = {r["window"]["start"].minute: r for r in got.collect()}
    assert set(rows) == {0, 1}   # sparse windows suppressed
    assert rows[0]["n_users"] == pytest.approx(20.0)


def test_dp_streaming_percentile_rejects_unknown_algorithm(spark, stream_dir,
                                                           events_schema):
    stream = sources.read_stream(spark, stream_dir, events_schema)
    with pytest.raises(ValueError, match="percentile_algorithm"):
        dp_streaming_percentile(
            stream, "user_id", "ts", "value", window_duration="1 minute",
            watermark_delay="0 seconds", epsilon_per_window=1.0,
            min_value=0.0, max_value=8.0, noise_mode="zero",
            threshold_windows=False, percentile_algorithm="sketchy")



@pytest.fixture
def parity_dir(spark, tmp_path, events_schema):
    """Each user has events in ONE minute only (so l0=1 never binds) and
    at most 2 events, values in [0, 4]: minute 0 has 20 users, minute 1
    has 12, minute 2 has 2; user 99's late event flushes the watermark.
    Gap-30s sessions end inside the minute their events are in."""
    rows = []
    for u in range(20):
        rows.append((u, "2024-01-01 00:00:10", float(u % 5)))
        rows.append((u, "2024-01-01 00:00:20", 4.0 - u % 3))
    for u in range(20, 32):
        rows.append((u, "2024-01-01 00:01:10", 1.0 + u % 4))
        rows.append((u, "2024-01-01 00:01:20", 2.0))
    for u in (40, 41):
        rows.append((u, "2024-01-01 00:02:10", 3.0))
    rows.append((99, "2024-01-01 00:05:00", 0.0))
    df = spark.createDataFrame(
        [(u, datetime.datetime.fromisoformat(t), v) for u, t, v in rows],
        events_schema)
    path = str(tmp_path / "parity")
    df.coalesce(1).write.parquet(path)
    return path


_WINDOW = dict(window_duration="1 minute", watermark_delay="0 seconds")

# name -> (streaming call, batch AggregateParams kwargs, output renames)
_PARITY = {
    "count": (
        lambda s, **kw: dp_streaming_count(
            s, "user_id", "ts", max_contributions_per_window=2, **kw),
        dict(metrics=[Metrics.COUNT, Metrics.PRIVACY_ID_COUNT],
             max_contributions_per_partition=2), {}),
    "sum": (
        lambda s, **kw: dp_streaming_sum(
            s, "user_id", "ts", "value", min_sum_per_window=0.0,
            max_sum_per_window=10.0, **kw),
        dict(metrics=[Metrics.SUM, Metrics.PRIVACY_ID_COUNT],
             min_sum_per_partition=0.0, max_sum_per_partition=10.0), {}),
    "mean": (
        lambda s, **kw: dp_streaming_mean(
            s, "user_id", "ts", "value", min_value=0.0, max_value=5.0,
            max_contributions_per_window=2, **kw),
        dict(metrics=[Metrics.MEAN, Metrics.PRIVACY_ID_COUNT],
             max_contributions_per_partition=2, min_value=0.0,
             max_value=5.0), {}),
    "variance": (
        lambda s, **kw: dp_streaming_variance(
            s, "user_id", "ts", "value", min_value=0.0, max_value=5.0,
            max_contributions_per_window=2, **kw),
        dict(metrics=[Metrics.VARIANCE, Metrics.PRIVACY_ID_COUNT],
             max_contributions_per_partition=2, min_value=0.0,
             max_value=5.0), {}),
    "session_count": (
        lambda s, **kw: dp_streaming_session_count(
            s, "user_id", "ts", gap_duration="30 seconds",
            max_sessions_per_window=2, **kw),
        dict(metrics=[Metrics.COUNT, Metrics.PRIVACY_ID_COUNT],
             max_contributions_per_partition=2),
        {"session_count": "count"}),
    **{f"percentile_{algorithm}": (
        lambda s, algorithm=algorithm, **kw: dp_streaming_percentile(
            s, "user_id", "ts", "value", min_value=0.0, max_value=5.0,
            percentile=30.0, n_bins=16, percentile_algorithm=algorithm,
            **kw),
        dict(metrics=[Metrics.PERCENTILE(30), Metrics.PRIVACY_ID_COUNT],
             max_contributions_per_partition=1, min_value=0.0,
             max_value=5.0, percentile_bins=16,
             percentile_algorithm=algorithm),
        {"percentile_value": "percentile_30",
         "n_users": "privacy_id_count"})
       for algorithm in ("histogram", "tree")},
}


@pytest.mark.parametrize("noise_kind,eps", [
    # Laplace at eps=1, delta=1e-4: the engine's threshold is 19.42, so
    # the 20-user minute is released (a delta/4 threshold, 20.81, drops it)
    (NoiseKind.LAPLACE, 1.0),
    # Gaussian at eps=3: threshold 10.92 keeps the 12-user minute too
    (NoiseKind.GAUSSIAN, 3.0)], ids=["laplace", "gaussian"])
@pytest.mark.parametrize("name", list(_PARITY))
def test_stream_batch_parity(spark, parity_dir, events_schema, run_stream,
                             name, noise_kind, eps):
    """Zero noise, window selection on, caps that never bind: a streaming
    window aggregation releases exactly what DPEngine.aggregate releases
    over the same rows keyed by F.window(ts, ...); for percentiles, over
    each user's window average of clipped values."""
    stream_fn, batch_kwargs, renames = _PARITY[name]
    stream = sources.read_stream(spark, parity_dir, events_schema)
    got = run_stream(
        stream_fn(stream, epsilon_per_window=eps, delta_per_window=1e-4,
                  noise_kind=noise_kind, noise_mode="zero", **_WINDOW),
        f"parity_{name}_{noise_kind.value}")

    rows = spark.read.parquet(parity_dir)
    if name == "session_count":
        rows = (rows.groupBy("user_id", F.session_window("ts", "30 seconds")
                             .alias("ts"))
                .agg(F.count(F.lit(1)).alias("value")))
    rows = rows.withColumn("window", F.window("ts", "1 minute"))
    if name.startswith("percentile"):
        rows = rows.groupBy("user_id", "window").agg(F.avg(F.least(
            F.greatest("value", F.lit(0.0)), F.lit(5.0))).alias("value"))
    accountant = NaiveBudgetAccountant(eps, 1e-4)
    result = DPEngine(accountant, noise_mode="zero").aggregate(
        rows, AggregateParams(max_partitions_contributed=1,
                              noise_kind=noise_kind,
                              post_aggregation_thresholding=True,
                              **batch_kwargs),
        DataFrameExtractors("user_id", "window", "value"))
    accountant.compute_budgets()
    want = {r["window"]["start"].minute: r
            for r in result.dataframe().collect()}

    got = {r["window"]["start"].minute: r for r in got.collect()}
    assert 0 in got
    assert set(got) == set(want)
    for minute, row in got.items():
        for col in row.asDict():
            if col != "window":
                assert row[col] == pytest.approx(
                    want[minute][renames.get(col, col)]), (minute, col)


def test_dp_streaming_percentile_releases_mid_sized_window(
        spark, parity_dir, events_schema, run_stream):
    """The bins and the thresholded user count get eps/2 each, so at
    eps=3 the threshold is 7.14 (19.42 at eps=1): the 12-user minute is
    released next to the 20-user one; the 2-user minute is not."""
    stream = sources.read_stream(spark, parity_dir, events_schema)
    out = dp_streaming_percentile(
        stream, "user_id", "ts", "value", epsilon_per_window=3.0,
        delta_per_window=1e-4, min_value=0.0, max_value=8.0, n_bins=8,
        noise_mode="zero", **_WINDOW)
    rows = {r["window"]["start"].minute: r
            for r in run_stream(out, "dp_pct_mid").collect()}
    assert set(rows) == {0, 1}
    assert rows[1]["n_users"] == pytest.approx(12.0)


def _bad_call(fn, **bad):
    args = {
        dp_streaming_count: dict(max_contributions_per_window=2),
        dp_streaming_sum: dict(value_col="value", min_sum_per_window=0.0,
                               max_sum_per_window=5.0),
        dp_streaming_mean: dict(value_col="value", min_value=0.0,
                                max_value=5.0,
                                max_contributions_per_window=2),
        dp_streaming_variance: dict(value_col="value", min_value=0.0,
                                    max_value=5.0,
                                    max_contributions_per_window=2),
        dp_streaming_session_count: dict(gap_duration="30 seconds",
                                         max_sessions_per_window=2),
        dp_streaming_percentile: dict(value_col="value", min_value=0.0,
                                      max_value=5.0),
        dp_streaming_vector_sum: dict(vector_col="vec", max_abs_per_dim=1.0,
                                      dims=2),
    }[fn]
    return pytest.param(fn, {**args, **bad},
                        id=f"{fn.__name__[len('dp_streaming_'):]}-"
                           + "-".join(bad))


@pytest.mark.parametrize("fn,kwargs", [
    _bad_call(dp_streaming_count, l0_per_window=0),
    _bad_call(dp_streaming_count, max_contributions_per_window=0),
    _bad_call(dp_streaming_sum, l0_per_window=0),
    _bad_call(dp_streaming_sum, min_sum_per_window=6.0),
    _bad_call(dp_streaming_mean, l0_per_window=0),
    _bad_call(dp_streaming_mean, max_contributions_per_window=0),
    _bad_call(dp_streaming_mean, min_value=6.0),
    _bad_call(dp_streaming_variance, l0_per_window=0),
    _bad_call(dp_streaming_variance, max_contributions_per_window=0),
    _bad_call(dp_streaming_variance, min_value=6.0),
    _bad_call(dp_streaming_session_count, l0_per_window=0),
    _bad_call(dp_streaming_session_count, max_sessions_per_window=0),
    _bad_call(dp_streaming_percentile, l0_per_window=0),
    _bad_call(dp_streaming_percentile, min_value=6.0),
    _bad_call(dp_streaming_vector_sum, dims=0),
    *[_bad_call(fn, noise_kind=NoiseKind.GAUSSIAN)
      for fn in (dp_streaming_count, dp_streaming_sum, dp_streaming_mean,
                 dp_streaming_variance, dp_streaming_session_count)],
    _bad_call(dp_streaming_percentile, noise_kind=NoiseKind.GAUSSIAN,
              percentile_algorithm="tree"),
])
def test_streaming_rejects_inputs_that_weaken_the_guarantee(spark, fn,
                                                            kwargs):
    """A zero cap would zero the sensitivity and the noise, releasing
    exact values as DP output; inverted bounds break the clip; Gaussian
    noise cannot be calibrated without a delta."""
    rate = spark.readStream.format("rate").load()
    stream = rate.select(F.col("value").alias("user_id"),
                         F.col("timestamp").alias("ts"),
                         F.col("value").cast("double").alias("value"),
                         F.array(F.col("value").cast("double"))
                         .alias("vec"))
    with pytest.raises(ValueError):
        fn(stream, privacy_id_col="user_id", timestamp_col="ts",
           epsilon_per_window=1.0, noise_mode="zero",
           threshold_windows=False, **_WINDOW, **kwargs)
