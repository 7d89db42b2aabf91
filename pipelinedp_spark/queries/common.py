"""Shared helpers for the oracle-registry query modules."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_T_CACHE: dict = {}
_T_CACHE_MAX = 256


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a testdata table, caching the reader PLAN (not data) per
    live session: every spark.read.parquet call costs ~70-100 ms of
    driver-side file listing + footer schema read, and the bench's
    sub-second queries open 1-3 tables each. The testdata dirs are
    immutable, so a cached plan never serves stale data.

    Cache hygiene: entries are keyed by (sf_dir, name) but validated
    against the EXACT session object — a DataFrame is bound to the
    session that created it, and `spark.newSession()` clones share an
    applicationId while rejecting each other's plans (and the events
    ts-normalization conf is per-session). A mismatched session is a
    miss that overwrites the slot, so recycled bench sessions don't
    accumulate dead plans; the size cap is a backstop for many
    concurrent sessions."""
    key = (sf_dir, name)
    hit = _T_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts", "").startswith("timestamp"):
        # events.ts arrives as parquet TIMESTAMP (NTZ).  Downstream queries
        # and operators key on integer time arithmetic, so normalize to
        # microseconds-since-epoch (UTC) longs — the same representation the
        # DuckDB oracles use via epoch_us().
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = df.withColumn("ts", F.unix_micros(F.col("ts").cast("timestamp")))
    if len(_T_CACHE) >= _T_CACHE_MAX:
        _T_CACHE.clear()
    _T_CACHE[key] = (spark, df)
    return df


def _two_triggers(frame: DataFrame, id_col: str, step) -> DataFrame:
    """Batch mirror of a two-trigger streaming query: micro-batch 0 =
    the even-``id_col`` rows run as ``step(even, None)``, micro-batch 1 =
    the odd rows run as ``step(odd, state)`` on the state batch 0
    returned. ``step`` returns (output, new_state); the outputs are
    unioned, tagged ``batch`` 0/1 as long."""
    out0, state = step(frame.filter(F.col(id_col) % 2 == 0), None)
    out1, _ = step(frame.filter(F.col(id_col) % 2 == 1), state)
    return (out0.withColumn("batch", F.lit(0).cast("long"))
            .unionByName(out1.withColumn("batch", F.lit(1).cast("long"))))
