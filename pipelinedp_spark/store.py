"""Shared plumbing for the persisted-index ("store") family.

Six store kinds — exact fingerprints, MinHash bands, span anchors,
image pHash blocks (`operators.dedup`, `operators.multimodal`), the
BM25 inverted index (`operators.retrieval`) and the IVF-PQ vector
index (`operators.similarity`) — follow one contract: build the
expensive artifact ONCE into bucketed/partitioned managed tables, keep
the knobs in a one-row ``{store}_meta`` table so later batches can
never silently fingerprint differently, append increments
bucket-aligned, and refresh relation caches after an append (a cached
pre-append scan otherwise serves stale files — found once on the exact
store, pinned in tests, and a copy-adjacent hazard in every builder).

This module centralizes that plumbing; the per-store algorithms stay
in their operator modules. Each kind is declared exactly once, as a
`StoreKind` record in `KINDS`: its tables with their layouts and
compaction keys, its tombstone key, its ingest body. Three generic
functions run every kind from that record — `ingest_batch_once` (one
exactly-once micro-batch), `compact` (periodic rewrite) and, in
`streaming.dp_streaming`, `stream_into` (the foreachBatch face).
Reference repo (OpenMined/PipelineDP) has no counterpart — the store
family is net-new LLM-pipeline infrastructure.
"""

from __future__ import annotations

import dataclasses
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def _managed_location(spark, name: str) -> str | None:
    """Local-filesystem path a managed table `name` would live at, or
    None when the warehouse isn't file-backed (cluster storage — the
    catalog owns the location there)."""
    import urllib.parse

    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    if not wh.startswith("file:"):
        return None
    p = urllib.parse.urlparse(wh).path
    parts = name.lower().split(".")
    rel = (parts[-1] if len(parts) == 1
           else os.path.join(f"{parts[-2]}.db", parts[-1]))
    return os.path.join(p, rel)


def _orphan_location(spark, name: str) -> str | None:
    """The on-disk managed location of `name` if files exist there
    WITHOUT a catalog entry (a crashed prior session persisted the
    files but the in-memory catalog died with the process)."""
    if spark.catalog.tableExists(name):
        return None
    loc = _managed_location(spark, name)
    return loc if loc is not None and os.path.exists(loc) else None


def drop_store_table(spark, name: str) -> None:
    """DROP TABLE IF EXISTS plus removal of an ORPHANED managed-table
    location (a crashed prior session can leave the warehouse directory
    behind with no catalog entry; saveAsTable then fails with
    LOCATION_ALREADY_EXISTS even in overwrite mode). Local-filesystem
    warehouses only — on cluster storage the catalog owns the
    location. Handles default-database ('<table>') and db-qualified
    ('<db>.<table>' under '<db>.db/<table>') managed layouts."""
    import shutil

    _TS_SIZE_CACHE.pop(name, None)
    if name.endswith("_ingest_log"):
        _PROBE_SKIP.pop(name[:-len("_ingest_log")], None)
    if name.endswith("_meta"):
        _META_CACHE.pop(name[:-len("_meta")], None)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    loc = _managed_location(spark, name)
    if loc is not None:
        shutil.rmtree(loc, ignore_errors=True)


def begin_build(spark, store_name: str, mode: str,
                suffixes: tuple[str, ...],
                validate: dict[str, int] | None = None):
    """The build/append preamble every store builder repeats.

    ``mode='overwrite'``: drop each ``{store}{suffix}`` table (plus
    orphaned locations) AND the store's bookkeeping tables —
    tombstones, removed-ids, ingest log — and return None. A rebuild
    defines a new corpus truth: surviving tombstones would hide freshly
    indexed content that matches an OLD takedown, and surviving batch
    ids would make a restarted stream skip batches the new store never
    saw.

    ``mode='append'``: read the ``{store}_meta`` row, check that each
    knob in ``validate`` matches what the store was built with (a
    mismatched append would corrupt the index — batches must
    fingerprint exactly like the store), and return the meta Row so
    the caller can inherit stored values (num_buckets, scalars,
    model shapes)."""
    if mode == "append":
        m = read_meta(spark, store_name)
        # A knob MISSING from the meta row is a mismatch, not a skip:
        # it means the store predates the knob (built by older code),
        # so this build cannot prove the append fingerprints the same
        # way — silently accepting it is exactly the corruption this
        # validation exists to prevent. Rebuild (or compact with
        # current code, which rewrites meta) before appending.
        missing = [k for k in (validate or {}) if k not in m.__fields__]
        if missing:
            raise ValueError(
                f"store {store_name} meta predates knob(s) "
                f"{', '.join(sorted(missing))}; rebuild the store "
                f"before appending (cannot verify the append matches "
                f"the build)")
        bad = {k: (m[k], v) for k, v in (validate or {}).items()
               if int(m[k]) != int(v)}
        if bad:
            built = ", ".join(f"{k}={m[k]}" for k in bad)
            asked = ", ".join(f"{k}={v}" for k, (_, v) in bad.items())
            raise ValueError(
                f"store {store_name} was built with {built}; appending "
                f"with {asked} would corrupt it")
        return m
    for suffix in (*suffixes, "_tombstones", "_removed_ids",
                   "_ingest_log"):
        drop_store_table(spark, store_name + suffix)
    return None


def _shuffle_free_partitions(df: DataFrame) -> int | None:
    """The input's partition count, but ONLY when reading it is free:
    a bare localCheckpoint result (LogicalRDD — the shape every
    tombstone/compaction call site passes). Everything else returns
    None WITHOUT touching the physical plan: triggering planning here
    (an earlier revision inspected executedPlan()) costs hundreds of
    ms on the deep build/append plans that would keep the repartition
    anyway, and ``df.rdd.getNumPartitions()`` on a plan with exchanges
    would under AQE even materialize its stages."""
    try:
        jplan = df._jdf.queryExecution().logical()
        if jplan.getClass().getSimpleName() != "LogicalRDD":
            return None
        return df.rdd.getNumPartitions()
    except Exception:
        return None


def write_bucketed(df: DataFrame, table: str, bucket_col: str,
                   num_buckets: int, mode: str) -> None:
    """Write a store table bucketed AND sorted by its join key:
    `spark.table` scans then restore the hash partitioning, so the
    store side of every candidate/anti join reaches the join with
    ZERO Exchange (plan-pinned per store kind).

    The input is repartitioned to the bucket hash BEFORE the write:
    a bucketed write otherwise splits EVERY task's rows across all
    buckets — num_partitions x num_buckets files per write (measured
    256 files and 2.8x the wall time for a 32-partition input at
    8 buckets). Repartitioning by the bucket column uses the same
    hash the bucketing does, so each task holds exactly one bucket
    and the write lands one file per bucket — the small-files fix of
    guide-of-record §6, and every later scan of the store lists and
    opens num_buckets files instead of hundreds per increment.

    CONDITIONAL (round 13): when the input is already at or below the
    bucket width (a checkpointed micro-batch, a tombstone increment —
    detectable for free only on exchange-free plans), the pre-write
    shuffle is pure cost; a narrow ``coalesce(1)`` keeps the
    one-file-per-bucket-or-fewer layout without it. Corpus-scale
    builds (more partitions than buckets, or plans whose partition
    count isn't free to read) keep the repartition."""
    _TS_SIZE_CACHE.pop(table, None)
    nb = int(num_buckets)
    parts = _shuffle_free_partitions(df)
    if parts is not None and parts <= nb:
        out = df.coalesce(1) if parts > 1 else df
    else:
        out = df.repartition(nb, bucket_col)
    (out.write.mode(mode).format("parquet")
     .bucketBy(nb, bucket_col).sortBy(bucket_col)
     .saveAsTable(table))


_META_CACHE: dict = {}


def read_small_table(spark, table: str) -> tuple[list[str], list[dict]]:
    """(column names, rows as dicts) of a small managed table, read on
    the driver without a Spark job: the store's driver metadata (the
    one-row ``{store}_meta``, the ingest log, the ANN quantizer models)
    is read on every ingest and serve, and a ``collect`` of it costs a
    job (~100-250 ms measured) for what pyarrow reads from the table's
    files in a few ms. Those files are the truth a Spark scan would
    read; hidden and in-flight files (``_``/``.`` prefixes) are skipped
    the same way. A warehouse that is not file-backed, a table the
    catalog does not hold, or an unreadable file falls back to a Spark
    collect. Row order is the files' order: callers sort on the driver.
    """
    loc = _managed_location(spark, table)
    if (loc is not None and os.path.isdir(loc)
            and spark.catalog.tableExists(table)):
        try:
            import pyarrow.parquet as pq
            t = pq.read_table(loc)
            return t.schema.names, t.to_pylist()
        except Exception:
            pass
    df = spark.table(table)
    return df.columns, [r.asDict() for r in df.collect()]


def read_meta(spark, store_name: str):
    """The one-row ``{store}_meta`` knob Row, read by `read_small_table`
    and memoized per (session, store): every store reader (incremental
    dedup, BM25/ANN serving, streaming ingest bodies) needs it.
    `write_meta` and `drop_store_table` invalidate on every
    rebuild/compaction in this process, and a rebuild from a DIFFERENT
    process is the same staleness class as Spark's own relation cache
    (readers refresh after external writes)."""
    hit = _META_CACHE.get(store_name)
    if hit is not None and hit[0] is spark:
        return hit[1]
    from pyspark.sql import Row
    row = Row(**read_small_table(spark, f"{store_name}_meta")[1][0])
    if len(_META_CACHE) >= 512:
        _META_CACHE.clear()
    _META_CACHE[store_name] = (spark, row)
    return row


def write_meta(spark, store_name: str, **values) -> None:
    """(Re)write the one-row ``{store}_meta`` knob table from int /
    float literals (floats repr-round-trip exactly, so a reader
    recomputes with bit-identical constants)."""
    _META_CACHE.pop(store_name, None)
    cols = []
    for k, v in values.items():
        if isinstance(v, float):
            cols.append(f"CAST({v!r} AS DOUBLE) AS {k}")
        elif isinstance(v, int):
            # BIGINT keeps exact integer scalars (e.g. total_dl) safe
            # past 2^31 at production corpus sizes.
            cols.append(f"CAST({v} AS BIGINT) AS {k}")
        else:
            raise TypeError(f"meta value {k}={v!r} must be int or float")
    spark.sql("SELECT " + ", ".join(cols)) \
        .write.mode("overwrite").format("parquet") \
        .saveAsTable(f"{store_name}_meta")


PROV_RUN = "__run_id"
PROV_BATCH = "__batch_id"

# store -> (spark_session, run_id, max batch id cleanly applied by THIS
# process). Lets `apply_batch_once` skip the half-applied-rollback
# probe on the monotone happy path; cleared on any apply/log exception
# (in-process retry must probe) and on ingest-log drop (rebuild).
_PROBE_SKIP: dict = {}


def with_prov(df: DataFrame, run_id: str | None = None,
              batch_id: int | None = None) -> DataFrame:
    """Stamp rows with their ingest provenance — the (run_id, batch_id)
    pair of the guarded micro-batch that appended them (NULLs for
    unguarded build/append callers). The stamps are constant per
    append, so parquet dictionary-encodes them to near-zero bytes and
    min/max column stats let a provenance scan skip every file a batch
    never touched. `apply_batch_once` uses them to detect and roll
    back a HALF-APPLIED batch (crash between apply and ingest-log
    write) before re-applying — the convergent-recovery protocol that
    closes the one-batch double-apply window."""
    from pyspark.sql import functions as F
    return (df.withColumn(PROV_RUN, F.lit(run_id).cast("string"))
            .withColumn(PROV_BATCH, F.lit(
                None if batch_id is None else int(batch_id))
                .cast("long")))


def table_has_prov(spark, table: str) -> bool:
    """Whether a store table carries provenance-stamp columns (tables
    built before round 12 don't; appends must match the table's
    schema, so stamping is per-table conditional)."""
    return (spark.catalog.tableExists(table)
            and PROV_RUN in spark.table(table).columns)


def _prov_match(rid: str, batch_id: int):
    from pyspark.sql import functions as F
    return (F.col(PROV_RUN).eqNullSafe(rid)
            & F.col(PROV_BATCH).eqNullSafe(int(batch_id)))


def _batch_files(spark, table: str, rid: str, batch_id: int):
    """The parquet files of ``table`` that hold ONLY rows stamped
    (rid, batch_id) — i.e. exactly the files the crashed append wrote:
    a guarded append's stamps are CONSTANT, and saveAsTable('append')
    never rewrites earlier files, so per-file footer statistics
    (min == max == the stamp, zero nulls, every row group) prove a
    file is all-batch; all-NULL stamps (num_nulls == num_values) or a
    constant DIFFERENT stamp prove it holds none. Returns the
    all-batch file list, or None when ANY file is unclassifiable
    (mixed stamps after a compaction rewrite, truncated string stats,
    a non-file warehouse) — the caller then falls back to the rewrite.
    This is what keeps crash rollback O(crashed batch) instead of
    O(store): at production store sizes a full table rewrite to shed
    one micro-batch would dwarf the batch itself."""
    loc = _managed_location(spark, table)
    if loc is None or not os.path.isdir(loc):
        return None
    try:
        import pyarrow.parquet as pq
    except ImportError:
        return None
    target_b = int(batch_id)
    hits = []
    for root, dirs, files in os.walk(loc):
        # skip in-flight/hidden paths (matching Spark's listing filter):
        # a _temporary leftover is invisible to the scan being rolled
        # back, so classifying it would only force the rewrite fallback
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fn in files:
            if not fn.endswith(".parquet") or fn.startswith(("_", ".")):
                continue
            path = os.path.join(root, fn)
            try:
                md = pq.read_metadata(path)
            except Exception:
                return None
            names = [md.schema.column(i).path
                     for i in range(len(md.schema))]
            try:
                ri, bi = names.index(PROV_RUN), names.index(PROV_BATCH)
            except ValueError:
                return None     # pre-r12 file without stamp columns
            verdicts = set()
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                rs, bs = rg.column(ri).statistics, \
                    rg.column(bi).statistics
                if rs is None or bs is None:
                    return None
                n = rg.num_rows
                if rs.null_count == n and bs.null_count == n:
                    verdicts.add("none")      # unguarded build rows
                    continue
                if (not rs.has_min_max or not bs.has_min_max
                        or rs.null_count or bs.null_count):
                    return None
                rmin = rs.min.decode() if isinstance(rs.min, bytes) \
                    else rs.min
                rmax = rs.max.decode() if isinstance(rs.max, bytes) \
                    else rs.max
                if rmin != rmax or bs.min != bs.max:
                    return None   # mixed stamps (e.g. compacted file)
                verdicts.add("all" if (rmin == rid
                                       and int(bs.min) == target_b)
                             else "none")
            if verdicts == {"all"}:
                hits.append(path)
            elif verdicts != {"none"}:
                return None       # some groups match, some don't
    return hits


def _clean_half_applied(spark, store_name: str, rid: str,
                        batch_id: int,
                        stamped: dict[str, str]) -> bool:
    """Remove every row the crashed attempt of (rid, batch_id) stamped
    into the store's tables — restoring the store to before-the-batch
    so the caller's re-apply lands exactly once. Returns True if
    anything was found (the caller then runs its restore_fn to put
    derived state — e.g. the BM25 meta scalars — back in sync).
    Rewrites preserve each table's layout — ``stamped`` values are
    either a bucket column name (bucketed kinds; num_buckets from
    ``{store}_meta``) or ``("partition", col)`` for the
    cell-partitioned ANN codes table. Tables without provenance
    columns (pre-r12 builds) are skipped — they keep the documented
    one-batch window."""
    found = False
    for suffix, layout in stamped.items():
        t = store_name + suffix
        if not spark.catalog.tableExists(t):
            continue
        # Footer-stats probe first (round 13): `_batch_files` reads the
        # live files directly, so when it classifies EVERY file it is
        # authoritative — an empty hit list proves the crashed batch
        # never touched this table and the Spark probe job below
        # (~150-300 ms per stamped table, paid on the FIRST guarded
        # batch of every store per process) is elided entirely; a
        # non-empty list is the O(crashed batch) rollback, file deletes
        # only. Only an unclassifiable layout (mixed stamps after
        # compaction, non-file warehouse, pre-r12 files) pays Spark.
        files = _batch_files(spark, t, rid, int(batch_id))
        if files is not None:
            if not files:
                continue
            found = True
            for p in files:
                os.remove(p)
                crc = os.path.join(os.path.dirname(p),
                                   "." + os.path.basename(p) + ".crc")
                if os.path.exists(crc):
                    os.remove(crc)
            refresh_table(spark, t)
            continue
        refresh_table(spark, t)
        df = spark.table(t)
        if PROV_RUN not in df.columns:
            continue
        cond = _prov_match(rid, batch_id)
        if not df.filter(cond).limit(1).count():
            continue
        found = True
        _overwrite(spark, store_name, t, df.filter(~cond).localCheckpoint(),
                   layout)
    return found


def _overwrite(spark, store_name: str, table: str, df: DataFrame,
               layout) -> None:
    """Rewrite a store table in its declared layout: a bucket column
    (bucket count from ``{store}_meta``) or ``("partition", col)``."""
    if isinstance(layout, tuple):
        (df.write.mode("overwrite").format("parquet")
         .partitionBy(layout[1]).saveAsTable(table))
    else:
        write_bucketed(df, table, layout,
                       int(read_meta(spark, store_name)["num_buckets"]),
                       "overwrite")
    refresh_table(spark, table)


def orphan_provs(spark, store_name: str,
                 tables: tuple[str, ...]) -> "DataFrame | None":
    """Distinct (run_id, batch_id) provenance pairs present in the
    given store tables but confirmed by NO ingest-log row — i.e.
    half-applied batches whose re-run never happened. Returns None
    when nothing is stamped (pre-r12 tables or batch-built stores).
    `compact` removes these rows so the compacted store holds
    exactly the confirmed batches (plus unguarded builds): the
    crashed stream's checkpoint never committed the batch, so on
    resume Structured Streaming replays it and the guard applies it
    fresh."""
    from pyspark.sql import functions as F
    provs = None
    for t in tables:
        if not table_has_prov(spark, t):
            continue
        p = (spark.table(t)
             .filter(F.col(PROV_RUN).isNotNull())
             .select(PROV_RUN, PROV_BATCH).distinct())
        provs = p if provs is None else provs.unionByName(p).distinct()
    if provs is None:
        return None
    log_table = f"{store_name}_ingest_log"
    if spark.catalog.tableExists(log_table):
        refresh_table(spark, log_table)
        log = spark.table(log_table)
        lo = F.col("batch_id")
        hi = (F.coalesce(F.col("hi"), F.col("batch_id"))
              if "hi" in log.columns else F.col("batch_id"))
        run = (F.col("run_id") if "run_id" in log.columns
               else F.lit(""))
        cover = log.select(run.alias("__lr"), lo.alias("__lo"),
                           hi.alias("__hi"))
        provs = provs.join(
            F.broadcast(cover),
            (F.col(PROV_RUN) == F.col("__lr"))
            & (F.col(PROV_BATCH) >= F.col("__lo"))
            & (F.col(PROV_BATCH) <= F.col("__hi")),
            "left_anti")
    out = provs.localCheckpoint()
    return out if out.limit(1).count() else None


def anti_orphans(df: DataFrame, orphans: "DataFrame | None"):
    """Drop rows stamped with an orphaned (run,batch) pair; rows with
    NULL stamps (unguarded builds) always survive."""
    from pyspark.sql import functions as F
    if orphans is None or PROV_RUN not in df.columns:
        return df
    o = orphans.select(F.col(PROV_RUN).alias("__or"),
                       F.col(PROV_BATCH).alias("__ob"))
    return (df.join(F.broadcast(o),
                    F.col(PROV_RUN).eqNullSafe(F.col("__or"))
                    & F.col(PROV_BATCH).eqNullSafe(F.col("__ob")),
                    "left_anti"))


def _append_log_row(spark, log_table: str, batch_id: int,
                    run_id: str | None, has_hi: bool) -> bool:
    """Append one ingest-log row by writing its parquet file straight
    into the table's location (driver-side; no Spark job). Returns
    False when the warehouse isn't file-backed so the caller can run
    the Spark append instead. ``run_id=None`` writes a legacy
    (batch-id-only) row — matching the table's existing schema is the
    caller's contract either way."""
    loc = _managed_location(spark, log_table)
    if loc is None or not os.path.isdir(loc):
        return False
    try:
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        cols: dict = {"batch_id": pa.array([int(batch_id)],
                                           type=pa.int64())}
        if run_id is not None:
            cols["run_id"] = pa.array([str(run_id)], type=pa.string())
        if has_hi:
            cols["hi"] = pa.array([None], type=pa.int64())
        # Write-to-temp + rename: the replaced saveAsTable append went
        # through Hadoop's commit protocol (all-or-nothing visibility);
        # a direct write crashed mid-flight would leave a torn parquet
        # file that makes the whole log unreadable. The dot-prefixed
        # temp name is invisible to both Spark's and pyarrow's file
        # listings, and POSIX rename is atomic, restoring the
        # all-or-nothing contract.
        name = f"part-log-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(loc, f".{name}.tmp")
        pq.write_table(pa.table(cols), tmp)
        os.rename(tmp, os.path.join(loc, name))
        return True
    except Exception:
        return False


def compact_ingest_log(spark, store_name: str) -> None:
    """Fold ``{store}_ingest_log`` to one RANGE row per (run_id,
    maximal contiguous batch-id interval) and rewrite it as a single
    file — the bound that keeps months-long streams from degrading:
    unfolded, the log grows one small parquet file per micro-batch and
    every exactly-once guard check pays an O(N)-file driver listing.
    A contiguous stream folds to ONE row per lineage; replay
    suppression is exact across the fold because the guard treats a
    row as the inclusive interval [batch_id, coalesce(hi, batch_id)].
    Legacy (batch-only) logs fold to (batch_id, hi) — deliberately NOT
    gaining a run_id column, so the loud legacy-log-vs-namespaced-
    caller failure keeps firing after compaction."""
    log_table = f"{store_name}_ingest_log"
    if not spark.catalog.tableExists(log_table):
        return
    refresh_table(spark, log_table)
    log = spark.table(log_table)
    legacy = "run_id" not in log.columns
    has_hi = "hi" in log.columns
    run_expr = "''" if legacy else "run_id"
    hi_expr = ("coalesce(hi, batch_id)" if has_hi
               else "CAST(batch_id AS BIGINT)")
    log.createOrReplaceTempView("__ingest_log_fold_in")
    # classic interval merge (gaps-and-islands over ranges): running
    # max of hi per run; a row starts a new island when its lo leaves
    # a gap (> prev_hi + 1); islands collapse to (min lo, max hi)
    folded = spark.sql(f"""
        WITH iv AS (SELECT {run_expr} AS run_id,
                           CAST(batch_id AS BIGINT) AS lo,
                           {hi_expr} AS hi
                    FROM __ingest_log_fold_in),
        m AS (SELECT run_id, lo, hi,
                     MAX(hi) OVER (PARTITION BY run_id
                                   ORDER BY lo, hi
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS prev_hi
              FROM iv),
        g AS (SELECT run_id, lo, hi,
                     SUM(CASE WHEN prev_hi IS NULL OR lo > prev_hi + 1
                              THEN 1 ELSE 0 END)
                       OVER (PARTITION BY run_id ORDER BY lo, hi)
                       AS grp
              FROM m)
        SELECT MIN(lo) AS batch_id, run_id, MAX(hi) AS hi
        FROM g GROUP BY run_id, grp""")
    if legacy:
        folded = folded.drop("run_id")
    folded = folded.coalesce(1).localCheckpoint()
    # CRASH-SAFE fold (the log is the exactly-once backbone — losing
    # it silently double-applies a whole stream on resume, and
    # overwrite-saveAsTable is a non-atomic drop-recreate with exactly
    # that window). The folded rows COVER every old row's interval, so
    # append-then-delete is correct at every instant: after the append
    # the log holds old + folded rows (duplicate coverage is harmless
    # — the guard is an existence test, and the interval merge absorbs
    # overlaps on the next fold); deleting the pre-append files then
    # leaves exactly the folded rows. A crash anywhere leaves a
    # correct, re-foldable log. Falls back to the overwrite rewrite
    # when the warehouse isn't file-backed or the log predates the
    # `hi` column (its schema can't take the appended range rows;
    # one-time — the overwrite establishes the range schema).
    loc = _managed_location(spark, log_table)
    if has_hi and loc is not None and os.path.isdir(loc):
        old = [os.path.join(loc, f) for f in os.listdir(loc)
               if f.endswith(".parquet")]
        (folded.write.mode("append").format("parquet")
         .saveAsTable(log_table))
        for p in old:
            os.remove(p)
            crc = os.path.join(os.path.dirname(p),
                               "." + os.path.basename(p) + ".crc")
            if os.path.exists(crc):
                os.remove(crc)
    else:
        (folded.write.mode("overwrite").format("parquet")
         .saveAsTable(log_table))
    refresh_table(spark, log_table)


def apply_batch_once(spark, store_name: str, batch_id: int,
                     apply_fn, run_id: str = "",
                     stamped: dict[str, str] | None = None,
                     restore_fn=None) -> bool:
    """Run ``apply_fn()`` (a micro-batch's store mutation) at most once
    per ``(run_id, batch_id)`` and record it in ``{store}_ingest_log``;
    returns False, without running it, for a pair the log already
    holds. `ingest_batch_once` states the contract this implements;
    this is the mechanism.

    The log row lands AFTER the apply. ``stamped`` ({table suffix:
    layout}) names the provenance-stamped tables: before applying, rows
    stamped with this pair but confirmed by no log row (a crash between
    apply and log) are rolled back and ``restore_fn`` re-derives state
    computed from them. Tables without stamp columns (built before
    round 12) are skipped and keep the one-batch window.

    A pre-r11 log table (batch_id column only) keeps working for
    default-namespace callers and keeps its legacy schema on append; a
    namespaced caller against it raises — the legacy log cannot say
    which lineage its ids belong to, and both silent readings lose data
    (skip a new stream's batches, or double-apply a resumed one's
    replays). Rebuild the store to reset the log.

    Log rows are ranges: the guard reads a row as the inclusive
    interval [batch_id, coalesce(hi, batch_id)] so `compact_ingest_log`
    can fold a long stream's one-row-per-batch history to one range
    row per lineage without losing replay suppression."""
    log_table = f"{store_name}_ingest_log"
    rid = str(run_id or "")
    b = int(batch_id)
    legacy = False
    has_hi = False
    exists = spark.catalog.tableExists(log_table)
    if not exists:
        # A crashed prior session can leave the log's managed location
        # on disk with no catalog entry (in-memory catalog, files
        # persist); creating over it fails with LOCATION_ALREADY_EXISTS.
        # If the store's OTHER tables exist in the catalog, those files
        # are applied-batch HISTORY — silently discarding them would
        # let a source replay double-apply (corrupting BM25 tf/df), so
        # fail loudly with the remedy. Silent cleanup is reserved for
        # the case where the whole store is orphaned (no meta table —
        # nothing the lost history could corrupt).
        if (_orphan_location(spark, log_table) is not None
                and spark.catalog.tableExists(f"{store_name}_meta")):
            raise ValueError(
                f"store {store_name} has an orphaned ingest log "
                f"(files on disk, no catalog entry) but its other "
                f"tables exist: the applied-batch history was lost "
                f"with the catalog, so replay suppression cannot be "
                f"trusted; rebuild the store (mode='overwrite' resets "
                f"the log) before ingesting into it")
        drop_store_table(spark, log_table)
    if exists:
        refresh_table(spark, log_table)
        # The log is driver metadata (one small row per applied batch,
        # one range row per lineage after compaction): probe it in
        # Python instead of a Spark filter job.
        cols, rows = read_small_table(spark, log_table)
        legacy = "run_id" not in cols
        has_hi = "hi" in cols
        if legacy and rid:
            # A batch-only log cannot say WHICH lineage its ids belong
            # to: matching on batch_id alone would silently drop a NEW
            # stream's first batches as "replays" of the old one, and
            # ignoring the log would double-apply a RESUMED old
            # stream's replays. Neither silent outcome is acceptable —
            # fail loudly with the remedy (same contract as
            # begin_build's missing-knob check).
            raise ValueError(
                f"store {store_name}'s ingest log predates run-id "
                f"namespacing (batch-id-only rows); rebuild the "
                f"store (mode='overwrite' resets the log) before "
                f"streaming into it with a checkpoint lineage")
        for r in rows:
            lo = r["batch_id"]
            hi_v = r.get("hi")
            if hi_v is None:
                hi_v = lo
            if lo <= b <= hi_v and (legacy or r.get("run_id") == rid):
                return False
    if stamped:
        # Happy-path probe elision: a half-applied batch can only be
        # (a) the resume point of a PRIOR process's crash, or (b) an
        # in-process retry after an exception below (which clears the
        # memo). Under the one-active-writer contract batch ids are
        # monotone per lineage, so once THIS process has cleanly
        # applied a batch for (store, lineage), any later batch id was
        # never attempted anywhere and the per-table rollback probe
        # (refresh + stat-pruned scan per stamped table, 2-5 driver
        # jobs) is pure overhead — skipped.
        hit = _PROBE_SKIP.get(store_name)
        if not (hit is not None and hit[0] is spark
                and hit[1] == rid and b > hit[2]):
            cleaned = _clean_half_applied(spark, store_name, rid, b,
                                          stamped)
            if cleaned and restore_fn is not None:
                restore_fn()
    try:
        apply_fn()
        # The log row is one row of driver metadata; appending it
        # through a Spark write job costs ~170-300 ms per batch. When
        # the table already exists on a file-backed warehouse, write
        # the parquet file directly (driver-side, ~5 ms) — the file
        # lands in the table's location exactly where the Spark append
        # would have put it. Table creation (first batch) stays a
        # saveAsTable so the catalog entry is real.
        if not (exists and _append_log_row(spark, log_table, b,
                                           None if legacy else rid,
                                           has_hi)):
            if legacy:
                row = spark.sql(
                    f"SELECT CAST({b} AS BIGINT) AS batch_id"
                    + (", CAST(NULL AS BIGINT) AS hi" if has_hi else ""))
            else:
                esc = rid.replace("'", "''")
                row = spark.sql(
                    f"SELECT CAST({b} AS BIGINT) AS batch_id, '{esc}' AS "
                    f"run_id"
                    + (", CAST(NULL AS BIGINT) AS hi"
                       if has_hi or not exists else ""))
            row.write.mode("append").format("parquet") \
                .saveAsTable(log_table)
        refresh_table(spark, log_table)
    except BaseException:
        # the batch may now be half-applied IN-PROCESS: drop the memo
        # so a same-process retry runs the rollback probe
        _PROBE_SKIP.pop(store_name, None)
        raise
    if len(_PROBE_SKIP) >= 512:
        _PROBE_SKIP.clear()
    _PROBE_SKIP[store_name] = (spark, rid, b)
    return True


_TS_SIZE_CACHE: dict = {}


def tombstones(spark, store_name: str,
               broadcast_rows: int | None = None):
    """Read ``{store}_tombstones`` for a reader-side anti-join, or
    None when no takedown was ever issued. The normal contract is
    that tombstones stay SMALL between compactions, so the table is
    broadcast-hinted and the anti-join never exchanges the bucketed /
    partition-pruned store scan — but that assumption is enforced, not
    assumed: the row count gates the hint, and a jumbo takedown (e.g.
    a licensing removal of a whole corpus slice, before its
    compaction) falls back to a plain shuffled anti-join instead of
    force-broadcasting a corpus-scale table into every executor. 2M
    ids ≈ tens of MB broadcast — comfortably under executor headroom;
    past that, `compact` is overdue anyway.

    The gate decision is memoized per (session, table): serving calls
    and streaming micro-batches don't pay a count job each —
    `write_bucketed` / `drop_store_table` invalidate the memo on every
    tombstone append, compaction, or rebuild in this process (an
    append from a DIFFERENT process goes stale only for the hint
    decision, never the data — the same staleness class as Spark's own
    relation cache, cleared by the same refresh).

    ``broadcast_rows`` defaults to the session conf
    ``spark.pipelinedp.store.tombstoneBroadcastRows`` (else 2,000,000)
    so the fallback branch is testable — the oracle gate runs at a
    scale where 2M would otherwise never trip — and tunable per
    deployment without threading a parameter through every reader."""
    return _gated_broadcast(spark, f"{store_name}_tombstones",
                            broadcast_rows)


def _gated_broadcast(spark, table: str, broadcast_rows: int | None = None):
    """``table`` for an anti-join, broadcast-hinted up to
    ``broadcast_rows`` rows (default: the `tombstones` conf), else plain
    so the join shuffles; None when the table does not exist. The gate
    of every removal log: the tombstones and pHash's removed ids. Its
    row count is memoized per (session, table) until this module next
    writes, drops or refreshes the table."""
    from pyspark.sql import functions as F
    if broadcast_rows is None:
        broadcast_rows = int(spark.conf.get(
            "spark.pipelinedp.store.tombstoneBroadcastRows",
            "2000000"))
    if not spark.catalog.tableExists(table):
        return None
    df = spark.table(table)
    hit = _TS_SIZE_CACHE.get(table)
    if hit is not None and hit[0] is spark:
        n = hit[1]
    else:
        n = _file_row_count(spark, table)
        if n is None:
            n = df.count()
        if len(_TS_SIZE_CACHE) >= 512:
            _TS_SIZE_CACHE.clear()
        _TS_SIZE_CACHE[table] = (spark, n)
    return F.broadcast(df) if n <= int(broadcast_rows) else df


def add_tombstones(keys_df: DataFrame, store_name: str, key_col: str,
                   num_buckets: int) -> None:
    """Append the distinct ``key_col`` values of ``keys_df`` to
    ``{store}_tombstones``, skipping keys already tombstoned
    (idempotent), bucket-aligned on ``key_col``. Readers apply them
    through `tombstones`; `compact` deletes the keyed rows physically
    and drops the table."""
    spark = keys_df.sparkSession
    keys = keys_df.select(key_col).distinct()
    ts_table = f"{store_name}_tombstones"
    if spark.catalog.tableExists(ts_table):
        keys = keys.join(spark.table(ts_table), key_col, "left_anti")
    write_bucketed(keys.localCheckpoint(), ts_table, key_col,
                   num_buckets, "append")
    refresh_table(spark, ts_table)


def _file_row_count(spark, table: str) -> int | None:
    """Exact row count of a file-backed parquet table from footer
    metadata only — the gate decisions (tombstone broadcast hint) need
    a count, and a count() job costs ~100+ ms per call for what the
    parquet footers already record. None when the warehouse isn't
    file-backed or any footer is unreadable (caller falls back to a
    Spark count)."""
    loc = _managed_location(spark, table)
    if loc is None or not os.path.isdir(loc):
        return None
    try:
        import pyarrow.parquet as pq
    except ImportError:
        return None
    n = 0
    try:
        for root, dirs, files in os.walk(loc):
            # skip in-flight/hidden paths (_temporary, dotfiles) the
            # way Spark's own file listing does — a crashed write's
            # leftovers must not inflate the gate decision
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for fn in files:
                if fn.endswith(".parquet") and \
                        not fn.startswith(("_", ".")):
                    n += pq.read_metadata(
                        os.path.join(root, fn)).num_rows
    except Exception:
        return None
    return n


def refresh_table(spark, table: str) -> None:
    """refreshTable in ``spark`` AND in the process-default session.

    Structured Streaming runs the foreachBatch callback against a
    CLONED SparkSession (isolated SQL conf), and relation caches are
    per-session — so a refresh inside the callback leaves the MAIN
    session (the one serving between triggers in every stream mirror,
    and in any driver process that both ingests and serves) cached at
    the old file list. After an append that is mere staleness (the
    read misses the new increment until its own refresh); after a
    crash ROLLBACK that deleted the half-applied batch's files it is
    a FAILED_READ_FILE crash on the next serve. Refreshing the
    process-default session from the callback closes both for the
    single-process deployment shape; separate processes keep the
    standard Spark contract (readers refresh after external writes).

    The driver-side memos (`read_meta`, the tombstone size gate) are
    invalidated here too: they are this module's analogue of Spark's
    relation cache, so the documented 'readers refresh after external
    writes' contract must cover them — a reader that refreshes
    ``{store}_meta`` after another process rebuilt the store would
    otherwise keep serving the memoized knobs forever."""
    if table.endswith("_meta"):
        _META_CACHE.pop(table[:-len("_meta")], None)
    _TS_SIZE_CACHE.pop(table, None)
    spark.catalog.refreshTable(table)
    default = SparkSession._instantiatedSession
    if default is not None and default is not spark:
        try:
            default.catalog.refreshTable(table)
        except Exception:
            pass   # default session torn down mid-flight


def refresh_store(spark, store_name: str,
                  suffixes: tuple[str, ...]) -> None:
    """Invalidate relation caches after an append: a table read before
    the append stays cached at its old file list in this session and
    would silently miss the new increment."""
    for suffix in suffixes:
        refresh_table(spark, store_name + suffix)


# ---------------------------------------------------------------------------
# Store kinds: one declaration per kind drives ingest and compaction
# ---------------------------------------------------------------------------


@dataclasses.dataclass(frozen=True)
class StoreKind:
    """One persisted-store kind, declared once.

    ``tables`` maps each provenance-stamped ``{store}{suffix}`` table to
    ``(layout, dedup_key)``: the layout is its bucket column or
    ``("partition", col)``; `compact` dedups it on ``dedup_key`` (a
    column tuple; None means ``distinct()``). The first table is the
    one probed for stamp columns. Ingest rolls back and `compact`
    rewrites exactly these tables, each in its layout.

    ``apply(batch_df, store_name, prov, meta, **kw)`` is the ingest body:
    ``prov`` is the (run_id, batch_id) stamp (None for a store built
    before stamping), ``meta`` the ``inherit`` knobs read from
    ``{store}_meta``, ``kw`` the caller's column names and options.
    ``refresh`` lists the tables refreshed before the guard
    (``_tombstones`` only when it exists). ``restore_fn(spark, store)``
    re-derives state computed from the tables after a rollback or a
    compaction. ``compact_fn(spark, store, meta, frames)`` adjusts the
    deduped, tombstone-filtered table frames before `compact` writes
    them; tables without the tombstone key (derived aggregates) are
    left to it."""
    name: str
    tables: dict
    tombstone_key: str
    apply: Callable
    refresh: tuple[str, ...] = ()
    inherit: tuple[str, ...] = ()
    restore_fn: Callable | None = None
    compact_fn: Callable | None = None


def ingest_batch_once(kind: str, batch_df: DataFrame, store_name: str,
                      batch_id: int, *, run_id: str = "", sink=None,
                      **kw) -> bool:
    """Ingest one micro-batch into the persisted store ``store_name``
    of kind ``kind`` (a `KINDS` key) EXACTLY ONCE per ``(run_id,
    batch_id)``. Returns True if applied, False if skipped as a replay.
    ``kw`` are the kind's column names and options (``text_col``,
    ``id_col``, ``vec_col``, ``binary_col``, ``jaccard_threshold``);
    ``sink(survivors)`` (exact and minhash only) receives the batch's
    surviving rows inside the guarded apply.

    This is the foreachBatch body of `stream_into`, callable from batch
    jobs too (backfills, the oracle mirrors). The contract, for every
    kind:

    * Exactly once. Structured Streaming delivers a micro-batch at
      least once; a ``{store}_ingest_log`` row per applied batch turns
      a replay into a no-op — no sink call, no table append. Replays
      matter for every kind: anti-join state (exact, minhash, span,
      phash) tolerates duplicates, but their sink appends and
      per-increment caps do not; BM25 double-counts tf, df and the
      n_docs/total_dl scalars; ANN grows duplicate code rows that take
      top-k slots.
    * Namespaced. Batch ids are unique only within one checkpoint
      lineage, so the guard keys on ``run_id`` (`stream_into` passes
      its checkpoint directory) and a new stream into the same store
      is not mistaken for a replay. Batch callers may keep the default
      namespace.
    * Convergent recovery. The log row lands after the apply. Every
      appended row carries its ``(run_id, batch_id)`` provenance
      stamp, so a crash between apply and log leaves stamped rows with
      no log entry; the re-run (the uncommitted checkpoint replays the
      batch) rolls them back, re-derives dependent state
      (``restore_fn``: the BM25 meta scalars) and applies fresh,
      ending identical to a crash-free run. Without the rollback the
      anti-join kinds would match the batch against its own crashed
      attempt and deliver nothing to the sink. If the stream never
      resumes, `compact` drops the orphaned rows. Stores built before
      stamping (no stamp columns) keep a one-batch window, which
      `compact` also repairs. The residual: a ``sink`` that ran inside
      the crashed attempt runs again — exactly once for the store, at
      least once for the sink.
    * Current reads. Each micro-batch runs in a cloned session with its
      own relation cache, so the kind's ``refresh`` tables are
      refreshed first; otherwise the file listing cached at the first
      trigger hides every later append, and a takedown issued between
      triggers would not reach the next one."""
    k = KINDS[kind]
    s = batch_df.sparkSession
    for suffix in k.refresh:
        t = store_name + suffix
        if suffix != "_tombstones" or s.catalog.tableExists(t):
            refresh_table(s, t)
    m = read_meta(s, store_name) if k.inherit else None
    meta = {n: int(m[n]) for n in k.inherit}
    stamp = table_has_prov(s, store_name + next(iter(k.tables)))
    prov = (run_id or "", int(batch_id)) if stamp else None
    if sink is not None:
        kw["sink"] = sink
    return apply_batch_once(
        s, store_name, batch_id,
        lambda: k.apply(batch_df, store_name, prov, meta, **kw),
        run_id=run_id,
        stamped=({sfx: lay for sfx, (lay, _) in k.tables.items()}
                 if stamp else None),
        restore_fn=(None if k.restore_fn is None
                    else lambda: k.restore_fn(s, store_name)))


def compact(spark, store_name: str, kind: str) -> None:
    """Periodic compaction of a persisted store of kind ``kind``. Safe
    any time no ingest is active. Appends accumulate duplicate rows,
    one small file per append (per touched cell for the partitioned
    ANN codes), tombstones awaiting physical removal and per-increment
    df segments (bm25). Each table of the kind is rewritten in its
    declared layout after four steps:

    * orphaned half-applied batches (stamped rows no ingest-log row
      confirms, from a crash whose stream never resumed) are dropped,
      for all six kinds, so the store holds exactly the confirmed
      batches plus unguarded builds; a later resume replays the batch
      fresh;
    * rows dedup on the table's key;
    * tombstoned keys are removed (read through `tombstones`, so a
      table past its broadcast gate is shuffled, not broadcast), and
      ``{store}_tombstones`` (and the pHash ``{store}_removed_ids``
      log) are dropped afterwards;
    * the kind's hook runs: minhash re-applies the build-time
      ``max_bucket_size`` cap globally (a bucket that grew past it
      across appends would blow up the candidate join); bm25
      re-derives the terms table from the surviving postings and
      then, via ``restore_fn``, the meta scalars; phash drops the
      removed image ids from the members table.

    Results are unchanged by construction — anti- and semi-joins are
    multiplicity-insensitive, bm25 readers sum df segments, ANN
    duplicate ids carry identical codes — except that minhash buckets
    past the cap stop generating candidates, which is the cap's
    contract. Finally the ingest log folds to one range row per
    lineage (`compact_ingest_log`), bounding the exactly-once
    bookkeeping of a long stream."""
    k = KINDS[kind]
    meta = read_meta(spark, store_name)
    ts = tombstones(spark, store_name)
    tables = [sfx for sfx in k.tables
              if spark.catalog.tableExists(store_name + sfx)]
    orphans = orphan_provs(spark, store_name,
                           tuple(store_name + sfx for sfx in tables))
    frames = {}
    for sfx in tables:
        df = anti_orphans(spark.table(store_name + sfx), orphans)
        key = k.tables[sfx][1]
        df = df.distinct() if key is None else df.dropDuplicates(list(key))
        if ts is not None and k.tombstone_key in df.columns:
            df = df.join(ts, k.tombstone_key, "left_anti")
        frames[sfx] = df
    if k.compact_fn is not None:
        frames = k.compact_fn(spark, store_name, meta, frames)
    # every frame is materialized before any write replaces its source
    frames = {sfx: df.localCheckpoint() for sfx, df in frames.items()}
    for sfx, df in frames.items():
        _overwrite(spark, store_name, store_name + sfx, df,
                   k.tables[sfx][0])
    for sfx in ("_tombstones", "_removed_ids"):
        if spark.catalog.tableExists(store_name + sfx):
            drop_store_table(spark, store_name + sfx)
    if k.restore_fn is not None:
        k.restore_fn(spark, store_name)
    compact_ingest_log(spark, store_name)


# -- per-kind ingest bodies and compaction hooks -----------------------------


def _exact_apply(batch_df, store_name, prov, meta, text_col="text",
                 id_col="doc_id", sink=None) -> None:
    """First doc id per fingerprint within the batch, anti-joined with
    the live (non-tombstoned) store; survivors' fingerprints append."""
    from pyspark.sql import functions as F

    from pipelinedp_spark.functions import text as TX
    s = batch_df.sparkSession
    nbuck = meta["num_buckets"]
    firsts = (batch_df
              .withColumn("fingerprint",
                          TX.rolling_fingerprint(F.col(text_col)))
              .groupBy("fingerprint")
              .agg(F.min(id_col).alias(id_col)))
    fps = s.table(f"{store_name}_fps")
    ts = tombstones(s, store_name)
    if ts is not None:
        fps = fps.join(ts, "fingerprint", "left_anti")
    survivors = (firsts.repartition(nbuck, "fingerprint")
                 .join(fps, "fingerprint", "left_anti")
                 .localCheckpoint())
    if sink is not None:
        sink(survivors.select(id_col, "fingerprint"))
    out = survivors.select("fingerprint")
    if prov is not None:
        out = with_prov(out, *prov)
    (out.write.mode("append").format("parquet")
     .bucketBy(nbuck, "fingerprint").sortBy("fingerprint")
     .saveAsTable(f"{store_name}_fps"))


def _minhash_apply(batch_df, store_name, prov, meta, text_col="text",
                   id_col="doc_id", jaccard_threshold=0.8,
                   sink=None) -> None:
    """Within-batch MinHash+LSH losers drop, survivors anti-match the
    store with its fingerprint knobs, their bands + shingles append."""
    from pyspark.sql import functions as F

    from pipelinedp_spark.operators import dedup as D
    # ONE signature pass for the whole micro-batch: pair generation,
    # the store anti-match and the store append all consume the same
    # checkpointed (id, shingles, band-hash) profile instead of
    # re-signing the batch text at every step.
    prof = D.minhash_profile(batch_df, text_col, id_col, meta["k"],
                             meta["num_hashes"], meta["rows_per_band"]
                             ).localCheckpoint()
    pairs = D.minhash_lsh_pairs_from_profile(prof, id_col,
                                             jaccard_threshold)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    within = batch_df.join(losers, id_col, "left_anti")
    survivors = D.incremental_near_dup(
        within, store_name, text_col, id_col, jaccard_threshold,
        profile=prof).localCheckpoint()
    if sink is not None:
        sink(survivors)
    D.build_minhash_store(survivors, store_name, text_col, id_col,
                          mode="append", prov=prov, profile=prof, **meta)
    prof.unpersist()


def _span_apply(batch_df, store_name, prov, meta, text_col="text",
                id_col="doc_id") -> None:
    from pipelinedp_spark.operators import dedup as D
    D.build_span_store(batch_df, store_name, text_col, id_col,
                       mode="append", prov=prov, **meta)


def _phash_apply(batch_df, store_name, prov, meta, binary_col="image",
                 id_col="doc_id") -> None:
    from pipelinedp_spark.operators import multimodal as MM
    MM.build_phash_store(batch_df, store_name, binary_col, id_col,
                         mode="append", prov=prov, **meta)


def _bm25_apply(batch_df, store_name, prov, meta, text_col="text",
                id_col="doc_id") -> None:
    from pipelinedp_spark.operators.retrieval import build_bm25_index
    refresh_store(batch_df.sparkSession, store_name,
                  ("_postings", "_terms", "_meta"))
    build_bm25_index(batch_df, store_name, text_col=text_col,
                     id_col=id_col, mode="append", prov=prov)


def _ann_apply(batch_df, store_name, prov, meta, vec_col="embedding",
               id_col="vec_id") -> None:
    from pipelinedp_spark.operators.similarity import build_ann_index
    build_ann_index(batch_df, store_name, corpus_id=id_col,
                    corpus_vec=vec_col, mode="append", prov=prov)


def _bm25_restore(spark, store_name: str) -> None:
    from pipelinedp_spark.operators.retrieval import restore_bm25_meta
    restore_bm25_meta(spark, store_name)


def _minhash_compact(spark, store_name, meta, frames):
    from pyspark.sql import functions as F
    if "max_bucket_size" in meta.__fields__:
        bands = frames["_bands"]
        keep = (bands.groupBy("bh")
                .agg(F.count(F.lit(1)).alias("__n__"))
                .filter(F.col("__n__") <= int(meta["max_bucket_size"]))
                .select("bh").hint("shuffle_hash"))
        frames["_bands"] = bands.join(keep, "bh").select(*bands.columns)
    return frames


def _phash_compact(spark, store_name, meta, frames):
    # after compaction the members table IS the survivor set again
    removed = _gated_broadcast(spark, f"{store_name}_removed_ids")
    if "_members" in frames and removed is not None:
        frames["_members"] = frames["_members"].join(
            removed.select("id"), "id", "left_anti")
    return frames


def _bm25_compact(spark, store_name, meta, frames):
    # Postings are the primary table: one df row per term re-derives
    # from the survivors (the negative takedown segments corrected for
    # tombstoned docs, now physically gone).
    from pyspark.sql import functions as F
    post = frames["_postings"].localCheckpoint()
    dft = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if PROV_RUN in post.columns:
        dft = with_prov(dft)   # merged segments: no lineage
    return {"_postings": post, "_terms": dft}


KINDS = {k.name: k for k in (
    StoreKind("exact", {"_fps": ("fingerprint", None)}, "fingerprint",
              _exact_apply, refresh=("_fps", "_tombstones"),
              inherit=("num_buckets",)),
    StoreKind("minhash", {"_bands": ("bh", None),
                          "_shingles": ("id", ("id",))}, "id",
              _minhash_apply,
              refresh=("_bands", "_shingles", "_tombstones"),
              inherit=("k", "num_hashes", "rows_per_band", "num_buckets"),
              compact_fn=_minhash_compact),
    StoreKind("span", {"_anchors": ("ah", None),
                       "_texts": ("id", ("id",))}, "id", _span_apply,
              refresh=("_anchors", "_texts", "_meta"),
              inherit=("min_len", "seed_len")),
    StoreKind("phash", {"_blocks": ("bk", None),
                        "_members": ("ph", ("id",))}, "ph", _phash_apply,
              refresh=("_blocks", "_members", "_meta"),
              inherit=("max_hamming", "num_blocks"),
              compact_fn=_phash_compact),
    # bm25 refreshes its tables inside the guarded apply (`_bm25_apply`)
    StoreKind("bm25", {"_postings": ("term", ("term", "id")),
                       "_terms": ("term", None)}, "id", _bm25_apply,
              restore_fn=_bm25_restore, compact_fn=_bm25_compact),
    StoreKind("ann", {"_codes": (("partition", "cell"), ("id",))}, "id",
              _ann_apply, refresh=("_meta", "_centroids", "_codebooks")),
)}
