"""The `store.KINDS` records against the tables the build functions
write.

For every kind: build a store, append a duplicate-introducing
increment, take one key down, then `store.compact`. Each table the
record declares must carry the record's layout (bucket column or
partition column, read back from the catalog) as the build functions
wrote it and as compaction rewrote it; the record's dedup key must be
unique after compaction, and the tombstones must be gone.
"""

import re

import pytest
from pyspark.sql import functions as F

from pipelinedp_spark import store

pytestmark = pytest.mark.store


def _docs(spark):
    """30 documents of 12-20 words from a small vocabulary."""
    import random
    rnd = random.Random(5)
    words = ["spark", "shuffle", "bucket", "join", "plan", "scan",
             "filter", "exchange", "partition", "window", "stream",
             "batch"]
    rows = [(i, " ".join(rnd.choice(words)
                         for _ in range(rnd.randint(12, 20))))
            for i in range(30)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _images(spark):
    import numpy as np
    import pandas as pd

    from pipelinedp_spark.operators import multimodal as MM

    def gen(it):
        i, j = np.meshgrid(np.arange(32), np.arange(32), indexing="ij")
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame({"doc_id": ids, "image": [MM.encode_bmp(
                ((i * ((int(d) % 4) + 2) + j) % 200).astype(np.uint8))
                for d in ids]})

    return (spark.range(8).select(F.col("id").alias("doc_id"))
            .mapInPandas(gen, "doc_id long, image binary")
            .localCheckpoint())


# kind -> (rows, build(rows, store, mode), takedown(rows, store))
def _exact():
    from pipelinedp_spark.operators import dedup as D
    return (_docs,
            lambda r, n, mode: D.build_exact_store(r, n, num_buckets=2,
                                                   mode=mode),
            D.remove_from_exact_store)


def _minhash():
    from pipelinedp_spark.operators import dedup as D
    return (_docs,
            lambda r, n, mode: D.build_minhash_store(r, n, num_buckets=2,
                                                     mode=mode),
            D.remove_from_minhash_store)


def _span():
    from pipelinedp_spark.operators import dedup as D
    return (_docs,
            lambda r, n, mode: D.build_span_store(r, n, min_len=50,
                                                  num_buckets=2,
                                                  mode=mode),
            D.remove_from_span_store)


def _phash():
    from pipelinedp_spark.operators import multimodal as MM
    return (_images,
            lambda r, n, mode: MM.build_phash_store(r, n, num_buckets=2,
                                                    mode=mode),
            MM.remove_from_phash_store)


def _bm25():
    from pipelinedp_spark.operators import retrieval as R
    return (_docs,
            lambda r, n, mode: R.build_bm25_index(r, n, num_buckets=2,
                                                  mode=mode),
            R.remove_from_bm25_index)


def _ann():
    from pipelinedp_spark.operators import similarity as S

    def rows(spark):
        import numpy as np
        x = np.random.default_rng(3).normal(size=(60, 16))
        return spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(x.astype("float32"))],
            "vec_id long, embedding array<float>")
    return (rows,
            lambda r, n, mode: S.build_ann_index(r, n, num_cells=4, m=4,
                                                 ksub=16, mode=mode),
            S.remove_from_ann_index)


CASES = {"exact": _exact, "minhash": _minhash, "span": _span,
         "phash": _phash, "bm25": _bm25, "ann": _ann}


def _layout(spark, table):
    cols = spark.catalog.listColumns(table)
    parts = [c.name for c in cols if c.isPartition]
    if parts:
        return ("partition", *parts)
    return [c.name for c in cols if c.isBucket]


def _expected(layout):
    return layout if isinstance(layout, tuple) else [layout]


@pytest.mark.parametrize("kind", sorted(store.KINDS))
def test_compaction_keeps_each_declared_layout(spark, kind):
    rows, build, takedown = CASES[kind]()
    rec = store.KINDS[kind]
    name = f"sk_{kind}"
    names = [name + sfx for sfx in (*rec.tables, "_meta", "_tombstones",
                                    "_removed_ids", "_ingest_log",
                                    "_centroids", "_codebooks")]
    for t in names:
        store.drop_store_table(spark, t)
    data = rows(spark)
    build(data, name, "overwrite")
    build(data.limit(5), name, "append")    # duplicate rows
    # one takedown; id % 4 == 0 is a whole pHash visual family
    takedown(data.filter(F.col(data.columns[0]) % 4 == 0), name)
    assert spark.catalog.tableExists(f"{name}_tombstones")
    before = {sfx: _layout(spark, name + sfx) for sfx in rec.tables}
    store.compact(spark, name, kind)
    for sfx, (layout, dedup_key) in rec.tables.items():
        t = name + sfx
        assert before[sfx] == _expected(layout), (t, before[sfx])
        assert _layout(spark, t) == _expected(layout), t
        df = spark.table(t)
        cols = list(dedup_key) if dedup_key else df.columns
        assert df.count() == df.select(*cols).distinct().count(), t
    assert not spark.catalog.tableExists(f"{name}_tombstones")
    for t in names:
        store.drop_store_table(spark, t)


def _compaction_broadcasts(spark, monkeypatch, kind, join_line):
    """Compacts a ``kind`` store after one takedown, at
    ``tombstoneBroadcastRows=0`` and at the default: per run, whether an
    anti-join plan line ``join_line`` accepts (of the frames `compact`
    checkpoints) carries a broadcast hint, and the compacted tables."""
    from pipelinedp_spark.plans import scoped_conf
    rows, build, takedown = CASES[kind]()
    rec = store.KINDS[kind]
    plans = []
    checkpoint = type(spark.range(1)).localCheckpoint

    def spy(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(type(spark.range(1)), "localCheckpoint", spy)
    gate = "spark.pipelinedp.store.tombstoneBroadcastRows"
    hinted, tables = {}, {}
    for rows_cap in ("0", None):
        name = f"sk_gate_{kind}_{rows_cap or 'default'}"
        names = [name + sfx for sfx in (*rec.tables, "_meta", "_tombstones",
                                        "_removed_ids", "_ingest_log")]
        for t in names:
            store.drop_store_table(spark, t)
        data = rows(spark)
        build(data, name, "overwrite")
        takedown(data.filter(F.col(data.columns[0]) % 4 == 0), name)
        plans.clear()
        confs = {gate: rows_cap} if rows_cap is not None else {}
        with scoped_conf(spark, **confs):
            store.compact(spark, name, kind)
        joins = [ln for p in plans for ln in p.splitlines()
                 if "LeftAnti" in ln and join_line(ln)]
        assert joins, plans
        hinted[rows_cap] = any("broadcast" in ln.lower() for ln in joins)
        tables[rows_cap] = {sfx: sorted(spark.table(name + sfx).collect())
                            for sfx in rec.tables}
        for t in names:
            store.drop_store_table(spark, t)
    return hinted, tables


def test_compaction_gates_the_tombstone_broadcast(spark, monkeypatch):
    """`compact` reads the tombstones through `store.tombstones`: with
    ``spark.pipelinedp.store.tombstoneBroadcastRows=0`` no frame it
    rewrites joins them under a broadcast hint, and the compacted table
    equals a default-conf compaction's (which hints the broadcast)."""
    hinted, tables = _compaction_broadcasts(spark, monkeypatch, "exact",
                                            lambda ln: True)
    assert hinted == {"0": False, None: True}
    assert tables["0"] == tables[None] and tables["0"]["_fps"]


def test_phash_compaction_gates_the_removed_ids_broadcast(spark,
                                                          monkeypatch):
    """The pHash compaction drops removed image ids from the members
    table through the same row gate as the tombstones: at
    ``tombstoneBroadcastRows=0`` that anti-join on ``id`` carries no
    broadcast hint, at the default it does, and the compacted tables
    are equal."""
    hinted, tables = _compaction_broadcasts(
        spark, monkeypatch, "phash",
        lambda ln: re.search(r"\(id#\d+L? = id#\d+L?\)", ln))
    assert hinted == {"0": False, None: True}
    assert tables["0"] == tables[None] and tables["0"]["_members"]


def _jobs(spark, fn):
    """(Spark jobs ``fn`` runs under its own job group, its result)."""
    import uuid
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


# Spark jobs of one applied `store.ingest_batch_once` trigger per kind,
# as measured on `local[4]` with 8 shuffle partitions
INGEST_JOB_CEILING = {"exact": 6, "minhash": 34, "span": 5,
                      "phash": 8, "bm25": 15, "ann": 2}


@pytest.mark.parametrize("kind", sorted(store.KINDS))
def test_ingest_trigger_job_ceiling(spark, kind):
    """One applied ingest trigger (into a store built from the even
    rows, ingesting the odd rows) runs at most the kind's ceiling of
    Spark jobs: the guard against a store path growing extra passes."""
    rows, build, _ = CASES[kind]()
    rec = store.KINDS[kind]
    name = f"skj_{kind}"
    names = [name + sfx for sfx in (*rec.tables, "_meta", "_tombstones",
                                    "_removed_ids", "_ingest_log",
                                    "_centroids", "_codebooks")]
    for t in names:
        store.drop_store_table(spark, t)
    data = rows(spark)
    key = F.col(data.columns[0])
    try:
        build(data.filter(key % 2 == 0), name, "overwrite")
        n, applied = _jobs(spark, lambda: store.ingest_batch_once(
            kind, data.filter(key % 2 == 1), name, 0))
        assert applied
        assert n <= INGEST_JOB_CEILING[kind], (kind, n)
    finally:
        for t in names:
            store.drop_store_table(spark, t)
