"""The benchmark's workloads: seeded inputs, timed op kinds and the
untimed correctness gate.

Each workload runs closed-loop cycles, one op of each kind per cycle, with
one client. Inputs are generated from the seed with numpy and written as
parquet, so the program only ever sees files.
"""

from __future__ import annotations

import math
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPS, DELTA = 1.0, 1e-6


class OpFailed(Exception):
    """An op returned a result that fails its structural check."""


def _write(path: str, **cols) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)
    return path


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


class Workload:
    """``kinds`` are the op kinds of one cycle, in order; the first two
    are reported as ``op_a`` and ``op_b``. The untimed ``warm_ops`` run, in
    order, before the timed phase. ``cycle_s`` is the nominal length of one
    cycle, which fixes how many cycles a run of a given length times. An
    op may time its parts into ``part_times``, which the runner clears
    before the timed phase."""

    name = ""
    kinds: tuple[str, ...] = ()
    warm_ops: tuple[str, ...] = ()
    cycle_s = 1.0

    def __init__(self, spark, seed: int, action):
        self.spark = spark
        self.seed = seed
        # action(df, kind) executes a lazy plan and returns its rows; the
        # traced run times it as the ``spark`` layer.
        self.action = action
        self.part_times: dict[str, list[float]] = {}

    def timed_cycles(self, seconds: float) -> int:
        """Cycles the timed phase runs for a run of ``seconds``. The count
        does not depend on how fast the ops are, so every commit times the
        same ops on the same program state."""
        return max(1, round(seconds / self.cycle_s))

    def prepare(self, root: str) -> None:
        """Fresh inputs and program state under ``root``."""
        raise NotImplementedError

    def run(self, kind: str) -> int:
        """One op; returns its input rows. Raises on a wrong result."""
        raise NotImplementedError

    def verify(self) -> list[str]:
        """Untimed correctness gate; returns the failed checks."""
        raise NotImplementedError


# ----------------------------------------------------------------------
# dp_release
# ----------------------------------------------------------------------
DEEP_ROWS, DEEP_USERS, DEEP_PARTS, HOT_SHARE = 50_000, 5_000, 1_000, 0.03
DEEP_L0, DEEP_LINF = 4, 3
WIDE_ROWS, WIDE_USERS, WIDE_PARTS = 60_000, 20_000, 20_000
WIDE_L0, WIDE_LINF = 3, 2
VMAX = 10.0


def _keep_cutoff(eps: float, delta: float, l0: int) -> int:
    """Smallest privacy-id count whose truncated-geometric keep probability
    reaches 1/2 (Desfontaines, Voss and Gipson, PETS 2022): the HAVING
    threshold that zero-noise partition selection applies."""
    e1, d1 = eps / l0, delta / l0
    p, n = 0.0, 0
    while p < 0.5:
        p = min(math.exp(e1) * p + d1, 1 - math.exp(-e1) * (1 - p - d1), 1.0)
        n += 1
    return n


class DPRelease(Workload):
    """Secure-noise releases through ``QueryBuilder``; each op builds its
    own query, so each gets a fresh budget accountant."""

    name = "dp_release"
    kinds = ("release_deep", "release_wide")
    # After two warm-up cycles the first one or two timed ops of each kind
    # still ran 10-40% slow; after four, the first timed op of a kind runs
    # ~8% above the run's median on average.
    warm_ops = kinds * 4
    cycle_s = 3.0

    def prepare(self, root: str) -> None:
        r = _rng(self.seed, 1)
        hot = r.random(DEEP_ROWS) < HOT_SHARE
        uid = np.where(hot, 0, r.integers(1, DEEP_USERS + 1, DEEP_ROWS))
        pk = (r.random(DEEP_ROWS) ** 2 * DEEP_PARTS).astype(np.int32)
        self.deep_path = _write(f"{root}/deep.parquet", uid=uid, pk=pk,
                                value=r.random(DEEP_ROWS) * 1.2 * VMAX)
        r = _rng(self.seed, 2)
        # 5% of the rows fall on keys outside the public list.
        wpk = r.integers(0, int(WIDE_PARTS * 1.05), WIDE_ROWS)
        self.wide_path = _write(
            f"{root}/wide.parquet",
            uid=r.integers(1, WIDE_USERS + 1, WIDE_ROWS),
            pk=wpk.astype(np.int32), value=r.random(WIDE_ROWS) * 1.2 * VMAX)
        self.keys_path = _write(f"{root}/keys.parquet",
                                pk=np.arange(WIDE_PARTS, dtype=np.int32))
        self.deep_keys = set(np.unique(pk).tolist())
        read = self.spark.read.parquet
        self.deep, self.wide = read(self.deep_path), read(self.wide_path)
        self.keys = read(self.keys_path)

    def _deep_query(self, l0=DEEP_L0):
        from pipelinedp_spark import QueryBuilder
        return (QueryBuilder(self.deep, "uid")
                .groupby("pk", l0, DEEP_LINF)
                .count().sum("value", 0.0, VMAX).build_query())

    def _wide_query(self, l0=WIDE_L0, linf=WIDE_LINF):
        from pipelinedp_spark import QueryBuilder
        return (QueryBuilder(self.wide, "uid")
                .groupby("pk", l0, linf, public_keys=self.keys)
                .count().sum("value", 0.0, VMAX).mean("value", 0.0, VMAX)
                .build_query())

    def run(self, kind: str) -> int:
        from pipelinedp_spark import Budget
        if kind == "release_deep":
            df = self._deep_query().run_query(Budget(EPS, DELTA))
            rows = self.action(df, kind)
            keys = {r["pk"] for r in rows}
            if not keys <= self.deep_keys:
                raise OpFailed("deep release selected keys not in the input")
            _check_finite(rows, ("count", "sum_value"))
            return DEEP_ROWS
        df = self._wide_query().run_query(Budget(EPS, DELTA))
        rows = self.action(df, kind)
        keys = [r["pk"] for r in rows]
        if len(keys) != WIDE_PARTS or set(keys) != set(range(WIDE_PARTS)):
            raise OpFailed("wide release is not one row per public key")
        _check_finite(rows, ("count", "sum_value", "mean_value"))
        return WIDE_ROWS

    def verify(self) -> list[str]:
        """Zero-noise releases with a non-binding L0 against DuckDB."""
        import duckdb
        from pipelinedp_spark import Budget
        con = duckdb.connect()
        failed = []
        # Deep, the timed query's shape (per-value clipping, Linf = 3
        # binds, so rows are sampled): least(count, linf) per (pid, pk)
        # whatever rows are kept; each (pid, pk) sum lies between the sums
        # of its 3 smallest and 3 largest clipped values; HAVING privacy-id
        # count >= the selection threshold.
        l0 = con.execute(
            f"SELECT max(n) FROM (SELECT count(DISTINCT pk) n FROM "
            f"'{self.deep_path}' GROUP BY uid)").fetchone()[0]
        eps = 1000.0  # a threshold that keeps some partitions and drops some
        cutoff = _keep_cutoff(eps / 3, DELTA, l0)
        ref = con.execute(f"""
            SELECT pk, sum(least(c, {DEEP_LINF}))::DOUBLE, sum(lo), sum(hi)
            FROM (SELECT uid, pk, count(*) c,
                         sum(v) FILTER (WHERE up <= {DEEP_LINF}) lo,
                         sum(v) FILTER (WHERE down <= {DEEP_LINF}) hi
                  FROM (SELECT uid, pk,
                               least(greatest(value, 0.0), {VMAX}) v,
                               row_number() OVER (PARTITION BY uid, pk
                                                  ORDER BY value) up,
                               row_number() OVER (PARTITION BY uid, pk
                                                  ORDER BY value DESC) down
                        FROM '{self.deep_path}')
                  GROUP BY uid, pk)
            GROUP BY pk HAVING count(*) >= {cutoff}""").fetchall()
        got = self.action(self._deep_query(l0)
                          .run_query(Budget(eps, DELTA), noise_mode="zero"),
                          "verify")
        failed += _compare("release_deep", [r[:2] for r in ref], got,
                           ("count",))
        bounds = {r[0]: r[2:] for r in ref}
        outside = [r["pk"] for r in got if r["pk"] in bounds and not
                   bounds[r["pk"]][0] - 1e-6 <= r["sum_value"]
                   <= bounds[r["pk"]][1] + 1e-6]
        if outside:
            failed.append(f"release_deep: {len(outside)} sums outside the "
                          f"bounds of any {DEEP_LINF}-row sample, e.g. key "
                          f"{outside[0]}")
        if not 0 < len(ref) < len(self.deep_keys):
            failed.append("release_deep: threshold keeps all or nothing")
        # Wide: non-binding L0 and Linf; every public key, empty ones
        # with count 0, sum 0 and the midpoint as mean.
        l0, linf = con.execute(
            f"SELECT max(n), max(m) FROM (SELECT count(DISTINCT pk) n, "
            f"max(c) m FROM (SELECT uid, pk, count(*) c FROM "
            f"'{self.wide_path}' GROUP BY uid, pk) GROUP BY uid)").fetchone()
        ref = con.execute(f"""
            SELECT k.pk, coalesce(c, 0)::DOUBLE AS count,
                   coalesce(s, 0.0) AS sum_value,
                   coalesce(m, {VMAX / 2}) AS mean_value
            FROM '{self.keys_path}' k LEFT JOIN (
                SELECT pk, count(*) c,
                       sum(least(greatest(value, 0.0), {VMAX})) s,
                       avg(least(greatest(value, 0.0), {VMAX})) m
                FROM '{self.wide_path}' GROUP BY pk) USING (pk)""").fetchall()
        got = self.action(self._wide_query(l0, linf)
                          .run_query(Budget(EPS, DELTA), noise_mode="zero"),
                          "verify")
        failed += _compare("release_wide", ref, got,
                           ("count", "sum_value", "mean_value"))
        return failed


def _check_finite(rows, cols) -> None:
    for r in rows:
        for c in cols:
            if r[c] is None or not math.isfinite(r[c]):
                raise OpFailed(f"non-finite {c} for key {r['pk']}")


def _compare(what: str, ref, got, cols) -> list[str]:
    want = {r[0]: r[1:] for r in ref}
    have = {r["pk"]: tuple(r[c] for c in cols) for r in got}
    if set(want) != set(have):
        return [f"{what}: {len(set(want) ^ set(have))} keys differ "
                f"from the reference"]
    bad = [k for k in want
           if not all(math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
                      for a, b in zip(want[k], have[k]))]
    return [f"{what}: {len(bad)} keys differ, e.g. {bad[0]}: "
            f"{want[bad[0]]} vs {have[bad[0]]}"] if bad else []


# ----------------------------------------------------------------------
# tune_ann_store
# ----------------------------------------------------------------------
TUNE_ROWS, TUNE_USERS, TUNE_PARTS, TUNE_CANDIDATES = 30_000, 4_000, 100, 3
DIM, BATCH, TRAIN, QUERIES, CENTERS = 32, 2_000, 2_000, 16, 24
CELLS, M, KSUB, K, NPROBE = 8, 4, 16, 6, 3


class TuneAnnStore(Workload):
    """Everything but the DP release: bound tuning, and an IVF-PQ index
    that starts empty with persisted models. No op draws noise or bounds
    contributions, so this workload is the control for release changes.

    ``tune`` runs ``parameter_tuning.tune`` on a skewed table. One
    ``ann_step`` ingests a new batch, replays the previous batch (the
    ingest log must skip it) and searches a fixed query set; the three
    parts are also timed on their own, in ``part_times``."""

    name = "tune_ann_store"
    kinds = ("tune", "ann_step")
    # The first timed tune after one warm-up cycle ran ~20% slow; ann_step
    # levels off after one.
    warm_ops = ("tune", "ann_step", "tune")
    cycle_s = 7.0

    def prepare(self, root: str) -> None:
        from pipelinedp_spark import (AggregateParams, DataFrameExtractors,
                                      Metrics, NoiseKind)
        from pipelinedp_spark.operators import similarity as S
        r = _rng(self.seed, 3)
        uid = (r.random(TUNE_ROWS) ** 3 * TUNE_USERS).astype(np.int64)
        pk = (r.random(TUNE_ROWS) ** 2 * TUNE_PARTS).astype(np.int32)
        read = self.spark.read.parquet
        self.table = read(_write(f"{root}/tune.parquet", uid=uid, pk=pk,
                                 value=r.random(TUNE_ROWS) * VMAX))
        self.params = AggregateParams(
            metrics=[Metrics.COUNT], max_partitions_contributed=1,
            max_contributions_per_partition=1, noise_kind=NoiseKind.LAPLACE)
        self.extractors = DataFrameExtractors("uid", ["pk"], "value")
        self.recommended = None  # the first tune's (l0, linf, rmse)

        self.root = root
        self.store = "ann_store"
        train = read(self._vec_file(
            f"{root}/train.parquet", np.arange(TRAIN, dtype=np.int64),
            self._vectors(5, TRAIN), "vec_id", "embedding"))
        self.queries = read(self._vec_file(
            f"{root}/queries.parquet", np.arange(QUERIES, dtype=np.int64),
            self._vectors(6, QUERIES), "query_id", "query_vec"))
        x = S.sample_corpus_matrix(train, "vec_id", "embedding", TRAIN)
        self.centroids = S.train_ivf_centroids(x, CELLS, self.seed)
        self.codebooks = S.train_pq_codebooks(x, M, KSUB, self.seed)
        S.build_ann_index(train.limit(0), self.store, num_cells=CELLS, m=M,
                          ksub=KSUB, centroids=self.centroids,
                          codebooks=self.codebooks)
        self.next_batch = 0
        self.input_bytes = 0
        self.last_search = None  # (batches ingested, rows) of the last search

    def _vectors(self, salt: int, n: int) -> np.ndarray:
        r = _rng(self.seed, salt)
        centers = _rng(self.seed, 4).normal(size=(CENTERS, DIM))
        x = centers[r.integers(0, CENTERS, n)] + 0.3 * r.normal(
            size=(n, DIM))
        return x.astype(np.float32)

    @staticmethod
    def _vec_file(path: str, ids: np.ndarray, x: np.ndarray, id_col: str,
                  vec_col: str) -> str:
        vec = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), DIM)
        return _write(path, **{id_col: ids,
                               vec_col: vec.cast(pa.list_(pa.float32()))})

    def batch_path(self, i: int) -> str:
        path = f"{self.root}/batches/{i}.parquet"
        if not os.path.exists(path):
            ids = np.arange(i * BATCH, (i + 1) * BATCH, dtype=np.int64)
            self._vec_file(path, ids, self._vectors(100 + i, BATCH),
                           "vec_id", "embedding")
        return path

    def run(self, kind: str) -> int:
        if kind == "tune":
            return self._tune()
        # Batch files are written before the clock starts.
        new, old = self.batch_path(self.next_batch), \
            self.batch_path(max(self.next_batch - 1, 0))
        self.input_bytes += os.path.getsize(new)
        rows = 0
        for part, fn in (("ingest", self._ingest), ("replay", self._replay),
                         ("search", self._search)):
            t0 = time.perf_counter()
            rows += fn(new if part == "ingest" else old)
            self.part_times.setdefault(part, []).append(
                time.perf_counter() - t0)
        return rows

    def _tune(self) -> int:
        from pipelinedp_spark.analysis.parameter_tuning import tune
        res = tune(self.table, self.params, self.extractors, EPS, DELTA,
                   max_candidates_per_parameter=TUNE_CANDIDATES)
        rec = (res.recommended_max_partitions_contributed,
               res.recommended_max_contributions_per_partition,
               res.recommended_rmse)
        if self.recommended is None:
            self.recommended = rec
        elif rec[:2] != self.recommended[:2] or not math.isclose(
                rec[2], self.recommended[2], rel_tol=1e-9):
            raise OpFailed(f"tune recommended {rec}, "
                           f"earlier {self.recommended}")
        return TUNE_ROWS

    def _ingest(self, path: str) -> int:
        from pipelinedp_spark.streaming.dp_streaming import \
            ingest_ann_batch_idempotent
        i = self.next_batch
        if not ingest_ann_batch_idempotent(self.spark.read.parquet(path),
                                           self.store, i):
            raise OpFailed(f"ingest of new batch {i} was skipped")
        self.next_batch += 1
        return BATCH

    def _replay(self, path: str) -> int:
        from pipelinedp_spark.streaming.dp_streaming import \
            ingest_ann_batch_idempotent
        i = max(self.next_batch - 2, 0)  # the previous batch
        if ingest_ann_batch_idempotent(self.spark.read.parquet(path),
                                       self.store, i):
            raise OpFailed(f"replay of batch {i} was applied again")
        return BATCH

    def _search(self, _path: str) -> int:
        from pipelinedp_spark.operators.similarity import \
            ann_search_from_index
        rows = self.action(ann_search_from_index(
            self.queries, self.store, k=K, nprobe=NPROBE), "search")
        self.last_search = (self.next_batch, rows)
        per_query: dict[int, list[int]] = {}
        for r in rows:
            per_query.setdefault(r["query_id"], []).append(r["rank"])
        if len(per_query) != QUERIES or any(
                sorted(v) != list(range(1, K + 1))
                for v in per_query.values()):
            raise OpFailed("search did not return k ranks per query")
        return QUERIES

    def verify(self) -> list[str]:
        """Every tune already matched the first recommendation. The last
        search served from the store must equal a whole-corpus IVF-PQ
        scoring (``ivf_pq_topk``) with the persisted models."""
        from pipelinedp_spark.operators import similarity as S
        if self.last_search is None:
            return ["ann search: no search completed"]
        batches, rows = self.last_search
        corpus = self.spark.read.parquet(
            *[self.batch_path(i) for i in range(batches)])
        want = S.ivf_pq_topk(corpus, self.queries, k=K, num_cells=CELLS,
                             nprobe=NPROBE, m=M, ksub=KSUB,
                             centroids=self.centroids,
                             codebooks=self.codebooks)
        key = ("query_id", "vec_id", "rank", "adist")
        want_rows = {tuple(r[c] for c in key)
                     for r in self.action(want, "verify")}
        got_rows = {tuple(r[c] for c in key) for r in rows}
        if want_rows != got_rows:
            return [f"ann search: {len(want_rows ^ got_rows)} rows differ "
                    f"from ivf_pq_topk over {batches} batches"]
        return []


WORKLOADS = {w.name: w for w in (DPRelease, TuneAnnStore)}
