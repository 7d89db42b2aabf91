"""Unit tests for text-analysis, dedup, and similarity operators."""

import pytest
from pyspark.sql import functions as F

from pipelinedp_spark.functions import text as T
from pipelinedp_spark.operators import dedup, similarity


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (4, "completely different words about spark engines here"),
        (5, "el la de que y los un por palabras"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


class TestTextFunctions:

    def test_token_stats(self, spark, docs):
        r = docs.select(
            "doc_id",
            T.token_count(F.col("text")).alias("n"),
            T.distinct_token_count(F.col("text")).alias("d")).collect()
        got = {row["doc_id"]: (row["n"], row["d"]) for row in r}
        assert got[1] == (9, 8)  # 'the' twice
        assert got[4] == (7, 7)

    def test_language_id(self, spark, docs):
        r = docs.select("doc_id",
                        T.language_id(F.col("text")).alias("lang")).collect()
        got = {row["doc_id"]: row["lang"] for row in r}
        assert got[1] == "en"
        assert got[5] == "es"
        assert got[4] == "unknown"  # no stopwords from any list

    def test_fingerprint_normalizes_whitespace_and_case(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello  World"), (2, "hello world "), (3, "other")],
            ["doc_id", "text"])
        r = df.select(T.rolling_fingerprint(F.col("text")).alias("f")) \
            .collect()
        assert r[0]["f"] == r[1]["f"]
        assert r[0]["f"] != r[2]["f"]

    def test_shingles(self, spark):
        df = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
        r = df.select(T.shingles(F.col("text"), 3).alias("s")).collect()
        assert sorted(r[0]["s"]) == ["a b c", "b c d"]

    def test_shingles_short_doc(self, spark):
        df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
        r = df.select(T.shingles(F.col("text"), 3).alias("s")).collect()
        assert r[0]["s"] == ["a b"]

    def test_simhash_identical_texts_equal(self, spark, docs):
        r = dedup.simhash_fingerprints(docs).collect()
        got = {row["doc_id"]: row["simhash"] for row in r}
        assert got[1] == got[3]
        assert got[1] != got[4]


class TestDedup:

    def test_exact_dedup(self, spark, docs):
        r = dedup.exact_dedup(docs).collect()
        kept = {row["doc_id"]: row["dup_count"] for row in r}
        assert 1 in kept and kept[1] == 2  # docs 1 and 3 collapse
        assert 3 not in kept
        assert len(r) == 4

    def test_minhash_lsh_finds_near_dup(self, spark, docs):
        pairs = dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
        got = {(p["id_a"], p["id_b"]) for p in pairs}
        assert (1, 3) in got  # exact dup always found (jaccard 1.0)
        jac = {(p["id_a"], p["id_b"]): p["jaccard"] for p in pairs}
        assert jac[(1, 3)] == 1.0

    def test_simhash_pairs_exact_dup_zero_hamming(self, spark, docs):
        pairs = dedup.simhash_pairs(docs, max_hamming=0).collect()
        got = {(p["id_a"], p["id_b"]): p["hamming"] for p in pairs}
        assert got.get((1, 3)) == 0

    def test_jaccard_verify_values(self, spark, docs):
        sh = dedup.shingle_docs(docs)
        pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
        r = dedup.ngram_jaccard_verify(pairs, sh,
                                       jaccard_threshold=0.0).collect()
        # 7 shingles each, 6 shared -> 6/8
        assert r[0]["jaccard"] == pytest.approx(0.75)


class TestSimilarity:

    def test_cosine_topk_self_first(self, spark):
        rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
        emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
        q = emb.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec"))
        r = similarity.cosine_topk(emb, q, k=1).collect()
        assert all(row["query_id"] == row["vec_id"] and row["cosine"] == 1.0
                   for row in r)

    def test_cosine_value(self, spark):
        emb = spark.createDataFrame([(0, [1.0, 0.0]), (1, [1.0, 1.0])],
                                    ["vec_id", "embedding"])
        q = spark.createDataFrame([(9, [1.0, 0.0])],
                                  ["query_id", "query_vec"])
        r = similarity.cosine_topk(emb, q, k=2).collect()
        by_rank = {row["rank"]: row for row in r}
        assert by_rank[1]["vec_id"] == 0
        assert by_rank[2]["cosine"] == pytest.approx(0.707107, abs=1e-6)

    def test_lsh_topk_subset_of_bucket(self, spark):
        rows = [(i, [float((i + j) % 5) for j in range(8)])
                for i in range(50)]
        emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
        q = emb.limit(2).select(F.col("vec_id").alias("query_id"),
                                F.col("embedding").alias("query_vec"))
        r = similarity.lsh_topk(emb, q, k=5, num_planes=4, dim=8)
        rows_out = r.collect()
        assert len(rows_out) > 0
        # query always lands in its own bucket -> self-match rank 1
        first = {row["query_id"]: row["vec_id"]
                 for row in rows_out if row["rank"] == 1}
        for qid, vid in first.items():
            assert qid == vid

    def test_embedding_near_dup_exact_superset_of_lsh(self, spark):
        rows = [(i, [float((i * 7 + j * 3) % 11) / 11.0 for j in range(8)])
                for i in range(40)]
        emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
        exact = {(r["id_a"], r["id_b"]) for r in
                 dedup.embedding_near_dup_exact(
                     emb, cosine_threshold=0.9).collect()}
        lsh = {(r["id_a"], r["id_b"]) for r in
               dedup.embedding_near_dup_pairs(
                   emb, cosine_threshold=0.9, dim=8).collect()}
        assert len(exact) > 0
        # LSH candidates are verified against the same threshold, so every
        # LSH pair must appear in the exact pair set.
        assert lsh <= exact


class TestRunningSum:
    def test_matches_single_task_window(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F
        from pipelinedp_spark.operators.running import running_sum
        rows = [(i * 7 % 101, (i * 13) % 40 + 1) for i in range(101)]
        df = spark.createDataFrame(rows, "k long, v long")
        got = {r["k"]: r["cs"] for r in
               running_sum(df, "k", "v", out_col="cs",
                           num_partitions=8).collect()}
        w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
        want = {r["k"]: r["cs"] for r in
                df.withColumn("cs", F.sum("v").over(w)).collect()}
        assert got == want

    def test_no_single_task_exchange(self, spark):
        # The point of the operator: no unpartitioned window in the plan.
        from pipelinedp_spark.operators.running import running_sum
        df = spark.range(100).withColumn("v", (F.col("id") % 7) + 1)
        plan = running_sum(df, "id", "v", num_partitions=8) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan
        assert "Window" not in plan

    def test_carry_across_arrow_batches(self, spark):
        # Force multiple Arrow batches per partition so the running sum
        # must carry across batch boundaries.
        from pipelinedp_spark.operators.running import running_sum
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                             "10000")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        try:
            df = spark.range(500).withColumn("v", F.lit(1))
            rows = running_sum(df, "id", "v", out_col="cs",
                               num_partitions=4).collect()
            got = {r["id"]: r["cs"] for r in rows}
            assert got == {i: i + 1 for i in range(500)}
        finally:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                           old)


class TestAsofJoin:
    def _frames(self, spark):
        L = spark.createDataFrame(
            [(7, 1, 10, 0.5), (8, 1, 20, 0.6), (9, 2, 15, 0.7)],
            "event_id long, user_id long, ts long, value double")
        R = spark.createDataFrame(
            [(1, 5, 1.0), (1, 18, 2.0), (3, 1, 9.0)],
            "user_id long, ts long, value double")
        return L, R

    def test_backward(self, spark):
        from pipelinedp_spark.operators.asof import asof_join
        L, R = self._frames(spark)
        rows = {r["event_id"]: (r["ts_right"], r["value_right"])
                for r in asof_join(L, R, "ts", "user_id").collect()}
        assert rows[7] == (5, 1.0)
        assert rows[8] == (18, 2.0)
        assert rows[9] == (None, None)  # user 2 has no right rows

    def test_forward(self, spark):
        from pipelinedp_spark.operators.asof import asof_join
        L, R = self._frames(spark)
        rows = {r["event_id"]: r["ts_right"]
                for r in asof_join(L, R, "ts", "user_id",
                                   direction="forward").collect()}
        assert rows[7] == 18
        assert rows[8] is None  # nothing at ts >= 20
        assert rows[9] is None

    def test_count_survives_input_pruning(self, spark):
        # A bare count() prunes the cogroup inputs to the key; the
        # operator must keep the left-join row multiplicity.
        from pipelinedp_spark.operators.asof import asof_join
        L, R = self._frames(spark)
        assert asof_join(L, R, "ts", "user_id").count() == 3

    def test_large_int64_times_not_corrupted(self, spark):
        # Nano-epoch magnitudes exceed float64 precision; unmatched rows
        # must not force the matched values through float64.
        from pipelinedp_spark.operators.asof import asof_join
        base = 1_704_073_540_167_754_929
        L = spark.createDataFrame(
            [(1, 1, base + 1000), (2, 2, base)],
            "event_id long, user_id long, ts long")
        R = spark.createDataFrame([(1, base)], "user_id long, ts long")
        rows = {r["event_id"]: r["ts_right"]
                for r in asof_join(L, R, "ts", "user_id").collect()}
        assert rows[1] == base
        assert rows[2] is None

    def test_sweep_carry_across_arrow_batches(self, spark):
        # Small Arrow batches force the per-partition fill state to carry
        # across batch boundaries inside one partition.
        from pipelinedp_spark.operators.asof import asof_join
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                             "10000")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
        try:
            L = spark.createDataFrame(
                [(i, i % 3, 10 * i + 5) for i in range(60)],
                "event_id long, k long, ts long")
            R = spark.createDataFrame(
                [(i % 3, 10 * i) for i in range(60)],
                "k long, ts long")
            rows = {r["event_id"]: r["ts_right"]
                    for r in asof_join(L, R, "ts", "k").collect()}
            # right times for key k are {10i : i % 3 == k}; the latest
            # right time <= 10i+5 with matching key is 10i itself when
            # i%3==k... left key is i%3 so the match is exactly 10i.
            assert rows == {i: 10 * i for i in range(60)}
        finally:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                           old)


class TestRangeJoin:
    def test_matches_between_filter(self, spark):
        from pipelinedp_spark.operators.ranges import range_join
        pts = spark.createDataFrame([(i, i * 10) for i in range(20)],
                                    "pid long, t long")
        iv = spark.createDataFrame(
            [(0, 5, 60), (1, 50, 120), (2, 200, 210)],
            "iid long, s long, e long")
        got = {(r["pid"], r["iid"]) for r in
               range_join(pts, "t", iv, "s", "e", chunk=37).collect()}
        want = {(p, i) for p in range(20) for i, (s, e) in
                enumerate([(5, 60), (50, 120), (200, 210)])
                if s <= p * 10 <= e}
        assert got == want

    def test_no_nested_loop_join(self, spark):
        from pipelinedp_spark.operators.ranges import range_join
        from pipelinedp_spark import plans as P
        pts = spark.range(100).withColumn("t", F.col("id") * 7)
        iv = spark.createDataFrame([(1, 10, 500)], "iid long, s long, e long")
        plan = P.explain_str(range_join(pts, "t", iv, "s", "e", chunk=100))
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


class TestSessionize:
    def test_gap_sessions(self, spark):
        from pipelinedp_spark.operators.sessions import (session_stats,
                                                         sessionize)
        rows = [(1, t) for t in [0, 10, 25, 100, 105, 300]] + \
               [(2, t) for t in [50, 55]]
        df = spark.createDataFrame(rows, "k long, t long")
        sids = {(r["k"], r["t"]): r["session_id"]
                for r in sessionize(df, "t", "k", gap=20).collect()}
        assert sids == {(1, 0): 0, (1, 10): 0, (1, 25): 0, (1, 100): 1,
                        (1, 105): 1, (1, 300): 2, (2, 50): 0, (2, 55): 0}
        stats = {(r["k"], r["session_id"]): (r["n_events"], r["dur"])
                 for r in session_stats(df, "t", "k", gap=20).collect()}
        assert stats == {(1, 0): (3, 25), (1, 1): (2, 5), (1, 2): (1, 0),
                         (2, 0): (2, 5)}


class TestDeterministicSplit:
    def test_split_stable_and_exhaustive(self, spark):
        from pipelinedp_spark.functions.sampling import (
            deterministic_sample, deterministic_split)
        df = spark.range(1000).withColumnRenamed("id", "k")
        fr = {"train": 0.8, "val": 0.1, "test": 0.1}
        a = {r["k"]: r["split"] for r in
             deterministic_split(df, "k", fr).collect()}
        b = {r["k"]: r["split"] for r in
             deterministic_split(df, "k", fr).collect()}
        assert a == b  # reproducible
        assert set(a.values()) == {"train", "val", "test"}
        n = len(a)
        train = sum(1 for v in a.values() if v == "train")
        assert 0.75 * n < train < 0.85 * n
        # sample with the same salt is a prefix-consistent subset
        s10 = {r["k"] for r in
               deterministic_sample(df, "k", 0.1, salt="s").collect()}
        s20 = {r["k"] for r in
               deterministic_sample(df, "k", 0.2, salt="s").collect()}
        assert s10 <= s20
        assert 0.05 * n < len(s10) < 0.15 * n

    def test_fractions_must_sum_to_one(self, spark):
        import pytest as _pytest
        from pipelinedp_spark.functions.sampling import deterministic_split
        df = spark.range(10).withColumnRenamed("id", "k")
        with _pytest.raises(ValueError):
            deterministic_split(df, "k", {"a": 0.5, "b": 0.4})


def test_jaccard_pairs_matches_brute_force(spark):
    """The inverted-index + exact-upper-bound prefilter must return
    exactly the brute-force all-pairs Jaccard result (the prefilter is a
    pure pruning step: no false negatives by construction)."""
    base = "the quick brown fox jumps over the lazy dog " * 3
    rows = [
        (0, base + "alpha beta gamma"),
        (1, base + "alpha beta delta"),          # near-dup of 0
        (2, base + "epsilon zeta eta theta"),
        (3, "completely different text with unrelated words here now"),
        (4, base + "alpha beta gamma"),          # exact dup of 0
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           dedup.jaccard_pairs(df, jaccard_threshold=0.5,
                               max_shingle_doc_freq=100).collect()}

    # brute force over full shingle sets
    sh = {r["doc_id"]: set(r["shingles"]) for r in
          dedup.shingle_docs(df).collect()}
    want = {}
    ids = sorted(sh)
    for i in ids:
        for j in ids:
            if i < j:
                inter = len(sh[i] & sh[j])
                jac = inter / (len(sh[i]) + len(sh[j]) - inter)
                if round(jac, 6) >= 0.5:
                    want[(i, j)] = round(jac, 6)
    assert got == pytest.approx(want)


def test_jaccard_stop_shingle_rule_is_discovery_only(spark):
    """A pair whose every shared shingle is a stop shingle is not
    discovered; Jaccard for discovered pairs still uses full sets."""
    common = "shared boilerplate text appears everywhere always " * 2
    rows = [(i, common + f"unique{i} filler{i} words{i}")
            for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    # cap 3 < 6 docs: every shared (boilerplate) shingle is a stop
    # shingle, so no candidates are discovered at all.
    none = dedup.jaccard_pairs(df, jaccard_threshold=0.1,
                               max_shingle_doc_freq=3).collect()
    assert none == []
    # with the cap lifted, the boilerplate pairs appear
    some = dedup.jaccard_pairs(df, jaccard_threshold=0.1,
                               max_shingle_doc_freq=100).collect()
    assert len(some) == 15


def test_sessionize_scalable_matches_window_version(spark):
    """sessionize_scalable must equal the single-window sessionize on
    arbitrary data, for partition counts that force hot keys to span
    partitions (the case the operator exists for)."""
    import numpy as np
    from pipelinedp_spark.operators.sessions import (sessionize,
                                                     sessionize_scalable)
    rng = np.random.default_rng(5)
    rows = []
    # hot key 0 with a long dense timeline + sparse other keys
    ts = 0
    for _ in range(500):
        ts += int(rng.integers(1, 30))
        rows.append((0, ts))
    for k in range(1, 20):
        ts = int(rng.integers(0, 1000))
        for _ in range(int(rng.integers(1, 15))):
            ts += int(rng.integers(1, 40))
            rows.append((k, ts))
    df = spark.createDataFrame(rows, "k long, t long")
    want = {(r["k"], r["t"]): r["session_id"]
            for r in sessionize(df, "t", "k", gap=15).collect()}
    for n_parts in (1, 3, 8, 17):
        got = {(r["k"], r["t"]): r["session_id"]
               for r in sessionize_scalable(df, "t", "k", gap=15,
                                            num_partitions=n_parts)
               .collect()}
        assert got == want, f"mismatch at num_partitions={n_parts}"


def test_sessionize_scalable_hot_key_spans_partitions(spark):
    """One key owning nearly everything: the range partitioner must split
    it, and the merge must still produce a single session chain."""
    from pipelinedp_spark.operators.sessions import sessionize_scalable
    rows = [(7, i * 10) for i in range(2000)]       # one unbroken session
    rows += [(7, 100_000 + i * 1000) for i in range(50)]  # 50 singletons
    df = spark.createDataFrame(rows, "k long, t long")
    out = sessionize_scalable(df, "t", "k", gap=15, num_partitions=8)
    sids = [r["session_id"] for r in out.orderBy("t").collect()]
    assert sids[:2000] == [0] * 2000
    assert sids[2000:] == list(range(1, 51))


def test_sessionize_scalable_float_time_col(spark):
    """Float time columns survive the edge-summary round trip (the edge
    schema follows the data's type instead of hardcoding long)."""
    from pipelinedp_spark.operators.sessions import (sessionize,
                                                     sessionize_scalable)
    rows = [(1, 0.5), (1, 10.25), (1, 30.75), (2, 1.5), (2, 40.0)]
    df = spark.createDataFrame(rows, "k long, t double")
    want = {(r["k"], r["t"]): r["session_id"]
            for r in sessionize(df, "t", "k", gap=15).collect()}
    got = {(r["k"], r["t"]): r["session_id"]
           for r in sessionize_scalable(df, "t", "k", gap=15,
                                        num_partitions=3).collect()}
    assert got == want


def test_sessionize_scalable_rejects_timestamp_col(spark):
    import datetime
    import pytest as _pytest
    from pipelinedp_spark.operators.sessions import sessionize_scalable
    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1))], "k long, t timestamp")
    with _pytest.raises(ValueError, match="numeric time column"):
        sessionize_scalable(df, "t", "k", gap=15)


def test_sessionize_scalable_boundary_cap_guard(spark):
    """The boundary-stitch collect (<= 2 rows per partition by
    construction) fails loudly above its documented cap."""
    from pipelinedp_spark.operators.sessions import sessionize_scalable
    df = spark.range(100).select(
        (F.col("id") % 5).alias("uid"), F.col("id").alias("ts"))
    spark.conf.set("spark.pipelinedp.sessions.maxBoundaryRows", "7")
    try:
        with pytest.raises(ValueError, match="maxBoundaryRows"):
            sessionize_scalable(df, "ts", "uid", gap=10, num_partitions=4)
        # within the cap still works
        out = sessionize_scalable(df, "ts", "uid", gap=10,
                                  num_partitions=3)
        assert out.count() == 100
    finally:
        spark.conf.unset("spark.pipelinedp.sessions.maxBoundaryRows")


def test_connected_components_matches_brute_force(spark):
    from pipelinedp_spark.operators.graph import connected_components
    # two cliques bridged by a path, plus an isolated edge
    edges = [(1, 2), (2, 3), (3, 1),          # clique A
             (3, 10), (10, 11), (11, 12),     # path to clique B
             (12, 13), (13, 14), (14, 12),    # clique B
             (50, 51)]                        # separate component
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["node"]: r["component"]
           for r in connected_components(df).collect()}
    # brute force union-find
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        parent[find(a)] = find(b)
    comps = {}
    for n in parent:
        comps.setdefault(find(n), []).append(n)
    want = {n: min(members) for members in comps.values() for n in members}
    assert got == want


def test_near_dup_clusters_covers_all_docs(spark):
    from pipelinedp_spark.operators.graph import near_dup_clusters
    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame([(1, 3), (3, 5)], "id_a long, id_b long")
    got = {r["doc_id"]: r["cluster_id"]
           for r in near_dup_clusters(docs, pairs).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 4, 5: 1, 6: 6, 7: 7}


class TestWinnowing:
    def test_shared_run_guarantee(self, spark):
        # Winnowing guarantee: a shared token run of length >= k + w - 1
        # (= 8 for k=5, w=4) yields at least one shared fingerprint.
        passage = " ".join(f"p{i}" for i in range(8))
        rows = [(1, "alpha beta gamma " + passage + " delta epsilon"),
                (2, "totally different opening words here " + passage)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        fps = {r["doc_id"]: set(r["f"]) for r in df.select(
            "doc_id",
            T.winnowing_fingerprints(F.col("text")).alias("f")).collect()}
        assert fps[1] & fps[2]

    def test_short_doc_single_fingerprint(self, spark):
        df = spark.createDataFrame([(1, "only three tokens")],
                                   "doc_id long, text string")
        f = df.select(T.winnowing_fingerprints(F.col("text"))
                      .alias("f")).first()["f"]
        assert len(f) == 1

    def test_containment_detects_copied_passage(self, spark):
        passage = " ".join(f"p{i}" for i in range(12))
        rows = [(1, passage),
                (2, "intro words here " + passage + " closing words now"),
                (3, " ".join(f"z{i}" for i in range(30)))]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {(r["id_a"], r["id_b"]): r["containment"]
               for r in dedup.winnow_containment_pairs(
                   df, min_containment=0.3).collect()}
        # doc 1 fully contained in doc 2; doc 3 unrelated to both
        assert out[(1, 2)] == 1.0
        assert set(out) == {(1, 2)}

    def test_stop_fingerprints_excluded(self, spark):
        # A fingerprint present in EVERY doc is boilerplate: with
        # max_fp_doc_freq below the corpus size it must not create pairs.
        boiler = " ".join(f"b{i}" for i in range(10))
        rows = [(i, boiler + f" unique{i} tail{i}") for i in range(6)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = dedup.winnow_containment_pairs(
            df, min_containment=0.1, max_fp_doc_freq=3)
        assert out.count() == 0


class TestQualitySignals:
    def _one(self, spark, text, col):
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        return df.select(col.alias("x")).first()["x"]

    def test_duplicate_line_signals(self, spark):
        text = "aaa\nbbb\naaa\nccc\naaa"
        assert self._one(spark, text,
                         T.duplicate_line_fraction(F.col("text"))) == \
            pytest.approx(2 / 5)
        # repeated mass: two extra 'aaa' -> 6 chars of 15 total
        assert self._one(spark, text,
                         T.duplicate_line_char_fraction(F.col("text"))) == \
            pytest.approx(6 / 15)

    def test_bullet_and_ellipsis_fractions(self, spark):
        text = "- item one\n* item two\nplain line\nto be continued..."
        assert self._one(spark, text,
                         T.bullet_line_fraction(F.col("text"))) == \
            pytest.approx(0.5)
        assert self._one(spark, text,
                         T.ellipsis_line_fraction(F.col("text"))) == \
            pytest.approx(0.25)

    def test_duplicate_ngram_char_fraction(self, spark):
        # "a b a b a" -> 2-grams: [a b, b a, a b, b a] all len 3; every
        # gram repeated once -> dup mass 6 of 12.
        val = self._one(spark, "a b a b a",
                        T.duplicate_ngram_char_fraction(F.col("text"), 2))
        assert val == pytest.approx(0.5)
        # no repetition -> 0
        assert self._one(spark, "w x y z",
                         T.duplicate_ngram_char_fraction(F.col("text"), 2)
                         ) == 0.0

    def test_top_ngram_char_fraction(self, spark):
        from pipelinedp_spark.operators.quality import \
            top_ngram_char_fraction
        rows = [(1, "a b a b a"),       # top 2-gram "a b" cnt=2 of 4 grams
                (2, "x"),               # shorter than n -> whole text gram
                (3, "p q r s")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r["top_2gram_frac"]
               for r in top_ngram_char_fraction(df, ns=(2,)).collect()}
        assert out[1] == pytest.approx(6 / 12)
        assert out[2] == pytest.approx(1.0)   # single gram covers all
        assert out[3] == pytest.approx(1 / 3)  # all cnt=1, tie -> "p q"


class TestPII:
    def test_scrub_all_kinds(self, spark):
        text = ("mail me at jo.doe+x@corp.example.com or call "
                "+1 555 0100 3333, server 10.1.2.3, ssn 123-45-6789.")
        df = spark.createDataFrame([(text,)], "text string")
        out = df.select(T.scrub_pii(F.col("text")).alias("t")).first()["t"]
        assert "[EMAIL]" in out and "[IP]" in out
        assert "[SSN]" in out and "[PHONE]" in out
        assert "example.com" not in out and "6789" not in out

    def test_counts_and_clean_text_untouched(self, spark):
        df = spark.createDataFrame(
            [("no pii here at all",),
             ("a@b.io and c@d.org wrote from 8.8.8.8",)], "text string")
        rows = df.select(
            T.pii_count(F.col("text"), "email").alias("e"),
            T.pii_count(F.col("text"), "ip").alias("i"),
            T.scrub_pii(F.col("text")).alias("t")).collect()
        assert (rows[0]["e"], rows[0]["i"]) == (0, 0)
        assert rows[0]["t"] == "no pii here at all"
        assert (rows[1]["e"], rows[1]["i"]) == (2, 1)


def test_operator_fingerprints_match_column_function(spark):
    # the operator's posexplode+window path must produce EXACTLY the
    # fingerprint sets of the one-shot column expression
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(200)
    ref = {r["doc_id"]: set(r["f"]) for r in docs.select(
        "doc_id", T.winnowing_fingerprints(F.col("text")).alias("f"))
        .collect()}
    from pyspark.sql import Window
    g = docs.select(
        F.col("doc_id"),
        F.posexplode(T.winnowing_grams(F.col("text"))).alias(
            "pos", "gram"))
    wdoc = Window.partitionBy("doc_id")
    wslide = (Window.partitionBy("doc_id").orderBy("pos")
              .rowsBetween(Window.currentRow, 3))
    got = {}
    rows = (g.select(F.col("doc_id"), F.col("pos"),
                     T.token_hash(F.col("gram")).alias("h"))
            .withColumn("m", F.count(F.lit(1)).over(wdoc))
            .withColumn("wmin", F.min("h").over(wslide))
            .filter((F.col("pos") <= F.col("m") - 4)
                    | (F.col("pos") == 0))
            .select("doc_id", "wmin").distinct().collect())
    for r in rows:
        got.setdefault(r["doc_id"], set()).add(r["wmin"])
    assert got == ref


@pytest.mark.parametrize("num_hashes,rows_per_band", [(64, 4), (128, 8)])
def test_minhash_lsh_recall_production_settings(spark, num_hashes,
                                                rows_per_band):
    """Recall gate at production-ish signature widths: planted near-dups
    (shingle Jaccard ~0.85-0.95) must be recovered. With b bands of r
    rows a pair at Jaccard j buckets together with prob 1-(1-j^r)^b,
    which is > 0.999 for every planted pair at both settings — so the
    gate pins the implementation (hashing, banding, verification), not
    luck. The default 8-hash knob is bench-sized; THIS is the config a
    real corpus wants."""
    import random
    rng = random.Random(42)
    vocab = [f"w{j}" for j in range(5000)]
    rows, planted = [], []
    for d in range(150):
        toks = [vocab[rng.randrange(len(vocab))] for _ in range(50)]
        rows.append((2 * d, " ".join(toks)))
        # near-dup: replace 1 token -> at most 3 of 48 shingles differ
        # per side: J >= 45/51 ~ 0.88 (the ~0.9-threshold regime that
        # 8-row bands are tuned for; 4-row bands cover it trivially)
        mut = list(toks)
        mut[25] = "mutA%d" % d
        rows.append((2 * d + 1, " ".join(mut)))
        planted.append((2 * d, 2 * d + 1))
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    got = {(r["id_a"], r["id_b"])
           for r in dedup.minhash_lsh_pairs(
               docs, num_hashes=num_hashes, rows_per_band=rows_per_band,
               jaccard_threshold=0.7).collect()}
    recall = sum(p in got for p in planted) / len(planted)
    assert recall >= 0.95, f"planted near-dup recall {recall}"


def test_ivf_pq_topk_recall_vs_exact(spark):
    """IVF-PQ recall@10 against exact L2 top-10: the full-stack gate
    (coarse quantizer cell pruning + PQ ADC scoring) on the real
    embeddings table. Guards the knob defaults, not just scoring parity
    (test_ivf_pq_scores_match_pq)."""
    import numpy as np
    from pipelinedp_spark.operators.similarity import ivf_pq_topk
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    got = {}
    for r in ivf_pq_topk(emb, q, k=10, num_cells=8, nprobe=4).collect():
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    pdf = emb.toPandas()
    X = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    ids = pdf["vec_id"].to_numpy()
    recalls = []
    for qid, found in got.items():
        qv = X[ids == qid][0]
        d = ((X - qv) ** 2).sum(axis=1)
        exact = set(ids[np.argsort(d, kind="stable")[:10]])
        recalls.append(len(found & exact) / 10)
    # Same concentrated-distance caveat as test_pq_topk_recall: random
    # synthetic vectors make the exact top-10 tail near-noise, so the
    # floor guards gross pruning/scoring bugs (broken probing scores
    # ~0.05); rank-1 self-match is checked exactly by the parity test.
    assert len(recalls) == 5
    assert sum(recalls) / len(recalls) >= 0.2


class TestDecontamination:

    def test_contamination_hits_and_filter(self, spark):
        from pipelinedp_spark.operators.decontam import (
            contamination_hits, decontaminate)
        evald = spark.createDataFrame(
            [(100, "the secret eval answer is forty two exactly")],
            "doc_id int, text string")
        docs = spark.createDataFrame(
            [(1, "clean document with no overlap whatsoever here"),
             # contains the 5-gram "secret eval answer is forty" twice
             (2, "x secret eval answer is forty y "
                 "secret eval answer is forty z"),
             (3, "the secret eval answer is hidden"),  # 5-gram overlap
             (4, "short text")],
            "doc_id int, text string")
        hits = {r["doc_id"]: r["n_hits"] for r in
                contamination_hits(docs, evald, n=5).collect()}
        assert hits[2] == 2          # non-distinct occurrences
        assert hits[3] == 1          # "the secret eval answer is"
        assert 1 not in hits and 4 not in hits
        kept = {r["doc_id"] for r in
                decontaminate(docs, evald, n=5).collect()}
        assert kept == {1, 4}
        # max_hits=1 tolerates a single overlapping occurrence
        kept1 = {r["doc_id"] for r in
                 decontaminate(docs, evald, n=5, max_hits=1).collect()}
        assert kept1 == {1, 3, 4}

    def test_decontaminate_broadcasts_eval_side(self, spark):
        from pipelinedp_spark.operators.decontam import decontaminate
        from pipelinedp_spark import plans as P
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet")
        evald = docs.filter(F.col("doc_id") % 97 == 0)
        out = decontaminate(docs, evald)
        assert P.has_broadcast_join(out)


class TestSequencePacking:

    def test_pack_sequences_exact_layout(self, spark):
        from pipelinedp_spark.operators.packing import pack_sequences
        docs = spark.createDataFrame(
            [(1, "a b c"),          # 3 tokens: off 0,  seq 0
             (2, " ".join(["t"] * 6)),   # off 3 -> spans seq 0 only? 3+6=9>8: spans 0-1
             (3, "x"),              # off 9 -> seq 1
             (4, " ".join(["u"] * 17))],  # off 10 -> seqs 1..3
            "doc_id int, text string")
        out = {r["doc_id"]: r for r in
               pack_sequences(docs, seq_len=8).collect()}
        assert (out[1]["start_seq"], out[1]["start_off"],
                out[1]["n_seqs"]) == (0, 0, 1)
        assert (out[2]["start_seq"], out[2]["start_off"],
                out[2]["n_seqs"]) == (0, 3, 2)   # tokens 3..8 cross seq 0/1
        assert (out[3]["start_seq"], out[3]["start_off"],
                out[3]["n_seqs"]) == (1, 1, 1)
        assert (out[4]["start_seq"], out[4]["start_off"],
                out[4]["n_seqs"]) == (1, 2, 3)   # tokens 10..26 in seqs 1,2,3
        # total stream length = 27 tokens -> 4 sequences of 8 (last partial)
        assert max(r["start_seq"] + r["n_seqs"] for r in out.values()) == 4

    def test_pack_sequences_contiguous_no_gaps(self, spark):
        from pipelinedp_spark.operators.packing import pack_sequences
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet").limit(300)
        rows = sorted(pack_sequences(docs, seq_len=512).collect(),
                      key=lambda r: r["doc_id"])
        stream_pos = 0
        for r in rows:
            assert r["start_seq"] * 512 + r["start_off"] == stream_pos
            stream_pos += r["n_tokens"]


def test_stratified_sample_deterministic_and_proportional(spark):
    from pipelinedp_spark.functions.sampling import stratified_sample
    df = spark.range(20000).select(
        F.col("id"),
        F.when(F.col("id") % 4 == 0, "rare").otherwise("common")
        .alias("src"))
    out = stratified_sample(df, "id", "src",
                            {"rare": 1.0, "common": 0.1})
    got = {r["src"]: r["n"] for r in
           out.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got["rare"] == 5000                      # kept whole
    assert abs(got["common"] - 1500) < 200          # ~10% of 15000
    # deterministic: identical output on a second run
    a = sorted(r["id"] for r in out.collect())
    b = sorted(r["id"] for r in stratified_sample(
        df, "id", "src", {"rare": 1.0, "common": 0.1}).collect())
    assert a == b
    # absent stratum uses default_fraction (0 -> dropped)
    none_kept = stratified_sample(
        df, "id", "src", {"rare": 0.5}).filter(F.col("src") == "common")
    assert none_kept.count() == 0


def test_asof_join_tolerance(spark):
    from pipelinedp_spark.operators.asof import asof_join
    left = spark.createDataFrame(
        [(1, 100, 10.0), (1, 205, 11.0), (2, 300, 12.0)],
        "uid int, ts long, v double")
    right = spark.createDataFrame(
        [(1, 90, 1.0), (1, 110, 2.0)], "uid int, ts long, v double")
    out = {(r["uid"], r["ts"]): (r["ts_right"], r["v_right"])
           for r in asof_join(left, right, "ts", "uid",
                              tolerance=50).collect()}
    assert out[(1, 100)] == (90, 1.0)       # gap 10 <= 50
    assert out[(1, 205)] == (None, None)    # nearest match 95 stale
    assert out[(2, 300)] == (None, None)    # no right rows at all
    # without tolerance the stale match comes through
    loose = {(r["uid"], r["ts"]): r["ts_right"]
             for r in asof_join(left, right, "ts", "uid").collect()}
    assert loose[(1, 205)] == 110
    with pytest.raises(ValueError, match="non-negative"):
        asof_join(left, right, "ts", "uid", tolerance=-1)


def test_cross_corpus_dedup(spark):
    ref = spark.createDataFrame(
        [(1, "Alpha  beta"), (2, "gamma delta")], "doc_id int, text string")
    new = spark.createDataFrame(
        [(10, "alpha beta "),   # normalizes to a reference fingerprint
         (11, "epsilon zeta"),
         (12, "gamma delta")],
        "doc_id int, text string")
    kept = {r["doc_id"] for r in
            dedup.cross_corpus_dedup(new, ref).collect()}
    assert kept == {11}


@pytest.mark.parametrize("num_bands,planes_per_band", [(8, 5), (16, 8)])
def test_embedding_lsh_recall_planted_near_dups(spark, num_bands,
                                                planes_per_band):
    """Recall gate for banded hyperplane LSH (mirrors the MinHash gate
    above): planted near-dup embedding pairs (cos >= ~0.98) must be
    recovered. A plane separates a pair with prob theta/pi ~= 0.06 at
    cos 0.98, so a pair matches a band of r planes with prob
    (1-0.06)^r and ANY of b bands with prob > 0.99 at both settings —
    the gate pins the implementation (banding, bucketing, verification),
    not luck. Deterministic: md5-derived planes + seeded data."""
    import numpy as np
    rng = np.random.default_rng(17)
    dim = 64
    rows, planted = [], []
    for d in range(80):
        base = rng.normal(size=dim)
        base /= np.linalg.norm(base)
        noise = rng.normal(size=dim) * 0.02
        rows.append((2 * d, [float(x) for x in base]))
        rows.append((2 * d + 1, [float(x) for x in base + noise]))
        planted.append((2 * d, 2 * d + 1))
    for d in range(160, 260):   # unrelated distractors
        v = rng.normal(size=dim)
        rows.append((d, [float(x) for x in v / np.linalg.norm(v)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r["id_a"], r["id_b"]) for r in dedup.embedding_near_dup_pairs(
        emb, cosine_threshold=0.95, num_bands=num_bands,
        planes_per_band=planes_per_band, dim=dim).collect()}
    recall = sum(p in got for p in planted) / len(planted)
    assert recall >= 0.95, f"planted embedding near-dup recall {recall}"


def test_gram_dup_rate_estimate_counts_planted_duplicates(spark):
    # Identical docs -> every sampled gram occurs twice -> rate 0.5;
    # disjoint docs -> rate 0.0. Sampling by gram value keeps all
    # occurrences of a gram together, so the counts are exact.
    run = " ".join(f"t{i}" for i in range(20))
    other = " ".join(f"u{i}" for i in range(20))
    df = spark.createDataFrame([(0, run), (1, run)],
                               "doc_id long, text string")
    row = dedup.gram_dup_rate_estimate(df, n=8, sample_mod=1).collect()[0]
    assert row["dup_occurrences"] == row["distinct_grams"]
    assert row["dup_rate"] == pytest.approx(0.5)
    df2 = spark.createDataFrame([(0, run), (1, other)],
                                "doc_id long, text string")
    row2 = dedup.gram_dup_rate_estimate(df2, n=8,
                                        sample_mod=1).collect()[0]
    assert row2["dup_occurrences"] == 0 and row2["dup_rate"] == 0.0


def test_gram_dup_rate_estimate_empty_sample(spark):
    df = spark.createDataFrame([], "doc_id long, text string")
    row = dedup.gram_dup_rate_estimate(df).collect()[0]
    assert (row["sampled_grams"], row["dup_rate"]) == (0, 0.0)


def test_gram_dup_rate_sample_is_unbiased_subset(spark):
    # The mod-4 sample's per-gram counts must equal the full count for
    # every sampled gram (value-level sampling, not row-level).
    texts = [" ".join(f"w{(i + j) % 30}" for j in range(25))
             for i in range(12)]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    full = dedup.gram_dup_rate_estimate(df, n=8, sample_mod=1).collect()[0]
    part = dedup.gram_dup_rate_estimate(df, n=8, sample_mod=4).collect()[0]
    assert 0 < part["sampled_grams"] < full["sampled_grams"]


def test_kmv_distinct_estimate_accuracy(spark):
    from pipelinedp_spark.functions.sampling import kmv_distinct_estimate
    # 5000 distinct values, k=256: relative error concentrates around
    # 1/sqrt(k) ~ 6%; allow 4 sigma. Duplicates must not bias it.
    df = spark.range(5000).select(F.col("id").cast("string").alias("v"))
    dup = df.unionAll(df.limit(2000))  # re-add duplicates
    row = kmv_distinct_estimate(dup, "v", k=256).collect()[0]
    assert row["k_used"] == 256
    assert abs(row["estimate"] - 5000) / 5000 < 0.25
    # deterministic: identical on re-run
    again = kmv_distinct_estimate(dup, "v", k=256).collect()[0]
    assert again["estimate"] == row["estimate"]


def test_kmv_small_domain_is_exact(spark):
    from pipelinedp_spark.functions.sampling import kmv_distinct_estimate
    df = spark.createDataFrame([(str(i % 7),) for i in range(100)],
                               "v string")
    row = kmv_distinct_estimate(df, "v", k=64).collect()[0]
    assert (row["k_used"], row["estimate"]) == (7, 7.0)


def test_weighted_sample_topk_prefers_heavy_and_is_deterministic(spark):
    from pipelinedp_spark.functions.sampling import weighted_sample_topk
    rows = [(i, 100.0) for i in range(200)] + \
           [(i, 1.0) for i in range(200, 400)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = [r["doc_id"] for r in
           weighted_sample_topk(df, "w", 100, "doc_id").collect()]
    heavy = sum(1 for d in got if d < 200)
    assert heavy > 80                       # 100x weight dominates
    again = [r["doc_id"] for r in
             weighted_sample_topk(df, "w", 100, "doc_id").collect()]
    assert sorted(got) == sorted(again)
    # zero/negative weights never sampled
    df2 = spark.createDataFrame([(1, 0.0), (2, -3.0), (3, 5.0)],
                                "doc_id long, w double")
    assert [r["doc_id"] for r in
            weighted_sample_topk(df2, "w", 10, "doc_id").collect()] == [3]


# ---------------------------------------------------------------------------
# Corpus-wide line dedup (boilerplate removal)
# ---------------------------------------------------------------------------

def test_line_dedup_removes_cross_doc_boilerplate(spark):
    df = spark.createDataFrame(
        [(0, "COOKIE NOTICE\nalpha beta\nfooter text"),
         (1, "COOKIE NOTICE\ngamma delta\nfooter text"),
         (2, "unique one\nunique two")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.line_dedup(df, min_docs=2).collect()}
    assert out[0]["clean_text"] == "alpha beta"
    assert out[1]["clean_text"] == "gamma delta"
    assert out[2]["clean_text"] == "unique one\nunique two"
    assert out[0]["n_lines"] == 3 and out[0]["n_removed"] == 2
    assert out[2]["n_removed"] == 0


def test_line_dedup_grouped_blank_and_all_removed(spark):
    # Same line in different groups is NOT boilerplate; blank lines are
    # never removed; a doc losing every line comes back as ''.
    df = spark.createDataFrame(
        [(0, "s1", "promo\n\nbody a"), (1, "s1", "promo"),
         (2, "s2", "promo\nbody b"), (3, "s1", "promo")],
        "doc_id long, source string, text string")
    out = {r["doc_id"]: r for r in
           dedup.line_dedup(df, min_docs=2, group_col="source").collect()}
    assert out[0]["clean_text"] == "\nbody a"      # blank line kept
    assert out[1]["clean_text"] == ""              # all-boilerplate doc
    assert out[1]["n_lines"] == 1 and out[1]["n_removed"] == 1
    assert out[2]["clean_text"] == "promo\nbody b"  # s2: only 1 doc has it
    assert out[3]["clean_text"] == ""


def test_line_dedup_min_docs_threshold_and_repeat_within_doc(spark):
    # A line repeated inside ONE doc counts once toward min_docs (it is
    # distinct-doc counting), and every occurrence is removed once the
    # threshold is crossed corpus-wide.
    df = spark.createDataFrame(
        [(0, "x\nx\nkeep"), (1, "y")], "doc_id long, text string")
    out = {r["doc_id"]: r["clean_text"] for r in
           dedup.line_dedup(df, min_docs=2).collect()}
    assert out[0] == "x\nx\nkeep"                  # 1 distinct doc < 2
    df2 = spark.createDataFrame(
        [(0, "x\nx\nkeep"), (1, "x")], "doc_id long, text string")
    out2 = {r["doc_id"]: r for r in
            dedup.line_dedup(df2, min_docs=2).collect()}
    assert out2[0]["clean_text"] == "keep"
    assert out2[0]["n_removed"] == 2               # both occurrences
    assert out2[1]["clean_text"] == ""


# ---------------------------------------------------------------------------
# URL canonicalization / domain extraction
# ---------------------------------------------------------------------------

def test_canonicalize_url_rules(spark):
    from pipelinedp_spark.functions import urls as U
    cases = [
        # lowercase scheme+host, strip userinfo/default port/fragment
        ("HTTPS://User:pw@WWW.Ex.COM:443/A/b#frag",
         "https://www.ex.com/A/b"),
        # non-default port kept; params sorted; tracking dropped
        ("http://ex.com:8080/p?utm_source=f&b=2&a=1",
         "http://ex.com:8080/p?a=1&b=2"),
        ("http://ex.com:80/p?gclid=x", "http://ex.com/p"),
        # empty path -> '/', all-params-stripped -> no '?'
        ("https://ex.com?utm_campaign=x", "https://ex.com/"),
        ("not a url", None),
        ("", None),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)],
                               "i long, url string")
    got = {r["i"]: r["c"] for r in df.select(
        "i", U.canonicalize_url(F.col("url")).alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i], got[i])


def test_registered_domain_and_counts(spark):
    from pipelinedp_spark.functions import urls as U
    cases = [("https://a.b.news.co.uk/x", "news.co.uk"),
             ("https://m.shop.com/y", "shop.com"),
             ("https://shop.com/z", "shop.com"),
             ("https://localhost/w", "localhost")]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)],
                               "i long, url string")
    got = df.select("i", U.registered_domain(
        U.url_host(F.col("url"))).alias("d")).collect()
    for r in got:
        assert r["d"] == cases[r["i"]][1]
    counted = {(r["i"], r["domain"]): r["n_in_domain"]
               for r in U.with_domain_counts(df).collect()}
    assert counted[(1, "shop.com")] == 2 and counted[(2, "shop.com")] == 2
    assert counted[(0, "news.co.uk")] == 1


def test_keep_best_representative_argmax_and_ties(spark):
    from pipelinedp_spark.operators import graph
    docs = spark.createDataFrame(
        [(0, 10.0), (1, 30.0), (2, 30.0), (3, 5.0)],
        "doc_id long, quality double")
    pairs = spark.createDataFrame([(0, 1), (1, 2)], "id_a long, id_b long")
    clusters = graph.near_dup_clusters(docs, pairs)
    out = {r["doc_id"]: (r["cluster_id"], r["is_kept"]) for r in
           graph.keep_best_representative(docs, clusters,
                                          "quality").collect()}
    # cluster {0,1,2}: quality argmax ties at 1,2 -> smallest id 1 kept
    assert out[0] == (0, False)
    assert out[1] == (0, True)
    assert out[2] == (0, False)
    assert out[3] == (3, True)      # singleton keeps itself


def test_paragraph_perplexity_filter_drops_rare_paragraphs(spark):
    from pipelinedp_spark.operators import quality
    common = "alpha beta gamma"
    df = spark.createDataFrame(
        [(0, f"{common}\nzzq wwx yyk\n{common}"),
         (1, f"{common}\n{common}"),
         (2, common)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           quality.paragraph_perplexity_filter(df, max_ppl=10.0).collect()}
    # the rare-token paragraph is the only one above threshold
    assert out[0]["clean_text"] == f"{common}\n{common}"
    assert out[0]["n_paragraphs"] == 3 and out[0]["n_dropped"] == 1
    assert out[1]["n_dropped"] == 0
    assert out[2]["clean_text"] == common
    # all-dropped doc comes back as ''
    df2 = spark.createDataFrame(
        [(0, "qqa qqb"), (1, "c c c c c c c c c c c c")],
        "doc_id long, text string")
    out2 = {r["doc_id"]: r["clean_text"] for r in
            quality.paragraph_perplexity_filter(df2,
                                                max_ppl=3.0).collect()}
    assert out2[0] == "" and out2[1] == "c c c c c c c c c c c c"


def test_select_to_token_budget_greedy_cut(spark):
    from pipelinedp_spark.operators.mixing import select_to_token_budget
    df = spark.createDataFrame(
        [(0, 100, 0), (1, 50, 1), (2, 30, 2), (3, 30, 3)],
        "doc_id long, n long, ord long")
    got = {r["doc_id"]: r["cum_tokens"] for r in
           select_to_token_budget(df, 180, "n", "ord").collect()}
    assert got == {0: 100, 1: 150, 2: 180}     # doc 3 would hit 210
    assert select_to_token_budget(df, 99, "n", "ord").count() == 0


def test_corpus_diff_statuses(spark):
    old = spark.createDataFrame(
        [(0, "same"), (1, "before"), (2, "gone"),
         (3, "Same   Spacing")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(0, "same"), (1, "after"), (4, "brand new"),
         (3, "same spacing")],          # normalization-equal -> unchanged
        "doc_id long, text string")
    got = {r["doc_id"]: r["status"] for r in
           dedup.corpus_diff(old, new).collect()}
    assert got == {0: "unchanged", 1: "changed", 2: "removed",
                   3: "unchanged", 4: "added"}


def test_line_dedup_regex_metachar_delimiter(spark):
    # delimiter is a LITERAL, not a regex: '||' and '.' must not be
    # treated as alternation / any-char
    df = spark.createDataFrame(
        [(0, "promo||alpha.x"), (1, "promo||beta")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.line_dedup(df, min_docs=2, delimiter="||").collect()}
    assert out[0]["clean_text"] == "alpha.x"
    assert out[1]["clean_text"] == "beta"
    df2 = spark.createDataFrame([(0, "a.b"), (1, "a.c")],
                                "doc_id long, text string")
    out2 = {r["doc_id"]: r["clean_text"] for r in
            dedup.line_dedup(df2, min_docs=2, delimiter=".").collect()}
    assert out2 == {0: "b", 1: "c"}


def test_canonicalize_url_idempotent_and_line_dedup_identity(spark):
    from pipelinedp_spark.functions import urls as U
    # idempotence: canon(canon(u)) == canon(u) over a messy URL grid
    rows = []
    i = 0
    for scheme in ("http", "HTTPS"):
        for host in ("Ex.COM", "a.b.co.uk:443", "x.y:8080"):
            for q in ("", "?b=2&a=1", "?utm_source=z&k=v#f"):
                rows.append((i, f"{scheme}://{host}/P/q{q}")); i += 1
    df = spark.createDataFrame(rows, "i long, url string")
    two = df.select(
        U.canonicalize_url(F.col("url")).alias("c1")).select(
        F.col("c1"), U.canonicalize_url(F.col("c1")).alias("c2"))
    assert all(r["c1"] == r["c2"] for r in two.collect())
    # line_dedup identity: a non-binding threshold must reconstruct
    # every text byte-for-byte, including blank lines and odd spacing
    texts = ["a\n\nb", "  lead\ntrail  ", "one", "\n", "x\nx\nx"]
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.line_dedup(docs, min_docs=10**6).collect()}
    for d, t in enumerate(texts):
        assert out[d]["clean_text"] == t and out[d]["n_removed"] == 0


def test_contamination_report_includes_zero_hit_docs(spark):
    from pipelinedp_spark.operators.decontam import contamination_report
    evald = spark.createDataFrame([(100, "a b c d e")],
                                  "doc_id long, text string")
    train = spark.createDataFrame(
        [(0, "a b c d e f"),      # grams: abc de? n=3 -> 4 grams, hits
         (1, "x y z w")],         # zero hits
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           contamination_report(train, evald, n=3).collect()}
    assert got[0]["n_grams"] == 4 and got[0]["n_hits"] == 3
    assert got[0]["contamination_frac"] == pytest.approx(0.75)
    assert got[1]["n_hits"] == 0 and got[1]["contamination_frac"] == 0.0


def test_line_dedup_null_group_still_dedups(spark):
    # NULL groups form their own group (a plain equi-join on a NULL key
    # would silently never dedup them)
    df = spark.createDataFrame(
        [(0, None, "promo\na"), (1, None, "promo\nb"),
         (2, "s1", "promo\nc")],
        "doc_id long, source string, text string")
    out = {r["doc_id"]: r["clean_text"] for r in
           dedup.line_dedup(df, min_docs=2, group_col="source").collect()}
    assert out[0] == "a" and out[1] == "b"   # null group deduped
    assert out[2] == "promo\nc"              # s1 has only one copy


def test_normalize_text_rules(spark):
    from pipelinedp_spark.functions.text import normalize_text
    cases = [
        ("\t  a\x07b \r\n  c\rd  ", "ab\nc\nd"),
        ("\n\n x \n\n", "x"),
        ("AB", "ab"),                 # lowercase case below
        ("", ""),
    ]
    df = spark.createDataFrame([(i, t) for i, (t, _) in enumerate(cases)],
                               "i long, t string")
    got = {r["i"]: r["c"] for r in df.select(
        "i", normalize_text(F.col("t")).alias("c")).collect()}
    assert got[0] == cases[0][1] and got[1] == cases[1][1]
    assert got[3] == ""
    low = df.select("i", normalize_text(F.col("t"), lowercase=True)
                    .alias("c")).collect()
    assert {r["i"]: r["c"] for r in low}[2] == "ab"
    # newlines stripped too when structure is unwanted
    flat = df.select("i", normalize_text(
        F.col("t"), keep_newlines=False).alias("c")).collect()
    assert {r["i"]: r["c"] for r in flat}[0] == "ab c d"
    assert {r["i"]: r["c"] for r in flat}[1] == "x"


# ---------------------------------------------------------------------------
# Unicode NFKC normalization (the pass normalize_text defers)
# ---------------------------------------------------------------------------

def test_unicode_normalize_forms(spark):
    from pipelinedp_spark.functions.text import unicode_normalize
    df = spark.createDataFrame(
        [(0, "ﬁle"),          # LATIN SMALL LIGATURE FI
         (1, "ＡＢＣ"),  # fullwidth ABC
         (2, "éclair"),      # decomposed accent
         (3, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r["n"] for r in df.select(
        "doc_id", unicode_normalize(F.col("text"), "NFKC").alias("n"))
        .collect()}
    assert out[0] == "file"
    assert out[1] == "ABC"
    assert out[2] == "éclair"      # composed é
    assert out[3] is None
    # NFC keeps compatibility chars but composes marks.
    nfc = {r["doc_id"]: r["n"] for r in df.select(
        "doc_id", unicode_normalize(F.col("text"), "NFC").alias("n"))
        .collect()}
    assert nfc[0] == "ﬁle"
    assert nfc[2] == "éclair"
    import pytest as _pytest
    with _pytest.raises(ValueError, match="NFC/NFD/NFKC/NFKD"):
        unicode_normalize(F.col("text"), "NFX")


def test_nfkc_converges_fingerprints_for_confusables(spark):
    # Planted confusables: fullwidth/ligature variants of the same text
    # fingerprint apart raw, together after the NFKC stage.
    from pipelinedp_spark.corpus import CorpusPipeline
    df = spark.createDataFrame(
        [(0, "the ﬁle of ｗｏｒｋ"),
         (1, "the file of work")],
        "doc_id long, text string")
    raw = CorpusPipeline(df).exact_dedup().df
    assert raw.count() == 2               # distinct fingerprints raw
    norm = CorpusPipeline(df).normalize(nfkc=True).exact_dedup().df
    rows = norm.collect()
    assert len(rows) == 1                 # converged post-NFKC
    assert rows[0]["doc_id"] == 0         # keep-lowest-id survivor


# ---------------------------------------------------------------------------
# line_dedup mega-document guard
# ---------------------------------------------------------------------------

def test_line_dedup_oversize_doc_raises(spark):
    df = spark.createDataFrame(
        [(0, "a\nb\nc\nd\ne"), (1, "x\ny")], "doc_id long, text string")
    with pytest.raises(Exception, match="max_lines_per_doc"):
        dedup.line_dedup(df, min_docs=2, max_lines_per_doc=3).collect()


def test_line_dedup_oversize_doc_truncates(spark):
    # Truncation keeps the first max_lines_per_doc lines; dedup then
    # runs on the truncated view.
    df = spark.createDataFrame(
        [(0, "dup\na\nb\nc\nd"), (1, "dup\nz")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.line_dedup(
        df, min_docs=2, max_lines_per_doc=3,
        on_oversize="truncate").collect()}
    assert out[0]["clean_text"] == "a\nb"
    assert out[0]["n_lines"] == 3          # truncated before counting
    assert out[1]["clean_text"] == "z"
    with pytest.raises(ValueError, match="on_oversize"):
        dedup.line_dedup(df, on_oversize="drop")


@pytest.mark.parametrize("op, cap", [("line_dedup", "max_lines_per_doc"),
                                     ("sentence_dedup",
                                      "max_sentences_per_doc")])
def test_boilerplate_guard_passes_null_text_names_oversize(spark, op, cap):
    # The default guard fires only on a known oversize: a NULL text has
    # no units and comes back as an empty document.
    fn = getattr(dedup, op)
    df = spark.createDataFrame([(0, "a.\nb."), (1, None)],
                               "doc_id long, text string")
    out = {r["doc_id"]: tuple(r)[1:] for r in fn(df).collect()}
    assert out[1] == ("", 0, 0)
    big = spark.createDataFrame([(7, "a.\nb.\nc.")],
                                "doc_id long, text string")
    with pytest.raises(Exception, match=f"document 7 has 3 .*{cap}=2"):
        fn(big, **{cap: 2}).collect()


def test_line_signals_matches_individual_builders_one_split(spark):
    df = spark.createDataFrame(
        [(1, "a\na\n- b\nc..."), (2, ""), (3, "x\n…\n* y\nx")],
        "id long, text string")
    combined = {r["id"]: r["s"] for r in df.select(
        "id", T.line_signals(F.col("text")).alias("s")).collect()}
    single = {r["id"]: r for r in df.select(
        "id",
        T.duplicate_line_fraction(F.col("text")).alias("a"),
        T.duplicate_line_char_fraction(F.col("text")).alias("b"),
        T.bullet_line_fraction(F.col("text")).alias("c"),
        T.ellipsis_line_fraction(F.col("text")).alias("d")).collect()}
    for i in combined:
        s, r = combined[i], single[i]
        assert (s["dup_line_frac"], s["dup_line_char_frac"],
                s["bullet_line_frac"], s["ellipsis_line_frac"]) == \
            (r["a"], r["b"], r["c"], r["d"])
    # the whole point: exactly one split in the expression tree (the
    # physical-plan string elides long expressions, so count on the
    # untruncated column expression instead)
    expr = str(T.line_signals(F.col("text"))._jc)
    assert expr.count("split(") == 1
    # vs 4+ for the individual builders in one projection
    four = "".join(str(c._jc) for c in (
        T.duplicate_line_fraction(F.col("text")),
        T.duplicate_line_char_fraction(F.col("text")),
        T.bullet_line_fraction(F.col("text")),
        T.ellipsis_line_fraction(F.col("text"))))
    assert four.count("split(") >= 4


def test_code_detection_separates_code_from_prose(spark):
    code = ("def main(argv):\n    total = 0\n    for i in range(10):\n"
            "        total += i * i\n    return total")
    prose = ("The morning light fell across the quiet valley and the "
             "river moved slowly toward the distant sea.")
    df = spark.createDataFrame(
        [(0, code), (1, prose)], "doc_id long, text string")
    out = {r["doc_id"]: r for r in df.select(
        "doc_id",
        T.code_score(F.col("text")).alias("s"),
        T.is_code(F.col("text")).alias("c")).collect()}
    assert out[0]["c"] and out[0]["s"] >= 0.3
    assert not out[1]["c"] and out[1]["s"] < 0.1


# ---------------------------------------------------------------------------
# Sentence-level corpus dedup
# ---------------------------------------------------------------------------

def test_sentence_dedup_removes_cross_doc_sentences(spark):
    df = spark.createDataFrame(
        [(0, "Visit our site. alpha beta gamma. More at example."),
         (1, "Visit our site. delta epsilon zeta. More at example."),
         (2, "unique sentence one. unique two.")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.sentence_dedup(df, min_docs=2).collect()}
    assert out[0]["clean_text"].strip() == "alpha beta gamma."
    assert out[1]["clean_text"].strip() == "delta epsilon zeta."
    assert out[2]["clean_text"] == "unique sentence one. unique two."
    assert out[0]["n_lines"] == 3 and out[0]["n_removed"] == 2
    assert out[2]["n_removed"] == 0


def test_sentence_dedup_min_chars_exempts_short(spark):
    df = spark.createDataFrame(
        [(0, "Yes. alpha beta gamma."), (1, "Yes. delta epsilon.")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.sentence_dedup(df, min_docs=2, min_chars=5).collect()}
    assert out[0]["n_removed"] == 0        # 'Yes.' exempt (4 < 5)
    out2 = {r["doc_id"]: r for r in
            dedup.sentence_dedup(df, min_docs=2).collect()}
    assert out2[0]["n_removed"] == 1


def test_sentence_dedup_oversize_guard(spark):
    df = spark.createDataFrame(
        [(0, "a. b. c. d."), (1, "x.")], "doc_id long, text string")
    with pytest.raises(Exception, match="max_sentences_per_doc"):
        dedup.sentence_dedup(df, max_sentences_per_doc=2).collect()
    out = {r["doc_id"]: r for r in dedup.sentence_dedup(
        df, max_sentences_per_doc=2, on_oversize="truncate").collect()}
    assert out[0]["n_lines"] == 2


# ---------------------------------------------------------------------------
# functions.pii (full audit/scrub surface)
# ---------------------------------------------------------------------------

def test_pii_report_counts_redaction_and_luhn(spark):
    from pipelinedp_spark.functions.pii import pii_report
    rows = [
        (0, "mail jane.doe+x@example.co.uk or call 555-123-4567"),
        (1, "card 4532015112830366 ok; fake 1234567890123456 here"),
        (2, "ssn 123-45-6789 ip 192.168.10.250 done"),
        (3, "nothing sensitive at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in pii_report(df).collect()}
    assert out[0]["n_email"] == 1 and out[0]["n_phone"] == 1
    assert "[EMAIL]" in out[0]["clean_text"]
    assert "[PHONE]" in out[0]["clean_text"]
    # both digit runs redacted, only the Luhn-valid one counted
    assert out[1]["n_card"] == 2 and out[1]["n_card_luhn"] == 1
    assert out[1]["clean_text"].count("[CARD]") == 2
    assert out[2]["n_ssn"] == 1 and out[2]["n_ipv4"] == 1
    assert "[SSN]" in out[2]["clean_text"]
    assert not out[3]["any_pii"]
    assert out[3]["clean_text"] == "nothing sensitive at all"


def test_pii_redact_type_subset_and_validation(spark):
    import pytest
    from pyspark.sql import functions as F
    from pipelinedp_spark.functions.pii import redact_pii
    df = spark.createDataFrame(
        [("a@b.io ssn 123-45-6789",)], "text string")
    only_email = df.select(
        redact_pii(F.col("text"), ["email"]).alias("t")).first()["t"]
    assert only_email == "[EMAIL] ssn 123-45-6789"
    with pytest.raises(ValueError, match="unknown PII types"):
        redact_pii(F.col("text"), ["passport"])


def test_pii_luhn_expr_known_vectors(spark):
    from pyspark.sql import functions as F
    from pipelinedp_spark.functions.pii import luhn_valid_expr
    vec = [("4532015112830366", True),   # valid Visa test number
           ("79927398713", True),        # classic Luhn example
           ("79927398710", False),
           ("1234567890123456", False)]
    df = spark.createDataFrame([(d,) for d, _ in vec], "d string")
    got = [r["ok"] for r in
           df.select(luhn_valid_expr(F.col("d")).alias("ok")).collect()]
    assert got == [want for _, want in vec]


def test_fix_mojibake_and_count(spark):
    from pyspark.sql import functions as F
    from pipelinedp_spark.functions.text import (MOJIBAKE_FIXES,
                                                 fix_mojibake,
                                                 mojibake_count)
    quote = MOJIBAKE_FIXES[0][0]          # smart-quote artifact
    eac = MOJIBAKE_FIXES[6][0]            # e-acute artifact
    rows = [
        (0, f"caf{eac} latte and {quote}great{quote} vibes"),
        (1, "perfectly clean ascii text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in df.select(
        "doc_id",
        fix_mojibake(F.col("text")).alias("fixed"),
        mojibake_count(F.col("text")).alias("n")).collect()}
    assert out[0]["fixed"] == ("caf\u00e9 latte and "
                               "\u2019great\u2019 vibes")
    assert out[0]["n"] == 3
    assert out[1]["fixed"] == "perfectly clean ascii text"
    assert out[1]["n"] == 0


# The minhash store family's `profile=` path (one signature pass per
# lifecycle query / micro-batch) must be bit-identical to the from-text
# path — including when the profile is a SUPERSET of the rows being
# written/probed (the capped-bucket query hands one whole-corpus
# profile to two build slices plus the batch).

def _table_rows(spark, name, cols):
    return sorted(map(tuple, spark.table(name).select(*cols).collect()))



def _mh_docs(spark, n=30):
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
             "eta", "theta", "iota", "kappa", "lam", "mu"]
    rows = []
    for d in range(n):
        # odd (batch) docs with d % 4 == 1 are near-dups of even doc
        # d-1 (build slice %4==0): same text, one-word tail change.
        # Every base text carries a unique token so no two source docs
        # collide into an over-cap bucket.
        src = d - 1 if (d % 4 == 1) else d
        base = (" ".join(words[(src * 7 + j * 3) % 12]
                         for j in range(16)) + f" u{src}")
        if d % 4 == 1:
            base = base + " omega"
        rows.append((d, base))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_store_profile_equals_from_text(spark):
    docs = _mh_docs(spark)
    prof = dedup.minhash_profile(docs, k=4).localCheckpoint()
    build1 = docs.filter(F.col("doc_id") % 4 == 0)
    build2 = docs.filter(F.col("doc_id") % 4 == 2)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    try:
        dedup.build_minhash_store(build1, "r13mp_a", k=4,
                                  max_bucket_size=2, num_buckets=2)
        dedup.build_minhash_store(build2, "r13mp_a", k=4,
                                  max_bucket_size=2, mode="append")
        dedup.build_minhash_store(build1, "r13mp_b", k=4,
                                  max_bucket_size=2, num_buckets=2,
                                  profile=prof)
        dedup.build_minhash_store(build2, "r13mp_b", k=4,
                                  max_bucket_size=2, mode="append",
                                  profile=prof)
        for suffix, cols in (("_bands", ["id", "bh"]),
                             ("_shingles", ["id", "shingles"]),
                             ("_meta", ["k", "num_hashes",
                                        "rows_per_band",
                                        "max_bucket_size"])):
            assert (_table_rows(spark, f"r13mp_a{suffix}", cols)
                    == _table_rows(spark, f"r13mp_b{suffix}", cols)), suffix

        out_a = sorted(map(tuple,
                           dedup.incremental_near_dup(
                               batch, "r13mp_a",
                               jaccard_threshold=0.6).collect()))
        out_b = sorted(map(tuple,
                           dedup.incremental_near_dup(
                               batch, "r13mp_b", jaccard_threshold=0.6,
                               profile=prof).collect()))
        assert out_a == out_b
        # the store must actually flag something AND pass something
        # through, or the equality above is vacuous
        assert 0 < len(out_a) < batch.count()
    finally:
        for s in ("r13mp_a", "r13mp_b"):
            for t in ("_bands", "_shingles", "_meta", "_tombstones",
                      "_ingest_log"):
                spark.sql(f"DROP TABLE IF EXISTS {s}{t}")
