"""Distributed k-means (`operators.clustering`): exact determinism
across partition layouts (the oracle-checkability contract), Lloyd
semantics (sizes, carry-on-empty, assignment/fit agreement), and the
codegen plan shape of the assignment path."""

import pytest
from pyspark.sql import functions as F

from pipelinedp_spark import plans as P
from pipelinedp_spark.operators import clustering as C

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_fit_deterministic_across_partition_layouts(spark):
    """Identical centroids and sizes from 1-partition and 13-partition
    inputs: integer sums are order-independent, so the iterative fit
    cannot depend on the physical layout."""
    emb = _emb(spark)
    a = C.kmeans_fit(emb.coalesce(1), k=4, iters=2)
    b = C.kmeans_fit(emb.repartition(13), k=4, iters=2)
    assert a == b


def test_sizes_partition_the_corpus(spark):
    emb = _emb(spark)
    cents, sizes = C.kmeans_fit(emb, k=4, iters=2)
    assert sum(sizes) == emb.count()
    assert all(s >= 0 for s in sizes)
    assert len(cents) == 4 and all(len(c) == 64 for c in cents)


def test_assign_matches_final_fit_assignment(spark):
    """kmeans_assign against iters-1 centroids reproduces the sizes the
    fit reported for its final iteration (the fit's last assignment is
    made against the second-to-last centroids)."""
    emb = _emb(spark)
    cents1, _ = C.kmeans_fit(emb, k=4, iters=1)
    cents2, sizes2 = C.kmeans_fit(emb, k=4, iters=2)
    counts = dict(C.kmeans_assign(emb, cents1)
                  .groupBy("cluster").count().collect())
    assert [counts.get(c, 0) for c in range(4)] == sizes2


def test_empty_cluster_carries_centroid(spark):
    """A centroid that captures no rows keeps its previous value (the
    standard Lloyd carry) and reports size 0. Seeds are ids 0,1,2;
    ids 0 and 1 are IDENTICAL vectors, so every row that scores them
    ties and breaks to cluster 0 — cluster 1 is orphaned forever."""
    rows = []
    for i in range(6):
        base = [10.0] * 4 if i < 2 else [-10.0] * 4
        rows.append((i, [b + (0.001 * i if i >= 2 else 0.0)
                         for b in base]))
    vals = ", ".join(
        f"({i}, array({', '.join(str(x) for x in v)}))" for i, v in rows)
    df = spark.sql(
        f"SELECT col1 AS vec_id, CAST(col2 AS ARRAY<FLOAT>) AS embedding "
        f"FROM VALUES {vals}")
    cents, sizes = C.kmeans_fit(df, k=3, iters=2)
    assert sizes == [2, 0, 4]
    orphan = 1
    init = sorted(df.collect(), key=lambda r: r["vec_id"])[orphan]
    q = [float(round(x * (1 << 20) + 0.0)) for x in init["embedding"]]
    assert [round(c) for c in cents[orphan]] == [round(x) for x in q]


def test_assignment_is_codegen_no_python(spark):
    """The assignment path must be pure column expressions — no
    Arrow/Python eval nodes, no joins, no shuffles."""
    emb = _emb(spark)
    cents, _ = C.kmeans_fit(emb, k=4, iters=1)
    out = C.kmeans_assign(emb, cents)
    plan = P.explain_str(out)
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_fit_update_has_partial_aggregation(spark):
    """The (cluster, pos) centroid-update agg must map-side combine —
    checked on the same plan the fit executes."""
    emb = _emb(spark)
    base = emb.select(
        F.col("vec_id").alias("_id"),
        F.transform(F.col("embedding").cast("array<double>"),
                    lambda x: F.floor(x * F.lit(float(1 << 20)) +
                                      F.lit(0.5)).cast("long"))
        .alias("_vq"))
    cents = [[0.0] * 64, [1.0] * 64]
    vd = F.transform(F.col("_vq"), lambda x: x.cast("double"))
    agg = (base.select(C.kmeans_assign_expr(vd, cents).alias("_c"), "_vq")
           .select("_c", F.posexplode("_vq").alias("_p", "_v"))
           .groupBy("_c", "_p").agg(F.sum("_v"), F.count(F.lit(1))))
    assert P.has_partial_aggregation(agg)


def test_balanced_sample_caps_and_plan(spark):
    """Every cluster is capped at per_cluster, ranks are 1..m dense,
    and the cap compiles to WindowGroupLimit (partial map-side limit —
    a hot cluster never funnels through one task)."""
    emb = _emb(spark)
    out = C.cluster_balanced_sample(emb, k=4, iters=1, per_cluster=7)
    plan = P.explain_str(out)
    assert "WindowGroupLimit" in plan
    rows = out.collect()
    per = {}
    for r in rows:
        per.setdefault(r["cluster"], []).append(r["rank"])
    for c, ranks in per.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 7


def test_k_larger_than_corpus_raises(spark):
    df = _emb(spark).limit(3)
    with pytest.raises(ValueError, match="only 3 rows"):
        C.kmeans_fit(df, k=5, iters=1)


def test_gram_sums_match_numpy_and_layout_invariant(spark):
    """gram_sums equals a straight numpy X^T X on the quantized matrix,
    and is bit-identical between 1-partition and 11-partition inputs
    (int64 partials are order-independent)."""
    import numpy as np
    from pipelinedp_spark.functions import embeddings as E
    emb = _emb(spark)
    pdf = emb.select("embedding").toPandas()
    x = np.floor(np.stack(pdf["embedding"].to_numpy())
                 .astype("float64") * 1024.0 + 0.5).astype(np.int64)
    g = x.T @ x
    got = {(r["i"], r["j"]): r["sxy"]
           for r in E.gram_sums(emb.repartition(11), "embedding",
                                1 << 10).collect()}
    one = {(r["i"], r["j"]): r["sxy"]
           for r in E.gram_sums(emb.coalesce(1), "embedding",
                                1 << 10).collect()}
    assert got == one
    assert got[(-1, -1)] == len(x)
    for i in range(0, 64, 17):
        for j in range(i, 64, 13):
            assert got[(i, j)] == g[i, j]
        assert got[(-1, i)] == x[:, i].sum()


def test_pca_orders_variance_and_is_codegen(spark):
    """Eigenvalues come out descending, projections onto distinct
    components are empirically uncorrelated (|corr| < 0.05 on real
    data), and the projection path is codegen — no Python, no joins,
    no shuffles."""
    import numpy as np
    from pipelinedp_spark.functions import embeddings as E
    emb = _emb(spark)
    comps, mean_dots, eigvals = E.pca_components(emb, "embedding", k=4)
    assert eigvals == sorted(eigvals, reverse=True)
    assert all(len(c) == 64 for c in comps)
    out = emb.select(*E.pca_project_expr(F.col("embedding"), comps,
                                         mean_dots))
    plan = P.explain_str(out)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan and "Join" not in plan
    pdf = out.toPandas()
    assert np.var(pdf["pc0"]) >= np.var(pdf["pc1"]) - 1e-6
    for a in range(4):
        for b in range(a + 1, 4):
            assert abs(np.corrcoef(pdf[f"pc{a}"], pdf[f"pc{b}"])[0, 1]) \
                < 0.05


def test_int8_quantize_roundtrip_bounds(spark):
    """Codes stay in [-128, 127], every dimension's reconstruction
    error is <= scale/2 (+ one e7 tick of slack), and the whole
    quantize/dequantize path is codegen — no Python eval, no joins."""
    from pipelinedp_spark.functions import embeddings as E
    emb = _emb(spark)
    params = E.int8_quantize_params(emb, "embedding")
    assert len(params) == 64 and all(mx >= mn for mn, mx in params)
    codes = E.int8_quantize_expr(F.col("embedding"), params)
    deq = E.int8_dequantize_expr(codes, params)
    err = F.zip_with(deq, F.col("embedding").cast("array<double>"),
                     lambda a, b: F.abs(a - b))
    out = emb.select(
        F.array_min(codes).alias("cmin"), F.array_max(codes).alias("cmax"),
        F.array_max(F.zip_with(
            err,
            F.array(*[F.lit((mx - mn) / 255.0 / 2 + 1e-7)
                      for mn, mx in params]),
            lambda e, bound: (e <= bound).cast("int"))).alias("ok_any"),
        F.array_min(F.zip_with(
            err,
            F.array(*[F.lit((mx - mn) / 255.0 / 2 + 1e-7)
                      for mn, mx in params]),
            lambda e, bound: (e <= bound).cast("int"))).alias("ok_all"))
    plan = P.explain_str(out)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Join" not in plan
    agg = out.agg(F.min("cmin"), F.max("cmax"), F.min("ok_all")).collect()[0]
    assert agg[0] >= -128 and agg[1] <= 127 and agg[2] == 1


def test_length_buckets_accounting(spark):
    """Bucket totals exactly account for every doc; pad arithmetic is
    self-consistent; overflow docs land in the top bucket truncated."""
    docs = spark.sql(
        "SELECT col1 AS doc_id, col2 AS text FROM VALUES "
        "(1, 'a b c'), (2, 'a b c d e'), "
        f"(3, '{' '.join(['w'] * 40)}')")
    from pipelinedp_spark.operators.packing import length_buckets
    out = {r["bucket"]: r for r in
           length_buckets(docs, "text", boundaries=(4, 8, 16)).collect()}
    assert set(out) == {4, 8, 16}
    assert out[4]["n_docs"] == 1 and out[4]["pad_tokens"] == 1
    assert out[8]["n_docs"] == 1 and out[8]["pad_tokens"] == 3
    # 40-token doc overflows the 16 cap: kept 16, pad 0
    assert out[16]["n_docs"] == 1 and out[16]["kept_tokens"] == 16
    assert out[16]["pad_tokens"] == 0 and out[16]["total_tokens"] == 40
    assert out[8]["pad_frac"] == 0.375


def test_streaming_cluster_counts_match_batch(spark, tmp_path):
    """True streaming execution: the embeddings corpus replayed as a
    2-files-per-trigger parquet stream through
    streaming_cluster_counts (complete mode) must end with exactly the
    batch assignment counts."""
    from pipelinedp_spark.streaming.dp_streaming import (
        streaming_cluster_counts)
    emb = _emb(spark)
    cents, _ = C.kmeans_fit(emb, k=4, iters=1)
    src = str(tmp_path / "src")
    emb.repartition(6).write.parquet(src)
    stream = (spark.readStream.schema(emb.schema)
              .option("maxFilesPerTrigger", 2).parquet(src))
    out = streaming_cluster_counts(stream, cents)
    q = (out.writeStream.format("memory").queryName("clu_counts")
         .outputMode("complete")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["cluster"]: r["count"]
           for r in spark.sql("SELECT * FROM clu_counts").collect()}
    want = {r["cluster"]: r["count"]
            for r in C.kmeans_assign(emb, cents)
            .groupBy("cluster").count().collect()}
    assert got == want


def test_hard_negatives_exclude_anchor_label(spark):
    """Every mined negative has a different label from its anchor, and
    per-anchor ranks are dense from 1."""
    from pipelinedp_spark.operators import similarity as S
    emb = _emb(spark)
    q = (emb.filter(F.col("vec_id") < 4)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec"),
                 F.col("label").alias("query_label")))
    out = S.hard_negatives(emb, q, k=6)
    labels = {r["vec_id"]: r["label"]
              for r in emb.select("vec_id", "label").collect()}
    per = {}
    for r in out.collect():
        assert labels[r["vec_id"]] != labels[r["query_id"]]
        per.setdefault(r["query_id"], []).append(r["rank"])
    assert set(per) == {0, 1, 2, 3}
    for ranks in per.values():
        assert sorted(ranks) == list(range(1, 7))


def test_cluster_purity_shapes(spark):
    """Purity is in (0, 1], majority label is a real label, and sizes
    partition the corpus — checked through the registry query at
    sf0.001."""
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "entry_purity", "/root/repo/__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = mod.queries()["emb_cluster_purity"](spark, SF).collect()
    emb = _emb(spark)
    labels = {r["label"] for r in emb.select("label").distinct().collect()}
    assert sum(r["n"] for r in out) == emb.count()
    for r in out:
        assert 0.0 < r["purity"] <= 1.0
        assert r["top_label"] in labels


def test_triplets_margin_and_pairing(spark):
    """Positives share the anchor's label, negatives don't, pairing is
    rank-aligned, and margin equals pos_cos - neg_cos."""
    from pipelinedp_spark.operators import similarity as S
    emb = _emb(spark)
    q = (emb.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec"),
                 F.col("label").alias("query_label")))
    out = S.mine_triplets(emb, q, k=2).collect()
    labels = {r["vec_id"]: r["label"]
              for r in emb.select("vec_id", "label").collect()}
    assert len(out) == 6
    for r in out:
        assert labels[r["pos_id"]] == labels[r["query_id"]]
        assert labels[r["neg_id"]] != labels[r["query_id"]]
        assert r["pos_id"] != r["query_id"]


def test_mmr_diversifies_planted_redundancy(spark):
    """Three near-identical top candidates + diverse tail: plain top-3
    takes all three clones; MMR must pick one clone then diverge.
    First pick always equals the relevance argmax; picks are unique."""
    import numpy as np
    from pipelinedp_spark.operators import similarity as S
    rng = [0.0] * 8
    base = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    ortho = [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    mid = [0.7, 0.7, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    rows = [(0, base), (1, [0.999, 0.01, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
            (2, [0.998, 0.02, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
            (3, mid), (4, ortho)]
    vals = ", ".join(
        f"({i}, array({', '.join(str(x) for x in v)}))" for i, v in rows)
    df = spark.sql(
        f"SELECT col1 AS vec_id, CAST(col2 AS ARRAY<FLOAT>) AS embedding "
        f"FROM VALUES {vals}")
    q = spark.sql(
        "SELECT CAST(0 AS BIGINT) AS query_id, "
        "CAST(array(1.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0) AS ARRAY<FLOAT>) "
        "AS query_vec")
    out = sorted(S.mmr_rerank(df, q, k=3, shortlist=5, lam=0.3).collect(),
                 key=lambda r: r["mmr_rank"])
    ids = [r["vec_id"] for r in out]
    assert len(set(ids)) == 3
    assert ids[0] == 0                      # relevance argmax
    assert ids[1] == 4 and ids[2] == 3      # NOT clones 1/2: diversified
    plain = [r["vec_id"] for r in
             S.cosine_topk(df, q, k=3).orderBy("rank").collect()]
    assert plain == [0, 1, 2]               # the redundant baseline


def test_partial_sums_merge_exactly(spark):
    """Partial-sum state from two disjoint halves, merged with a
    groupBy sum, is EXACTLY the full-corpus state (integer
    associativity), and centroids_from_sums reproduces kmeans_fit's
    next iteration bit-for-bit."""
    emb = _emb(spark)
    cents0, _ = C.kmeans_fit(emb, k=4, iters=1)
    full = C.kmeans_partial_sums(emb, cents0)
    even = C.kmeans_partial_sums(emb.filter(F.col("vec_id") % 2 == 0),
                                 cents0)
    odd = C.kmeans_partial_sums(emb.filter(F.col("vec_id") % 2 == 1),
                                cents0)
    merged = (even.unionByName(odd)
              .groupBy("cluster", "pos")
              .agg(F.sum("s").alias("s"), F.sum("n").alias("n")))
    key = lambda rows: {(r["cluster"], r["pos"]): (r["s"], r["n"])
                        for r in rows}
    assert key(merged.collect()) == key(full.collect())
    next_cents, sizes = C.centroids_from_sums(full.collect(), cents0)
    cents2, sizes2 = C.kmeans_fit(emb, k=4, iters=2)
    assert next_cents == cents2 and sizes == sizes2


def test_funnel_strict_order_and_span(spark):
    """Hand-built event log: strict ordering (clicks before the first
    view never count), max_span prunes late purchases, conversions are
    users_i / users_1."""
    from pipelinedp_spark.operators.funnel import (funnel_report,
                                                   funnel_users)
    rows = [
        # u1: full funnel in order
        (1, 10, "view"), (1, 20, "click"), (1, 30, "purchase"),
        # u2: click BEFORE view -> stops at view
        (2, 50, "click"), (2, 60, "view"),
        # u3: view+click, purchase too late for span=100
        (3, 10, "view"), (3, 40, "click"), (3, 500, "purchase"),
        # u4: never views
        (4, 10, "click"), (4, 20, "purchase"),
    ]
    vals = ", ".join(f"({u}, {t}, '{e}')" for u, t, e in rows)
    ev = spark.sql(
        f"SELECT col1 AS user_id, CAST(col2 AS BIGINT) AS ts, "
        f"col3 AS event_type FROM VALUES {vals}")
    rep = {r["step_name"]: r for r in
           funnel_report(ev, ["view", "click", "purchase"]).collect()}
    assert rep["view"]["users"] == 3
    assert rep["click"]["users"] == 2          # u1, u3 (u2 clicked first)
    assert rep["purchase"]["users"] == 2       # u1, u3 (unbounded span)
    assert rep["click"]["conversion"] == round(2 / 3, 6)
    spanned = {r["step_name"]: r["users"] for r in
               funnel_report(ev, ["view", "click", "purchase"],
                             max_span=100).collect()}
    assert spanned["purchase"] == 1            # u3's purchase at 500 cut
    t3 = funnel_users(ev, ["view", "click", "purchase"])[2].collect()
    assert {(r["user_id"], r["t"]) for r in t3} == {(1, 30), (3, 500)}


def test_retention_cohorts_grid(spark):
    """Hand-built log: offset-0 retention is 1.0 for every cohort,
    later offsets count distinct users, pre-cohort activity can't
    produce negative offsets."""
    from pipelinedp_spark.operators.funnel import retention_cohorts
    rows = [(1, 5), (1, 15), (1, 25),        # cohort 0, active 0/1/2
            (2, 6), (2, 27),                 # cohort 0, active 0 and 2
            (3, 14), (3, 16)]                # cohort 1, active 1 only
    vals = ", ".join(f"({u}, {t})" for u, t in rows)
    ev = spark.sql(f"SELECT col1 AS user_id, CAST(col2 AS BIGINT) AS ts "
                   f"FROM VALUES {vals}")
    out = {(r["cohort"], r["offset"]): (r["users"], r["retention"])
           for r in retention_cohorts(ev, period=10).collect()}
    assert out[(0, 0)] == (2, 1.0)
    assert out[(0, 1)] == (1, 0.5)
    assert out[(0, 2)] == (2, 1.0)
    assert out[(1, 0)] == (1, 1.0)
    assert all(off >= 0 for _, off in out)


def test_json_fields_and_profile(spark):
    """from_json single-parse extraction and the key-presence profile;
    missing keys surface as NULLs, profile counts only rows carrying
    the key; no Python eval nodes in either plan."""
    from pipelinedp_spark.functions import semistructured as J
    df = spark.sql(
        "SELECT col1 AS id, col2 AS props FROM VALUES "
        "(1, '{\"k\": 5, \"tag\": \"a\"}'), "
        "(2, '{\"k\": 7}'), "
        "(3, '{\"tag\": \"b\"}')")
    out = J.json_fields(df, "props", "k BIGINT, tag STRING")
    rows = {r["id"]: (r["k"], r["tag"]) for r in out.collect()}
    assert rows == {1: (5, "a"), 2: (7, None), 3: (None, "b")}
    plan = P.explain_str(out)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    prof = {r["key"]: r["rows"]
            for r in J.json_key_profile(df, "props").collect()}
    assert prof == {"k": 2, "tag": 2}


def test_textrank_hub_word_wins(spark):
    """A hub word adjacent to many distinct words must out-rank
    peripheral words; ranks are layout-invariant (integer
    arithmetic)."""
    from pipelinedp_spark.operators.retrieval import textrank_keywords
    docs = []
    for i in range(6):
        docs.append((i, f"hub word{i} hub word{i} hub word{i}"))
    vals = ", ".join(f"({i}, '{t}')" for i, t in docs)
    df = spark.sql(f"SELECT col1 AS doc_id, col2 AS text "
                   f"FROM VALUES {vals}")
    out = textrank_keywords(df, iters=2, k=3, min_count=1).collect()
    assert out[0]["word"] == "hub"
    a = [(r["word"], r["rank"]) for r in
         textrank_keywords(df.coalesce(1), iters=2, k=3,
                           min_count=1).collect()]
    b = [(r["word"], r["rank"]) for r in
         textrank_keywords(df.repartition(7), iters=2, k=3,
                           min_count=1).collect()]
    assert a == b


def test_flesch_kincaid_known_values(spark):
    """Known sentence: 'The cat sat on the mat.' = 6 words, 1 sentence,
    6 vowel groups -> FK = 0.39*6 + 11.8*1 - 15.59 = -1.45; empty text
    scores 0."""
    from pipelinedp_spark.functions import text as TX
    df = spark.sql("SELECT col1 AS text FROM VALUES "
                   "('The cat sat on the mat.'), ('')")
    out = [r[0] for r in
           df.select(TX.flesch_kincaid_grade(F.col("text"))).collect()]
    assert out[0] == round(0.39 * 6 + 11.8 * 1 - 15.59, 6)
    assert out[1] == 0.0


def test_streaming_funnel_matches_batch_depths(spark, tmp_path):
    """True stateful streaming: events replayed in two ts-ordered
    batches through streaming_funnel; each user's final completed
    depth equals the batch funnel depth from funnel_users."""
    from pipelinedp_spark.operators.funnel import funnel_users
    from pipelinedp_spark.streaming.dp_streaming import streaming_funnel
    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .withColumn("ts", F.expr("unix_micros(cast(ts as timestamp))"))
          .select("user_id", "event_type", "ts"))
    mid = ev.approxQuantile("ts", [0.5], 0.0)[0]
    src = str(tmp_path / "src")
    # two files in ts order: file names control trigger order with
    # maxFilesPerTrigger=1 (lexicographic)
    ev.filter(F.col("ts") <= mid).coalesce(1).write.parquet(f"{src}/b=0")
    ev.filter(F.col("ts") > mid).coalesce(1).write.parquet(f"{src}/b=1")
    stream = (spark.readStream.schema("user_id long, event_type string, "
                                      "ts long")
              .option("maxFilesPerTrigger", 1)
              .parquet(f"{src}/b=*"))
    steps = ["view", "click", "purchase"]
    q = (streaming_funnel(stream, steps)
         .writeStream.format("memory").queryName("sfunnel")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {}
    for r in spark.sql("SELECT * FROM sfunnel").collect():
        got[r["user_id"]] = max(got.get(r["user_id"], 0), r["completed"])
    tabs = funnel_users(ev, steps)
    want = {}
    for depth, t in enumerate(tabs, start=1):
        for r in t.select("user_id").collect():
            want[r["user_id"]] = depth
    assert got == want


def test_scd2_semantics(spark):
    """Changed key: expired + new open version; unchanged-value update
    is a no-op; brand-new key appends open; history rows untouched."""
    from pipelinedp_spark.operators.scd import scd2_apply
    dim = spark.sql(
        "SELECT col1 AS k, col2 AS v, CAST(col3 AS BIGINT) AS valid_from,"
        " CAST(col4 AS BIGINT) AS valid_to FROM VALUES "
        "(1, 'a', 0, NULL), (2, 'b', 0, NULL), "
        "(3, 'c', 0, NULL), (1, 'old', -5, 0)")
    upd = spark.sql(
        "SELECT col1 AS k, col2 AS v, CAST(col3 AS BIGINT) AS eff_ts "
        "FROM VALUES (1, 'a2', 10), (2, 'b', 10), (9, 'z', 10)")
    out = scd2_apply(dim, upd, "k", ["v"])
    rows = {(r["k"], r["v"], r["valid_from"], r["valid_to"])
            for r in out.collect()}
    assert rows == {
        (1, "old", -5, 0),          # history untouched
        (1, "a", 0, 10),            # expired
        (1, "a2", 10, None),        # new version
        (2, "b", 0, None),          # no-op update
        (3, "c", 0, None),          # untouched
        (9, "z", 10, None),         # brand-new key
    }


def test_streaming_anomaly_counts_and_shared_scores(spark, tmp_path):
    """Streaming windowed counts (availableNow, complete mode) equal
    batch counts, and the shared anomaly_scores over them reproduces
    the oracle-checked events_window_anomaly query's top rows."""
    import importlib.util
    from pipelinedp_spark.operators.funnel import anomaly_scores
    from pipelinedp_spark.streaming.dp_streaming import (
        streaming_window_counts)
    SFD = "/root/testdata/sf0.001"
    ev = (spark.read.parquet(f"{SFD}/events.parquet")
          .select("event_type", F.col("ts").cast("timestamp").alias("ts")))
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 2).parquet(src))
    q = (streaming_window_counts(stream)
         .writeStream.format("memory").queryName("wc")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT event_type, unix_micros(win.start) DIV 3600000000 "
        "AS win, count AS c FROM wc").localCheckpoint()
    want = (ev.groupBy("event_type",
                       F.expr("unix_micros(ts) DIV 3600000000")
                       .alias("win"))
            .agg(F.count(F.lit(1)).alias("c")))
    assert ({tuple(r) for r in got.collect()}
            == {tuple(r) for r in want.collect()})
    spec = importlib.util.spec_from_file_location(
        "entry_anom", "/root/repo/__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    oracle_top = {(r["event_type"], r["win"], r["c"], r["score"])
                  for r in mod.queries()["events_window_anomaly"](
                      spark, SFD).collect()}
    shared_top = {tuple(r) for r in
                  (anomaly_scores(got, count_col="c")
                   .orderBy(F.col("score").desc(), "event_type", "win")
                   .limit(10).collect())}
    assert shared_top == oracle_top


def test_salted_join_equivalence(spark):
    """Salted inner and left joins return exactly the plain join's
    rows on a hot-key distribution (one key owns 90% of the big
    side)."""
    from pyspark.sql import functions as F
    from pipelinedp_spark.operators.skew import salted_join
    big = spark.range(10_000).select(
        F.col("id"),
        F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.col("id"))
        .alias("k"))
    small = spark.sql(
        "SELECT col1 AS k, col2 AS v FROM VALUES (1, 'hot'), (17, 'c')")
    for how in ("inner", "left"):
        plain = {tuple(r) for r in
                 big.join(small, ["k"], how).select("id", "k", "v")
                 .collect()}
        salted = {tuple(r) for r in
                  salted_join(big, small, ["k"], factor=8, how=how,
                              salt_src="id")
                  .select("id", "k", "v").collect()}
        assert salted == plain and len(plain) >= 9000


def test_int8_roundtrip_property(spark):
    """Property (hypothesis): for arbitrary finite float vectors, codes
    stay in [-128, 127] and |dequant - x| <= scale/2 + eps per dim."""
    from hypothesis import given, settings, strategies as st
    import numpy as np
    from pipelinedp_spark.functions import embeddings as E

    @settings(max_examples=25, deadline=None)
    @given(st.lists(st.lists(
        st.floats(min_value=-1e6, max_value=1e6,
                  allow_nan=False, allow_infinity=False, width=32),
        min_size=4, max_size=4), min_size=2, max_size=8))
    def prop(vecs):
        x = np.asarray(vecs, dtype="float64")
        params = [(x[:, j].min(), x[:, j].max()) for j in range(4)]
        for row in x:
            for j, (mn, mx) in enumerate(params):
                s = (mx - mn) / 255.0
                code = (np.floor((row[j] - mn) / s + 0.5)
                        if s > 0 else 0.0) - 128
                assert -128 <= code <= 127
                deq = (code + 128) * (s if s > 0 else 0.0) + mn
                bound = (s / 2 if s > 0 else 0.0) + 1e-9 + abs(mn) * 1e-12
                assert abs(deq - row[j]) <= bound

    prop()


def test_length_bucket_property(spark):
    """Property: the CASE-ladder bucket is the smallest boundary >= n
    (top bucket catches overflow) for arbitrary counts."""
    from hypothesis import given, settings, strategies as st
    from pipelinedp_spark.operators.packing import length_bucket_expr

    @settings(max_examples=10, deadline=None)
    @given(st.lists(st.integers(min_value=0, max_value=2000),
                    min_size=1, max_size=20))
    def prop(ns):
        bs = (16, 64, 256, 1024)
        vals = ", ".join(f"({n})" for n in ns)
        df = spark.sql(f"SELECT col1 AS n FROM VALUES {vals}")
        got = [r[0] for r in
               df.select(length_bucket_expr(F.col("n"), bs)).collect()]
        for n, b in zip(ns, got):
            want = next((x for x in bs if n <= x), bs[-1])
            assert b == want

    prop()


def test_leakage_safe_split_cluster_atomicity(spark):
    """Every cluster lands wholly in one split; fractions roughly hold
    over many clusters; bad fractions raise."""
    import pytest as _pt
    docs = spark.range(5000).select(
        F.col("id"), (F.col("id") % 500).alias("cl"))
    out = C.leakage_safe_split(docs, "cl")
    per = (out.groupBy("cl")
           .agg(F.countDistinct("split").alias("d")).collect())
    assert all(r["d"] == 1 for r in per)
    frac = {r["split"]: r["count"] for r in
            out.groupBy("split").count().collect()}
    total = sum(frac.values())
    assert 0.7 < frac.get("train", 0) / total < 0.9
    with _pt.raises(ValueError, match="sum to 1"):
        C.leakage_safe_split(docs, "cl", {"a": 0.5, "b": 0.4})


def test_parse_with_quarantine_routes_bad_rows(spark):
    """Malformed JSON rows land in quarantine, valid (and null-source)
    rows in good with parsed struct; no row lost or duplicated."""
    from pipelinedp_spark.functions.semistructured import (
        parse_with_quarantine)
    df = spark.sql(
        "SELECT col1 AS id, col2 AS props FROM VALUES "
        "(1, '{\"k\": 5}'), (2, 'not json'), (3, '{\"k\": bad}'), "
        "(4, NULL), (5, '{\"k\": 7}')")
    good, bad = parse_with_quarantine(df, "props", "k BIGINT")
    g = {r["id"]: (r["parsed"]["k"] if r["parsed"] else None)
         for r in good.collect()}
    b = {r["id"] for r in bad.collect()}
    assert b == {2, 3}
    assert g == {1: 5, 4: None, 5: 7}
    assert len(g) + len(b) == df.count()


def test_compression_ratio_separates_boilerplate(spark):
    """Repetitive text compresses far below varied prose; the band
    filter drops the template and keeps the prose."""
    from pipelinedp_spark.operators.quality import (
        compression_band_filter, compression_ratio_udf)
    import random
    rng = random.Random(7)
    prose = " ".join("".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                             for _ in range(rng.randint(3, 9)))
                     for _ in range(300))
    template = "click here to subscribe " * 100
    df = spark.sql(
        f"SELECT col1 AS doc_id, col2 AS text FROM VALUES "
        f"(1, '{prose}'), (2, '{template.strip()}')")
    ratio = compression_ratio_udf()
    got = {r["doc_id"]: r["r"] for r in
           df.select("doc_id", ratio(F.col("text")).alias("r"))
           .collect()}
    assert got[2] < 0.1 < got[1]
    kept = [r["doc_id"] for r in
            compression_band_filter(df).collect()]
    assert kept == [1]


def test_length_match_resample_hits_target(spark):
    """A short-doc-heavy corpus resampled toward a long-heavy target:
    the output bucket shares move to within a few points of target,
    no bucket gains docs, and the selection is deterministic."""
    from pipelinedp_spark.operators.packing import (length_bucket_expr,
                                                    length_match_resample)
    rows = []
    rid = 0
    for n_tok, count in ((5, 800), (40, 150), (200, 50)):
        for _ in range(count):
            rows.append((rid, " ".join(["w"] * n_tok)))
            rid += 1
    vals = ", ".join(f"({i}, '{t}')" for i, t in rows)
    df = spark.sql(f"SELECT col1 AS doc_id, col2 AS text "
                   f"FROM VALUES {vals}")
    target = {8: 0.4, 64: 0.3, 256: 0.3}
    out = length_match_resample(df, target)
    n = F.size(F.split(F.col("text"), " "))
    got = {r["b"]: r["cnt"] for r in
           out.groupBy(length_bucket_expr(n, (8, 64, 256)).alias("b"))
           .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    total = sum(got.values())
    assert got[256] == 50                      # scarcest bucket kept whole
    shares = {b: got.get(b, 0) / total for b in (8, 64, 256)}
    for b, want in ((8, 0.4), (64, 0.3), (256, 0.3)):
        assert abs(shares[b] - want) < 0.07
    again = length_match_resample(df, target)
    assert ({r["doc_id"] for r in out.select("doc_id").collect()}
            == {r["doc_id"] for r in again.select("doc_id").collect()})


def test_epoch_schedule_caps_and_budget(spark):
    """Epochs never exceed the cap, shares sum to ~1, target tokens
    sum to ~budget (exact up to rounding), and temperature < 1 lifts
    the smallest source's share above its natural share."""
    from pipelinedp_spark.operators.mixing import epoch_schedule
    rows = []
    rid = 0
    for src, n_docs, toks in (("web", 100, 50), ("books", 10, 50),
                              ("code", 30, 50)):
        for _ in range(n_docs):
            rows.append((rid, src, " ".join(["w"] * toks)))
            rid += 1
    vals = ", ".join(f"({i}, '{s}', '{t}')" for i, s, t in rows)
    df = spark.sql(f"SELECT col1 AS doc_id, col2 AS source, "
                   f"col3 AS text FROM VALUES {vals}")
    plan = {r["source"]: r for r in
            epoch_schedule(df, budget_tokens=20_000,
                           temperature=0.5, max_epochs=3.0).collect()}
    assert abs(sum(r["share"] for r in plan.values()) - 1.0) < 1e-3
    assert all(r["epochs"] <= 3.0 + 1e-9 for r in plan.values())
    assert (sum(r["target_tokens"] for r in plan.values())
            <= 20_000 + len(plan))
    nat_books = 10 * 50 / (140 * 50)
    assert plan["books"]["share"] > nat_books
