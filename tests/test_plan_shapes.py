"""Plan-shape assertions: scan pruning, filter pushdown, broadcast joins,
map-side partial aggregation, bounded shuffle counts.

These pin the engine's scale-critical physical properties so regressions
fail tests (the 100 TB posture is a plan property, not a data property).
"""

import math
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

import pipelinedp_spark as pds
from pipelinedp_spark import plans as P

SF = "/root/testdata/sf0.001"


def _orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet")


def test_scan_pruning_in_dp_pipeline(spark):
    """The DP aggregate must read only (pid, pk, value) from the scan."""
    q = (pds.QueryBuilder(_orders(spark), "o_custkey")
         .groupby("o_orderpriority", max_groups_contributed=3,
                  max_contributions_per_group=5,
                  public_keys=["1-URGENT"])
         .sum("o_totalprice", min_value=0.0, max_value=1000.0)
         .build_query())
    out = q.run_query(pds.Budget(1.0), noise_mode="zero")
    scans = P.scan_columns(out)
    assert scans, "expected a file scan in the plan"
    for cols in scans:
        assert set(cols) <= {"o_custkey", "o_orderpriority", "o_totalprice"}


def test_isin_public_filter_pushdown(spark):
    """Small public-key lists compile to scan-pushed In-filters, not joins."""
    q = (pds.QueryBuilder(_orders(spark), "o_custkey")
         .groupby("o_orderpriority", max_groups_contributed=3,
                  max_contributions_per_group=5,
                  public_keys=["1-URGENT", "2-HIGH"])
         .count()
         .build_query())
    out = q.run_query(pds.Budget(1.0), noise_mode="zero")
    pushed = P.pushed_filters(out)
    assert any("In(o_orderpriority" in p for p in pushed), pushed


def test_dp_count_partial_aggregation_and_shuffles(spark):
    """Count fast path: no Linf window sort; partial aggregation present;
    bounded shuffle count (pid-pk agg, L0 window, pk agg + small extras)."""
    q = (pds.QueryBuilder(_orders(spark), "o_custkey")
         .groupby("o_orderpriority", max_groups_contributed=3,
                  max_contributions_per_group=5,
                  public_keys=["1-URGENT", "2-HIGH"])
         .count()
         .build_query())
    out = q.run_query(pds.Budget(1.0), noise_mode="zero")
    assert P.has_partial_aggregation(out)
    assert P.count_shuffles(out) <= 4


def test_preaggregate_shuffles(spark):
    """The analysis pre-aggregate shuffles twice: by (pid, pk) after a
    map-side partial aggregate, then the per-pair rows by pid for the
    per-pid window. A groupBy(pid) of its output adds no shuffle, nor
    does one of its cached output once the cache is built."""
    from pipelinedp_spark.analysis import preaggregate
    out = preaggregate(_orders(spark), pds.DataFrameExtractors(
        "o_custkey", "o_orderpriority", "o_totalprice"),
        keep_privacy_id=True)
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)",
                           P.explain_str(out, "simple"))
    # Top-down: the window's exchange by pid, then the aggregate's.
    assert [re.sub(r"#\d+L?|, \d+$", "", e) for e in exchanges] == [
        "o_custkey", "o_custkey, o_orderpriority"]
    assert P.count_shuffles(out) == 2
    assert P.has_partial_aggregation(out)
    assert [sorted(c) for c in P.scan_columns(out)] == [
        ["o_custkey", "o_orderpriority", "o_totalprice"]]
    assert P.count_shuffles(
        out.groupBy("o_custkey").agg(F.max("n_partitions"))) == 2
    cached = out.cache()
    try:
        cached.count()
        per_pid = cached.groupBy("o_custkey").agg(F.max("n_partitions"))
        above_cache = P.explain_str(per_pid, "simple").split(
            "InMemoryRelation")[0]
        assert "Exchange" not in above_cache
    finally:
        cached.unpersist()


def test_broadcast_join_for_query_keys(spark):
    """cosine_topk broadcasts the query side instead of shuffling the
    corpus."""
    from pipelinedp_spark.operators import similarity
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = (emb.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    out = similarity.cosine_topk(emb, q, k=5)
    assert P.has_broadcast_join(out)


def test_codegen_spans_nonzero(spark):
    q = (pds.QueryBuilder(_orders(spark), "o_custkey")
         .groupby("o_orderpriority", max_groups_contributed=3,
                  max_contributions_per_group=5, public_keys=["1-URGENT"])
         .count()
         .build_query())
    out = q.run_query(pds.Budget(1.0), noise_mode="zero")
    assert P.whole_stage_codegen_spans(out) >= 1


def test_exact_dedup_single_shuffle(spark):
    from pipelinedp_spark.operators import dedup
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = dedup.exact_dedup(docs)
    assert P.count_shuffles(out) == 1
    assert P.has_partial_aggregation(out)


def test_embedding_near_dup_no_pair_join(spark):
    """Banded near-dup: pairs come from in-bucket groups, so the plan has
    no join operator at all (and so no cartesian/nested-loop blowup)."""
    from pipelinedp_spark.operators import dedup
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = P.explain_str(dedup.embedding_near_dup_pairs(emb))
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin",
                "SortMergeJoin", "BroadcastHashJoin"):
        assert bad not in plan, bad


def test_minhash_signature_computed_once(spark):
    """The banded signature table is materialized ONCE (localCheckpoint)
    and every consumer — the bucket-cap aggregate and both self-join
    sides — reads that materialization as an ExistingRDD scan; the
    signature UDF subplan must not appear in the executed plan at all.
    (Replaces the earlier window/ReusedExchange shape, which serialized
    corpus-hot buckets on one window task, and the r04 persist()-based
    assertion, which leaked cached blocks across calls.)"""
    from pipelinedp_spark.operators import dedup
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = dedup.minhash_lsh_pairs(docs)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("isFinalPlan=true") == 1
    assert "ExistingRDD" in plan            # checkpointed band table
    assert "ArrowEvalPython" not in plan    # signature UDF ran pre-checkpoint
    assert "InMemoryTableScan" not in plan  # nothing persisted


def _thresholded_release(spark):
    """PRIVACY_ID_COUNT under post-aggregation thresholding, secure."""
    acct = pds.NaiveBudgetAccountant(20.0, 1e-4)
    engine = pds.DPEngine(acct, noise_mode="secure")
    params = pds.AggregateParams(
        metrics=[pds.Metrics.PRIVACY_ID_COUNT],
        max_partitions_contributed=3,
        max_contributions_per_partition=1,
        post_aggregation_thresholding=True)
    res = engine.aggregate(
        _orders(spark), params,
        pds.DataFrameExtractors("o_custkey", "o_orderpriority", None))
    acct.compute_budgets()
    return res.dataframe()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_noise_draws_are_nondeterministic(spark):
    """Secure draws must be nondeterministic: Catalyst must not push
    predicates through a noise projection or duplicate a draw, otherwise the
    thresholded value and the released value come from independent noise
    (breaking the thresholding DP guarantee). No draw may come from a
    seeded generator (``rand``, ``randn``, ``uuid``): a seed in the plan
    lets its reader replay the noise."""
    from pipelinedp_spark import noise as N
    src = N.SecureNoiseSource()
    draws = {"laplace": src.laplace(1.0), "gaussian": src.gaussian(1.0),
             "geometric_keep": src.geometric_keep(
                 F.col("id"), np.array([0.0, 0.5, 1.0]))}
    seeded = re.compile(r"\b(rand|randn|uuid)\(")
    for name, draw in draws.items():
        expr = spark.range(4).select(draw.alias("x"))._jdf \
            .queryExecution().analyzed().projectList().apply(0)
        assert not expr.deterministic(), name
        assert not seeded.search(expr.toString()), (name, expr.toString())

    # The DP pipeline with post-aggregation thresholding draws pid-count
    # noise ONCE: the filter and the released column read one draw (the
    # uniforms of a single Laplace draw; no copy after predicate pushdown).
    per_draw = _optimized(spark.range(1).select(
        src.laplace(1.0).alias("x"))).count("reflect(")
    assert per_draw >= 1
    out = _thresholded_release(spark)
    nplan = _optimized(out)
    assert nplan.count("reflect(") == per_draw, nplan
    assert re.search(r"Filter .*__dp_pid_count__#\d+ >= ", nplan), nplan
    assert re.search(r"__dp_pid_count__#\d+ AS privacy_id_count", nplan), \
        nplan
    drawn = [ln for ln in nplan.splitlines() if "reflect(" in ln]
    assert len(drawn) == 1 and not seeded.search(drawn[0]), drawn
    rows = out.collect()
    assert rows and all(math.isfinite(r["privacy_id_count"]) for r in rows)


def _secure_scalar_releases(spark):
    """name -> a secure release: scalar noise, or a vector sum or mean
    noised element by element (private and public keys; L2 and Linf
    clips)."""
    orders = _orders(spark)
    ex = pds.DataFrameExtractors("o_custkey", "o_orderpriority",
                                 "o_totalprice")
    S = pds.PartitionSelectionStrategy

    def aggregate(metrics, public=None, **kw):
        acct = pds.NaiveBudgetAccountant(5.0, 1e-4)
        res = pds.DPEngine(acct, noise_mode="secure").aggregate(
            orders, pds.AggregateParams(
                metrics=metrics, max_partitions_contributed=3,
                max_contributions_per_partition=2, min_value=0.0,
                max_value=1000.0, **kw), ex, public_partitions=public)
        acct.compute_budgets()
        return res.dataframe()

    def select(strategy):
        acct = pds.NaiveBudgetAccountant(5.0, 1e-4)
        res = pds.DPEngine(acct, noise_mode="secure").select_partitions(
            orders, pds.SelectPartitionsParams(
                max_partitions_contributed=3,
                partition_selection_strategy=strategy), ex)
        acct.compute_budgets()
        return res.dataframe()

    vec_orders = orders.withColumn("vec", F.array(
        F.col("o_totalprice") / 1e5,
        (F.col("o_orderkey") % 7).cast("double") - 3.0, F.lit(1.0)))

    def vector(metric, norm, public=None):
        acct = pds.NaiveBudgetAccountant(5.0, 1e-4)
        res = pds.DPEngine(acct, noise_mode="secure").aggregate(
            vec_orders, pds.AggregateParams(
                metrics=[metric], max_partitions_contributed=3,
                max_contributions_per_partition=2, vector_norm_kind=norm,
                vector_max_norm=2.0, vector_size=3),
            pds.DataFrameExtractors("o_custkey", "o_orderpriority", "vec"),
            public_partitions=public)
        acct.compute_budgets()
        return res.dataframe()

    M = pds.Metrics
    N = pds.NormKind
    public = ["1-URGENT", "2-HIGH", "9-NONE"]
    return {
        "vector_sum_l2": vector(M.VECTOR_SUM, N.L2),
        "vector_sum_linf_public": vector(M.VECTOR_SUM, N.LINF, public),
        "vector_mean_linf": vector(M.VECTOR_MEAN, N.LINF),
        "vector_mean_l2_public": vector(M.VECTOR_MEAN, N.L2, public),
        "deep": aggregate([M.COUNT, M.SUM]),
        "wide": aggregate([M.COUNT, M.SUM, M.MEAN], public=public),
        "laplace_selection": aggregate(
            [M.COUNT], partition_selection_strategy=S.LAPLACE_THRESHOLDING),
        "gaussian_selection": aggregate(
            [M.COUNT],
            partition_selection_strategy=S.GAUSSIAN_THRESHOLDING),
        "post_aggregation": _thresholded_release(spark),
        "select_partitions": select(S.TRUNCATED_GEOMETRIC),
    }


def test_secure_scalar_releases_start_no_python(spark):
    """Secure noise, partition selection and the vector norm clip are
    Catalyst expressions: no plan of a scalar or vector release holds a
    Python eval node, and every released value is finite."""
    for name, df in _secure_scalar_releases(spark).items():
        plan = P.explain_str(df, mode="simple")
        for node in ("ArrowEvalPython", "BatchEvalPython"):
            assert node not in plan, (name, plan)
        rows = df.collect()
        assert rows, name
        for r in rows:
            for v in r.asDict().values():
                for x in v if isinstance(v, list) else [v]:
                    assert not isinstance(x, float) or math.isfinite(x), \
                        (name, r)


def test_jaccard_pairs_no_pair_blowup(spark):
    """The inverted-index jaccard must stay on hash joins (no cartesian /
    nested-loop) and keep map-side partial aggregation for the
    shared-shingle counts."""
    from pipelinedp_spark.operators import dedup
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = dedup.jaccard_pairs(docs, jaccard_threshold=0.7)
    plan = P.explain_str(out)
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, bad
    assert P.has_partial_aggregation(out)


def test_simhash_pairs_fingerprints_computed_once(spark):
    """All four join branches (small/big x left/right) must feed from ONE
    materialized (block_idx, block_val) exchange via AQE ReusedExchange
    instead of re-running the fingerprint UDF subplan — and nothing is
    persisted (the r04 persist leaked cached blocks across calls)."""
    from pipelinedp_spark.operators import dedup
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = dedup.simhash_pairs(docs)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("isFinalPlan=true") == 1
    assert plan.count("ReusedExchange") >= 1
    assert "InMemoryTableScan" not in plan


def test_quantile_tree_scan_pruning(spark):
    """The tree percentile pipeline reads only (pid, pk, value)."""
    acct = pds.NaiveBudgetAccountant(1.0, 1e-6)
    engine = pds.DPEngine(acct, noise_mode="zero")
    params = pds.AggregateParams(
        metrics=[pds.Metrics.PERCENTILE(50)],
        max_partitions_contributed=3,
        max_contributions_per_partition=5,
        min_value=0.0, max_value=1000.0,
        percentile_algorithm="tree")
    res = engine.aggregate(
        _orders(spark), params,
        pds.DataFrameExtractors("o_custkey", "o_orderpriority",
                                "o_totalprice"),
        public_partitions=["1-URGENT"])
    acct.compute_budgets()
    scans = P.scan_columns(res.dataframe())
    assert scans
    for cols in scans:
        assert set(cols) <= {"o_custkey", "o_orderpriority", "o_totalprice"}


def test_percentile_histogram_release_shape(spark):
    """Batch histogram percentile: each key's (bin, count) pairs are one
    groupBy(key) collect_list feeding one Arrow eval. The only windows are
    the bounders' per-privacy-id samples: no window over the key
    (cumulative sums), no pivot, no densified bin grid (sequence
    explode + join)."""
    acct = pds.NaiveBudgetAccountant(1.0, 1e-6)
    res = pds.DPEngine(acct, noise_mode="secure").aggregate(
        _orders(spark), pds.AggregateParams(
            metrics=[pds.Metrics.PERCENTILE(50), pds.Metrics.PERCENTILE(90)],
            max_partitions_contributed=3, max_contributions_per_partition=5,
            min_value=0.0, max_value=1000.0),
        pds.DataFrameExtractors("o_custkey", "o_orderpriority",
                                "o_totalprice"),
        public_partitions=["1-URGENT", "2-HIGH"])
    acct.compute_budgets()
    plan = P.explain_str(res.dataframe(), mode="simple")
    assert plan.count("ArrowEvalPython") == 1
    assert len(re.findall(r"Aggregate\(keys=\[o_orderpriority#\d+\], "
                          r"functions=\[collect_list", plan)) == 1
    windows = [ln for ln in plan.splitlines() if re.search(r"\bWindow \[", ln)]
    assert windows and all(re.search(r"\], \[__pid__#", ln)
                           for ln in windows), windows
    for absent in ("pivotfirst", "sequence(", "Generate"):
        assert absent not in plan, absent


def test_running_sum_stays_range_partitioned(spark):
    from pipelinedp_spark.operators.running import running_sum
    df = spark.range(1000).withColumn("v", (F.col("id") % 9) + 1)
    plan = P.explain_str(running_sum(df, "id", "v", num_partitions=8),
                         mode="simple")
    assert "rangepartitioning" in plan.lower()
    assert "Window" not in plan


def test_linf_sampling_is_aggregate_first(spark):
    """Generous-cap MEAN/VARIANCE pipelines must not sort the corpus for
    the Linf sample: the raw input's only full pass is the sort-free
    partial aggregation (carrying the __gcount__ group count), and the
    row_number window sits ONLY over the oversize-key semi-joined
    subset — empty here, and eliminated by AQE at runtime."""
    rows = [(u, "a", float(u % 5)) for u in range(50)]
    df = spark.createDataFrame(rows, "pid int, pk string, v double")
    q = (pds.QueryBuilder(df, "pid")
         .groupby("pk", max_groups_contributed=10,
                  max_contributions_per_group=1_000_000,
                  public_keys=["a"])
         .mean("v", min_value=0.0, max_value=5.0)
         .build_query())
    out = q.run_query(pds.Budget(1.0), noise_mode="zero")
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    assert "__gcount__" in opt          # aggregate-first split present
    # Exactly one Linf window (in the resample branch): its input chain
    # must contain the oversize semi-join, never the raw scan directly.
    import re
    linf_windows = [l for l in opt.splitlines()
                    if re.search(r"row_number", l) and "__pid__" in l
                    and "pk" in l]
    assert len(linf_windows) <= 1
    assert out.collect()[0]["mean_v"] == pytest.approx(2.0)
    # AQE runtime: with no oversize group the resample branch is empty —
    # the executed plan shows an empty LocalTableScan union side.
    final = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final


def test_scoped_conf_restores_on_exception_and_unset(spark):
    from pipelinedp_spark.plans import scoped_conf
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, **{key: "3"}):
            assert spark.conf.get(key) == "3"
            raise RuntimeError("boom")
    assert spark.conf.get(key) == before
    # a key unset before entry is unset again after exit
    custom = "spark.pipelinedp.test.flag"
    with scoped_conf(spark, **{custom: "on"}):
        assert spark.conf.get(custom) == "on"
    with pytest.raises(Exception):
        spark.conf.get(custom)


def test_hll_no_distinct_and_bounded_shuffle(spark):
    """HLL needs NO distinct pass: the plan is exactly two hash
    aggregations (register max, then the estimate) = 2 shuffles of
    register-sized data, with map-side partials."""
    from pipelinedp_spark.functions.sketches import hll_distinct_estimate
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    est = hll_distinct_estimate(docs, "text", p=10)
    plan = P.explain_str(est)
    assert "Deduplicate" not in plan
    assert P.count_shuffles(est) <= 2
    assert P.has_partial_aggregation(est)


def test_cms_probe_broadcasts_counters(spark):
    """Counter table (<= depth*width rows) must reach the probe as a
    broadcast join, never a shuffle join."""
    from pipelinedp_spark.functions.sketches import cms_counters, cms_estimate
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    est = cms_estimate(cms_counters(toks, "tok"), toks, "tok")
    assert P.has_broadcast_join(est)
    assert P.has_partial_aggregation(est)


def test_bloom_word_table_broadcasts(spark):
    """The Bloom probe join must broadcast the word table; the exact
    confirm join is deliberately NOT broadcast-hinted (shuffle shape at
    scale), so we assert only the word-table side here."""
    from pipelinedp_spark.operators.decontam import decontaminate_bloom
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    evald = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    kept = decontaminate_bloom(train, evald, n=3)
    assert P.has_broadcast_join(kept)


@pytest.mark.parametrize("entry", ["line_dedup", "sentence_dedup",
                                   "line_dedup_batch",
                                   "sentence_dedup_batch"])
def test_boilerplate_dedup_no_window_partial_aggs(spark, entry):
    """Corpus boilerplate dedup, batch operators and streaming twins (with
    a state frame): counting shuffles the 60-bit hash (never unit text)
    through map-side combinable aggregations, removal is an equi-join,
    and the rebuild is a groupBy with an in-group array_sort, not a
    window (a corpus-hot boilerplate line must never serialize onto one
    window task)."""
    from pipelinedp_spark.operators import dedup
    from pipelinedp_spark.streaming import dp_streaming as S
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    state = spark.sql("SELECT 1L AS __lh__, 2L AS __nd__")
    out = {
        "line_dedup": lambda: dedup.line_dedup(docs, min_docs=2,
                                               group_col="source"),
        "sentence_dedup": lambda: dedup.sentence_dedup(docs, min_docs=2),
        "line_dedup_batch": lambda: S.line_dedup_batch(docs, state)[0],
        "sentence_dedup_batch":
            lambda: S.sentence_dedup_batch(docs, state)[0],
    }[entry]()
    plan = P.explain_str(out)
    for bad in ("Window", "row_number", "NestedLoop", "CartesianProduct"):
        assert bad not in plan, bad
    assert P.has_partial_aggregation(out)
    if entry in ("line_dedup", "sentence_dedup"):
        assert P.count_shuffles(out) <= 5


def test_keep_best_no_window(spark):
    """Survivor selection is a max(struct) aggregation per cluster plus
    a join back — no window, so a corpus-hot cluster is one
    accumulator, not one task."""
    from pipelinedp_spark.operators import graph
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    clusters = graph.near_dup_clusters(docs, pairs)
    out = graph.keep_best_representative(docs, clusters, "n_chars")
    plan = P.explain_str(out)
    assert "Window" not in plan
    assert P.has_partial_aggregation(out)


def test_paragraph_filter_no_window_partial_aggs(spark):
    from pipelinedp_spark.operators import quality
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = quality.paragraph_perplexity_filter(docs, max_ppl=60.0)
    plan = P.explain_str(out)
    assert "Window" not in plan
    assert P.has_partial_aggregation(out)
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, bad


def test_url_canonicalize_pure_codegen(spark):
    """Canonicalization + domain extraction are column expressions: no
    Python evals, no exchanges, whole plan in one codegen span."""
    from pipelinedp_spark.functions import urls as U
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = docs.select(
        U.canonicalize_url(F.concat(F.lit("https://ex.com/"),
                                    F.col("doc_id").cast("string")))
        .alias("c"),
        U.registered_domain(F.lit("a.b.co.uk")).alias("d"))
    plan = P.explain_str(out)
    for bad in ("ArrowEvalPython", "BatchEvalPython", "Exchange"):
        assert bad not in plan, bad
    assert P.whole_stage_codegen_spans(out) >= 1
