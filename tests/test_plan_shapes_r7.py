"""Plan-shape assertions for the round-7 operators: the 100 TB posture
(broadcasts, WindowGroupLimit top-k, codegen gram extraction, no
nested-loop joins) pinned as plan properties."""

from pyspark.sql import functions as F

from pipelinedp_spark import plans as P
from pipelinedp_spark.operators.langid import language_id_ngram
from pipelinedp_spark.operators.quality import gopher_quality_filter
from pipelinedp_spark.operators.retrieval import (pmi_collocations,
                                                  tfidf_keywords)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_language_id_broadcasts_profiles_codegen_grams(spark):
    """The ~3k-row profile table must broadcast (never shuffle the
    exploded gram stream for the join), the gram extraction must be
    Generate nodes over integer sequences (no interpreted
    higher-order-lambda path), and the per-(doc, lang) sum must have a
    map-side partial."""
    out = language_id_ngram(_docs(spark))
    plan = P.explain_str(out)
    assert P.has_broadcast_join(out)
    assert P.has_partial_aggregation(out)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    # codegen path: explode(sequence(...)), not transform/lambda
    assert "lambdafunction" not in plan.lower()


def test_gopher_filter_one_corpus_shuffle_family(spark):
    """Every rule except top-2-gram is per-row codegen: the plan's only
    corpus-scale shuffles belong to the top-gram word-count + argmax
    family, and the final rule join is an equi-join."""
    out = gopher_quality_filter(_docs(spark))
    plan = P.explain_str(out)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert P.has_partial_aggregation(out)


def test_tfidf_topk_is_window_group_limit(spark):
    """The per-doc top-k must compile to WindowGroupLimit (partial +
    final), never a full sort of the scored terms."""
    out = tfidf_keywords(_docs(spark), k=5)
    plan = P.explain_str(out)
    assert "WindowGroupLimit" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_pmi_global_topk_is_take_ordered(spark):
    """orderBy().limit(k) must compile to TakeOrderedAndProject — the
    min_count survivors are never globally sorted."""
    out = pmi_collocations(_docs(spark), k=10, min_count=2)
    plan = P.explain_str(out)
    assert "TakeOrderedAndProject" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert P.has_partial_aggregation(out)


def test_funnel_no_windows_no_nested_loop(spark):
    """Funnel steps must be aggregations + equi-joins — no window
    functions (a hot user never single-tasks) and no nested-loop
    joins."""
    from pipelinedp_spark.operators.funnel import funnel_users
    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .withColumn("ts", F.expr("unix_micros(cast(ts as timestamp))")))
    tabs = funnel_users(ev, ["view", "click", "purchase"],
                        checkpoint=False)
    for t in tabs:
        plan = P.explain_str(t)
        assert "Window" not in plan
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_retention_broadcasts_cohort_sizes(spark):
    """The cohort-size join must broadcast and both aggs must map-side
    combine."""
    from pipelinedp_spark.operators.funnel import retention_cohorts
    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .withColumn("ts", F.expr("unix_micros(cast(ts as timestamp))")))
    out = retention_cohorts(ev)
    plan = P.explain_str(out)
    assert P.has_broadcast_join(out)
    assert P.has_partial_aggregation(out)
    assert "Window" not in plan


def test_textrank_iteration_no_nested_loop(spark):
    """Each TextRank iteration is an equi-join + combinable groupBy;
    the final top-k compiles to TakeOrderedAndProject."""
    from pipelinedp_spark.operators.retrieval import textrank_keywords
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = textrank_keywords(docs, iters=2, k=5, min_count=2,
                            checkpoint=False)
    plan = P.explain_str(out)
    assert "TakeOrderedAndProject" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert P.has_partial_aggregation(out)


# ---------------------------------------------------------------------------
# round-8 pins: the three heaviest bench queries must keep their
# hot-key-safe shapes (a refactor regressing any of these re-introduces
# the single-task cliffs fixed in r6/r7)
# ---------------------------------------------------------------------------

def test_keep_best_survivors_no_window_argmax_agg(spark):
    """keep_best_representative: the per-cluster survivor must be a
    max(struct) AGGREGATE (map-side combinable), never a row_number
    window — a corpus-hot cluster on a window partition serializes onto
    one unsplittable task."""
    from pipelinedp_spark.operators.graph import keep_best_representative
    docs = _docs(spark).select("doc_id", "n_chars")
    clusters = docs.select("doc_id",
                           (F.col("doc_id") % 5).alias("cluster_id"))
    out = keep_best_representative(docs, clusters, "n_chars")
    plan = P.explain_str(out)
    assert "Window" not in plan
    assert P.has_partial_aggregation(out)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_near_dup_clusters_plan_rooted_at_checkpoints(spark):
    """near_dup_clusters (pointer-jumping CC): the returned frame must
    read from CHECKPOINTED iteration state (ExistingRDD scans), not drag
    the whole iterative lineage; and the label fold is an aggregate,
    not a window."""
    from pipelinedp_spark.operators import dedup, graph
    docs = _docs(spark).limit(200)
    pairs = dedup.simhash_pairs(docs, max_hamming=3)
    out = graph.near_dup_clusters(docs, pairs)
    plan = P.explain_str(out)
    assert "ExistingRDD" in plan          # checkpointed state, not lineage
    assert "Window" not in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_source_quality_report_single_agg_no_windows_on_docs(spark):
    """doc_source_quality_report: the per-source rollup must be ONE
    map-side-combinable aggregate over the gopher+FK join; the only
    window allowed in the whole plan is the bounded per-doc top-2-gram
    argmax (WindowGroupLimit family), never a count/rank window over
    the corpus-hot source key."""
    from pipelinedp_spark.functions import text as TX
    from pipelinedp_spark.operators.quality import gopher_quality_filter
    docs = _docs(spark)
    g = gopher_quality_filter(docs).select("doc_id", "passes")
    base = docs.select("doc_id", "source",
                       TX.flesch_kincaid_grade(F.col("text")).alias("fk"))
    out = (base.join(g, "doc_id").groupBy("source")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.col("passes").cast("long")).alias("n_pass")))
    plan = P.explain_str(out)
    assert P.has_partial_aggregation(out)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    # any Window node must be the per-doc top-gram one (partitioned by
    # doc_id), never by source
    import re
    for m in re.finditer(r"Window.*?\[([^\]]*)\]", plan):
        assert "source" not in m.group(1)


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Bucketing is THE co-located-join tool at 100 TB: two tables
    bucketed 8 ways on the join key must sort-merge-join with ZERO
    shuffle exchanges (broadcast disabled to force the merge path).
    Regression here means every repeated fact-fact join pays a full
    corpus shuffle again."""
    from pipelinedp_spark.plans import scoped_conf

    docs = _docs(spark).select("doc_id", "source", "n_chars")
    spark.sql("DROP TABLE IF EXISTS bkt_a")
    spark.sql("DROP TABLE IF EXISTS bkt_b")
    (docs.write.mode("overwrite").bucketBy(8, "doc_id")
     .sortBy("doc_id").saveAsTable("bkt_a"))
    (docs.selectExpr("doc_id", "n_chars * 2 AS twice")
     .write.mode("overwrite").bucketBy(8, "doc_id")
     .sortBy("doc_id").saveAsTable("bkt_b"))
    with scoped_conf(spark,
                     **{"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        j = (spark.table("bkt_a")
             .join(spark.table("bkt_b"), "doc_id")
             .select("doc_id", "n_chars", "twice"))
        plan = P.explain_str(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan          # co-located: no shuffle
        assert j.count() == docs.count()
    spark.sql("DROP TABLE IF EXISTS bkt_a")
    spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_exact_span_joins_never_broadcast(spark):
    """duplicate_spans_exact: the hot-seed, candidate-list, and
    window-hash joins are corpus-scale — a driver-built broadcast there
    OOMs exactly when the corpus grows (reproduced at sf1 in r8). The
    plan must carry shuffle-hash joins, not BroadcastHashJoin, on every
    corpus-side join."""
    from pipelinedp_spark.operators.dedup import duplicate_spans_exact
    out = duplicate_spans_exact(_docs(spark), min_len=48, seed_len=16)
    plan = P.explain_str(out)
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-style partition layout must actually prune: a scan filtered
    on the partition column reads ONE partition directory (the plan's
    partition count proves it) — the data-layout contract that turns a
    100 TB scan into a 1 TB scan when queries filter by source/date."""
    docs = _docs(spark).select("doc_id", "source", "n_chars")
    path = str(tmp_path / "bysource")
    docs.write.mode("overwrite").partitionBy("source").parquet(path)
    one = spark.read.parquet(path).filter(F.col("source") == "src4")
    plan = P.explain_str(one)
    # partition filters reach the scan (not a post-scan Filter only)
    assert "PartitionFilters" in plan
    n_match = one.count()
    full = spark.read.parquet(path).count()
    n_expected = docs.filter(F.col("source") == "src4").count()
    assert n_match == n_expected and full == docs.count()
