"""Plan-shape pins for the round-9 operators: the persisted-fingerprint
incremental dedup store (zero Exchange on the store side of both joins)
and the TPC-H relational posture (pushed-down filters, broadcast dims,
TakeOrderedAndProject top-k) that was builder-verified in r8 but not
regression-pinned."""

import re

from pyspark.sql import functions as F

from pipelinedp_spark import plans as P
from pipelinedp_spark import store
from pipelinedp_spark.plans import scoped_conf

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _tree(plan: str) -> list[str]:
    """The indented physical-plan tree section of a formatted explain."""
    lines = plan.splitlines()
    out, started = [], False
    for ln in lines:
        if ln.startswith("== Physical Plan =="):
            started = True
            continue
        if started:
            if ln.strip() == "" or re.match(r"^\(\d+\)", ln.strip()):
                break
            out.append(ln)
    return out


def _ancestor_chains_until_join(plan: str,
                                scan_marker: str) -> list[list[str]]:
    """For EVERY scan containing ``scan_marker`` in the plan tree, the
    node names on the path up to (exclusive) its nearest Join ancestor,
    via indentation walk over the tree section."""
    tree = _tree(plan)

    def indent(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-"))

    chains = []
    for idx, ln in enumerate(tree):
        if scan_marker not in ln:
            continue
        cur = indent(tree[idx])
        chain = []
        for i in range(idx - 1, -1, -1):
            ind = indent(tree[i])
            if ind < cur:
                cur = ind
                name = tree[i].strip(" :+-").split("(")[0].strip()
                if "Join" in name:
                    break
                chain.append(name)
        chains.append(chain)
    return chains


def test_incremental_store_joins_never_exchange_store_side(spark):
    """`incremental_near_dup` against a `build_minhash_store` index:
    the bands scan and the shingles scan must reach their joins with
    ZERO Exchange on the store side (the whole point of persisting the
    index bucketed — the ever-growing reference never reshuffles), and
    both scans must be bucketed reads. Broadcast disabled to force the
    merge path the 100-TB store would take."""
    from pipelinedp_spark.operators import dedup

    docs = _docs(spark).limit(120)
    for t in ("pin9_store_bands", "pin9_store_shingles",
              "pin9_store_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    dedup.build_minhash_store(docs.filter(F.col("doc_id") % 2 == 0),
                              "pin9_store", k=3, num_buckets=4)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    with scoped_conf(spark,
                     **{"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        out = dedup.incremental_near_dup(new, "pin9_store",
                                         jaccard_threshold=0.7)
        plan = P.explain_str(out)
        for store_scan in ("pin9_store_bands", "pin9_store_shingles"):
            chains = _ancestor_chains_until_join(plan, store_scan)
            assert chains, f"no scan found for {store_scan}"
            for chain in chains:
                assert not any("Exchange" in n for n in chain), \
                    f"{store_scan} shuffles before its join: {chain}"
        assert plan.count("Bucketed: true") >= 2
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan
        # semantics: identical to the recompute-everything path
        expected = dedup.cross_corpus_near_dup(
            new, docs.filter(F.col("doc_id") % 2 == 0),
            jaccard_threshold=0.7)
        got = {r["doc_id"] for r in out.select("doc_id").collect()}
        want = {r["doc_id"] for r in expected.select("doc_id").collect()}
        assert got == want
    for t in ("pin9_store_bands", "pin9_store_shingles",
              "pin9_store_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_span_store_joins_never_exchange_store_side(spark):
    """`incremental_decontaminate_spans` against a `build_span_store`
    index: the anchors scan (joined twice — shared-anchor semi-join and
    reference-candidate lookup) and the texts scan must reach their
    joins with zero Exchange on the store side, and the result must
    equal the recompute-everything `cross_corpus_spans`."""
    from pipelinedp_spark.operators import dedup

    docs = _docs(spark).limit(120).select(
        "doc_id", F.concat(F.col("text"),
                           F.lit(" the planted benchmark question "
                                 "sentence for span store pin test"))
        .alias("text"))
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    for t in ("pin9s_store_anchors", "pin9s_store_texts",
              "pin9s_store_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    dedup.build_span_store(ref, "pin9s_store", min_len=48,
                           num_buckets=4)
    with scoped_conf(spark,
                     **{"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        out = dedup.incremental_decontaminate_spans(new, "pin9s_store")
        plan = P.explain_str(out)
        for store_scan in ("pin9s_store_anchors", "pin9s_store_texts"):
            chains = _ancestor_chains_until_join(plan, store_scan)
            assert chains, f"{store_scan} scan not in plan"
            for chain in chains:
                assert not any("Exchange" in n for n in chain), \
                    f"{store_scan} shuffles before its join: {chain}"
        got = {(r["doc_id"], r["span_start"], r["span_end"])
               for r in out.collect()}
        want = {(r["doc_id"], r["span_start"], r["span_end"])
                for r in dedup.cross_corpus_spans(
                    new, ref, min_len=48).collect()}
        assert got == want and got
    for t in ("pin9s_store_anchors", "pin9s_store_texts",
              "pin9s_store_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_store_compaction_dedupes_and_preserves_results(spark):
    """compaction: after a duplicate-introducing append, the exact
    store's fps table shrinks to distinct rows, stays bucketed (joins
    still exchange-free), and dedup results are unchanged."""
    from pipelinedp_spark.operators import dedup

    docs = _docs(spark).limit(80)
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    for t in ("pin9c_store_fps", "pin9c_store_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    dedup.build_exact_store(ref, "pin9c_store", num_buckets=4)
    before = dedup.incremental_exact_dedup(new, "pin9c_store")
    want = sorted(r["doc_id"] for r in before.select("doc_id").collect())
    # duplicate-introducing append (same reference again)
    dedup.build_exact_store(ref, "pin9c_store", num_buckets=4,
                            mode="append")
    n_raw = spark.table("pin9c_store_fps").count()
    store.compact(spark, "pin9c_store", "exact")
    n_compact = spark.table("pin9c_store_fps").count()
    assert n_compact * 2 == n_raw
    with scoped_conf(spark,
                     **{"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        after = dedup.incremental_exact_dedup(new, "pin9c_store")
        plan = P.explain_str(after)
        for chain in _ancestor_chains_until_join(plan,
                                                 "pin9c_store_fps"):
            assert not any("Exchange" in n for n in chain)
        got = sorted(r["doc_id"]
                     for r in after.select("doc_id").collect())
        assert got == want
    for t in ("pin9c_store_fps", "pin9c_store_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_store_compaction_minhash_and_span_kinds(spark):
    """Compaction on the minhash and span stores: a duplicate-
    introducing append doubles the table rows, compaction restores the
    distinct counts, and incremental results are unchanged."""
    from pipelinedp_spark.operators import dedup

    docs = _docs(spark).limit(60)
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    # minhash kind
    for t in ("pin9m_store_bands", "pin9m_store_shingles",
              "pin9m_store_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    dedup.build_minhash_store(ref, "pin9m_store", num_buckets=4)
    want = sorted(r["doc_id"] for r in dedup.incremental_near_dup(
        new, "pin9m_store", jaccard_threshold=0.7)
        .select("doc_id").collect())
    n0 = spark.table("pin9m_store_bands").count()
    dedup.build_minhash_store(ref, "pin9m_store", mode="append")
    assert spark.table("pin9m_store_bands").count() == 2 * n0
    store.compact(spark, "pin9m_store", "minhash")
    assert spark.table("pin9m_store_bands").count() == n0
    got = sorted(r["doc_id"] for r in dedup.incremental_near_dup(
        new, "pin9m_store", jaccard_threshold=0.7)
        .select("doc_id").collect())
    assert got == want
    for t in ("pin9m_store_bands", "pin9m_store_shingles",
              "pin9m_store_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    # span kind
    for t in ("pin9sp_store_anchors", "pin9sp_store_texts",
              "pin9sp_store_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    refs = ref.select("doc_id", F.concat(
        F.col("text"), F.lit(" a shared benchmark sentence long "
                             "enough to be a duplicated span"))
        .alias("text"))
    news = new.select("doc_id", F.concat(
        F.col("text"), F.lit(" a shared benchmark sentence long "
                             "enough to be a duplicated span"))
        .alias("text"))
    dedup.build_span_store(refs, "pin9sp_store", min_len=48,
                           num_buckets=4)
    want_sp = sorted(
        (r["doc_id"], r["span_start"], r["span_end"]) for r in
        dedup.incremental_decontaminate_spans(news, "pin9sp_store")
        .collect())
    a0 = spark.table("pin9sp_store_anchors").count()
    dedup.build_span_store(refs, "pin9sp_store", min_len=48,
                           mode="append")
    assert spark.table("pin9sp_store_anchors").count() == 2 * a0
    store.compact(spark, "pin9sp_store", "span")
    assert spark.table("pin9sp_store_anchors").count() == a0
    got_sp = sorted(
        (r["doc_id"], r["span_start"], r["span_end"]) for r in
        dedup.incremental_decontaminate_spans(news, "pin9sp_store")
        .collect())
    assert got_sp == want_sp and want_sp
    for t in ("pin9sp_store_anchors", "pin9sp_store_texts",
              "pin9sp_store_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_incremental_store_append_grows_index(spark):
    """mode='append' must extend the store (new reference docs become
    matchable) and reject mismatched fingerprint knobs."""
    import pytest

    from pipelinedp_spark.operators import dedup

    docs = _docs(spark).limit(90)
    for t in ("pin9a_store_bands", "pin9a_store_shingles",
              "pin9a_store_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    first = docs.filter(F.col("doc_id") % 3 == 0)
    second = docs.filter(F.col("doc_id") % 3 == 1)
    dedup.build_minhash_store(first, "pin9a_store", k=3, num_buckets=4)
    # a batch equal to `second` survives fully against first alone...
    batch = second
    before = dedup.incremental_near_dup(
        batch, "pin9a_store", jaccard_threshold=0.99).count()
    assert before == batch.count()
    # ...but after appending `second` to the store, every batch doc has
    # an exact twin (jaccard 1.0) and is dropped
    dedup.build_minhash_store(second, "pin9a_store", k=3, num_buckets=4,
                              mode="append")
    after = dedup.incremental_near_dup(
        batch, "pin9a_store", jaccard_threshold=0.99).count()
    assert after == 0
    with pytest.raises(ValueError, match="was built with"):
        dedup.build_minhash_store(second, "pin9a_store", k=4,
                                  num_buckets=4, mode="append")
    for t in ("pin9a_store_bands", "pin9a_store_shingles",
              "pin9a_store_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_phash_store_joins_never_exchange_store_side(spark):
    """`incremental_phash_dedup`: blocks and hashes scans must reach
    their joins with zero store-side Exchange, and flags must match
    the from-scratch `phash_dedup` ground truth on a planted set."""
    import numpy as np
    import pandas as pd

    from pipelinedp_spark.operators import multimodal as MM

    ids = spark.range(60).select(F.col("id").alias("doc_id"))

    def gen(it):
        i, j = np.meshgrid(np.arange(32), np.arange(32), indexing="ij")
        for pdf in it:
            vals = pdf["doc_id"].astype("int64")
            payloads = []
            for d in vals:
                g = int(d) % 7
                px = ((13 * ((i * (g + 3) + j) % 23)
                       + g * 29) % 200 + (int(d) % 4) * 5) \
                    .astype(np.uint8)
                payloads.append(MM.encode_bmp(px))
            yield pd.DataFrame({"doc_id": vals, "image": payloads})

    imgs = ids.mapInPandas(gen, "doc_id long, image binary")
    ref = imgs.filter((F.col("doc_id") % 2 == 0)
                      & (F.col("doc_id") % 7 < 5))
    batch = imgs.filter(F.col("doc_id") % 2 == 1)
    MM.build_phash_store(ref, "pin9p_store", max_hamming=1,
                         num_blocks=4, num_buckets=4)
    with scoped_conf(spark,
                     **{"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        out = MM.incremental_phash_dedup(batch, "pin9p_store")
        plan = P.explain_str(out)
        chains = _ancestor_chains_until_join(plan, "pin9p_store_blocks")
        assert chains, "pin9p_store_blocks scan not in plan"
        for chain in chains:
            assert not any("Exchange" in n for n in chain), \
                f"store shuffles before its join: {chain}"
        got = {r["doc_id"]: r["is_dup"] for r in out.collect()}
        # planted truth: odd doc dup iff its class (mod 7) is < 5
        assert got == {d: (d % 7) < 5 for d in range(1, 60, 2)}
    for t in ("pin9p_store_blocks", "pin9p_store_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_exact_store_anti_join_never_exchanges_store_side(spark):
    """`incremental_exact_dedup`: the fingerprint-store scan must reach
    the anti-join with zero Exchange, and results must equal
    `cross_corpus_dedup` on the same split."""
    from pipelinedp_spark.operators import dedup

    docs = _docs(spark).limit(100)
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    dedup.build_exact_store(ref, "pin9e_store", num_buckets=4)
    with scoped_conf(spark,
                     **{"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        out = dedup.incremental_exact_dedup(new, "pin9e_store")
        plan = P.explain_str(out)
        chains = _ancestor_chains_until_join(plan, "pin9e_store_fps")
        assert chains
        for chain in chains:
            assert not any("Exchange" in n for n in chain), \
                f"store shuffles before its anti-join: {chain}"
        got = {r["doc_id"] for r in out.select("doc_id").collect()}
        want = {r["doc_id"] for r in dedup.cross_corpus_dedup(new, ref)
                .select("doc_id").collect()}
        assert got == want
    for t in ("pin9e_store_fps", "pin9e_store_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ann_index_partition_prunes_and_matches_ivf_pq(spark):
    """`ann_search_from_index`: the codes scan must carry a cell
    PartitionFilter (only nprobe/num_cells of the index partitions are
    read — the IVF property as partition pruning), queries must
    broadcast into the pruned scan, and results must equal
    `ivf_pq_topk` with the same persisted models."""
    import re as _re

    from pipelinedp_spark.operators import similarity

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")
    q = (emb.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    similarity.build_ann_index(emb, "pin9v_idx", num_cells=8, m=4,
                               ksub=16)
    out = similarity.ann_search_from_index(q, "pin9v_idx", k=5,
                                           nprobe=2)
    plan = P.explain_str(out)
    mm = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert mm and "cell" in mm.group(1), plan[:2000]
    assert P.has_broadcast_join(out)
    got = [(r["query_id"], r["vec_id"], r["rank"], r["adist"])
           for r in out.collect()]
    # shared models: read them back from the store
    import numpy as np
    cts = np.array([r["cv"] for r in spark.table("pin9v_idx_centroids")
                    .orderBy("cell").collect()])
    meta = spark.table("pin9v_idx_meta").collect()[0]
    cb = np.array([r["c"] for r in spark.table("pin9v_idx_codebooks")
                   .orderBy("sub", "idx").collect()]).reshape(
        int(meta["m"]), int(meta["ksub"]), int(meta["subdim"]))
    want = [(r["query_id"], r["vec_id"], r["rank"], r["adist"])
            for r in similarity.ivf_pq_topk(
                emb, q, k=5, nprobe=2, centroids=cts,
                codebooks=cb).collect()]
    assert sorted(got) == sorted(want) and got
    # append an increment: the new vectors become findable with the
    # SAME models (no retraining, codes land in their cell partitions)
    extra = emb.filter((F.col("vec_id") >= 3) & (F.col("vec_id") < 6)) \
        .select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    similarity.build_ann_index(extra, "pin9v_idx", mode="append")
    q2 = (extra.limit(1)
          .select(F.lit(99).alias("query_id"),
                  F.col("embedding").alias("query_vec")))
    res2 = similarity.ann_search_from_index(q2, "pin9v_idx", k=2,
                                            nprobe=2).collect()
    # both the original and the appended copy carry identical codes:
    # the appended id must now be findable (top-2 with its original)
    assert any(r["vec_id"] >= 100000 for r in res2), res2
    for t in ("pin9v_idx_codes", "pin9v_idx_centroids",
              "pin9v_idx_codebooks", "pin9v_idx_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bm25_index_joins_never_exchange_index_side(spark):
    """`bm25_topk_from_index`: postings and terms scans must reach
    their joins with zero Exchange on the index side (postings joins
    the broadcast query terms; terms co-partitions with the bucketed
    postings), and results must equal the from-scratch `bm25_topk`
    exactly (scores, ranks, tie-breaks)."""
    from pipelinedp_spark.operators import retrieval

    docs = _docs(spark).limit(150)
    q = spark.sql("SELECT * FROM VALUES (0, 'hash join merge'), "
                  "(1, 'scan filter column') AS t(query_id, query_text)")
    retrieval.build_bm25_index(docs, "pin9b_idx", num_buckets=4)
    with scoped_conf(spark,
                     **{"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        out = retrieval.bm25_topk_from_index(q, "pin9b_idx", k=10)
        plan = P.explain_str(out)
        for scan in ("pin9b_idx_postings", "pin9b_idx_terms"):
            chains = _ancestor_chains_until_join(plan, scan)
            assert chains, f"{scan} scan not in plan"
            for chain in chains:
                assert not any("Exchange" in n for n in chain), \
                    f"{scan} shuffles before its join: {chain}"
        got = [(r["query_id"], r["doc_id"], r["rank"], r["score"])
               for r in out.collect()]
        want = [(r["query_id"], r["doc_id"], r["rank"], r["score"])
                for r in retrieval.bm25_topk(docs, q, k=10).collect()]
        assert sorted(got) == sorted(want) and got
    for t in ("pin9b_idx_postings", "pin9b_idx_terms", "pin9b_idx_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _entry():
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "entry_mod_r9", "/root/repo/__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_tpch_q1_pushdown_and_partial_agg(spark):
    """Q1: the shipdate filter must reach the parquet scan and the
    6-metric aggregate must have a map-side partial; no joins at all."""
    out = _entry().queries()["tpch_q1_pricing"](spark, SF)
    plan = P.explain_str(out)
    assert "PushedFilters:" in plan
    assert re.search(r"PushedFilters:.*l_shipdate", plan)
    assert P.has_partial_aggregation(out)
    assert "Join" not in plan


def test_tpch_q3_broadcast_dim_and_topk(spark):
    """Q3: customer (filtered dim) must broadcast into the orders join
    — never a shuffle of the fact side for a dim lookup — and the
    top-k must compile to TakeOrderedAndProject, not a global sort."""
    out = _entry().queries()["tpch_q3_priority"](spark, SF)
    plan = P.explain_str(out)
    assert P.has_broadcast_join(out)
    assert "TakeOrderedAndProject" in plan
    assert re.search(r"PushedFilters:.*(o_orderdate|c_mktsegment)", plan)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_tpch_q18_partial_agg_broadcast_topk(spark):
    """Q18: the hot-orderkey HAVING aggregate must partial-combine
    map-side (a popular order never serializes onto one task), customer
    must broadcast, and the top-100 must be TakeOrderedAndProject."""
    out = _entry().queries()["tpch_q18_large_orders"](spark, SF)
    plan = P.explain_str(out)
    assert P.has_partial_aggregation(out)
    assert P.has_broadcast_join(out)
    assert "TakeOrderedAndProject" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_tpch_q10_pushdown_broadcast_topk(spark):
    """Q10: returnflag + both date bounds pushed to the scans, customer
    and nation broadcast, top-20 as TakeOrderedAndProject."""
    out = _entry().queries()["tpch_q10_returned_items"](spark, SF)
    plan = P.explain_str(out)
    assert re.search(r"PushedFilters:.*l_returnflag", plan)
    assert re.search(r"PushedFilters:.*o_orderdate", plan)
    assert P.has_broadcast_join(out)
    assert "TakeOrderedAndProject" in plan
    assert P.has_partial_aggregation(out)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_tpch_q16_distinct_edges_broadcast_topk(spark):
    """Q16: part predicates pushed to its scan, the filtered dim
    broadcasts, the (part, supp) edge dedup partial-combines, top-40 is
    TakeOrderedAndProject."""
    out = _entry().queries()["tpch_q16_supplier_variety"](spark, SF)
    plan = P.explain_str(out)
    assert re.search(r"PushedFilters:.*(p_brand|p_type)", plan)
    assert P.has_broadcast_join(out)
    assert P.has_partial_aggregation(out)
    assert "TakeOrderedAndProject" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_tpch_q5_broadcast_dims(spark):
    """Q5: region/nation (and the small dim chain) broadcast; the only
    shuffle-scale joins are fact-fact; date filter pushed down."""
    out = _entry().queries()["tpch_q5_local_supplier"](spark, SF)
    plan = P.explain_str(out)
    assert P.has_broadcast_join(out)
    assert re.search(r"PushedFilters:.*o_orderdate", plan)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert P.has_partial_aggregation(out)
