"""Tests for the round-5 batch-2 LLM-pipeline operators: semantic
dedup (SemDeDup-style), duplicated-span detection (ExactSubstr-style),
and unigram-LM perplexity."""

import math

import numpy as np
import pytest

from pyspark.sql import functions as F

from pipelinedp_spark.operators import graph
from pipelinedp_spark.operators.quality import unigram_perplexity
from pipelinedp_spark.operators.dedup import duplicate_spans
from pipelinedp_spark.operators.semdedup import semantic_dedup


# ---------------------------------------------------------------------------
# semantic_dedup
# ---------------------------------------------------------------------------

def _vec_rows(vectors):
    return [(i, [float(x) for x in v]) for i, v in enumerate(vectors)]


def test_semantic_dedup_marks_later_near_duplicate(spark):
    # Two tight groups on orthogonal axes plus one singleton; within each
    # group every member after the first (by id) must be marked.
    vecs = [
        [1.0, 0.0, 0.0, 0.0],       # id 0 — kept (first of group A)
        [0.99, 0.05, 0.0, 0.0],     # id 1 — dup of 0
        [0.0, 1.0, 0.0, 0.0],       # id 2 — kept (first of group B)
        [0.05, 0.99, 0.0, 0.0],     # id 3 — dup of 2
        [0.0, 0.0, 1.0, 0.0],       # id 4 — singleton, kept
    ]
    df = spark.createDataFrame(_vec_rows(vecs), "vec_id long, embedding array<double>")
    cents = np.array([[1.0, 0, 0, 0], [0, 1.0, 0, 0], [0, 0, 1.0, 0]])
    out = semantic_dedup(df, num_clusters=3, cosine_threshold=0.9,
                         centroids=cents)
    got = {r["vec_id"]: r["is_dup"] for r in out.collect()}
    assert got == {0: False, 1: True, 2: False, 3: True, 4: False}


def test_semantic_dedup_cross_cluster_pairs_never_compared(spark):
    # Identical vectors forced into different cells by explicit centroids
    # are NOT compared — the clustering is the approximation boundary.
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 0.9])],
        "vec_id long, embedding array<double>")
    cents = np.array([[1.0, 0.0], [0.0, 1.0]])
    out = semantic_dedup(df, num_clusters=2, cosine_threshold=0.5,
                         centroids=cents)
    got = {r["vec_id"]: (r["cell"], r["is_dup"]) for r in out.collect()}
    assert got[0] == (0, False)
    assert got[1][1] is False     # first in its cell
    assert got[2] == (1, True)    # same cell as 1, cos = 1.0


def test_semantic_dedup_trains_when_no_centroids(spark):
    rng = np.random.default_rng(3)
    base = rng.normal(size=(6, 8))
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, list(map(float, v))))
        rows.append((2 * i + 1, list(map(float, v * 1.001))))  # near-dup
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, num_clusters=3, cosine_threshold=0.999,
                         sample_size=100)
    got = {r["vec_id"]: r["is_dup"] for r in out.collect()}
    # Every odd id shares a cell with its even twin (identical direction
    # -> identical argmax cell), so all odd ids are dups, evens kept.
    assert all(got[2 * i + 1] for i in range(6))
    assert not any(got[2 * i] for i in range(6))


def test_semantic_dedup_cluster_cap_raises(spark):
    df = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(10)],
        "vec_id long, embedding array<double>")
    cents = np.array([[1.0, 0.0]])
    out = semantic_dedup(df, num_clusters=1, cosine_threshold=0.9,
                         centroids=cents, max_cluster_rows=5)
    with pytest.raises(Exception, match="max_cluster_rows"):
        out.collect()


# ---------------------------------------------------------------------------
# duplicate_spans
# ---------------------------------------------------------------------------

def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


def test_duplicate_spans_keeps_first_occurrence(spark):
    shared = "a b c d e f g h"           # exactly k=8 tokens
    df = _docs(spark, [shared + " x y z",
                       "p q " + shared,
                       "unrelated words only here nothing repeats at all"])
    out = {(r["doc_id"], r["span_start"], r["span_end"])
           for r in duplicate_spans(df, k=8).collect()}
    # Only doc 1's copy is cut; doc 0 (globally first) untouched.
    assert out == {(1, 2, 10)}


def test_duplicate_spans_merges_overlapping_windows(spark):
    # A duplicated run of 10 tokens => 3 overlapping 8-windows in the
    # second doc that must merge into ONE [start, start+10) range.
    run = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"
    df = _docs(spark, [run, "zz " + run])
    out = duplicate_spans(df, k=8).collect()
    assert [(r["doc_id"], r["span_start"], r["span_end"])
            for r in out] == [(1, 1, 11)]


def test_duplicate_spans_short_docs_skipped(spark):
    df = _docs(spark, ["a b c", "a b c"])   # < k tokens: no windows
    assert duplicate_spans(df, k=8).count() == 0


def test_duplicate_spans_within_doc_repeat(spark):
    run = "r1 r2 r3 r4 r5 r6 r7 r8"
    df = _docs(spark, [run + " mid " + run])
    out = duplicate_spans(df, k=8).collect()
    assert [(r["doc_id"], r["span_start"], r["span_end"])
            for r in out] == [(0, 9, 17)]


def test_duplicate_spans_unmerged_mode(spark):
    shared = "a b c d e f g h"
    df = _docs(spark, [shared, shared])
    raw = duplicate_spans(df, k=8, merge=False).collect()
    assert [(r["doc_id"], r["pos"]) for r in raw] == [(1, 0)]


# ---------------------------------------------------------------------------
# unigram_perplexity
# ---------------------------------------------------------------------------

def test_unigram_perplexity_matches_hand_computation(spark):
    df = _docs(spark, ["a a b", "b c"])
    # counts: a=2, b=2, c=1, N=5
    out = {r["doc_id"]: (r["n_tokens"], r["ppl"])
           for r in unigram_perplexity(df).collect()}
    ppl0 = math.exp(math.log(5) - (2 * math.log(2) + math.log(2)) / 3)
    ppl1 = math.exp(math.log(5) - (math.log(2) + math.log(1)) / 2)
    assert out[0][0] == 3 and out[1][0] == 2
    assert out[0][1] == pytest.approx(ppl0, abs=1e-6)
    assert out[1][1] == pytest.approx(ppl1, abs=1e-6)


def test_unigram_perplexity_common_tokens_score_lower(spark):
    common = " ".join(["the"] * 20)
    rare_words = " ".join(f"w{i}" for i in range(20))
    df = _docs(spark, [common, rare_words, common])
    out = {r["doc_id"]: r["ppl"] for r in unigram_perplexity(df).collect()}
    assert out[0] < out[1]
    assert out[0] == out[2]


def test_unigram_perplexity_shuffle_join_variant_matches(spark):
    df = _docs(spark, ["x y z x", "y y q"])
    a = sorted(unigram_perplexity(df, broadcast_vocab=True).collect())
    b = sorted(unigram_perplexity(df, broadcast_vocab=False).collect())
    assert a == b


# ---------------------------------------------------------------------------
# chunk_documents
# ---------------------------------------------------------------------------

def test_chunk_documents_covers_all_tokens_with_overlap(spark):
    from pipelinedp_spark.operators.packing import chunk_documents
    df = _docs(spark, [" ".join(f"t{i}" for i in range(10))])
    rows = sorted(chunk_documents(df, chunk_tokens=4, overlap=1).collect(),
                  key=lambda r: r["chunk_idx"])
    assert [r["chunk"] for r in rows] == \
        ["t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9"]
    assert [r["n_tokens"] for r in rows] == [4, 4, 4]


def test_chunk_documents_short_doc_single_chunk(spark):
    from pipelinedp_spark.operators.packing import chunk_documents
    df = _docs(spark, ["a b"])
    rows = chunk_documents(df, chunk_tokens=8, overlap=2).collect()
    assert len(rows) == 1
    assert rows[0]["chunk"] == "a b" and rows[0]["n_tokens"] == 2


def test_chunk_documents_ragged_tail(spark):
    from pipelinedp_spark.operators.packing import chunk_documents
    df = _docs(spark, [" ".join(f"t{i}" for i in range(9))])
    rows = sorted(chunk_documents(df, chunk_tokens=4, overlap=0).collect(),
                  key=lambda r: r["chunk_idx"])
    assert [r["n_tokens"] for r in rows] == [4, 4, 1]
    assert rows[-1]["chunk"] == "t8"


def test_chunk_documents_rejects_bad_overlap(spark):
    from pipelinedp_spark.operators.packing import chunk_documents
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(_docs(spark, ["a"]), chunk_tokens=4, overlap=4)


# ---------------------------------------------------------------------------
# duplicate_spans property: planted-run recovery
# ---------------------------------------------------------------------------

def test_duplicate_spans_recovers_planted_runs_exactly(spark):
    """For every planted duplicated run of length L >= k at offset p,
    the merged output must contain exactly [p, p+L) — the fixed-k
    window approximation is lossless above k (docstring guarantee)."""
    import random
    rng = random.Random(11)
    k = 8
    cases = []
    for case in range(6):
        run_len = rng.randint(k, k + 12)
        run = [f"r{case}_{j}" for j in range(run_len)]
        prefix = [f"p{case}_{j}" for j in range(rng.randint(0, 10))]
        suffix = [f"s{case}_{j}" for j in range(rng.randint(0, 10))]
        # doc A carries the original, doc B the re-occurrence.
        cases.append((2 * case, " ".join(run),
                      2 * case + 1,
                      " ".join(prefix + run + suffix),
                      len(prefix), len(prefix) + run_len))
    rows = []
    for a_id, a_text, b_id, b_text, _, _ in cases:
        rows.append((a_id, a_text))
        rows.append((b_id, b_text))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_id"], r["span_start"], r["span_end"])
           for r in duplicate_spans(df, k=k).collect()}
    want = {(b_id, s, e) for _, _, b_id, _, s, e in cases}
    assert got == want


# ---------------------------------------------------------------------------
# semantic_pairs / semantic clusters
# ---------------------------------------------------------------------------

def test_semantic_pairs_within_cell_only(spark):
    from pipelinedp_spark.operators.semdedup import semantic_pairs
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.99, 0.01]), (2, [0.0, 1.0]),
         (3, [0.01, 0.99])],
        "vec_id long, embedding array<double>")
    cents = np.array([[1.0, 0.0], [0.0, 1.0]])
    got = {(r["id_a"], r["id_b"])
           for r in semantic_pairs(df, cosine_threshold=0.9,
                                   centroids=cents).collect()}
    assert got == {(0, 1), (2, 3)}


def test_semantic_pairs_feed_connected_components(spark):
    from pipelinedp_spark.operators.graph import near_dup_clusters
    from pipelinedp_spark.operators.semdedup import semantic_pairs
    # Chain 0-1, 1-2 inside one cell -> one cluster {0,1,2}; 3 alone.
    # Angles 0/8/16 deg: cos(8deg)=0.990 >= thr, cos(16deg)=0.961 < thr.
    import math as m
    ang = lambda d: [m.cos(m.radians(d)), m.sin(m.radians(d))]
    df = spark.createDataFrame(
        [(0, ang(0)), (1, ang(8)), (2, ang(16)), (3, [-1.0, 0.0])],
        "vec_id long, embedding array<double>")
    cents = np.array([[1.0, 0.15], [-1.0, 0.0]])
    pairs = semantic_pairs(df, cosine_threshold=0.98, centroids=cents)
    out = {r["vec_id"]: r["cluster_id"]
           for r in near_dup_clusters(df.select("vec_id"), pairs,
                                      id_col="vec_id").collect()}
    assert out[0] == out[1] == out[2] == 0
    assert out[3] == 3


# ---------------------------------------------------------------------------
# connected_components: the size-gated driver path and the distributed
# frontier loop give the identical min-id labeling, on cluster-ish graphs
# and on long chains (the pointer-jumping bound max_iter relies on)
# ---------------------------------------------------------------------------

def _cc(spark, edges, **conf):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    old = {}
    for k, v in conf.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        out = {(r["node"], r["component"])
               for r in graph.connected_components(df).collect()}
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return out


GRAPHS = [
    # two triangles + a bridge + an isolated edge
    [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10), (3, 10),
     (100, 101)],
    # star
    [(5, 1), (5, 2), (5, 3), (5, 4)],
    # duplicate + reversed edges
    [(1, 2), (2, 1), (1, 2), (7, 8)],
    # self-loop only
    [(4, 4)],
]


@pytest.mark.parametrize("edges", GRAPHS)
def test_cc_driver_and_distributed_paths_agree(spark, edges):
    fast = _cc(spark, edges)
    dist = _cc(spark, edges,
               **{"spark.pipelinedp.graph.maxDriverEdges": "0"})
    assert fast == dist
    # labels are component minima
    comp_members: dict = {}
    for n, c in fast:
        comp_members.setdefault(c, []).append(n)
    for c, members in comp_members.items():
        assert c == min(members)


def test_cc_distributed_long_chain_converges(spark):
    """A 300-node path graph has diameter 299: plain propagation would
    blow max_iter=25, so this pins that the reworked loop kept pointer
    jumping's logarithmic collapse."""
    edges = [(i, i + 1) for i in range(300)]
    dist = _cc(spark, edges,
               **{"spark.pipelinedp.graph.maxDriverEdges": "0"})
    assert dist == {(i, 0) for i in range(301)}


def test_cc_empty_edges_both_paths(spark):
    assert _cc(spark, [],) == set()
    assert _cc(spark, [],
               **{"spark.pipelinedp.graph.maxDriverEdges": "0"}) == set()


# ---------------------------------------------------------------------------
# cross_corpus_near_dup
# ---------------------------------------------------------------------------

def test_cross_corpus_near_dup_drops_near_matches_only(spark):
    from pipelinedp_spark.operators.dedup import cross_corpus_near_dup
    base = " ".join(f"w{i}" for i in range(40))
    near = " ".join(f"w{i}" for i in range(39)) + " changed"
    ref = spark.createDataFrame([(0, base)], "doc_id long, text string")
    new = spark.createDataFrame(
        [(101, near),                                  # near-dup of ref
         (102, " ".join(f"x{i}" for i in range(40))),  # novel
         (103, base)],                                 # exact dup of ref
        "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in
                  cross_corpus_near_dup(new, ref,
                                        jaccard_threshold=0.7).collect())
    assert kept == [102]


def test_cross_corpus_near_dup_empty_reference_keeps_all(spark):
    from pipelinedp_spark.operators.dedup import cross_corpus_near_dup
    new = spark.createDataFrame([(1, "a b c d e")],
                                "doc_id long, text string")
    ref = new.filter("doc_id < 0")
    assert cross_corpus_near_dup(new, ref).count() == 1


# ---------------------------------------------------------------------------
# bigram_perplexity
# ---------------------------------------------------------------------------

def test_bigram_perplexity_matches_hand_computation(spark):
    from pipelinedp_spark.operators.quality import bigram_perplexity
    df = _docs(spark, ["a b a b", "a b"])
    # unigrams: a=3, b=3, N=6. bigrams: (a,b)=3, (b,a)=1.
    out = {r["doc_id"]: (r["n_tokens"], r["ppl"])
           for r in bigram_perplexity(df, lam=0.75).collect()}
    lam, N = 0.75, 6.0
    p_ab = lam * (3 / 3) + (1 - lam) * (3 / N)
    p_ba = lam * (1 / 3) + (1 - lam) * (3 / N)
    lp0 = (math.log(3) - math.log(N)) + math.log(p_ab) \
        + math.log(p_ba) + math.log(p_ab)
    lp1 = (math.log(3) - math.log(N)) + math.log(p_ab)
    assert out[0][0] == 4 and out[1][0] == 2
    assert out[0][1] == pytest.approx(math.exp(-lp0 / 4), abs=1e-5)
    assert out[1][1] == pytest.approx(math.exp(-lp1 / 2), abs=1e-5)


def test_bigram_perplexity_predictable_text_scores_lower(spark):
    from pipelinedp_spark.operators.quality import bigram_perplexity
    predictable = " ".join(["x y"] * 15)
    scrambled = "y y x x y x y y x x " + " ".join(
        f"z{i}" for i in range(20))
    df = _docs(spark, [predictable, scrambled])
    out = {r["doc_id"]: r["ppl"] for r in bigram_perplexity(df).collect()}
    assert out[0] < out[1]


def test_bigram_perplexity_single_token_doc(spark):
    from pipelinedp_spark.operators.quality import bigram_perplexity
    df = _docs(spark, ["solo", "solo pair"])
    out = {r["doc_id"]: r["n_tokens"]
           for r in bigram_perplexity(df).collect()}
    assert out == {0: 1, 1: 2}


def test_semantic_dedup_recall_at_realistic_cluster_count(spark):
    """Recall gate at production-ish settings: 300 corpus vectors in
    64-d, 32 trained clusters, 60 planted tight near-dups (cos ~0.9998).
    A planted pair is missed only when the two vectors straddle a cell
    boundary; at this tightness that should be rare — pin recall >= 0.9
    so knob changes that quietly break the useful regime fail tests."""
    rng = np.random.default_rng(17)
    base = rng.normal(size=(300, 64))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    # 60 planted dups: tiny perturbation of vectors 0..59, ids 1000+.
    planted = []
    for i in range(60):
        v = base[i] + rng.normal(scale=0.01, size=64)
        rows.append((1000 + i, [float(x) for x in v]))
        planted.append(1000 + i)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, num_clusters=32, cosine_threshold=0.999,
                         sample_size=1000)
    flagged = {r["vec_id"] for r in out.collect() if r["is_dup"]}
    recall = len(flagged & set(planted)) / len(planted)
    assert recall >= 0.9, f"recall {recall}"
    # No spurious dups among well-separated random 64-d originals.
    assert not any(v < 1000 for v in flagged)


# ---------------------------------------------------------------------------
# hashed_embeddings
# ---------------------------------------------------------------------------

def test_hashed_embeddings_match_reference_vectors(spark):
    from pipelinedp_spark.functions.embeddings import (hashed_embeddings,
                                                       token_vector)
    df = _docs(spark, ["alpha beta alpha"])
    out = hashed_embeddings(df, dim=16).collect()[0]["embedding"]
    ref = 2 * token_vector("alpha") + token_vector("beta")
    ref = ref / np.linalg.norm(ref)
    assert np.allclose(out, np.round(ref, 6), atol=1e-6)


def test_hashed_embeddings_similar_docs_high_cosine(spark):
    from pipelinedp_spark.functions.embeddings import hashed_embeddings
    a = " ".join(f"w{i}" for i in range(50))
    near = a + " extra"
    far = " ".join(f"q{i}" for i in range(50))
    df = _docs(spark, [a, near, far])
    vecs = {r["doc_id"]: np.array(r["embedding"])
            for r in hashed_embeddings(df, dim=16).collect()}
    cos = lambda x, y: float(x @ y)   # already unit-norm
    assert cos(vecs[0], vecs[1]) > 0.95
    assert abs(cos(vecs[0], vecs[2])) < 0.8


def test_hashed_embeddings_feed_semantic_dedup(spark):
    """End-to-end text -> embed -> SemDeDup with no external model."""
    from pipelinedp_spark.functions.embeddings import hashed_embeddings
    base = " ".join(f"tok{i}" for i in range(60))
    df = _docs(spark, [base, base + " tail", 
                       " ".join(f"other{i}" for i in range(60))])
    emb = hashed_embeddings(df, dim=16).withColumnRenamed(
        "doc_id", "vec_id")
    out = {r["vec_id"]: r["is_dup"]
           for r in semantic_dedup(emb, num_clusters=2,
                                   cosine_threshold=0.95,
                                   sample_size=100).collect()}
    assert out[0] is False and out[1] is True and out[2] is False


def test_hashed_embeddings_dim_validation(spark):
    from pipelinedp_spark.functions.embeddings import hashed_embeddings
    with pytest.raises(ValueError, match="dim"):
        hashed_embeddings(_docs(spark, ["x"]), dim=17)


# ---------------------------------------------------------------------------
# oversize-cell auto-split
# ---------------------------------------------------------------------------

def test_semantic_dedup_auto_splits_oversize_cluster(spark):
    # A single coarse centroid swallows 2x the cap, but the data is two
    # distinct tight groups -> refine_oversize_cells separates them and
    # the dedup completes without raising, keeping one doc per group.
    rows = [(i, [1.0, 0.0, 0.0]) for i in range(20)] + \
           [(i, [0.0, 0.0, 1.0]) for i in range(20, 40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = np.array([[0.7, 0.0, 0.7]])   # one cell captures all 40 rows
    out = semantic_dedup(df, cosine_threshold=0.9, centroids=cents,
                         max_cluster_rows=25).collect()
    got = {r["vec_id"]: r["is_dup"] for r in out}
    assert len(got) == 40
    assert not got[0] and all(got[i] for i in range(1, 20))
    assert not got[20] and all(got[i] for i in range(21, 40))
    # The two groups really did land in different sub-cells.
    cells = {r["vec_id"]: r["cell"] for r in out}
    assert cells[0] != cells[20]


def test_semantic_dedup_unsplittable_cluster_still_raises(spark):
    # > cap copies of ONE point cannot be split by re-quantizing; the
    # cap check must still fire after the refinement rounds give up.
    df = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(10)],
        "vec_id long, embedding array<double>")
    cents = np.array([[1.0, 0.0]])
    out = semantic_dedup(df, num_clusters=1, cosine_threshold=0.9,
                         centroids=cents, max_cluster_rows=5)
    with pytest.raises(Exception, match="max_cluster_rows"):
        out.collect()


def test_refine_oversize_cells_leaves_under_cap_cells_untouched(spark):
    from pipelinedp_spark.operators.semdedup import refine_oversize_cells
    from pyspark.sql import functions as F
    rows = [(i, [1.0, 0.0], 0) for i in range(15)] + \
           [(i, [0.0, 1.0], 0) for i in range(15, 30)] + \
           [(i, [0.5, 0.5], 7) for i in range(30, 33)]
    cells = spark.createDataFrame(
        rows, "_id long, _vec array<double>, cell int")
    out = refine_oversize_cells(cells, max_cluster_rows=20).collect()
    by_cell = {}
    for r in out:
        by_cell.setdefault(r["cell"], []).append(r["_id"])
    # Every final cell is under the cap.
    assert all(len(v) <= 20 for v in by_cell.values())
    # The under-cap cell kept its id and members.
    assert sorted(by_cell[7]) == [30, 31, 32]
    # The oversize cell's two point groups were separated intact.
    groups = [sorted(v) for c, v in by_cell.items() if c != 7]
    assert sorted(groups) == [list(range(15)), list(range(15, 30))]


def test_refine_oversize_cells_noop_under_cap(spark):
    from pipelinedp_spark.operators.semdedup import refine_oversize_cells
    rows = [(i, [1.0, 0.0], 3) for i in range(5)]
    cells = spark.createDataFrame(
        rows, "_id long, _vec array<double>, cell int")
    out = sorted((r["_id"], r["cell"])
                 for r in refine_oversize_cells(cells, 100).collect())
    assert out == [(i, 3) for i in range(5)]


# ---------------------------------------------------------------------------
# ngram_novelty / cap_per_key
# ---------------------------------------------------------------------------

def test_ngram_novelty_hand_computed(spark):
    from pipelinedp_spark.operators.quality import ngram_novelty
    shared = "a b c d e"              # the one 5-gram both docs contain
    texts = [shared + " f g",         # grams: abcde, bcdef, cdefg (3)
             "x " + shared,           # grams: xabcd, abcde (2)
             "p q r"]                 # short doc: single whole-text gram
    out = {r["doc_id"]: (r["n_grams"], r["novelty"])
           for r in ngram_novelty(_docs(spark, texts), n=5).collect()}
    assert out[0] == (3, pytest.approx(2 / 3, abs=1e-6))   # abcde shared
    assert out[1] == (2, pytest.approx(0.5))
    assert out[2] == (1, pytest.approx(1.0))


def test_ngram_novelty_identical_docs_score_zero(spark):
    from pipelinedp_spark.operators.quality import ngram_novelty
    texts = ["one two three four five six"] * 2
    out = ngram_novelty(_docs(spark, texts), n=5).collect()
    assert all(r["novelty"] == 0.0 for r in out)


def test_cap_per_key_keeps_lowest_ids(spark):
    from pipelinedp_spark.functions.sampling import cap_per_key
    rows = [(i, "big") for i in range(10)] + [(100, "small"), (101, "small")]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = {}
    for r in cap_per_key(df, "source", 3, "doc_id").collect():
        got.setdefault(r["source"], []).append(r["doc_id"])
    assert sorted(got["big"]) == [0, 1, 2]
    assert sorted(got["small"]) == [100, 101]


def test_cap_per_key_compiles_to_window_group_limit(spark):
    from pipelinedp_spark.functions.sampling import cap_per_key
    df = spark.createDataFrame([(i, i % 3) for i in range(30)],
                               "doc_id long, k int")
    plan = cap_per_key(df, "k", 2, "doc_id") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_gopher_quality_filter_rules(spark):
    from pipelinedp_spark.operators.quality import gopher_quality_filter
    good = ("the quick brown fox jumps over lazy dogs and rivers "
            "flow to the distant valley of light with many bright "
            "colors during early spring mornings")
    bullets = "\n".join(["- item one two three"] * 20)
    short = "too short"
    reps = " ".join(["dup dup dup dup dup"] * 20)
    df = spark.createDataFrame(
        [(0, good), (1, bullets), (2, short), (3, reps)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_quality_filter(
        df, min_words=10).collect()}
    assert out[0]["passes"]
    assert not out[1]["ok_lines"] and not out[1]["passes"]
    assert not out[2]["ok_words"] and not out[2]["passes"]
    assert not out[3]["ok_top2gram"] and not out[3]["passes"]
    assert not out[3]["ok_stopwords"]      # 'dup' only, no stopwords


# ---------------------------------------------------------------------------
# duplicate_spans_exact (character-level ExactSubstr, Lee et al. 2107.06499)
# ---------------------------------------------------------------------------

def test_duplicate_spans_exact_basic_and_first_kept(spark):
    from pipelinedp_spark.operators.dedup import duplicate_spans_exact
    shared = "The quick brown fox jumps over the lazy dog tonight."  # 53ch
    df = _docs(spark, [shared + " And some trailing original text here.",
                       "PREFIX: " + shared,
                       "completely unrelated content with no repeats xyz"])
    out = {(r["doc_id"], r["span_start"], r["span_end"])
           for r in duplicate_spans_exact(df, min_len=40).collect()}
    # Doc 0 holds the globally-first occurrence; only doc 1's copy cut,
    # covering the full 53-char shared run at offset 8.
    assert out == {(1, 8, 8 + len(shared))}


def test_duplicate_spans_exact_catches_single_token_repeat(spark):
    from pipelinedp_spark.operators.dedup import (duplicate_spans,
                                                  duplicate_spans_exact)
    # A 60-char run with NO spaces: one token. The k=8 TOKEN window
    # pass is blind to it; the character-level exact pass must cut it.
    blob = "x" * 20 + "0123456789abcdefghij" * 2
    assert " " not in blob and len(blob) == 60
    df = _docs(spark, ["lead text then " + blob,
                       "other document containing " + blob + " tail",
                       "a third document with nothing shared at all ok"])
    assert duplicate_spans(df, k=8).count() == 0
    got = {(r["doc_id"], r["span_start"], r["span_end"])
           for r in duplicate_spans_exact(df, min_len=50).collect()}
    # both occurrences are preceded by ' ', so the maximal duplicated
    # run is ' ' + blob (61 chars) — the exact pass finds the true
    # maximal extent, starting one char before the blob itself
    assert got == {(1, 25, 25 + 61)}


def test_duplicate_spans_exact_dominates_token_pass_recall(spark):
    from pipelinedp_spark.operators.dedup import (duplicate_spans,
                                                  duplicate_spans_exact)
    # Every token >= 6 chars, so any duplicated 8-token window is a
    # duplicated run of >= 8*6-1 = 47 > 40 chars: the exact pass must
    # mark a char range wherever the token pass marks one, AND it also
    # catches the no-space blob the token pass misses: strict recall
    # domination on this corpus.
    toks = ["alpha%02d" % i for i in range(12)]          # 7 chars each
    run = " ".join(toks)                                  # 95 chars
    blob = "Z" * 55
    texts = [run + " unique0 suffix0been here",
             "unique1 starter " + run + " end1",
             "first blob " + blob + " mid filler words here",
             "second blob " + blob + " other filler tokens",
             "nothing shared in this last document at all okay"]
    df = _docs(spark, texts)
    tok_docs = {r["doc_id"]
                for r in duplicate_spans(df, k=8).collect()}
    exact = duplicate_spans_exact(df, min_len=40).collect()
    exact_docs = {r["doc_id"] for r in exact}
    assert tok_docs <= exact_docs          # everything token-found is found
    assert 3 in exact_docs and 3 not in tok_docs   # and strictly more
    # the duplicated-run cut in doc 1 covers the run's char range
    spans1 = [(r["span_start"], r["span_end"])
              for r in exact if r["doc_id"] == 1]
    s, e = spans1[0]
    assert s <= 16 and e >= 16 + len(run)


def test_duplicate_spans_exact_within_doc_and_unmerged(spark):
    from pipelinedp_spark.operators.dedup import duplicate_spans_exact
    piece = "abcdefghij" * 5                     # 50 chars
    df = _docs(spark, [piece + " --- " + piece])
    out = duplicate_spans_exact(df, min_len=50).collect()
    assert [(r["doc_id"], r["span_start"], r["span_end"])
            for r in out] == [(0, 55, 105)]
    raw = duplicate_spans_exact(df, min_len=50, merge=False).collect()
    assert (0, 55) in {(r["doc_id"], r["pos"]) for r in raw}


def test_duplicate_spans_exact_seed_len_validation(spark):
    from pipelinedp_spark.operators.dedup import duplicate_spans_exact
    df = _docs(spark, ["whatever text"])
    with pytest.raises(ValueError, match="seed_len"):
        duplicate_spans_exact(df, min_len=10, seed_len=20)


def test_cross_corpus_spans_and_cut(spark):
    from pipelinedp_spark.operators.dedup import (cross_corpus_spans,
                                                  cut_spans)
    bench = ("What is the capital of the largest country by land "
             "area and when was it founded exactly?")
    docs = _docs(spark, [
        "intro words here. " + bench + " trailing original prose.",
        "completely unrelated text with nothing shared at all okay",
        bench,                                    # leaked benchmark doc
    ])
    ref = spark.createDataFrame([(100, bench)],
                                "doc_id long, text string")
    spans = {(r["doc_id"], r["span_start"], r["span_end"])
             for r in cross_corpus_spans(docs, ref,
                                         min_len=40).collect()}
    assert (2, 0, len(bench)) in spans            # full-doc cut
    assert any(d == 0 for d, _, _ in spans)       # embedded hit cut
    assert not any(d == 1 for d, _, _ in spans)   # clean doc untouched
    out = {r["doc_id"]: r for r in
           cut_spans(docs, cross_corpus_spans(
               docs, ref, min_len=40)).collect()}
    assert bench not in out[0]["clean_text"]
    assert out[0]["clean_text"].startswith("intro words here.")
    assert out[0]["clean_text"].endswith("trailing original prose.")
    assert out[1]["clean_text"].startswith("completely unrelated")
    assert out[1]["n_spans"] == 0 and out[1]["n_cut_chars"] == 0
    assert out[2]["clean_text"] == ""


def test_cut_spans_multiple_ranges_and_validation(spark):
    from pipelinedp_spark.operators.dedup import cut_spans
    docs = _docs(spark, ["0123456789abcdefghij"])
    spans = spark.createDataFrame(
        [(0, 2, 5), (0, 10, 13)],
        "doc_id long, span_start long, span_end long")
    out = cut_spans(docs, spans).collect()[0]
    assert out["clean_text"] == "01" + "56789" + "defghij"
    assert out["n_spans"] == 2 and out["n_cut_chars"] == 6


def test_c4_filter_rules(spark):
    from pipelinedp_spark.operators.quality import c4_filter
    good = ("The first proper sentence ends here.\n"
            "Another complete sentence follows right after it.\n"
            "And a third one closes the page nicely.")
    menu = "Home\nAbout\nContact us\nshort line"       # no terminal punct
    code = ("One real sentence is here.\nif (x) { return; }\n"
            "Second sentence stands alone fine.\n"
            "Third sentence completes the minimum count.")
    lorem = ("Lorem ipsum dolor sit amet tonight.\n"
             "A second sentence appears here quickly.\n"
             "A third sentence appears here too.")
    df = spark.createDataFrame(
        [(0, good), (1, menu), (2, code), (3, lorem)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in c4_filter(df).collect()}
    assert out[0]["passes"] and out[0]["n_lines_kept"] == 3
    assert out[0]["clean_text"] == good
    assert not out[1]["passes"] and out[1]["n_lines_kept"] == 0
    assert out[1]["clean_text"] == ""
    assert out[2]["has_bad_substring"] and not out[2]["passes"]
    assert "if (x)" not in out[2]["clean_text"]        # brace line dropped
    assert out[3]["has_bad_substring"] and not out[3]["passes"]


# ---------------------------------------------------------------------------
# property tests: span merge / cut machinery
# ---------------------------------------------------------------------------

def test_merge_and_cut_spans_properties(spark):
    """Property (hypothesis): for ARBITRARY raw window marks, the merged
    spans are sorted, disjoint, non-adjacent, cover exactly the marked
    positions, and cut_spans removes exactly the covered characters
    while preserving every uncovered one in order."""
    from hypothesis import given, settings, strategies as st
    from pipelinedp_spark.operators.dedup import _merge_spans, cut_spans

    @settings(max_examples=15, deadline=None)
    @given(st.lists(st.integers(min_value=0, max_value=40),
                    min_size=1, max_size=25),
           st.integers(min_value=2, max_value=7))
    def prop(positions, k):
        text = "".join(chr(ord("a") + (i * 7) % 26) for i in range(60))
        vals = ", ".join(f"(0, {p}, {p + k})" for p in positions)
        iv = spark.sql(
            f"SELECT col1 AS doc_id, CAST(col2 AS BIGINT) AS start, "
            f"CAST(col3 AS BIGINT) AS `end` FROM VALUES {vals}")
        spans = sorted((r["span_start"], r["span_end"]) for r in
                       _merge_spans(iv, "doc_id").collect())
        covered = set()
        for p in positions:
            covered.update(range(p, p + k))
        got_cov = set()
        prev_end = None
        for s, e in spans:
            assert s < e
            if prev_end is not None:
                assert s > prev_end          # disjoint AND non-adjacent
            prev_end = e
            got_cov.update(range(s, e))
        assert got_cov == covered
        docs = spark.createDataFrame([(0, text)],
                                     "doc_id long, text string")
        sp = spark.createDataFrame(
            [(0, s, e) for s, e in spans],
            "doc_id long, span_start long, span_end long")
        out = cut_spans(docs, sp).collect()[0]
        expect = "".join(c for i, c in enumerate(text)
                         if i not in covered)
        assert out["clean_text"] == expect
        # positions <= 40, k <= 7: every span lies inside the text
        assert out["n_cut_chars"] == len(covered)

    prop()


def test_plan_lsh_params_analytics(spark):
    from pipelinedp_spark.operators.dedup import plan_lsh_params
    import pytest as _pt
    p = plan_lsh_params(0.8, target_recall=0.95)
    assert p["recall"] >= 0.95
    assert p["num_hashes"] == p["bands"] * p["rows_per_band"]
    # recall is the S-curve value it claims
    t, b, r = 0.8, p["bands"], p["rows_per_band"]
    assert abs(p["recall"] - (1 - (1 - t ** r) ** b)) < 1e-12
    # the production 8-rows-per-band regime is plannable within 64
    p64 = plan_lsh_params(0.85, target_recall=0.9, max_hashes=64,
                          rows_options=(8,))
    assert p64["num_hashes"] <= 64 and p64["recall"] >= 0.9
    assert p64["rows_per_band"] == 8
    with _pt.raises(ValueError, match="no \\(bands, rows\\) plan"):
        plan_lsh_params(0.95, 0.999999, max_hashes=4)
    with _pt.raises(ValueError, match="threshold"):
        plan_lsh_params(1.5)
