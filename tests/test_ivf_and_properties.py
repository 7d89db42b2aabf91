"""IVF similarity tests + hypothesis property tests for driver-side math."""

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pipelinedp_spark import dp_computations as dp
from pipelinedp_spark.aggregate_params import NoiseKind
from pipelinedp_spark.budget_accounting import NaiveBudgetAccountant
from pipelinedp_spark.aggregate_params import MechanismType


def test_ivf_topk_recall(spark):
    from pipelinedp_spark.operators import similarity
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    exact = similarity.cosine_topk(emb, q, k=10)
    approx = similarity.ivf_topk(emb, q, k=10, num_cells=8, nprobe=3)
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    # nprobe=3 of 8 cells: recall should beat the cell fraction comfortably.
    assert recall >= 0.5
    # Each query's own vector (cosine 1.0) must be found: it shares the
    # query's top cell by construction.
    for qid in range(5):
        assert (qid, qid) in approx_set


def test_bpe_token_count(spark):
    from pipelinedp_spark.functions import text as T
    df = spark.createDataFrame(
        [("Hello, world! 123 abc-def",)], "text string")
    n = df.select(T.bpe_token_count(F.col("text")).alias("n")).collect()[0]
    # Hello , world ! 123 abc - def -> 8
    assert n["n"] == 8


# ---------------------------------------------------------------------------
# Property tests (pure driver-side math; no Spark)
# ---------------------------------------------------------------------------


@given(eps=st.floats(0.01, 50), l1=st.floats(0.1, 1e4))
@settings(max_examples=50, deadline=None)
def test_laplace_scale_monotone(eps, l1):
    b = dp.laplace_scale(eps, l1)
    assert b > 0
    assert dp.laplace_scale(eps * 2, l1) < b      # more eps -> less noise
    assert dp.laplace_scale(eps, l1 * 2) > b      # more sens -> more noise


@given(eps=st.floats(0.05, 1.0), delta=st.floats(1e-10, 1e-2),
       l2=st.floats(0.1, 100))
@settings(max_examples=30, deadline=None)
def test_gaussian_sigma_valid(eps, delta, l2):
    sigma = dp.gaussian_sigma(eps, delta, l2)
    assert sigma > 0
    # Analytic sigma is never worse than the classic bound (which is only
    # valid for eps <= 1, hence the restricted strategy).
    classic = l2 * math.sqrt(2 * math.log(1.25 / delta)) / eps
    assert sigma <= classic * 1.01


@given(l0=st.integers(1, 1000), linf=st.floats(0.1, 100))
@settings(max_examples=50, deadline=None)
def test_sensitivity_derivation(l0, linf):
    s = dp.Sensitivities(l0=l0, linf=linf)
    assert s.l1 == pytest.approx(l0 * linf)
    assert s.l2 == pytest.approx(math.sqrt(l0) * linf)
    assert s.l2 <= s.l1 + 1e-9


@given(eps=st.floats(0.1, 10), delta=st.floats(1e-8, 1e-3),
       l0=st.integers(1, 50))
@settings(max_examples=30, deadline=None)
def test_laplace_threshold_above_one(eps, delta, l0):
    _, threshold = dp.laplace_thresholding(eps, delta, l0)
    # Small delta -> threshold must exceed the single-user count of 1.
    assert threshold > 1.0


@given(eps=st.floats(0.1, 5), delta=st.floats(1e-8, 1e-4),
       l0=st.integers(1, 20))
@settings(max_examples=20, deadline=None)
def test_truncated_geometric_probs_monotone(eps, delta, l0):
    probs = dp.truncated_geometric_probabilities(eps, delta, l0)
    assert probs[0] == 0.0
    assert probs[-1] == 1.0
    assert all(b >= a - 1e-12 for a, b in zip(probs, probs[1:]))


@given(weights=st.lists(st.floats(0.1, 10), min_size=1, max_size=6))
@settings(max_examples=30, deadline=None)
def test_naive_accountant_spends_exact_budget(weights):
    acct = NaiveBudgetAccountant(total_epsilon=2.0, total_delta=1e-6)
    specs = [acct.request_budget(MechanismType.GAUSSIAN, weight=w)
             for w in weights]
    acct.compute_budgets()
    assert sum(s.eps for s in specs) == pytest.approx(2.0)
    assert sum(s.delta for s in specs) == pytest.approx(1e-6)
    for s, w in zip(specs, weights):
        assert s.eps == pytest.approx(2.0 * w / sum(weights))


def test_pq_topk_recall_and_determinism(spark):
    from pyspark.sql import functions as F
    from pipelinedp_spark.operators.similarity import pq_topk
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = (emb.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    a = pq_topk(emb, q, k=10).collect()
    b = pq_topk(emb, q, k=10).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))  # deterministic

    # recall@10 vs exact L2 top-10 (numpy reference)
    import numpy as np
    pdf = emb.toPandas()
    X = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    ids = pdf["vec_id"].to_numpy()
    got = {}
    for r in a:
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = []
    for qid in got:
        qv = X[ids == qid][0]
        d = ((X - qv) ** 2).sum(axis=1)
        exact = set(ids[np.argsort(d, kind="stable")[:10]])
        recalls.append(len(got[qid] & exact) / 10)
    # On this synthetic corpus pairwise L2 distances concentrate (random
    # 64-d vectors), so the exact top-10 tail is near-noise and recall
    # plateaus ~0.4 for ANY quantizer (m=4..16 measured alike). The bound
    # guards against gross scoring bugs (a broken ADC scores ~0.05);
    # rank-1 self-match below checks the near-neighbor regime exactly.
    assert sum(recalls) / len(recalls) >= 0.25

    # self-match: the query vector itself must rank 1 (distance ~0)
    for r in a:
        if r["rank"] == 1:
            assert r["vec_id"] == r["query_id"]


def test_ivf_pq_scores_match_pq(spark):
    """IVF-PQ must be exactly PQ restricted to probed cells: every
    returned (query, vec) pair carries the identical ADC distance the
    exhaustive PQ scan assigns it."""
    from pyspark.sql import functions as F
    from pipelinedp_spark.operators.similarity import ivf_pq_topk, pq_topk
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = (emb.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    full = {(r["query_id"], r["vec_id"]): r["adist"]
            for r in pq_topk(emb, q, k=10_000).collect()}
    probed = ivf_pq_topk(emb, q, k=10, num_cells=4, nprobe=2).collect()
    assert len(probed) > 0
    for r in probed:
        assert full[(r["query_id"], r["vec_id"])] == r["adist"]
    # rank-1 self-match survives probing (a vector's own cell is probed)
    for r in probed:
        if r["rank"] == 1:
            assert r["vec_id"] == r["query_id"]


def test_pq_rejects_indivisible_dim():
    import numpy as np
    from pipelinedp_spark.operators.similarity import train_pq_codebooks
    with pytest.raises(ValueError, match="not divisible"):
        train_pq_codebooks(np.zeros((10, 10)), m=4)


@given(st.lists(st.integers(min_value=0, max_value=(1 << 60) - 1),
                min_size=1, max_size=40),
       st.integers(min_value=1, max_value=32))
@settings(max_examples=50, deadline=None)
def test_minhash_permutation_math_matches_pure_python(hashes, num_hashes):
    """The numpy minhash fold must equal a from-first-principles pure
    Python evaluation of min over (a_i*h + b_i) mod P — the exact
    formula the DuckDB oracle mirrors — for any 60-bit hash multiset."""
    import numpy as np
    from pipelinedp_spark.operators.dedup import (_MINHASH_P,
                                                  _minhash_coeffs)
    a, b = _minhash_coeffs(num_hashes)
    hm = [h % _MINHASH_P for h in hashes]
    want = [min((int(a[i]) * h + int(b[i])) % _MINHASH_P for h in hm)
            for i in range(num_hashes)]
    arr = np.asarray(hm, dtype=np.int64)
    got = ((arr[:, None] * a[None, :] + b[None, :])
           % _MINHASH_P).min(axis=0).tolist()
    assert got == want


@given(st.lists(st.integers(min_value=0, max_value=300), min_size=1,
                max_size=60),
       st.integers(min_value=1, max_value=64))
@settings(max_examples=30, deadline=None)
def test_packing_invariants_property(token_counts, seq_len):
    """Packing placement invariants for ANY doc-length multiset: stream
    contiguity (each doc starts where the previous ended), in-range
    offsets, and span counts consistent with lengths."""
    # pure-python mirror of the operator's integer arithmetic
    cum = 0
    for n in token_counts:
        off = cum
        cum += n
        start_seq, start_off = off // seq_len, off % seq_len
        if n == 0:
            n_seqs = 0
        else:
            n_seqs = (cum - 1) // seq_len - off // seq_len + 1
        assert 0 <= start_off < seq_len
        assert start_seq * seq_len + start_off == off
        if n > 0:
            # spans exactly the sequences its token range touches
            assert n_seqs >= 1
            assert (n_seqs - 1) * seq_len < start_off + n \
                <= n_seqs * seq_len


# ---------------------------------------------------------------------------
# Property tests: web-corpus ingestion codecs (pure Python, no Spark)
# ---------------------------------------------------------------------------

_uri_st = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126),
    min_size=1, max_size=60)
_body_st = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF,
                           blacklist_characters="\r"),
    max_size=200)


@given(recs=st.lists(st.tuples(_uri_st, _body_st), min_size=0,
                     max_size=8))
@settings(max_examples=60, deadline=None)
def test_wet_roundtrip_property(recs):
    from pipelinedp_spark.sources.webcrawl import (encode_wet,
                                                   parse_wet_records)
    got = parse_wet_records(encode_wet(recs))
    assert [(u, t) for u, _, t in got] == recs


@given(members=st.lists(
    st.tuples(st.text(alphabet=st.characters(min_codepoint=48,
                                             max_codepoint=122),
                      min_size=1, max_size=40),
              st.binary(max_size=300)),
    min_size=0, max_size=6, unique_by=lambda m: m[0]))
@settings(max_examples=60, deadline=None)
def test_tar_roundtrip_property(members):
    import io
    import tarfile
    from pipelinedp_spark.sources.webcrawl import encode_tar
    blob = encode_tar(members)
    got = []
    if members:
        with tarfile.open(fileobj=io.BytesIO(blob)) as tf:
            for info in tf:
                got.append((info.name, tf.extractfile(info).read()))
    assert got == list(members)


@given(n=st.integers(1, 200), bi=st.integers(1, 14), ri=st.integers(0, 2))
@settings(max_examples=80, deadline=None)
def test_mp3_walk_property(n, bi, ri):
    from pipelinedp_spark.operators.multimodal import (
        _MP3_BITRATES_V1L3, _MP3_RATES_V1, build_mp3_frames,
        parse_mp3_metadata)
    sr, br, nf, dur = parse_mp3_metadata(build_mp3_frames(n, bi, ri))
    assert (sr, br, nf) == (_MP3_RATES_V1[ri], _MP3_BITRATES_V1L3[bi], n)
    assert dur == round(n * 1152 / sr, 6)


def test_ivf_pq_rerank_equals_bruteforce_on_shortlist(spark):
    """The re-rank stage must be EXACT cosine over the shortlist: its
    top-k equals brute-force cosine_topk restricted to the same
    candidate set, and recall vs full brute force is >= plain IVF-PQ's
    (quantization error can only be fixed, not introduced)."""
    from pipelinedp_spark.operators import similarity as S
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")
    q = (emb.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    rer = S.ivf_pq_rerank_topk(emb, q, k=5, shortlist_mult=4,
                               num_cells=4, nprobe=2)
    short = S.ivf_pq_topk(emb, q, k=20, num_cells=4, nprobe=2)
    cand = {(r["query_id"], r["vec_id"]) for r in short.collect()}
    brute = S.cosine_topk(emb, q, k=10_000_000)
    byq = {}
    for r in brute.collect():
        if (r["query_id"], r["vec_id"]) in cand:
            byq.setdefault(r["query_id"], []).append(
                (r["vec_id"], r["cosine"]))
    got = {}
    for r in rer.collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["vec_id"], r["cosine"]))
    for qid, rows in got.items():
        rows.sort()
        expect = sorted(byq[qid], key=lambda t: (-t[1], t[0]))[:5]
        assert [(v, c) for _, v, c in rows] == expect, qid


# -- IVF-PQ serving: job counts, plan shapes, one scorer ---------------------


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


def _python_evals(df) -> tuple[int, int, int]:
    """Python eval nodes in ``df``'s physical plan: (all of them, those
    under its broadcast join's broadcast side, those under its other
    side)."""
    import re
    nodes = []
    for ln in (df._jdf.queryExecution().executedPlan().toString()
               .splitlines()):
        m = re.match(r"^([\s:+|-]*)(\w+)", ln)
        if m:
            nodes.append((len(m.group(1)), m.group(2)))

    def subtree(i):
        end = i + 1
        while end < len(nodes) and nodes[end][0] > nodes[i][0]:
            end += 1
        return range(i + 1, end)

    def evals(idx):
        return sum(1 for i in idx if nodes[i][1].endswith("EvalPython"))

    join = next(i for i, (_, n) in enumerate(nodes)
                if n.startswith("Broadcast") and n.endswith("Join"))
    bcast = next(i for i in subtree(join)
                 if nodes[i][1] == "BroadcastExchange")
    return (evals(range(len(nodes))), evals(subtree(bcast)),
            evals(subtree(join)) - evals(subtree(bcast)))


def _drop_ann(spark, name):
    from pipelinedp_spark import store
    for suffix in ("_codes", "_centroids", "_codebooks", "_meta"):
        store.drop_store_table(spark, name + suffix)


def _emb_queries(spark):
    """A 400-vector, dim-16 corpus computed by Spark, and 3 of its rows as
    queries."""
    emb = spark.range(400).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.sin(F.col("id") * (d + 1) + d) for d in range(16)])
        .alias("embedding"))
    q = (emb.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    return emb, q


@pytest.mark.store
def test_ann_serving_runs_no_model_read_jobs(spark):
    """The quantizers are read on the driver, not by Spark jobs: an
    append runs only its write, and a search's eager phase only the query
    checkpoint and the probe-cell collect."""
    from pipelinedp_spark.operators import similarity as S
    emb, q = _emb_queries(spark)
    S.build_ann_index(emb.filter("vec_id % 2 = 0"), "annjobs_idx",
                      num_cells=8)
    try:
        n, _ = _jobs(spark, lambda: S.build_ann_index(
            emb.filter("vec_id % 2 = 1"), "annjobs_idx", mode="append"))
        assert n == 1
        n, out = _jobs(spark, lambda: S.ann_search_from_index(
            q, "annjobs_idx", k=5, nprobe=2))
        assert n == 2
        assert out.count() == 15
    finally:
        _drop_ann(spark, "annjobs_idx")


def test_pq_scoring_runs_no_corpus_side_python(spark):
    """ADC scoring is a Catalyst expression: no Python eval node sits
    above the corpus/codes side of the broadcast join or above the join,
    and the query side is one Arrow pass. The corpus side of `pq_topk` /
    `ivf_pq_topk` keeps its one encode pass; a served search reads codes
    with no Python at all (its query pass ran in the checkpoint)."""
    import numpy as np

    from pipelinedp_spark import store
    from pipelinedp_spark.operators import similarity as S
    emb, q = _emb_queries(spark)
    assert _python_evals(S.pq_topk(emb, q, k=5)) == (2, 1, 1)
    assert _python_evals(S.ivf_pq_topk(emb, q, k=5, num_cells=4)) \
        == (2, 1, 1)
    S.build_ann_index(emb, "annplan_idx", num_cells=8)
    try:
        assert _python_evals(S.ann_search_from_index(
            q, "annplan_idx", k=5, nprobe=2)) == (0, 0, 0)
        cts, cb = S._read_models(spark, "annplan_idx",
                                 store.read_meta(spark, "annplan_idx"))
        probe = S._probe_queries(q, cts, cb, 2, "query_id", "query_vec")
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert plan.count("EvalPython") == 1, plan
        assert np.asarray(cts).shape == (8, 16)
    finally:
        _drop_ann(spark, "annplan_idx")


def test_pq_scorers_agree_bitwise_at_m8(spark):
    """`pq_topk`, `ivf_pq_topk` and `ann_search_from_index` give the same
    adist, to the bit, for every pair they share, at m = 8 (dim 32, sub
    4), where numpy's pairwise row sum and a j-order sum differ in the
    last bits. Coordinates ~1e5 put the distances' last bit above the
    6 dp output rounding, so the comparison sees every bit."""
    import numpy as np

    from pipelinedp_spark.operators import similarity as S
    rng = np.random.default_rng(11)
    x = (rng.normal(size=(12, 32))[rng.integers(0, 12, 400)]
         + 0.3 * rng.normal(size=(400, 32))) * 1e5
    corpus = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(len(x))],
        "vec_id long, embedding array<double>")
    q = (corpus.filter(F.col("vec_id") < 4)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    cts = S.train_ivf_centroids(x, 4)
    cb = S.train_pq_codebooks(x, m=8, ksub=16)
    full = {(r["query_id"], r["vec_id"]): r["adist"]
            for r in S.pq_topk(corpus, q, k=10_000, codebooks=cb).collect()}
    ivf = {(r["query_id"], r["vec_id"]): r["adist"]
           for r in S.ivf_pq_topk(corpus, q, k=60, nprobe=2, centroids=cts,
                                  codebooks=cb).collect()}
    S.build_ann_index(corpus, "annm8_idx", centroids=cts, codebooks=cb)
    try:
        ann = {(r["query_id"], r["vec_id"]): r["adist"]
               for r in S.ann_search_from_index(q, "annm8_idx", k=60,
                                                nprobe=2).collect()}
    finally:
        _drop_ann(spark, "annm8_idx")
    assert len(full) == 1600 and len(ivf) == 240
    assert ann == ivf
    assert all(full[p] == d for p, d in ivf.items())
