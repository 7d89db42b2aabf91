"""Deduplication operators for 100 TB-scale corpora.

All operators are shuffle-bounded DataFrame plans:

- exact_dedup: one hash-groupBy on the fingerprint (map-side combine).
- minhash_lsh_pairs: shingle -> numpy minhash signature -> band
  strings (`minhash_profile`, the ONE MinHash fingerprint derivation,
  shared by the pair, cross-corpus and store paths) -> in-bucket pairs
  via a band-key self-join over one checkpointed profile; a size cap
  drops degenerate buckets whole (a bucket with B docs creates B^2/2
  pairs — the cap bounds the blow-up the way frequency filters do in
  prod dedup).
- simhash_pairs: candidates from the pigeonhole Hamming-block rule
  (`_hamming_blocks`, shared with the streaming near-dup and the
  image/audio/video hash dedup and pHash store), verified by exact
  Hamming distance (`_hamming_self_pairs`; batch-vs-persisted-blocks
  probes use `_hamming_probe`).
- embedding_near_dup_pairs / embedding_near_dup_exact: banded hyperplane
  LSH scale path / broadcast block-matmul baseline.
- ngram_jaccard_verify: exact verification on candidate pairs only
  (the one Jaccard verify every MinHash path ends in).

No reference counterpart (net-new per project north star).
"""

from __future__ import annotations

import re as _re
from typing import Optional

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pipelinedp_spark import store
from pipelinedp_spark.functions import text as T


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per normalized-text fingerprint.

    Returns (id_col, fingerprint, dup_count). Single shuffle on the
    fingerprint; min/count are map-side combinable.
    """
    fp = T.rolling_fingerprint(F.col(text_col))
    return (df.select(F.col(id_col), fp.alias("fingerprint"))
            .groupBy("fingerprint")
            .agg(F.min(id_col).alias(id_col),
                 F.count(F.lit(1)).alias("dup_count"))
            .select(id_col, "fingerprint", "dup_count"))


def cross_corpus_dedup(new_docs: DataFrame, reference: DataFrame,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Incremental-ingestion dedup: drop new documents whose normalized
    fingerprint already exists in the reference corpus. The reference
    side reduces to DISTINCT fingerprints before the anti-join, so join
    state is one row per unique reference document; both sides hash on
    the fingerprint (AQE broadcasts the reference set when it is small,
    shuffle-joins co-partitioned otherwise). Returns the surviving new
    rows with their fingerprint attached."""
    fp = T.rolling_fingerprint(F.col(text_col))
    ref = (reference.select(fp.alias("fingerprint")).distinct())
    return (new_docs.withColumn("fingerprint", fp)
            .join(ref, "fingerprint", "left_anti"))


def build_exact_store(reference: DataFrame,
                      store_name: str,
                      text_col: str = "text",
                      id_col: str = "doc_id",
                      num_buckets: int = 8,
                      mode: str = "overwrite") -> None:
    """Persist the reference corpus's EXACT-dedup fingerprint set as a
    bucketed table (``{store}_fps``: distinct normalized rolling
    fingerprints, bucketed AND sorted by fingerprint) plus a
    ``{store}_meta`` row carrying the bucket count — the exact-match
    member of the incremental-store family (near-dup:
    `build_minhash_store`; spans: `build_span_store`). Each ingest
    batch anti-joins it with zero Exchange on the store side;
    ``mode='append'`` grows the set bucket-aligned (appends may
    re-introduce duplicate fingerprint rows across increments — an
    anti-join is insensitive to multiplicity, so correctness holds and
    periodic compaction only saves space)."""
    spark = reference.sparkSession
    m = store.begin_build(spark, store_name, mode, ("_fps", "_meta"))
    if m is not None:
        num_buckets = int(m["num_buckets"])   # appends stay aligned
    fp = T.rolling_fingerprint(F.col(text_col))
    fps = reference.select(fp.alias("fingerprint")).distinct()
    # provenance-stamp columns (NULL for unguarded builds): created at
    # build so guarded streaming appends can stamp their batches and
    # `store.apply_batch_once` can roll back a half-applied one;
    # appends to a pre-r12 table (no stamp columns) stay stamp-free
    if mode != "append" or store.table_has_prov(spark,
                                                f"{store_name}_fps"):
        fps = store.with_prov(fps)
    store.write_bucketed(fps, f"{store_name}_fps", "fingerprint",
                         num_buckets, mode)
    if mode != "append":
        store.write_meta(spark, store_name, num_buckets=int(num_buckets))


def incremental_exact_dedup(new_docs: DataFrame,
                            store_name: str,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """`cross_corpus_dedup` semantics against a persisted
    `build_exact_store` index: drop new documents whose normalized
    fingerprint is already in the store. The batch pre-partitions to
    the store's bucket count so the anti-join never exchanges the
    store side. Returns the surviving new rows with their fingerprint
    attached."""
    spark = new_docs.sparkSession
    nbuck = int(store.read_meta(spark, store_name)["num_buckets"])
    fp = T.rolling_fingerprint(F.col(text_col))
    batch = (new_docs.withColumn("fingerprint", fp)
             .repartition(nbuck, "fingerprint"))
    fps = spark.table(f"{store_name}_fps")
    # Logical takedowns (`remove_from_exact_store`): a tombstoned
    # fingerprint no longer dedups future batches (its reference copy
    # was removed); `store.compact` applies them physically.
    # store.tombstones broadcast-hints only while the table is small.
    ts = store.tombstones(spark, store_name)
    if ts is not None:
        fps = fps.join(ts, "fingerprint", "left_anti")
    return batch.join(fps, "fingerprint", "left_anti")


def remove_from_exact_store(docs: DataFrame,
                            store_name: str,
                            text_col: str = "text") -> None:
    """Takedown from a persisted exact-dedup fingerprint store: the
    removed documents' normalized fingerprints append to
    ``{store}_tombstones``; `incremental_exact_dedup` (and the
    streaming twin) then stop treating them as reference members, so
    the removed text is admissible again — the contract when a
    reference copy is deleted for licensing/takedown reasons.
    O(removed) bookkeeping, idempotent; `store.compact(kind='exact')`
    deletes the fingerprints physically and clears the tombstones.
    Re-adding the same text to the store requires that compaction
    first."""
    store.add_tombstones(
        docs.select(T.rolling_fingerprint(F.col(text_col))
                    .alias("fingerprint")), store_name, "fingerprint",
        int(store.read_meta(docs.sparkSession, store_name)
            ["num_buckets"]))


def shingle_docs(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """(id, shingles array) — shared prep for minhash/jaccard."""
    return df.select(
        F.col(id_col), T.shingles(F.col(text_col), k).alias("shingles"))


_MINHASH_P = 2147483647  # Mersenne prime 2^31-1: products stay < 2^62,
#                          exact in BOTH int64 numpy and DuckDB BIGINT


def _minhash_coeffs(num_hashes: int):
    """Deterministic affine-permutation coefficients (a_i, b_i) over
    Z_P, mirrored verbatim by the SQL oracle. LCG-style spread; a_i is
    never 0 for i < 2^20 (asserted)."""
    a = np.array([(1103515245 * (i + 1) + 12345) % _MINHASH_P
                  for i in range(num_hashes)], dtype=np.int64)
    b = np.array([(2654435761 * i + 97) % _MINHASH_P
                  for i in range(num_hashes)], dtype=np.int64)
    assert (a != 0).all()
    return a, b


def minhash_signatures(df: DataFrame,
                       text_col: str = "text",
                       id_col: str = "doc_id",
                       k: int = 3,
                       num_hashes: int = 8) -> DataFrame:
    """(id, shingles, sig array<long>) — one Arrow-batched numpy pass.

    Each shingle is hashed ONCE JVM-side (md5 -> 60-bit bigint, the
    engine-portable token_hash), then the i-th signature value is
    min over shingles of (a_i * (h mod P) + b_i) mod P — the classic
    universal-hash minhash family. The whole (num_hashes x n_shingles)
    grid folds in one vectorized numpy matmul-shaped pass per document,
    so signature cost is per-row work with ZERO shuffles (the previous
    explode + groupBy(doc_id) with num_hashes md5-min aggregates
    shuffled the full exploded corpus and re-ran md5 num_hashes times
    per shingle; at production widths — 64-128 hashes — that plan is
    ~num_hashes x more hash work plus a corpus-scale shuffle).
    """
    a_co, b_co = _minhash_coeffs(num_hashes)
    sh = shingle_docs(df, text_col, id_col, k)
    hs = F.transform(F.col("shingles"),
                     lambda s: T.token_hash(s) % _MINHASH_P)

    @F.pandas_udf("array<long>")
    def _sig(col: pd.Series) -> pd.Series:
        out = []
        for arr in col:
            h = np.asarray(arr, dtype=np.int64)
            if h.size == 0:
                out.append(b_co.tolist())
                continue
            out.append(((h[:, None] * a_co[None, :] + b_co[None, :])
                        % _MINHASH_P).min(axis=0).tolist())
        return pd.Series(out)

    # Nondeterministic only to the optimizer: exploding the profile's
    # band array infers size(bhs) > 0, and pushed below the projection
    # that filter would run the signature UDF a second time.
    return sh.select(F.col(id_col), F.col("shingles"),
                     _sig.asNondeterministic()(hs).alias("sig"))


def minhash_profile(df: DataFrame,
                    text_col: str = "text",
                    id_col: str = "doc_id",
                    k: int = 3,
                    num_hashes: int = 8,
                    rows_per_band: int = 4) -> DataFrame:
    """(id, shingles, bhs array of 'band_idx:band_hash') — EVERYTHING
    the minhash family derives from a document's text, in one signature
    pass, and the only place it is derived: band j's hash is md5 over
    the '|'-joined signature slice j, and ``bh`` folds the band index
    into one join key (injective: ':' never occurs in the md5 hex or
    the index). A streaming ingest batch flows through pair generation,
    the store anti-match, and the store append; checkpoint the profile
    once and hand it to `minhash_lsh_pairs_from_profile` /
    `incremental_near_dup(profile=)` / `build_minhash_store(profile=)`
    so no step re-tokenizes, re-shingles or re-signs the same text."""
    sig = minhash_signatures(df, text_col, id_col, k, num_hashes)
    bhs = F.array(*[
        F.concat_ws(":", F.lit(str(j)), F.md5(F.concat_ws(
            "|", *[F.element_at("sig", j * rows_per_band + r + 1)
                   .cast("string") for r in range(rows_per_band)])))
        for j in range(num_hashes // rows_per_band)])
    return sig.select(F.col(id_col), F.col("shingles"),
                      bhs.alias("bhs"))


def minhash_lsh_pairs_from_profile(profile: DataFrame,
                                   id_col: str = "doc_id",
                                   jaccard_threshold: float = 0.8,
                                   max_bucket_size: int = 1000
                                   ) -> DataFrame:
    """`minhash_lsh_pairs` over a precomputed (ideally checkpointed)
    `minhash_profile`: in-bucket pairs on the ``bh`` band strings,
    verified with exact shingle Jaccard. Returns (id_a, id_b, jaccard)
    with id_a < id_b."""
    bands = profile.select(F.col(id_col), F.explode("bhs").alias("bh"))
    # Cap degenerate buckets before the self-join blows up — via a
    # map-side-combinable count + tiny broadcast anti-join, NOT a count
    # window: the window put every row of a corpus-hot bucket on ONE
    # unsplittable task, while the partial agg absorbs the hot key
    # map-side and only the handful of over-cap keys travel.
    oversize = (bands.groupBy("bh")
                .agg(F.count(F.lit(1)).alias("bucket_size"))
                .filter(F.col("bucket_size") > max_bucket_size)
                .select("bh"))
    bands = bands.join(F.broadcast(oversize), "bh", "left_anti")
    left = bands.select(F.col("bh"), F.col(id_col).alias("id_a"))
    right = bands.select(F.col("bh"), F.col(id_col).alias("id_b"))
    cand = (left.join(right, "bh")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    return ngram_jaccard_verify(cand, profile.select(id_col, "shingles"),
                                id_col, jaccard_threshold)


def minhash_lsh_pairs(df: DataFrame,
                      text_col: str = "text",
                      id_col: str = "doc_id",
                      k: int = 3,
                      num_hashes: int = 8,
                      rows_per_band: int = 4,
                      jaccard_threshold: float = 0.8,
                      max_bucket_size: int = 1000) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding, verified with exact
    shingle Jaccard. Returns (id_a, id_b, jaccard) with id_a < id_b.

    Plan: shingle (per-row expr) -> minhash signature (one numpy pass per
    doc, see minhash_signatures) -> band strings (`minhash_profile`,
    checkpointed once) -> in-bucket pair generation (one shuffle on the
    band string) -> distinct pairs -> exact Jaccard over the profile's
    shingle arrays. Buckets larger than max_bucket_size are dropped
    (degenerate hash collisions).

    Default knobs (8 hashes, 2 bands of 4) are sized for the small bench
    corpus; production recall at threshold ~0.8 wants num_hashes=64-128
    with rows_per_band 4-8 (recall pinned by
    tests/test_text_ops.py::test_minhash_lsh_recall_production_settings —
    the signature pass scales linearly in num_hashes with no extra
    shuffles, so widening is cheap).
    """
    # The profile (signature UDF upstream) is checkpointed so the cap
    # agg, the self-join and the verify read ONE materialization
    # instead of recomputing the signatures per branch.
    prof = minhash_profile(df, text_col, id_col, k, num_hashes,
                           rows_per_band).localCheckpoint()
    return minhash_lsh_pairs_from_profile(prof, id_col, jaccard_threshold,
                                          max_bucket_size)


def ngram_jaccard_verify(pairs: DataFrame, shingled: DataFrame,
                         id_col: str = "doc_id",
                         jaccard_threshold: float = 0.8) -> DataFrame:
    """Exact shingle-set Jaccard on candidate (id_a, id_b) pairs."""
    return _jaccard_verify(pairs, shingled, id_col, shingled, id_col,
                           jaccard_threshold)


def _jaccard_verify(pairs: DataFrame, a: DataFrame, a_id: str,
                    b: DataFrame, b_id: str,
                    jaccard_threshold: float) -> DataFrame:
    """The exact verify every MinHash path ends in: id_a's shingles
    come from ``a`` (keyed by ``a_id``), id_b's from ``b`` (keyed by
    ``b_id``), so the two sides may be different corpora whose ids
    overlap. The b side joins first: a pair set partitioned on id_b
    meets a store's id-bucketed shingles without exchanging them.
    Returns (id_a, id_b, jaccard) with jaccard rounded to 6dp and
    >= ``jaccard_threshold``."""
    sh_a = a.select(F.col(a_id).alias("id_a"),
                    F.col("shingles").alias("sh_a"))
    sh_b = b.select(F.col(b_id).alias("id_b"),
                    F.col("shingles").alias("sh_b"))
    joined = pairs.join(sh_b, "id_b").join(sh_a, "id_a")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union
    return (joined.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
            .filter(F.col("jaccard") >= jaccard_threshold))


def jaccard_pairs(df: DataFrame,
                  text_col: str = "text",
                  id_col: str = "doc_id",
                  k: int = 3,
                  jaccard_threshold: float = 0.8,
                  max_shingle_doc_freq: int = 200) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via a shingle inverted index
    (no hashing approximation, unlike minhash): candidates are pairs that
    share at least one NON-STOP shingle, then exact set Jaccard verifies.

    Stop shingles — document frequency above `max_shingle_doc_freq` — are
    excluded from candidate *discovery* (the classic stop-shingle rule:
    boilerplate n-grams otherwise pair up most of the corpus). The rule is
    deterministic and content-derived, so an oracle can mirror it; Jaccard
    itself is computed over the FULL shingle sets of the surviving
    candidates. Scale shape: one explode + one window count on the
    shingle key (the same shuffle the candidate join needs), pair volume
    bounded by max_shingle_doc_freq^2 per shingle.

    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    # No persist for the shingled frame: the verify joins recompute the
    # (cheap, codegen'd) shingle expressions (+8% at sf0.1) instead of
    # caching a corpus-scale table — which leaked blocks across calls
    # and at 100 TB would not fit memory anyway.
    sh = shingle_docs(df, text_col, id_col, k)
    inv = sh.select(F.col(id_col),
                    F.explode(F.array_distinct("shingles")).alias("sh"))
    # Stop-shingle rule as a tiny broadcast anti-join (see the band-cap
    # comment in minhash_lsh_pairs_from_profile: a count window
    # serializes hot shingles on one task; the combinable count does
    # not). The inverted index is checkpointed so the doc-freq agg and
    # the pair join read one materialization.
    inv = inv.localCheckpoint()
    stop = (inv.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("doc_freq"))
            .filter(F.col("doc_freq") > max_shingle_doc_freq)
            .select("sh"))
    kept = inv.join(F.broadcast(stop), "sh", "left_anti")
    left = kept.select(F.col("sh"), F.col(id_col).alias("id_a"))
    right = kept.select(F.col("sh"), F.col(id_col).alias("id_b"))
    # Count shared non-stop shingles per pair (same shuffle a distinct
    # would cost) and prune with an EXACT upper bound on the final
    # Jaccard before touching the shingle arrays: true common <= shared
    # non-stop + min(n_stop_a, n_stop_b). A J >= t pair shares hundreds
    # of shingles while a random collision shares a handful, so this
    # drops ~99.9% of candidates with zero false negatives (measured
    # 1.1M -> ~1k on the sf0.1 corpus).
    common = (left.join(right, "sh")
              .filter(F.col("id_a") < F.col("id_b"))
              .groupBy("id_a", "id_b")
              .agg(F.count(F.lit(1)).alias("common_nonstop")))
    meta = (sh.join(kept.groupBy(id_col)
                    .agg(F.count(F.lit(1)).alias("n_nonstop")),
                    id_col, "left")
            .select(F.col(id_col),
                    F.size("shingles").alias("sz"),
                    (F.size("shingles")
                     - F.coalesce(F.col("n_nonstop"), F.lit(0)))
                    .alias("n_stop")))
    # No broadcast hint: meta is one row per doc — small enough for AQE
    # to broadcast at bench scale, too big to force-broadcast at 100 TB.
    pruned = (common
              .join(meta.select(F.col(id_col).alias("id_a"),
                                F.col("sz").alias("sz_a"),
                                F.col("n_stop").alias("stop_a")), "id_a")
              .join(meta.select(F.col(id_col).alias("id_b"),
                                F.col("sz").alias("sz_b"),
                                F.col("n_stop").alias("stop_b")), "id_b"))
    ub = (F.col("common_nonstop")
          + F.least(F.col("stop_a"), F.col("stop_b"))).cast("double")
    cand = (pruned
            .filter(ub / (F.col("sz_a") + F.col("sz_b") - ub)
                    >= F.lit(jaccard_threshold))
            .select("id_a", "id_b"))
    return ngram_jaccard_verify(cand, sh, id_col, jaccard_threshold)


_SIMHASH_BITS = 60   # token_hash is 60-bit: higher bits are always 0


def simhash_fingerprints(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, simhash) 60-bit fingerprints as bigint.

    Tokenize + hash JVM-side (array_distinct + transform, one xxhash per
    distinct token), then fold the per-bit +/-1 votes in an Arrow-batched
    numpy UDF: bit b of the result is 1 iff 2*s_b > n where s_b counts
    token hashes with bit b set. Zero shuffles — the vote fold is per-row
    work over the (bounded: 2^16 distinct tokens) token array, which
    measured ~15x faster than both the explode+groupBy vote-sum plan and
    the pure higher-order-function fold (interpreted, no codegen).
    """
    hashes = F.transform(
        F.slice(F.array_distinct(T.tokens(F.col(text_col))),
                1, (1 << 16) - 1),
        lambda t: T.token_hash(t))

    @F.pandas_udf("long")
    def _sim(hs: pd.Series) -> pd.Series:
        out = np.zeros(len(hs), dtype=np.int64)
        shifts = np.arange(_SIMHASH_BITS)
        for i, arr in enumerate(hs):
            a = np.asarray(arr, dtype=np.int64)
            if len(a) == 0:
                continue
            s_b = ((a[:, None] >> shifts) & 1).sum(axis=0)
            out[i] = int(((s_b * 2 > len(a)).astype(np.int64)
                          << shifts).sum())
        return pd.Series(out)

    return df.select(F.col(id_col), _sim(hashes).alias("simhash"))


def _block_width(total_bits: int, num_blocks: int) -> int:
    """Bits per Hamming block: ceil(total_bits / num_blocks)."""
    return -(-total_bits // num_blocks)


def _hamming_blocks(h: Column, total_bits: int, num_blocks: int,
                    max_hamming: int) -> Column:
    """The pigeonhole Hamming-block rule (Manku et al., WWW 2007) every
    near-dup path over a bit fingerprint keys on: the ``num_blocks``
    contiguous `_block_width`-bit blocks of the ``total_bits``-bit hash
    column ``h``, lowest first, as array<long> (posexplode it for
    (block_idx, block_val) keys). Two hashes within Hamming distance
    ``max_hamming`` differ in at most ``max_hamming`` blocks, so they
    share a block value whenever ``num_blocks > max_hamming``: an
    equi-join on the blocks finds every candidate, and an exact
    Hamming verify keeps the output exact. A larger radius would
    silently miss pairs, so it raises."""
    if max_hamming > num_blocks - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs num_blocks >= "
            f"{max_hamming + 1} (pigeonhole: only pairs within Hamming "
            "distance num_blocks-1 are guaranteed to share a block); got "
            f"num_blocks={num_blocks}")
    w = _block_width(total_bits, num_blocks)
    return F.array(*[F.shiftright(h, i * w).bitwiseAND(F.lit((1 << w) - 1))
                     for i in range(num_blocks)])


def _hamming_self_pairs(rows: DataFrame, keys: list, id_col: str,
                        hash_col: str, max_hamming: int) -> DataFrame:
    """Verified pairs within one frame of block rows: (id_a, id_b,
    hamming) for rows sharing every ``keys`` value, id_a < id_b, and
    hashes within ``max_hamming`` bits. A pair sharing several blocks
    appears once per shared block."""
    a = rows.select(*keys, F.col(id_col).alias("id_a"),
                    F.col(hash_col).alias("__h_a__"))
    b = rows.select(*keys, F.col(id_col).alias("id_b"),
                    F.col(hash_col).alias("__h_b__"))
    hamming = F.bit_count(F.col("__h_a__").bitwiseXOR(F.col("__h_b__")))
    return (a.join(b, keys)
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", hamming.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


def _hamming_probe(probe: DataFrame, index: DataFrame, keys: list,
                   probe_hash: str, index_hash: str, max_hamming: int,
                   out_col: str) -> DataFrame:
    """Distinct ``out_col`` values of the ``probe`` block rows whose
    hash is within ``max_hamming`` bits of an ``index`` row sharing
    their ``keys`` — the probe of a batch against persisted blocks."""
    return (probe.join(index, keys)
            .filter(F.bit_count(F.col(probe_hash)
                                .bitwiseXOR(F.col(index_hash)))
                    <= max_hamming)
            .select(out_col).distinct())


def simhash_pairs(df: DataFrame,
                  text_col: str = "text",
                  id_col: str = "doc_id",
                  max_hamming: int = 3,
                  num_blocks: int = 4,
                  max_block_size: int = 256) -> DataFrame:
    """Near-dup pairs by SimHash blocking: split the 60-bit fingerprint
    into num_blocks bit-blocks (`_hamming_blocks`; raises unless
    max_hamming <= num_blocks - 1, the pigeonhole bound under which any
    pair within max_hamming shares at least one exact block). Verify
    with exact Hamming distance (bit_count of xor).

    Hot blocks (template-heavy corpora collapse thousands of docs into one
    block value) are re-blocked EXACTLY instead of joined quadratically:
    for a pair sharing block i, its <= max_hamming differing bits all lie
    in the complement bits, so splitting the complement into
    max_hamming + 1 sub-blocks guarantees (pigeonhole again) a shared
    (block, sub-block) key. The output is therefore identical to the
    single-level join — only the candidate volume shrinks (measured ~10x
    on the skewed synthetic corpus; unbounded gain at 100 TB where hot
    blocks grow with the corpus).

    Scale math for the RANDOM-collision floor: unrelated docs share a
    block with probability num_blocks / 2^(60/num_blocks), so expected
    random candidates ~ C(n, 2) * 4 / 2^15 ~ n^2 / 8192 at the defaults —
    negligible to ~100k docs, dominant by ~10M. At corpus scale lower
    ``num_blocks`` with a tighter ``max_hamming`` (3 blocks of 20 bits
    at ``max_hamming=2`` cut the floor ~40x); the planted-pair recall
    guarantee only needs num_blocks >= max_hamming + 1. Measured 10x step
    (sf0.1 -> sf1): wall time 12x while TRUE pair output grew 13.8x —
    runtime stays linear in candidate volume; the corpus's own near-dup
    density, not the join strategy, sets the cost.

    Returns (id_a, id_b, hamming).
    """
    keys = _hamming_blocks(F.col("simhash"), _SIMHASH_BITS, num_blocks,
                           max_hamming)
    block_bits = _block_width(_SIMHASH_BITS, num_blocks)
    fp = simhash_fingerprints(df, text_col, id_col)

    def complement(i: int):
        """The fingerprint with block i's bits removed (packed)."""
        upper = F.shiftleft(
            F.shiftright(F.col("simhash"), (i + 1) * block_bits),
            i * block_bits)
        lower = F.col("simhash").bitwiseAND(
            F.lit((1 << (i * block_bits)) - 1))
        return upper.bitwiseOR(lower)

    blocks = fp.select(F.col(id_col), F.col("simhash"),
                       F.posexplode(keys).alias("block_idx", "block_val"))
    # The small/big routing size is a map-side-combinable count joined
    # back on the block key from ONE checkpointed materialization — not
    # a count window, which put every row of a corpus-hot block on one
    # unsplittable window task before the re-blocking path could even
    # see it. The join shuffles on the same key but AQE can skew-split
    # joins. (localCheckpoint, not persist: an explicit persist here
    # leaked cached blocks across calls — the bench-contamination
    # class; checkpoint blocks release when the DataFrame is GC'd.)
    blocks = blocks.localCheckpoint()
    block_keys = ["block_idx", "block_val"]
    sizes = blocks.groupBy(*block_keys).agg(F.count(F.lit(1)).alias("bsz"))
    blocks = blocks.join(sizes, block_keys)
    small = _hamming_self_pairs(
        blocks.filter(F.col("bsz") <= max_block_size), block_keys,
        id_col, "simhash", max_hamming)
    # The complement (fingerprint with the matched block's bits removed)
    # is pure arithmetic on (simhash, block_idx), so it is computed HERE
    # — only for the rare over-cap rows — instead of being materialized
    # through the checkpoint for every row. Its max_hamming + 1
    # sub-blocks are the same block rule over the complement's bits.
    rem = F.lit(None).cast("long")
    for i in reversed(range(num_blocks)):
        rem = F.when(F.col("block_idx") == i, complement(i)).otherwise(rem)
    subs = _hamming_blocks(F.col("rem"), _SIMHASH_BITS - block_bits,
                           max_hamming + 1, max_hamming)
    big = blocks.filter(F.col("bsz") > max_block_size) \
        .withColumn("rem", rem).select(
        id_col, "simhash", *block_keys,
        F.posexplode(subs).alias("sub_idx", "sub_val"))
    big_pairs = _hamming_self_pairs(big, block_keys + ["sub_idx", "sub_val"],
                                    id_col, "simhash", max_hamming)
    return (small.unionByName(big_pairs)
            .dropDuplicates(["id_a", "id_b"]))


def embedding_near_dup_exact(df: DataFrame,
                             vec_col: str = "embedding",
                             id_col: str = "vec_id",
                             cosine_threshold: float = 0.45,
                             max_broadcast_rows: int = 200_000) -> DataFrame:
    """Exact embedding near-dup pairs (id_a < id_b, cosine rounded to 6dp).

    The O(n^2) correctness baseline for `embedding_near_dup_pairs`. Instead
    of a row-level self-join (n^2 rows through the join operator, cosine
    re-evaluated per pair in Catalyst), the full normalized corpus is
    broadcast once as a dense float64 matrix and each Arrow batch of rows
    does a single numpy block-matmul against it — the classic blocked
    brute-force ANN baseline. Work is still distributed across partitions
    of `df`; only the (small) comparison matrix is replicated, exactly like
    the build side of a broadcast join. Guarded by `max_broadcast_rows`:
    beyond that, use the banded-LSH variant (`embedding_near_dup_pairs`),
    which is the scale path.
    """
    import numpy as np
    import pandas as pd

    src = df.select(F.col(id_col).cast("long").alias("_id"),
                    F.col(vec_col).cast("array<double>").alias("_vec"))
    rows = src.collect()
    if len(rows) > max_broadcast_rows:
        raise ValueError(
            f"corpus has {len(rows)} rows > max_broadcast_rows="
            f"{max_broadcast_rows}; use embedding_near_dup_pairs (LSH) "
            "for corpora too large to broadcast")
    ids = np.array([r["_id"] for r in rows], dtype=np.int64)
    mat = np.array([r["_vec"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0
    unit = mat / norms[:, None]
    bc = df.sparkSession.sparkContext.broadcast((ids, unit))

    out_schema = "id_a long, id_b long, cosine double"

    def _block(batches):
        b_ids, b_unit = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a_ids = pdf["_id"].to_numpy(dtype=np.int64)
            a_mat = np.stack(pdf["_vec"].to_numpy()).astype(np.float64)
            a_norms = np.linalg.norm(a_mat, axis=1)
            a_norms[a_norms == 0.0] = 1.0
            cos = np.round((a_mat / a_norms[:, None]) @ b_unit.T, 6)
            keep = (cos >= cosine_threshold) & (a_ids[:, None] < b_ids[None, :])
            ai, bj = np.nonzero(keep)
            yield pd.DataFrame({"id_a": a_ids[ai], "id_b": b_ids[bj],
                                "cosine": cos[ai, bj]})

    return src.mapInPandas(_block, schema=out_schema)


def embedding_near_dup_pairs(df: DataFrame,
                             vec_col: str = "embedding",
                             id_col: str = "vec_id",
                             cosine_threshold: float = 0.45,
                             num_bands: int = 8,
                             planes_per_band: int = 5,
                             dim: int = 64,
                             max_bucket_size: int = 2000) -> DataFrame:
    """Embedding near-dup pairs: banded random-hyperplane LSH (candidates
    match in ANY band) + exact cosine verification on candidates only.
    Deterministic md5-derived planes, so results are reproducible across
    retries. Returns (id_a, id_b, cosine) with id_a < id_b.

    Scale shape: bucket join per band replaces the O(n^2) cross product;
    oversized buckets are dropped before the self-join blows up.
    """
    import numpy as np
    import pandas as pd

    from pipelinedp_spark.operators.similarity import hyperplane_bands_udf
    bands = hyperplane_bands_udf(num_bands, planes_per_band, dim)
    # Vectors ride along into the bucket groups (they ARE the payload), and
    # pairs are generated + cosine-verified inside each group with one
    # numpy matmul — one groupBy shuffle total, no bucket self-join (which
    # would evaluate the band-signature UDF once per side) and no re-join
    # to fetch vectors. Oversized (degenerate) buckets are dropped whole
    # before their B^2/2 pairs exist. dropDuplicates runs on the (tiny)
    # post-threshold survivors.
    sig = df.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(vec_col).alias("_vec"),
        F.posexplode(bands(F.col(vec_col))).alias("band_idx", "bucket"))

    def _pairs(pdf):
        n = len(pdf)
        empty = pd.DataFrame({"id_a": pd.Series([], dtype="int64"),
                              "id_b": pd.Series([], dtype="int64"),
                              "cosine": pd.Series([], dtype="float64")})
        if n < 2 or n > max_bucket_size:
            return empty
        order = np.argsort(pdf["_id"].to_numpy(dtype=np.int64))
        ids = pdf["_id"].to_numpy(dtype=np.int64)[order]
        mat = np.stack(pdf["_vec"].to_numpy()[order]).astype(np.float64)
        num = mat @ mat.T
        norms = np.linalg.norm(mat, axis=1)
        cos = np.round(num / np.outer(norms, norms), 6)
        i, j = np.triu_indices(n, k=1)
        keep = cos[i, j] >= cosine_threshold
        i, j = i[keep], j[keep]
        return pd.DataFrame({"id_a": ids[i], "id_b": ids[j],
                             "cosine": cos[i, j]})

    return (sig.groupBy("band_idx", "bucket")
            .applyInPandas(_pairs,
                           schema="id_a long, id_b long, cosine double")
            .dropDuplicates(["id_a", "id_b"]))


def winnow_containment_pairs(df: DataFrame,
                             text_col: str = "text",
                             id_col: str = "doc_id",
                             k: int = 5,
                             w: int = 4,
                             min_containment: float = 0.5,
                             max_fp_doc_freq: int = 200) -> DataFrame:
    """Passage-overlap (containment) pairs via winnowing fingerprints
    (`functions.text.winnowing_fingerprints`): detects documents sharing
    COPIED PASSAGES — quotation, template reuse, partial plagiarism —
    which whole-document Jaccard/minhash miss when the rest of the
    documents differ. containment = shared / min(|fp_a|, |fp_b|) over the
    informative (non-stop) fingerprints.

    Same scale shape as `jaccard_pairs`: one explode + a window count on
    the fingerprint key (the shuffle the candidate join needs anyway);
    fingerprints hitting more than `max_fp_doc_freq` documents are stop
    fingerprints (corpus boilerplate) and excluded from BOTH the
    intersection and the sizes, bounding pair volume at
    max_fp_doc_freq^2 per fingerprint — no all-pairs join.

    Returns (id_a, id_b, shared, containment) with id_a < id_b,
    containment rounded to 6dp.
    """
    # Row-expression fingerprinting: posexplode the grams and hash them
    # as ordinary columns so the md5 work runs in whole-stage codegen (a
    # per-element lambda would evaluate it interpreted — measured ~4x
    # slower), then take the sliding-window minima with a frame window
    # over the position. Semantically identical to
    # T.winnowing_fingerprints (pinned by a test).
    g = df.select(
        F.col(id_col),
        F.posexplode(T.winnowing_grams(F.col(text_col), k))
        .alias("pos", "gram"))
    wdoc = Window.partitionBy(id_col)
    wslide = (Window.partitionBy(id_col).orderBy("pos")
              .rowsBetween(Window.currentRow, w - 1))
    inv = (g.select(F.col(id_col), F.col("pos"),
                    T.token_hash(F.col("gram")).alias("h"))
           .withColumn("m", F.count(F.lit(1)).over(wdoc))
           .withColumn("wmin", F.min("h").over(wslide))
           .filter((F.col("pos") <= F.col("m") - w) | (F.col("pos") == 0))
           .select(F.col(id_col), F.col("wmin").alias("fp"))
           .distinct())
    # Stop-fingerprint rule via combinable count + tiny broadcast
    # anti-join off ONE checkpointed materialization of the fingerprint
    # table (see the band-cap comment in
    # minhash_lsh_pairs_from_profile: a count window serializes a
    # corpus-hot fingerprint on one task). A localCheckpoint — unlike
    # the .persist() that once leaked blocks across calls and
    # contaminated bench timings (13s fresh vs 155s degraded) — is
    # released when the DataFrame is garbage-collected.
    inv = inv.localCheckpoint()
    stop_fp = (inv.groupBy("fp")
               .agg(F.count(F.lit(1)).alias("doc_freq"))
               .filter(F.col("doc_freq") > max_fp_doc_freq)
               .select("fp"))
    kept = inv.join(F.broadcast(stop_fp), "fp", "left_anti")
    shared = (kept.select("fp", F.col(id_col).alias("id_a"))
              .join(kept.select("fp", F.col(id_col).alias("id_b")), "fp")
              .filter(F.col("id_a") < F.col("id_b"))
              .groupBy("id_a", "id_b")
              .agg(F.count(F.lit(1)).alias("shared")))
    sizes = kept.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_fp"))
    out = (shared
           .join(sizes.select(F.col(id_col).alias("id_a"),
                              F.col("n_fp").alias("n_a")), "id_a")
           .join(sizes.select(F.col(id_col).alias("id_b"),
                              F.col("n_fp").alias("n_b")), "id_b")
           .withColumn("containment",
                       F.round(F.col("shared")
                               / F.least("n_a", "n_b"), 6))
           .filter(F.col("containment") >= F.lit(min_containment))
           .select("id_a", "id_b", "shared", "containment"))
    return out


def duplicate_spans(df: DataFrame,
                    text_col: str = "text",
                    id_col: str = "doc_id",
                    k: int = 8,
                    merge: bool = True) -> DataFrame:
    """Exact duplicated-substring detection, ExactSubstr-style (Lee et
    al., "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499), approximated with fixed k-token windows instead of
    a suffix array: every k-token span whose text occurs elsewhere in the
    corpus is marked for removal EXCEPT its globally-first occurrence
    (ordered by (doc_id, pos)); overlapping/adjacent marked spans within
    a document are merged into maximal cut ranges.

    A duplicated run of L >= k tokens yields L - k + 1 overlapping marked
    windows that merge back into one [start, start+L) range, so the
    fixed-k approximation recovers the suffix-array result for every
    duplicated run of length >= k — it only misses shorter repeats.

    Scale shape: one posexplode (k-slice arrays_zip, all codegen — no
    higher-order element_at lambdas, see `text.shingles`), then the
    first occurrence per span is a map-side-combinable min(struct)
    aggregation joined back on the span md5 — NOT a row_number window:
    a window partition on a corpus-hot span (boilerplate shared by
    millions of docs) lands whole on one task and cannot be split,
    while the aggregate-first plan combines map-side and the join is
    AQE-skew-splittable. One window per doc for the interval merge
    (doc-sized partitions — bounded). Span keys are md5 hex (16 bytes
    through the exchange instead of ~k*8 text bytes). Cost is linear in
    corpus tokens.

    Returns (id_col, span_start, span_end) token ranges, end-exclusive;
    with merge=False, the raw per-window rows (id_col, pos) — useful for
    auditing. Reference repo has no counterpart (net-new LLM-pipeline op).
    """
    t = T.tokens(F.col(text_col))
    n = F.size(t)
    win = F.greatest(n - F.lit(k - 1), F.lit(0))
    parts = [F.slice(t, j + 1, win) for j in range(k)]
    grams = df.filter(n >= k).select(
        F.col(id_col),
        F.posexplode(F.arrays_zip(*parts)).alias("pos", "s"))
    spans = grams.select(
        F.col(id_col), F.col("pos"),
        F.md5(F.concat_ws(" ", *[F.col("s")[str(j)] for j in range(k)]))
        .alias("h"))
    # Materialized once: `spans` feeds the first-occurrence aggregate
    # AND the join side below; un-checkpointed the explode+md5 subplan
    # runs twice.
    spans = spans.localCheckpoint()
    firsts = spans.groupBy("h").agg(
        F.min(F.struct(F.col(id_col).alias("i"),
                       F.col("pos").alias("p"))).alias("f"))
    dups = (spans.join(firsts, "h")
            .filter((F.col(id_col) != F.col("f.i"))
                    | (F.col("pos") != F.col("f.p")))
            .select(id_col, "pos"))
    if not merge:
        return dups
    iv = dups.select(F.col(id_col), F.col("pos").alias("start"),
                     (F.col("pos") + k).alias("end"))
    return _merge_spans(iv, id_col)


def _merge_spans(iv: DataFrame, id_col: str) -> DataFrame:
    """Merge overlapping/adjacent (start, end) intervals per document
    into maximal cut ranges — the shared tail of the duplicate-span
    detectors. One window per doc (doc-sized partitions — bounded);
    emits (id_col, span_start, span_end), end-exclusive."""
    wprev = (Window.partitionBy(id_col).orderBy("start")
             .rowsBetween(Window.unboundedPreceding, -1))
    wgrp = (Window.partitionBy(id_col).orderBy("start")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (iv.withColumn("prev_end", F.max("end").over(wprev))
            .withColumn("new_grp",
                        F.when(F.col("prev_end").isNull()
                               | (F.col("start") > F.col("prev_end")),
                               F.lit(1)).otherwise(F.lit(0)))
            .withColumn("grp", F.sum("new_grp").over(wgrp))
            .groupBy(id_col, "grp")
            .agg(F.min("start").alias("span_start"),
                 F.max("end").alias("span_end"))
            .select(id_col,
                    F.col("span_start").cast("long").alias("span_start"),
                    F.col("span_end").cast("long").alias("span_end")))


def _winnow_anchors(df: DataFrame,
                    text_col: str,
                    id_col: str,
                    min_len: int,
                    seed_len: int) -> DataFrame:
    """Content-defined anchor positions via robust winnowing (Schleimer,
    Wilkerson & Aiken, SIGMOD 2003): over the per-doc sequence of
    xxhash64 seed-gram hashes, each sliding window of w = min_len -
    seed_len + 1 consecutive k-gram positions selects its LEFTMOST
    minimal hash. Guarantee: any duplicated substring of >= min_len
    chars contains one full window of w k-grams with an identical hash
    sequence on both copies, so both copies select the same-content
    anchor — every true duplicate is reachable from a shared anchor
    hash. Expected anchor density ~2/(w+1) of positions, which is what
    cuts the exact-span family's first shuffle from one row per
    CHARACTER to one row per ~(w/2) characters (~18x at the default
    min_len=50/seed_len=16) while the md5 verify phase keeps the
    result exact.

    The anchor hash is INTERNAL: it is only ever compared to other
    anchor hashes computed by this same function (never to an SQL
    oracle), so the whole pass runs as ONE vectorized Arrow/numpy step
    per document — a uint64 polynomial rolling hash over the UTF-32
    code points (character-indexed, so positions line up with Spark's
    character-based substring in the verify phase even for non-ASCII
    text), then a sliding-window argmin (numpy picks the FIRST minimum
    — the leftmost rule, identical on both copies of any shared
    window). An interpreted higher-order-lambda formulation of the
    same argmin was 4-7x SLOWER end-to-end than the every-position
    seeds it replaced; the numpy pass is ~ns/char and shuffles ~18x
    fewer rows. Collisions only add verify work, never wrong output.

    Returns (id_col, pos, ah): k-gram position and its anchor hash."""
    w = min_len - seed_len + 1
    B = np.uint64(1000003)

    @F.pandas_udf("array<struct<pos:long, ah:long>>")
    def _anchors(texts: pd.Series) -> pd.Series:
        out = []
        for s in texts:
            codes = np.frombuffer(s.encode("utf-32-le"),
                                  dtype=np.uint32).astype(np.uint64)
            n_k = codes.size - seed_len + 1
            h = np.zeros(n_k, dtype=np.uint64)
            for j in range(seed_len):
                h = h * B + codes[j:j + n_k]
            sw = np.lib.stride_tricks.sliding_window_view(h, w)
            qs = np.unique(np.arange(sw.shape[0], dtype=np.int64)
                           + sw.argmin(axis=1))
            ah = h[qs].view(np.int64)
            out.append([{"pos": int(q), "ah": int(a)}
                        for q, a in zip(qs, ah)])
        return pd.Series(out)

    return (df.select(F.col(id_col),
                      F.explode(_anchors(F.col(text_col))).alias("a"))
            .select(id_col, F.col("a.pos").alias("pos"),
                    F.col("a.ah").alias("ah")))


def _expand_anchor_candidates(qs_col: str, text_col: str,
                              min_len: int, seed_len: int) -> str:
    """SQL expr: the sorted distinct window STARTS reachable from the
    anchor positions in ``qs_col`` — a window start p can own anchor q
    iff p <= q <= p + w - 1, so each anchor expands to starts
    [max(0, q - w + 1), min(q, len - min_len)]. These are the only
    positions that can be true duplicates (winnowing guarantee), and
    each pays the exact md5 verify."""
    w = min_len - seed_len + 1
    return (f"array_sort(array_distinct(flatten(transform({qs_col}, "
            f"q -> sequence(greatest(0, q - {w - 1}), "
            f"least(q, length({text_col}) - {min_len}))))))")


def _auto_seed_len(min_len: int, seed_len) -> int:
    """Default anchor-gram length: min_len - 10 (floor 16, cap
    min_len), i.e. winnowing window w = 11 at the standard min_len=50.
    The tradeoff: small seeds (16) give sparse anchors (density
    2/(w+1) ~ 5%) but every shared anchor expands to w candidate
    window starts AND short grams repeat spuriously in natural text,
    so verify volume balloons (measured 21M verify rows vs 2M true
    dups at sf1); long seeds make spurious anchor matches rare and the
    expansion narrow at the cost of ~17% anchor density — 2-4x faster
    end-to-end on both dup-heavy and clean corpora."""
    if seed_len is None:
        return min(min_len, max(16, min_len - 10))
    return seed_len


def duplicate_spans_exact(df: DataFrame,
                          text_col: str = "text",
                          id_col: str = "doc_id",
                          min_len: int = 50,
                          seed_len: int | None = None,
                          merge: bool = True) -> DataFrame:
    """EXACT character-level duplicated-substring detection — the
    ExactSubstr algorithm of Lee et al. ("Deduplicating Training Data
    Makes Language Models Better", arXiv:2107.06499) re-expressed as a
    sorted-suffix join instead of a single-node suffix array: a
    character position is marked iff it lies inside some substring of
    length >= ``min_len`` characters that occurs at least twice in the
    corpus (within- and cross-document), EXCEPT positions covered only
    by the globally-first occurrence (min (doc, pos)) of each
    duplicated window. This is exactly the suffix-array answer: a
    substring of length L >= min_len repeats iff each of its
    ``min_len``-char windows repeats, and the merged window ranges
    reconstruct the maximal repeated runs — the suffix array is only a
    single-machine device for grouping equal fixed-length prefixes of
    suffixes, which IS a distributed group-by here.

    Unlike the token-window `duplicate_spans` (fixed k TOKENS), the
    character threshold also catches repeats that are long in bytes but
    short in tokens (URLs, base64 blobs, CJK/agglutinative text) — the
    one recall gap of the token pass.

    Scale shape (two-phase, winnowing anchors + verify-only-candidates):

    1. ANCHOR phase: instead of one seed row per CHARACTER position
       (~min_len x corpus-byte amplification through the first
       shuffle), each doc emits only its robust-winnowing anchors
       (`_winnow_anchors`: leftmost-minimal xxhash64 seed-gram per
       sliding window of w = min_len - seed_len + 1 k-gram positions,
       ~2/(w+1) density — ~18x fewer shuffled rows at the defaults).
       Winnowing guarantee: both copies of any duplicated
       min_len-window select the same-content anchor, so anchor hashes
       occurring >= 2 times reach every true duplicate (overlapping
       same-doc copies still yield two DISTINCT anchor positions —
       p+delta vs p'+delta — so the row count test holds). The
       hot-anchor count is a map-side-combined aggregate over the ah
       column alone; only anchor rows stream through the join, once.
    2. VERIFY phase: shared anchors regroup per doc and expand to the
       window starts that can own them ([q-w+1, q] clamped — see
       `_expand_anchor_candidates`); only those positions pay the full
       md5(min_len chars). A position is marked iff its md5 window
       occurs >= 2 times, so xxhash64 collisions or false anchors only
       add verify work, never wrong output. First-occurrence exemption
       is the same map-side-combinable min(struct) aggregate as the
       token pass — never a row_number window on a corpus-hot span.

    Returns merged (id_col, span_start, span_end) CHARACTER ranges,
    end-exclusive; ``merge=False`` returns raw (id_col, pos) marked
    window starts. Reference repo has no counterpart (net-new
    LLM-pipeline op)."""
    seed_len = _auto_seed_len(min_len, seed_len)
    if seed_len > min_len:
        raise ValueError(
            f"seed_len ({seed_len}) must be <= min_len ({min_len}); the "
            "seed is a prefix of the verified window")
    t = F.col(text_col)
    n = F.length(t)
    eligible = df.filter(n >= min_len).select(F.col(id_col), t)
    anchors = _winnow_anchors(eligible, text_col, id_col,
                              min_len, seed_len)
    # The hot-anchor set, candidate lists, and window-hash table all
    # scale WITH THE CORPUS — none may ever broadcast (static size
    # estimates under-guess post-aggregation sizes and the planner
    # otherwise picks a driver-built broadcast that OOMs exactly when
    # the corpus grows). shuffle_hash keeps every join a co-partitioned
    # per-task hashmap.
    hot = (anchors.groupBy("ah")
           .agg(F.count(F.lit(1)).alias("__n__"))
           .filter(F.col("__n__") >= 2)
           .select("ah").hint("shuffle_hash"))
    cand = (anchors.join(hot, "ah")
            .groupBy(id_col)
            .agg(F.array_sort(F.collect_list("pos")).alias("qs"))
            .hint("shuffle_hash"))
    ps = _expand_anchor_candidates("qs", text_col, min_len, seed_len)
    verify = (eligible.join(cand, id_col)
              .select(F.col(id_col),
                      F.explode(F.expr(
                          f"transform({ps}, p -> struct(p AS pos, "
                          f"md5(substring({text_col}, p + 1, "
                          f"{min_len})) AS h))")).alias("v"))
              .select(id_col, F.col("v.pos").alias("pos"),
                      F.col("v.h").alias("h")))
    # Materialized once: `verify` feeds the first-occurrence aggregate
    # AND the join back — un-checkpointed, the whole seed+candidate
    # explode chain runs twice.
    verify = verify.localCheckpoint()
    firsts = verify.groupBy("h").agg(
        F.count(F.lit(1)).alias("__n__"),
        F.min(F.struct(F.col(id_col).alias("i"),
                       F.col("pos").alias("p"))).alias("f"))
    dups = (verify.join(firsts.filter(F.col("__n__") >= 2)
                        .hint("shuffle_hash"), "h")
            .filter((F.col(id_col) != F.col("f.i"))
                    | (F.col("pos") != F.col("f.p")))
            .select(id_col, "pos"))
    if not merge:
        return dups
    iv = dups.select(F.col(id_col), F.col("pos").alias("start"),
                     (F.col("pos") + min_len).alias("end"))
    return _merge_spans(iv, id_col)


def cross_corpus_near_dup(new_docs: DataFrame,
                          reference: DataFrame,
                          text_col: str = "text",
                          id_col: str = "doc_id",
                          k: int = 3,
                          num_hashes: int = 8,
                          rows_per_band: int = 4,
                          jaccard_threshold: float = 0.8,
                          max_bucket_size: int = 1000) -> DataFrame:
    """Incremental-ingestion NEAR-dup dedup: drop new documents whose
    exact shingle Jaccard against some reference document meets the
    threshold, discovering candidates through a MinHash band join (new
    bands x reference bands — never corpus x corpus). The near-dup
    complement of `cross_corpus_dedup` (exact fingerprints).

    Scale shape: both sides derive one `minhash_profile` (one Arrow
    pass each, no shuffle); the reference's band strings are the
    persistable dedup index (`build_minhash_store`), and each ingest
    batch hash-joins them on ``bh``. Degenerate reference buckets are
    capped at ``max_bucket_size`` by a map-side-combinable count +
    join (NOT a count window: a degenerate reference bucket would land
    whole on one window task; the aggregate's partial combine absorbs
    the hot key and AQE can skew-split the join).

    Returns the surviving new rows (original columns).
    """
    # Each profile is checkpointed, so its signature UDF runs once per
    # input although the candidates, the cap count and the verify read it.
    nprof = minhash_profile(new_docs, text_col, id_col, k, num_hashes,
                            rows_per_band).localCheckpoint()
    rprof = minhash_profile(reference, text_col, id_col, k, num_hashes,
                            rows_per_band).localCheckpoint()
    rb = rprof.select(F.col(id_col).alias("id_b"),
                      F.explode("bhs").alias("bh"))
    sizes = (rb.groupBy("bh")
             .agg(F.count(F.lit(1)).alias("bucket_size"))
             .filter(F.col("bucket_size") <= max_bucket_size)
             .select("bh"))
    cand = (nprof.select(F.col(id_col).alias("id_a"),
                         F.explode("bhs").alias("bh"))
            .join(rb.join(sizes, "bh"), "bh")
            .select("id_a", "id_b").distinct())
    dup_ids = (_jaccard_verify(cand, nprof, id_col, rprof, id_col,
                               jaccard_threshold)
               .select(F.col("id_a").alias(id_col)).distinct())
    return new_docs.join(dup_ids, id_col, "left_anti")


def gram_dup_rate_estimate(df: DataFrame,
                           text_col: str = "text",
                           n: int = 8,
                           sample_mod: int = 4) -> DataFrame:
    """Sampled estimate of the corpus's duplicate n-gram MASS — the
    planning statistic you compute BEFORE committing a 100 TB corpus to
    a full ExactSubstr/span-dedup pass (how much is there to remove?).

    Grams are Bernoulli-sampled BY GRAM VALUE (md5-bucket % sample_mod
    == 0), so all occurrences of a sampled gram are in or out together —
    the per-gram (count - 1) duplicate mass is observed exactly for a
    1/sample_mod fraction of the gram space, making the rate estimate
    unbiased; engine-portable hashing (`text.hex_to_long(md5)`) lets the
    SQL oracle reproduce the sample bit-for-bit.

    Scale shape: the explode is filtered to the sample BEFORE the
    map-side-combinable gram groupBy, so the shuffle carries only
    ~1/sample_mod of the gram occurrences; the final reduction is a
    single-row agg. Raise ``sample_mod`` to make the pre-pass arbitrarily
    cheap at the cost of estimator variance.

    Returns ONE row: (sampled_grams, distinct_grams, dup_occurrences,
    dup_rate) with dup_rate = dup_occurrences / sampled_grams rounded to
    6dp (0.0 on an empty sample).
    """
    grams = df.select(
        F.explode(T._word_ngrams(F.col(text_col), n)).alias("gram"))
    sampled = grams.filter(
        T.hex_to_long(F.md5(F.col("gram"))) % sample_mod == 0)
    per_gram = sampled.groupBy("gram").agg(
        F.count(F.lit(1)).alias("o"))
    return per_gram.agg(
        F.coalesce(F.sum("o"), F.lit(0)).cast("long")
        .alias("sampled_grams"),
        F.count(F.lit(1)).cast("long").alias("distinct_grams"),
        F.coalesce(F.sum(F.col("o") - 1), F.lit(0)).cast("long")
        .alias("dup_occurrences"),
        F.when(F.coalesce(F.sum("o"), F.lit(0)) > 0,
               F.round(F.sum(F.col("o") - 1).cast("double")
                       / F.sum("o"), 6))
        .otherwise(F.lit(0.0)).alias("dup_rate"))


def line_dedup(df: DataFrame,
               text_col: str = "text",
               id_col: str = "doc_id",
               min_docs: int = 2,
               group_col: Optional[str] = None,
               delimiter: str = "\n",
               max_lines_per_doc: Optional[int] = 4_000_000,
               on_oversize: str = "raise") -> DataFrame:
    """Corpus-wide line-level dedup (RefinedWeb / CCNet boilerplate
    removal): a line that appears in >= ``min_docs`` DISTINCT documents
    (within ``group_col`` when given — boilerplate is usually
    per-source/per-domain) is removed from EVERY document; surviving
    lines are re-joined in their original order. Whitespace-only lines
    are never counted or removed (they carry document structure, not
    boilerplate).

    Returns (id_col, clean_text, n_lines, n_removed) — one row per
    input document, clean_text = '' when every line was boilerplate (a
    NULL text has no lines: ('', 0, 0)).

    Scale shape: one posexplode; duplicate detection is two map-side-
    combinable aggregations on a 60-bit md5 line hash (the line TEXT is
    never shuffled for counting — only its hash), then one equi-join of
    the exploded lines against the duplicated-line table keyed by the
    group-folded hash — small at high ``min_docs`` (AQE broadcasts it) and
    skew-safe otherwise (AQE skew-join splits hot boilerplate hashes);
    the rebuild is one groupBy(doc) with an in-memory sort of that
    document's own lines (no window). Removal keys on the 60-bit hash,
    the standard trade at corpus scale (a cross-doc collision removing
    a wrong line has probability ~n_lines^2 / 2^61).

    The rebuild's collect_list is bounded by DOCUMENT size, so a
    pathological single mega-document (a 1 GB "doc" with 10^8 lines)
    would blow one task's memory. ``max_lines_per_doc`` bounds that:
    ``on_oversize="raise"`` (default) fails fast with a per-row plan
    assertion naming the offending id; ``"truncate"`` keeps the first
    ``max_lines_per_doc`` lines. ``max_lines_per_doc=None`` disables
    the guard.
    """
    return _boilerplate_dedup(
        df, text_col, id_col, min_docs, delimiter=delimiter,
        group_col=group_col, max_units=max_lines_per_doc,
        on_oversize=on_oversize)[0]


def _rebuild_kept_lines(tagged: DataFrame, id_col: str,
                        delimiter: str) -> DataFrame:
    """Shared doc-rebuild tail for line-level filters: one groupBy(doc)
    with an in-group array_sort of that document's own (pos, line)
    structs (no window — a corpus-hot line never serializes onto one
    task). Expects (id, __pos__, __line__, __removed__) rows; emits
    (id, clean_text, n_lines, n_removed). A document with no lines
    arrives as one row with a NULL __pos__ and __line__: it counts no
    line and rebuilds to '' (array_join skips the NULL)."""
    rebuilt = (tagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.when(~F.col("__removed__"),
                           F.struct(F.col("__pos__").alias("p"),
                                    F.col("__line__").alias("l"))))),
                lambda s: s["l"]),
            delimiter).alias("clean_text"),
        F.count("__pos__").cast("long").alias("n_lines"),
        F.sum(F.col("__removed__").cast("long")).cast("long")
        .alias("n_removed")))
    return rebuilt.select(id_col, "clean_text", "n_lines", "n_removed")


def _boilerplate_dedup(df: DataFrame,
                       text_col: str,
                       id_col: str,
                       min_docs: int,
                       sentences: bool = False,
                       delimiter: str = "\n",
                       min_chars: int = 0,
                       group_col: Optional[str] = None,
                       max_units: Optional[int] = None,
                       on_oversize: str = "raise",
                       state: Optional[DataFrame] = None,
                       materialize: bool = False
                       ) -> "tuple[DataFrame, DataFrame]":
    """The corpus boilerplate rule behind `line_dedup`, `sentence_dedup`
    and their streaming twins (`streaming.dp_streaming.line_dedup_batch`,
    `sentence_dedup_batch`): a unit (a ``delimiter``-split line, or a
    `SENTENCE_PATTERN` match when ``sentences``) whose key appears in >=
    ``min_docs`` distinct documents is removed from every document.

    Lines key on their raw text and count unless whitespace-only;
    sentences key on their trimmed text, count unless shorter than
    ``min_chars`` (or empty), and rebuild with '' (each match carries
    its own spacing). ``group_col`` is folded into the key. ``state``
    holds prior (__lh__, __nd__) distinct-doc counts to merge into this
    frame's; ``materialize`` localCheckpoints the merged counts.
    ``max_units`` caps the units of one document (``on_oversize``
    'raise' or 'truncate').

    Returns (cleaned, counts): cleaned = (id_col, clean_text, n_lines,
    n_removed), one row per input document (a NULL-text document has no
    units and rebuilds to ''); counts = (__lh__, __nd__), all keys
    counted so far."""
    if on_oversize not in ("raise", "truncate"):
        raise ValueError(
            f"on_oversize must be 'raise' or 'truncate', got {on_oversize!r}")
    line = F.col("__line__")
    if sentences:
        units = F.regexp_extract_all(F.col(text_col),
                                     F.lit(SENTENCE_PATTERN), 0)
        key = F.trim(line)
        countable = (key != "") & (F.length(key) >= min_chars)
        delimiter, unit, op = "", "sentences", "sentence_dedup"
    else:
        units = F.split(F.col(text_col), _re.escape(delimiter))
        key, countable = line, F.trim(line) != ""
        unit, op = "lines", "line_dedup"
    if max_units is not None and on_oversize == "truncate":
        units = F.slice(units, 1, max_units)
    elif max_units is not None:
        # Fires only on a KNOWN oversize: size(NULL) is NULL under ANSI.
        guard = F.assert_true(
            F.coalesce(F.size(units) <= max_units, F.lit(True)),
            F.concat(
                F.lit(f"{op}: document "),
                F.coalesce(F.col(id_col).cast("string"), F.lit("NULL")),
                F.lit(" has "), F.size(units).cast("string"),
                F.lit(f" {unit} > max_{unit}_per_doc={max_units}; pass "
                      f"on_oversize='truncate' or raise the cap.")))
        units = F.when(guard.isNull(), units)
    cols = [F.col(id_col)] + ([F.col(group_col)] if group_col else [])
    # posexplode_OUTER: a document with no units still yields one row,
    # so every input document reaches the rebuild.
    exploded = df.select(
        *cols, F.posexplode_outer(units).alias("__pos__", "__line__"))
    # The group is FOLDED INTO the hash (with a NULL sentinel) rather
    # than used as a join key: NULL groups then dedup among themselves
    # like any other group (a plain equi-join on a NULL key would never
    # match), and the shuffle/join key stays one 60-bit long.
    if group_col:
        key = F.concat_ws("\x01",
                          F.coalesce(F.col(group_col).cast("string"),
                                     F.lit("\x00null")),
                          key)
    lh = T.hex_to_long(F.md5(key)).alias("__lh__")
    counts = (exploded.filter(countable).select(F.col(id_col), lh)
              .groupBy("__lh__", id_col).agg(F.first(F.lit(1)))
              .groupBy("__lh__").agg(F.count(F.lit(1)).alias("__nd__")))
    if state is not None:
        counts = (counts.unionByName(state.select("__lh__", "__nd__"))
                  .groupBy("__lh__")
                  .agg(F.sum("__nd__").cast("long").alias("__nd__")))
    if materialize:
        counts = counts.localCheckpoint()
    boiler = (counts.filter(F.col("__nd__") >= min_docs)
              .select("__lh__", F.lit(True).alias("__boiler__")))
    tagged = (exploded.withColumn("__lh__", lh)
              .join(boiler, "__lh__", "left")
              .withColumn("__removed__",
                          F.coalesce(F.col("__boiler__"), F.lit(False))
                          & countable))
    return _rebuild_kept_lines(tagged, id_col, delimiter), counts


def corpus_diff(old: DataFrame, new: DataFrame,
                text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Snapshot diff between two corpus versions — the dataset-ops
    primitive behind incremental re-processing (re-run expensive
    stages only on added/changed docs) and release auditing: returns
    (id_col, status) with status in {'added', 'removed', 'changed',
    'unchanged'}, comparing documents by the same normalized
    fingerprint `exact_dedup` keys on. Ids must be unique within each
    snapshot (duplicate ids would cross-multiply in the join); run
    `exact_dedup` first if they are not.

    Scale shape: two fingerprint projections (codegen) and ONE
    full-outer equi-join on the id — no text ever shuffles (only the
    60-bit fingerprints), no windows, no collects.
    """
    fp = T.rolling_fingerprint(F.col(text_col))
    o = old.select(F.col(id_col), fp.alias("__old_fp__"))
    n = new.select(F.col(id_col), fp.alias("__new_fp__"))
    joined = o.join(n, id_col, "full_outer")
    status = (F.when(F.col("__old_fp__").isNull(), F.lit("added"))
              .when(F.col("__new_fp__").isNull(), F.lit("removed"))
              .when(F.col("__old_fp__") == F.col("__new_fp__"),
                    F.lit("unchanged"))
              .otherwise(F.lit("changed")))
    return joined.select(id_col, status.alias("status"))


SENTENCE_PATTERN = r"[^.!?]+[.!?]*"


def sentence_dedup(df: DataFrame,
                   text_col: str = "text",
                   id_col: str = "doc_id",
                   min_docs: int = 2,
                   group_col: Optional[str] = None,
                   min_chars: int = 0,
                   max_sentences_per_doc: Optional[int] = 4_000_000,
                   on_oversize: str = "raise") -> DataFrame:
    """Corpus-wide SENTENCE-level dedup — `line_dedup`'s rule at
    sentence granularity (boilerplate taglines/disclaimers repeat as
    sentences inside otherwise-unique paragraphs, where line dedup
    cannot see them). A sentence whose trimmed text appears in >=
    ``min_docs`` distinct documents (within ``group_col`` when given)
    is removed from every document; ``min_chars`` exempts short
    sentences ("Yes." is not boilerplate evidence).

    Sentences are `[^.!?]+[.!?]*` regexp matches — greedy runs ending
    at sentence punctuation, leading whitespace attached — chosen over
    lookbehind splits because the pattern behaves identically under
    Java regex and RE2, so the DuckDB oracle mirrors it exactly. The
    rebuild joins surviving matches with '' (each match carries its own
    spacing), reconstructing the original text minus removed sentences;
    stray punctuation with no preceding sentence body is not matched
    and thus dropped (documented loss, the regexp-split trade).

    Returns (id_col, clean_text, n_lines, n_removed) with n_lines =
    sentence count. Scale shape identical to `line_dedup`: one
    posexplode, hash-only counting shuffles, one equi-join, groupBy
    rebuild, and the same ``max_sentences_per_doc`` mega-doc guard.
    """
    return _boilerplate_dedup(
        df, text_col, id_col, min_docs, sentences=True,
        min_chars=min_chars, group_col=group_col,
        max_units=max_sentences_per_doc, on_oversize=on_oversize)[0]


def build_minhash_store(reference: DataFrame,
                        store_name: str,
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        k: int = 3,
                        num_hashes: int = 8,
                        rows_per_band: int = 4,
                        num_buckets: int = 8,
                        max_bucket_size: int = 1000,
                        mode: str = "overwrite",
                        prov: tuple[str, int] | None = None,
                        profile: DataFrame | None = None) -> None:
    """Persist a reference corpus's dedup index as BUCKETED tables so
    later ingest batches join it with ZERO shuffle on the store side —
    the incremental-dedup flow real pipelines run: dedup each new crawl
    against an ever-growing reference WITHOUT recomputing the
    reference's fingerprints.

    Writes three tables under ``store_name``:

    * ``{store}_bands`` (id, bh) — the MinHash band table, band_idx
      folded into the key (``bh = band_idx || ':' || band_hash`` — one
      join column, injective, so the bucketed join needs a single key).
      Bucketed AND sorted by bh: `spark.table` scans restore the hash
      partitioning, so the candidate join never exchanges this side
      (pinned in tests/test_plan_shapes_r9.py). Degenerate buckets
      (> ``max_bucket_size`` ids for one bh) are dropped at BUILD time
      — the cap is paid once per build, not per batch.
    * ``{store}_shingles`` (id, shingles) — the exact-verify side,
      bucketed by id so candidate verification also reads the store
      without a shuffle on it.
    * ``{store}_meta`` — one row of the fingerprint knobs
      (k, num_hashes, rows_per_band, max_bucket_size);
      `incremental_near_dup` reads it so batch fingerprints can never
      silently diverge from the store.

    ``mode='append'`` grows the store with a new reference increment
    (Spark appends to bucketed tables bucket-aligned); the bucket-size
    cap is enforced per increment, and the BUILD-time cap persists in
    meta so `store.compact(kind='minhash')` re-applies it globally,
    dropping buckets that grew past it across appends. Reference repo
    has no counterpart (net-new LLM-pipeline op)."""
    spark = reference.sparkSession
    m = store.begin_build(spark, store_name, mode,
                          ("_bands", "_shingles", "_meta"),
                          validate={"k": k, "num_hashes": num_hashes,
                                    "rows_per_band": rows_per_band})
    if m is not None:
        num_buckets = int(m["num_buckets"])   # appends stay aligned
    # a precomputed `minhash_profile` may cover a superset of the
    # reference rows: a semi-join restricts it to the rows written. A
    # derived one is checkpointed: the cap count, the capped join and the
    # shingles write all read it, and the signature UDF runs once.
    prof = (minhash_profile(reference, text_col, id_col, k, num_hashes,
                            rows_per_band).localCheckpoint() if profile is None
            else profile.join(reference.select(F.col(id_col)), id_col,
                              "left_semi"))
    bands = prof.select(F.col(id_col).alias("id"),
                        F.explode("bhs").alias("bh"))
    sh = prof.select(F.col(id_col).alias("id"), "shingles")
    sizes = (bands.groupBy("bh")
             .agg(F.count(F.lit(1)).alias("__n__"))
             .filter(F.col("__n__") <= max_bucket_size)
             .select("bh").hint("shuffle_hash"))
    bands = bands.join(sizes, "bh").select("id", "bh")
    # provenance stamps (see build_bm25_index): a guarded streaming
    # append marks its rows so a crash between apply and ingest-log
    # write rolls back convergently — without the rollback, the
    # re-run would see the batch as near-dups of its OWN crashed
    # attempt's bands and silently emit nothing to the sink.
    if mode != "append" or store.table_has_prov(
            spark, f"{store_name}_bands"):
        rid, bid = prov if prov is not None else (None, None)
        bands = store.with_prov(bands, rid, bid)
        sh = store.with_prov(sh, rid, bid)
    store.write_bucketed(bands, f"{store_name}_bands", "bh",
                         num_buckets, mode)
    store.write_bucketed(sh, f"{store_name}_shingles", "id",
                         num_buckets, mode)
    if mode != "append":
        store.write_meta(spark, store_name, k=int(k),
                         num_hashes=int(num_hashes),
                         rows_per_band=int(rows_per_band),
                         num_buckets=int(num_buckets),
                         max_bucket_size=int(max_bucket_size))


def incremental_near_dup(new_docs: DataFrame,
                         store_name: str,
                         text_col: str = "text",
                         id_col: str = "doc_id",
                         jaccard_threshold: float = 0.8,
                         profile: DataFrame | None = None) -> DataFrame:
    """Dedup an ingest batch against a persisted `build_minhash_store`
    index: drop new documents whose exact shingle Jaccard against some
    stored reference document meets the threshold. Same semantics as
    `cross_corpus_near_dup`, but the reference side is NEVER
    recomputed — its bands and shingles stream out of the bucketed
    store with zero Exchange on the store side of both joins (the
    batch side shuffles into the store's bucket count; the batch is
    the small side by construction).

    Fingerprint knobs come from ``{store}_meta`` so a batch can't
    silently hash differently from the index. Returns the surviving
    new rows (original columns). ``profile`` (an optional precomputed
    `minhash_profile` covering the batch) skips the re-tokenize/re-sign
    of the batch text — the streaming ingest body computes one profile
    per micro-batch and threads it through every step."""
    spark = new_docs.sparkSession
    m = store.read_meta(spark, store_name)
    k, num_hashes, rpb = (int(m["k"]), int(m["num_hashes"]),
                          int(m["rows_per_band"]))
    nbuck = int(m["num_buckets"])
    prof = (minhash_profile(new_docs, text_col, id_col, k, num_hashes,
                            rpb) if profile is None
            else profile.join(new_docs.select(F.col(id_col)), id_col,
                              "left_semi"))
    # Batch-side inputs are PRE-partitioned to the store's bucket count:
    # when both join children satisfy the clustering but with mismatched
    # partition counts (bucketed scan vs a groupBy at
    # spark.sql.shuffle.partitions), Spark re-shuffles the BUCKETED
    # side — exactly the exchange the store exists to avoid. Matching
    # the count up front makes the store side always win (plan-pinned).
    nb = (prof.select(F.col(id_col).alias("id_a"),
                      F.explode("bhs").alias("bh"))
          .repartition(nbuck, "bh"))
    sb = spark.table(f"{store_name}_bands")
    # Logical takedowns (`remove_from_minhash_store`): tombstoned
    # reference ids stop generating candidates; the (size-guarded
    # broadcast) anti-join sits on the bucketed scan side without
    # exchanging it.
    ts = store.tombstones(spark, store_name)
    if ts is not None:
        sb = sb.join(ts, "id", "left_anti")
    sb = sb.select(F.col("id").alias("id_b"), "bh")
    cand = (nb.join(sb, "bh").select("id_a", "id_b").distinct()
            .repartition(nbuck, "id_b"))
    dup_ids = (_jaccard_verify(cand, prof, id_col,
                               spark.table(f"{store_name}_shingles"),
                               "id", jaccard_threshold)
               .select(F.col("id_a").alias(id_col)).distinct())
    return new_docs.join(dup_ids, id_col, "left_anti")


def cross_corpus_spans(docs: DataFrame,
                       reference: DataFrame,
                       text_col: str = "text",
                       id_col: str = "doc_id",
                       min_len: int = 50,
                       seed_len: int | None = None) -> DataFrame:
    """Character ranges of ``docs`` that also occur in ``reference`` —
    the span-level eval-set decontamination primitive (cut the
    overlapping span, keep the document) used by modern pretraining
    reports, and the cross-corpus sibling of `duplicate_spans_exact`:
    a position is marked iff it lies inside a substring of length >=
    ``min_len`` chars present anywhere in the reference corpus.

    Same two-phase winnowing-anchor shape as the within-corpus exact
    pass (`_winnow_anchors`), made asymmetric: both sides emit only
    their content-defined anchors (~2/(w+1) of positions, not one row
    per character), only anchor hashes present on BOTH sides survive
    (a semi-join on the 8-byte hash — the corpus-scale prefilter), and
    only the window starts reachable from a shared anchor pay the
    md5(min_len)-window verify. The winnowing guarantee makes both
    copies of any shared min_len-window select the same-content
    anchor, so no true overlap is missed; the md5 verify keeps the
    output exact. Doc windows then semi-join the DISTINCT reference
    window hashes. Never doc x reference; every join is on a hash key.

    Returns merged (id_col, span_start, span_end), end-exclusive.
    Compose with `cut_spans` to rebuild the cleaned text."""
    seed_len = _auto_seed_len(min_len, seed_len)
    if seed_len > min_len:
        raise ValueError(
            f"seed_len ({seed_len}) must be <= min_len ({min_len})")

    def _anchors(df: DataFrame) -> DataFrame:
        t = F.col(text_col)
        return _winnow_anchors(
            df.filter(F.length(t) >= min_len).select(F.col(id_col), t),
            text_col, id_col, min_len, seed_len)

    def _verify(df: DataFrame, cand: DataFrame) -> DataFrame:
        pos_lists = cand.groupBy(id_col).agg(
            F.array_sort(F.collect_list("pos")).alias("qs")) \
            .hint("shuffle_hash")
        ps = _expand_anchor_candidates("qs", text_col, min_len,
                                       seed_len)
        return (df.filter(F.length(F.col(text_col)) >= min_len)
                .join(pos_lists, id_col)
                .select(F.col(id_col),
                        F.explode(F.expr(
                            f"transform({ps}, p -> struct(p AS pos, "
                            f"md5(substring({text_col}, p + 1, "
                            f"{min_len})) AS h))")).alias("v"))
                .select(id_col, F.col("v.pos").alias("pos"),
                        F.col("v.h").alias("h")))

    # Materialized once each: every anchor frame feeds the `shared`
    # probe AND its candidate join — un-checkpointed, the checkpoint
    # boundary between those jobs re-runs the winnowing pandas UDF
    # over the full text of BOTH corpora (§1.2/§4). Anchor rows are
    # ~2/(w+1) of character positions (3 narrow columns), so the
    # materialization is ~5% of the text it saves re-scanning.
    danchors = _anchors(docs).localCheckpoint()
    ranchors = _anchors(reference).localCheckpoint()
    # Every intermediate here scales with a corpus — never broadcast
    # (same reasoning as duplicate_spans_exact: post-agg size estimates
    # under-guess and a driver-built broadcast dies exactly at scale).
    # `shared` is materialized once: it feeds BOTH candidate joins.
    shared = (danchors.select("ah").distinct()
              .join(ranchors.select("ah").distinct()
                    .hint("shuffle_hash"),
                    "ah")).localCheckpoint()
    shared = shared.hint("shuffle_hash")
    dcand = danchors.join(shared, "ah").select(id_col, "pos")
    rcand = ranchors.join(shared, "ah").select(id_col, "pos")
    ref_hashes = (_verify(reference, rcand)
                  .select("h").distinct().hint("shuffle_hash"))
    marked = (_verify(docs, dcand)
              .join(ref_hashes, "h")
              .select(id_col, "pos"))
    iv = marked.select(F.col(id_col), F.col("pos").alias("start"),
                       (F.col("pos") + min_len).alias("end"))
    return _merge_spans(iv, id_col)


def build_span_store(reference: DataFrame,
                     store_name: str,
                     text_col: str = "text",
                     id_col: str = "doc_id",
                     min_len: int = 50,
                     seed_len: int | None = None,
                     num_buckets: int = 8,
                     mode: str = "overwrite",
                     prov: tuple[str, int] | None = None) -> None:
    """Persist a benchmark/eval corpus as a SPAN-DECONTAMINATION index
    so every new training batch can be span-cut against it without
    recomputing the reference's fingerprints — the decontamination twin
    of `build_minhash_store`. Three bucketed tables:

    * ``{store}_anchors`` (id, pos, ah) — the reference's winnowing
      anchors (`_winnow_anchors`), bucketed AND sorted by ah: both the
      shared-anchor semi-join and the reference-candidate join read
      this side with ZERO Exchange.
    * ``{store}_texts`` (id, text) — bucketed by id, so attaching
      candidate positions back to reference text for the md5 verify
      never shuffles the store either.
    * ``{store}_meta`` — (min_len, seed_len): batches can't silently
      fingerprint differently from the index.

    Build cost is one anchor pass over the reference, paid once;
    ``mode='append'`` adds a reference increment bucket-aligned."""
    spark = reference.sparkSession
    seed_len = _auto_seed_len(min_len, seed_len)
    m = store.begin_build(spark, store_name, mode,
                          ("_anchors", "_texts", "_meta"),
                          validate={"min_len": min_len,
                                    "seed_len": seed_len})
    if m is not None:
        num_buckets = int(m["num_buckets"])   # appends stay aligned
    eligible = (reference
                .filter(F.length(F.col(text_col)) >= min_len)
                .select(F.col(id_col).alias("id"),
                        F.col(text_col).alias("text")))
    anchors = _winnow_anchors(eligible, "text", "id", min_len, seed_len)
    # provenance stamps (see build_bm25_index): a guarded streaming
    # append marks its rows so a crash between apply and ingest-log
    # write rolls back convergently instead of leaving duplicate
    # anchor/text rows until compaction.
    if mode != "append" or store.table_has_prov(
            spark, f"{store_name}_anchors"):
        rid, bid = prov if prov is not None else (None, None)
        anchors = store.with_prov(anchors, rid, bid)
        eligible = store.with_prov(eligible, rid, bid)
    store.write_bucketed(anchors, f"{store_name}_anchors", "ah",
                         num_buckets, mode)
    store.write_bucketed(eligible, f"{store_name}_texts", "id",
                         num_buckets, mode)
    if mode != "append":
        store.write_meta(spark, store_name, min_len=int(min_len),
                         seed_len=int(seed_len),
                         num_buckets=int(num_buckets))


def incremental_decontaminate_spans(docs: DataFrame,
                                    store_name: str,
                                    text_col: str = "text",
                                    id_col: str = "doc_id"
                                    ) -> DataFrame:
    """Character ranges of ``docs`` that occur anywhere in a persisted
    `build_span_store` reference — `cross_corpus_spans` semantics with
    the reference side never recomputed: its anchors and text stream
    out of the bucketed store with zero Exchange on the store side of
    every join; only anchor-reachable candidate windows (on BOTH
    sides) pay the md5 verify, so per-batch cost scales with the batch
    and the overlap, not the reference. Returns merged
    (id_col, span_start, span_end), end-exclusive; compose with
    `cut_spans`."""
    spark = docs.sparkSession
    m = store.read_meta(spark, store_name)
    min_len, seed_len = int(m["min_len"]), int(m["seed_len"])
    nbuck = int(m["num_buckets"])
    # Materialized once: the batch anchor pass (a pandas UDF over the
    # batch text) feeds the `shared` probe below AND the candidate
    # join — un-checkpointed, the checkpoint boundary between them
    # makes the UDF run twice over the batch (§1.2/§4; anchor rows are
    # ~2/(w+1) of positions, far smaller than the text they replace).
    danchors = _winnow_anchors(
        docs.filter(F.length(F.col(text_col)) >= min_len)
        .select(F.col(id_col), F.col(text_col)),
        text_col, id_col, min_len, seed_len).localCheckpoint()
    sanchors = spark.table(f"{store_name}_anchors")
    # Logical takedowns (`remove_from_span_store`): tombstoned
    # reference ids stop contributing anchors (size-guarded broadcast
    # anti-join on the bucketed scan — no exchange).
    ts = store.tombstones(spark, store_name)
    if ts is not None:
        sanchors = sanchors.join(ts, "id", "left_anti")
    # shared anchor hashes: batch side distinct (small), store side
    # bucketed — no exchange, no broadcast of anything corpus-scale.
    # Batch-side join inputs are PRE-partitioned to the store's bucket
    # count (same reasoning as incremental_near_dup: a partition-count
    # mismatch makes Spark re-shuffle the bucketed side).
    shared = (danchors.select("ah").distinct()
              .repartition(nbuck, "ah")
              .join(sanchors.select("ah"), "ah")
              .distinct().localCheckpoint())
    shared = shared.repartition(nbuck, "ah")
    dcand = danchors.join(shared.hint("shuffle_hash"), "ah") \
        .select(id_col, "pos")
    rcand = (sanchors.join(shared, "ah")
             .select(F.col("id"), F.col("pos")))

    # doc-side verify keeps (id, pos, h); ref side only needs DISTINCT h
    dlists = dcand.groupBy(id_col).agg(
        F.array_sort(F.collect_list("pos")).alias("qs")) \
        .hint("shuffle_hash")
    dps = _expand_anchor_candidates("qs", text_col, min_len, seed_len)
    dverify = (docs.select(F.col(id_col), F.col(text_col))
               .join(dlists, id_col)
               .select(F.col(id_col),
                       F.explode(F.expr(
                           f"transform({dps}, p -> struct(p AS pos, "
                           f"md5(substring({text_col}, p + 1, "
                           f"{min_len})) AS h))")).alias("v"))
               .select(id_col, F.col("v.pos").alias("pos"),
                       F.col("v.h").alias("h")))
    rlists = rcand.repartition(nbuck, "id").groupBy("id").agg(
        F.array_sort(F.collect_list("pos")).alias("qs")) \
        .hint("shuffle_hash")
    rps = _expand_anchor_candidates("qs", "text", min_len, seed_len)
    ref_hashes = (spark.table(f"{store_name}_texts")
                  .join(rlists, "id")
                  .select(F.explode(F.expr(
                      f"transform({rps}, p -> md5(substring(text, "
                      f"p + 1, {min_len})))")).alias("h"))
                  .distinct().hint("shuffle_hash"))
    marked = dverify.join(ref_hashes, "h").select(id_col, "pos")
    iv = marked.select(F.col(id_col), F.col("pos").alias("start"),
                       (F.col("pos") + min_len).alias("end"))
    return _merge_spans(iv, id_col)


def cut_spans(docs: DataFrame,
              spans: DataFrame,
              text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Rebuild each document's text with the given (span_start,
    span_end) CHARACTER ranges removed — the execution half of
    `duplicate_spans_exact` / `cross_corpus_spans`. Ranges must be
    non-overlapping and end-exclusive (which the span detectors'
    merge step guarantees). Documents with no spans pass through
    unchanged.

    One groupBy(doc) packs that document's spans into a sorted array
    (bounded by doc size), one equi-join attaches them to the text,
    and the splice is pure codegen: the kept text is the gap segments
    between consecutive spans — zip([0] + span_ends, span_starts +
    [len]) -> substrings -> join. No window, no Python. Returns
    (id_col, clean_text, n_spans, n_cut_chars)."""
    packed = spans.groupBy(id_col).agg(
        F.array_sort(F.collect_list(
            F.struct(F.col("span_start").alias("s"),
                     F.col("span_end").alias("e")))).alias("__sp__"))
    joined = docs.select(F.col(id_col), F.col(text_col)) \
        .join(packed, id_col, "left")
    sp = F.coalesce(F.col("__sp__"), F.array().cast(
        "array<struct<s:bigint,e:bigint>>"))
    t = F.col(text_col)
    gap_starts = F.concat(F.array(F.lit(0).cast("long")),
                          F.transform(sp, lambda x: x["e"]))
    gap_ends = F.concat(F.transform(sp, lambda x: x["s"]),
                        F.array(F.length(t).cast("long")))
    pieces = F.zip_with(
        gap_starts, gap_ends,
        lambda a, b: F.substring(t, (a + 1).cast("int"),
                                 (b - a).cast("int")))
    n_cut = F.aggregate(sp, F.lit(0).cast("long"),
                        lambda acc, x: acc + (x["e"] - x["s"]))
    return joined.select(
        id_col,
        F.array_join(pieces, "").alias("clean_text"),
        F.size(sp).cast("long").alias("n_spans"),
        n_cut.alias("n_cut_chars"))


def plan_lsh_params(jaccard_threshold: float,
                    target_recall: float = 0.95,
                    max_hashes: int = 256,
                    background_sim: float = 0.2,
                    rows_options=(2, 3, 4, 5, 6, 8)):
    """Analytic MinHash-LSH banding planner: for bands x rows grids
    within ``max_hashes``, the S-curve gives recall at the target
    threshold, recall(t) = 1 - (1 - t^r)^b, and the false-candidate
    rate at a background similarity. Returns (bands, rows_per_band,
    num_hashes, recall, fp_rate) for the CHEAPEST plan meeting
    ``target_recall`` (ties to lower fp_rate) — the knob-picking step
    before `minhash_lsh_pairs`, driver-side math (no Spark job).

    Raises if no plan within max_hashes reaches the target (the honest
    failure: lowering rows_per_band below 2 would meet recall by
    flooding candidates)."""
    if not 0 < jaccard_threshold < 1:
        raise ValueError(f"jaccard_threshold must be in (0, 1), got "
                         f"{jaccard_threshold}")
    best = None
    for r in rows_options:
        for b in range(1, max_hashes // r + 1):
            recall = 1.0 - (1.0 - jaccard_threshold ** r) ** b
            if recall < target_recall:
                continue
            fp = 1.0 - (1.0 - background_sim ** r) ** b
            key = (b * r, fp, b)
            if best is None or key < best[0]:
                best = (key, {"bands": b, "rows_per_band": r,
                              "num_hashes": b * r,
                              "recall": recall, "fp_rate": fp})
            break   # larger b only costs more at same r
    if best is None:
        raise ValueError(
            f"no (bands, rows) plan within max_hashes={max_hashes} "
            f"reaches recall {target_recall} at threshold "
            f"{jaccard_threshold}")
    return best[1]


def remove_from_minhash_store(docs: DataFrame,
                              store_name: str,
                              id_col: str = "doc_id") -> None:
    """Takedown from a persisted MinHash near-dup index: the removed
    reference ids append to ``{store}_tombstones``;
    `incremental_near_dup` then stops generating candidates from their
    bands, so batches are no longer deduped against the removed
    reference documents. O(removed) bookkeeping, idempotent;
    `store.compact(kind='minhash')` deletes their bands and shingles
    physically and clears the tombstones. Re-adding a removed id
    requires that compaction first."""
    store.add_tombstones(
        docs.select(F.col(id_col).alias("id")), store_name, "id",
        int(store.read_meta(docs.sparkSession, store_name)
            ["num_buckets"]))


def remove_from_span_store(docs: DataFrame,
                           store_name: str,
                           id_col: str = "doc_id") -> None:
    """Takedown from a persisted span-decontamination index: the
    removed reference ids append to ``{store}_tombstones``;
    `incremental_decontaminate_spans` then stops cutting spans that
    matched only the removed reference documents (their anchors and
    texts are dropped with broadcast anti-joins). O(removed),
    idempotent; `store.compact(kind='span')` applies physically."""
    store.add_tombstones(
        docs.select(F.col(id_col).alias("id")), store_name, "id",
        int(store.read_meta(docs.sparkSession, store_name)
            ["num_buckets"]))
