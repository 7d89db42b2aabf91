"""Distributed BPE (byte-pair-encoding) merge training and application.

Classic BPE (Sennrich et al. 2016, "Neural Machine Translation of Rare
Words with Subword Units") trains on the WORD-FREQUENCY table: each
iteration counts adjacent symbol pairs weighted by word frequency, merges
the most frequent pair, and rewrites the vocabulary. Single-node
implementations collect that table; at web-corpus scale the distinct-word
table itself is huge (hundreds of millions of multilingual types), so
here it stays a DataFrame end-to-end:

  corpus -> explode tokens -> groupBy word (ONE corpus-scale shuffle)
  -> per merge: explode adjacent pairs -> map-side-combined count ->
     driver receives only the argmax row -> fold-rewrite the symbol
     arrays (leftmost non-overlapping, the BPE rule)

Per-iteration cost is proportional to the VOCABULARY, not the corpus —
the corpus is touched exactly once. The symbol rewrite is a column-
expression fold; `localCheckpoint` every few rounds caps plan growth
(same guard as operators/graph.py — iterative self-referencing plans
otherwise grow without bound).

No reference counterpart (net-new per the project north star).
"""

from __future__ import annotations

from typing import Iterator, List, Sequence, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pipelinedp_spark.functions import text as T

END_OF_WORD = "</w>"
# Checkpoint the vocab every N merge rounds: each round wraps the
# symbol arrays in another fold expression, and nested folds blow up
# whole-stage codegen compile time long before the (vocabulary-sized)
# data costs anything — measured at 20 merges on sf0.1: every-8 ≈ 7.7 s,
# every-2 ≈ 4.9 s, identical merge output. Every-1 pays one extra
# checkpoint job per round for no further plan relief.
_CHECKPOINT_EVERY = 2


def _word_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """(syms array<string>, cnt) — one row per distinct word."""
    words = (df.select(F.explode(T.tokens(F.col(text_col))).alias("w"))
             .filter(F.col("w") != "")
             .groupBy("w").agg(F.count(F.lit(1)).alias("cnt")))
    syms = F.concat(F.split(F.col("w"), ""), F.array(F.lit(END_OF_WORD)))
    return words.select(syms.alias("syms"), F.col("cnt"))


def _merge_expr(syms, a: str, b: str):
    """Fold-rewrite: replace adjacent (a, b) with a+b, leftmost
    non-overlapping — the fold consumes the merged symbol, so 'aaa' with
    merge (a, a) becomes [aa, a], exactly the BPE rule."""
    merged = a + b
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1),
                     F.array(F.lit(merged))))
        .otherwise(F.concat(acc, F.array(x))))


def train_bpe_merges(df: DataFrame,
                     text_col: str = "text",
                     num_merges: int = 50,
                     min_pair_count: int = 2
                     ) -> List[Tuple[str, str]]:
    """Learn up to ``num_merges`` BPE merges from a corpus. Deterministic:
    ties in pair frequency break by pair string ascending. Stops early
    when the best pair's weighted count drops below ``min_pair_count``.
    Returns the merge list in learned order.

    Concurrency note: the merge loop holds session-global conf
    overrides (AQE off, shuffle partitions sized to the vocab) for its
    whole duration via ``scoped_conf`` — any query planned on the SAME
    SparkSession from another thread while training runs would inherit
    them. Train on a dedicated session when running concurrent
    workloads (the single-threaded-driver contract everywhere else in
    this package)."""
    vocab = _word_vocab(df, text_col).localCheckpoint()
    # Per-round work is VOCABULARY-sized (the corpus was folded into
    # word counts above), so size the per-round shuffle to the vocab's
    # own partition count instead of the session default (sized for
    # corpus tables), and skip AQE inside the loop — its per-stage
    # re-optimization jobs cost more than the tiny pair-count shuffle
    # they would tune (same reasoning as graph.connected_components).
    from pipelinedp_spark.plans import scoped_conf
    spark = df.sparkSession
    nparts = max(1, vocab.rdd.getNumPartitions())
    merges: List[Tuple[str, str]] = []
    with scoped_conf(spark, **{
            "spark.sql.shuffle.partitions": str(nparts),
            "spark.sql.adaptive.enabled": "false"}):
        for i in range(num_merges):
            pairs = vocab.select(
                F.col("cnt"),
                F.explode(F.zip_with(
                    F.slice(F.col("syms"), 1, F.size("syms") - 1),
                    F.slice(F.col("syms"), 2, F.size("syms") - 1),
                    lambda x, y: F.struct(x.alias("a"), y.alias("b"))))
                .alias("p"))
            best = (pairs.groupBy("p").agg(F.sum("cnt").alias("n"))
                    .orderBy(F.col("n").desc(), F.col("p.a").asc(),
                             F.col("p.b").asc())
                    .first())
            if best is None or best["n"] < min_pair_count:
                break
            a, b = best["p"]["a"], best["p"]["b"]
            merges.append((a, b))
            vocab = vocab.select(
                _merge_expr(F.col("syms"), a, b).alias("syms"),
                F.col("cnt"))
            if (i + 1) % _CHECKPOINT_EVERY == 0:
                vocab = vocab.localCheckpoint()
    return merges


def train_bpe_merges_local(word_counts: "dict[str, int]",
                           num_merges: int = 50,
                           min_pair_count: int = 2
                           ) -> List[Tuple[str, str]]:
    """Pure-Python BPE trainer over a word-frequency dict — same
    semantics and deterministic tie-break as `train_bpe_merges` (pair
    frequency desc, then pair ascending), for driver-side use when the
    word table is already small (e.g. baking oracle artifacts, or
    training on a pre-aggregated vocabulary). The distributed trainer
    remains the path for corpus-scale vocabularies."""
    import collections
    vocab = collections.Counter()
    for w, c in word_counts.items():
        if w:
            vocab[tuple(list(w) + [END_OF_WORD])] += int(c)
    merges: List[Tuple[str, str]] = []
    for _ in range(num_merges):
        stats: collections.Counter = collections.Counter()
        for syms, cnt in vocab.items():
            for i in range(len(syms) - 1):
                stats[(syms[i], syms[i + 1])] += cnt
        if not stats:
            break
        (a, b), n = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_pair_count:
            break
        merges.append((a, b))
        new_vocab: collections.Counter = collections.Counter()
        for syms, cnt in vocab.items():
            out: List[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] += cnt
        vocab = new_vocab
    return merges


def encode_word_sequential(word: str,
                           merges: Sequence[Tuple[str, str]]) -> List[str]:
    """Encode one word by applying the merge list IN LEARNED ORDER, each
    merge exhaustively leftmost-non-overlapping — the textbook
    formulation, provably equivalent to `apply_bpe`'s min-rank greedy
    loop (the lowest-rank pair present is always the one the sequential
    pass would apply next). Kept as an independent code path so oracle
    encodings cross-check the Arrow-batched encoder."""
    syms = list(word) + [END_OF_WORD]
    for a, b in merges:
        out: List[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def apply_bpe(df: DataFrame,
              merges: Sequence[Tuple[str, str]],
              text_col: str = "text",
              out_col: str = "bpe_tokens") -> DataFrame:
    """Encode each document with a learned merge list: every whitespace
    token becomes its BPE subword sequence (with the </w> marker fused
    into the final subword). Arrow-batched mapInPandas — applying N
    learned merges is an inherently sequential per-word loop, and a
    per-batch cache of word -> subwords exploits Zipf repetition."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {out_col} array<string>"

    def encode_word(word: str, cache: dict) -> List[str]:
        got = cache.get(word)
        if got is not None:
            return got
        syms = list(word) + [END_OF_WORD]
        while len(syms) > 1:
            cand = [(ranks.get((syms[i], syms[i + 1])), i)
                    for i in range(len(syms) - 1)
                    if (syms[i], syms[i + 1]) in ranks]
            if not cand:
                break
            _, i = min(cand)
            syms = syms[:i] + [syms[i] + syms[i + 1]] + syms[i + 2:]
        cache[word] = syms
        return syms

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for pdf in it:
            pdf = pdf.copy()
            pdf[out_col] = [
                [s for w in (t or "").split(" ") if w
                 for s in encode_word(w, cache)]
                for t in pdf[text_col]]
            yield pdf

    return df.mapInPandas(batches, out_schema)
