"""Sequence packing for training-data pipelines: concat-and-chunk
document placement into fixed-capacity token sequences (the GPT-style
pretraining layout — documents concatenated in a deterministic order,
then split into ``seq_len``-token sequences).

Built on ``running.running_sum`` (the two-phase distributed prefix sum):
each document's global token OFFSET is the running sum of token counts
in ``order_col`` order, from which its placement is pure per-row
arithmetic — start sequence, offset within it, and how many sequences
it spans. One range exchange + a tiny per-partition-totals collect; no
corpus-wide window sort.

No reference counterpart (net-new per project north star).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pipelinedp_spark.functions import text as T
from pipelinedp_spark.operators.running import running_sum


def pack_sequences(docs: DataFrame, seq_len: int,
                   text_col: str = "text", id_col: str = "doc_id",
                   order_col: str = None) -> DataFrame:
    """(all input columns, n_tokens, start_seq, start_off, n_seqs):
    placement of each document in the concatenated token stream chunked
    into ``seq_len``-token sequences. ``order_col`` (default: id_col)
    must be globally unique — it defines the deterministic concat order.
    """
    order_col = order_col or id_col
    with_n = docs.withColumn("n_tokens",
                             T.token_count(F.col(text_col)).cast("long"))
    summed = running_sum(with_n, order_col, "n_tokens",
                         out_col="__cum__")
    # Integer DIV, not float division: a 100 TB corpus holds ~10^13
    # tokens and double arithmetic would lose exactness near 2^53.
    out = (summed
           .withColumn("__off__", F.col("__cum__") - F.col("n_tokens"))
           .withColumn("start_seq",
                       F.expr(f"__off__ DIV {seq_len}").cast("long"))
           .withColumn("start_off", F.col("__off__") % seq_len)
           .withColumn(
               "n_seqs",
               F.when(F.col("n_tokens") == 0, F.lit(0).cast("long"))
               .otherwise(
                   F.expr(f"(__cum__ - 1) DIV {seq_len}").cast("long")
                   - F.expr(f"__off__ DIV {seq_len}").cast("long")
                   + 1)))
    return out.drop("__cum__", "__off__")


def chunk_documents(docs: DataFrame,
                    chunk_tokens: int = 256,
                    overlap: int = 32,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Sliding-window token chunking — the RAG / context-window prep
    layout (fixed-size chunks with overlap, per document, no
    cross-document concatenation; contrast `pack_sequences`).

    Chunk i of a document covers tokens [i*stride, i*stride +
    chunk_tokens) with stride = chunk_tokens - overlap; the last chunk
    may be short; a document not longer than chunk_tokens yields exactly
    one chunk. Number of chunks: 1 + ceil((n - chunk_tokens) / stride)
    for n > chunk_tokens (integer arithmetic, SQL-mirrorable).

    Scale shape: pure per-row codegen arithmetic — one posexplode of a
    sequence() the size of the chunk count, slices off the already-split
    token array (split() evaluated once per row via the shared array
    column), zero shuffles, zero UDFs.

    Returns (id_col, chunk_idx, chunk, n_tokens).
    """
    if overlap >= chunk_tokens:
        raise ValueError(
            f"overlap={overlap} must be < chunk_tokens={chunk_tokens}")
    stride = chunk_tokens - overlap
    toks = docs.select(F.col(id_col),
                       T.tokens(F.col(text_col)).alias("tk"))
    n = F.size(F.col("tk"))
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        (n - chunk_tokens + (stride - 1)) / stride + 1).cast("int")
    exploded = toks.select(
        F.col(id_col), F.col("tk"), n.alias("n"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"))
    start = F.col("chunk_idx") * stride
    return exploded.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.array_join(F.slice(F.col("tk"), start + 1, chunk_tokens), " ")
        .alias("chunk"),
        F.least(F.lit(chunk_tokens), F.col("n") - start)
        .cast("long").alias("n_tokens"))


def length_bucket_expr(n_tokens, boundaries) -> "F.Column":
    """Smallest boundary >= n_tokens (overflow docs land in the top
    bucket — they get truncated at batch time). A static CASE ladder of
    integer comparisons: exactly portable to SQL, no log2 float edge
    cases at power-of-two boundaries."""
    expr = F.lit(int(boundaries[-1]))
    for b in reversed(boundaries[:-1]):
        expr = F.when(n_tokens <= int(b), F.lit(int(b))).otherwise(expr)
    return expr.cast("long")


def length_buckets(docs: DataFrame,
                   text_col: str = "text",
                   boundaries=(64, 128, 256, 512, 1024, 2048, 4096,
                               8192)) -> DataFrame:
    """Padding-efficiency report for length-bucketed batching (the
    standard alternative to packing when documents must stay intact —
    SFT, preference pairs, eval sets): each doc goes to the smallest
    bucket holding it, and the report prices the padding that bucket
    choice costs. Returns per bucket: n_docs, total_tokens (raw),
    kept_tokens (after top-bucket truncation), pad_tokens
    (n_docs * bucket - kept_tokens) and pad_frac.

    Scale shape: per-row codegen bucket ladder + one
    map-side-combinable groupBy over at most len(boundaries) keys —
    nothing here is corpus-size-dependent except the single scan."""
    bs = sorted(int(b) for b in boundaries)
    n = T.token_count(F.col(text_col)).cast("long")
    bucket = length_bucket_expr(n, bs)
    kept = F.least(n, bucket)
    return (docs.select(bucket.alias("bucket"), n.alias("_n"),
                        kept.alias("_k"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("_n").alias("total_tokens"),
                 F.sum("_k").alias("kept_tokens"))
            .select("bucket", "n_docs", "total_tokens", "kept_tokens",
                    (F.col("n_docs") * F.col("bucket")
                     - F.col("kept_tokens")).alias("pad_tokens"),
                    F.round((F.col("n_docs") * F.col("bucket")
                             - F.col("kept_tokens"))
                            / (F.col("n_docs") * F.col("bucket")), 6)
                    .alias("pad_frac")))


def length_match_resample(docs: DataFrame,
                          target: dict,
                          text_col: str = "text",
                          id_col: str = "doc_id",
                          salt: str = "lenmatch") -> DataFrame:
    """Deterministic downsample so the corpus's length-bucket
    distribution matches `target` (bucket -> probability mass, same
    boundaries as `length_bucket_expr`) — the long-context curation
    move: a web crawl is short-doc-heavy, so hitting a target that
    weights long docs means thinning the short buckets.

    Every bucket keeps fraction ``(target_i / current_i) * s`` with
    ``s = min_j current_j / target_j`` — the largest uniform scale at
    which no bucket needs MORE docs than it has (pure thinning, no
    duplication). Selection is the portable md5 hash on the doc id, so
    the subset is reproducible across engines and layouts. Bucket
    counts are one combinable agg + a bounded collect; the filter is
    codegen."""
    from pipelinedp_spark.functions.text import hex_to_long, token_count

    bs = sorted(int(b) for b in target)
    tot_t = float(sum(target.values()))
    n = token_count(F.col(text_col)).cast("long")
    bucket = length_bucket_expr(n, bs)
    with_b = docs.withColumn("__bucket__", bucket)
    cur = {r["__bucket__"]: r["cnt"] for r in
           with_b.groupBy("__bucket__")
           .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    total = sum(cur.values())
    if total == 0:
        raise ValueError("length_match_resample: input corpus is empty")
    # A target>0 bucket with zero current docs can never be supplied:
    # it contributes 0 docs whatever the scale, so it must not drive
    # scale to 0 and wipe the whole corpus. Best-effort: scale over
    # the buckets that actually have docs.
    supplied = [b for b in bs if target[b] > 0 and cur.get(b, 0) > 0]
    if not supplied:
        raise ValueError(
            "length_match_resample: no bucket with target mass has any "
            f"documents (empty target buckets: "
            f"{[b for b in bs if target[b] > 0]})")
    scale = min((cur[b] / total) / (target[b] / tot_t)
                for b in supplied)
    keep = {b: min(1.0, (target[b] / tot_t) * scale * total
                   / max(cur.get(b, 1), 1)) for b in bs}
    u = (hex_to_long(F.md5(F.concat(
        F.lit(salt + ":"), F.col(id_col).cast("string"))))
        / F.lit(float(1 << 60)))
    thresh = F.lit(0.0)
    for b in reversed(bs[:-1]):
        thresh = F.when(F.col("__bucket__") == b,
                        F.lit(keep[b])).otherwise(thresh)
    thresh = F.when(F.col("__bucket__") == bs[-1],
                    F.lit(keep[bs[-1]])).otherwise(thresh)
    return (with_b.filter(u < thresh)
            .drop("__bucket__"))
