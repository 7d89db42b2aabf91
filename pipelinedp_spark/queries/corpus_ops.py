"""Semantic dedup, span dedup, LM-quality, retrieval, importance weighting.

Part of the driver-contract oracle registry (split out of
__spark_entry__.py in round 11; every query name, plan, and oracle hash
unchanged). QUERIES maps query name -> (spark, sf_dir) -> DataFrame;
ORACLES maps the same names to DuckDB-ANSI SQL strings the driver runs
side-by-side at sf0.01.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import pipelinedp_spark as pds
from pipelinedp_spark.queries.common import _t, _two_triggers
from pipelinedp_spark.queries.text_dedup import _plane_lit


def _emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: k-means cells + within-cell
    keep-first cosine pruning. Deterministic: quantizer trains on the
    lowest-10k-id sample with a fixed seed, so the oracle generator
    re-trains bit-identical centroids and mirrors cell assignment and
    the earlier-id pruning rule in SQL."""
    from pipelinedp_spark.operators import semdedup
    emb = _t(spark, sf_dir, "embeddings")
    return semdedup.semantic_dedup(emb, num_clusters=8,
                                   cosine_threshold=0.4)

def _gen_semantic_dedup_sql(num_clusters: int = 8, tau: float = 0.4,
                            seed: int = 7,
                            sf_dir: str = "/root/testdata/sf0.01") -> str:
    """SQL mirror of `semdedup.semantic_dedup`: same centroids (shared
    `train_ivf_centroids` on the same deterministic sample), argmax cell
    via row_number (dot DESC, cell ASC — numpy argmax-first-max), dup
    rule = EXISTS earlier-id same-cell member with round(cos, 6) >= tau."""
    import numpy as np
    import pyarrow.parquet as pq
    from pipelinedp_spark.operators.similarity import train_ivf_centroids
    t = pq.read_table(f"{sf_dir}/embeddings.parquet",
                      columns=["vec_id", "embedding"]).to_pandas()
    t = t.sort_values("vec_id").head(10_000)
    x = np.stack(t["embedding"].to_numpy()).astype("float64")
    cents = train_ivf_centroids(x, num_clusters, seed)
    cell_rows = ", ".join(f"({c}, {_plane_lit(cents[c])})"
                          for c in range(len(cents)))
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cells(cell, cv) AS (VALUES {cell_rows}),
ass AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY list_dot_product(v, cv) DESC,
                                       cell ASC) AS rn
    FROM base CROSS JOIN cells) WHERE rn = 1),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM ass a JOIN ass b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(a.v, b.v) /
              (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))), 6) >= {tau})
SELECT a.vec_id, a.cell, (d.vec_id IS NOT NULL) AS is_dup
FROM ass a LEFT JOIN dups d USING (vec_id)
"""

def _stream_semdedup_mirror(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Batch mirror of `streaming.semantic_dedup_batch` with exact
    two-trigger semantics (same harness as the line/sentence/near-dup
    mirrors): batch 0 = even vec_ids deduped among themselves, batch 1 =
    odd vec_ids checked against batch 0's KEPT state then among
    themselves by the earlier-id rule. Quantizer trained once on the
    lowest-10k-id sample of the full table (the operator's required
    fixed-centroids contract), identical to the oracle generator's."""
    from pipelinedp_spark.operators.similarity import (
        sample_corpus_matrix, train_ivf_centroids)
    from pipelinedp_spark.streaming.dp_streaming import (
        semantic_dedup_batch)
    emb = _t(spark, sf_dir, "embeddings")
    cents = train_ivf_centroids(
        sample_corpus_matrix(emb, "vec_id", "embedding", 10_000), 8, 7)
    return _two_triggers(
        emb, "vec_id", lambda b, state: semantic_dedup_batch(
            b, state, cents, cosine_threshold=0.4,
            materialize=state is None))

def _gen_stream_semdedup_sql(num_clusters: int = 8, tau: float = 0.4,
                             seed: int = 7,
                             sf_dir: str = "/root/testdata/sf0.01") -> str:
    """SQL mirror of `_stream_semdedup_mirror`: same baked centroids as
    `_gen_semantic_dedup_sql`; batch-0 dups by the earlier-id rule among
    evens, kept evens form the state, batch-1 dups = cosine hit against
    any kept even OR an earlier odd."""
    import numpy as np
    import pyarrow.parquet as pq
    from pipelinedp_spark.operators.similarity import train_ivf_centroids
    t = pq.read_table(f"{sf_dir}/embeddings.parquet",
                      columns=["vec_id", "embedding"]).to_pandas()
    t = t.sort_values("vec_id").head(10_000)
    x = np.stack(t["embedding"].to_numpy()).astype("float64")
    cents = train_ivf_centroids(x, num_clusters, seed)
    cell_rows = ", ".join(f"({c}, {_plane_lit(cents[c])})"
                          for c in range(len(cents)))
    cos = ("ROUND(list_dot_product(a.v, b.v) / "
           "(sqrt(list_dot_product(a.v, a.v)) "
           "* sqrt(list_dot_product(b.v, b.v))), 6)")
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cells(cell, cv) AS (VALUES {cell_rows}),
ass AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY list_dot_product(v, cv) DESC,
                                       cell ASC) AS rn
    FROM base CROSS JOIN cells) WHERE rn = 1),
d0 AS (
  SELECT DISTINCT b.vec_id
  FROM ass a JOIN ass b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 0 AND {cos} >= {tau}),
k0 AS (
  SELECT a.* FROM ass a
  WHERE a.vec_id % 2 = 0
    AND a.vec_id NOT IN (SELECT vec_id FROM d0)),
d1 AS (
  SELECT DISTINCT b.vec_id
  FROM k0 a JOIN ass b ON a.cell = b.cell
  WHERE b.vec_id % 2 = 1 AND {cos} >= {tau}
  UNION
  SELECT DISTINCT b.vec_id
  FROM ass a JOIN ass b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE a.vec_id % 2 = 1 AND b.vec_id % 2 = 1 AND {cos} >= {tau})
SELECT a.vec_id, a.cell,
       CASE WHEN a.vec_id % 2 = 0 THEN (d0.vec_id IS NOT NULL)
            ELSE (d1.vec_id IS NOT NULL) END AS is_dup,
       a.vec_id % 2 AS batch
FROM ass a
LEFT JOIN d0 ON a.vec_id = d0.vec_id
LEFT JOIN d1 ON a.vec_id = d1.vec_id
"""

_PII_PLANT = (
    " contact user@example-site.org now",      # email    (%5 == 0)
    " card 4532015112830366 on file",          # Luhn-valid card (%7==3)
    " card 1234567890123456 rejected",         # Luhn-invalid card (%7==4)
    " ssn 987-65-4320 via 10.0.0.77",          # ssn + ip (%9 == 1)
    " call 555-867-5309 today",                # phone    (%6 == 2)
)

def _doc_pii_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII audit + scrub (`functions.pii.pii_report`): detection counts
    per type (credit cards Luhn-verified in pure integer codegen),
    plus the placeholder-redacted text — the standard pre-release
    corpus scrub. Deterministic PII of every type is planted by doc_id
    residue so all detector branches and the redaction order are
    exercised; patterns are the Java-regex/RE2 common subset so the
    DuckDB mirror runs them VERBATIM. Map-only stage: no shuffle."""
    from pipelinedp_spark.functions.pii import pii_report
    docs = _t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0,
                   F.lit(_PII_PLANT[0])).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 3,
                   F.lit(_PII_PLANT[1])).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 4,
                   F.lit(_PII_PLANT[2])).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 9 == 1,
                   F.lit(_PII_PLANT[3])).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 6 == 2,
                   F.lit(_PII_PLANT[4])).otherwise(F.lit("")),
        ).alias("text"))
    rep = pii_report(planted)
    return rep.select(
        "doc_id", "n_email", "n_card", "n_ssn", "n_phone", "n_ipv4",
        "n_card_luhn", "any_pii",
        F.md5(F.col("clean_text")).alias("clean_md5"))

def _gen_pii_audit_sql() -> str:
    """SQL mirror of `_doc_pii_audit`: identical patterns (verbatim —
    both engines treat the single-quoted pattern literally), identical
    redaction order, and the same 0-based-odd Luhn double expressed
    1-based. Static SQL, smokeable at any sf."""
    from pipelinedp_spark.functions.pii import PII_PATTERNS
    pats = {name: pat for name, pat, _ in PII_PATTERNS}
    repl = ""
    inner = "text"
    for name, pat, placeholder in PII_PATTERNS:
        inner = (f"regexp_replace({inner}, '{pat}', "
                 f"'{placeholder}', 'g')")
    repl = inner
    plant = _PII_PLANT
    return f"""
WITH base AS (
  SELECT doc_id,
         documents.text
         || CASE WHEN doc_id % 5 = 0 THEN '{plant[0]}' ELSE '' END
         || CASE WHEN doc_id % 7 = 3 THEN '{plant[1]}' ELSE '' END
         || CASE WHEN doc_id % 7 = 4 THEN '{plant[2]}' ELSE '' END
         || CASE WHEN doc_id % 9 = 1 THEN '{plant[3]}' ELSE '' END
         || CASE WHEN doc_id % 6 = 2 THEN '{plant[4]}' ELSE '' END
             AS text
  FROM documents),
cards AS (
  SELECT doc_id,
         [x::INT for x in regexp_extract_all(reverse(c), '[0-9]')] AS dl
  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '{pats["card"]}'))
               AS c
        FROM base)),
luhn AS (
  SELECT doc_id,
         COUNT(*) FILTER (WHERE
           list_sum([CASE WHEN i % 2 = 0
                          THEN CASE WHEN dl[i] * 2 > 9
                                    THEN dl[i] * 2 - 9
                                    ELSE dl[i] * 2 END
                          ELSE dl[i] END
                     for i in range(1, len(dl) + 1)]) % 10 = 0)
             AS n_luhn
  FROM cards GROUP BY doc_id)
SELECT b.doc_id,
       CAST(len(regexp_extract_all(text, '{pats["email"]}')) AS INT)
           AS n_email,
       CAST(len(regexp_extract_all(text, '{pats["card"]}')) AS INT)
           AS n_card,
       CAST(len(regexp_extract_all(text, '{pats["ssn"]}')) AS INT)
           AS n_ssn,
       CAST(len(regexp_extract_all(text, '{pats["phone"]}')) AS INT)
           AS n_phone,
       CAST(len(regexp_extract_all(text, '{pats["ipv4"]}')) AS INT)
           AS n_ipv4,
       CAST(COALESCE(l.n_luhn, 0) AS INT) AS n_card_luhn,
       (len(regexp_extract_all(text, '{pats["email"]}')) > 0
        OR len(regexp_extract_all(text, '{pats["card"]}')) > 0
        OR len(regexp_extract_all(text, '{pats["ssn"]}')) > 0
        OR len(regexp_extract_all(text, '{pats["phone"]}')) > 0
        OR len(regexp_extract_all(text, '{pats["ipv4"]}')) > 0)
           AS any_pii,
       md5({repl}) AS clean_md5
FROM base b LEFT JOIN luhn l USING (doc_id)
"""

def _doc_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated k-token span cut ranges (keep the
    globally-first occurrence; overlapping windows merged)."""
    from pipelinedp_spark.operators import dedup
    docs = _t(spark, sf_dir, "documents")
    return dedup.duplicate_spans(docs, k=8)

_DOC_DUP_SPANS_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
e AS (SELECT doc_id,
             unnest(generate_series(1, greatest(len(toks) - 7, 0))) AS i,
             toks
      FROM t WHERE len(toks) >= 8),
g AS (SELECT doc_id, i - 1 AS pos,
             md5(array_to_string(toks[i:i+7], ' ')) AS h
      FROM e),
dups AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           ROW_NUMBER() OVER (PARTITION BY h
                              ORDER BY doc_id, pos) AS rn
    FROM g) WHERE rn > 1),
iv AS (SELECT doc_id, pos AS start, pos + 8 AS "end" FROM dups),
m AS (
  SELECT doc_id, start, "end",
         MAX("end") OVER (PARTITION BY doc_id ORDER BY start
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_end
  FROM iv),
grps AS (
  SELECT doc_id, start, "end",
         SUM(CASE WHEN prev_end IS NULL OR start > prev_end
                  THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY start
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS grp
  FROM m)
SELECT doc_id,
       CAST(MIN(start) AS BIGINT) AS span_start,
       CAST(MAX("end") AS BIGINT) AS span_end
FROM grps GROUP BY doc_id, grp
"""

_SPAN_S1 = ("Subscribe to our newsletter for weekly updates and "
            "exclusive member-only offers today.")

_SPAN_S2 = ("https://cdn.example.com/t.gif?id=AAAABBBBCCCCDDDDEEEE"
            "FFFF0000111122223333&campaign=footer")

_SPAN_S3 = "COPYRIGHT-2026-ALL-RIGHTS-RESERVED-DO-NOT-REDISTRIBUTE!"

def _doc_duplicate_spans_exact(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """TRUE ExactSubstr duplicated-span cut ranges (Lee et al.,
    arXiv:2107.06499) at CHARACTER granularity via the sorted-suffix
    join (`dedup.duplicate_spans_exact`): seed-gram prefilter, verify
    only candidates, keep the globally-first occurrence, merge
    overlapping windows. Boilerplate of three shapes is planted so the
    oracle exercises cross-doc, within-doc, and single-token repeats —
    the last being spans the fixed-k token pass cannot see."""
    from pipelinedp_spark.operators import dedup
    docs = _t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0,
                   F.lit(" " + _SPAN_S1)).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0,
                   F.lit(" " + _SPAN_S2)).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0,
                   F.lit(" " + _SPAN_S3 + " and then once more "
                         + _SPAN_S3)).otherwise(F.lit("")),
        ).alias("text"))
    return dedup.duplicate_spans_exact(planted, min_len=48)

_DOC_DUP_SPANS_EXACT_SQL = f"""
WITH base AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0 THEN ' {_SPAN_S1}' ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ' {_SPAN_S2}' ELSE '' END
         || CASE WHEN doc_id % 13 = 0
                 THEN ' {_SPAN_S3} and then once more {_SPAN_S3}'
                 ELSE '' END AS t
  FROM documents),
pos AS (
  SELECT doc_id, unnest(range(0, length(t) - 48 + 1)) AS p, t
  FROM base WHERE length(t) >= 48),
h AS (
  SELECT doc_id, CAST(p AS BIGINT) AS p,
         md5(substr(t, CAST(p AS INTEGER) + 1, 48)) AS h
  FROM pos),
firsts AS (
  SELECT h, COUNT(*) AS n,
         MIN(doc_id * 1073741824 + p) AS fk
  FROM h GROUP BY h),
dups AS (
  SELECT doc_id, p FROM h JOIN firsts USING (h)
  WHERE n >= 2 AND doc_id * 1073741824 + p <> fk),
iv AS (SELECT doc_id, p AS start, p + 48 AS "end" FROM dups),
m AS (
  SELECT doc_id, start, "end",
         MAX("end") OVER (PARTITION BY doc_id ORDER BY start
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_end
  FROM iv),
grps AS (
  SELECT doc_id, start, "end",
         SUM(CASE WHEN prev_end IS NULL OR start > prev_end
                  THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY start
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS grp
  FROM m)
SELECT doc_id,
       CAST(MIN(start) AS BIGINT) AS span_start,
       CAST(MAX("end") AS BIGINT) AS span_end
FROM grps GROUP BY doc_id, grp
"""

_DECON_BENCH = ("Which river is the longest river flowing entirely "
                "within the national borders, and why does it matter?")

def _doc_decontaminate_spans(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Span-level eval-set decontamination
    (`dedup.cross_corpus_spans` + `dedup.cut_spans`): the benchmark
    corpus is every doc with doc_id % 17 == 5 plus a fixed question
    string; training docs with doc_id % 23 == 2 get that question
    planted (a cross-corpus hit the cut must remove), and benchmark
    members themselves appear verbatim in training (fully cut — the
    leaked-benchmark case). Cuts are surgical character ranges, not
    whole-document drops. Returns (doc_id, clean_md5, n_spans,
    n_cut_chars)."""
    from pipelinedp_spark.operators import dedup
    docs = _t(spark, sf_dir, "documents")
    train = docs.select(
        "doc_id",
        F.concat(F.col("text"),
                 F.when(F.col("doc_id") % 23 == 2,
                        F.lit(" " + _DECON_BENCH)).otherwise(F.lit("")))
        .alias("text"))
    ref = (docs.filter(F.col("doc_id") % 17 == 5)
           .select("doc_id",
                   F.concat(F.col("text"), F.lit(" " + _DECON_BENCH))
                   .alias("text")))
    spans = dedup.cross_corpus_spans(train, ref, min_len=48)
    out = dedup.cut_spans(train, spans)
    return out.select("doc_id",
                      F.md5(F.col("clean_text")).alias("clean_md5"),
                      "n_spans", "n_cut_chars")

_DOC_DECON_SPANS_SQL = f"""
WITH train AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 23 = 2 THEN ' {_DECON_BENCH}'
                      ELSE '' END AS t
  FROM documents),
ref AS (
  SELECT text || ' {_DECON_BENCH}' AS t
  FROM documents WHERE doc_id % 17 = 5),
dh AS (
  SELECT doc_id, CAST(p AS BIGINT) AS p,
         md5(substr(t, CAST(p AS INTEGER) + 1, 48)) AS h
  FROM (SELECT doc_id, unnest(range(0, length(t) - 48 + 1)) AS p, t
        FROM train WHERE length(t) >= 48)),
rh AS (
  SELECT DISTINCT md5(substr(t, CAST(p AS INTEGER) + 1, 48)) AS h
  FROM (SELECT unnest(range(0, length(t) - 48 + 1)) AS p, t
        FROM ref WHERE length(t) >= 48)),
marked AS (SELECT doc_id, p FROM dh JOIN rh USING (h)),
iv AS (SELECT doc_id, p AS start, p + 48 AS "end" FROM marked),
m AS (
  SELECT doc_id, start, "end",
         MAX("end") OVER (PARTITION BY doc_id ORDER BY start
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_end
  FROM iv),
grps AS (
  SELECT doc_id, start, "end",
         SUM(CASE WHEN prev_end IS NULL OR start > prev_end
                  THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY start
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS grp
  FROM m),
spans AS (
  SELECT doc_id, MIN(start) AS s, MAX("end") AS e
  FROM grps GROUP BY doc_id, grp),
packed AS (
  SELECT doc_id,
         list({{'s': s, 'e': e}} ORDER BY s) AS sp
  FROM spans GROUP BY doc_id),
cutdoc AS (
  SELECT t.doc_id, t.t, COALESCE(p.sp, []) AS sp
  FROM train t LEFT JOIN packed p USING (doc_id)),
gaps AS (
  SELECT doc_id, t,
         list_prepend(CAST(0 AS BIGINT), [x.e for x in sp]) AS gs,
         list_append([x.s for x in sp], CAST(length(t) AS BIGINT))
             AS ge,
         sp
  FROM cutdoc)
SELECT doc_id,
       md5(array_to_string(
         [substr(t, CAST(gs[i] AS INTEGER) + 1,
                 CAST(ge[i] - gs[i] AS INTEGER))
          for i in range(1, len(gs) + 1)], '')) AS clean_md5,
       CAST(len(sp) AS BIGINT) AS n_spans,
       CAST(COALESCE(list_sum([x.e - x.s for x in sp]), 0) AS BIGINT)
           AS n_cut_chars
FROM gaps
"""

def _doc_decontam_incremental(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Span decontamination against a PERSISTED reference index
    (`dedup.build_span_store` + `incremental_decontaminate_spans`):
    the benchmark corpus (docs with doc_id % 19 == 7 plus the fixed
    question string) is indexed ONCE as bucketed winnowing anchors +
    bucketed text; the training batch (docs % 29 == 3 get the question
    planted) is span-cut against it with zero store-side shuffle and
    no reference fingerprint recompute. Result semantics identical to
    `cross_corpus_spans` (the oracle recomputes ground truth from
    scratch). Store tables are dropped after checkpointing the
    result."""
    from pipelinedp_spark.operators import dedup
    docs = _t(spark, sf_dir, "documents")
    train = docs.select(
        "doc_id",
        F.concat(F.col("text"),
                 F.when(F.col("doc_id") % 29 == 3,
                        F.lit(" " + _DECON_BENCH)).otherwise(F.lit("")))
        .alias("text"))
    ref = (docs.filter(F.col("doc_id") % 19 == 7)
           .select("doc_id",
                   F.concat(F.col("text"), F.lit(" " + _DECON_BENCH))
                   .alias("text")))
    dedup.build_span_store(ref, "decon_store_r9", min_len=48)
    spans = dedup.incremental_decontaminate_spans(train,
                                                  "decon_store_r9")
    out = (dedup.cut_spans(train, spans)
           .select("doc_id", F.md5(F.col("clean_text")).alias("clean_md5"),
                   "n_spans", "n_cut_chars").localCheckpoint())
    for t in ("decon_store_r9_anchors", "decon_store_r9_texts",
              "decon_store_r9_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return out

_DOC_DECONTAM_INCR_SQL = f"""
WITH train AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 29 = 3 THEN ' {_DECON_BENCH}'
                      ELSE '' END AS t
  FROM documents),
ref AS (
  SELECT text || ' {_DECON_BENCH}' AS t
  FROM documents WHERE doc_id % 19 = 7),
dh AS (
  SELECT doc_id, CAST(p AS BIGINT) AS p,
         md5(substr(t, CAST(p AS INTEGER) + 1, 48)) AS h
  FROM (SELECT doc_id, unnest(range(0, length(t) - 48 + 1)) AS p, t
        FROM train WHERE length(t) >= 48)),
rh AS (
  SELECT DISTINCT md5(substr(t, CAST(p AS INTEGER) + 1, 48)) AS h
  FROM (SELECT unnest(range(0, length(t) - 48 + 1)) AS p, t
        FROM ref WHERE length(t) >= 48)),
marked AS (SELECT doc_id, p FROM dh JOIN rh USING (h)),
iv AS (SELECT doc_id, p AS start, p + 48 AS "end" FROM marked),
m AS (
  SELECT doc_id, start, "end",
         MAX("end") OVER (PARTITION BY doc_id ORDER BY start
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_end
  FROM iv),
grps AS (
  SELECT doc_id, start, "end",
         SUM(CASE WHEN prev_end IS NULL OR start > prev_end
                  THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY start
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS grp
  FROM m),
spans AS (
  SELECT doc_id, MIN(start) AS s, MAX("end") AS e
  FROM grps GROUP BY doc_id, grp),
packed AS (
  SELECT doc_id,
         list({{'s': s, 'e': e}} ORDER BY s) AS sp
  FROM spans GROUP BY doc_id),
cutdoc AS (
  SELECT t.doc_id, t.t, COALESCE(p.sp, []) AS sp
  FROM train t LEFT JOIN packed p USING (doc_id)),
gaps AS (
  SELECT doc_id, t,
         list_prepend(CAST(0 AS BIGINT), [x.e for x in sp]) AS gs,
         list_append([x.s for x in sp], CAST(length(t) AS BIGINT))
             AS ge,
         sp
  FROM cutdoc)
SELECT doc_id,
       md5(array_to_string(
         [substr(t, CAST(gs[i] AS INTEGER) + 1,
                 CAST(ge[i] - gs[i] AS INTEGER))
          for i in range(1, len(gs) + 1)], '')) AS clean_md5,
       CAST(len(sp) AS BIGINT) AS n_spans,
       CAST(COALESCE(list_sum([x.e - x.s for x in sp]), 0) AS BIGINT)
           AS n_cut_chars
FROM gaps
"""

def _doc_unigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc perplexity under a corpus-fit unigram LM (CCNet-style
    quality signal, exact-SQL-expressible unigram variant)."""
    from pipelinedp_spark.operators import quality
    docs = _t(spark, sf_dir, "documents")
    return quality.unigram_perplexity(docs)

def _gen_unigram_ppl_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """SQL mirror of `quality.unigram_perplexity`. ln(N) is computed once
    in Python and injected as a literal into BOTH sides (the Spark op
    does the same), so the only cross-engine drift is last-ulp libm ln
    per token under a 6dp round."""
    import math
    import duckdb
    n = duckdb.sql(
        f"SELECT SUM(len(string_split(text, ' ')))"
        f" FROM read_parquet('{sf_dir}/documents.parquet')").fetchone()[0]
    ln_n = repr(math.log(float(n)))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
vocab AS (
  SELECT tok, CAST(COUNT(*) AS DOUBLE) AS c FROM toks GROUP BY tok)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(EXP({ln_n} - SUM(LN(v.c)) / COUNT(*)), 6) AS ppl
FROM toks t JOIN vocab v USING (tok)
GROUP BY t.doc_id
"""

_BM25_QUERIES = [(0, "hash join merge"),
                 (1, "scan filter column"),
                 (2, "stream window batch"),
                 (3, "customer order query value")]

def _doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 docs per query over the documents corpus (inverted-
    index postings join; broadcast query terms)."""
    from pipelinedp_spark.operators import retrieval
    docs = _t(spark, sf_dir, "documents")
    vals = ", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES)
    q = spark.sql(f"SELECT * FROM VALUES {vals} AS t(query_id, query_text)")
    return retrieval.bm25_topk(docs, q, k=10)

def _gen_bm25_sql(k: int = 10, sf_dir: str = "/root/testdata/sf0.01",
                  where: str = "TRUE") -> str:
    """SQL mirror of `retrieval.bm25_topk`: N and avgdl are computed once
    in Python from the parquet (exactly as the operator computes them)
    and injected as literals; the score expression mirrors the Column
    arithmetic term-for-term (same association, same Python-folded
    constants for k1=1.2, b=0.75). ``where`` restricts the corpus (the
    takedown oracle scores `documents WHERE <where>`)."""
    import duckdb
    n, tot = duckdb.sql(
        f"SELECT COUNT(*), SUM(len(string_split(text, ' ')))"
        f" FROM read_parquet('{sf_dir}/documents.parquet')"
        f" WHERE {where}").fetchone()
    avgdl = repr(float(tot) / float(n))
    vals = ", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES)
    return f"""
WITH q(query_id, query_text) AS (VALUES {vals}),
qterms AS (
  SELECT query_id,
         unnest(list_distinct(string_split(query_text, ' '))) AS term
  FROM q),
toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         FROM documents WHERE {where}),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
post AS (
  SELECT qt.query_id, tf.doc_id, tf.tf, dft.df, dl.dl
  FROM tf JOIN qterms qt USING (term)
          JOIN dft USING (term)
          JOIN dl USING (doc_id)),
scored AS (
  SELECT query_id, doc_id,
         SUM(LN(1.0 + ({float(n)} - df + 0.5) / (df + 0.5))
             * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / {avgdl}))))
             AS score
  FROM post GROUP BY 1, 2)
SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank,
       ROUND(score, 6) AS score
FROM (SELECT query_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id ASC) AS rank,
             score
      FROM scored)
WHERE rank <= {k}
"""

def _doc_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion
    (`retrieval.rrf_fuse`): BM25 top-20 (lexical) and exact-cosine
    top-20 over the embeddings (dense, query vector = the query's own
    embedding row) fused with the standard 1/(60+rank) rule, final
    top-10 per query. The fusion itself touches only the two tiny rank
    tables — one union + one combinable groupBy + WindowGroupLimit."""
    from pipelinedp_spark.operators import retrieval, similarity
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    vals = ", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES)
    q = spark.sql(f"SELECT * FROM VALUES {vals} AS t(query_id, query_text)")
    lex = retrieval.bm25_topk(docs, q, k=20) \
        .select("query_id", "doc_id", "rank")
    qv = (emb.filter(F.col("vec_id") < len(_BM25_QUERIES))
          .select(F.col("vec_id").alias("query_id"),
                  F.col("embedding").alias("query_vec")))
    dense = (similarity.cosine_topk(emb, qv, k=20)
             .select("query_id", F.col("vec_id").alias("doc_id"),
                     "rank"))
    return retrieval.rrf_fuse([lex, dense], k=10)

def _doc_bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from a PERSISTED inverted index
    (`retrieval.build_bm25_index` + `bm25_topk_from_index`): the corpus
    tokenizes once at build into bucketed postings/terms tables; the
    query joins them with zero Exchange on the index side and cost
    proportional to the touched postings. k=15 distinguishes the
    result set from `doc_bm25_topk`'s k=10; the oracle is the same
    proven BM25 SQL at k=15. Store tables are dropped after
    checkpointing."""
    from pipelinedp_spark.operators import retrieval
    docs = _t(spark, sf_dir, "documents")
    vals = ", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES)
    q = spark.sql(f"SELECT * FROM VALUES {vals} AS t(query_id, query_text)")
    retrieval.build_bm25_index(docs, "bm25_idx_r9")
    out = retrieval.bm25_topk_from_index(q, "bm25_idx_r9", k=15) \
        .localCheckpoint()
    for t in ("bm25_idx_r9_postings", "bm25_idx_r9_terms",
              "bm25_idx_r9_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return out

def _doc_bm25_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 index APPEND mode (`build_bm25_index(mode='append')`): the
    index is built from the even-doc_id half of the corpus, the odd
    half is appended — postings and df segments land bucket-aligned
    (cost proportional to the increment) and the n_docs/total_dl/avgdl
    scalars refresh exactly, so the served scores are bit-identical to
    a build-once index over the whole corpus. The oracle is therefore
    the same proven whole-corpus BM25 SQL, at k=12 to distinguish the
    result set from the k=10/k=15 siblings."""
    from pipelinedp_spark.operators import retrieval
    docs = _t(spark, sf_dir, "documents")
    vals = ", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES)
    q = spark.sql(f"SELECT * FROM VALUES {vals} AS t(query_id, query_text)")
    retrieval.build_bm25_index(docs.filter(F.col("doc_id") % 2 == 0),
                               "bm25_idx_r10a")
    retrieval.build_bm25_index(docs.filter(F.col("doc_id") % 2 == 1),
                               "bm25_idx_r10a", mode="append")
    out = retrieval.bm25_topk_from_index(q, "bm25_idx_r10a", k=12) \
        .localCheckpoint()
    for t in ("bm25_idx_r10a_postings", "bm25_idx_r10a_terms",
              "bm25_idx_r10a_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return out

def _doc_bm25_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten on the persisted BM25 index
    (`retrieval.remove_from_bm25_index`): build over the whole corpus,
    logically remove every doc_id % 5 == 0 (tombstones + negative df
    segments + exact scalar corrections — O(removed), no rebuild), and
    serve at k=13. The oracle scores `documents WHERE doc_id % 5 <> 0`
    from scratch — equality proves the takedown is exact, not
    approximate. Store tables dropped after checkpointing."""
    from pipelinedp_spark.operators import retrieval
    docs = _t(spark, sf_dir, "documents")
    vals = ", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES)
    q = spark.sql(f"SELECT * FROM VALUES {vals} AS t(query_id, query_text)")
    retrieval.build_bm25_index(docs, "bm25_idx_r10tk")
    retrieval.remove_from_bm25_index(
        docs.filter(F.col("doc_id") % 5 == 0), "bm25_idx_r10tk")
    out = retrieval.bm25_topk_from_index(q, "bm25_idx_r10tk", k=13) \
        .localCheckpoint()
    for t in ("bm25_idx_r10tk_postings", "bm25_idx_r10tk_terms",
              "bm25_idx_r10tk_meta", "bm25_idx_r10tk_tombstones"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return out

def _doc_bm25_takedown_jumbo(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """JUMBO takedown — the size-gated fallback branch of
    `store.tombstones` IS the tested branch (VERDICT r11 task 3): half
    the corpus is removed at once (a licensing removal of a whole
    slice) with ``spark.pipelinedp.store.tombstoneBroadcastRows``
    forced to 8, so the reader's anti-join takes the plain shuffled
    path instead of force-broadcasting a corpus-scale tombstone table
    into every executor — at 100 TB that broadcast is the OOM, and
    until this query the gate's big branch was pytest-only, never
    oracle-checked. The oracle scores the surviving half from scratch
    (k=14); equality proves the fallback branch is exact, not merely
    plan-shaped. Branch pinned in test_store_hardening_r12."""
    from pipelinedp_spark.operators import retrieval
    docs = _t(spark, sf_dir, "documents")
    vals = ", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES)
    q = spark.sql(f"SELECT * FROM VALUES {vals} AS t(query_id, query_text)")
    knob = "spark.pipelinedp.store.tombstoneBroadcastRows"
    old = spark.conf.get(knob, None)
    spark.conf.set(knob, "8")
    try:
        retrieval.build_bm25_index(docs, "bm25_idx_r12j")
        retrieval.remove_from_bm25_index(
            docs.filter(F.col("doc_id") % 2 == 0), "bm25_idx_r12j")
        out = retrieval.bm25_topk_from_index(q, "bm25_idx_r12j", k=14) \
            .localCheckpoint()
    finally:
        if old is None:
            spark.conf.unset(knob)
        else:
            spark.conf.set(knob, old)
        for t in ("bm25_idx_r12j_postings", "bm25_idx_r12j_terms",
                  "bm25_idx_r12j_meta", "bm25_idx_r12j_tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    return out

def _doc_bm25_bigterms_topk(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Degenerate-mega-batch serving — the OTHER size-gated BM25
    branch: with ``spark.pipelinedp.bm25.termPushdownCap`` forced to 2
    the query batch is over the cap, so `bm25_topk_from_index` skips
    the isin() literal pushdown and serves through the broadcast
    query-term joins (the plan a 100k-distinct-term batch must take —
    an isin literal that size would blow up the plan). Scores must be
    identical to the pushdown branch: the oracle is the same proven
    BM25 SQL at k=11. Branch pinned in test_store_hardening_r12."""
    from pipelinedp_spark.operators import retrieval
    docs = _t(spark, sf_dir, "documents")
    vals = ", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES)
    q = spark.sql(f"SELECT * FROM VALUES {vals} AS t(query_id, query_text)")
    knob = "spark.pipelinedp.bm25.termPushdownCap"
    old = spark.conf.get(knob, None)
    spark.conf.set(knob, "2")
    try:
        retrieval.build_bm25_index(docs, "bm25_idx_r12bt")
        out = retrieval.bm25_topk_from_index(q, "bm25_idx_r12bt",
                                             k=11).localCheckpoint()
    finally:
        if old is None:
            spark.conf.unset(knob)
        else:
            spark.conf.set(knob, old)
        for t in ("bm25_idx_r12bt_postings", "bm25_idx_r12bt_terms",
                  "bm25_idx_r12bt_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    return out

def _dedup_minhash_capped_bucket(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """The minhash GLOBAL bucket cap as the tested branch: the store
    builds in two increments with ``max_bucket_size=1`` — each
    increment's per-build cap drops its own degenerate buckets, but
    buckets that grow past the cap
    ACROSS the appends are only re-capped by
    `store.compact(kind='minhash')` (the degenerate-bucket guard that
    keeps a 100-TB candidate join from going quadratic on a hot
    band). Until this query that re-cap was pytest-only. The oracle
    mirrors BOTH stages literally — per-increment cap, then global
    cap over the union — so equality proves the compaction cap drops
    exactly the buckets it should and the batch dedups against
    exactly the surviving bands."""
    from pipelinedp_spark import store
    from pipelinedp_spark.operators import dedup
    docs = _t(spark, sf_dir, "documents")
    # one signature pass for the whole query: the two build slices plus
    # the batch tile the corpus exactly (evens %4 in {0,2} + all odds),
    # and without a shared profile each of the three steps re-scanned,
    # re-shingled and re-signed its slice from text (6 text passes)
    prof = dedup.minhash_profile(docs, k=4).localCheckpoint()
    dedup.build_minhash_store(docs.filter(F.col("doc_id") % 4 == 0),
                              "mh_cap_r12", k=4, max_bucket_size=1,
                              profile=prof)
    dedup.build_minhash_store(docs.filter(F.col("doc_id") % 4 == 2),
                              "mh_cap_r12", k=4, max_bucket_size=1,
                              mode="append", profile=prof)
    store.compact(spark, "mh_cap_r12", "minhash")
    out = (dedup.incremental_near_dup(
        docs.filter(F.col("doc_id") % 2 == 1), "mh_cap_r12",
        jaccard_threshold=0.6, profile=prof)
        .select("doc_id", "lang").localCheckpoint())
    for t in ("mh_cap_r12_bands", "mh_cap_r12_shingles",
              "mh_cap_r12_meta", "mh_cap_r12_ingest_log"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return out

_DEDUP_MINHASH_CAPPED_SQL = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT doc_id,
              CASE WHEN len(t) >= 4
                   THEN list_distinct([t[i] || ' ' || t[i+1] || ' '
                                       || t[i+2] || ' ' || t[i+3]
                                       for i in range(1, len(t) - 2)])
                   ELSE [array_to_string(t, ' ')] END AS shingles
       FROM tok),
hm AS (
  SELECT doc_id, shingles,
         [('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647
          for s in shingles] AS hs
  FROM sh),
sig AS (
  SELECT doc_id, shingles,
         [list_min([(((1103515245 * (i + 1) + 12345) % 2147483647) * h
                     + ((2654435761 * i + 97) % 2147483647)) % 2147483647
                    for h in hs])
          for i in range(0, 8)] AS sig
  FROM hm),
bands AS (
  SELECT doc_id,
         UNNEST(range(0, 2)) AS band_idx,
         UNNEST([md5(CAST(sig[1] AS VARCHAR) || '|' || CAST(sig[2] AS VARCHAR)
                     || '|' || CAST(sig[3] AS VARCHAR) || '|'
                     || CAST(sig[4] AS VARCHAR)),
                 md5(CAST(sig[5] AS VARCHAR) || '|' || CAST(sig[6] AS VARCHAR)
                     || '|' || CAST(sig[7] AS VARCHAR) || '|'
                     || CAST(sig[8] AS VARCHAR))])
             AS band_hash
  FROM sig),
-- reference store: two increments (doc_id%4=0 build, %4=2 append),
-- each capped at max_bucket_size=1 per increment...
kept_inc AS (
  SELECT doc_id, band_idx, band_hash
  FROM (SELECT doc_id, band_idx, band_hash, doc_id % 4 AS inc
        FROM bands WHERE doc_id % 2 = 0)
  QUALIFY COUNT(*) OVER (PARTITION BY inc, band_idx, band_hash) <= 1),
-- ...then compaction re-applies the cap GLOBALLY over the union
kept AS (
  SELECT doc_id, band_idx, band_hash FROM kept_inc
  QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_hash) <= 1),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN kept b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  WHERE a.doc_id % 2 = 1),
dups AS (
  SELECT DISTINCT c.id_a
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b
  WHERE ROUND(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE /
              (len(sa.shingles) + len(sb.shingles)
               - len(list_intersect(sa.shingles, sb.shingles))), 6) >= 0.6)
SELECT d.doc_id, d.lang
FROM documents d
WHERE d.doc_id % 2 = 1
  AND d.doc_id NOT IN (SELECT id_a FROM dups)
"""

def _sim_ann_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Takedown on the persisted IVF-PQ index
    (`similarity.remove_from_ann_index`): build over all embeddings
    with the standard deterministic models, logically remove every
    vec_id % 4 == 0 (tombstones, O(removed), no rebuild or
    retraining), and search k=7/nprobe=3. The oracle replays IVF-PQ in
    SQL over the corpus WHERE vec_id % 4 <> 0 with the same retrained
    quantizer literals — equality proves removed vectors are exactly
    invisible. Store tables dropped after checkpointing."""
    from pipelinedp_spark.operators import similarity
    emb = _t(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    similarity.build_ann_index(emb, "ann_idx_r10tk", num_cells=8, m=4,
                               ksub=16)
    similarity.remove_from_ann_index(
        emb.filter(F.col("vec_id") % 4 == 0), "ann_idx_r10tk")
    out = (similarity.ann_search_from_index(q, "ann_idx_r10tk", k=7,
                                            nprobe=3)
           .withColumn("rank", F.col("rank").cast("long"))
           .localCheckpoint())
    for t in ("ann_idx_r10tk_codes", "ann_idx_r10tk_centroids",
              "ann_idx_r10tk_codebooks", "ann_idx_r10tk_meta",
              "ann_idx_r10tk_tombstones"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return out

def _stream_bm25_store_mirror(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Batch mirror of `stream_into('bm25', ...)` with exact
    two-trigger-plus-replay semantics: the index bootstraps EMPTY;
    trigger 0 appends docs with doc_id % 3 == 0, trigger 1 the rest,
    then trigger 1 REPLAYS (at-least-once delivery) and must be
    suppressed by the ingest-log batch-id guard — BM25 appends, unlike
    the anti-join stores, double-count tf/df/scalars on replay, so the
    oracle equality below is itself the idempotence proof. Serving at
    k=9 (distinguishing the rows from the k=10/12/15 siblings) must
    equal the whole-corpus BM25 SQL."""
    from pipelinedp_spark import store
    from pipelinedp_spark.operators import retrieval
    docs = _t(spark, sf_dir, "documents")
    vals = ", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES)
    q = spark.sql(f"SELECT * FROM VALUES {vals} AS t(query_id, query_text)")
    retrieval.build_bm25_index(docs.limit(0), "bm25_idx_r10st",
                               num_buckets=4)
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 != 0)
    # The appends are load-bearing — never inside `assert` (python -O
    # would strip them and serve an empty index); bind, then check.
    applied0 = store.ingest_batch_once("bm25", b0, "bm25_idx_r10st", 0)
    applied1 = store.ingest_batch_once("bm25", b1, "bm25_idx_r10st", 1)
    replayed = store.ingest_batch_once("bm25", b1, "bm25_idx_r10st", 1)
    if not (applied0 and applied1 and not replayed):
        raise AssertionError("bm25 ingest-log idempotency guard broke")
    out = retrieval.bm25_topk_from_index(q, "bm25_idx_r10st", k=9) \
        .localCheckpoint()
    for t in ("bm25_idx_r10st_postings", "bm25_idx_r10st_terms",
              "bm25_idx_r10st_meta", "bm25_idx_r10st_ingest_log"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return out

def _gen_hybrid_rrf_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """SQL mirror of `_doc_hybrid_rrf`: the BM25 CTE is the proven
    `_gen_bm25_sql` body at k=20, the dense CTE the proven
    `_SIM_COSINE_TOPK_SQL` shape at k=20, fused with the identical
    1/(60+rank) sum (two-term double adds are order-independent, and
    reciprocal gaps >> the 6dp rounding)."""
    import duckdb
    n, tot = duckdb.sql(
        f"SELECT COUNT(*), SUM(len(string_split(text, ' ')))"
        f" FROM read_parquet('{sf_dir}/documents.parquet')").fetchone()
    avgdl = repr(float(tot) / float(n))
    vals = ", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES)
    nq = len(_BM25_QUERIES)
    return f"""
WITH q(query_id, query_text) AS (VALUES {vals}),
qterms AS (
  SELECT query_id,
         unnest(list_distinct(string_split(query_text, ' '))) AS term
  FROM q),
toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
post AS (
  SELECT qt.query_id, tf.doc_id, tf.tf, dft.df, dl.dl
  FROM tf JOIN qterms qt USING (term)
          JOIN dft USING (term)
          JOIN dl USING (doc_id)),
lexscore AS (
  SELECT query_id, doc_id,
         SUM(LN(1.0 + ({float(n)} - df + 0.5) / (df + 0.5))
             * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / {avgdl}))))
             AS score
  FROM post GROUP BY 1, 2),
lex AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id ASC) AS rank
    FROM lexscore)
  WHERE rank <= 20),
qv AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id < {nq}),
densescore AS (
  SELECT qv.query_id, e.vec_id AS doc_id,
         list_dot_product(e.embedding::DOUBLE[], qv.v) /
         (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                e.embedding::DOUBLE[]))
          * sqrt(list_dot_product(qv.v, qv.v))) AS cosine
  FROM embeddings e CROSS JOIN qv),
dense AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, doc_id ASC) AS rank
    FROM densescore)
  WHERE rank <= 20),
uni AS (
  SELECT * FROM lex UNION ALL SELECT * FROM dense),
fused AS (
  SELECT query_id, doc_id,
         SUM(1.0 / (60.0 + rank)) AS s,
         COUNT(*) AS n_lists
  FROM uni GROUP BY 1, 2)
SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank,
       ROUND(s, 6) AS rrf_score, CAST(n_lists AS BIGINT) AS n_lists
FROM (SELECT query_id, doc_id, n_lists, s,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY s DESC, doc_id ASC) AS rank
      FROM fused)
WHERE rank <= 10
"""

def _doc_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed-bigram importance weights: every document scored for
    similarity to the English-language subset (the 'target')."""
    from pipelinedp_spark.operators import mixing
    docs = _t(spark, sf_dir, "documents")
    return mixing.dsir_log_weights(docs, docs.filter(F.col("lang") == "en"))

def _gen_dsir_sql(num_buckets: int = 4096, alpha: float = 1.0,
                  sf_dir: str = "/root/testdata/sf0.01") -> str:
    """SQL mirror of `mixing.dsir_log_weights`: identical md5-bucket
    features, identical smoothing denominators (totals computed in
    Python from the parquet exactly as the operator's driver scalars and
    injected as literals)."""
    import duckdb
    con = duckdb.connect()
    gram_count = (
        "SELECT SUM(CASE WHEN len(string_split(text, ' ')) >= 2 "
        "THEN len(string_split(text, ' ')) - 1 ELSE 1 END) "
        f"FROM read_parquet('{sf_dir}/documents.parquet')")
    tot = con.execute(gram_count).fetchone()[0]
    tot_t = con.execute(gram_count + " WHERE lang = 'en'").fetchone()[0]
    denom_r = repr(float(tot) + alpha * num_buckets)
    denom_t = repr(float(tot_t) + alpha * num_buckets)
    bigram_cte = """
  SELECT doc_id, lang,
         unnest(CASE WHEN len(tk) >= 2
                     THEN [tk[i] || ' ' || tk[i+1]
                           for i in range(1, len(tk))]
                     ELSE [array_to_string(tk, ' ')] END) AS gram
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS tk
        FROM documents)"""
    return f"""
WITH g AS ({bigram_cte}),
f AS (SELECT doc_id,
             ('0x' || substr(md5(gram), 1, 15))::BIGINT % {num_buckets}
                 AS bucket,
             COUNT(*) AS c
      FROM g GROUP BY 1, 2),
rawc AS (SELECT bucket, SUM(c) AS c_r FROM f GROUP BY 1),
tgtc AS (SELECT ('0x' || substr(md5(gram), 1, 15))::BIGINT % {num_buckets}
                    AS bucket,
                COUNT(*) AS c_t
         FROM g WHERE lang = 'en' GROUP BY 1),
ratio AS (
  SELECT rawc.bucket,
         LN((COALESCE(tgtc.c_t, 0) + {alpha}) / {denom_t})
         - LN((rawc.c_r + {alpha}) / {denom_r}) AS lr
  FROM rawc LEFT JOIN tgtc USING (bucket))
SELECT f.doc_id,
       CAST(SUM(f.c) AS BIGINT) AS n_feats,
       ROUND(SUM(f.c * ratio.lr), 6) AS logw
FROM f JOIN ratio USING (bucket)
GROUP BY 1
"""

def _classifier_sample_from_parquet(sf_dir: str, num_buckets: int = 1024):
    """Shared trainer input for the quality-classifier query and its
    oracle: per-doc hashed-bigram counts + (lang == 'en') labels for the
    lowest-2000-id docs, computed via DuckDB (md5 buckets are engine-
    portable, so Spark produces the identical sample). Handles both
    single-file tables (driver-generated sf dirs) and Spark-written
    directory tables (the generated sf1 set)."""
    import os

    import duckdb
    path = f"{sf_dir}/documents.parquet"
    if os.path.isdir(path):
        path = f"{path}/*.parquet"
    rows = duckdb.sql(f"""
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS tk
           FROM read_parquet('{path}')
           ORDER BY doc_id LIMIT 2000),
g AS (SELECT doc_id, lang,
             unnest(CASE WHEN len(tk) >= 2
                         THEN [tk[i] || ' ' || tk[i+1]
                               for i in range(1, len(tk))]
                         ELSE [array_to_string(tk, ' ')] END) AS gram
      FROM t)
SELECT doc_id,
       ('0x' || substr(md5(gram), 1, 15))::BIGINT % {num_buckets} AS bucket,
       COUNT(*) AS c,
       MAX(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS y
FROM g GROUP BY 1, 2 ORDER BY 1, 2
""").fetchall()
    by_doc: dict = {}
    for doc_id, bucket, c, y in rows:
        ent = by_doc.setdefault(doc_id, ({}, y))
        ent[0][int(bucket)] = int(c)
    return [(d, feats, int(y)) for d, (feats, y) in sorted(by_doc.items())]

def _doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality/domain classifier: logistic
    regression on hashed bigram features, trained deterministically on
    the lowest-id sample with (lang == 'en') labels, scoring every doc.
    The oracle retrains bit-identical weights (shared numpy trainer,
    engine-portable md5 features) and mirrors the scoring in SQL."""
    from pipelinedp_spark.operators import mixing
    docs = _t(spark, sf_dir, "documents")
    sample = _classifier_sample_from_parquet(sf_dir)
    w, b = mixing.train_linear_classifier(sample, num_buckets=1024)
    return mixing.classifier_scores(docs, w, b, num_buckets=1024)

def _gen_quality_classifier_sql(num_buckets: int = 1024,
                                sf_dir: str = "/root/testdata/sf0.01") -> str:
    from pipelinedp_spark.operators import mixing
    sample = _classifier_sample_from_parquet(sf_dir, num_buckets)
    w, b = mixing.train_linear_classifier(sample, num_buckets=num_buckets)
    vals = ", ".join(f"({i}, {w[i]!r})" for i in range(num_buckets)
                     if w[i] != 0.0)
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
g AS (SELECT doc_id,
             unnest(CASE WHEN len(tk) >= 2
                         THEN [tk[i] || ' ' || tk[i+1]
                               for i in range(1, len(tk))]
                         ELSE [array_to_string(tk, ' ')] END) AS gram
      FROM t),
f AS (SELECT doc_id,
             ('0x' || substr(md5(gram), 1, 15))::BIGINT % {num_buckets}
                 AS bucket,
             COUNT(*) AS c
      FROM g GROUP BY 1, 2),
wt(bucket, w) AS (VALUES {vals})
SELECT f.doc_id,
       ROUND(1.0 / (1.0 + EXP(-({b!r}
             + SUM(f.c * COALESCE(wt.w, 0.0)) / SUM(f.c)))), 6) AS score
FROM f LEFT JOIN wt USING (bucket)
GROUP BY 1
"""

def _doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window RAG-style chunking: 32-token chunks, 8-token
    overlap, per document."""
    from pipelinedp_spark.operators.packing import chunk_documents
    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=32, overlap=8)

_DOC_CHUNK_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
c AS (SELECT doc_id, tk, len(tk) AS n,
             CASE WHEN len(tk) <= 32 THEN 1
                  ELSE (len(tk) - 32 + 23) // 24 + 1 END AS nc
      FROM t),
e AS (SELECT doc_id, tk, n,
             unnest(generate_series(0, nc - 1)) AS chunk_idx
      FROM c)
SELECT doc_id,
       CAST(chunk_idx AS BIGINT) AS chunk_idx,
       array_to_string(tk[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ')
           AS chunk,
       CAST(LEAST(32, n - chunk_idx * 24) AS BIGINT) AS n_tokens
FROM e
"""

def _doc_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR end-to-end: hashed-bigram importance weights vs the English
    subset, then deterministic Bernoulli importance resampling at an
    expected 25% keep rate."""
    from pipelinedp_spark.operators import mixing
    docs = _t(spark, sf_dir, "documents")
    weights = mixing.dsir_log_weights(docs,
                                      docs.filter(F.col("lang") == "en"))
    return mixing.importance_resample(weights, keep_fraction=0.25)

def _gen_dsir_resample_sql(keep_fraction: float = 0.25,
                           sf_dir: str = "/root/testdata/sf0.01") -> str:
    """SQL mirror: the weight query from `_gen_dsir_sql` as a CTE plus
    the md5-uniform Bernoulli keep rule. The Spark operator's filter
    consumes the ROUNDED logw column that `dsir_log_weights` projects,
    so the mirror's w and mean(w) are likewise built on the rounded
    value."""
    return f"""
WITH weights AS ({_gen_dsir_sql(sf_dir=sf_dir)}),
m AS (SELECT AVG(EXP(logw / 1.0)) AS mean_w FROM weights)
SELECT w.doc_id, w.n_feats, w.logw
FROM weights w, m
WHERE ('0x' || substr(md5('dsir:' || CAST(w.doc_id AS VARCHAR)), 1, 15))
          ::BIGINT / 1152921504606846976.0
      < LEAST(1.0, EXP(w.logw / 1.0) * ({keep_fraction} / m.mean_w))
"""

def _emb_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic cluster ids: SemDeDup within-cell pairs fed through
    iterative connected components (min-label + pointer jumping). Oracle
    mirrors the pairs in SQL and closes them with a recursive CTE."""
    from pipelinedp_spark.operators import graph, semdedup
    emb = _t(spark, sf_dir, "embeddings")
    pairs = semdedup.semantic_pairs(emb, num_clusters=8,
                                    cosine_threshold=0.4)
    return (graph.near_dup_clusters(emb.select("vec_id"), pairs,
                                    id_col="vec_id")
            .select(F.col("vec_id"),
                    F.col("cluster_id").cast("long").alias("cluster_id")))

def _gen_semantic_clusters_sql(num_clusters: int = 8, tau: float = 0.4,
                               seed: int = 7,
                               sf_dir: str = "/root/testdata/sf0.01") -> str:
    import numpy as np
    import pyarrow.parquet as pq
    from pipelinedp_spark.operators.similarity import train_ivf_centroids
    t = pq.read_table(f"{sf_dir}/embeddings.parquet",
                      columns=["vec_id", "embedding"]).to_pandas()
    t = t.sort_values("vec_id").head(10_000)
    x = np.stack(t["embedding"].to_numpy()).astype("float64")
    cents = train_ivf_centroids(x, num_clusters, seed)
    cell_rows = ", ".join(f"({c}, {_plane_lit(cents[c])})"
                          for c in range(len(cents)))
    return f"""
WITH RECURSIVE base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cells(cell, cv) AS (VALUES {cell_rows}),
ass AS (
  SELECT vec_id, v, cell FROM (
    SELECT vec_id, v, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY list_dot_product(v, cv) DESC,
                                       cell ASC) AS rn
    FROM base CROSS JOIN cells) WHERE rn = 1),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM ass a JOIN ass b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(a.v, b.v) /
              (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))), 6) >= {tau}),
und AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach(node, lbl) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT und.u, reach.lbl FROM und JOIN reach ON reach.node = und.v
)
SELECT node AS vec_id, MIN(lbl) AS cluster_id
FROM reach GROUP BY node
"""

def _doc_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus report: the dataset-card rollup a
    training-data pipeline publishes — doc/token counts, exact-dup rate
    via fingerprint distinct, mean quality score. One scan + one
    map-side-combinable groupBy."""
    from pipelinedp_spark.functions import text as T
    docs = _t(spark, sf_dir, "documents")
    fp = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))),
                                " +", " "))
    return (docs.groupBy("lang", "source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(T.token_count(F.col("text"))).cast("long")
                 .alias("n_tokens"),
                 F.countDistinct(fp).cast("long").alias("n_unique"),
                 # SUM (not AVG) of the 6dp per-doc scores: dividing by
                 # n lands exactly on .5-at-6dp boundaries where Spark
                 # (HALF_UP) and DuckDB (HALF_EVEN) round apart.
                 F.round(F.sum(T.quality_score(F.col("text"))), 6)
                 .alias("sum_quality")))

_DOC_CORPUS_REPORT_SQL = """
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), ' +', ' ',
                                              'g'))) AS BIGINT)
           AS n_unique,
       ROUND(SUM(ROUND(
         (CASE WHEN len(string_split(text, ' ')) < 50
               THEN len(string_split(text, ' ')) / 50.0
               WHEN len(string_split(text, ' ')) > 10000
               THEN 10000.0 / len(string_split(text, ' '))
               ELSE 1.0 END)
         * (len(list_distinct(string_split(text, ' ')))
            / greatest(len(string_split(text, ' ')), 1)), 6)), 6)
           AS sum_quality
FROM documents
GROUP BY 1, 2
"""

def _dp_corpus_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level DP statistics OVER the training corpus itself —
    the privacy-accounting shape for LLM training data releases: each
    DOCUMENT is the privacy unit (pid = doc_id), partitions are
    languages (public), and the released metric is the clipped sum of
    per-document token counts. Contribution bounding is real: a doc
    contributes to exactly its own language, token counts clip to
    [0, 80]. Zero noise for the oracle."""
    docs = _t(spark, sf_dir, "documents")
    from pipelinedp_spark.functions import text as T
    with_tokens = docs.select(
        F.col("doc_id"), F.col("lang"),
        T.token_count(F.col("text")).cast("double").alias("n_tokens"))
    query = (pds.QueryBuilder(with_tokens, "doc_id")
             .groupby("lang", max_groups_contributed=1,
                      max_contributions_per_group=1,
                      public_keys=["en", "de", "fr", "es", "zh"])
             .count(name="n_docs")
             .sum("n_tokens", min_value=0.0, max_value=80.0,
                  name="dp_tokens")
             .build_query())
    return query.run_query(pds.Budget(1.0), noise_mode="zero")

_DP_CORPUS_TOKEN_SQL = """
WITH pub(lang) AS (VALUES ('en'), ('de'), ('fr'), ('es'), ('zh')),
per_doc AS (
    SELECT doc_id, lang,
           GREATEST(LEAST(CAST(len(string_split(text, ' ')) AS DOUBLE),
                          80.0), 0.0) AS clipped
    FROM documents),
agg AS (
    SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n_docs,
           CAST(SUM(clipped) AS DOUBLE) AS dp_tokens
    FROM per_doc GROUP BY lang)
SELECT pub.lang, COALESCE(agg.n_docs, 0.0) AS n_docs,
       COALESCE(agg.dp_tokens, 0.0) AS dp_tokens
FROM pub LEFT JOIN agg USING (lang)
"""

def _multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-feature path: full-range deterministic int16 PCM ->
    RIFF/WAVE encode -> opaque binary -> native decode -> normalized
    8-bin amplitude histogram (extract_audio_features, decoder=native).
    The histogram bin of sample v is exactly (v + 32768) // 8192 (the
    np.histogram edges are v/2^15 rationals — exact in float64), so the
    oracle recomputes the whole feature vector from the generating
    formula in integer SQL."""
    import numpy as np
    import pandas as pd
    from pipelinedp_spark.operators import multimodal as MM

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(it):
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for d in ids:
                n = 64 + d % 64
                rate = 8000 * (1 + d % 3)
                samples = ((d * 31 + np.arange(n) * 17) % 65536
                           - 32768).astype(np.int16)
                payloads.append(MM.encode_wav(samples, int(rate)))
            yield pd.DataFrame({"doc_id": ids, "audio": payloads})

    wav = docs.mapInPandas(gen, "doc_id long, audio binary")
    feats = MM.extract_audio_features(wav, "audio", decoder="native",
                                      n_bins=8)
    return feats.select(
        F.col("doc_id"),
        F.posexplode(F.col("audio_features")).alias("bin", "frac"),
        F.col("est_duration_s")).select(
        "doc_id", F.col("bin").cast("long").alias("bin"),
        F.round(F.col("frac"), 6).alias("frac"),
        F.round(F.col("est_duration_s"), 6).alias("est_duration_s"))

_MULTIMODAL_AUDIO_FEATURES_SQL = """
WITH s AS (
  SELECT d.doc_id, (d.doc_id * 31 + g.k * 17) % 65536 - 32768 AS v
  FROM documents d, generate_series(0, 127) g(k)
  WHERE g.k < 64 + d.doc_id % 64),
h AS (
  SELECT doc_id, CAST((v + 32768) // 8192 AS BIGINT) AS bin,
         COUNT(*) AS c
  FROM s GROUP BY 1, 2),
grid AS (
  SELECT d.doc_id, g.b AS bin, 64 + d.doc_id % 64 AS n,
         8000 * (1 + d.doc_id % 3) AS rate
  FROM documents d, generate_series(0, 7) g(b))
SELECT grid.doc_id, CAST(grid.bin AS BIGINT) AS bin,
       ROUND(COALESCE(h.c, 0) / grid.n, 6) AS frac,
       ROUND(grid.n / grid.rate, 6) AS est_duration_s
FROM grid LEFT JOIN h ON grid.doc_id = h.doc_id AND grid.bin = h.bin
"""

def _dedup_cross_corpus_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion NEAR-dup dedup: odd-id docs (the 'new
    batch') surviving a MinHash band join + exact-Jaccard check against
    even-id docs (the 'reference index'). The oracle replays signatures,
    bands, the cross join, and the verify in SQL. (The reference-bucket
    cap never binds at this sf; the mirror omits it.)"""
    from pipelinedp_spark.operators import dedup
    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    out = dedup.cross_corpus_near_dup(new, ref, jaccard_threshold=0.7)
    return out.select("doc_id", "lang")

_DEDUP_CROSS_NEAR_SQL = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT doc_id,
              CASE WHEN len(t) >= 3
                   THEN list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                       for i in range(1, len(t) - 1)])
                   ELSE [array_to_string(t, ' ')] END AS shingles
       FROM tok),
hm AS (
  SELECT doc_id, shingles,
         [('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647
          for s in shingles] AS hs
  FROM sh),
sig AS (
  SELECT doc_id, shingles,
         [list_min([(((1103515245 * (i + 1) + 12345) % 2147483647) * h
                     + ((2654435761 * i + 97) % 2147483647)) % 2147483647
                    for h in hs])
          for i in range(0, 8)] AS sig
  FROM hm),
bands AS (
  SELECT doc_id,
         UNNEST(range(0, 2)) AS band_idx,
         UNNEST([md5(CAST(sig[1] AS VARCHAR) || '|' || CAST(sig[2] AS VARCHAR)
                     || '|' || CAST(sig[3] AS VARCHAR) || '|'
                     || CAST(sig[4] AS VARCHAR)),
                 md5(CAST(sig[5] AS VARCHAR) || '|' || CAST(sig[6] AS VARCHAR)
                     || '|' || CAST(sig[7] AS VARCHAR) || '|'
                     || CAST(sig[8] AS VARCHAR))])
             AS band_hash
  FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0),
dups AS (
  SELECT DISTINCT c.id_a
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b
  WHERE ROUND(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE /
              (len(sa.shingles) + len(sb.shingles)
               - len(list_intersect(sa.shingles, sb.shingles))), 6) >= 0.7)
SELECT d.doc_id, d.lang
FROM documents d
WHERE d.doc_id % 2 = 1
  AND d.doc_id NOT IN (SELECT id_a FROM dups)
"""

def _dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a PERSISTED fingerprint store
    (`dedup.build_minhash_store` + `incremental_near_dup`): the even-id
    docs become the bucketed reference index (bands bucketed by band
    key, shingles by id — zero Exchange on the store side of both
    joins, pinned in test_plan_shapes_r9), then the odd-id 'new crawl'
    batch is deduped against it WITHOUT recomputing reference
    fingerprints. k=4 shingles / Jaccard 0.6 distinguish the knobs from
    `dedup_cross_corpus_near`'s k=3/0.7. The result is checkpointed and
    the store tables dropped so the query is self-contained."""
    from pipelinedp_spark.operators import dedup
    docs = _t(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    dedup.build_minhash_store(ref, "incr_store_r9", k=4)
    out = (dedup.incremental_near_dup(new, "incr_store_r9",
                                      jaccard_threshold=0.6)
           .select("doc_id", "source").localCheckpoint())
    for t in ("incr_store_r9_bands", "incr_store_r9_shingles",
              "incr_store_r9_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return out

_DEDUP_INCREMENTAL_SQL = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT doc_id,
              CASE WHEN len(t) >= 4
                   THEN list_distinct([t[i] || ' ' || t[i+1] || ' '
                                       || t[i+2] || ' ' || t[i+3]
                                       for i in range(1, len(t) - 2)])
                   ELSE [array_to_string(t, ' ')] END AS shingles
       FROM tok),
hm AS (
  SELECT doc_id, shingles,
         [('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647
          for s in shingles] AS hs
  FROM sh),
sig AS (
  SELECT doc_id, shingles,
         [list_min([(((1103515245 * (i + 1) + 12345) % 2147483647) * h
                     + ((2654435761 * i + 97) % 2147483647)) % 2147483647
                    for h in hs])
          for i in range(0, 8)] AS sig
  FROM hm),
bands AS (
  SELECT doc_id,
         UNNEST(range(0, 2)) AS band_idx,
         UNNEST([md5(CAST(sig[1] AS VARCHAR) || '|' || CAST(sig[2] AS VARCHAR)
                     || '|' || CAST(sig[3] AS VARCHAR) || '|'
                     || CAST(sig[4] AS VARCHAR)),
                 md5(CAST(sig[5] AS VARCHAR) || '|' || CAST(sig[6] AS VARCHAR)
                     || '|' || CAST(sig[7] AS VARCHAR) || '|'
                     || CAST(sig[8] AS VARCHAR))])
             AS band_hash
  FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0),
dups AS (
  SELECT DISTINCT c.id_a
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b
  WHERE ROUND(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE /
              (len(sa.shingles) + len(sb.shingles)
               - len(list_intersect(sa.shingles, sb.shingles))), 6) >= 0.6)
SELECT d.doc_id, d.source
FROM documents d
WHERE d.doc_id % 2 = 1
  AND d.doc_id NOT IN (SELECT id_a FROM dups)
"""

def _doc_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM perplexity per document (lambda = 0.75
    bigram weight, unigram backoff)."""
    from pipelinedp_spark.operators import quality
    docs = _t(spark, sf_dir, "documents")
    return quality.bigram_perplexity(docs)

def _gen_bigram_ppl_sql(lam: float = 0.75,
                        sf_dir: str = "/root/testdata/sf0.01") -> str:
    """SQL mirror of `quality.bigram_perplexity`: N and ln(N) injected
    as the same Python-computed literals the Spark op folds in; the
    interpolation expression mirrors the Column arithmetic term for
    term."""
    import math
    import duckdb
    n = duckdb.sql(
        f"SELECT SUM(len(string_split(text, ' ')))"
        f" FROM read_parquet('{sf_dir}/documents.parquet')").fetchone()[0]
    total = repr(float(n))
    ln_n = repr(math.log(float(n)))
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
toks AS (SELECT doc_id, unnest(tk) AS tok FROM t),
uni AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS c_w
        FROM toks GROUP BY 1),
prs AS (SELECT doc_id, tk[i] AS v, tk[i+1] AS w
        FROM (SELECT doc_id, tk,
                     unnest(generate_series(1, len(tk) - 1)) AS i
              FROM t WHERE len(tk) >= 2)),
big AS (SELECT v, w, CAST(COUNT(*) AS DOUBLE) AS c_vw
        FROM prs GROUP BY 1, 2),
fst AS (SELECT t.doc_id, LN(u.c_w) - {ln_n} AS lp
        FROM t JOIN uni u ON u.tok = t.tk[1]),
cond AS (SELECT p.doc_id,
                LN({lam} * (b.c_vw / cv.c_w)
                   + {1.0 - lam} * (uw.c_w / {total})) AS lp
         FROM prs p
         JOIN big b ON b.v = p.v AND b.w = p.w
         JOIN uni cv ON cv.tok = p.v
         JOIN uni uw ON uw.tok = p.w),
lp AS (SELECT doc_id, SUM(lp) AS lp
       FROM (SELECT * FROM fst UNION ALL SELECT * FROM cond)
       GROUP BY 1)
SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
       ROUND(EXP(-lp.lp / len(t.tk)), 6) AS ppl
FROM t JOIN lp USING (doc_id)
"""

def _stream_near_dup_mirror(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch mirror of `streaming.streaming_near_dup_dedup` with exact
    two-trigger semantics: micro-batch 1 = even-id docs (deduped within
    itself), micro-batch 2 = odd-id docs (deduped against batch 1's
    kept-doc block state AND within itself). The oracle replays the
    simhash fingerprints, pigeonhole blocks, and both batches' keep
    rules in SQL. Returns (doc_id, batch)."""
    from pipelinedp_spark.streaming.dp_streaming import near_dup_dedup_batch
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return _two_triggers(docs, "doc_id",
                         near_dup_dedup_batch).select("doc_id", "batch")

_STREAM_NEAR_DUP_MIRROR_SQL = """
WITH tok AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
  FROM documents),
th AS (
  SELECT doc_id, UNNEST(toks) AS token FROM tok),
hashes AS (
  SELECT doc_id,
         ('0x' || substr(md5(token), 1, 15))::BIGINT AS h
  FROM th),
votes AS (
  SELECT doc_id, b.b AS bit,
         SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM hashes, (SELECT UNNEST(range(0, 60)) AS b) b
  GROUP BY doc_id, b.b),
fp AS (
  SELECT doc_id,
         SUM(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT
             AS simhash
  FROM votes GROUP BY doc_id),
blocks AS (
  SELECT doc_id, simhash, UNNEST(range(0, 4)) AS block_idx,
         UNNEST([(simhash >> 0) & 32767, (simhash >> 15) & 32767,
                 (simhash >> 30) & 32767, (simhash >> 45) & 32767])
             AS block_val
  FROM fp),
b1_dups AS (
  SELECT DISTINCT b.doc_id
  FROM blocks a JOIN blocks b
    ON a.block_idx = b.block_idx AND a.block_val = b.block_val
   AND a.doc_id < b.doc_id
  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 0
    AND bit_count(xor(a.simhash, b.simhash)) <= 3),
kept1 AS (
  SELECT doc_id FROM fp
  WHERE doc_id % 2 = 0 AND doc_id NOT IN (SELECT doc_id FROM b1_dups)),
b2_state_dups AS (
  SELECT DISTINCT o.doc_id
  FROM blocks o JOIN blocks s
    ON o.block_idx = s.block_idx AND o.block_val = s.block_val
  WHERE o.doc_id % 2 = 1 AND s.doc_id IN (SELECT doc_id FROM kept1)
    AND bit_count(xor(o.simhash, s.simhash)) <= 3),
b2_in_batch_dups AS (
  SELECT DISTINCT b.doc_id
  FROM blocks a JOIN blocks b
    ON a.block_idx = b.block_idx AND a.block_val = b.block_val
   AND a.doc_id < b.doc_id
  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 1
    AND bit_count(xor(a.simhash, b.simhash)) <= 3),
kept2 AS (
  SELECT doc_id FROM fp
  WHERE doc_id % 2 = 1
    AND doc_id NOT IN (SELECT doc_id FROM b2_state_dups)
    AND doc_id NOT IN (SELECT doc_id FROM b2_in_batch_dups))
SELECT doc_id, CAST(0 AS BIGINT) AS batch FROM kept1
UNION ALL
SELECT doc_id, CAST(1 AS BIGINT) AS batch FROM kept2
"""

def _doc_hash_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing text embeddings (model-free, md5-derived token
    vectors, L2-normalized bag sum) — the in-engine stand-in that feeds
    the semantic-dedup/ANN stack straight from text. Flattened to
    (doc_id, d, value) rows for the oracle compare."""
    from pipelinedp_spark.functions.embeddings import hashed_embeddings
    docs = _t(spark, sf_dir, "documents")
    emb = hashed_embeddings(docs, dim=16)
    return emb.select(
        F.col("doc_id"),
        F.posexplode(F.col("embedding")).alias("d", "value")).select(
        "doc_id", F.col("d").cast("long").alias("d"), F.col("value"))

_DOC_HASH_EMB_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
tok AS (SELECT doc_id, unnest(tk) AS tokn FROM t),
comp AS (
  SELECT doc_id, d.d AS d,
         SUM((('0x' || substr(md5(tokn), 2 * d.d + 1, 2))::BIGINT
              - 127.5) / 127.5) AS v
  FROM tok, (SELECT unnest(range(0, 16)) AS d) d
  GROUP BY 1, 2),
nrm AS (SELECT doc_id, sqrt(SUM(v * v)) AS n FROM comp GROUP BY 1)
SELECT comp.doc_id, CAST(comp.d AS BIGINT) AS d,
       ROUND(CASE WHEN nrm.n > 0 THEN comp.v / nrm.n
                  ELSE comp.v END, 6) AS value
FROM comp JOIN nrm USING (doc_id)
"""

def _doc_semantic_dedup_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition, fully in-engine and fully mirrored: raw
    text -> feature-hashing embeddings -> SemDeDup (k-means cells +
    keep-first cosine pruning). No external model anywhere; the oracle
    recomputes the embeddings from text in SQL, and the generator
    retrains bit-identical centroids from the same deterministic
    sample via the shared numpy code path."""
    from pipelinedp_spark.functions.embeddings import hashed_embeddings
    from pipelinedp_spark.operators import semdedup
    docs = _t(spark, sf_dir, "documents")
    emb = hashed_embeddings(docs, dim=16)
    # Cluster count scales with the corpus (SemDeDup's contract: cells
    # must stay small or the in-cell mat-mul goes quadratic — a fixed 8
    # measured 15x on the 10x step). ~64 docs/cell; 500 docs at the
    # oracle sf yields exactly the 8 cells the SQL mirror trains.
    n_docs = docs.count()
    k = max(8, n_docs // 64)
    return semdedup.semantic_dedup(emb, vec_col="embedding",
                                   id_col="doc_id", num_clusters=k,
                                   cosine_threshold=0.8)

def _hash_embedding_matrix(sf_dir: str, limit: int = 10_000):
    """Driver-side replica of `hashed_embeddings` (same byte maths,
    same 6dp rounding) for the lowest-id docs — the quantizer-training
    sample `semantic_dedup` draws via `sample_corpus_matrix`."""
    import numpy as np
    import pyarrow.parquet as pq
    from pipelinedp_spark.functions.embeddings import token_vector
    t = pq.read_table(f"{sf_dir}/documents.parquet",
                      columns=["doc_id", "text"]).to_pandas()
    t = t.sort_values("doc_id").head(limit)
    out = []
    for txt in t["text"]:
        toks = txt.split(" ")
        m = np.stack([token_vector(tok) for tok in toks])
        v = m.sum(axis=0)
        n = float(np.linalg.norm(v))
        if n > 0.0:
            v = v / n
        out.append(np.round(v, 6))
    return np.stack(out)

def _gen_semantic_dedup_text_sql(num_clusters: int = 8, tau: float = 0.8,
                                 seed: int = 7,
                                 sf_dir: str = "/root/testdata/sf0.01"
                                 ) -> str:
    from pipelinedp_spark.operators.similarity import train_ivf_centroids
    x = _hash_embedding_matrix(sf_dir)
    cents = train_ivf_centroids(x, num_clusters, seed)
    cell_rows = ", ".join(f"({c}, {_plane_lit(cents[c])})"
                          for c in range(len(cents)))
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
tok AS (SELECT doc_id, unnest(tk) AS tokn FROM t),
comp AS (
  SELECT doc_id, d.d AS d,
         SUM((('0x' || substr(md5(tokn), 2 * d.d + 1, 2))::BIGINT
              - 127.5) / 127.5) AS v
  FROM tok, (SELECT unnest(range(0, 16)) AS d) d
  GROUP BY 1, 2),
nrm AS (SELECT doc_id, sqrt(SUM(v * v)) AS n FROM comp GROUP BY 1),
emb AS (
  SELECT comp.doc_id,
         list(ROUND(CASE WHEN nrm.n > 0 THEN comp.v / nrm.n
                         ELSE comp.v END, 6) ORDER BY comp.d) AS v
  FROM comp JOIN nrm USING (doc_id) GROUP BY comp.doc_id),
cells(cell, cv) AS (VALUES {cell_rows}),
ass AS (
  SELECT doc_id, v, cell FROM (
    SELECT doc_id, v, cell,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY list_dot_product(v, cv) DESC,
                                       cell ASC) AS rn
    FROM emb CROSS JOIN cells) WHERE rn = 1),
dups AS (
  SELECT DISTINCT b.doc_id
  FROM ass a JOIN ass b ON a.cell = b.cell AND a.doc_id < b.doc_id
  WHERE ROUND(list_dot_product(a.v, b.v) /
              (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))), 6) >= {tau})
SELECT a.doc_id, a.cell, (d.doc_id IS NOT NULL) AS is_dup
FROM ass a LEFT JOIN dups d USING (doc_id)
"""


QUERIES = {
    "emb_semantic_dedup": _emb_semantic_dedup,
    "stream_semdedup_mirror": _stream_semdedup_mirror,
    "doc_duplicate_spans": _doc_duplicate_spans,
    "doc_duplicate_spans_exact": _doc_duplicate_spans_exact,
    "doc_pii_audit": _doc_pii_audit,
    "doc_decontaminate_spans": _doc_decontaminate_spans,
    "doc_unigram_ppl": _doc_unigram_ppl,
    "doc_bm25_topk": _doc_bm25_topk,
    "doc_dsir_weights": _doc_dsir_weights,
    "doc_quality_classifier": _doc_quality_classifier,
    "doc_chunk_windows": _doc_chunk_windows,
    "doc_dsir_resample": _doc_dsir_resample,
    "emb_semantic_clusters": _emb_semantic_clusters,
    "doc_corpus_report": _doc_corpus_report,
    "dp_corpus_token_count": _dp_corpus_token_count,
    "multimodal_audio_features": _multimodal_audio_features,
    "dedup_cross_corpus_near": _dedup_cross_corpus_near,
    "dedup_incremental": _dedup_incremental,
    "doc_decontam_incremental": _doc_decontam_incremental,
    "doc_hybrid_rrf": _doc_hybrid_rrf,
    "doc_bm25_incremental": _doc_bm25_incremental,
    "doc_bm25_append": _doc_bm25_append,
    "stream_bm25_store_mirror": _stream_bm25_store_mirror,
    "doc_bm25_takedown": _doc_bm25_takedown,
    "doc_bm25_takedown_jumbo": _doc_bm25_takedown_jumbo,
    "doc_bm25_bigterms_topk": _doc_bm25_bigterms_topk,
    "dedup_minhash_capped_bucket": _dedup_minhash_capped_bucket,
    "sim_ann_takedown": _sim_ann_takedown,
    "doc_bigram_ppl": _doc_bigram_ppl,
    "stream_near_dup_mirror": _stream_near_dup_mirror,
    "doc_hash_embeddings": _doc_hash_embeddings,
    "doc_semantic_dedup_text": _doc_semantic_dedup_text,
}

ORACLES = {
    "emb_semantic_dedup": _gen_semantic_dedup_sql(),
    "stream_semdedup_mirror": _gen_stream_semdedup_sql(),
    "doc_duplicate_spans": _DOC_DUP_SPANS_SQL,
    "doc_duplicate_spans_exact": _DOC_DUP_SPANS_EXACT_SQL,
    "doc_pii_audit": _gen_pii_audit_sql(),
    "doc_decontaminate_spans": _DOC_DECON_SPANS_SQL,
    "doc_unigram_ppl": _gen_unigram_ppl_sql(),
    "doc_bm25_topk": _gen_bm25_sql(),
    "doc_dsir_weights": _gen_dsir_sql(),
    "doc_quality_classifier": _gen_quality_classifier_sql(),
    "doc_chunk_windows": _DOC_CHUNK_SQL,
    "doc_dsir_resample": _gen_dsir_resample_sql(),
    "emb_semantic_clusters": _gen_semantic_clusters_sql(),
    "doc_corpus_report": _DOC_CORPUS_REPORT_SQL,
    "dp_corpus_token_count": _DP_CORPUS_TOKEN_SQL,
    "multimodal_audio_features": _MULTIMODAL_AUDIO_FEATURES_SQL,
    "dedup_cross_corpus_near": _DEDUP_CROSS_NEAR_SQL,
    "dedup_incremental": _DEDUP_INCREMENTAL_SQL,
    "doc_decontam_incremental": _DOC_DECONTAM_INCR_SQL,
    "doc_hybrid_rrf": _gen_hybrid_rrf_sql(),
    "doc_bm25_incremental": _gen_bm25_sql(k=15),
    "doc_bm25_append": _gen_bm25_sql(k=12),
    "stream_bm25_store_mirror": _gen_bm25_sql(k=9),
    "doc_bm25_takedown": _gen_bm25_sql(k=13, where="doc_id % 5 <> 0"),
    "doc_bm25_takedown_jumbo": _gen_bm25_sql(k=14,
                                             where="doc_id % 2 <> 0"),
    "doc_bm25_bigterms_topk": _gen_bm25_sql(k=11),
    "dedup_minhash_capped_bucket": _DEDUP_MINHASH_CAPPED_SQL,
    "doc_bigram_ppl": _gen_bigram_ppl_sql(),
    "stream_near_dup_mirror": _STREAM_NEAR_DUP_MIRROR_SQL,
    "doc_hash_embeddings": _DOC_HASH_EMB_SQL,
    "doc_semantic_dedup_text": _gen_semantic_dedup_text_sql(),
}
