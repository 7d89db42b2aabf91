"""Round-7+ families: language ID, embeddings, events analytics, TPC-H, PII/release, upserts, BM25/ANN store lifecycles.

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
from pipelinedp_spark.queries.analysis import _gen_ivf_pq_topk_sql


_LANGID_SNIPPETS = [
    ("en", "i think that we should go to the market in the morning "
           "and buy some bread with the other people."),
    ("es", "nosotros vamos a la ciudad para comprar comida y después "
           "volvemos a casa con los niños pequeños."),
    ("de", "ich möchte morgen in die schule gehen und danach mit "
           "meinen freunden zusammen spielen."),
    ("fr", "nous allons au marché pour acheter des légumes et ensuite "
           "nous rentrons à la maison avec les enfants."),
    ("ru", "мы идем в магазин чтобы купить хлеб и потом возвращаемся "
           "домой вместе с детьми."),
    ("zh", "我们明天去市场买一些水果和蔬菜然后回家吃饭。"),
    ("ja", "私たちは明日市場へ行って果物を買います。それから家に帰ります。"),
    ("th", "พรุ่งนี้เราจะไปตลาดเพื่อซื้อผลไม้และกลับบ้าน"),
    ("ar", "نحن نذهب إلى السوق لشراء الخبز ثم نعود إلى البيت مع الأطفال."),
]

def _doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character 1/2/3-gram language ID (`operators.langid`): script
    blocks make CJK/Thai/Arabic/Cyrillic self-identifying, trigrams
    disambiguate Latin languages. Odd doc_ids carry planted
    multilingual snippets; even keep their English text. Exactly
    mirrored in SQL (substring grams + VALUES profile table +
    struct-max argmax)."""
    from pipelinedp_spark.operators.langid import language_id_ngram
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    snips = F.array(*[F.lit(s) for _, s in _LANGID_SNIPPETS])
    planted = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 1,
               F.element_at(
                   snips,
                   (F.col("doc_id") % len(_LANGID_SNIPPETS))
                   .cast("int") + 1))
        .otherwise(F.col("text")).alias("text"))
    return language_id_ngram(planted)

def _gen_language_id_sql() -> str:
    from pipelinedp_spark.operators.langid import (MAX_GRAM,
                                                   language_profiles)
    prof = language_profiles()
    vals = ", ".join(
        "('{}', '{}', {!r})".format(lang, g.replace("'", "''"), w)
        for lang, g, w in prof)
    snip_list = ", ".join(
        "'{}'".format(s.replace("'", "''")) for _, s in _LANGID_SNIPPETS)
    k = len(_LANGID_SNIPPETS)
    gram_lists = ", ".join(
        f"[substring(t, i, {n}) for i in range(1, length(t) - {n} + 2)]"
        for n in range(1, MAX_GRAM + 1))
    return f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 1
              THEN ([{snip_list}])[(doc_id % {k})::INT + 1]
              ELSE text END AS text
  FROM documents),
norm AS (
  SELECT doc_id,
         ' ' || trim(regexp_replace(lower(substring(text, 1, 256)), '\\s+', ' ', 'g'))
             || ' ' AS t
  FROM planted),
g AS (
  SELECT doc_id, length(t) * {MAX_GRAM} AS ng,
         unnest(flatten([{gram_lists}])) AS gram
  FROM norm),
wt(lang, gram, w) AS (VALUES {vals}),
hits AS (
  SELECT g.doc_id, wt.lang, g.ng, SUM(wt.w) AS h
  FROM g JOIN wt USING (gram)
  GROUP BY 1, 2, 3),
best AS (
  SELECT doc_id,
         max(struct_pack(score := ROUND(h / ng, 6),
                         lang := lang)) AS b
  FROM hits GROUP BY 1)
SELECT n.doc_id,
       COALESCE(b.b.lang, 'unknown') AS lang,
       COALESCE(b.b.score, 0.0) AS score
FROM norm n LEFT JOIN best b USING (doc_id)
"""

def _doc_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched Unicode normalization (`text.unicode_normalize`,
    form=NFC so DuckDB's nfc_normalize can oracle it; the NFKC
    compatibility folding of the same UDF is pinned by pytest). Each
    doc is decorated with decomposed accents (e + COMBINING ACUTE) and
    the UDF must compose them."""
    from pipelinedp_spark.functions.text import unicode_normalize
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # DECOMPOSED literals (e + U+0301, n + U+0303): the UDF must
    # compose them or the value hash differs from the oracle's
    # nfc_normalize output - an identity stand-in cannot pass.
    deco = F.concat(F.lit("re\u0301sume\u0301: "), F.col("text"),
                    F.lit(" cafe\u0301 n\u0303"))
    return docs.select(
        "doc_id", unicode_normalize(deco, "NFC").alias("ntext"))

_DOC_NFC_NORMALIZE_SQL = """
SELECT doc_id,
       nfc_normalize('re' || chr(769) || 'sume' || chr(769) || ': '
                     || text || ' cafe' || chr(769) || ' n'
                     || chr(771)) AS ntext
FROM documents
"""

def _doc_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality filter (Rae et al. 2021 Table A1
    defaults): per-rule booleans + overall pass, every rule except the
    top-2-gram shuffle a per-row codegen expression (the four line
    rules share ONE split via `text.line_signals`)."""
    from pipelinedp_spark.operators.quality import gopher_quality_filter
    docs = _t(spark, sf_dir, "documents")
    return gopher_quality_filter(docs)

_DOC_GOPHER_FILTER_SQL = """
WITH tok AS (SELECT doc_id, text, string_split(text, ' ') AS t,
                    string_split(text, chr(10)) AS ls
             FROM documents),
g5 AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 5
              THEN [array_to_string(t[i:i+4], ' ')
                    for i in range(1, len(t) - 3)]
              ELSE [array_to_string(t, ' ')] END AS g
  FROM tok),
dup5 AS (
  SELECT doc_id,
         CASE WHEN list_aggregate([length(x) for x in g], 'sum') > 0
              THEN ROUND(
                (list_aggregate([length(x) for x in g], 'sum')
                 - list_aggregate([length(x) for x in list_distinct(g)],
                                  'sum'))::DOUBLE
                / list_aggregate([length(x) for x in g], 'sum'), 6)
              ELSE 0.0 END AS dup_5gram_frac
  FROM g5),
g2 AS (
  SELECT doc_id,
         UNNEST(CASE WHEN len(t) >= 2
                     THEN [t[i] || ' ' || t[i+1]
                           for i in range(1, len(t))]
                     ELSE [array_to_string(t, ' ')] END) AS g
  FROM tok),
cnt2 AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g2 GROUP BY 1, 2),
tot2 AS (SELECT doc_id, SUM(cnt * length(g)) AS total
         FROM cnt2 GROUP BY 1),
top2 AS (
  SELECT doc_id, g, cnt FROM cnt2
  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                             ORDER BY cnt DESC, g ASC) = 1),
sig AS (
  SELECT doc_id,
         len(t) AS n_words,
         ROUND(list_aggregate([length(x) for x in t],
                              'sum')::DOUBLE
               / greatest(len(t), 1), 6) AS mwl,
         CASE WHEN len(t) > 0
              THEN ROUND(
                (length(text) - length(replace(text, '#', ''))
                 + len(regexp_extract_all(text, '\\.\\.\\.')))::DOUBLE
                / len(t), 6)
              ELSE 0.0 END AS sym,
         CASE WHEN len(ls) > 0
              THEN ROUND((len(ls) - len(list_distinct(ls)))::DOUBLE
                         / len(ls), 6) ELSE 0.0 END AS dlf,
         CASE WHEN list_aggregate([length(x) for x in ls], 'sum') > 0
              THEN ROUND(
                (list_aggregate([length(x) for x in ls], 'sum')
                 - list_aggregate(
                     [length(x) for x in list_distinct(ls)], 'sum')
                 )::DOUBLE
                / list_aggregate([length(x) for x in ls], 'sum'), 6)
              ELSE 0.0 END AS dlcf,
         CASE WHEN len(ls) > 0
              THEN ROUND(len([x for x in ls
                              if regexp_matches(trim(x), '^[-*•]')
                              ])::DOUBLE / len(ls), 6)
              ELSE 0.0 END AS bul,
         CASE WHEN len(ls) > 0
              THEN ROUND(len([x for x in ls
                              if regexp_matches(trim(x),
                                                '(\\.\\.\\.|…)$')
                              ])::DOUBLE / len(ls), 6)
              ELSE 0.0 END AS ell,
         ROUND(len([x for x in t
                    if regexp_matches(x, '[A-Za-z]')])::DOUBLE
               / greatest(len(t), 1), 6) AS alpha,
         len(list_intersect(
               list_distinct([regexp_replace(lower(x), '[^a-z]', '', 'g')
                              for x in t]),
               ['the', 'be', 'to', 'of', 'and', 'that',
                'have', 'with'])) AS sw
  FROM tok)
SELECT s.doc_id,
       s.n_words::BIGINT AS n_words,
       (s.n_words >= 50 AND s.n_words <= 100000) AS ok_words,
       (s.mwl >= 3.0 AND s.mwl <= 10.0) AS ok_word_len,
       (s.sym <= 0.1) AS ok_symbol,
       (s.bul <= 0.9 AND s.ell <= 0.3) AS ok_lines,
       (s.dlf <= 0.3 AND s.dlcf <= 0.2) AS ok_dup_lines,
       (ROUND((top2.cnt * length(top2.g))::DOUBLE / tot2.total, 6)
            <= 0.2) AS ok_top2gram,
       (dup5.dup_5gram_frac <= 0.15) AS ok_dup5gram,
       (s.alpha >= 0.8) AS ok_alpha,
       (s.sw >= 2) AS ok_stopwords,
       ((s.n_words >= 50 AND s.n_words <= 100000)
        AND (s.mwl >= 3.0 AND s.mwl <= 10.0)
        AND (s.sym <= 0.1)
        AND (s.bul <= 0.9 AND s.ell <= 0.3)
        AND (s.dlf <= 0.3 AND s.dlcf <= 0.2)
        AND (ROUND((top2.cnt * length(top2.g))::DOUBLE / tot2.total, 6)
             <= 0.2)
        AND (dup5.dup_5gram_frac <= 0.15)
        AND (s.alpha >= 0.8)
        AND (s.sw >= 2)) AS passes
FROM sig s
JOIN dup5 USING (doc_id)
JOIN top2 USING (doc_id)
JOIN tot2 USING (doc_id)
"""

def _doc_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF keywords per document (`retrieval.tfidf_keywords`):
    one corpus explode (shared word-count plan), df off the tf table,
    per-doc WindowGroupLimit top-k."""
    from pipelinedp_spark.operators.retrieval import tfidf_keywords
    docs = _t(spark, sf_dir, "documents")
    return tfidf_keywords(docs, k=5)

_DOC_TFIDF_KEYWORDS_SQL = """
WITH tfc AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents)
  GROUP BY 1, 2),
dft AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY 1),
n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM documents),
s AS (SELECT doc_id, term,
             tf * ln(nd::DOUBLE / df) AS score
      FROM tfc JOIN dft USING (term), n)
SELECT doc_id, term, rank, ROUND(score, 6) AS score
FROM (SELECT doc_id, term, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term ASC) AS rank
      FROM s)
WHERE rank <= 5
"""

def _doc_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus collocations by PMI over adjacent word pairs
    (`retrieval.pmi_collocations`): two word-count plans + a
    vocabulary-sized join, global top-k sort of the min_count
    survivors."""
    from pipelinedp_spark.operators.retrieval import pmi_collocations
    docs = _t(spark, sf_dir, "documents")
    return pmi_collocations(docs, k=50, min_count=5)

_DOC_PMI_COLLOCATIONS_SQL = """
WITH tok AS (SELECT string_split(text, ' ') AS t FROM documents),
pr AS (
  SELECT unnest([{'x': t[i], 'y': t[i+1]}
                 for i in range(1, len(t))], recursive := true)
  FROM tok),
big AS (SELECT x, y, COUNT(*) AS c FROM pr GROUP BY 1, 2),
uni AS (SELECT w, COUNT(*) AS cw
        FROM (SELECT unnest(t) AS w FROM tok) GROUP BY 1),
tot AS (SELECT SUM(c) AS tt FROM big),
s AS (
  SELECT b.x, b.y, b.c,
         ln(b.c::DOUBLE * tot.tt / (ux.cw * uy.cw)) AS pmi
  FROM big b
  JOIN uni ux ON b.x = ux.w
  JOIN uni uy ON b.y = uy.w, tot
  WHERE b.c >= 5)
SELECT x || ' ' || y AS gram, c::BIGINT AS c, ROUND(pmi, 6) AS pmi
FROM s ORDER BY pmi DESC, gram ASC LIMIT 50
"""

_CODE_SNIPPETS = [
    ("def main(argv):\n    total = 0\n    for i in range(10):\n"
     "        total += i * i\n    return total\n"
     "if __name__ == '__main__':\n    print(main([]))"),
    ("public static int sum(int[] xs) {\n    int acc = 0;\n"
     "    for (int i = 0; i < xs.length; i++) { acc += xs[i]; }\n"
     "    return acc;\n}"),
    ("const f = (xs) => {\n    let acc = 0;\n"
     "    xs.forEach((x) => { acc += x; });\n    return acc;\n};"),
]

def _doc_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose routing signals (`text.code_signals` /
    `code_score`): doc_ids divisible by 3 keep their prose, the rest
    get a code snippet appended — the detector must separate them.
    Pure codegen regexp counts, mirrored exactly in SQL."""
    from pipelinedp_spark.functions.text import code_score, is_code
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    snips = F.array(*[F.lit(s) for s in _CODE_SNIPPETS])
    planted = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.col("text"))
        .otherwise(F.concat(
            F.col("text"), F.lit("\n"),
            F.element_at(snips, (F.col("doc_id")
                                 % len(_CODE_SNIPPETS)).cast("int") + 1)))
        .alias("text"))
    return planted.select(
        "doc_id",
        code_score(F.col("text")).alias("code_score"),
        is_code(F.col("text")).alias("is_code"))

def _gen_code_detect_sql() -> str:
    from pipelinedp_spark.functions.text import _CODE_KEYWORD_PATTERN
    snips = ", ".join("'{}'".format(
        s.replace("'", "''").replace("\n", "' || chr(10) || '"))
        for s in _CODE_SNIPPETS)
    # DuckDB single-quoted strings do not process backslash escapes, so
    # the Java-regex pattern passes through verbatim.
    kw = _CODE_KEYWORD_PATTERN.replace("'", "''")
    return f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN text
              ELSE text || chr(10)
                   || ([{snips}])[(doc_id % 3)::INT + 1] END AS text
  FROM documents),
sig AS (
  SELECT doc_id,
         ROUND(len(regexp_extract_all(text,
                   '[{{}}\\[\\]()]'))::DOUBLE
               / greatest(length(text), 1), 6) AS brace_density,
         ROUND(len([x for x in string_split(text, chr(10))
                    if regexp_matches(x, ';\\s*$')])::DOUBLE
               / greatest(len(string_split(text, chr(10))), 1), 6)
             AS semicolon_line_frac,
         ROUND(len([x for x in string_split(text, chr(10))
                    if regexp_matches(x, '^(    |\\t)')])::DOUBLE
               / greatest(len(string_split(text, chr(10))), 1), 6)
             AS indent_line_frac,
         ROUND(len(regexp_extract_all(text, '{kw}'))::DOUBLE
               / greatest(len(string_split(text, ' ')), 1), 6)
             AS keyword_density,
         ROUND(len(regexp_extract_all(text,
                   '(==|!=|<=|>=|->|=>|\\+=|-=|\\*=|/=|::|:=)'))::DOUBLE
               / greatest(length(text), 1), 6) AS assign_density
  FROM planted)
SELECT doc_id,
       ROUND(least(1.0, brace_density * 8.0
                        + semicolon_line_frac * 1.2
                        + indent_line_frac * 0.8
                        + keyword_density * 3.0
                        + assign_density * 10.0), 6) AS code_score,
       (ROUND(least(1.0, brace_density * 8.0
                         + semicolon_line_frac * 1.2
                         + indent_line_frac * 0.8
                         + keyword_density * 3.0
                         + assign_density * 10.0), 6) >= 0.3) AS is_code
FROM sig
"""

def _doc_language_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus language distribution off the n-gram language classifier:
    per-language doc counts + share. The share window runs over the
    ALREADY-AGGREGATED language table (tens of rows), not the corpus."""
    from pyspark.sql import Window as W
    counts = (_doc_language_id(spark, sf_dir)
              .groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")))
    total = W.partitionBy()
    return counts.select(
        "lang", F.col("n_docs").cast("long").alias("n_docs"),
        F.round(F.col("n_docs").cast("double")
                / F.sum("n_docs").over(total), 6).alias("share"))

def _gen_language_mix_sql() -> str:
    inner = _gen_language_id_sql()
    return f"""
WITH lid AS ({inner})
SELECT lang, COUNT(*)::BIGINT AS n_docs,
       ROUND(COUNT(*)::DOUBLE / SUM(COUNT(*)) OVER (), 6) AS share
FROM lid GROUP BY lang
"""

def _doc_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-level corpus dedup (`dedup.sentence_dedup`): documents
    get deterministic sentence boundaries on BOTH sides (five frequent
    words become '. '), then any trimmed sentence shared by >= 2
    distinct docs of the same source is stripped and the text rebuilt
    in order. Same plan shape as line dedup — hash-only counting
    shuffles, groupBy rebuild, no windows."""
    from pipelinedp_spark.operators import dedup
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.regexp_replace(F.col("text"), " (the|a|data|value|row) ",
                         ". ").alias("text"))
    return dedup.sentence_dedup(docs, min_docs=2, group_col="source")

_DOC_SENTENCE_DEDUP_SQL = """
WITH base AS (
  SELECT doc_id, source,
         regexp_replace(text, ' (the|a|data|value|row) ', '. ', 'g') AS t
  FROM documents
),
sents AS (
  SELECT doc_id, source,
         UNNEST(regexp_extract_all(t, '[^.!?]+[.!?]*')) AS s,
         generate_subscripts(regexp_extract_all(t, '[^.!?]+[.!?]*'), 1)
             AS pos
  FROM base
),
dup AS (
  SELECT source, ts
  FROM (SELECT source, trim(s) AS ts, COUNT(DISTINCT doc_id) AS nd
        FROM sents WHERE trim(s) <> '' GROUP BY 1, 2)
  WHERE nd >= 2
),
tagged AS (
  SELECT se.doc_id, se.s, se.pos,
         (d.ts IS NOT NULL AND trim(se.s) <> '') AS removed
  FROM sents se
  LEFT JOIN dup d ON se.source = d.source AND trim(se.s) = d.ts
),
reb AS (
  SELECT doc_id,
         COALESCE(string_agg(s, '' ORDER BY pos)
                  FILTER (WHERE NOT removed), '') AS clean_text,
         COUNT(*) AS n_lines,
         CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
           AS n_removed
  FROM tagged
  GROUP BY doc_id
)
SELECT b.doc_id,
       COALESCE(r.clean_text, '') AS clean_text,
       CAST(COALESCE(r.n_lines, 0) AS BIGINT) AS n_lines,
       CAST(COALESCE(r.n_removed, 0) AS BIGINT) AS n_removed
FROM base b LEFT JOIN reb r USING (doc_id)
"""

def _stream_sentence_dedup_mirror(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Batch mirror of `streaming.streaming_sentence_dedup` with exact
    two-trigger semantics (same harness as stream_line_dedup_mirror):
    batch 1 = even docs, batch 2 = odd docs counted against batch 1's
    accumulated sentence state. Same '. ' sentence decoration as
    doc_sentence_dedup."""
    from pipelinedp_spark.streaming.dp_streaming import (
        sentence_dedup_batch)
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(F.col("text"), " (the|a|data|value|row) ",
                         ". ").alias("text"))
    return _two_triggers(
        docs, "doc_id", lambda b, state: sentence_dedup_batch(
            b, state, materialize=state is None))

_STREAM_SENTENCE_DEDUP_MIRROR_SQL = """
WITH base AS (
  SELECT doc_id,
         regexp_replace(text, ' (the|a|data|value|row) ', '. ', 'g') AS t
  FROM documents
),
sents AS (
  SELECT doc_id, doc_id % 2 AS par,
         UNNEST(regexp_extract_all(t, '[^.!?]+[.!?]*')) AS s,
         generate_subscripts(regexp_extract_all(t, '[^.!?]+[.!?]*'), 1)
             AS pos
  FROM base
),
ce AS (
  SELECT trim(s) AS ts, COUNT(DISTINCT doc_id) AS nd FROM sents
  WHERE par = 0 AND trim(s) <> '' GROUP BY 1
),
co AS (
  SELECT trim(s) AS ts, COUNT(DISTINCT doc_id) AS nd FROM sents
  WHERE par = 1 AND trim(s) <> '' GROUP BY 1
),
tagged AS (
  SELECT se.doc_id, se.par, se.s, se.pos,
         (trim(se.s) <> '' AND
          CASE WHEN se.par = 0 THEN COALESCE(ce.nd, 0) >= 2
               ELSE COALESCE(ce.nd, 0) + COALESCE(co.nd, 0) >= 2
          END) AS removed
  FROM sents se
  LEFT JOIN ce ON trim(se.s) = ce.ts
  LEFT JOIN co ON trim(se.s) = co.ts
),
reb AS (
  SELECT doc_id, par AS batch,
         COALESCE(string_agg(s, '' ORDER BY pos)
                  FILTER (WHERE NOT removed), '') AS clean_text,
         COUNT(*) AS n_lines,
         CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
           AS n_removed
  FROM tagged
  GROUP BY doc_id, par
)
SELECT b.doc_id,
       b.doc_id % 2 AS batch,
       COALESCE(r.clean_text, '') AS clean_text,
       CAST(COALESCE(r.n_lines, 0) AS BIGINT) AS n_lines,
       CAST(COALESCE(r.n_removed, 0) AS BIGINT) AS n_removed
FROM base b LEFT JOIN reb r USING (doc_id)
"""

def _sim_ivf_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval (`similarity.ivf_pq_rerank_topk`): IVF-PQ
    40-candidate shortlist from compressed codes, exact-cosine re-rank
    of only those rows — the production serving shape. Oracle = the
    composed IVF-PQ SQL at k*mult re-ranked by true cosine."""
    from pipelinedp_spark.operators import similarity
    emb = _t(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    out = similarity.ivf_pq_rerank_topk(emb, q, k=10, shortlist_mult=4,
                                        num_cells=8, nprobe=2,
                                        m=4, ksub=16)
    return out.withColumn("rank", F.col("rank").cast("long"))

def _gen_ivf_pq_rerank_sql(k: int = 10, mult: int = 4) -> str:
    inner = _gen_ivf_pq_topk_sql(k=k * mult)
    return f"""
WITH short AS ({inner}),
bv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
resc AS (
  SELECT s.query_id, s.vec_id,
         list_dot_product(c.v, q.v) /
         (sqrt(list_dot_product(c.v, c.v))
          * sqrt(list_dot_product(q.v, q.v))) AS cosine
  FROM short s
  JOIN bv c ON s.vec_id = c.vec_id
  JOIN bv q ON s.query_id = q.vec_id)
SELECT query_id, vec_id, rank, ROUND(cosine, 6) AS cosine
FROM (SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id ASC)
                 AS rank
      FROM resc)
WHERE rank <= {k}
"""

def _emb_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means on the FULL embedding corpus
    (`clustering.kmeans_fit`): codegen nearest-centroid assignment, one
    map-side-combinable (cluster, pos) sum per iteration, exact
    integer arithmetic on quantized inputs so the iterative fit is
    bit-reproducible. Oracle = the same 3 iterations unrolled into
    CTEs (assign / mean / carry) on the same quantized vectors."""
    from pipelinedp_spark.operators import clustering
    emb = _t(spark, sf_dir, "embeddings")
    cents, sizes = clustering.kmeans_fit(emb, k=8, iters=3)
    return clustering.centroids_table(spark, cents, sizes)

def _gen_kmeans_prefix(k: int, iters: int, q: int) -> str:
    """Unrolled Lloyd iterations: a{i} assigns against c{i-1} (argmax of
    dot(v, c) - ||c||^2/2, ties to lowest cluster), m{i} takes exact
    integer-sum means per (cluster, pos), c{i} carries the previous
    centroid for emptied clusters. Mirrors kmeans_fit step for step.
    Returns the WITH body up to c{iters} for final-SELECTs to build on."""
    sql = f"""
WITH v AS (
  SELECT vec_id,
         [CAST(floor(x * {q}.0 + 0.5) AS BIGINT)
          for x in embedding::DOUBLE[]] AS vq
  FROM embeddings),
vd AS (SELECT vec_id, vq::DOUBLE[] AS vdd FROM v),
ex AS (
  SELECT vec_id, UNNEST(vq) AS val,
         generate_subscripts(vq, 1) - 1 AS pos
  FROM v),
c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster,
         vq::DOUBLE[] AS cent
  FROM v ORDER BY vec_id LIMIT {k})"""
    for i in range(1, iters + 1):
        sql += f""",
a{i} AS (
  SELECT vec_id, cluster FROM (
    SELECT d.vec_id, c.cluster,
           ROW_NUMBER() OVER (
             PARTITION BY d.vec_id
             ORDER BY list_dot_product(d.vdd, c.cent)
                      - 0.5 * list_dot_product(c.cent, c.cent) DESC,
                      c.cluster ASC) AS rn
    FROM vd d CROSS JOIN c{i - 1} c) WHERE rn = 1),
m{i} AS (
  SELECT a.cluster, e.pos, SUM(e.val) / COUNT(*) AS cm
  FROM a{i} a JOIN ex e USING (vec_id)
  GROUP BY 1, 2),
c{i} AS (
  SELECT p.cluster, COALESCE(n.cent, p.cent) AS cent
  FROM c{i - 1} p LEFT JOIN (
    SELECT cluster, list(cm ORDER BY pos) AS cent
    FROM m{i} GROUP BY 1) n USING (cluster))"""
    return sql

def _gen_kmeans_sql(k: int = 8, iters: int = 3, q: int = 1 << 20) -> str:
    sql = _gen_kmeans_prefix(k, iters, q)
    sql += f""",
sz AS (SELECT cluster, COUNT(*) AS members FROM a{iters} GROUP BY 1),
fin AS (
  SELECT cluster, UNNEST(cent) AS cm,
         generate_subscripts(cent, 1) - 1 AS pos
  FROM c{iters})
SELECT CAST(f.cluster AS BIGINT) AS cluster,
       CAST(f.pos AS BIGINT) AS pos,
       ROUND(f.cm, 6) AS centroid,
       CAST(COALESCE(s.members, 0) AS BIGINT) AS members
FROM fin f LEFT JOIN sz s USING (cluster)
"""
    return sql

def _emb_cluster_balanced_sample(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Cluster-balanced curation subset
    (`clustering.cluster_balanced_sample`): k-means topics capped at a
    fixed per-cluster budget, rows picked in portable-hash order so the
    subset is reproducible across engines and layouts. Oracle = the
    unrolled-Lloyd prefix + final assignment + per-cluster
    ROW_NUMBER over the same md5-derived order key."""
    from pipelinedp_spark.operators import clustering
    emb = _t(spark, sf_dir, "embeddings")
    return clustering.cluster_balanced_sample(emb, k=8, iters=2,
                                              per_cluster=12)

def _gen_cluster_balanced_sql(k: int = 8, iters: int = 2,
                              per_cluster: int = 12,
                              q: int = 1 << 20) -> str:
    sql = _gen_kmeans_prefix(k, iters, q)
    sql += f""",
af AS (
  SELECT vec_id, cluster FROM (
    SELECT d.vec_id, c.cluster,
           ROW_NUMBER() OVER (
             PARTITION BY d.vec_id
             ORDER BY list_dot_product(d.vdd, c.cent)
                      - 0.5 * list_dot_product(c.cent, c.cent) DESC,
                      c.cluster ASC) AS rn
    FROM vd d CROSS JOIN c{iters} c) WHERE rn = 1)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(cluster AS BIGINT) AS cluster,
       CAST(rk AS BIGINT) AS rank
FROM (
  SELECT vec_id, cluster,
         ROW_NUMBER() OVER (
           PARTITION BY cluster
           ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                        ::BIGINT ASC,
                    vec_id ASC) AS rk
  FROM af)
WHERE rk <= {per_cluster}
"""
    return sql

def _emb_int8_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization QA (`functions.embeddings.int8_*`):
    per-dimension code range and reconstruction error for the 4x
    storage cut. Errors are scaled to exact 1e-7 integer ticks so the
    aggregation is order-independent (same trick as the k-means fit);
    oracle recomputes the identical affine codes in SQL."""
    from pipelinedp_spark.functions import embeddings as EMB
    emb = _t(spark, sf_dir, "embeddings")
    params = EMB.int8_quantize_params(emb, "embedding")
    codes = EMB.int8_quantize_expr(F.col("embedding"), params)
    deq = EMB.int8_dequantize_expr(codes, params)
    errq = F.zip_with(
        deq, F.col("embedding").cast("array<double>"),
        lambda a, b: F.floor(F.abs(a - b) * F.lit(1e7) + F.lit(0.5))
        .cast("long"))
    pair = F.zip_with(codes, errq,
                      lambda c, e: F.struct(c.alias("c"), e.alias("e")))
    ex = emb.select(F.posexplode(pair).alias("pos", "s"))
    return (ex.groupBy(F.col("pos").cast("long").alias("pos"))
            .agg(F.min(F.col("s.c")).cast("long").alias("code_min"),
                 F.max(F.col("s.c")).cast("long").alias("code_max"),
                 F.max(F.col("s.e")).alias("max_err_e7"),
                 F.round(F.sum(F.col("s.e")) / F.count(F.lit(1)), 6)
                 .alias("mean_err_e7")))

_EMB_INT8_ROUNDTRIP_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
ex AS (
  SELECT vec_id, UNNEST(e) AS x,
         generate_subscripts(e, 1) - 1 AS pos
  FROM v),
mm AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY 1),
q AS (
  SELECT e.pos,
         CAST(CASE WHEN (m.mx - m.mn) / 255.0 > 0
                   THEN floor((e.x - m.mn) / ((m.mx - m.mn) / 255.0)
                              + 0.5)
                   ELSE 0 END - 128 AS BIGINT) AS code,
         e.x, m.mn, m.mx
  FROM ex e JOIN mm m USING (pos)),
r AS (
  SELECT pos, code,
         CAST(floor(abs((code + 128) * ((mx - mn) / 255.0) + mn - x)
                    * 10000000.0 + 0.5) AS BIGINT) AS eq
  FROM q)
SELECT CAST(pos AS BIGINT) AS pos,
       CAST(MIN(code) AS BIGINT) AS code_min,
       CAST(MAX(code) AS BIGINT) AS code_max,
       CAST(MAX(eq) AS BIGINT) AS max_err_e7,
       ROUND(SUM(eq) / COUNT(*), 6) AS mean_err_e7
FROM r GROUP BY 1
"""

def _emb_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus covariance matrix (`functions.embeddings.gram_sums`):
    per-partition numpy int64 Gram partials, O(partitions x dim^2)
    shuffle, exact integer assembly (n*sxy - s_i*s_j) / n^2 with one
    final division — the PCA/whitening input at any corpus size.
    Oracle recomputes the pairwise-product sums by self-joining the
    unnested quantized vectors."""
    from pipelinedp_spark.functions import embeddings as EMB
    emb = _t(spark, sf_dir, "embeddings")
    g = EMB.gram_sums(emb, "embedding", 1 << 10).localCheckpoint()
    n = int(g.filter((F.col("i") == -1) & (F.col("j") == -1))
            .first()["sxy"])
    lin = g.filter((F.col("i") == -1) & (F.col("j") >= 0)) \
           .select(F.col("j").alias("pos"), F.col("sxy").alias("sv"))
    pairs = g.filter(F.col("i") >= 0)
    si = lin.select(F.col("pos").alias("i"), F.col("sv").alias("si"))
    sj = lin.select(F.col("pos").alias("j"), F.col("sv").alias("sj"))
    return (pairs.join(F.broadcast(si), "i").join(F.broadcast(sj), "j")
            .select("i", "j",
                    F.round((F.lit(n) * F.col("sxy")
                             - F.col("si") * F.col("sj"))
                            / F.lit(n * n), 6).alias("cov")))

_EMB_COVARIANCE_SQL = """
WITH v AS (
  SELECT vec_id,
         [CAST(floor(x * 1024.0 + 0.5) AS BIGINT)
          for x in embedding::DOUBLE[]] AS vq
  FROM embeddings),
ex AS (
  SELECT vec_id, UNNEST(vq) AS val,
         generate_subscripts(vq, 1) - 1 AS pos
  FROM v),
pr AS (
  SELECT a.pos AS i, b.pos AS j, SUM(a.val * b.val) AS sxy
  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.pos <= b.pos
  GROUP BY 1, 2),
s AS (SELECT pos, SUM(val) AS sv FROM ex GROUP BY 1),
nn AS (SELECT COUNT(*) AS n FROM v)
SELECT CAST(p.i AS BIGINT) AS i, CAST(p.j AS BIGINT) AS j,
       ROUND((nn.n * p.sxy - si.sv * sj.sv) / (nn.n * nn.n), 6) AS cov
FROM pr p
CROSS JOIN nn
JOIN s si ON si.pos = p.i
JOIN s sj ON sj.pos = p.j
"""

def _emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA dim-reduction (`functions.embeddings.pca_*`): gram_sums →
    driver eigh on the bounded covariance → pure-codegen projection
    folds. Oracle re-derives the identical components from the same
    parquet (shared pca_from_gram helper, same precedent as the IVF
    quantizer oracles) and projects with list_dot_product."""
    from pipelinedp_spark.functions import embeddings as EMB
    emb = _t(spark, sf_dir, "embeddings")
    comps, mean_dots, _ = EMB.pca_components(emb, "embedding", k=4)
    pcs = EMB.pca_project_expr(F.col("embedding"), comps, mean_dots)
    return emb.select("vec_id",
                      *[F.round(pc, 6).alias(f"pc{i}")
                        for i, pc in enumerate(pcs)])

def _gen_pca_sql(k: int = 4, q: int = 1 << 10,
                 sf_dir: str = "/root/testdata/sf0.01") -> str:
    import duckdb
    import numpy as np

    from pipelinedp_spark.functions.embeddings import pca_from_gram

    sample = duckdb.sql(
        f"SELECT embedding FROM read_parquet"
        f"('{sf_dir}/embeddings.parquet')").fetchnumpy()["embedding"]
    x = np.floor(np.stack([np.asarray(v, dtype="float64")
                           for v in sample]) * float(q) + 0.5) \
        .astype(np.int64)
    g = x.T @ x
    s = x.sum(axis=0)
    dim = x.shape[1]
    rows = [(-1, -1, len(x))]
    rows += [(-1, j, int(s[j])) for j in range(dim)]
    rows += [(i, j, int(g[i, j])) for i in range(dim)
             for j in range(i, dim)]
    comps, mean_dots, _ = pca_from_gram(rows, dim, k)
    comp_lits = [
        "[" + ", ".join(repr(float(c)) for c in comp) + "]"
        for comp in comps]
    sel = ",\n       ".join(
        f"ROUND(list_dot_product(xq, {comp_lits[i]}) "
        f"- {mean_dots[i]!r}, 6) AS pc{i}" for i in range(k))
    return f"""
WITH v AS (
  SELECT vec_id,
         [floor(x * {q}.0 + 0.5) for x in embedding::DOUBLE[]] AS xq
  FROM embeddings)
SELECT vec_id,
       {sel}
FROM v
"""

def _doc_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching report (`packing.length_buckets`):
    price the padding cost of bucket boundaries before an SFT run.
    Pure codegen ladder + a <=8-key groupBy; oracle mirrors the CASE
    ladder on string_split token counts."""
    from pipelinedp_spark.operators import packing
    docs = _t(spark, sf_dir, "documents")
    return packing.length_buckets(docs, "text",
                                  boundaries=(32, 64, 128, 256, 512))

_DOC_LENGTH_BUCKETS_SQL = """
WITH tok AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
b AS (
  SELECT n,
         CASE WHEN n <= 32 THEN 32
              WHEN n <= 64 THEN 64
              WHEN n <= 128 THEN 128
              WHEN n <= 256 THEN 256
              ELSE 512 END AS bucket
  FROM tok)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS total_tokens,
       CAST(SUM(LEAST(n, bucket)) AS BIGINT) AS kept_tokens,
       CAST(COUNT(*) * bucket - SUM(LEAST(n, bucket)) AS BIGINT)
           AS pad_tokens,
       ROUND((COUNT(*) * bucket - SUM(LEAST(n, bucket)))
             / (COUNT(*) * bucket), 6) AS pad_frac
FROM b GROUP BY bucket
"""

def _stream_cluster_assign_mirror(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Batch twin of `streaming.streaming_cluster_assign`: assignment
    is a STATELESS codegen expression, so the streaming operator is
    the batch expression verbatim — this mirror runs it through the
    streaming entry point on two micro-batch halves (even/odd ids) and
    reports per-batch cluster counts. True-streaming execution is
    pinned by tests/test_clustering.py's availableNow run."""
    from pipelinedp_spark.operators import clustering
    from pipelinedp_spark.streaming.dp_streaming import (
        streaming_cluster_assign)
    emb = _t(spark, sf_dir, "embeddings")
    cents, _ = clustering.kmeans_fit(emb, k=8, iters=2)
    asg = streaming_cluster_assign(emb, cents)
    return (asg.groupBy((F.col("vec_id") % 2).cast("long").alias("batch"),
                        "cluster")
            .agg(F.count(F.lit(1)).alias("n")))

def _gen_stream_cluster_sql(k: int = 8, iters: int = 2,
                            q: int = 1 << 20) -> str:
    sql = _gen_kmeans_prefix(k, iters, q)
    sql += f""",
af AS (
  SELECT vec_id, cluster FROM (
    SELECT d.vec_id, c.cluster,
           ROW_NUMBER() OVER (
             PARTITION BY d.vec_id
             ORDER BY list_dot_product(d.vdd, c.cent)
                      - 0.5 * list_dot_product(c.cent, c.cent) DESC,
                      c.cluster ASC) AS rn
    FROM vd d CROSS JOIN c{iters} c) WHERE rn = 1)
SELECT CAST(vec_id % 2 AS BIGINT) AS batch,
       CAST(cluster AS BIGINT) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n
FROM af GROUP BY 1, 2
"""
    return sql

def _emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training data prep (`similarity.hard_negatives`):
    top-5 nearest different-label rows per anchor — the label filter
    runs before scoring so same-label pairs never cost a cosine."""
    from pipelinedp_spark.operators import similarity
    emb = _t(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec"),
                 F.col("label").alias("query_label")))
    return similarity.hard_negatives(emb, q, k=5)

_EMB_HARD_NEGATIVES_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS ql
  FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_dot_product(e.embedding::DOUBLE[], q.qv) /
         (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                e.embedding::DOUBLE[]))
          * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.label <> q.ql),
ranked AS (
  SELECT query_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank,
         cosine
  FROM scored)
SELECT query_id, vec_id, rank, ROUND(cosine, 6) AS cosine
FROM ranked WHERE rank <= 5
"""

def _emb_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality audit: per k-means cluster, its size, majority
    label, and purity (majority share). Reuses
    `streaming_cluster_assign` on the batch frame (stateless codegen —
    no join to re-attach labels) + one two-level agg with a
    max(struct) argmax, no windows."""
    from pipelinedp_spark.operators import clustering
    from pipelinedp_spark.streaming.dp_streaming import (
        streaming_cluster_assign)
    emb = _t(spark, sf_dir, "embeddings")
    cents, _ = clustering.kmeans_fit(emb, k=8, iters=2)
    asg = streaming_cluster_assign(emb, cents)
    cnt = (asg.groupBy("cluster", F.col("label").cast("long")
                       .alias("label"))
           .agg(F.count(F.lit(1)).alias("c")))
    return (cnt.groupBy("cluster")
            .agg(F.sum("c").alias("n"),
                 F.max(F.struct(F.col("c"), (-F.col("label"))
                                .alias("nl"))).alias("_m"))
            .select("cluster", "n",
                    (-F.col("_m.nl")).alias("top_label"),
                    F.round(F.col("_m.c") / F.col("n"), 6)
                    .alias("purity")))

def _gen_cluster_purity_sql(k: int = 8, iters: int = 2,
                            q: int = 1 << 20) -> str:
    sql = _gen_kmeans_prefix(k, iters, q)
    sql += f""",
af AS (
  SELECT vec_id, cluster FROM (
    SELECT d.vec_id, c.cluster,
           ROW_NUMBER() OVER (
             PARTITION BY d.vec_id
             ORDER BY list_dot_product(d.vdd, c.cent)
                      - 0.5 * list_dot_product(c.cent, c.cent) DESC,
                      c.cluster ASC) AS rn
    FROM vd d CROSS JOIN c{iters} c) WHERE rn = 1),
lab AS (
  SELECT af.cluster, CAST(e.label AS BIGINT) AS label
  FROM af JOIN embeddings e USING (vec_id)),
cnt AS (SELECT cluster, label, COUNT(*) AS c FROM lab GROUP BY 1, 2),
top AS (
  SELECT cluster, label AS top_label, c FROM cnt
  QUALIFY ROW_NUMBER() OVER (PARTITION BY cluster
                             ORDER BY c DESC, label ASC) = 1),
tot AS (SELECT cluster, SUM(c) AS n FROM cnt GROUP BY 1)
SELECT CAST(t.cluster AS BIGINT) AS cluster,
       CAST(tot.n AS BIGINT) AS n,
       CAST(t.top_label AS BIGINT) AS top_label,
       ROUND(t.c / tot.n, 6) AS purity
FROM top t JOIN tot USING (cluster)
"""
    return sql

def _emb_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet-loss training rows (`similarity.mine_triplets`):
    rank-aligned same-label positives and different-label hard
    negatives with the training margin."""
    from pipelinedp_spark.operators import similarity
    emb = _t(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec"),
                 F.col("label").alias("query_label")))
    return similarity.mine_triplets(emb, q, k=3)

_EMB_TRIPLETS_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS ql
  FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, q.ql, e.vec_id, e.label,
         list_dot_product(e.embedding::DOUBLE[], q.qv) /
         (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                e.embedding::DOUBLE[]))
          * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
  FROM embeddings e CROSS JOIN q),
pos AS (
  SELECT query_id, vec_id AS pos_id, cosine AS pc,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored WHERE label = ql AND vec_id <> query_id),
neg AS (
  SELECT query_id, vec_id AS neg_id, cosine AS nc,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored WHERE label <> ql)
SELECT p.query_id, p.rank, p.pos_id, n.neg_id,
       ROUND(ROUND(p.pc, 6) - ROUND(n.nc, 6), 6) AS margin
FROM pos p JOIN neg n USING (query_id, rank)
WHERE p.rank <= 3 AND n.rank <= 3
"""

def _dp_cluster_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP + clustering integration: differentially-private release of
    k-means topic sizes (privacy unit = vector id; each id contributes
    to exactly its one cluster, so L0 = Linf = 1). Public partitions =
    the k cluster ids (data-independent), zero-noise mode for the
    oracle. The DP layer runs on the codegen assignment column — no
    extra scan beyond the fit."""
    from pipelinedp_spark.operators import clustering
    emb = _t(spark, sf_dir, "embeddings")
    cents, _ = clustering.kmeans_fit(emb, k=8, iters=2)
    asg = clustering.kmeans_assign(emb, cents)
    query = (pds.QueryBuilder(asg, "vec_id")
             .groupby("cluster", max_groups_contributed=1,
                      max_contributions_per_group=1,
                      public_keys=list(range(8)))
             .count()
             .build_query())
    return query.run_query(pds.Budget(1.0, 1e-6), noise_mode="zero")

def _gen_dp_cluster_counts_sql(k: int = 8, iters: int = 2,
                               q: int = 1 << 20) -> str:
    sql = _gen_kmeans_prefix(k, iters, q)
    sql += f""",
af AS (
  SELECT vec_id, cluster FROM (
    SELECT d.vec_id, c.cluster,
           ROW_NUMBER() OVER (
             PARTITION BY d.vec_id
             ORDER BY list_dot_product(d.vdd, c.cent)
                      - 0.5 * list_dot_product(c.cent, c.cent) DESC,
                      c.cluster ASC) AS rn
    FROM vd d CROSS JOIN c{iters} c) WHERE rn = 1),
pub AS (SELECT UNNEST(range({k})) AS cluster),
agg AS (SELECT cluster, CAST(COUNT(*) AS DOUBLE) AS count
        FROM af GROUP BY 1)
SELECT CAST(pub.cluster AS BIGINT) AS cluster,
       COALESCE(agg.count, 0.0) AS count
FROM pub LEFT JOIN agg USING (cluster)
"""
    return sql

def _emb_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality gate for int8 quantization: top-10 neighbors
    computed on dequantized vectors vs the exact top-10, per query —
    the acceptance metric before swapping a 4x-smaller index in.
    Codegen fold cosine on BOTH rankings (bit-identical to the SQL
    mirror's list_dot_product)."""
    from pyspark.sql import Window

    from pipelinedp_spark.functions import embeddings as EMB
    from pipelinedp_spark.operators.similarity import cosine_expr
    emb = _t(spark, sf_dir, "embeddings")
    params = EMB.int8_quantize_params(emb, "embedding")

    def deq(col):
        return EMB.int8_dequantize_expr(
            EMB.int8_quantize_expr(col, params), params)

    base = emb.select("vec_id",
                      F.col("embedding").cast("array<double>").alias("ev"),
                      deq(F.col("embedding")).alias("dv"))
    q = (base.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("ev").alias("qe"), F.col("dv").alias("qd")))
    scored = (base.crossJoin(F.broadcast(q))
              .select("query_id", "vec_id",
                      cosine_expr(F.col("ev"), F.col("qe")).alias("ce"),
                      cosine_expr(F.col("dv"), F.col("qd")).alias("cd")))
    we = Window.partitionBy("query_id").orderBy(F.col("ce").desc(),
                                                F.col("vec_id").asc())
    wd = Window.partitionBy("query_id").orderBy(F.col("cd").desc(),
                                                F.col("vec_id").asc())
    te = (scored.withColumn("r", F.row_number().over(we))
          .filter(F.col("r") <= 10).select("query_id", "vec_id"))
    td = (scored.withColumn("r", F.row_number().over(wd))
          .filter(F.col("r") <= 10).select("query_id", "vec_id"))
    hit = te.join(td, ["query_id", "vec_id"])
    return (q.select("query_id")
            .join(hit.groupBy("query_id")
                  .agg(F.count(F.lit(1)).alias("n_overlap")),
                  "query_id", "left")
            .select("query_id",
                    F.coalesce(F.col("n_overlap"), F.lit(0))
                    .cast("long").alias("n_overlap"))
            .withColumn("recall",
                        F.round(F.col("n_overlap") / F.lit(10), 6)))

_EMB_INT8_RECALL_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
ex AS (
  SELECT vec_id, UNNEST(e) AS x,
         generate_subscripts(e, 1) - 1 AS pos
  FROM v),
mm AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx,
              (MAX(x) - MIN(x)) / 255.0 AS sc
       FROM ex GROUP BY 1),
qz AS (
  SELECT e.vec_id, e.pos,
         (CASE WHEN m.sc > 0
               THEN floor((e.x - m.mn) / m.sc + 0.5) ELSE 0 END - 128)
             AS code,
         m.mn, m.sc
  FROM ex e JOIN mm m USING (pos)),
dq AS (
  SELECT vec_id,
         list((code + 128) * sc + mn ORDER BY pos) AS d
  FROM qz GROUP BY vec_id),
b AS (SELECT v.vec_id, v.e, dq.d FROM v JOIN dq USING (vec_id)),
q AS (SELECT vec_id AS query_id, e AS qe, d AS qd FROM b
      WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, b.vec_id,
         list_dot_product(b.e, q.qe)
           / (sqrt(list_dot_product(b.e, b.e))
              * sqrt(list_dot_product(q.qe, q.qe))) AS ce,
         list_dot_product(b.d, q.qd)
           / (sqrt(list_dot_product(b.d, b.d))
              * sqrt(list_dot_product(q.qd, q.qd))) AS cd
  FROM b CROSS JOIN q),
te AS (SELECT query_id, vec_id FROM (
         SELECT query_id, vec_id,
                ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY ce DESC, vec_id ASC) AS r
         FROM scored) WHERE r <= 10),
td AS (SELECT query_id, vec_id FROM (
         SELECT query_id, vec_id,
                ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cd DESC, vec_id ASC) AS r
         FROM scored) WHERE r <= 10),
hit AS (
  SELECT te.query_id, COUNT(*) AS n_overlap
  FROM te JOIN td USING (query_id, vec_id) GROUP BY 1)
SELECT q.query_id,
       CAST(COALESCE(hit.n_overlap, 0) AS BIGINT) AS n_overlap,
       ROUND(COALESCE(hit.n_overlap, 0) / 10, 6) AS recall
FROM q LEFT JOIN hit USING (query_id)
"""

def _emb_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified retrieval (`similarity.mmr_rerank`): greedy MMR over
    a 20-candidate exact shortlist, lam = 0.5. Oracle = the greedy
    trace unrolled into one CTE pair per selection step (the Lloyd
    unroll discipline: 6dp-rounded inputs, exact literals, lowest-id
    ties)."""
    from pipelinedp_spark.operators import similarity
    emb = _t(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    return similarity.mmr_rerank(emb, q, k=5, shortlist=20, lam=0.5)

def _gen_mmr_sql(k: int = 5, shortlist: int = 20) -> str:
    sql = f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 5),
allsc AS (
  SELECT q.query_id, b.vec_id,
         list_dot_product(b.v, q.qv) /
         (sqrt(list_dot_product(b.v, b.v))
          * sqrt(list_dot_product(q.qv, q.qv))) AS c
  FROM base b CROSS JOIN q),
cand AS (
  SELECT query_id, vec_id, ROUND(c, 6) AS rel FROM (
    SELECT query_id, vec_id, c,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY c DESC, vec_id ASC) AS r
    FROM allsc) WHERE r <= {shortlist}),
sim AS (
  SELECT a.query_id, a.vec_id AS sa, b2.vec_id AS sb,
         ROUND(list_dot_product(va.v, vb.v) /
               (sqrt(list_dot_product(va.v, va.v))
                * sqrt(list_dot_product(vb.v, vb.v))), 6) AS s
  FROM cand a
  JOIN cand b2 USING (query_id)
  JOIN base va ON va.vec_id = a.vec_id
  JOIN base vb ON vb.vec_id = b2.vec_id
  WHERE a.vec_id <> b2.vec_id),
sel1 AS (
  SELECT query_id, vec_id, 1 AS mmr_rank, rel FROM (
    SELECT query_id, vec_id, rel,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY rel DESC, vec_id ASC) AS r
    FROM cand) WHERE r = 1)"""
    for i in range(2, k + 1):
        sql += f""",
pen{i} AS (
  SELECT c.query_id, c.vec_id, c.rel, MAX(sim.s) AS pen
  FROM cand c
  JOIN sim ON sim.query_id = c.query_id AND sim.sa = c.vec_id
  JOIN sel{i - 1} s ON s.query_id = sim.query_id
                   AND s.vec_id = sim.sb
  WHERE NOT EXISTS (SELECT 1 FROM sel{i - 1} x
                    WHERE x.query_id = c.query_id
                      AND x.vec_id = c.vec_id)
  GROUP BY 1, 2, 3),
pick{i} AS (
  SELECT query_id, vec_id, {i} AS mmr_rank, rel FROM (
    SELECT query_id, vec_id, rel,
           ROW_NUMBER() OVER (
             PARTITION BY query_id
             ORDER BY 0.5 * rel - 0.5 * pen DESC, vec_id ASC) AS r
    FROM pen{i}) WHERE r = 1),
sel{i} AS (SELECT * FROM sel{i - 1}
           UNION ALL SELECT * FROM pick{i})"""
    sql += f"""
SELECT query_id, vec_id, CAST(mmr_rank AS BIGINT) AS mmr_rank,
       rel AS relevance
FROM sel{k}
"""
    return sql

def _events_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity + distinct-l-diversity audit over events
    (`anonymity.k_anonymity_report` / `l_diversity_report` combined):
    quasi-identifiers = (event_type, value generalized to width-5
    buckets, hour of day), sensitive attribute = user_id. One
    combinable aggregate on the quasi tuple — the audit every release
    pipeline runs before handing data to analysts."""
    from pipelinedp_spark.operators.anonymity import (generalize_bucket,
                                                      l_diversity_report)
    ev = _t(spark, sf_dir, "events")
    q = ev.select(
        "event_type", "user_id",
        generalize_bucket(F.col("value"), 5.0).alias("vbucket"),
        ((F.col("ts") / 3600000000).cast("long") % 24).alias("hour"))
    rep = l_diversity_report(q, ["event_type", "vbucket", "hour"],
                             "user_id", l=3)
    return rep.select(
        "event_type", "vbucket", "hour",
        F.col("group_size").cast("long").alias("group_size"),
        F.col("n_sensitive").cast("long").alias("n_users"),
        (F.col("group_size") >= 5).alias("meets_k"),
        F.col("meets_l").alias("meets_l"))

_EVENTS_K_ANONYMITY_SQL = """
SELECT event_type,
       FLOOR(value / 5.0) * 5.0 AS vbucket,
       (epoch_us(ts) // 3600000000) % 24 AS hour,
       CAST(COUNT(*) AS BIGINT) AS group_size,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       COUNT(*) >= 5 AS meets_k,
       COUNT(DISTINCT user_id) >= 3 AS meets_l
FROM events
GROUP BY 1, 2, 3
"""

def _events_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed pseudonymization (`anonymity.pseudonymize`): user ids become
    stable salted-hash surrogates (rotating the salt unlinks releases),
    then a per-surrogate activity rollup proves joins/groupBys still
    work on the pseudonymized table. Map-only hash + one aggregate."""
    from pipelinedp_spark.operators.anonymity import pseudonymize
    ev = _t(spark, sf_dir, "events").select("user_id", "value")
    p = pseudonymize(ev, ["user_id"], salt="release-2026-08")
    return (p.groupBy("user_id_pseudo")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.round(F.sum("value"), 6).alias("total_value")))

_EVENTS_PSEUDONYMIZE_SQL = """
SELECT ('0x' || substr(md5('release-2026-08:' || user_id), 1, 15))::BIGINT
           AS user_id_pseudo,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 6) AS total_value
FROM events GROUP BY 1
"""

def _doc_leakage_safe_split(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment
    (`clustering.leakage_safe_split`): the split hashes the SOURCE (the
    same-content grouping), so every doc of a near-dup cluster lands in
    one split — the row-hash alternative silently leaks eval twins into
    train. Output is the per-(source, split) rollup; the oracle
    recomputes the portable-hash bucket arithmetic."""
    from pipelinedp_spark.operators.clustering import leakage_safe_split
    docs = _t(spark, sf_dir, "documents")
    out = leakage_safe_split(docs, "source")
    return (out.groupBy("source", "split")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))

_DOC_LEAKAGE_SPLIT_SQL = """
SELECT source,
       CASE WHEN u < 0.8 THEN 'train'
            WHEN u < 0.9 THEN 'val'
            ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM (SELECT source,
             ('0x' || substr(md5('split:' || source), 1, 15))::BIGINT
             / 1152921504606846976.0 AS u
      FROM documents)
GROUP BY 1, 2
"""

def _events_parse_quarantine(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Ingestion-integrity split (`semistructured.parse_with_quarantine`):
    events.props parses against an explicit schema; malformed payloads
    (planted: a leading stray brace when event_id % 13 == 7 — trailing
    junk wouldn't do: Spark's JSON parser ignores it) route to
    quarantine, VALID payloads missing the key (planted '{"other": 1}'
    when event_id % 17 == 3) stay good with a NULL field — never silent
    NULLs from corruption, never a killed job. One lazy parse shared by
    both routes; output is the per-route rollup."""
    from pipelinedp_spark.functions.semistructured import (
        parse_with_quarantine)
    ev = _t(spark, sf_dir, "events").select("event_id", "props")
    planted = ev.withColumn(
        "props",
        F.when(F.col("event_id") % 13 == 7,
               F.concat(F.lit("{"), F.col("props")))
        .when(F.col("event_id") % 17 == 3, F.lit('{"other": 1}'))
        .otherwise(F.col("props")))
    good, bad = parse_with_quarantine(planted, "props", "k INT")
    g = good.select(
        F.lit("good").alias("route"),
        F.col("parsed.k").isNull().cast("long").alias("null_k"),
        F.coalesce(F.col("parsed.k"), F.lit(0)).cast("long").alias("k"))
    b = bad.select(F.lit("quarantine").alias("route"),
                   F.lit(0).cast("long").alias("null_k"),
                   F.lit(0).cast("long").alias("k"))
    return (g.unionByName(b).groupBy("route")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum("null_k").cast("long").alias("n_null_k"),
                 F.sum("k").cast("long").alias("sum_k")))

_EVENTS_PARSE_QUARANTINE_SQL = """
WITH planted AS (
  SELECT event_id,
         CASE WHEN event_id % 13 = 7 THEN '{' || props
              WHEN event_id % 17 = 3 THEN '{"other": 1}'
              ELSE props END AS props
  FROM events),
routed AS (
  SELECT CASE WHEN props IS NOT NULL AND NOT json_valid(props)
              THEN 'quarantine' ELSE 'good' END AS route,
         CASE WHEN json_valid(props)
              THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
              ELSE NULL END AS k
  FROM planted)
SELECT route,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN route = 'good' AND k IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_null_k,
       CAST(COALESCE(SUM(CASE WHEN route = 'good' THEN k END), 0)
            AS BIGINT) AS sum_k
FROM routed GROUP BY 1
"""

def _events_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit skew-salted join (`skew.salted_join`): events (hot on
    the handful of event types) join a small weight dim, salt factor 8
    spread via the deterministic event_id hash — semantically identical
    to the plain join, which is exactly what the oracle runs. Output is
    the weighted per-type rollup."""
    from pipelinedp_spark.operators.skew import salted_join
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type",
                                            "value")
    dim = spark.sql(
        "SELECT * FROM VALUES ('click', 10), ('view', 1), "
        "('purchase', 100), ('error', 0), ('signup', 50) "
        "AS t(event_type, weight)")
    j = salted_join(ev, dim, ["event_type"], factor=8,
                    salt_src="event_id")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return (j.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum(F.col("weight").cast("long")).alias("w_total"),
                 F.sum(cents * F.col("weight").cast("long"))
                 .alias("weighted_cents")))

_EVENTS_SALTED_JOIN_SQL = """
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(d.weight) AS BIGINT) AS w_total,
       CAST(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT) * d.weight)
            AS BIGINT) AS weighted_cents
FROM events e
JOIN (VALUES ('click', 10), ('view', 1), ('purchase', 100),
             ('error', 0), ('signup', 50)) AS d(event_type, weight)
  ON e.event_type = d.event_type
GROUP BY 1
"""

def _tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary (adapted to this generator's schema) —
    the canonical scan-heavy aggregate proving the relational path:
    one parquet scan with the shipdate filter pushed down, one
    map-side-combinable groupBy over 6 keys. Money stays EXACT: prices
    as integer cents, discount/tax as basis points, the discounted and
    charged amounts as per-row integer products (one deterministic
    integer DIV rescale), so distributed partial sums are
    order-independent and the oracle hash-matches bit-for-bit."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date") <= F.lit("1998-06-30"))
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))         .cast("long")
    d_bp = F.floor(F.col("l_discount") * 10000 + F.lit(0.5)).cast("long")
    t_bp = F.floor(F.col("l_tax") * 10000 + F.lit(0.5)).cast("long")
    qty = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
    disc_u = cents * (F.lit(10000) - d_bp)          # 1e-6 dollars
    charge_u = F.expr(
        "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) "
        "* (10000 - CAST(FLOOR(l_discount * 10000 + 0.5) AS BIGINT)) "
        "* (10000 + CAST(FLOOR(l_tax * 10000 + 0.5) AS BIGINT)) "
        "DIV 10000")                                # 1e-6 dollars
    agg = (li.groupBy("l_returnflag", "l_linestatus")
           .agg(F.sum(qty).alias("sum_qty"),
                F.sum(cents).alias("sum_base_cents"),
                F.sum(disc_u).alias("sum_disc_micro"),
                F.sum(charge_u).alias("sum_charge_micro"),
                F.sum(d_bp).alias("__dbp__"),
                F.count(F.lit(1)).alias("n_rows")))
    return agg.select(
        "l_returnflag", "l_linestatus", "sum_qty", "sum_base_cents",
        "sum_disc_micro", "sum_charge_micro", "n_rows",
        F.round(F.col("sum_qty") / F.col("n_rows"), 6).alias("avg_qty"),
        F.round((F.col("sum_base_cents") / F.lit(100.0))
                / F.col("n_rows"), 6).alias("avg_price"),
        F.round((F.col("__dbp__") / F.lit(10000.0))
                / F.col("n_rows"), 6).alias("avg_disc"))

_TPCH_Q1_SQL = """
WITH base AS (
  SELECT l_returnflag, l_linestatus,
         CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS qty,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(FLOOR(l_discount * 10000 + 0.5) AS BIGINT) AS d_bp,
         CAST(FLOOR(l_tax * 10000 + 0.5) AS BIGINT) AS t_bp
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) <= DATE '1998-06-30')
SELECT l_returnflag, l_linestatus,
       CAST(SUM(qty) AS BIGINT) AS sum_qty,
       CAST(SUM(cents) AS BIGINT) AS sum_base_cents,
       CAST(SUM(cents * (10000 - d_bp)) AS BIGINT) AS sum_disc_micro,
       CAST(SUM(cents * (10000 - d_bp) * (10000 + t_bp) // 10000)
            AS BIGINT) AS sum_charge_micro,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(SUM(qty) / COUNT(*), 6) AS avg_qty,
       ROUND((SUM(cents) / 100.0) / COUNT(*), 6) AS avg_price,
       ROUND((SUM(d_bp) / 10000.0) / COUNT(*), 6) AS avg_disc
FROM base GROUP BY 1, 2
"""

def _tpch_q3_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping-priority (adapted): BUILDING-segment customers,
    orders placed before the cutoff, lineitems shipped after it; top-10
    orders by discounted revenue. The customer dim filters to ~1/5 of a
    small table and must BROADCAST into the orders join; the top-10 is
    TakeOrderedAndProject, never a global sort. Revenue in exact
    integer micro-dollars; deterministic (revenue DESC, orderkey ASC)
    tie-break."""
    cutoff = "1998-06-30"
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date") < F.lit(cutoff)).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date") > F.lit(cutoff)).select(
        "l_orderkey",
        (F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
         .cast("long")
         * (F.lit(10000)
            - F.floor(F.col("l_discount") * 10000 + F.lit(0.5))
            .cast("long"))).alias("rev_u"))
    j = (li.join(orders.join(F.broadcast(cust),
                             orders.o_custkey == cust.c_custkey),
                 li.l_orderkey == orders.o_orderkey)
         .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
         .agg(F.sum("rev_u").alias("revenue_micro")))
    return (j.select(
        F.col("l_orderkey").alias("orderkey"),
        F.date_format(F.col("o_orderdate"), "yyyy-MM-dd")
        .alias("orderdate"),
        F.col("o_orderpriority").alias("priority"),
        "revenue_micro")
        .orderBy(F.col("revenue_micro").desc(), F.col("orderkey").asc())
        .limit(10))

_TPCH_Q3_SQL = """
SELECT l.l_orderkey AS orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       o.o_orderpriority AS priority,
       CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                * (10000 - CAST(FLOOR(l.l_discount * 10000 + 0.5)
                                AS BIGINT))) AS BIGINT) AS revenue_micro
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND CAST(o.o_orderdate AS DATE) < DATE '1998-06-30'
  AND CAST(l.l_shipdate AS DATE) > DATE '1998-06-30'
GROUP BY 1, 2, 3
ORDER BY revenue_micro DESC, orderkey ASC
LIMIT 10
"""

def _events_rolling_features(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Per-user rolling 1-hour activity features (count + exact-cents
    value sum) via a RANGE-frame window over the event time — the
    time-series feature-engineering primitive (fraud/abuse velocity
    counters, engagement features). RANGE (not ROWS) so ts ties are
    frame-stable: the result is deterministic under any partition
    layout. One shuffle on user_id; window state is one open frame per
    user."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    w = (Window.partitionBy("user_id").orderBy("ts")
         .rangeBetween(-3600000000, 0))
    return ev.select(
        "event_id", "user_id",
        F.count(F.lit(1)).over(w).cast("long").alias("n_1h"),
        F.sum(cents).over(w).cast("long").alias("cents_1h"))

_EVENTS_ROLLING_SQL = """
SELECT event_id, user_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER w
            AS BIGINT) AS cents_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""

def _doc_exact_substr_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Lee et al. ExactSubstr DEDUP pipeline composed end to
    end: character-level exact duplicated-span detection
    (`dedup.duplicate_spans_exact`) followed by the surgical text
    splice (`dedup.cut_spans`) — every duplicated run of >= 64 chars
    is removed from all but its globally-first occurrence and the
    corpus text is rebuilt. Output is the per-doc scrub record."""
    from pipelinedp_spark.operators import dedup
    docs = _t(spark, sf_dir, "documents")
    spans = dedup.duplicate_spans_exact(docs, min_len=64)
    out = dedup.cut_spans(docs, spans)
    return out.select("doc_id",
                      F.md5(F.col("clean_text")).alias("clean_md5"),
                      "n_spans", "n_cut_chars")

_DOC_EXACT_SUBSTR_CUT_SQL = """
WITH pos AS (
  SELECT doc_id, unnest(range(0, length(text) - 64 + 1)) AS p, text AS t
  FROM documents WHERE length(text) >= 64),
h AS (
  SELECT doc_id, CAST(p AS BIGINT) AS p,
         md5(substr(t, CAST(p AS INTEGER) + 1, 64)) AS h
  FROM pos),
firsts AS (
  SELECT h, COUNT(*) AS n, MIN(doc_id * 1073741824 + p) AS fk
  FROM h GROUP BY h),
marked AS (
  SELECT doc_id, p FROM h JOIN firsts USING (h)
  WHERE n >= 2 AND doc_id * 1073741824 + p <> fk),
iv AS (SELECT doc_id, p AS start, p + 64 AS "end" FROM marked),
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
  SELECT doc_id, list({'s': s, 'e': e} ORDER BY s) AS sp
  FROM spans GROUP BY doc_id),
cutdoc AS (
  SELECT d.doc_id, d.text AS t, COALESCE(p.sp, []) AS sp
  FROM documents d LEFT JOIN packed p USING (doc_id)),
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

def _tpch_q5_local_supplier(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """TPC-H Q5 local-supplier revenue (adapted): per-nation revenue in
    one region where the supplying and ordering nations coincide. The
    snowflake dims (region -> nation, supplier) BROADCAST down the
    chain; the only corpus-scale shuffles are lineitem x orders and the
    final six-key aggregate. Revenue in exact integer micro-dollars."""
    nat = (_t(spark, sf_dir, "nation")
           .join(F.broadcast(_t(spark, sf_dir, "region")
                             .filter(F.col("r_name") == "ASIA")),
                 F.col("n_regionkey") == F.col("r_regionkey"))
           .select("n_nationkey", "n_name"))
    sup = (_t(spark, sf_dir, "supplier")
           .join(F.broadcast(nat),
                 F.col("s_nationkey") == F.col("n_nationkey"))
           .select("s_suppkey", "s_nationkey", "n_name"))
    cust = _t(spark, sf_dir, "customer").select("c_custkey",
                                                "c_nationkey")
    orders = (_t(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate").cast("date")
                       >= F.lit("1996-01-01"))
                      & (F.col("o_orderdate").cast("date")
                         < F.lit("1998-01-01")))
              .select("o_orderkey", "o_custkey"))
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey",
        (F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
         .cast("long")
         * (F.lit(10000)
            - F.floor(F.col("l_discount") * 10000 + F.lit(0.5))
            .cast("long"))).alias("rev_u"))
    j = (li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
         .join(orders, li.l_orderkey == orders.o_orderkey)
         .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
         .filter(F.col("c_nationkey") == F.col("s_nationkey")))
    return (j.groupBy("n_name")
            .agg(F.sum("rev_u").alias("revenue_micro"),
                 F.count(F.lit(1)).cast("long").alias("n_items")))

_TPCH_Q5_SQL = """
SELECT n.n_name,
       CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                * (10000 - CAST(FLOOR(l.l_discount * 10000 + 0.5)
                                AS BIGINT))) AS BIGINT) AS revenue_micro,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND c.c_nationkey = s.s_nationkey
  AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o.o_orderdate AS DATE) < DATE '1998-01-01'
GROUP BY 1
"""

def _tpch_q18_large_orders(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers), adapted: orders whose total
    lineitem quantity exceeds 150, joined back to customer, global
    top-100 by (totalprice desc, orderdate, orderkey — fully
    deterministic tie-break). The skew-heavy relational shape: the
    HAVING subquery is a map-side-combinable aggregate over the hot
    l_orderkey (a popular order's lines partial-combine before the
    exchange, so no single task serializes a hot key), the qualifying
    set semi-joins lineitem (AQE can skew-split it), customer
    broadcasts, and the top-100 compiles to TakeOrderedAndProject —
    never a global sort. Money exact as integer cents."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    qty = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(qty).alias("total_qty"))
           .filter(F.col("total_qty") > 150))
    tp_cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)) \
        .cast("long")
    out = (orders.join(big, orders["o_orderkey"] == big["l_orderkey"])
           .join(F.broadcast(cust),
                 orders["o_custkey"] == cust["c_custkey"])
           .select("c_name", "c_custkey", "o_orderkey",
                   F.col("o_orderdate").cast("string")
                   .alias("o_orderdate"),
                   tp_cents.alias("totalprice_cents"), "total_qty"))
    return (out.orderBy(F.col("totalprice_cents").desc(),
                        "o_orderdate", "o_orderkey")
            .limit(100))

_TPCH_Q18_SQL = """
WITH big AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
             AS total_qty
  FROM lineitem
  GROUP BY 1
  HAVING SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) > 150)
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       CAST(o.o_orderdate AS VARCHAR) AS o_orderdate,
       CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)
           AS totalprice_cents,
       b.total_qty
FROM orders o
JOIN big b ON o.o_orderkey = b.l_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY totalprice_cents DESC, o_orderdate, o.o_orderkey
LIMIT 100
"""

def _tpch_q10_returned_items(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting), adapted: revenue lost to
    returned lineitems ('R' returnflag) over one quarter, grouped by
    customer with nation attached, top-20 by revenue. Plan posture:
    both date bounds and the returnflag filter push into the scans,
    customer and nation broadcast (dim lookups never shuffle the fact
    side), revenue is the exact integer micro-dollar product (cents x
    basis points), and the top-20 compiles to TakeOrderedAndProject
    with a fully deterministic (revenue desc, custkey) tie-break."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate").cast("date") < F.lit("1997-04-01")))
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    rev_u = F.expr(
        "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) "
        "* (10000 - CAST(FLOOR(l_discount * 10000 + 0.5) AS BIGINT))")
    agg = (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
           .join(F.broadcast(cust),
                 orders["o_custkey"] == cust["c_custkey"])
           .join(F.broadcast(nation),
                 cust["c_nationkey"] == nation["n_nationkey"])
           .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
           .agg(F.sum(rev_u).alias("revenue_micro"),
                F.count(F.lit(1)).alias("n_items")))
    return (agg.select("c_custkey", "c_name",
                       F.round("c_acctbal", 2).alias("c_acctbal"),
                       "n_name", "revenue_micro", "n_items")
            .orderBy(F.col("revenue_micro").desc(), "c_custkey")
            .limit(20))

_TPCH_Q10_SQL = """
SELECT c.c_custkey, c.c_name, ROUND(c.c_acctbal, 2) AS c_acctbal,
       n.n_name,
       CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                * (10000 - CAST(FLOOR(l.l_discount * 10000 + 0.5)
                                AS BIGINT))) AS BIGINT) AS revenue_micro,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
  AND CAST(o.o_orderdate AS DATE) < DATE '1997-04-01'
GROUP BY 1, 2, 3, 4
ORDER BY revenue_micro DESC, c_custkey
LIMIT 20
"""

def _tpch_q16_supplier_variety(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship), adapted to this
    generator (lineitem's part-supplier edges stand in for partsupp):
    distinct supplier count per (brand, type, size) for parts outside
    an excluded brand and type, top-40. The COUNT DISTINCT workhorse:
    the edge set dedupes FIRST (one (part,supp) row regardless of how
    many lineitems share it — partial-combinable), the filtered part
    dim broadcasts with both predicates pushed to its scan, and the
    top-40 is TakeOrderedAndProject with full tie-break."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#9")
        & (~F.col("p_type").startswith("PROMO")))
    edges = li.select("l_partkey", "l_suppkey").distinct()
    agg = (edges.join(F.broadcast(part),
                      edges["l_partkey"] == part["p_partkey"])
           .groupBy("p_brand", "p_type", "p_size")
           .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))
    return (agg.orderBy(F.col("supplier_cnt").desc(), "p_brand",
                        "p_type", "p_size")
            .limit(40))

_TPCH_Q16_SQL = """
WITH edges AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(COUNT(DISTINCT e.l_suppkey) AS BIGINT) AS supplier_cnt
FROM edges e
JOIN part p ON e.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#9'
  AND p.p_type NOT LIKE 'PROMO%'
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 40
"""

def _tpch_q4_priority_wait(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking), adapted to this generator
    (no commit/receipt dates, so "late" is a lineitem shipped more
    than 60 days after the order date): orders placed in one quarter
    count per priority iff at least one of their lines shipped late.
    The EXISTS shape compiles to a LEFT SEMI join — the equi-key is
    l_orderkey and the lateness predicate rides along as the join
    residual, so an order with a thousand lines contributes ONE probe
    hit, never a thousand joined rows to re-dedup. The quarter bound
    pushes into the orders scan; the count per priority is a
    five-group aggregate over the semi-join survivors."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate").cast("date") < F.lit("1997-04-01")))
    late = (orders.alias("o")
            .join(li.alias("l"),
                  (F.col("o.o_orderkey") == F.col("l.l_orderkey"))
                  & (F.col("l.l_shipdate")
                     > F.col("o.o_orderdate")
                     + F.expr("INTERVAL 60 DAYS")),
                  "left_semi"))
    return (late.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count"))
            .orderBy("o_orderpriority"))

_TPCH_Q4_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
  AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY 1
ORDER BY 1
"""

def _tpch_q6_forecast_revenue(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): revenue that would have
    been kept had discounts in a band been eliminated — one year of
    shipments, discount in [0.05, 0.07], quantity under 24. The
    whole-stage-codegen baseline: every predicate pushes into the
    parquet scan (`PushedFilters` carries all four bounds), no join,
    no shuffle beyond the single-row final combine. Revenue is exact
    integer micro-dollars (price cents x discount basis points); the
    double literals compare bit-identically in Spark and DuckDB
    because both parse the same decimal text to the same IEEE value
    and compare it against the same stored parquet double."""
    li = _t(spark, sf_dir, "lineitem")
    rev_u = (F.expr("CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)")
             * F.expr("CAST(FLOOR(l_discount * 10000 + 0.5) AS BIGINT)"))
    return (li.filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate").cast("date") < F.lit("1998-01-01"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24))
        .agg(F.sum(rev_u).alias("revenue_micro"),
             F.count(F.lit(1)).alias("n_lines")))

_TPCH_Q6_SQL = """
SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
             * CAST(FLOOR(l_discount * 10000 + 0.5) AS BIGINT))
        AS BIGINT) AS revenue_micro,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
  AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""

def _tpch_q13_order_distribution(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution), adapted (the comment-pattern
    exclusion becomes an order-priority exclusion): how many customers
    placed 0, 1, 2, ... qualifying orders. The outer-join double
    aggregate, done in the scale-right order: qualifying orders
    pre-aggregate to one (custkey, cnt) row BEFORE the outer join —
    map-side combinable, and the join then carries one row per
    customer instead of one per order, so customers-with-many-orders
    never fan out. Customers with no orders surface through the LEFT
    join as cnt NULL -> 0 (the canonical Q13 zero bucket). The second
    aggregate is over at most max-orders-per-customer distinct groups
    — tiny by construction."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT")
    cust = _t(spark, sf_dir, "customer")
    per_cust = (orders.groupBy("o_custkey")
                .agg(F.count(F.lit(1)).alias("cnt")))
    counts = (cust.join(per_cust,
                        cust["c_custkey"] == per_cust["o_custkey"],
                        "left")
              .select(F.coalesce(F.col("cnt"), F.lit(0))
                      .cast("long").alias("c_count")))
    return (counts.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist"))
            .orderBy(F.col("custdist").desc(),
                     F.col("c_count").desc()))

_TPCH_Q13_SQL = """
WITH per_cust AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM orders
  WHERE o_orderpriority <> '1-URGENT'
  GROUP BY 1),
counts AS (
  SELECT COALESCE(p.cnt, 0) AS c_count
  FROM customer c LEFT JOIN per_cust p ON c.c_custkey = p.o_custkey)
SELECT CAST(c_count AS BIGINT) AS c_count,
       CAST(COUNT(*) AS BIGINT) AS custdist
FROM counts
GROUP BY 1
ORDER BY custdist DESC, c_count DESC
"""

def _tpch_q14_promo_revenue(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): one month of shipments, revenue
    split into PROMO-part revenue vs total. Part is the classic
    broadcast dim — the fact side never shuffles; the month bound
    pushes into the lineitem scan. The canonical percentage is a
    division of these two sums, so the exact integers are returned
    instead (promo_rev_micro / total_rev_micro) — the caller divides;
    the engine result stays hash-exact across summation orders."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1997-03-01"))
        & (F.col("l_shipdate").cast("date") < F.lit("1997-04-01")))
    part = _t(spark, sf_dir, "part")
    rev_u = F.expr(
        "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) "
        "* (10000 - CAST(FLOOR(l_discount * 10000 + 0.5) AS BIGINT))")
    return (li.join(F.broadcast(part),
                    li["l_partkey"] == part["p_partkey"])
            .agg(F.sum(F.when(F.col("p_type").startswith("PROMO"),
                              rev_u).otherwise(F.lit(0)))
                 .alias("promo_rev_micro"),
                 F.sum(rev_u).alias("total_rev_micro")))

_TPCH_Q14_SQL = """
SELECT CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                THEN CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                     * (10000 - CAST(FLOOR(l.l_discount * 10000 + 0.5)
                                     AS BIGINT))
                ELSE 0 END) AS BIGINT) AS promo_rev_micro,
       CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                * (10000 - CAST(FLOOR(l.l_discount * 10000 + 0.5)
                                AS BIGINT))) AS BIGINT) AS total_rev_micro
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE CAST(l.l_shipdate AS DATE) >= DATE '1997-03-01'
  AND CAST(l.l_shipdate AS DATE) < DATE '1997-04-01'
"""

def _tpch_q17_small_qty_revenue(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue), adapted (brand filter
    only — this generator has no container column): revenue from
    lineitems whose quantity is below 20% of the part's average
    order quantity, for one brand. The correlated scalar subquery
    decorrelates into a per-part aggregate + self-join, with two
    scale choices that matter: (1) the brand's partkeys broadcast and
    prune the FACT side before anything aggregates, so the per-part
    average is computed over ~4% of lineitem, not all of it (the
    per-part average only needs parts that can qualify); (2) the
    average never materializes as a float — `qty < 0.2 * sum/n`
    rewrites to `5 * qty_cents * n < sum_cents` in exact BIGINT
    arithmetic, immune to summation order. Both the stats build and
    the probe shuffle on l_partkey, so AQE plans one Exchange
    lineage. Single-row result in exact cents."""
    li = _t(spark, sf_dir, "lineitem")
    brand_keys = _t(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#1").select("p_partkey")
    qty_c = F.expr("CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)")
    ext_c = F.expr("CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)")
    li_brand = (li.join(F.broadcast(brand_keys),
                        li["l_partkey"] == F.col("p_partkey"))
                .drop("p_partkey"))
    per_part = (li_brand.groupBy("l_partkey")
                .agg(F.count(F.lit(1)).alias("n_lines_part"),
                     F.sum(qty_c).alias("sum_qty_c")))
    return (li_brand.select("l_partkey", qty_c.alias("qty_c"),
                            ext_c.alias("ext_c"))
            .join(per_part, "l_partkey")
            .filter(F.lit(5) * F.col("qty_c") * F.col("n_lines_part")
                    < F.col("sum_qty_c"))
            .agg(F.count(F.lit(1)).alias("n_small_lines"),
                 F.sum("ext_c").alias("revenue_cents")))

_TPCH_Q17_SQL = """
WITH li_brand AS (
  SELECT l.l_partkey,
         CAST(FLOOR(l.l_quantity * 100 + 0.5) AS BIGINT) AS qty_c,
         CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS ext_c
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand = 'Brand#1'),
per_part AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_lines_part,
         CAST(SUM(qty_c) AS BIGINT) AS sum_qty_c
  FROM li_brand GROUP BY 1)
SELECT CAST(COUNT(*) AS BIGINT) AS n_small_lines,
       CAST(SUM(b.ext_c) AS BIGINT) AS revenue_cents
FROM li_brand b
JOIN per_part pp ON b.l_partkey = pp.l_partkey
WHERE 5 * b.qty_c * pp.n_lines_part < pp.sum_qty_c
"""

def _tpch_q21_waiting_suppliers(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting), adapted ("failed
    to deliver" = a returned 'R' lineitem, since this generator has
    no commit/receipt dates): for finished multi-supplier orders,
    count per supplier (one nation) the orders where THIS supplier
    returned a line and no other supplier did. The canonical
    EXISTS + NOT EXISTS double self-join rewrites Spark-first into
    ONE per-order aggregate — `ns` = distinct suppliers on the order,
    `nr` = distinct suppliers with a returned line — and the pair
    (ns > 1, nr = 1) reproduces both correlated subqueries exactly
    (the sole returning supplier of a multi-supplier order is the
    blamed one). That turns two shuffled self-joins of lineitem into
    one map-side-combinable aggregate plus joins that all share the
    l_orderkey Exchange; supplier and nation broadcast. The blamed
    (order, supplier) pairs dedup before counting so a supplier with
    three returned lines in one order is blamed once."""
    li = _t(spark, sf_dir, "lineitem")
    orders_f = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F").select("o_orderkey")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_9")
    per_order = (li.groupBy("l_orderkey")
                 .agg(F.countDistinct("l_suppkey").alias("ns"),
                      F.countDistinct(
                          F.when(F.col("l_returnflag") == "R",
                                 F.col("l_suppkey"))).alias("nr")))
    blamed = (li.filter(F.col("l_returnflag") == "R")
              .select("l_orderkey", "l_suppkey").distinct()
              .join(orders_f,
                    F.col("l_orderkey") == orders_f["o_orderkey"])
              .join(per_order.filter((F.col("ns") > 1)
                                     & (F.col("nr") == 1)),
                    "l_orderkey"))
    return (blamed.join(F.broadcast(
                supp.join(F.broadcast(nation),
                          supp["s_nationkey"] == nation["n_nationkey"])
                .select("s_suppkey", "s_name")),
                blamed["l_suppkey"] == F.col("s_suppkey"))
            .groupBy("s_name")
            .agg(F.count(F.lit(1)).alias("numwait"))
            .orderBy(F.col("numwait").desc(), "s_name")
            .limit(25))

_TPCH_Q21_SQL = """
WITH per_order AS (
  SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS ns,
         COUNT(DISTINCT CASE WHEN l_returnflag = 'R'
                        THEN l_suppkey END) AS nr
  FROM lineitem GROUP BY 1),
blamed AS (
  SELECT DISTINCT l.l_orderkey, l.l_suppkey
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
                AND o.o_orderstatus = 'F'
  JOIN per_order po ON po.l_orderkey = l.l_orderkey
                    AND po.ns > 1 AND po.nr = 1
  WHERE l.l_returnflag = 'R')
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM blamed b
JOIN supplier s ON s.s_suppkey = b.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
             AND n.n_name = 'NATION_9'
GROUP BY 1
ORDER BY numwait DESC, s_name
LIMIT 25
"""

def _doc_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning ruleset (`quality.c4_filter`): docs get deterministic
    line structure (five frequent words become newlines), lines keep
    only if terminal-punctuated with >= 3 words, pages pass on >= 3
    retained sentence marks and no code-brace/lorem-ipsum boilerplate
    (planted by doc_id residue so both doc-level rules fire). Pure
    codegen, no shuffle."""
    from pipelinedp_spark.operators.quality import c4_filter
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.regexp_replace(F.col("text"), " (the|a|data|value|row) ",
                             ".\n"),
            F.when(F.col("doc_id") % 19 == 4,
                   F.lit("\nif (x) { lorem ipsum dolor sit. }"))
            .otherwise(F.lit(""))).alias("text"))
    out = c4_filter(docs)
    return out.select("doc_id", F.md5("clean_text").alias("clean_md5"),
                      "n_lines_kept", "n_lines_total", "n_sentences",
                      "has_bad_substring", "passes")

_DOC_C4_FILTER_SQL = r"""
WITH base AS (
  SELECT doc_id,
         regexp_replace(text, ' (the|a|data|value|row) ', '.
', 'g')
         || CASE WHEN doc_id % 19 = 4
                 THEN '
if (x) { lorem ipsum dolor sit. }'
                 ELSE '' END AS t
  FROM documents),
split AS (
  SELECT doc_id, t, regexp_split_to_array(t, '\r?\n') AS ls FROM base),
kept AS (
  SELECT doc_id, t, len(ls) AS n_total,
         [trim(replace(x, chr(13), '')) for x in ls
          if regexp_matches(trim(x), '[.!?"”’'']$')
             AND len([w for w in string_split(trim(x), ' ')
                      if w <> '']) >= 3] AS kl
  FROM split),
fin AS (
  SELECT doc_id, t, n_total, kl,
         COALESCE(array_to_string(kl, chr(10)), '') AS clean
  FROM kept)
SELECT doc_id,
       md5(clean) AS clean_md5,
       CAST(len(kl) AS BIGINT) AS n_lines_kept,
       CAST(n_total AS BIGINT) AS n_lines_total,
       CAST(len(regexp_extract_all(clean, '[.!?]')) AS BIGINT)
           AS n_sentences,
       (contains(lower(t), 'lorem ipsum') OR contains(lower(t), '{')
        OR contains(lower(t), 'javascript must be enabled'))
           AS has_bad_substring,
       (len(regexp_extract_all(clean, '[.!?]')) >= 3
        AND NOT (contains(lower(t), 'lorem ipsum')
                 OR contains(lower(t), '{')
                 OR contains(lower(t), 'javascript must be enabled')))
           AS passes
FROM fin
"""

def _emb_matryoshka_recall(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Matryoshka-truncation retrieval gate (Kusupati et al. 2022): the
    top-10 cosine neighbors computed on the FIRST 16 of 64 dims vs the
    exact full-dim top-10, per query — the acceptance metric before
    shipping a 4x-cheaper truncated index. Same plan as
    `emb_int8_recall`: broadcast query rows, codegen fold cosines,
    WindowGroupLimit per ranking."""
    from pyspark.sql import Window

    from pipelinedp_spark.operators.similarity import cosine_expr
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("ev"),
        F.slice(F.col("embedding").cast("array<double>"), 1, 16)
        .alias("tv"))
    q = (base.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("ev").alias("qe"), F.col("tv").alias("qt")))
    scored = (base.crossJoin(F.broadcast(q))
              .select("query_id", "vec_id",
                      cosine_expr(F.col("ev"), F.col("qe")).alias("ce"),
                      cosine_expr(F.col("tv"), F.col("qt")).alias("ct")))
    we = Window.partitionBy("query_id").orderBy(F.col("ce").desc(),
                                                F.col("vec_id").asc())
    wt = Window.partitionBy("query_id").orderBy(F.col("ct").desc(),
                                                F.col("vec_id").asc())
    te = (scored.withColumn("r", F.row_number().over(we))
          .filter(F.col("r") <= 10).select("query_id", "vec_id"))
    tt = (scored.withColumn("r", F.row_number().over(wt))
          .filter(F.col("r") <= 10).select("query_id", "vec_id"))
    hit = te.join(tt, ["query_id", "vec_id"])
    return (q.select("query_id")
            .join(hit.groupBy("query_id")
                  .agg(F.count(F.lit(1)).alias("n_overlap")),
                  "query_id", "left")
            .select("query_id",
                    F.coalesce(F.col("n_overlap"), F.lit(0))
                    .cast("long").alias("n_overlap"))
            .withColumn("recall",
                        F.round(F.col("n_overlap") / F.lit(10), 6)))

_EMB_MATRYOSHKA_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                  (embedding::DOUBLE[])[1:16] AS t
           FROM embeddings),
q AS (SELECT vec_id AS query_id, e AS qe, t AS qt FROM v
      WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, v.vec_id,
         ROUND(list_dot_product(v.e, q.qe)
               / (sqrt(list_dot_product(v.e, v.e))
                  * sqrt(list_dot_product(q.qe, q.qe))), 6) AS ce,
         ROUND(list_dot_product(v.t, q.qt)
               / (sqrt(list_dot_product(v.t, v.t))
                  * sqrt(list_dot_product(q.qt, q.qt))), 6) AS ct
  FROM v CROSS JOIN q),
te AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY ce DESC, vec_id ASC) AS r
    FROM scored) WHERE r <= 10),
tt AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY ct DESC, vec_id ASC) AS r
    FROM scored) WHERE r <= 10),
hit AS (
  SELECT te.query_id, COUNT(*) AS n
  FROM te JOIN tt USING (query_id, vec_id) GROUP BY 1)
SELECT q.query_id,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_overlap,
       ROUND(COALESCE(h.n, 0) / 10, 6) AS recall
FROM q LEFT JOIN hit h USING (query_id)
"""

def _doc_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL interchange round-trip (`to_json` -> `from_json`): docs
    serialize to JSON Lines records — the lingua franca of corpus
    releases — and parse back; the check compares a stable digest of
    each reserialized record plus the recovered fields, proving the
    sink/source pair is lossless for the release schema. Pure codegen
    both ways; the oracle reproduces DuckDB-side canonical JSON with
    the same key order."""
    docs = _t(spark, sf_dir, "documents")
    rec = F.to_json(F.struct(
        F.col("doc_id"), F.col("source"),
        F.col("lang"), F.col("text")))
    parsed = F.from_json(
        rec, "doc_id long, source string, lang string, text string")
    return docs.select(
        "doc_id",
        F.md5(rec).alias("record_md5"),
        (parsed["doc_id"] == F.col("doc_id")).alias("id_ok"),
        (parsed["text"] == F.col("text")).alias("text_ok"),
        F.length(rec).cast("long").alias("record_len"))

_DOC_JSONL_SQL = """
WITH rec AS (
  SELECT doc_id,
         '{"doc_id":' || doc_id
         || ',"source":' || to_json(source)
         || ',"lang":' || to_json(lang)
         || ',"text":' || to_json(text) || '}' AS r,
         text
  FROM documents)
SELECT doc_id,
       md5(r) AS record_md5,
       (json_extract_string(r, '$.doc_id')::BIGINT = doc_id) AS id_ok,
       (json_extract_string(r, '$.text') = text) AS text_ok,
       CAST(length(r) AS BIGINT) AS record_len
FROM rec
"""

def _doc_fix_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake repair (`text.fix_mojibake` / `mojibake_count`):
    UTF-8-decoded-as-cp1252 artifacts are planted deterministically
    (in-body accent corruption for doc_id % 5 == 1, an appended
    smart-quote/dash/ellipsis tail for doc_id % 7 == 2), then counted
    and repaired with the longest-first literal-replace chain. Pure
    map stage; the oracle re-runs the identical chain."""
    from pipelinedp_spark.functions.text import (MOJIBAKE_FIXES,
                                                 fix_mojibake,
                                                 mojibake_count)
    acc = MOJIBAKE_FIXES[6][0]       # the e-acute artifact
    tail = (MOJIBAKE_FIXES[1][0] + "quoted" + MOJIBAKE_FIXES[2][0]
            + " " + MOJIBAKE_FIXES[4][0] + " dash"
            + MOJIBAKE_FIXES[5][0])
    docs = _t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 5 == 1,
                   F.replace(F.col("text"), F.lit(" the "),
                             F.lit(" th" + acc + " ")))
            .otherwise(F.col("text")),
            F.when(F.col("doc_id") % 7 == 2,
                   F.lit(" " + tail)).otherwise(F.lit("")))
        .alias("text"))
    t = F.col("text")
    return planted.select(
        "doc_id",
        mojibake_count(t).alias("n_artifacts"),
        F.md5(fix_mojibake(t)).alias("fixed_md5"),
        (fix_mojibake(t) != t).alias("changed"))

def _gen_fix_mojibake_sql() -> str:
    """SQL mirror of `_doc_fix_mojibake`: the artifact table renders as
    a chain of CTEs (cur_k = replace(cur_{k-1}, bad_k, good_k), count
    accumulated per stage) so the longest-first repair order and the
    no-double-count rule replay exactly. Static apart from the
    artifact literals themselves (engine-independent constants)."""
    from pipelinedp_spark.functions.text import MOJIBAKE_FIXES
    acc = MOJIBAKE_FIXES[6][0]
    tail = (MOJIBAKE_FIXES[1][0] + "quoted" + MOJIBAKE_FIXES[2][0]
            + " " + MOJIBAKE_FIXES[4][0] + " dash"
            + MOJIBAKE_FIXES[5][0])
    ctes = [f"""c0 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 1
              THEN replace(text, ' the ', ' th{acc} ')
              ELSE text END
         || CASE WHEN doc_id % 7 = 2 THEN ' {tail}' ELSE '' END AS cur,
         CAST(0 AS BIGINT) AS acc
  FROM documents)"""]
    for i, (bad, good) in enumerate(MOJIBAKE_FIXES, start=1):
        b = bad.replace("'", "''")
        g = good.replace("'", "''")
        ctes.append(f"""c{i} AS (
  SELECT doc_id, replace(cur, '{b}', '{g}') AS cur,
         acc + (length(cur) - length(replace(cur, '{b}', '')))
               // {len(bad)} AS acc
  FROM c{i - 1})""")
    n = len(MOJIBAKE_FIXES)
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT c0.doc_id,
       CAST(c{n}.acc AS BIGINT) AS n_artifacts,
       md5(c{n}.cur) AS fixed_md5,
       (c{n}.cur <> c0.cur) AS changed
FROM c0 JOIN c{n} USING (doc_id)
""")

def _doc_release_manifest(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Per-source release manifest (`release.corpus_manifest`): doc and
    token counts plus an order-insensitive BIT_XOR content checksum
    over (id, text)-binding hashes — the artifact a consumer verifies a
    snapshot against, incremental under single-doc updates. One
    combinable aggregate."""
    from pipelinedp_spark.operators.release import corpus_manifest
    docs = _t(spark, sf_dir, "documents")
    return corpus_manifest(docs, "source")

_DOC_RELEASE_MANIFEST_SQL = """
SELECT source AS "group",
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       BIT_XOR(('0x' || substr(md5(doc_id || ':' || md5(text)), 1, 15))
               ::BIGINT) AS content_xor
FROM documents GROUP BY 1
"""

def _doc_chat_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT chat-template rendering (`chat.render_chat` +
    `chat.conversation_stats`): each document becomes a synthetic
    conversation (its first four sentences as alternating
    user/assistant turns, a system turn planted when doc_id % 3 == 0),
    rendered flat under ChatML with the assistant-content loss-mask
    spans. The oracle reconstructs the rendering and the span
    arithmetic algebraically — every offset is plain string length
    math, so a template drift or an off-by-one in the mask fails the
    hash."""
    from pipelinedp_spark.operators.chat import (conversation_stats,
                                                 render_chat)
    docs = _t(spark, sf_dir, "documents")
    arr = F.regexp_extract_all(F.col("text"),
                               F.lit(r"[^.!?]+[.!?]*"), 0)
    sent = [F.coalesce(F.trim(F.get(arr, i)), F.lit(f"filler {i}"))
            for i in range(4)]
    turn = lambda r, c: F.struct(F.lit(r).alias("role"),
                                 c.alias("content"))
    base = F.array(turn("user", sent[0]), turn("assistant", sent[1]),
                   turn("user", sent[2]), turn("assistant", sent[3]))
    msgs = F.when(F.col("doc_id") % 3 == 0,
                  F.concat(F.array(turn("system", F.lit("be concise"))),
                           base)).otherwise(base)
    conv = docs.select("doc_id", msgs.alias("messages"))
    r = render_chat(conv)
    s = conversation_stats(conv)
    return (r.join(s, "doc_id")
            .select("doc_id", "n_chars",
                    F.md5(F.col("text")).alias("rendered_md5"),
                    F.array_join(
                        F.transform(
                            F.col("assistant_spans"),
                            lambda x: F.concat(x["s"].cast("string"),
                                               F.lit(":"),
                                               x["e"].cast("string"))),
                        ",").alias("spans"),
                    "n_turns", "n_assistant", "alternation_ok",
                    "ends_assistant"))

_DOC_CHAT_RENDER_SQL = """
WITH s AS (
  SELECT doc_id,
         regexp_extract_all(text, '[^.!?]+[.!?]*') AS a,
         doc_id % 3 = 0 AS has_sys
  FROM documents),
c AS (
  SELECT doc_id, has_sys,
         COALESCE(trim(a[1]), 'filler 0') AS c1,
         COALESCE(trim(a[2]), 'filler 1') AS c2,
         COALESCE(trim(a[3]), 'filler 2') AS c3,
         COALESCE(trim(a[4]), 'filler 3') AS c4,
         CASE WHEN doc_id % 3 = 0
              THEN '<|im_start|>system' || chr(10) || 'be concise'
                   || '<|im_end|>' || chr(10) ELSE '' END AS p0
  FROM s),
r AS (
  SELECT doc_id, has_sys, c2, c4, p0,
         p0 || '<|im_start|>user' || chr(10) || c1 || '<|im_end|>'
            || chr(10)
            || '<|im_start|>assistant' || chr(10) || c2 || '<|im_end|>'
            || chr(10)
            || '<|im_start|>user' || chr(10) || c3 || '<|im_end|>'
            || chr(10)
            || '<|im_start|>assistant' || chr(10) || c4 || '<|im_end|>'
            || chr(10) AS txt,
         -- user piece: 12 + 4 + 1 + len(c) + 10 + 1 = 28 + len(c)
         -- assistant header = 12 + 9 + 1 = 22
         length(p0) + 28 + length(c1) + 22 AS a1s
  FROM c),
sp AS (
  SELECT doc_id, has_sys, txt, a1s,
         a1s + length(c2) AS a1e,
         a1s + length(c2) + 11 + 28
             + (SELECT length(cc.c3) FROM c cc
                WHERE cc.doc_id = r.doc_id) + 22 AS a2s,
         length(c4) AS lc4
  FROM r)
SELECT doc_id,
       CAST(length(txt) AS BIGINT) AS n_chars,
       md5(txt) AS rendered_md5,
       a1s::VARCHAR || ':' || a1e::VARCHAR || ','
           || a2s::VARCHAR || ':' || (a2s + lc4)::VARCHAR AS spans,
       CAST(CASE WHEN has_sys THEN 5 ELSE 4 END AS BIGINT) AS n_turns,
       CAST(2 AS BIGINT) AS n_assistant,
       TRUE AS alternation_ok,
       TRUE AS ends_assistant
FROM sp
"""

def _doc_preference_pairs(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """DPO preference-pair construction (`chat.preference_pairs`):
    documents become scored responses to 50 synthetic prompts
    (prompt = doc_id % 50, response = the doc's first sentence,
    score = n_chars % 97, rid = doc_id), pairs = per-prompt argmax vs
    argmin with deterministic tie-breaks and a margin floor. One
    groupBy with two max(struct) argm* folds, no windows."""
    from pipelinedp_spark.operators.chat import preference_pairs
    docs = _t(spark, sf_dir, "documents")
    resp = docs.select(
        F.concat(F.lit("prompt-"),
                 (F.col("doc_id") % 50).cast("string")).alias("prompt"),
        F.trim(F.regexp_extract(F.col("text"),
                                r"[^.!?]+[.!?]*", 0)).alias("response"),
        (F.col("n_chars") % 97).cast("double").alias("score"),
        F.col("doc_id").alias("resp_id"))
    out = preference_pairs(resp, min_margin=2.0)
    return out.select(
        "prompt", F.md5("chosen").alias("chosen_md5"),
        F.md5("rejected").alias("rejected_md5"),
        F.round("chosen_score", 6).alias("chosen_score"),
        F.round("rejected_score", 6).alias("rejected_score"),
        F.round("margin", 6).alias("margin"))

_DOC_PREFERENCE_PAIRS_SQL = """
WITH resp AS (
  SELECT 'prompt-' || (doc_id % 50) AS prompt,
         trim(regexp_extract(text, '[^.!?]+[.!?]*', 0)) AS response,
         CAST(n_chars % 97 AS DOUBLE) AS score,
         doc_id AS rid
  FROM documents),
picked AS (
  SELECT prompt,
         COUNT(*) AS n,
         first(response ORDER BY score DESC, rid ASC) AS chosen,
         first(score ORDER BY score DESC, rid ASC) AS chosen_score,
         first(rid ORDER BY score DESC, rid ASC) AS hi_rid,
         first(response ORDER BY score ASC, rid DESC) AS rejected,
         first(score ORDER BY score ASC, rid DESC) AS rejected_score,
         first(rid ORDER BY score ASC, rid DESC) AS lo_rid
  FROM resp GROUP BY prompt)
SELECT prompt,
       md5(chosen) AS chosen_md5,
       md5(rejected) AS rejected_md5,
       ROUND(chosen_score, 6) AS chosen_score,
       ROUND(rejected_score, 6) AS rejected_score,
       ROUND(chosen_score - rejected_score, 6) AS margin
FROM picked
WHERE n >= 2 AND hi_rid <> lo_rid
  AND chosen_score - rejected_score >= 2.0
"""

def _dedup_lsh_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic MinHash-LSH banding plan grid (the math behind
    `dedup.plan_lsh_params`): for each rows-per-band option, the
    minimal band count meeting 95% recall at threshold 0.8 via the
    closed form b = ceil(ln(1-R) / ln(1-t^r)), with the S-curve recall
    and the false-candidate rate at background similarity 0.2; the
    selected row minimizes (num_hashes, fp, bands). Pure arithmetic —
    no table scan at all — kept as an oracle query because the planner
    must agree with any engine that re-derives it."""
    t, R, bg = 0.8, 0.95, 0.2
    rows = spark.sql(
        "SELECT col1 AS r FROM VALUES (2), (3), (4), (5), (6), (8)")
    b = F.ceil(F.log(F.lit(1.0) - F.lit(R))
               / F.log(F.lit(1.0) - F.pow(F.lit(t), F.col("r"))))
    g = rows.select(
        F.col("r").cast("long").alias("rows_per_band"),
        b.cast("long").alias("bands"))
    g = g.withColumn("num_hashes",
                     (F.col("bands") * F.col("rows_per_band"))
                     .cast("long"))
    recall = (F.lit(1.0) - F.pow(
        F.lit(1.0) - F.pow(F.lit(t), F.col("rows_per_band")),
        F.col("bands")))
    fp = (F.lit(1.0) - F.pow(
        F.lit(1.0) - F.pow(F.lit(bg), F.col("rows_per_band")),
        F.col("bands")))
    g = g.select("rows_per_band", "bands", "num_hashes",
                 F.round(recall, 6).alias("recall"),
                 F.round(fp, 6).alias("fp_rate"))
    from pyspark.sql import Window
    w = Window.orderBy("num_hashes", "fp_rate", "bands")
    return (g.withColumn("selected", F.row_number().over(w) == 1)
            .select("rows_per_band", "bands", "num_hashes", "recall",
                    "fp_rate", "selected"))

_DEDUP_LSH_PLAN_SQL = """
WITH g AS (
  SELECT CAST(r AS BIGINT) AS rows_per_band,
         CAST(CEIL(LN(1.0 - 0.95) / LN(1.0 - POW(0.8, r))) AS BIGINT)
             AS bands
  FROM (VALUES (2), (3), (4), (5), (6), (8)) AS t(r)),
e AS (
  SELECT rows_per_band, bands,
         CAST(bands * rows_per_band AS BIGINT) AS num_hashes,
         ROUND(1.0 - POW(1.0 - POW(0.8, rows_per_band), bands), 6)
             AS recall,
         ROUND(1.0 - POW(1.0 - POW(0.2, rows_per_band), bands), 6)
             AS fp_rate
  FROM g)
SELECT rows_per_band, bands, num_hashes, recall, fp_rate,
       ROW_NUMBER() OVER (ORDER BY num_hashes, fp_rate, bands) = 1
           AS selected
FROM e
"""

def _events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day — the product-
    analytics headline metric. DAU is one distinct-count aggregate; WAU
    re-aggregates the (day, user) pairs over a 7-day integer-DIV-free
    range join expressed as a self-join on day distance (days are a
    tiny dimension — broadcast). Stickiness = DAU/WAU, one final
    division."""
    ev = _t(spark, sf_dir, "events")
    day = (F.col("ts") / F.lit(86400000000)).cast("long")
    du = ev.select(day.alias("day"), "user_id").distinct()
    dau = du.groupBy("day").agg(
        F.countDistinct("user_id").alias("dau"))
    days = dau.select("day")
    wau = (du.join(F.broadcast(days.select(F.col("day").alias("d"))),
                   (F.col("day") <= F.col("d"))
                   & (F.col("day") > F.col("d") - 7))
           .groupBy("d")
           .agg(F.countDistinct("user_id").alias("wau")))
    return (dau.join(wau, dau.day == wau.d)
            .select("day",
                    F.col("dau").cast("long").alias("dau"),
                    F.col("wau").cast("long").alias("wau"),
                    F.round(F.col("dau") / F.col("wau"), 6)
                    .alias("stickiness")))

_EVENTS_DAU_WAU_SQL = """
WITH du AS (
  SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
  FROM events),
dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM du GROUP BY 1),
wau AS (
  SELECT d.day AS day, COUNT(DISTINCT u.user_id) AS wau
  FROM (SELECT DISTINCT day FROM du) d
  JOIN du u ON u.day <= d.day AND u.day > d.day - 7
  GROUP BY 1)
SELECT dau.day,
       CAST(dau.dau AS BIGINT) AS dau,
       CAST(wau.wau AS BIGINT) AS wau,
       ROUND(dau.dau / wau.wau, 6) AS stickiness
FROM dau JOIN wau USING (day)
"""

def _customer_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style latest-wins upsert (`scd.apply_changes`): the base
    customer table (version 0) absorbs a synthetic change batch —
    balance updates for custkey % 7 == 1 (version 2), segment updates
    for custkey % 11 == 3 (version 1, LOSES to the balance update on
    overlapping keys), tombstones for custkey % 13 == 5 (version 3,
    wins over everything) — producing the current snapshot with one
    argmax fold per key, no window."""
    from pipelinedp_spark.operators.scd import apply_changes
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment")         .withColumn("version", F.lit(0).cast("long"))
    upd_bal = (cust.filter(F.col("c_custkey") % 7 == 1)
               .select("c_custkey", "c_name",
                       (F.col("c_acctbal") + 100).alias("c_acctbal"),
                       "c_mktsegment")
               .withColumn("version", F.lit(2).cast("long"))
               .withColumn("_deleted", F.lit(False)))
    upd_seg = (cust.filter(F.col("c_custkey") % 11 == 3)
               .select("c_custkey", "c_name", "c_acctbal",
                       F.lit("REASSIGNED").alias("c_mktsegment"))
               .withColumn("version", F.lit(1).cast("long"))
               .withColumn("_deleted", F.lit(False)))
    dels = (cust.filter(F.col("c_custkey") % 13 == 5)
            .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
            .withColumn("version", F.lit(3).cast("long"))
            .withColumn("_deleted", F.lit(True)))
    updates = upd_bal.unionByName(upd_seg).unionByName(dels)
    out = apply_changes(cust, updates, "c_custkey", "version")
    return out.select("c_custkey", "c_name",
                      F.round("c_acctbal", 2).alias("c_acctbal"),
                      "c_mktsegment", "version")

_CUSTOMER_UPSERT_SQL = """
WITH base AS (
  SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
         CAST(0 AS BIGINT) AS version, FALSE AS del
  FROM customer),
ub AS (
  SELECT c_custkey, c_name, c_acctbal + 100 AS c_acctbal,
         c_mktsegment, CAST(2 AS BIGINT) AS version, FALSE AS del
  FROM customer WHERE c_custkey % 7 = 1),
us AS (
  SELECT c_custkey, c_name, c_acctbal,
         'REASSIGNED' AS c_mktsegment, CAST(1 AS BIGINT) AS version,
         FALSE AS del
  FROM customer WHERE c_custkey % 11 = 3),
ud AS (
  SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
         CAST(3 AS BIGINT) AS version, TRUE AS del
  FROM customer WHERE c_custkey % 13 = 5),
allr AS (SELECT * FROM base UNION ALL SELECT * FROM ub
         UNION ALL SELECT * FROM us UNION ALL SELECT * FROM ud),
win AS (
  SELECT c_custkey,
         first(c_name ORDER BY version DESC) AS c_name,
         first(c_acctbal ORDER BY version DESC) AS c_acctbal,
         first(c_mktsegment ORDER BY version DESC) AS c_mktsegment,
         first(version ORDER BY version DESC) AS version,
         first(del ORDER BY version DESC) AS del
  FROM allr GROUP BY c_custkey)
SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal,
       c_mktsegment, version
FROM win WHERE NOT del
"""

def _stream_upsert_mirror(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Batch mirror of `streaming.streaming_apply_changes` with exact
    two-trigger semantics: trigger 0 merges the base customer rows into
    an empty snapshot, trigger 1 merges the synthetic change batch
    (balance updates, losing segment updates, tombstones — the
    customer_upsert plant). Output = the snapshot AFTER EACH trigger,
    tagged by batch, proving the per-batch merge contract rather than
    only the final state."""
    from pipelinedp_spark.operators.scd import apply_changes
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment")         .withColumn("version", F.lit(0).cast("long"))         .withColumn("_deleted", F.lit(False))
    snap0 = apply_changes(cust.limit(0), cust, "c_custkey", "version")         .localCheckpoint()
    upd = (cust.filter(F.col("c_custkey") % 7 == 1)
           .select("c_custkey", "c_name",
                   (F.col("c_acctbal") + 100).alias("c_acctbal"),
                   "c_mktsegment",
                   F.lit(2).cast("long").alias("version"),
                   F.lit(False).alias("_deleted"))
           .unionByName(
               cust.filter(F.col("c_custkey") % 11 == 3)
               .select("c_custkey", "c_name", "c_acctbal",
                       F.lit("REASSIGNED").alias("c_mktsegment"),
                       F.lit(1).cast("long").alias("version"),
                       F.lit(False).alias("_deleted")))
           .unionByName(
               cust.filter(F.col("c_custkey") % 13 == 5)
               .select("c_custkey", "c_name", "c_acctbal",
                       "c_mktsegment",
                       F.lit(3).cast("long").alias("version"),
                       F.lit(True).alias("_deleted"))))
    snap1 = apply_changes(
        snap0.withColumn("_deleted", F.lit(False)), upd,
        "c_custkey", "version")
    tag = lambda df, b: df.select(
        F.lit(b).cast("long").alias("batch"), "c_custkey", "c_name",
        F.round("c_acctbal", 2).alias("c_acctbal"), "c_mktsegment",
        "version")
    return tag(snap0, 0).unionByName(tag(snap1, 1))

_STREAM_UPSERT_MIRROR_SQL = """
WITH base AS (
  SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
         CAST(0 AS BIGINT) AS version, FALSE AS del
  FROM customer),
ub AS (
  SELECT c_custkey, c_name, c_acctbal + 100 AS c_acctbal,
         c_mktsegment, CAST(2 AS BIGINT) AS version, FALSE AS del
  FROM customer WHERE c_custkey % 7 = 1),
us AS (
  SELECT c_custkey, c_name, c_acctbal,
         'REASSIGNED' AS c_mktsegment, CAST(1 AS BIGINT) AS version,
         FALSE AS del
  FROM customer WHERE c_custkey % 11 = 3),
ud AS (
  SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
         CAST(3 AS BIGINT) AS version, TRUE AS del
  FROM customer WHERE c_custkey % 13 = 5),
allr AS (SELECT * FROM base UNION ALL SELECT * FROM ub
         UNION ALL SELECT * FROM us UNION ALL SELECT * FROM ud),
fin AS (
  SELECT c_custkey,
         first(c_name ORDER BY version DESC) AS c_name,
         first(c_acctbal ORDER BY version DESC) AS c_acctbal,
         first(c_mktsegment ORDER BY version DESC) AS c_mktsegment,
         first(version ORDER BY version DESC) AS version,
         first(del ORDER BY version DESC) AS del
  FROM allr GROUP BY c_custkey)
SELECT CAST(0 AS BIGINT) AS batch, c_custkey, c_name,
       ROUND(c_acctbal, 2) AS c_acctbal, c_mktsegment, version
FROM base
UNION ALL
SELECT CAST(1 AS BIGINT) AS batch, c_custkey, c_name,
       ROUND(c_acctbal, 2) AS c_acctbal, c_mktsegment, version
FROM fin WHERE NOT del
"""

def _doc_head_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary head-coverage curve (the Zipf check that sizes
    tokenizer vocabularies): for k in {10, 100, 1000}, the fraction of
    all corpus token occurrences covered by the k most frequent types
    (ties broken by token ascending). One word-count aggregate; the
    top-k mass comes from a WindowGroupLimit over the already-tiny
    count table, never a corpus sort."""
    from pyspark.sql import Window
    from pipelinedp_spark.functions import text as TX
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(TX.tokens(F.col("text"))).alias("w"))         .filter(F.col("w") != "")
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    counts = counts.localCheckpoint()
    total = counts.agg(F.sum("c")).collect()[0][0]
    w = Window.orderBy(F.col("c").desc(), F.col("w").asc())
    ranked = counts.withColumn("rank", F.row_number().over(w))         .filter(F.col("rank") <= 1000)
    out = None
    for k in (10, 100, 1000):
        o = (ranked.filter(F.col("rank") <= k)
             .agg(F.lit(k).cast("long").alias("k"),
                  F.sum("c").cast("long").alias("head_tokens"),
                  F.round(F.sum("c") / F.lit(float(total)), 6)
                  .alias("coverage")))
        out = o if out is None else out.unionByName(o)
    return out

_DOC_HEAD_COVERAGE_SQL = """
WITH counts AS (
  SELECT w, COUNT(*) AS c FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> '' GROUP BY w),
tot AS (SELECT SUM(c) AS t FROM counts),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w ASC) AS rank
  FROM counts),
ks AS (SELECT CAST(k AS BIGINT) AS k FROM (VALUES (10), (100), (1000))
       AS v(k))
SELECT ks.k,
       CAST(SUM(r.c) AS BIGINT) AS head_tokens,
       ROUND(SUM(r.c) / (SELECT CAST(t AS DOUBLE) FROM tot), 6)
           AS coverage
FROM ks JOIN ranked r ON r.rank <= ks.k
GROUP BY ks.k
"""

def _events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase
    (`funnel.funnel_report`): per-user strict-ordering matches via
    type-pruned scans joined to the shrinking per-step state table."""
    from pipelinedp_spark.operators.funnel import funnel_report
    ev = _t(spark, sf_dir, "events")
    return funnel_report(ev, ["view", "click", "purchase"])

_EVENTS_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY 1),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1),
u AS (
  SELECT 1 AS step, 'view' AS step_name,
         (SELECT COUNT(*) FROM s1) AS users
  UNION ALL
  SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
  UNION ALL
  SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3))
SELECT CAST(step AS BIGINT) AS step, step_name,
       CAST(users AS BIGINT) AS users,
       ROUND(users / (SELECT COUNT(*) FROM s1), 6) AS conversion
FROM u
"""

def _events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention grid (`funnel.retention_cohorts`):
    integer-DIV period bucketing, two map-side-combinable aggs, one
    broadcast cohort-size join."""
    from pipelinedp_spark.operators.funnel import retention_cohorts
    ev = _t(spark, sf_dir, "events")
    return retention_cohorts(ev)

_EVENTS_RETENTION_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS tm FROM events),
first AS (
  SELECT user_id, MIN(tm) // 604800000000 AS cohort
  FROM e GROUP BY 1),
active AS (
  SELECT DISTINCT user_id, tm // 604800000000 AS p FROM e),
grid AS (
  SELECT f.cohort, a.p - f.cohort AS off, COUNT(*) AS users
  FROM active a JOIN first f USING (user_id)
  GROUP BY 1, 2),
sz AS (SELECT cohort, COUNT(*) AS n FROM first GROUP BY 1)
SELECT CAST(g.cohort AS BIGINT) AS cohort,
       CAST(g.off AS BIGINT) AS offset,
       CAST(g.users AS BIGINT) AS users,
       ROUND(g.users / sz.n, 6) AS retention
FROM grid g JOIN sz USING (cohort)
WHERE g.off >= 0
"""

def _events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column stats (`functions.semistructured`): the
    JSON props field parsed ONCE per row (from_json, explicit schema —
    no inference scan), integer-exact per-type aggregates."""
    from pipelinedp_spark.functions.semistructured import json_fields
    ev = _t(spark, sf_dir, "events")
    withk = json_fields(ev, "props", "k BIGINT")
    return (withk.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("k").alias("sum_k"),
                 F.min("k").alias("min_k"),
                 F.max("k").alias("max_k"),
                 F.round(F.sum("k") / F.count(F.lit(1)), 6)
                 .alias("avg_k")))

_EVENTS_JSON_STATS_SQL = """
WITH e AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       CAST(MIN(k) AS BIGINT) AS min_k,
       CAST(MAX(k) AS BIGINT) AS max_k,
       ROUND(SUM(k) / COUNT(*), 6) AS avg_k
FROM e GROUP BY 1
"""

def _doc_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph keyword extraction (`retrieval.textrank_keywords`):
    integer-arithmetic PageRank over the adjacent-word graph, 3
    iterations unrolled in the oracle (integer DIV throughout — the
    Lloyd discipline applied to a graph algorithm)."""
    from pipelinedp_spark.operators.retrieval import textrank_keywords
    docs = _t(spark, sf_dir, "documents")
    return textrank_keywords(docs, iters=3, k=20, min_count=2)

def _gen_textrank_sql(iters: int = 3, k: int = 20, min_count: int = 2,
                      scale: int = 1_000_000, d_pct: int = 85) -> str:
    base = (scale * (100 - d_pct)) // 100
    sql = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bi0 AS (
  SELECT UNNEST(CASE WHEN len(t) >= 2
                     THEN [t[i] || ' ' || t[i+1]
                           for i in range(1, len(t))]
                     ELSE [] END) AS g
  FROM tok),
bi AS (
  SELECT split_part(g, ' ', 1) AS a, split_part(g, ' ', 2) AS b,
         COUNT(*) AS cnt
  FROM bi0 GROUP BY 1, 2 HAVING COUNT(*) >= {min_count}),
und AS (
  SELECT v, w, SUM(cnt) AS cnt FROM (
    SELECT a AS v, b AS w, cnt FROM bi
    UNION ALL
    SELECT b AS v, a AS w, cnt FROM bi) GROUP BY 1, 2),
ow AS (SELECT v, SUM(cnt) AS outw FROM und GROUP BY 1),
e AS (SELECT und.v, und.w, und.cnt, ow.outw
      FROM und JOIN ow USING (v)),
r0 AS (SELECT DISTINCT v AS word, CAST({scale} AS BIGINT) AS r FROM e)"""
    for i in range(1, iters + 1):
        sql += f""",
r{i} AS (
  SELECT e.w AS word,
         CAST({base} + ({d_pct} * SUM((r.r * e.cnt) // e.outw)) // 100
              AS BIGINT) AS r
  FROM e JOIN r{i - 1} r ON r.word = e.v GROUP BY 1)"""
    sql += f"""
SELECT word, r AS rank FROM r{iters}
ORDER BY r DESC, word ASC LIMIT {k}
"""
    return sql

def _events_json_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON schema discovery (`semistructured.json_key_profile`): per
    top-level key, rows carrying it — the promote-to-column signal."""
    from pipelinedp_spark.functions.semistructured import json_key_profile
    ev = _t(spark, sf_dir, "events")
    return json_key_profile(ev, "props")

_EVENTS_JSON_PROFILE_SQL = """
WITH k AS (
  SELECT UNNEST(json_keys(props)) AS key FROM events)
SELECT key, CAST(COUNT(*) AS BIGINT) AS rows
FROM k GROUP BY 1
"""

def _events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency (`funnel.funnel_users`): micros from first view
    to the funnel-completing purchase for converting users —
    integer-exact min/max/avg (sum of micros stays in int64)."""
    from pipelinedp_spark.operators.funnel import funnel_users
    ev = _t(spark, sf_dir, "events")
    tabs = funnel_users(ev, ["view", "click", "purchase"])
    first = tabs[0].select("user_id", F.col("t").alias("_t1"))
    last = tabs[2].select("user_id", F.col("t").alias("_t3"))
    d = first.join(last, "user_id").select(
        (F.col("_t3") - F.col("_t1")).alias("_d"))
    return d.agg(F.count(F.lit(1)).alias("users"),
                 F.min("_d").alias("min_us"),
                 F.max("_d").alias("max_us"),
                 F.round(F.sum("_d") / F.count(F.lit(1)), 6)
                 .alias("avg_us"))

_EVENTS_TIME_TO_CONVERT_SQL = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS tm FROM events),
s1 AS (
  SELECT user_id, MIN(tm) AS t FROM e
  WHERE event_type = 'view' GROUP BY 1),
s2 AS (
  SELECT e.user_id, MIN(e.tm) AS t
  FROM e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.tm > s1.t GROUP BY 1),
s3 AS (
  SELECT e.user_id, MIN(e.tm) AS t
  FROM e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.tm > s2.t GROUP BY 1)
SELECT CAST(COUNT(*) AS BIGINT) AS users,
       CAST(MIN(s3.t - s1.t) AS BIGINT) AS min_us,
       CAST(MAX(s3.t - s1.t) AS BIGINT) AS max_us,
       ROUND(SUM(s3.t - s1.t) / COUNT(*), 6) AS avg_us
FROM s3 JOIN s1 USING (user_id)
"""

def _events_window_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic-anomaly scores per (event_type, hour window): signed
    squared-z-score as the exact rational (c*n - S)^2 / (n*Sq - S^2) —
    integer numerators/denominators on both engines until ONE final
    division, so the anomaly ranking is bit-reproducible. Top-10 via
    TakeOrderedAndProject; the per-type stats table is 5 rows
    (broadcast)."""
    ev = _t(spark, sf_dir, "events")
    win = ev.select("event_type",
                    F.expr("ts DIV 3600000000").alias("win"))
    counts = (win.groupBy("event_type", "win")
              .agg(F.count(F.lit(1)).alias("c")))
    stats = (counts.groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("c").alias("s"),
                  F.sum(F.col("c") * F.col("c")).alias("sq")))
    dev = F.col("c") * F.col("n") - F.col("s")
    den = F.col("n") * F.col("sq") - F.col("s") * F.col("s")
    return (counts.join(F.broadcast(stats), "event_type")
            .select("event_type", F.col("win").cast("long").alias("win"),
                    F.col("c").cast("long").alias("c"),
                    F.when(den > 0,
                           F.round(F.signum(dev.cast("double"))
                                   * (dev * dev) / den, 6))
                    .otherwise(F.lit(0.0)).alias("score"))
            .orderBy(F.col("score").desc(), "event_type", "win")
            .limit(10))

_EVENTS_WINDOW_ANOMALY_SQL = """
WITH w AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS win FROM events),
counts AS (
  SELECT event_type, win, COUNT(*) AS c FROM w GROUP BY 1, 2),
stats AS (
  SELECT event_type, COUNT(*) AS n, SUM(c) AS s, SUM(c * c) AS sq
  FROM counts GROUP BY 1),
scored AS (
  SELECT c.event_type, CAST(c.win AS BIGINT) AS win,
         CAST(c.c AS BIGINT) AS c,
         CASE WHEN t.n * t.sq - t.s * t.s > 0
              THEN ROUND(sign(c.c * t.n - t.s)
                         * ((c.c * t.n - t.s) * (c.c * t.n - t.s))
                         / (t.n * t.sq - t.s * t.s), 6)
              ELSE 0.0 END AS score
  FROM counts c JOIN stats t USING (event_type))
SELECT event_type, win, c, score FROM scored
ORDER BY score DESC, event_type, win LIMIT 10
"""

def _doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid readability per document
    (`functions.text.flesch_kincaid_grade`): pure codegen regexp
    counts — zero shuffles beyond the scan."""
    from pipelinedp_spark.functions import text as TX
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        TX.sentence_count(F.col("text")).cast("long").alias("sentences"),
        TX.syllable_estimate(F.col("text")).cast("long")
        .alias("syllables"),
        TX.flesch_kincaid_grade(F.col("text")).alias("fk_grade"))

_DOC_READABILITY_SQL = """
WITH base AS (
  SELECT doc_id, n_chars, text,
         len(string_split(text, ' ')) AS w,
         CASE WHEN length(text) = 0 THEN 0
              ELSE GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
         END AS s,
         len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS sy
  FROM documents)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(s AS BIGINT) AS sentences,
       CAST(sy AS BIGINT) AS syllables,
       CASE WHEN w > 0 AND s > 0
            THEN ROUND(0.39 * (w::DOUBLE / s::DOUBLE)
                       + 11.8 * (sy::DOUBLE / w::DOUBLE) - 15.59, 6)
            ELSE 0.0 END AS fk_grade
FROM base
"""

def _doc_source_quality_report(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Curation dashboard row: Gopher pass rate and mean FK grade per
    source — the decide-what-to-recrawl report. Composes the gopher
    filter (one corpus pass) with a source join and a
    source-cardinality agg."""
    from pipelinedp_spark.functions import text as TX
    from pipelinedp_spark.operators.quality import gopher_quality_filter
    docs = _t(spark, sf_dir, "documents")
    g = gopher_quality_filter(docs).select("doc_id", "passes")
    base = docs.select("doc_id", "source",
                       TX.flesch_kincaid_grade(F.col("text"))
                       .alias("fk"))
    return (base.join(g, "doc_id")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.col("passes").cast("long")).alias("n_pass"),
                 F.round(F.sum(F.col("passes").cast("long"))
                         / F.count(F.lit(1)), 6).alias("pass_rate"),
                 F.round(F.sum("fk") / F.count(F.lit(1)), 6)
                 .alias("avg_fk")))

def _gen_source_quality_sql() -> str:
    gopher = _DOC_GOPHER_FILTER_SQL.strip()
    assert gopher.startswith("WITH ")
    fk = """
SELECT d.source, g.passes, b.fk
FROM documents d
JOIN gph g USING (doc_id)
JOIN (SELECT doc_id,
             CASE WHEN len(string_split(text, ' ')) > 0
                   AND (CASE WHEN length(text) = 0 THEN 0
                        ELSE GREATEST(len(regexp_extract_all(
                                 text, '[.!?]+')), 1) END) > 0
                  THEN ROUND(0.39 * (len(string_split(text, ' '))::DOUBLE
                             / (GREATEST(len(regexp_extract_all(
                                  text, '[.!?]+')), 1))::DOUBLE)
                        + 11.8 * (len(regexp_extract_all(
                                  text, '[aeiouyAEIOUY]+'))::DOUBLE
                             / (len(string_split(text, ' ')))::DOUBLE)
                        - 15.59, 6)
                  ELSE 0.0 END AS fk
      FROM documents) b USING (doc_id)
"""
    return (gopher.replace("WITH ", "WITH gph AS (WITH ", 1)
            .rsplit("FROM sig s", 1)[0]
            + "FROM sig s JOIN dup5 USING (doc_id) "
              "JOIN top2 USING (doc_id) JOIN tot2 USING (doc_id))\n"
            + f"""SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(passes::INT) AS BIGINT) AS n_pass,
       ROUND(SUM(passes::INT) / COUNT(*), 6) AS pass_rate,
       ROUND(SUM(fk) / COUNT(*), 6) AS avg_fk
FROM ({fk}) GROUP BY source""")

def _events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: each purchase attributes its
    value (exact integer cents) to the user's most recent prior click
    via the as-of join; unattributed purchases land in bucket -1.
    Composes `asof.asof_join` + integer-cent sums — no float
    accumulation."""
    from pipelinedp_spark.operators.asof import asof_join
    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)) \
        .cast("long")
    pur = (ev.filter(F.col("event_type") == "purchase")
           .select("user_id", "ts", cents.alias("cents")))
    clk = (ev.filter(F.col("event_type") == "click")
           .select("user_id", "ts"))
    j = asof_join(pur, clk, "ts", "user_id")
    hour = (F.when(F.col("ts_right").isNull(), F.lit(-1))
            .otherwise(F.expr("ts_right DIV 3600000000"))).cast("long")
    return (j.groupBy(hour.alias("click_hour"))
            .agg(F.count(F.lit(1)).alias("purchases"),
                 F.sum("cents").alias("revenue_cents")))

_EVENTS_ATTRIBUTION_SQL = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS tm,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
  FROM events),
p AS (SELECT user_id, tm, cents FROM e WHERE event_type = 'purchase'),
c AS (SELECT user_id, tm FROM e WHERE event_type = 'click'),
j AS (
  SELECT p.user_id, p.tm, p.cents, c.tm AS ctm
  FROM p ASOF LEFT JOIN c
    ON p.user_id = c.user_id AND p.tm >= c.tm)
SELECT CAST(CASE WHEN ctm IS NULL THEN -1
            ELSE ctm // 3600000000 END AS BIGINT) AS click_hour,
       CAST(COUNT(*) AS BIGINT) AS purchases,
       CAST(SUM(cents) AS BIGINT) AS revenue_cents
FROM j GROUP BY 1
"""

def _events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event transition matrix (Markov view of user journeys):
    consecutive event pairs per user via LEAD over (ts, event_id) —
    the tiebreaker makes the sequence deterministic — then
    P(next | current) from integer counts. The per-user window is
    bounded by per-user activity (document: cap outliers upstream with
    `sampling.cap_per_key` before sequence ops on adversarial data)."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (ev.select("user_id", "ts", "event_id", "event_type",
                       F.lead("event_type").over(w).alias("nxt"))
             .filter(F.col("nxt").isNotNull())
             .groupBy(F.col("event_type").alias("from_type"),
                      F.col("nxt").alias("to_type"))
             .agg(F.count(F.lit(1)).alias("cnt")))
    tot = pairs.groupBy("from_type").agg(F.sum("cnt").alias("_tot"))
    return (pairs.join(F.broadcast(tot), "from_type")
            .select("from_type", "to_type",
                    F.col("cnt").cast("long").alias("cnt"),
                    F.round(F.col("cnt") / F.col("_tot"), 6)
                    .alias("prob")))

_EVENTS_TRANSITIONS_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS tm, event_id, event_type FROM events),
seq AS (
  SELECT event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY tm, event_id) AS nxt
  FROM e),
pairs AS (
  SELECT event_type AS from_type, nxt AS to_type, COUNT(*) AS cnt
  FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT from_type, SUM(cnt) AS t FROM pairs GROUP BY 1)
SELECT p.from_type, p.to_type, CAST(p.cnt AS BIGINT) AS cnt,
       ROUND(p.cnt / t.t, 6) AS prob
FROM pairs p JOIN tot t USING (from_type)
"""

def _part_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution / fuzzy key join: 10 deterministically
    corrupted part names (one char overwritten) matched back to the
    catalog by Levenshtein <= 2 with length blocking. The length-delta
    prefilter runs before the distance (Catalyst orders the cheap
    predicate first); queries broadcast; per-query best match =
    min(struct) argmax — no window. Levenshtein is codegen in BOTH
    engines with the identical standard definition."""
    part = _t(spark, sf_dir, "part")
    q = (part.filter(F.col("p_partkey") <= 10)
         .select(F.col("p_partkey").alias("query_id"),
                 F.concat(F.substring("p_name", 1, 5), F.lit("#"),
                          F.substring("p_name", 7, 10_000))
                 .alias("q_name")))
    cand = (part.select("p_partkey", "p_name")
            .crossJoin(F.broadcast(q))
            .filter((F.abs(F.length("p_name") - F.length("q_name"))
                     <= 2)
                    & (F.levenshtein("p_name", "q_name") <= 2)))
    best = (cand.select("query_id",
                        F.struct(F.levenshtein("p_name", "q_name")
                                 .alias("d"),
                                 F.col("p_partkey").alias("k"))
                        .alias("s"))
            .groupBy("query_id")
            .agg(F.min("s").alias("m")))
    return best.select("query_id",
                       F.col("m.k").cast("long").alias("matched_key"),
                       F.col("m.d").cast("long").alias("distance"))

_PART_FUZZY_MATCH_SQL = """
WITH q AS (
  SELECT p_partkey AS query_id,
         substr(p_name, 1, 5) || '#' || substr(p_name, 7) AS q_name
  FROM part WHERE p_partkey <= 10),
cand AS (
  SELECT q.query_id, p.p_partkey,
         levenshtein(p.p_name, q.q_name) AS d
  FROM part p CROSS JOIN q
  WHERE abs(length(p.p_name) - length(q.q_name)) <= 2
    AND levenshtein(p.p_name, q.q_name) <= 2)
SELECT query_id,
       CAST(first(p_partkey ORDER BY d ASC, p_partkey ASC) AS BIGINT)
           AS matched_key,
       CAST(MIN(d) AS BIGINT) AS distance
FROM cand GROUP BY 1
"""

def _lineitem_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (non-DP) per-group order statistics: median and p90 of
    lineitem quantity per return flag — Spark's exact `median` /
    `percentile` aggregates (sort-based within group, map-side
    partial) vs DuckDB MEDIAN/QUANTILE_CONT. The non-private twin of
    dp_percentile_*."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.median("l_quantity"), 6).alias("median_qty"),
                 F.round(F.expr("percentile(l_quantity, 0.9)"), 6)
                 .alias("p90_qty")))

_LINEITEM_ORDER_STATS_SQL = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MEDIAN(l_quantity), 6) AS median_qty,
       ROUND(QUANTILE_CONT(l_quantity, 0.9), 6) AS p90_qty
FROM lineitem GROUP BY 1
"""

def _events_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped funnel: view -> click -> purchase must all occur
    inside ONE gap-based session (1 h). Composes `sessions.sessionize`
    with `funnel.funnel_report` over a folded (user, session) key
    (user_id * 2^20 + session_id — session counts are bounded far
    below 2^20 by the gap). The counting unit becomes the session."""
    from pipelinedp_spark.operators.funnel import funnel_report
    from pipelinedp_spark.operators.sessions import sessionize
    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, "ts", "user_id", gap=3_600_000_000)
    s = s.withColumn(
        "uk", F.col("user_id") * F.lit(1 << 20) + F.col("session_id"))
    return (funnel_report(s, ["view", "click", "purchase"],
                          user_col="uk")
            .withColumnRenamed("users", "sessions"))

_EVENTS_SESSION_FUNNEL_SQL = """
WITH x AS (
  SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
d AS (
  SELECT user_id, event_type, t,
         CASE WHEN t - LAG(t) OVER (PARTITION BY user_id ORDER BY t)
                   > 3600000000 THEN 1 ELSE 0 END AS brk
  FROM x),
s AS (
  SELECT event_type, t,
         user_id * 1048576
         + SUM(brk) OVER (PARTITION BY user_id ORDER BY t
                          ROWS UNBOUNDED PRECEDING) AS uk
  FROM d),
s1 AS (SELECT uk, MIN(t) AS t FROM s
       WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT s.uk, MIN(s.t) AS t FROM s JOIN s1 USING (uk)
       WHERE s.event_type = 'click' AND s.t > s1.t GROUP BY 1),
s3 AS (SELECT s.uk, MIN(s.t) AS t FROM s JOIN s2 USING (uk)
       WHERE s.event_type = 'purchase' AND s.t > s2.t GROUP BY 1),
u AS (
  SELECT 1 AS step, 'view' AS step_name,
         (SELECT COUNT(*) FROM s1) AS c
  UNION ALL
  SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
  UNION ALL
  SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3))
SELECT CAST(step AS BIGINT) AS step, step_name,
       CAST(c AS BIGINT) AS sessions,
       ROUND(c / (SELECT COUNT(*) FROM s1), 6) AS conversion
FROM u
"""

def _customer_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension merge (`scd.scd2_apply`): every 10th
    customer gets an address change at eff=1000 — expired version +
    new open version + untouched rows, plain equi-joins (the MERGE an
    ACID format would run)."""
    from pipelinedp_spark.operators.scd import scd2_apply
    cust = _t(spark, sf_dir, "customer")
    dim = cust.select("c_custkey", "c_mktsegment",
                      F.lit(0).cast("long").alias("valid_from"),
                      F.lit(None).cast("long").alias("valid_to"))
    upd = (cust.filter(F.col("c_custkey") % 10 == 0)
           .select("c_custkey",
                   F.concat(F.col("c_mktsegment"), F.lit("-V2"))
                   .alias("c_mktsegment"),
                   F.lit(1000).cast("long").alias("eff_ts")))
    out = scd2_apply(dim, upd, "c_custkey", ["c_mktsegment"])
    return out.select(F.col("c_custkey").cast("long"), "c_mktsegment",
                      "valid_from", "valid_to")

_CUSTOMER_SCD2_SQL = """
WITH dim AS (
  SELECT c_custkey, c_mktsegment,
         CAST(0 AS BIGINT) AS valid_from,
         CAST(NULL AS BIGINT) AS valid_to
  FROM customer),
upd AS (
  SELECT c_custkey, c_mktsegment || '-V2' AS new_seg,
         CAST(1000 AS BIGINT) AS eff
  FROM customer WHERE c_custkey % 10 = 0),
j AS (
  SELECT d.*, u.new_seg, u.eff,
         (u.eff IS NOT NULL
          AND NOT (d.c_mktsegment IS NOT DISTINCT FROM u.new_seg))
             AS changed
  FROM dim d LEFT JOIN upd u USING (c_custkey))
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_mktsegment,
       valid_from, valid_to
FROM j WHERE NOT changed
UNION ALL
SELECT CAST(c_custkey AS BIGINT), c_mktsegment, valid_from, eff
FROM j WHERE changed
UNION ALL
SELECT CAST(c_custkey AS BIGINT), new_seg, eff,
       CAST(NULL AS BIGINT)
FROM j WHERE changed
"""


QUERIES = {
    "tpch_q1_pricing": _tpch_q1_pricing,
    "tpch_q3_priority": _tpch_q3_priority,
    "tpch_q5_local_supplier": _tpch_q5_local_supplier,
    "tpch_q18_large_orders": _tpch_q18_large_orders,
    "tpch_q10_returned_items": _tpch_q10_returned_items,
    "tpch_q16_supplier_variety": _tpch_q16_supplier_variety,
    "tpch_q4_priority_wait": _tpch_q4_priority_wait,
    "tpch_q6_forecast_revenue": _tpch_q6_forecast_revenue,
    "tpch_q13_order_distribution": _tpch_q13_order_distribution,
    "tpch_q14_promo_revenue": _tpch_q14_promo_revenue,
    "tpch_q17_small_qty_revenue": _tpch_q17_small_qty_revenue,
    "tpch_q21_waiting_suppliers": _tpch_q21_waiting_suppliers,
    "events_rolling_features": _events_rolling_features,
    "doc_exact_substr_cut": _doc_exact_substr_cut,
    "doc_c4_filter": _doc_c4_filter,
    "emb_matryoshka_recall": _emb_matryoshka_recall,
    "doc_jsonl_roundtrip": _doc_jsonl_roundtrip,
    "doc_fix_mojibake": _doc_fix_mojibake,
    "doc_release_manifest": _doc_release_manifest,
    "doc_chat_render": _doc_chat_render,
    "doc_preference_pairs": _doc_preference_pairs,
    "dedup_lsh_plan": _dedup_lsh_plan,
    "events_dau_wau": _events_dau_wau,
    "customer_upsert": _customer_upsert,
    "stream_upsert_mirror": _stream_upsert_mirror,
    "doc_head_coverage": _doc_head_coverage,
    "events_k_anonymity": _events_k_anonymity,
    "events_pseudonymize": _events_pseudonymize,
    "doc_leakage_safe_split": _doc_leakage_safe_split,
    "events_parse_quarantine": _events_parse_quarantine,
    "events_salted_join": _events_salted_join,
    "doc_language_id": _doc_language_id,
    "doc_nfc_normalize": _doc_nfc_normalize,
    "doc_gopher_filter": _doc_gopher_filter,
    "doc_tfidf_keywords": _doc_tfidf_keywords,
    "doc_pmi_collocations": _doc_pmi_collocations,
    "doc_code_detect": _doc_code_detect,
    "doc_language_mix": _doc_language_mix,
    "doc_sentence_dedup": _doc_sentence_dedup,
    "stream_sentence_dedup_mirror": _stream_sentence_dedup_mirror,
    "sim_ivf_pq_rerank_topk": _sim_ivf_pq_rerank_topk,
    "emb_kmeans_centroids": _emb_kmeans_centroids,
    "emb_cluster_balanced_sample": _emb_cluster_balanced_sample,
    "emb_int8_roundtrip": _emb_int8_roundtrip,
    "emb_covariance": _emb_covariance,
    "emb_pca_project": _emb_pca_project,
    "doc_length_buckets": _doc_length_buckets,
    "stream_cluster_assign_mirror": _stream_cluster_assign_mirror,
    "emb_hard_negatives": _emb_hard_negatives,
    "emb_cluster_purity": _emb_cluster_purity,
    "emb_triplets": _emb_triplets,
    "dp_cluster_counts": _dp_cluster_counts,
    "emb_int8_recall": _emb_int8_recall,
    "emb_mmr_rerank": _emb_mmr_rerank,
    "events_funnel": _events_funnel,
    "events_retention": _events_retention,
    "events_json_stats": _events_json_stats,
    "doc_textrank_keywords": _doc_textrank_keywords,
    "events_json_profile": _events_json_profile,
    "events_time_to_convert": _events_time_to_convert,
    "events_window_anomaly": _events_window_anomaly,
    "doc_readability": _doc_readability,
    "doc_source_quality_report": _doc_source_quality_report,
    "events_attribution": _events_attribution,
    "events_transitions": _events_transitions,
    "part_fuzzy_match": _part_fuzzy_match,
    "lineitem_order_stats": _lineitem_order_stats,
    "events_session_funnel": _events_session_funnel,
    "customer_scd2": _customer_scd2,
}

ORACLES = {
    "tpch_q1_pricing": _TPCH_Q1_SQL,
    "tpch_q3_priority": _TPCH_Q3_SQL,
    "tpch_q5_local_supplier": _TPCH_Q5_SQL,
    "tpch_q18_large_orders": _TPCH_Q18_SQL,
    "tpch_q10_returned_items": _TPCH_Q10_SQL,
    "tpch_q16_supplier_variety": _TPCH_Q16_SQL,
    "tpch_q4_priority_wait": _TPCH_Q4_SQL,
    "tpch_q6_forecast_revenue": _TPCH_Q6_SQL,
    "tpch_q13_order_distribution": _TPCH_Q13_SQL,
    "tpch_q14_promo_revenue": _TPCH_Q14_SQL,
    "tpch_q17_small_qty_revenue": _TPCH_Q17_SQL,
    "tpch_q21_waiting_suppliers": _TPCH_Q21_SQL,
    "events_rolling_features": _EVENTS_ROLLING_SQL,
    "doc_exact_substr_cut": _DOC_EXACT_SUBSTR_CUT_SQL,
    "doc_c4_filter": _DOC_C4_FILTER_SQL,
    "emb_matryoshka_recall": _EMB_MATRYOSHKA_SQL,
    "doc_jsonl_roundtrip": _DOC_JSONL_SQL,
    "doc_fix_mojibake": _gen_fix_mojibake_sql(),
    "doc_release_manifest": _DOC_RELEASE_MANIFEST_SQL,
    "doc_chat_render": _DOC_CHAT_RENDER_SQL,
    "doc_preference_pairs": _DOC_PREFERENCE_PAIRS_SQL,
    "dedup_lsh_plan": _DEDUP_LSH_PLAN_SQL,
    "events_dau_wau": _EVENTS_DAU_WAU_SQL,
    "customer_upsert": _CUSTOMER_UPSERT_SQL,
    "stream_upsert_mirror": _STREAM_UPSERT_MIRROR_SQL,
    "doc_head_coverage": _DOC_HEAD_COVERAGE_SQL,
    "events_k_anonymity": _EVENTS_K_ANONYMITY_SQL,
    "events_pseudonymize": _EVENTS_PSEUDONYMIZE_SQL,
    "doc_leakage_safe_split": _DOC_LEAKAGE_SPLIT_SQL,
    "events_parse_quarantine": _EVENTS_PARSE_QUARANTINE_SQL,
    "events_salted_join": _EVENTS_SALTED_JOIN_SQL,
    "doc_language_id": _gen_language_id_sql(),
    "doc_nfc_normalize": _DOC_NFC_NORMALIZE_SQL,
    "doc_gopher_filter": _DOC_GOPHER_FILTER_SQL,
    "doc_tfidf_keywords": _DOC_TFIDF_KEYWORDS_SQL,
    "doc_pmi_collocations": _DOC_PMI_COLLOCATIONS_SQL,
    "doc_code_detect": _gen_code_detect_sql(),
    "doc_language_mix": _gen_language_mix_sql(),
    "doc_sentence_dedup": _DOC_SENTENCE_DEDUP_SQL,
    "stream_sentence_dedup_mirror": _STREAM_SENTENCE_DEDUP_MIRROR_SQL,
    "sim_ivf_pq_rerank_topk": _gen_ivf_pq_rerank_sql(),
    "emb_kmeans_centroids": _gen_kmeans_sql(),
    "emb_cluster_balanced_sample": _gen_cluster_balanced_sql(),
    "emb_int8_roundtrip": _EMB_INT8_ROUNDTRIP_SQL,
    "emb_covariance": _EMB_COVARIANCE_SQL,
    "emb_pca_project": _gen_pca_sql(),
    "doc_length_buckets": _DOC_LENGTH_BUCKETS_SQL,
    "stream_cluster_assign_mirror": _gen_stream_cluster_sql(),
    "emb_hard_negatives": _EMB_HARD_NEGATIVES_SQL,
    "emb_cluster_purity": _gen_cluster_purity_sql(),
    "emb_triplets": _EMB_TRIPLETS_SQL,
    "dp_cluster_counts": _gen_dp_cluster_counts_sql(),
    "emb_int8_recall": _EMB_INT8_RECALL_SQL,
    "emb_mmr_rerank": _gen_mmr_sql(),
    "events_funnel": _EVENTS_FUNNEL_SQL,
    "events_retention": _EVENTS_RETENTION_SQL,
    "events_json_stats": _EVENTS_JSON_STATS_SQL,
    "doc_textrank_keywords": _gen_textrank_sql(),
    "events_json_profile": _EVENTS_JSON_PROFILE_SQL,
    "events_time_to_convert": _EVENTS_TIME_TO_CONVERT_SQL,
    "events_window_anomaly": _EVENTS_WINDOW_ANOMALY_SQL,
    "doc_readability": _DOC_READABILITY_SQL,
    "doc_source_quality_report": _gen_source_quality_sql(),
    "events_attribution": _EVENTS_ATTRIBUTION_SQL,
    "events_transitions": _EVENTS_TRANSITIONS_SQL,
    "part_fuzzy_match": _PART_FUZZY_MATCH_SQL,
    "lineitem_order_stats": _LINEITEM_ORDER_STATS_SQL,
    "events_session_funnel": _EVENTS_SESSION_FUNNEL_SQL,
    "customer_scd2": _CUSTOMER_SCD2_SQL,
}
