"""Text-analysis column builders for large-scale training-data pipelines.

All functions return native Column expressions (JVM-side, codegen-able) —
no Python UDFs in any hot path. Designed so the same semantics are exactly
expressible in ANSI SQL for oracle checking:

  tokens      = split(text, ' ')                       (literal single space)
  shingles    = distinct word k-grams joined by ' '

No reference counterpart (net-new per project north star); designed
Spark-first for 100 TB corpora: everything is per-row expressions or
bounded aggregations, no driver collects.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny embedded stopword lists for the language-ID heuristic.
LANG_STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "que", "y", "los", "un", "por"],
    "de": ["der", "die", "und", "das", "ist", "ein", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "un", "est", "pas"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokens (literal single-space split for SQL parity)."""
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def distinct_token_count(text: Column) -> Column:
    return F.size(F.array_distinct(tokens(text)))


BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(text: Column) -> Column:
    """BPE-ish token count: alphabetic runs, digit runs, and individual
    punctuation marks each count as one token (the segmentation BPE
    vocabularies start from). Pattern is Java/RE2-compatible so DuckDB
    oracles can mirror it exactly."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0))


def avg_token_length(text: Column) -> Column:
    t = tokens(text)
    return (F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
            .cast("double") / F.greatest(F.size(t), F.lit(1)))


def type_token_ratio(text: Column) -> Column:
    """Lexical diversity: distinct tokens / tokens."""
    t = tokens(text)
    return (F.size(F.array_distinct(t)).cast("double") /
            F.greatest(F.size(t), F.lit(1)))


def quality_score(text: Column,
                  min_tokens: int = 50,
                  max_tokens: int = 10_000) -> Column:
    """Composite quality in [0, 1]: length window * lexical diversity.

    A document scores high when its token count is inside
    [min_tokens, max_tokens] and its vocabulary is not degenerate.
    """
    n = token_count(text)
    length_ok = (F.when(n < min_tokens,
                        n.cast("double") / F.lit(float(min_tokens)))
                 .when(n > max_tokens,
                       F.lit(float(max_tokens)) / n.cast("double"))
                 .otherwise(F.lit(1.0)))
    return F.round(length_ok * type_token_ratio(text), 6)


def language_id(text: Column,
                default: str = "unknown") -> Column:
    """N-gram/stopword-overlap language heuristic: argmax over per-language
    stopword hit counts on the token set; ties and zero hits -> default."""
    toks = F.array_distinct(tokens(F.lower(text)))
    scores = [(lang, F.size(F.array_intersect(toks, F.array(
        *[F.lit(w) for w in words]))))
        for lang, words in LANG_STOPWORDS.items()]
    best_score = F.greatest(*[s for _, s in scores])
    result = F.lit(default)
    # Deterministic tie-break: first language (dict order) with max score.
    for lang, score in reversed(scores):
        result = F.when((score == best_score) & (best_score > 0),
                        F.lit(lang)).otherwise(result)
    return result


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-grams, space-joined.

    Built as arrays_zip of k shifted slices, NOT element_at over an index
    sequence: higher-order lambdas run interpreted (no CSE), so an
    element_at(tokens, i) inside the lambda re-evaluates the full split()
    per element — O(n^2) per document. The slice form evaluates split()
    only k+1 times per row.
    """
    t = tokens(text)
    n = F.size(t)
    win = F.greatest(n - F.lit(k - 1), F.lit(0))
    parts = [F.slice(t, j + 1, win) for j in range(k)]
    grams = F.transform(
        F.arrays_zip(*parts),
        lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(k)]))
    return F.when(n >= k, F.array_distinct(grams)) \
        .otherwise(F.array(F.concat_ws(" ", t)))


def hex_to_long(hex_col: Column, digits: int = 15) -> Column:
    """First `digits` hex chars -> non-negative bigint (60 bits for 15)."""
    return F.conv(F.substring(hex_col, 1, digits), 16, 10).cast("long")


def token_hash(token: Column) -> Column:
    """Deterministic 60-bit token hash via md5 (engine-portable)."""
    return hex_to_long(F.md5(token))


def rolling_fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the normalized (lowercased,
    space-collapsed) text — exact-dup detection key."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), " +", " "))


def winnowing_grams(text: Column, k: int = 5) -> Column:
    """The ordered (non-distinct) k-gram string array winnowing hashes;
    documents shorter than k tokens yield the whole text as one gram."""
    t = tokens(text)
    n = F.size(t)
    gwin = F.greatest(n - F.lit(k - 1), F.lit(0))
    parts = [F.slice(t, j + 1, gwin) for j in range(k)]
    grams = F.transform(
        F.arrays_zip(*parts),
        lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(k)]))
    return F.when(n >= k, grams).otherwise(F.array(F.concat_ws(" ", t)))


def winnowing_gram_hashes(text: Column, k: int = 5) -> Column:
    """The ordered k-gram hash array (md5-derived 60-bit bigints).
    NOTE: as an array expression every per-gram md5 runs interpreted
    (HOF lambdas skip codegen); hot paths should posexplode
    `winnowing_grams` and hash as row expressions instead
    (operators/dedup.py does — measured ~4x)."""
    return F.transform(winnowing_grams(text, k), token_hash)


def winnowing_mins(hashes: Column, w: int = 4) -> Column:
    """Stage 2 of winnowing: distinct sliding-window minima over an
    ALREADY MATERIALIZED gram-hash column."""
    m = F.size(hashes)
    wwin = F.greatest(m - F.lit(w - 1), F.lit(0))
    hparts = [F.slice(hashes, j + 1, wwin) for j in range(w)]
    mins = F.transform(
        F.arrays_zip(*hparts),
        lambda s: F.least(*[s[str(j)] for j in range(w)]))
    mins = F.when(m >= w, mins).otherwise(F.array(F.array_min(hashes)))
    return F.array_distinct(mins)


def winnowing_fingerprints(text: Column, k: int = 5, w: int = 4) -> Column:
    """MOSS-style winnowing fingerprint set (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003): hash every k-token gram, slide a window over w consecutive
    gram hashes, keep each window's minimum, return the distinct selected
    hashes. Guarantee: any shared token run of length >= k + w - 1
    contributes at least one shared fingerprint, so PARTIAL overlap
    (copied passages, quotation, boilerplate reuse) is detectable — which
    whole-document similarity (minhash/simhash) misses by design.

    Pure column expressions; both rolling windows are built as arrays_zip
    of shifted slices (see `shingles` for why per-element lambdas over an
    index sequence would be O(n^2)). Hashes are md5-derived 60-bit
    bigints, portable to SQL oracles. Documents shorter than k tokens
    hash as a single gram; gram lists shorter than w keep their overall
    minimum (the standard winnowing edge rule).

    PERF: as a single expression the w hash-array slices re-hash every
    gram w times (no CSE in interpreted lambdas). Hot paths should
    materialize `winnowing_gram_hashes` as a column in one select and
    apply `winnowing_mins` in the next (operators/dedup.py does this —
    measured ~3x on the containment pipeline).
    """
    return winnowing_mins(winnowing_gram_hashes(text, k), w)


# ---------------------------------------------------------------------------
# Repetition / boilerplate quality signals (Gopher rules: Rae et al. 2021,
# "Scaling Language Models", Table A1; RefinedWeb: Penedo et al. 2023).
# All pure column expressions — the duplicate-mass identities avoid any
# per-gram shuffle: sum(count_g - 1) * len_g == sum(all) - sum(distinct).
# ---------------------------------------------------------------------------


def _char_sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0).cast("long"),
                       lambda acc, x: acc + F.length(x))


def _word_ngrams(text: Column, n: int) -> Column:
    """Overlapping word n-grams, NON-distinct (unlike `shingles`), order
    preserved; whole text as one gram when shorter than n tokens."""
    t = tokens(text)
    cnt = F.size(t)
    win = F.greatest(cnt - F.lit(n - 1), F.lit(0))
    parts = [F.slice(t, j + 1, win) for j in range(n)]
    grams = F.transform(
        F.arrays_zip(*parts),
        lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)]))
    return F.when(cnt >= n, grams).otherwise(
        F.array(F.concat_ws(" ", t)))


def duplicate_ngram_char_fraction(text: Column, n: int) -> Column:
    """Fraction of n-gram character mass belonging to REPEATED n-grams:
    sum over grams with count >= 2 of (count - 1) * len(gram), divided by
    the total gram character mass (Gopher's duplicate n-gram rule,
    n = 5..10 in the paper). Identity used: that numerator equals
    char_sum(all grams) - char_sum(distinct grams) — no per-gram counting
    or shuffle needed."""
    grams = _word_ngrams(text, n)
    total = _char_sum(grams)
    distinct_total = _char_sum(F.array_distinct(grams))
    return F.when(total > 0,
                  F.round((total - distinct_total).cast("double")
                          / total.cast("double"), 6)) \
        .otherwise(F.lit(0.0))


def lines(text: Column) -> Column:
    return F.split(text, "\n")


def duplicate_line_fraction(text: Column) -> Column:
    """Fraction of lines that are repeats of an earlier line."""
    ls = lines(text)
    n = F.size(ls)
    return F.when(n > 0,
                  F.round((n - F.size(F.array_distinct(ls)))
                          .cast("double") / n.cast("double"), 6)) \
        .otherwise(F.lit(0.0))


def duplicate_line_char_fraction(text: Column) -> Column:
    """Fraction of line character mass in repeated lines (same
    all-minus-distinct identity as the n-gram rule)."""
    ls = lines(text)
    total = _char_sum(ls)
    return F.when(total > 0,
                  F.round((total - _char_sum(F.array_distinct(ls)))
                          .cast("double") / total.cast("double"), 6)) \
        .otherwise(F.lit(0.0))


def bullet_line_fraction(text: Column) -> Column:
    """Fraction of lines starting with a bullet marker (Gopher drops docs
    with > 90% bullet lines)."""
    ls = lines(text)
    n = F.size(ls)
    bullets = F.size(F.filter(
        ls, lambda x: F.trim(x).rlike(r"^[-*•]")))
    return F.when(n > 0, F.round(bullets.cast("double") / n.cast("double"),
                                 6)).otherwise(F.lit(0.0))


def ellipsis_line_fraction(text: Column) -> Column:
    """Fraction of lines ending with an ellipsis (Gopher drops > 30%)."""
    ls = lines(text)
    n = F.size(ls)
    ell = F.size(F.filter(
        ls, lambda x: F.trim(x).rlike(r"(\.\.\.|…)$")))
    return F.when(n > 0, F.round(ell.cast("double") / n.cast("double"),
                                 6)).otherwise(F.lit(0.0))


def line_signals(text: Column) -> Column:
    """All four Gopher line signals from ONE split: a struct
    (dup_line_frac, dup_line_char_frac, bullet_line_frac,
    ellipsis_line_frac). The individual builders each inline their own
    `split(text, '\\n')`; used together in one projection that is 4+
    split trees in the plan (whole-stage codegen's subexpression
    elimination usually collapses them, but it is best-effort and off
    for interpreted fallbacks). This composes every signal over ONE
    bound array so the plan is one-split by construction — prefer it
    when deriving several line signals in the same select."""
    def _ratio(num, den):
        return (F.when(den > 0,
                       F.round(num.cast("double") / den.cast("double"), 6))
                .otherwise(F.lit(0.0)))

    def _build(ls):  # ls is a BOUND lambda variable — split ran once
        n = F.size(ls)
        total = _char_sum(ls)
        dls = F.array_distinct(ls)
        bullets = F.size(F.filter(
            ls, lambda x: F.trim(x).rlike(r"^[-*•]")))
        ell = F.size(F.filter(
            ls, lambda x: F.trim(x).rlike(r"(\.\.\.|…)$")))
        return F.struct(
            _ratio(n - F.size(dls), n).alias("dup_line_frac"),
            _ratio(total - _char_sum(dls), total)
            .alias("dup_line_char_frac"),
            _ratio(bullets, n).alias("bullet_line_frac"),
            _ratio(ell, n).alias("ellipsis_line_frac"))

    return F.transform(F.array(lines(text)), _build)[0]


def symbol_word_ratio(text: Column) -> Column:
    """(# of '#' and ellipsis symbols) / word count (Gopher drops > 0.1)."""
    n = token_count(text)
    symbols = (F.length(text) - F.length(F.regexp_replace(text, "#", ""))
               + F.size(F.regexp_extract_all(text, F.lit(r"\.\.\."), 0)))
    return F.when(n > 0, F.round(symbols.cast("double") / n.cast("double"),
                                 6)).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# PII scrubbing (training-data hygiene). Patterns are written in the
# common Java-regex / RE2 subset so SQL oracles can mirror them exactly.
# ---------------------------------------------------------------------------

PII_PATTERNS = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
              "[EMAIL]"),
    "ip": (r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "[IP]"),
    "ssn": (r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "[SSN]"),
    "phone": (r"\+[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,4}[- ][0-9]{3,4}\b",
              "[PHONE]"),
}

# Replacement order matters: SSNs and phones contain digit runs an IP
# pattern could partially shadow, so structured formats go first.
_PII_ORDER = ("email", "ssn", "phone", "ip")


def scrub_pii(text: Column,
              kinds: "tuple[str, ...]" = _PII_ORDER) -> Column:
    """Replace e-mail addresses, IPv4s, SSNs and international-format
    phone numbers with typed placeholder tokens ([EMAIL], [IP], ...)."""
    out = text
    for kind in _PII_ORDER:
        if kind not in kinds:
            continue
        pattern, repl = PII_PATTERNS[kind]
        out = F.regexp_replace(out, pattern, repl)
    return out


def pii_count(text: Column, kind: str) -> Column:
    """Number of matches of one PII kind (non-overlapping)."""
    pattern, _ = PII_PATTERNS[kind]
    return F.size(F.regexp_extract_all(text, F.lit(pattern), 0))


def normalize_text(text: Column,
                   lowercase: bool = False,
                   keep_newlines: bool = True) -> Column:
    """Corpus-standard text normalization as pure codegen expressions
    (the cleanup pass run BEFORE dedup/quality so fingerprints compare
    like-for-like): strip C0/C1 control characters (tab and — with
    ``keep_newlines`` — newline survive as structure), normalize CRLF
    to LF, collapse runs of spaces/tabs to one space, trim each line's
    edges, and drop leading/trailing blank lines. ``lowercase`` folds
    case last. Unicode normalization (NFKC) is intentionally NOT done
    here — it needs a Python UDF; at 100 TB keep the hot path codegen
    and reserve NFKC for a targeted pass.
    """
    t = F.regexp_replace(text, "\r\n?", "\n")
    t = F.regexp_replace(
        t, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]", "")
    if not keep_newlines:
        t = F.regexp_replace(t, "\n", " ")
    t = F.regexp_replace(t, "[ \\t]+", " ")
    t = F.regexp_replace(t, " ?\n ?", "\n")        # trim line edges
    t = F.regexp_replace(t, "^[\n ]+|[\n ]+$", "")  # outer blanks
    return F.lower(t) if lowercase else t


def unicode_normalize(text: Column, form: str = "NFKC") -> Column:
    """Unicode normalization (the targeted pass `normalize_text`
    deliberately defers): NFKC folds compatibility characters
    (fullwidth Latin, ligatures, superscripts) and canonically composes
    combining marks, so a multilingual corpus fingerprints
    like-for-like before dedup. This is the one Python step in the
    text stack — an Arrow-batched pandas UDF (unicodedata.normalize is
    C-speed per string; the batch transfer dominates), NOT a
    row-at-a-time UDF. At 100 TB, run it once up front and persist the
    normalized text rather than re-normalizing per downstream pass.
    """
    import unicodedata

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"form must be NFC/NFD/NFKC/NFKD, got {form!r}")

    @F.pandas_udf("string")
    def _norm(s):  # pd.Series -> pd.Series
        return s.map(lambda v: None if v is None
                     else unicodedata.normalize(form, v))

    return _norm(text)


# ---------------------------------------------------------------------------
# Code-vs-prose detection (training-data routing: source code wants
# different dedup/quality/tokenizer treatment than natural language).
# Pure codegen regexp counts; thresholds engine-portable via 6dp rounds.
# ---------------------------------------------------------------------------

_CODE_KEYWORD_PATTERN = (
    r"\b(def|return|import|class|function|var|const|let|void|int|"
    r"public|private|static|if|else|for|while|printf|println|lambda|"
    r"struct|enum|impl|fn|pub|use|package|namespace|template)\b")


def code_signals(text: Column) -> Column:
    """Struct of code-likeness signals per document (all per-char or
    per-line ratios, 6dp): brace/bracket density, semicolon-line
    fraction, indented-line fraction, keyword density per token, and
    assignment-operator density."""
    n_chars = F.greatest(F.length(text), F.lit(1))
    ls = lines(text)
    n_lines = F.greatest(F.size(ls), F.lit(1))

    def _count(pattern):
        return F.size(F.regexp_extract_all(text, F.lit(pattern), 0))

    braces = _count(r"[{}\[\]()]")
    semis = F.size(F.filter(ls, lambda x: x.rlike(";\\s*$")))
    indented = F.size(F.filter(ls, lambda x: x.rlike("^(    |\\t)")))
    keywords = _count(_CODE_KEYWORD_PATTERN)
    assigns = _count(r"(==|!=|<=|>=|->|=>|\+=|-=|\*=|/=|::|:=)")
    n_tok = F.greatest(token_count(text), F.lit(1))
    return F.struct(
        F.round(braces.cast("double") / n_chars, 6)
        .alias("brace_density"),
        F.round(semis.cast("double") / n_lines, 6)
        .alias("semicolon_line_frac"),
        F.round(indented.cast("double") / n_lines, 6)
        .alias("indent_line_frac"),
        F.round(keywords.cast("double") / n_tok, 6)
        .alias("keyword_density"),
        F.round(assigns.cast("double") / n_chars, 6)
        .alias("assign_density"))


def code_score(text: Column) -> Column:
    """Weighted code-likeness score in [0, ~1]: a linear blend of the
    `code_signals` ratios (weights chosen so idiomatic source scores
    >0.5 and prose <0.1; it is a routing heuristic, not a classifier —
    train `mixing.train_linear_classifier` on labels when you have
    them)."""
    s = code_signals(text)
    return F.round(
        F.least(F.lit(1.0),
                s["brace_density"] * 8.0
                + s["semicolon_line_frac"] * 1.2
                + s["indent_line_frac"] * 0.8
                + s["keyword_density"] * 3.0
                + s["assign_density"] * 10.0), 6)


def is_code(text: Column, threshold: float = 0.3) -> Column:
    return code_score(text) >= threshold


# ---------------------------------------------------------------------------
# Readability (Flesch-Kincaid grade / Flesch reading-ease) — the classic
# curation band filter ("drop below grade 3, flag above grade 16"). Pure
# codegen regexp counts; the syllable count is the standard vowel-group
# approximation, applied corpus-side where per-word dictionaries don't
# scale. Regexes stay in the Java/RE2-common subset for SQL oracles.
# ---------------------------------------------------------------------------


def sentence_count(text: Column) -> Column:
    """Number of [.!?]+ runs, floored at 1 for non-empty text."""
    runs = F.size(F.regexp_extract_all(text, F.lit(r"[.!?]+"), 0))
    return F.when(F.length(text) == 0, F.lit(0)) \
        .otherwise(F.greatest(runs, F.lit(1)))


def syllable_estimate(text: Column) -> Column:
    """Vowel-group syllable approximation over the whole text (sum of
    per-word vowel runs == text-level vowel runs for space-separated
    words)."""
    return F.size(F.regexp_extract_all(text, F.lit(r"[aeiouyAEIOUY]+"),
                                       0))


def flesch_kincaid_grade(text: Column) -> Column:
    """FK grade = 0.39*(words/sentences) + 11.8*(syllables/words)
    - 15.59, NULL-safe to 0.0 on empty text. Fixed evaluation order so
    a SQL mirror is bit-identical."""
    w = token_count(text).cast("double")
    s = sentence_count(text).cast("double")
    sy = syllable_estimate(text).cast("double")
    grade = (F.lit(0.39) * (w / s) + F.lit(11.8) * (sy / w)
             - F.lit(15.59))
    return F.when((w > 0) & (s > 0), F.round(grade, 6)) \
        .otherwise(F.lit(0.0))


# UTF-8 bytes mis-decoded as cp1252/latin-1 -- the classic web-crawl
# mojibake artifacts (the most common of ftfy's fix table). Ordered
# longest-first so three-byte artifacts repair before their two-byte
# prefixes. Stored with explicit escapes: several artifacts contain
# C1 control characters that must never appear raw in source.
MOJIBAKE_FIXES = (
    ("\u00e2\u20ac\u2122", "\u2019"),   # a-circ euro quote  -> '
    ("\u00e2\u20ac\u0153", "\u201c"),   # -> left double quote
    ("\u00e2\u20ac\u009d", "\u201d"),   # -> right double quote
    ("\u00e2\u20ac\u201c", "\u2013"),   # -> en dash
    ("\u00e2\u20ac\u201d", "\u2014"),   # -> em dash
    ("\u00e2\u20ac\u00a6", "\u2026"),   # -> ellipsis
    ("\u00c3\u00a9", "\u00e9"),          # -> e acute
    ("\u00c3\u00a8", "\u00e8"),          # -> e grave
    ("\u00c3\u00a4", "\u00e4"),          # -> a umlaut
    ("\u00c3\u00b6", "\u00f6"),          # -> o umlaut
    ("\u00c3\u00bc", "\u00fc"),          # -> u umlaut
    ("\u00c3\u00b1", "\u00f1"),          # -> n tilde
    ("\u00c3\u00a7", "\u00e7"),          # -> c cedilla
    ("\u00c3\u00a0", "\u00e0"),          # -> a grave
    ("\u00c2\u00a0", " "),                # A-circ + nbsp -> space
)


def fix_mojibake(text: Column) -> Column:
    """Repair the common UTF-8-decoded-as-cp1252 double-encoding
    artifacts (the high-frequency subset of ftfy's fix table -- the
    full tool is heuristic; this is the deterministic, engine-portable
    core a cleaning pipeline runs at scan speed). A chain of LITERAL
    replaces (no regex), longest artifact first; mirrors into any SQL
    engine's replace()."""
    out = text
    for bad, good in MOJIBAKE_FIXES:
        out = F.replace(out, F.lit(bad), F.lit(good))
    return out


def mojibake_count(text: Column) -> Column:
    """How many mojibake artifacts `fix_mojibake` would repair -- the
    corpus-health metric to trend per source/snapshot. Counted on the
    same longest-first chain (each artifact counts on text whose longer
    artifacts are already repaired, so a 3-char artifact is never
    double-counted through its suffix)."""
    total = F.lit(0).cast("long")
    cur = text
    for bad, good in MOJIBAKE_FIXES:
        removed = F.length(cur) - F.length(
            F.replace(cur, F.lit(bad), F.lit("")))
        total = total + (removed / len(bad)).cast("long")
        cur = F.replace(cur, F.lit(bad), F.lit(good))
    return total
