"""Text-analysis functions for training-data pipelines: language ID, quality
scoring, token counting, document fingerprinting.

Each function has a DuckDB twin with identical semantics in
``oracles/text.py`` (the oracle harness runs both). All expressions are
built-in string/regex functions — JVM-side, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# language → marker stopwords (tiny deterministic heuristic; accuracy is not
# the point — engine-identical scoring is)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "y", "que"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
    "zh": ["的", "是", "了", "在", "我"],
}

WS = r"\s+"
_WS_SQL = r"\\s+"  # the same pattern as a SQL-string literal (escaped \)
# BPE-ish tokenization: letter runs, digit runs, single punctuation marks
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


# -- token counting --------------------------------------------------------

def floor_round(expr: str, nd: int = 6) -> str:
    """Engine-exact ``nd``-decimal rounding of a DOUBLE expression.

    ``floor(x*10^nd + 0.5)/10^nd`` instead of ``round(x, nd)``: Spark
    rounds the shortest decimal repr (BigDecimal HALF_UP) while DuckDB
    rounds the exact binary value, and they disagree when the double
    sits within an ulp of a decimal midpoint (observed at sf0.1). floor
    of the identical double is exact on both engines — quantize.py's
    rule. Tie semantics: midpoints round toward +∞ (HALF_UP for
    non-negative values, HALF_CEILING for negatives: -1.5e-6 → -1e-6,
    not -2e-6) — a deliberate, documented difference from decimal
    HALF_UP, chosen because the expression is bit-identical on every
    engine. ONE definition so a future change to the quantum or tie
    rule lands in one place; every cross-engine round-``nd`` final
    must use this helper (or :func:`floor_round_py` in Arrow kernels).

    ``nd`` is bounded to [0, 15] in ALL THREE forms (SQL, Column,
    Python) so no engine side can silently accept a scale its twin
    rejects: past 15 the ``repr(10.0**nd)`` scale flips to scientific
    notation (``1e+16``), whose ``D``-suffixed form Spark SQL does not
    parse — and doubles only have ~15.95 significant decimal digits,
    so a finer quantum is no-op noise anyway.
    """
    scale = floor_round_scale(nd)
    return f"(floor(({expr}) * {scale}D + 0.5D) / {scale}D)"


def floor_round_scale(nd: int) -> str:
    """The ``10^nd`` quantum as a SQL numeric literal, shared with the
    oracle form so both engines scale by the identical double."""
    _check_nd(nd)
    return repr(10.0 ** nd)


def _check_nd(nd: int) -> None:
    if not 0 <= nd <= 15:
        raise ValueError(f"floor_round nd must be in [0, 15]: {nd}")


def floor_round_py(x: float, nd: int = 6) -> float:
    """Python twin of :func:`floor_round` — the SAME IEEE ops
    (multiply, add 0.5, floor, divide) on the same double, so an Arrow
    kernel's value is bit-equal to the Spark expression and the DuckDB
    oracle. Used wherever a Python kernel emits a value an engine-side
    expression re-derives."""
    import math

    _check_nd(nd)
    scale = 10.0 ** nd
    return math.floor(x * scale + 0.5) / scale


def floor_round_col(col: Column, nd: int = 6) -> Column:
    """Column-API twin of :func:`floor_round`: the same IEEE multiply /
    add-0.5 / floor(→BIGINT) / divide sequence, for call sites that hold
    a ``Column`` rather than a SQL string."""
    _check_nd(nd)
    scale = F.lit(10.0 ** nd)
    return F.floor(col * scale + F.lit(0.5)) / scale


# The package-wide rounding rule (grep-enforceable):
#
#   Every DOUBLE value that is rounded AND compared across engines
#   (Spark result vs DuckDB oracle) must quantize with floor_round /
#   floor_round_col / floor_round_py — never native round().
#
# Native round() on a double is the one operation in the corpus where
# the engines legitimately disagree: Spark rounds the SHORTEST DECIMAL
# REPR (BigDecimal HALF_UP) while DuckDB rounds the exact binary value,
# so any double within an ulp of a decimal midpoint flips (six
# single-row hits in the round-5 sf0.1 sweep). Native round() remains
# correct, and is deliberately kept, in exactly three cases — mark such
# call sites with a `native-round-ok` comment so
# `grep -rn "F.round\|[^_]round(" flink_sql_security_spark/ | grep -v
# "floor_round\|native-round-ok"` stays clean:
#   (a) DECIMAL-typed arithmetic — exact on both engines, no binary
#       representation involved;
#   (b) driver-side Python round() whose result is embedded as the SAME
#       literal into both engines' SQL (one computation, two copies);
#   (c) single-engine surfaces with no oracle twin (demo sources,
#       display formatting).


def word_count(text: Column) -> Column:
    return F.size(F.split(F.lower(F.trim(text)), WS))


def bpe_token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_PATTERN), F.lit(0)))


# -- quality scoring -------------------------------------------------------

def _ratio(n: Column, d: Column) -> Column:
    return floor_round_col(n / F.greatest(d, F.lit(1)), 6)


def quality_features(text: Column) -> dict[str, Column]:
    """length, word count, mean word length, digit/punct ratios, stopword
    ratio — the standard cheap quality signals."""
    n_chars = F.length(text)
    n_words = word_count(text)
    n_digits = n_chars - F.length(F.regexp_replace(text, "[0-9]", ""))
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    n_stop = F.size(
        F.filter(
            F.split(F.lower(F.trim(text)), WS),
            lambda w: w.isin(*LANG_MARKERS["en"]),
        )
    )
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "mean_word_len": _ratio(
            F.length(F.regexp_replace(F.lower(F.trim(text)), WS, "")), n_words),
        "digit_ratio": _ratio(n_digits, n_chars),
        "punct_ratio": _ratio(n_punct, n_chars),
        "stopword_ratio": _ratio(n_stop, n_words),
    }


def quality_score(text: Column) -> Column:
    """Scalar quality score in [0,1]: rewards prose-like word length and
    stopword presence, penalizes digit/punct-heavy text.

    Single expression with the token array bound ONCE as a lambda
    variable (``transform(array(split(..)), ws -> ..)[0]``): the naive
    composition of :func:`quality_features` re-evaluates ``split`` per
    feature reference, and higher-order functions are interpreted (no
    codegen common-subexpression elimination), so the bound form is the
    difference between 1 and ~6 regex splits per row — and it is immune
    to predicate pushdown re-inlining when a filter lands on the score.
    Values are identical: same sub-ratios, same round(…, 6) points.
    """
    stops = ", ".join(f"'{w}'" for w in LANG_MARKERS["en"])
    sql = _single_text_sql(text)
    return F.expr(
        # NB: Spark SQL string literals process backslash escapes, so the
        # regex \s+ must be written \\s+ in the expression text
        # outer rounding is floor_round, not round(x, 6) — see the
        # helper's docstring for the engine-boundary rationale
        f"transform(array(split(lower(trim({sql})), '\\\\s+')), ws -> "
        + floor_round(
            "0.4 * least(" + floor_round(
                f"size(filter(ws, w -> w IN ({stops})))"
                " / greatest(size(ws), 1)") + " * 4, 1.0d)"
            " + 0.3 * least(" + floor_round(
                f"length(regexp_replace(lower(trim({sql})), '\\\\s+', ''))"
                " / greatest(size(ws), 1)") + " / 8, 1.0d)"
            " + 0.3 * (1 - least((" + floor_round(
                f"(length({sql}) - length(regexp_replace({sql}, '[0-9]', '')))"
                f" / greatest(length({sql}), 1)") + " + "
            + floor_round(
                f"(length({sql}) - length(regexp_replace({sql}, '[^\\\\w\\\\s]', '')))"
                f" / greatest(length({sql}), 1)")
            + ") * 2, 1.0d))")
        + ")[0]"
    )


def _single_text_sql(text: Column) -> str:
    """SQL fragment for a Column that must be a plain column reference
    (the bound-lambda expressions splice it into ``F.expr`` strings)."""
    from pyspark.sql.classic.column import Column as ClassicColumn

    if isinstance(text, ClassicColumn):
        name = text._jc.toString()
    else:  # pragma: no cover - connect-style columns
        name = str(text)
    if not name.replace("_", "").replace(".", "").isalnum():
        raise ValueError(
            f"quality_score/lang_id need a plain column reference, got {name!r}")
    return name


# -- Gopher quality rules ---------------------------------------------------
#
# The published document-quality heuristics from Rae et al. 2021 ("Scaling
# Language Models: Methods, Analysis & Insights from Training Gopher",
# Appendix A1.1) — the de-facto public baseline gate for web-scale LLM
# pretraining corpora (MassiveWeb; reused by many open pipelines). Seven
# rules; a document is kept only if it passes all of them:
#
#   1. 50 ≤ word count ≤ 100,000
#   2. 3 ≤ mean word length ≤ 10
#   3. symbol-to-word ratio ≤ 0.1        (symbols: '#', '...', '…')
#   4. ≤ 90% of lines start with a bullet ('-', '*', '•')
#   5. ≤ 30% of lines end with an ellipsis
#   6. ≥ 80% of words contain ≥ 1 alphabetic character
#   7. ≥ 2 DISTINCT members of the required-stopword set present
#      (the paper's "contain at least two of the following English
#      words: the, be, to, of, and, that, have, with")
#
# Pure projection in the dialect-common regex subset (JVM codegen on
# Spark, RE2 on DuckDB) — no shuffle, no UDF; at 100 TB the gate fuses
# into the scan and drops rows before anything wide runs. Like
# `quality_features`, each metric evaluates its own split (readable,
# independently usable); if a profiled hot path ever needs the arrays
# bound once, apply the `quality_score` transform-bind recipe.

GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
BULLET_RE = r"^\s*[-*•]"
ELLIPSIS_LINE_RE = r"(\.\.\.|…)\s*$"
ELLIPSIS_RE = r"\.\.\.|…"


def gopher_flags(text: Column) -> dict[str, Column]:
    """Per-document Gopher rule metrics + the combined ``keep`` gate.

    NULL text → NULL metrics and ``keep = false`` (a document that
    cannot be measured is not releasable). All ratios floor-rounded
    (package rule), so the threshold comparisons — and therefore
    ``keep`` — are bit-identical on both engines.
    """
    words = F.split(F.lower(F.trim(text)), WS)
    lines = F.split(text, "\n")
    n_words = F.size(words)
    n_lines = F.size(lines)
    hashes = F.length(text) - F.length(F.replace(text, F.lit("#")))
    ellipses = F.size(
        F.regexp_extract_all(text, F.lit(ELLIPSIS_RE), F.lit(0)))
    bullet_lines = F.size(F.filter(lines, lambda l: l.rlike(BULLET_RE)))
    ell_lines = F.size(
        F.filter(lines, lambda l: l.rlike(ELLIPSIS_LINE_RE)))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    stop_hits = F.when(text.isNull(), F.lit(None).cast("int")).otherwise(
        sum(F.when(F.array_contains(words, s), 1).otherwise(0)
            for s in GOPHER_STOPS))
    m = {
        "n_words": n_words,
        "mean_word_len": _ratio(
            F.length(F.regexp_replace(F.lower(F.trim(text)), WS, "")),
            n_words),
        "symbol_word_ratio": _ratio(hashes + ellipses, n_words),
        "bullet_line_frac": _ratio(bullet_lines, n_lines),
        "ellipsis_line_frac": _ratio(ell_lines, n_lines),
        "alpha_word_frac": _ratio(alpha_words, n_words),
        "stop_hits": stop_hits,
    }
    rules = [
        (m["n_words"] >= 50) & (m["n_words"] <= 100_000),
        (m["mean_word_len"] >= 3.0) & (m["mean_word_len"] <= 10.0),
        m["symbol_word_ratio"] <= 0.1,
        m["bullet_line_frac"] <= 0.9,
        m["ellipsis_line_frac"] <= 0.3,
        m["alpha_word_frac"] >= 0.8,
        m["stop_hits"] >= 2,
    ]
    # rules_passed (0-7) grades HOW close a document is to the gate —
    # corpora where the binary keep is one-sided still hash a
    # discriminating signal (the sf* documents all fail ≥2 rules)
    m["rules_passed"] = sum(
        F.when(r, 1).otherwise(0) for r in rules)
    m["keep"] = F.coalesce(
        rules[0] & rules[1] & rules[2] & rules[3]
        & rules[4] & rules[5] & rules[6],
        F.lit(False))
    return m


def gopher_select(df, text_col: str = "text", id_col: str = "doc_id"):
    """(id, metrics…, keep) — the per-document Gopher quality report;
    ``df.where(gopher_flags(col)['keep'])`` is the filtering form."""
    from ..operators.skew import spread_partitions

    flags = gopher_flags(F.col(text_col))
    # the regex battery is expensive narrow work over a 1-task scan of
    # a single-row-group file — spread when the input is small (no-op
    # on a corpus-sized scan, preserving the zero-exchange shape)
    return spread_partitions(df, key_col=id_col).select(
        F.col(id_col), *[v.alias(k) for k, v in flags.items()])


# -- C4 line-level cleaning ---------------------------------------------------
#
# The published line/page heuristics from Raffel et al. 2020 ("Exploring
# the Limits of Transfer Learning with a Unified Text-to-Text
# Transformer", §2.2 — the C4 corpus recipe), the line-level companion
# to the document-level Gopher gate above:
#
#   line kept  ⇔ ends in terminal punctuation (. ! ? ")  AND
#                has ≥ 5 words  AND  does not mention "javascript"
#   page kept  ⇔ ≥ 3 retained lines  AND  no "lorem ipsum"  AND
#                no "{" anywhere on the page
#
# (The paper's bad-words list is externally licensed; plug a custom
# pattern into the keep filter where a deployment needs it.) Pure
# projection like the Gopher gate — the transform rewrites the text
# column in place, so at 100 TB it fuses into the scan.

C4_LINE_KEEP_RE = r'[.!?"]\s*$'
C4_MIN_LINE_WORDS = 5
C4_MIN_LINES = 3


def _c4_kept_lines(text: Column) -> Column:
    return F.filter(
        F.split(text, "\n"),
        lambda l: l.rlike(C4_LINE_KEEP_RE)
        & (F.size(F.split(F.lower(F.trim(l)), WS))
           >= C4_MIN_LINE_WORDS)
        & ~F.lower(l).contains("javascript"))


def c4_clean(text: Column) -> dict[str, Column]:
    """C4 cleaning of one document: ``clean_text`` (retained lines
    re-joined; NULL when the page is dropped), ``n_lines_kept``, and
    the page-level ``keep``. NULL text → NULL/0/false like the Gopher
    gate."""
    kept = _c4_kept_lines(text)
    n_kept = F.size(kept)
    page = (F.coalesce(n_kept >= C4_MIN_LINES, F.lit(False))
            & ~F.coalesce(F.lower(text).contains("lorem ipsum"),
                          F.lit(True))
            & ~F.coalesce(text.contains("{"), F.lit(True)))
    return {
        "clean_text": F.when(page, F.array_join(kept, "\n")),
        "n_lines_kept": F.when(text.isNull(),
                               F.lit(None).cast("int")).otherwise(n_kept),
        "keep": page,
    }


def c4_select(df, text_col: str = "text", id_col: str = "doc_id"):
    """(id, clean_text, n_lines_kept, keep) — the C4 cleaning report;
    the corpus-transform form is
    ``df.where(m['keep']).withColumn(text_col, m['clean_text'])``."""
    m = c4_clean(F.col(text_col))
    return df.select(F.col(id_col),
                     *[v.alias(k) for k, v in m.items()])


# -- language identification ----------------------------------------------

def lang_id(text: Column) -> Column:
    """argmax over marker-stopword hit ratios; 'und' when nothing matches.
    Ties resolve by language-code order (deterministic in both engines).

    One expression, token array bound once: the score structs are folded
    with ``aggregate`` keeping the first strict maximum, which equals the
    when-chain tie order (alphabetical language code wins a tie). The
    naive greatest+when-chain form re-evaluated the split/filter pair
    ~35× per row in the interpreter — measured ~10× slower at sf0.1.
    """
    sql = _single_text_sql(text)
    entries = []
    for lang in sorted(LANG_MARKERS):
        lst = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        entries.append(
            f"named_struct('l', '{lang}', 's', "
            + floor_round(
                f"size(filter(ws, w -> w IN ({lst})))"
                " / greatest(size(ws), 1)") + ")")
    return F.expr(
        f"transform(array(split(lower(trim({sql})), '\\\\s+')), ws -> "
        f"aggregate(array({', '.join(entries)}), "
        "named_struct('l', 'und', 's', CAST(0 AS DOUBLE)), "
        "(acc, x) -> IF(x.s > acc.s, x, acc)).l)[0]"
    )


# -- fingerprinting --------------------------------------------------------

def fingerprint(text: Column) -> Column:
    """Content fingerprint: md5 of case/whitespace-normalized text."""
    return F.md5(F.lower(F.regexp_replace(F.trim(text), WS, " ")))


# -- PII redaction ---------------------------------------------------------
#
# Regex-only (JVM codegen'd on Spark, RE2 on DuckDB — patterns stay inside
# the dialect-common subset: char classes, bounded repeats, groups, no
# backrefs/lookarounds). Extends the reference's mask-function family
# (SURVEY §2.9) from column-level masks to free-text scrubbing — the form a
# training-data pipeline needs before text leaves the secure zone. Order is
# load-bearing: EMAIL first (its local part contains dots/digits that the
# IP/phone patterns could otherwise bite), CARD before PHONE (4-4-4-4
# contains 3-3-4 substrings), IP last.

PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"[0-9]{4}([- ][0-9]{4}){3}", "[CARD]"),
    (r"[0-9]{3}-[0-9]{2}-[0-9]{4}", "[SSN]"),
    (r"[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}", "[PHONE]"),
    (r"[0-9]{1,3}(\.[0-9]{1,3}){3}", "[IP]"),
]


def redact_pii(text: Column) -> Column:
    """Replace emails / card numbers / SSNs / phones / IPv4s with tags."""
    out = text
    for pat, tag in PII_PATTERNS:
        out = F.regexp_replace(out, pat, tag)
    return out


# -- vocabulary ------------------------------------------------------------

def top_tokens(df, text_col: str = "text", k: int = 100,
               id_col: str = "doc_id"):
    """Top-k tokens by total frequency: (token, n_total, n_docs, rank).

    The tokenizer-training primitive (vocab selection). One explode + one
    groupBy(token) shuffle with map-side partial agg; the final top-k is a
    single ordered limit (Spark plans TakeOrderedAndProject — no global
    sort materialization). Ties break lexicographically for determinism.
    The pre-explode repartition parallelizes single-file scans and is the
    cheaper exchange (doc-sized rows, not token-sized). AQE's byte-based
    re-coalescing of this keyed repartition is the RIGHT behavior here:
    the plan is consumed once and the per-row work (split + lower) is
    light, so task count should track bytes (measured: forcing an
    explicit 32-way spread cost +13% at sf0.1). Contrast
    ``tfidf_top_terms`` below, whose replayed doc-frequency subtree does
    need the explicit count.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    toks = (
        df.repartition(F.col(id_col))
        .select(F.col(id_col),
                F.explode(F.split(F.lower(F.trim(F.col(text_col))), WS))
                .alias("token"))
        .where(F.col("token") != "")
    )
    counts = toks.groupBy("token").agg(
        F.count("*").alias("n_total"),
        F.count_distinct(F.col(id_col)).alias("n_docs"))
    w = Window.orderBy(F.desc("n_total"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def tfidf_top_terms(df, text_col: str = "text", k: int = 3,
                    id_col: str = "doc_id", n_docs: int | None = None):
    """Top-k characteristic terms per document by tf·idf:
    (doc_id, token, tf, df, tfidf, rank).

    The keyword/topic-extraction primitive of a corpus-analysis pipeline.
    tf = in-document occurrences, idf = ln(N / df) with df = documents
    containing the token. Shuffle census: explode → groupBy(doc, token)
    (reuses the id-hash partitioning for the doc side), one groupBy(token)
    for document frequencies (map-side combine → ~|vocab| rows), one
    broadcast join of the (small) df table back onto term counts, one
    window shuffle for the per-doc top-k. N is resolved driver-side once
    (count of input docs) so the plan carries a literal, not a scalar
    subquery re-scan. Ties break lexicographically; tfidf is rounded to
    6 so both engines' ln() agree at output precision.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    if n_docs is None:
        n_docs = df.count()
    from flink_sql_security_spark.operators.skew import spread_partitions

    # explicit-count id-hash spread, not repartition(col): AQE
    # re-coalesces keyed repartitions by OUTPUT BYTES, which collapsed
    # the tokenize to one task on a single-row-group scan — measured:
    # the un-persisted document-frequency broadcast subtree re-ran the
    # whole tokenize serialized (1.8 s at sf0.1). Same id-hash
    # clustering the groupBy(id, token) reuses; counts are
    # partitioning-invariant.
    toks = (
        spread_partitions(df, key_col=id_col, always=True)
        .select(F.col(id_col),
                F.explode(F.split(F.lower(F.trim(F.col(text_col))), WS))
                .alias("token"))
        .where(F.col("token") != "")
    )
    tf = toks.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .withColumn("tfidf", floor_round_col(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "token", "tf", "df", "tfidf", "rank")
    )


def lm_score(df, text_col: str = "text", id_col: str = "doc_id"):
    """In-domain bigram-LM score per document: (doc_id, n_bigrams,
    avg_logprob) — the CCNet-style language-model quality gate, with the
    LM trained on the corpus itself (add-1 smoothing over the corpus
    vocabulary).

    avg_logprob = mean over the document's word bigrams of
    ``floor_round(ln((C(w1 w2) + 1) / (C(w1·) + V)), 6)``; higher = more
    in-domain. Cross-engine exactness: each bigram's logprob quantizes
    to 6 decimals with the shared floor rule and sums as DECIMAL (exact, order-independent — a
    double sum would be partition-order dependent), then one double
    division per document. Shuffle census: one explode→groupBy for
    bigram counts, the per-doc probe join keyed on the bigram, and the
    final per-doc aggregate. Context counts are NOT a second
    token-stream pass: C(w1·) = Σ over bigrams starting with w1 of
    C(w1 w2) exactly, so c1 folds off the (bigram-vocabulary-sized) c2
    table — one tiny exchange instead of a corpus-wide explode+groupBy
    (round-3 exchange diet: 12 → 6 distinct exchanges for the curriculum
    query, one fewer full pass over the corpus text).

    Bigram-build plan shape (measured 22s → 0.9s on the sf0.1 corpus):
    the tokenizing split is bound ONCE per row as a lambda variable
    (an alias-bound ``_w`` column gets re-inlined at every lambda
    reference — ~10 interpreted splits per row); the short-document gate
    filters the RAW text so nothing is inferred from the derived array;
    and ``explode_outer`` (never ``explode``) keeps
    InferFiltersFromGenerate from pushing a ``size(_bgs) > 0`` filter
    that would re-evaluate the whole build below the exchange. The gate
    makes the outer explode semantically identical to the inner one
    (arrays are provably non-empty).
    """
    from pyspark.sql import functions as F

    from ..operators.skew import spread_partitions

    # single-row-group corpus files scan as ONE task; the bigram build
    # below is the expensive narrow kernel, so spread it across cores
    # (conditional: a corpus-sized scan skips the exchange entirely)
    df = spread_partitions(df, key_col=id_col)
    words = F.split(F.lower(F.trim(F.col(text_col))), WS)
    toks = (
        df.where(F.size(words) >= 2)
        .select(F.col(id_col), F.expr(
            f"transform(array(split(lower(trim({text_col})), '{_WS_SQL}')), "
            "ws -> transform(sequence(0, size(ws) - 2), "
            "i -> struct(ws[i] AS w1, concat_ws(' ', ws[i], ws[i+1]) AS bg))"
            ")[0]").alias("_bgs"))
        .select(F.col(id_col), F.explode_outer("_bgs").alias("b"))
        .select(F.col(id_col), F.col("b.w1").alias("w1"),
                F.col("b.bg").alias("bg"))
    )
    c2 = toks.groupBy("bg").agg(F.count("*").alias("c2"))
    # split-on-\s+ tokens contain no whitespace, so the part before the
    # bigram's space IS w1 — fold off c2 (vocab-sized), not the tokens
    c1 = (c2.groupBy(F.substring_index("bg", " ", 1).alias("w1"))
          .agg(F.sum("c2").alias("c1")))
    # vocabulary size rides as a 1-row broadcast crossJoin INSIDE the
    # main DAG (the oracle's own CROSS JOIN uni shape) instead of a
    # blocking driver collect — same exact integer, same
    # ``CAST(c1 + v AS DOUBLE)`` arithmetic, one fewer serialized job
    # ahead of the scoring plan
    uni = (df.select(F.explode(words).alias("t")).where(F.col("t") != "")
           .agg(F.count_distinct("t").alias("_v")))
    logp = F.expr(
        "CAST(" + floor_round("ln((c2 + 1) / CAST(c1 + _v AS DOUBLE))", 6)
        + " AS DECIMAL(18,6))")
    return (
        toks.join(c2, "bg").join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(uni))
        .select(F.col(id_col), logp.alias("_lp"))
        .groupBy(id_col)
        .agg(F.count("*").alias("n_bigrams"),
             F.sum("_lp").alias("_sum"))
        .select(F.col(id_col), "n_bigrams",
                F.expr(floor_round("CAST(_sum AS DOUBLE) / n_bigrams"))
                .alias("avg_logprob"))
    )


# -- within-document repetition (Gopher-style quality rules) ---------------
#
# Repetitious documents (boilerplate, scraped spam, degenerate generations)
# are the classic LLM-pretraining poison; the Gopher/MassiveText rules gate
# on duplicate-n-gram fractions and most-common-token share. All three
# signals here are computed per-row with JVM higher-order array functions —
# no explode, no shuffle, no Python: at 100 TB this is a pure narrow map
# over the scan.

def _word_grams(words: Column, n: int) -> Column:
    return F.expr(
        f"CASE WHEN size(_rw) >= {n} THEN "
        f"transform(sequence(0, size(_rw) - {n}), "
        f"i -> concat_ws(' ', slice(_rw, i + 1, {n}))) "
        "ELSE array() END"
    )


def repetition_metrics(text: Column, n: int = 2) -> dict[str, Column]:
    """dup_word_frac, dup_gram_frac (n-grams), top_word_frac per document.

    ``top_word_frac`` (share of the most frequent word) is a max-run-length
    scan over the sorted word array via ``aggregate`` — max frequency in a
    multiset equals the longest equal-run in its sorted order. Callers must
    alias ``_rw`` to the split word array and ``_rg`` to the gram array
    first (see ``repetition_select``) — the gram build is an interpreted
    higher-order function, so referencing an unbound gram expression twice
    (size + array_distinct) would run it twice per row.
    """
    words = F.col("_rw")
    n_words = F.size(words)
    grams = F.col("_rg")
    n_grams = F.size(grams)
    best_run = F.aggregate(
        F.array_sort(words),
        F.struct(F.lit(None).cast("string").alias("prev"),
                 F.lit(0).alias("run"), F.lit(0).alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best")),
        lambda acc: acc.best,
    )
    return {
        "dup_word_frac": _ratio(n_words - F.size(F.array_distinct(words)), n_words),
        "dup_gram_frac": F.when(n_grams == 0, F.lit(0.0)).otherwise(
            _ratio(n_grams - F.size(F.array_distinct(grams)), n_grams)),
        "top_word_frac": _ratio(best_run, n_words),
    }


def repetition_select(df, text_col: str = "text", id_col: str = "doc_id",
                      n: int = 2):
    """(id, dup_word_frac, dup_gram_frac, top_word_frac) per document."""
    staged = df.select(
        F.col(id_col),
        F.split(F.lower(F.trim(F.col(text_col))), WS).alias("_rw"),
    ).select(
        F.col(id_col), F.col("_rw"),
        _word_grams(F.col("_rw"), n).alias("_rg"))
    m = repetition_metrics(F.col("_rw"), n=n)
    return staged.select(
        F.col(id_col),
        m["dup_word_frac"].alias("dup_word_frac"),
        m["dup_gram_frac"].alias("dup_gram_frac"),
        m["top_word_frac"].alias("top_word_frac"),
    )
