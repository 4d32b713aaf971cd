"""Text-analysis primitives for training-data pipelines.

All pure Column expressions (whole-stage codegen, zero Python on the hot
path): whitespace/BPE-ish tokenization, k-token shingles, a stopword/marker
language-ID heuristic, a length/punct/stopword quality score, and a
polynomial rolling-hash document fingerprint.

Each Spark builder has a DuckDB SQL twin (suffix ``_sql``) generated from the
same spec so the driver's oracle compare is exact. Parity is pinned in
tests/test_text.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Rolling-hash parameters (31-ary polynomial mod a 30-bit prime: products stay
# far below int64 overflow in both engines).
FP_BASE = 31
FP_MOD = 1_000_000_007

BPE_TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

# marker-token vote sets for the language-ID heuristic (deterministic
# tie-break: priority order en > de > es > fr, strict-greater comparisons)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "a"),
    "de": ("der", "die", "und", "das", "ein"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "et", "les", "des"),
}
LANG_PRIORITY = ("en", "de", "es", "fr")


def tokens(text: Column | str) -> Column:
    """Lowercased whitespace tokens, empties removed."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), r"\s+"), lambda x: x != "")


def tokens_sql(expr: str) -> str:
    return (
        f"list_filter(string_split_regex(lower({expr}), '\\s+'), x -> x <> '')"
    )


def token_count_ws(text: Column | str) -> Column:
    return F.size(tokens(text))


def token_count_ws_sql(expr: str) -> str:
    return f"len({tokens_sql(expr)})"


def token_count_bpe(text: Column | str) -> Column:
    """BPE-ish token count: runs of letters, runs of digits, single symbols.

    regexp_count == len(regexp_extract_all(...)) for any input (same
    non-overlapping match walk). It does not save the match array: Spark
    rewrites regexp_count to size(regexp_extract_all(...)), so the array is
    still built per row."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(F.lower(c), F.lit(BPE_TOKEN_RE))


def token_count_bpe_sql(expr: str) -> str:
    return f"len(regexp_extract_all(lower({expr}), '{BPE_TOKEN_RE}'))"


def _in_set(x: Column, values: tuple[str, ...]) -> Column:
    return F.array_contains(F.array(*[F.lit(v) for v in values]), x)


def stopword_count(text: Column | str) -> Column:
    return F.size(F.filter(tokens(text), lambda x: _in_set(x, STOPWORDS)))


def _set_count_sql(tokens_expr: str, values: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{v}'" for v in values)
    return f"len(list_filter({tokens_expr}, x -> x IN ({lst})))"


def stopword_count_sql(expr: str) -> str:
    return _set_count_sql(tokens_sql(expr), STOPWORDS)


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/space.

    Counted with translate: deleting every allowed character leaves exactly
    the [^A-Za-z0-9 ] ones, so length(translate(c, ALLOWED, '')) equals
    length - length(regexp_replace(...)) for every input — both walk code
    points — at char-map speed instead of regex speed (measured 6x). The
    spec/`_sql` form keeps the replace shape."""
    c = F.col(text) if isinstance(text, str) else text
    allowed = (
        "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789 "
    )
    n_bad = F.length(F.translate(c, allowed, ""))
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(
        n_bad / F.length(c).cast("double")
    )


def punct_ratio_sql(expr: str) -> str:
    kept = f"length(regexp_replace({expr}, '[^A-Za-z0-9 ]', '', 'g'))"
    return (
        f"CASE WHEN length({expr}) = 0 THEN 0.0 "
        f"ELSE (length({expr}) - {kept}) / CAST(length({expr}) AS DOUBLE) END"
    )


def quality_score(text: Column | str) -> Column:
    """Heuristic [0,1] quality: length, cleanliness, stopword signal.

    score = 0.4*min(1, n_tok/50) + 0.3*(1-punct_ratio) + 0.3*min(1, 5*stop_ratio)
    rounded to 6 decimals (stable across engines).
    """
    n_tok = token_count_ws(text).cast("double")
    stop_ratio = F.when(n_tok == 0, F.lit(0.0)).otherwise(
        stopword_count(text) / n_tok
    )
    score = (
        0.4 * F.least(F.lit(1.0), n_tok / F.lit(50.0))
        + 0.3 * (F.lit(1.0) - punct_ratio(text))
        + 0.3 * F.least(F.lit(1.0), stop_ratio * 5.0)
    )
    return F.round(score, 6)


def quality_score_sql(expr: str) -> str:
    n_tok = f"CAST({token_count_ws_sql(expr)} AS DOUBLE)"
    stop_ratio = (
        f"CASE WHEN {n_tok} = 0 THEN 0.0 ELSE {stopword_count_sql(expr)} / {n_tok} END"
    )
    return (
        f"round(0.4 * least(1.0, {n_tok} / 50.0)"
        f" + 0.3 * (1.0 - ({punct_ratio_sql(expr)}))"
        f" + 0.3 * least(1.0, ({stop_ratio}) * 5.0), 6)"
    )


def predicted_lang(text: Column | str) -> Column:
    """Marker-token-vote language ID; 'unk' when no marker fires."""
    def marker_counter(markers: tuple[str, ...]):
        return lambda x: _in_set(x, markers)

    counts = {
        lang: F.size(F.filter(tokens(text), marker_counter(markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    best = F.greatest(*[counts[lang] for lang in LANG_PRIORITY])
    result = F.lit("unk")
    # build the chain in reverse priority so earlier langs win strict ties
    for lang in reversed(LANG_PRIORITY):
        result = F.when((counts[lang] > 0) & (counts[lang] == best), F.lit(lang)).otherwise(result)
    return result


def predicted_lang_sql(expr: str) -> str:
    toks = tokens_sql(expr)
    counts = {
        lang: _set_count_sql(toks, markers) for lang, markers in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(counts[lang] for lang in LANG_PRIORITY) + ")"
    clauses = " ".join(
        f"WHEN ({counts[lang]}) > 0 AND ({counts[lang]}) = {best} THEN '{lang}'"
        for lang in LANG_PRIORITY
    )
    return f"CASE {clauses} ELSE 'unk' END"


def text_profile(df, id_col: str, text_col: str):
    """The t1 frame — (id, pred_lang, quality, tok_ws, tok_bpe) — with the
    token array HOISTED into one projection and every count computed once
    as a column.

    The composable per-column builders above re-derive ``tokens(text)``
    inside every lambda that needs it, and higher-order functions are
    neither codegen'd nor CSE'd, so the straightforward
    ``select(predicted_lang(text), quality_score(text), ...)`` plan
    tokenizes each document ~30 times (4 marker counts referenced from the
    greatest + two when-branches each, plus the stopword/length counts).
    This builder tokenizes ONCE and feeds plain integer attributes into
    the identical final expressions — same values, ~10x less per-row work
    (measured 7.6s → ~1s at sf1.0). The `_sql` oracle twins keep the
    composable spec form."""
    toks = df.select(
        F.col(id_col),
        F.col(text_col).alias("_text"),
        tokens(text_col).alias("_toks"),
    )
    def _set_filter(values: tuple[str, ...]):
        return lambda x: _in_set(x, values)

    counts = toks.select(
        F.col(id_col),
        "_text",
        F.size("_toks").alias("_ntok"),
        F.size(F.filter("_toks", _set_filter(STOPWORDS))).alias("_nstop"),
        *[
            F.size(F.filter("_toks", _set_filter(markers))).alias(f"_c_{lang}")
            for lang, markers in LANG_MARKERS.items()
        ],
    )
    best = F.greatest(*[F.col(f"_c_{lang}") for lang in LANG_PRIORITY])
    pred = F.lit("unk")
    for lang in reversed(LANG_PRIORITY):
        c = F.col(f"_c_{lang}")
        pred = F.when((c > 0) & (c == best), F.lit(lang)).otherwise(pred)
    n_tok = F.col("_ntok").cast("double")
    stop_ratio = F.when(n_tok == 0, F.lit(0.0)).otherwise(
        F.col("_nstop") / n_tok
    )
    score = (
        0.4 * F.least(F.lit(1.0), n_tok / F.lit(50.0))
        + 0.3 * (F.lit(1.0) - punct_ratio(F.col("_text")))
        + 0.3 * F.least(F.lit(1.0), stop_ratio * 5.0)
    )
    return counts.select(
        F.col(id_col),
        pred.alias("pred_lang"),
        F.round(score, 6).alias("quality"),
        F.col("_ntok").cast("long").alias("tok_ws"),
        token_count_bpe(F.col("_text")).cast("long").alias("tok_bpe"),
    )


def fingerprint(text: Column | str) -> Column:
    """Polynomial rolling hash over character codepoints (document
    fingerprinting for near-dup triage): fp = fold((acc*31 + ascii(ch)) % p).
    """
    c = F.col(text) if isinstance(text, str) else text
    chars = F.split(c, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * FP_BASE + F.ascii(ch)) % FP_MOD,
    )


def fingerprint_sql(expr: str) -> str:
    # DuckDB list_reduce has no explicit zero → prepend it.
    codes = f"list_transform(string_split({expr}, ''), ch -> CAST(ascii(ch) AS BIGINT))"
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), {codes}), "
        f"(acc, x) -> (acc * {FP_BASE} + x) % {FP_MOD})"
    )


def shingles_from_tokens(toks: Column, k: int) -> Column:
    """k-token shingles from an ALREADY-PROJECTED token-array column.

    Callers must hoist the token array into its own projection first:
    Catalyst does not CSE higher-order-function lambdas, so passing
    ``tokens(text)`` inline re-tokenizes once per shingle position
    (O(len²)/doc — the round-2 trap recorded in PLANS.md)."""
    windowed = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    return F.when(F.size(toks) >= k, windowed).otherwise(
        F.array(F.concat_ws(" ", toks))
    )


def shingles_from_tokens_sql(toks: str, k: int) -> str:
    windowed = (
        f"list_transform(generate_series(1, len({toks}) - {k - 1}), "
        f"i -> array_to_string(list_slice({toks}, i, i + {k - 1}), ' '))"
    )
    whole = f"[array_to_string({toks}, ' ')]"
    return f"CASE WHEN len({toks}) >= {k} THEN {windowed} ELSE {whole} END"


def max_multiplicity(arr: Column) -> Column:
    """Highest element multiplicity in an array column (the mode's count).

    O(d·u) per row (d = array length, u = distinct) — per-document bounded
    work that never shuffles, which is exactly the right trade at corpus
    scale vs an explode+groupBy per (doc, token). ``arr`` must be a plain
    column reference (see shingles_from_tokens on the CSE trap).

    Hot callers should project ``array_sort(arr)`` and use
    ``max_multiplicity_sorted`` instead — O(d) fold vs this O(d·u) nest."""
    return F.array_max(
        F.transform(
            F.array_distinct(arr),
            lambda x: F.size(F.filter(arr, lambda y: y == x)),
        )
    )


def max_multiplicity_sorted(sorted_arr: Column) -> Column:
    """``max_multiplicity`` over an ALREADY-SORTED, ALREADY-PROJECTED array
    attribute: equal elements are adjacent after the sort, so one
    run-length fold finds the mode's count in O(d) — vs the O(d·u)
    distinct×filter nest, all through interpreted lambdas (measured ~6x of
    t5's wall at sf1.0 before this).

    ``sorted_arr`` MUST be a plain column reference to a projected
    ``array_sort(...)`` column: the fold indexes back into it per element
    (element_at is O(1) on an attribute; an inline expression would be
    re-evaluated per element — the usual non-CSE lambda trap). Same
    integer for any input, so the oracle's O(d·u) spec form and this are
    interchangeable. Empty arrays yield NULL, matching max_multiplicity."""
    run_col = lambda acc, x: (  # noqa: E731 — shared by run/best fields
        F.when(
            (acc["i"] > 0) & (F.element_at(sorted_arr, acc["i"]) == x),
            acc["run"] + 1,
        ).otherwise(F.lit(1))
    )
    folded = F.aggregate(
        sorted_arr,
        F.struct(
            F.lit(0).alias("i"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            (acc["i"] + 1).alias("i"),
            run_col(acc, x).alias("run"),
            F.greatest(acc["best"], run_col(acc, x)).alias("best"),
        ),
    )["best"]
    return F.when(F.size(sorted_arr) > 0, folded)


def max_multiplicity_sql(arr: str) -> str:
    return (
        f"list_max(list_transform(list_distinct({arr}), "
        f"x -> len(list_filter({arr}, y -> y = x))))"
    )


def repetition_metrics_exploded(df, id_col: str, text_col: str, k: int = 2):
    """LONG-document twin of the t5 array folds: identical
    (top_tok_ratio, dup_kgram_frac, top_kgram_frac) via explode + groupBy,
    which is O(d) per document plus a shuffle instead of the array fold's
    shuffle-free O(d·u).

    Pick by document length: the array fold wins for the length-filtered
    corpus a curation pipeline actually scores (≤ ~1k tokens — no exchange,
    whole-stage codegen); this path wins for unfiltered outliers (a 100k-
    token document is 10^10 comparisons under the fold but 10^5 rows here).
    Equality of the two paths is pinned in tests/test_corpus_curation.py.
    Requires ≥1 token per document (empty docs drop out of the explode)."""
    from pyspark.sql import DataFrame  # noqa: F401  (doc aid)

    doc = F.col(id_col).alias("doc")
    # token array hoisted (non-CSE trap: inlining tokens() into the shingle
    # window lambda re-tokenizes per position); the generator inputs stay
    # EXPRESSIONS over the hoisted attribute, not bare column refs, so
    # InferFiltersFromGenerate does not re-inline the array build into a
    # pushed-down interpreted filter (see BENCH.md, 8x on d9)
    toks_df = df.select(doc, tokens(text_col).alias("t"))
    # concat(t) is an identity expression wrapper: keeps the generator input
    # non-attribute at zero cost
    tok_rows = toks_df.select("doc", F.explode(F.concat("t")).alias("tok"))
    gram_rows = toks_df.select(
        "doc",
        F.explode(shingles_from_tokens(F.col("t"), k)).alias("gram"),
    )
    tok_stats = (
        tok_rows.groupBy("doc", "tok")
        .count()
        .groupBy("doc")
        .agg(
            F.sum("count").alias("n_tok"),
            F.max("count").alias("max_tok"),
        )
    )
    gram_stats = (
        gram_rows.groupBy("doc", "gram")
        .count()
        .groupBy("doc")
        .agg(
            F.sum("count").alias("n_g"),
            F.max("count").alias("max_g"),
            F.count(F.lit(1)).alias("n_g_distinct"),
        )
    )
    return tok_stats.join(gram_stats, "doc").select(
        F.col("doc").alias(id_col),
        F.round(F.col("max_tok") / F.col("n_tok").cast("double"), 6).alias(
            "top_tok_ratio"
        ),
        F.round(
            F.lit(1.0) - F.col("n_g_distinct") / F.col("n_g").cast("double"), 6
        ).alias("dup_2gram_frac"),
        F.round(F.col("max_g") / F.col("n_g").cast("double"), 6).alias(
            "top_2gram_frac"
        ),
    )


# ---------------------------------------------------------------------------
# PII detection/redaction (corpus scrubbing) — pure regex Columns.
# Patterns are chosen to mean the same thing in Java regex (Spark) and RE2
# (DuckDB): \b, \d and bounded quantifiers behave identically.
# ---------------------------------------------------------------------------

PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b555-\d{4}\b", "<PHONE>"),
)


def pii_count(text: Column | str, pattern: str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(pattern)).cast("long")


def pii_count_sql(expr: str, pattern: str) -> str:
    return f"CAST(len(regexp_extract_all({expr}, '{pattern}')) AS BIGINT)"


def pii_scrub(text: Column | str) -> Column:
    """Redact every PII class, in the fixed PII_PATTERNS order (email first
    so later passes never see an address's digit runs)."""
    c = F.col(text) if isinstance(text, str) else text
    for _, pattern, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pattern, repl)
    return c


def pii_scrub_sql(expr: str) -> str:
    for _, pattern, repl in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pattern}', '{repl}', 'g')"
    return expr


def shingles(text: Column | str, k: int = 3) -> Column:
    """k-token shingles (space-joined). Shorter docs yield one whole-doc
    shingle so every document participates in dedup."""
    toks = tokens(text)
    windowed = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    return F.when(F.size(toks) >= k, windowed).otherwise(
        F.array(F.concat_ws(" ", toks))
    )


def shingles_sql(expr: str, k: int = 3) -> str:
    toks = tokens_sql(expr)
    windowed = (
        f"list_transform(generate_series(1, len({toks}) - {k - 1}), "
        f"i -> array_to_string(list_slice({toks}, i, i + {k - 1}), ' '))"
    )
    whole = f"[array_to_string({toks}, ' ')]"
    return f"CASE WHEN len({toks}) >= {k} THEN {windowed} ELSE {whole} END"
