"""Text-analysis column functions (SURVEY.md §2.11 X5; north-star text ops).

Language-ID, quality scoring, token counting, fingerprinting, shingling —
all as built-in-function compositions (JVM-side).  The heuristics are
deliberately simple and *deterministic*: every one has an equivalent ANSI-SQL
formulation the DuckDB oracle can run.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from r_e_hive__spark.functions import str_lit_sql

# Tiny per-language stopword marker sets for the n-gram/stopword language-ID
# heuristic.  Real pipelines plug fastText/cld3 in via pandas_udf; the
# heuristic keeps the operator testable without external models.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "la", "de", "y", "que"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")


# Whitespace tokenizer regex (Java ``\s``: ASCII whitespace only), the one
# source for both tokens() and tokens_sql().
WS_SPLIT = r"\s+"


def tokens(text: Column) -> Column:
    """Whitespace tokenization."""
    return F.split(text, WS_SPLIT)


def tokens_sql(text: str) -> str:
    """:func:`tokens` as SQL text (round 11): same split, same regex.
    ``text`` is a SQL fragment (a quoted column name), not a Column.  The
    renderers collapse py4j round-trips in plan-building hot paths — see
    functions/vector.py's renderer block for the measured rationale; value
    identity with tokens() is pinned in tests/test_dedup.py."""
    return f"split({text}, {str_lit_sql(WS_SPLIT)})"


def shingles_sql(text: str, k: int = 3) -> str:
    """Word k-shingles as an array<string> (dedup building block, X2).

    transform(sequence(0, n-k)) over the token array — JVM higher-order
    functions, no UDF, no explode until the caller wants one; a document
    with fewer than k tokens yields the whole document as its one shingle.
    The token array is let-bound (``transform(array(tokens), ...)[0]``, the
    ``bind_once`` shape) so the document is tokenized ONCE, not once per
    shingle index — see ``bind_once`` for the interpreted-HOF
    re-evaluation hazard this avoids (6.6× on the sf0.1 explode path)."""
    return (
        f"transform(array({tokens_sql(text)}), _tk -> "
        f"CASE WHEN size(_tk) >= {k} THEN "
        f"transform(sequence(0, greatest(size(_tk) - {k}, 0)), "
        f"_i -> concat_ws(' ', slice(_tk, _i + 1, {k}))) "
        f"ELSE array(concat_ws(' ', _tk)) END)[0]"
    )


def n_tokens(text: Column) -> Column:
    return F.size(tokens(text))


# GPT-2-style pre-tokenizer shape, restricted to constructs shared by Java
# regex and RE2 (no lookahead): letter runs, digit runs, punctuation runs,
# each optionally preceded by one space.  Public construct (Radford et al.
# 2019 pre-tokenizer, simplified).  The whitespace class is spelled out
# because `\s` is a THREE-way dialect skew: Java \s = [ \t\n\x0B\f\r],
# RE2 \s = [\t\n\f\r ] (no \x0B), Python re \s additionally matches
# Unicode spaces (NBSP etc.) — this runs under all three (Spark
# regexp_extract_all, the DuckDB oracles, bpe_encode's re.compile), so
# only the explicit class keeps the tokenization engine-identical.
SUBWORD_RE = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\x0B\f\r]+"


def subword_tokens(text: Column) -> Column:
    """BPE-ish subword pre-tokenization as array<string> — the token-count
    estimator an LLM-data pipeline budgets with (letters/digits/punctuation
    split before merges; merges themselves need a vocab, out of scope)."""
    return F.regexp_extract_all(text, F.lit(SUBWORD_RE), 0)


def n_subword_tokens(text: Column) -> Column:
    return F.size(subword_tokens(text))


def count_in_set(text: Column, words: tuple[str, ...]) -> Column:
    """# tokens of ``text`` that are in ``words`` (lambda filter, JVM-side)."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(arr, t)))


def stopword_ratio(text: Column) -> Column:
    """Stopword tokens / total tokens.  Token array let-bound
    (``bind_once``): the old ``count_in_set(text)/n_tokens(text)`` form
    tokenized the document twice (round-11 HOF-lint find)."""
    arr = F.array(*[F.lit(w) for w in STOPWORDS])

    def body(toks: Column) -> Column:
        matched = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
        return matched / F.size(toks)

    return bind_once(tokens(text), body)


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are punctuation."""
    stripped = F.regexp_replace(text, r"[^\p{Punct}]", "")
    # GREATEST(len,1): an empty document is 0-punctuation, not a
    # divide-by-zero (hard error under Spark 4's default ANSI mode; the
    # DuckDB oracles carry the same guard)
    return F.length(stripped) / F.greatest(F.length(text), F.lit(1))


def quality_score(text: Column) -> Column:
    """Composite document-quality heuristic in [0, 1]:
    0.4·length-score + 0.3·stopword-score + 0.3·(1 − punct-ratio).
    Same shape as published heuristic quality filters (C4/Gopher rules);
    coefficients are arbitrary but pinned by the oracle."""
    len_score = F.least(F.length(text) / F.lit(500.0), F.lit(1.0))
    stop_score = F.least(stopword_ratio(text) * 5.0, F.lit(1.0))
    raw = len_score * 0.4 + stop_score * 0.3 + (1.0 - punct_ratio(text)) * 0.3
    # Round via decimal, not double: the composite lands on exact half-way
    # values at 4 dp (e.g. 0.73935) where double-rounding is engine-dependent;
    # double→decimal cast + decimal HALF_UP round is bit-identical across
    # engines (tests/test_oracle_parity.py).
    return F.round(raw.cast("decimal(10,5)"), 4).cast("double")


def lang_guess(text: Column) -> Column:
    """Stopword-marker language ID: argmax over per-language marker counts,
    'und' (undetermined) when no marker hits.  Deterministic tie-break by
    language-code order.

    Round-11 HOF-lint find: the old CASE-WHEN argmax chain referenced each
    language's ``count_in_set(text, …)`` subtree ~2× per chain level, and
    every count re-tokenized the document — 40 interpreted regex splits
    per row (ArrayFilter keeps the whole projection out of codegen, so no
    subexpression elimination saves it).  Now the token array is let-bound
    once, the per-language counts land in ONE bound array, and the argmax
    is ``array_position(counts, array_max(counts))`` — first index of the
    max, which is exactly the old chain's strict-``>`` earliest-wins
    tie-break.  1 tokenization per row, values identical (oracle + parity
    tests unchanged)."""
    langs = sorted(LANG_MARKERS)
    markers = {
        lang: F.array(*[F.lit(w) for w in LANG_MARKERS[lang]]) for lang in langs
    }
    names = F.array(*[F.lit(lang) for lang in langs])

    def pick(counts: Column) -> Column:
        best = F.array_max(counts)
        idx = F.array_position(counts, best).cast("int")
        return F.when(best > 0, F.element_at(names, idx)).otherwise(F.lit("und"))

    def body(toks: Column) -> Column:
        def count_for(arr: Column) -> Column:
            return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

        counts = F.array(*[count_for(markers[lang]) for lang in langs])
        return bind_once(counts, pick)

    return bind_once(tokens(text), body)


def normalize(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: sha256 of the normalized text.
    (The rolling-hash variant lives in operators/dedup.py as simhash.)"""
    return F.sha2(normalize(text), 256)


def normalize_ccnet(text: Column) -> Column:
    """CCNet-style aggressive normalization for HASHING (Wenzek et al.
    2020, public method: dedup keys are computed on lowercased,
    accent-stripped, digit-bucketed, punctuation-free text so trivially
    re-rendered copies collide).  Arrow-batched pandas_udf — true Unicode
    NFKD + casefold need the Unicode tables, which no Catalyst built-in
    exposes; this is the documented vectorized-UDF exception class, and
    it belongs on the tiny dedup-key projection, not the hot scan path.
    Steps (deterministic, engine-independent):

    1. NFKD decompose, drop combining marks (accent strip: é→e),
    2. casefold (stronger than lower: ß→ss),
    3. every digit → 0 (CCNet buckets numbers),
    4. strip punctuation/symbol category chars,
    5. collapse whitespace runs to one space, trim.

    NULL → NULL.  Compose with ``fingerprint``/``exact_dedup`` by keying
    on ``normalize_ccnet(text)`` instead of the raw column."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        def one(t):
            if t is None:
                return None
            t = unicodedata.normalize("NFKD", t)
            out = []
            for ch in t:
                cat = unicodedata.category(ch)
                if cat.startswith("M"):  # combining marks (accents)
                    continue
                if cat.startswith(("P", "S")):  # punctuation, symbols
                    out.append(" ")
                elif ch.isdigit():
                    out.append("0")
                else:
                    out.append(ch)
            return " ".join("".join(out).casefold().split())

        return s.map(one)

    return _norm(text)


def bind_once(value: Column, body) -> Column:
    """Let-binding for column expressions: evaluate ``value`` ONCE per row
    and hand the result to ``body`` as a lambda variable.

    Why this exists (round-10 scale fix): Spark's higher-order array
    functions are INTERPRETED — ``ArrayTransform``/``ArrayFilter`` never
    enter whole-stage codegen, and each lambda invocation re-``eval``s any
    captured expression SUBTREE from scratch.  An expensive captured
    expression (a regex ``split``, a gram builder) therefore re-executes
    once per array element — the old shingle builder's
    ``slice(tokens(text), …)`` re-tokenized the whole document per shingle
    index, turning a linear scan into O(tokens²) regex work per document
    (measured: the x16 query spent 449 s at sf0.1; let-bound it is ~10 s,
    values identical).  A
    lambda VARIABLE, by contrast, is a ``NamedLambdaVariable`` holding the
    already-evaluated value — referencing it is O(1).

    ``transform(array(value), body)[0]`` is the smallest expression that
    creates such a binding: ``array(value)`` evaluates the subtree once,
    ``transform`` binds the single element, ``[0]`` unwraps.  No Catalyst
    rule inlines the binding away (constant folding only fires on foldable
    subtrees, which these are not).  NULL-safe: ``array(x)`` is never NULL,
    so ``body`` sees the NULL and must reproduce the unbound NULL semantics
    — which it does by construction, being the same expression tree.
    """
    return F.transform(F.array(value), body)[0]


# --- Repetition signals (Gopher-style quality rules; SURVEY.md §2.11 X16) --
#
# Rae et al. 2021 (Gopher, §A1.1) filter documents whose n-grams are too
# repetitive: "fraction of duplicate n-grams" and "fraction [of the
# document] in the most common n-gram".  We compute count-weighted
# fractions (share of n-gram OCCURRENCES, not of characters — documented
# deviation: char-weighting needs per-gram lengths that would triple the
# expression for no additional operator coverage).  All pure higher-order
# JVM expressions over one token array — zero UDFs, and short-document-
# safe (empty gram list → fraction 0.0, never a divide-by-zero under ANSI).
#
# Scale note: per-row cost is O(distinct·total) for the mode count, fine
# for typical web documents (≤ a few thousand tokens).  For pathological
# monster documents, compute the same stats with explode + groupBy(doc,
# gram) — one map-side-combined shuffle — instead of the scalar form.


def word_ngrams(text: Column, n: int) -> Column:
    """Word n-grams as array<string>; [] when the document has < n tokens
    (unlike :func:`shingles_sql`, which falls back to the whole document —
    repetition stats must not count a short doc as one big gram).  Token
    array let-bound (``bind_once``): one tokenization per document, not one
    per gram index."""

    def build(toks: Column) -> Column:
        cnt = F.size(toks)
        idx = F.sequence(F.lit(1), cnt - (n - 1))
        grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
        return F.when(cnt >= n, grams).otherwise(
            F.array().cast("array<string>")
        )

    return bind_once(tokens(text), build)


def dup_ngram_fraction(grams: Column) -> Column:
    """Fraction of n-gram occurrences that are repeats of an earlier one:
    1 − distinct/total.  0.0 for documents with no n-grams.  The gram
    array is let-bound (``bind_once``): the unbound form referenced
    ``grams`` three times (size, array_distinct, guard), re-evaluating the
    full gram-build tree per reference — linear, not the quadratic hazard
    ``top_ngram_fraction`` had, but 3× the necessary work (round-10
    ADVICE)."""

    def body(g: Column) -> Column:
        total = F.size(g)
        frac = 1.0 - F.size(F.array_distinct(g)).cast("double") / total
        return F.when(total > 0, frac).otherwise(F.lit(0.0))

    return bind_once(grams, body)


def top_ngram_fraction(grams: Column) -> Column:
    """Share of n-gram occurrences taken by the single most frequent
    n-gram (the mode) — high values flag boilerplate/spam.  0.0 when the
    document has no n-grams.  The gram array is let-bound (``bind_once``)
    before the mode count: the old form re-evaluated the whole ``grams``
    tree (tokenize + gram build) once per DISTINCT gram inside the filter
    lambda — O(grams²) tokenizations per document."""

    def body(g: Column) -> Column:
        total = F.size(g)
        mode_count = F.array_max(
            F.transform(
                F.array_distinct(g),
                lambda d: F.size(F.filter(g, lambda x: x == d)),
            )
        )
        return F.when(total > 0, mode_count.cast("double") / total).otherwise(
            F.lit(0.0)
        )

    return bind_once(grams, body)
