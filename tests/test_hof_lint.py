"""Surface-wide interpreted-HOF let-binding lint (round-11, VERDICT item 1).

Spark's higher-order array functions (``ArrayTransform``/``ArrayFilter``/…)
are INTERPRETED — they never enter whole-stage codegen, and each lambda
invocation re-``eval``s any captured expression subtree from scratch, with
no subexpression elimination.  An expensive leaf (a regex ``split``, a
``parse_url``) referenced more than once in a built expression tree
therefore re-executes per reference — and when the reference sits inside a
lambda body, once per ARRAY ELEMENT (the round-10 x16 wedge: O(tokens²)
regex work per document, 449 s → 3.4 s at sf0.1 after let-binding via
``functions.text.bind_once``).

The round-10 pin covered four constructs by name; this lint generalizes it
into a regression gate over EVERY Column-returning constructor in the five
hot-path modules (functions/text.py, operators/{lm,quality,dedup,
ranking}.py):

* an introspective walker enumerates the constructors (return annotation
  ``Column``), so a NEW constructor fails the suite until it declares its
  leaf budget in ``EXPECTED`` below;
* each constructor's built tree is rendered and every expensive leaf
  counted — counts are pinned EXACTLY (not ``<= 1``), so any edit that
  adds a second tokenization, even a linear top-level one, fails;
* a deliberately-unbound fixture proves the counter still detects the
  defect class (guards against the renderer silently degrading to a form
  that hides the leaves — undercounting would otherwise pass ``== 1``
  pins while missing real regressions... it cannot, because this canary
  would then report 1 too and fail its ``>= 3`` assertion).

Rendering goes through ``repr(Column)`` (public surface, works under both
classic and Connect) rather than the private ``_jc`` attribute, and the
leaf patterns carry word boundaries so e.g. a future ``str_split(`` cannot
silently inflate the ``split(`` count (round-10 ADVICE).
"""

from __future__ import annotations

import inspect
import re

import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

from r_e_hive__spark.functions import text as TX

# Leaf name -> pattern over the rendered expression tree.  (?<![0-9A-Za-z_])
# is a word boundary that also rejects `_` (plain \b treats `_` as a word
# char, so it would ALSO reject str_split( — but the lookbehind states the
# intent and survives leaf names that start with a non-word char).
EXPENSIVE_LEAVES: dict[str, str] = {
    "split": r"(?<![0-9A-Za-z_])split\(",
    "regexp_": r"(?<![0-9A-Za-z_])regexp_",
    "parse_url": r"(?<![0-9A-Za-z_])(?:try_)?parse_url",
    "sentences": r"(?<![0-9A-Za-z_])sentences\(",
}

# Pinned leaf budgets: module-qualified constructor -> {leaf: exact count}.
# Leaves not listed are pinned to 0.  A constructor listed here but no
# longer enumerated (renamed/removed) fails the completeness check, as
# does a new constructor not yet listed.
EXPECTED: dict[str, dict[str, int]] = {
    "text.count_in_set": {"split": 1},
    "text.dup_ngram_fraction": {"split": 1},   # via its word_ngrams arg
    "text.fingerprint": {"regexp_": 1},
    "text.lang_guess": {"split": 1},           # r11 fix: was 40 (argmax chain)
    "text.n_subword_tokens": {"regexp_": 1},
    "text.n_tokens": {"split": 1},
    "text.normalize": {"regexp_": 1},
    "text.normalize_ccnet": {},                # pandas_udf body, no JVM leaves
    "text.punct_ratio": {"regexp_": 1},
    "text.quality_score": {"split": 1, "regexp_": 1},  # r11: was 2 splits
    "text.stopword_ratio": {"split": 1},       # r11 fix: was 2
    "text.subword_tokens": {"regexp_": 1},
    "text.tokens": {"split": 1},
    "text.top_ngram_fraction": {"split": 1},   # via its word_ngrams arg
    "text.word_ngrams": {"split": 1},
    "lm._bigram_pairs": {"split": 1},
    "quality.host_of": {"regexp_": 1, "parse_url": 1},
    "dedup._band_hash_expr": {},
    "dedup._shingle_structs": {"split": 1},    # carry-path (shingle, n) structs
    "dedup._shingles": {"split": 1},
    "dedup._first_matching_band": {},
    "dedup._sig_match_fraction": {},
    "dedup._simhash_chunk_expr": {},
    "ranking.term_bucket": {},
    "ranking.tokenize": {"split": 1},
}


def render(col: Column) -> str:
    """Rendered expression tree of a Column — public repr, not ._jc."""
    return repr(col)


def leaf_counts(col: Column) -> dict[str, int]:
    s = render(col)
    return {k: len(re.findall(p, s)) for k, p in EXPENSIVE_LEAVES.items()}


def _modules():
    from r_e_hive__spark.operators import dedup, lm, quality, ranking

    return {"text": TX, "lm": lm, "quality": quality, "dedup": dedup,
            "ranking": ranking}


def _build_args(sig: inspect.Signature):
    """Dummy arguments for a constructor: Column params get F.col, column
    NAME (str) params their own name, ints a small literal, the
    conventional `grams`/`words` params a real gram build / the stopword
    tuple (so grams-consuming constructors show the leaf their binding
    must not duplicate).  Returns None when a required
    param can't be satisfied (constructor then must be excluded on its
    merits — today none is)."""
    args = []
    for p in sig.parameters.values():
        if p.default is not inspect.Parameter.empty:
            break  # defaults onward: leave them defaulted
        ann = p.annotation
        if p.name == "grams":
            args.append(TX.word_ngrams(F.col("t"), 2))
        elif p.name == "words" or "tuple" in str(ann):
            args.append(TX.STOPWORDS)
        elif ann is int or ann == "int":
            args.append(2)
        elif ann is str or ann == "str":
            args.append(p.name)
        elif ann is Column or ann == "Column" or ann is inspect.Parameter.empty:
            args.append(F.col(p.name))
        else:
            return None
    return args


def enumerate_constructors() -> dict[str, Column]:
    """Every Column-returning constructor in the five hot-path modules,
    instantiated with dummy args.  Requires a live session (classic
    Columns wrap JVM expressions)."""
    out = {}
    for mname, mod in _modules().items():
        for name, fn in sorted(vars(mod).items()):
            if not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                continue
            try:
                sig = inspect.signature(fn)
            except (ValueError, TypeError):
                continue
            ret = sig.return_annotation
            if not (ret is Column or ret == "Column"):
                continue
            if name == "bind_once":  # the binder itself, not a constructor
                continue
            args = _build_args(sig)
            assert args is not None, (
                f"{mname}.{name}: cannot build dummy args for {sig} — "
                "extend _build_args or document why it's out of scope"
            )
            col = fn(*args)
            assert isinstance(col, Column), (mname, name)
            out[f"{mname}.{name}"] = col
    return out


def test_hof_lint_surface_complete(spark):
    """Every enumerated constructor has a declared leaf budget and vice
    versa — a new hot-path constructor cannot land without one."""
    found = set(enumerate_constructors())
    assert found == set(EXPECTED), (
        f"missing budgets: {sorted(found - set(EXPECTED))}; "
        f"stale budgets: {sorted(set(EXPECTED) - found)}"
    )


@pytest.mark.parametrize("qualname", sorted(EXPECTED))
def test_hof_leaf_budget(spark, qualname):
    cols = enumerate_constructors()
    got = {k: c for k, c in leaf_counts(cols[qualname]).items() if c}
    assert got == EXPECTED[qualname], (
        f"{qualname}: leaf counts {got} != pinned {EXPECTED[qualname]} — "
        "an expensive subtree is referenced more than budgeted; let-bind "
        "it with functions.text.bind_once (see round-10 x16 fix)"
    )


# Pinned leaf budgets of the parsed-SQL renderers (functions that return
# SQL text for F.expr), keyed like EXPECTED.  Each renders over a quoted
# column name; the budget is counted on repr(F.expr(...)), the same tree
# the Column constructors are counted on.
SQL_RENDERERS: dict[str, tuple] = {
    "text.shingles_sql": (lambda: TX.shingles_sql("`t`", 3), {"split": 1}),
    "text.tokens_sql": (lambda: TX.tokens_sql("`t`"), {"split": 1}),
    "ranking.tokenize_sql": (
        lambda: _modules()["ranking"].tokenize_sql("`t`"),
        {"split": 1},
    ),
}


def test_sql_renderer_surface_complete():
    """Every text renderer (``*_sql`` returning str) in the five hot-path
    modules has a declared leaf budget and vice versa."""
    found = set()
    for mname, mod in _modules().items():
        for name, fn in vars(mod).items():
            if (
                inspect.isfunction(fn)
                and fn.__module__ == mod.__name__
                and name.endswith("_sql")
                and inspect.signature(fn).return_annotation in (str, "str")
            ):
                found.add(f"{mname}.{name}")
    assert found == set(SQL_RENDERERS), (
        f"missing budgets: {sorted(found - set(SQL_RENDERERS))}; "
        f"stale budgets: {sorted(set(SQL_RENDERERS) - found)}"
    )


@pytest.mark.parametrize("qualname", sorted(SQL_RENDERERS))
def test_sql_renderer_leaf_budget(spark, qualname):
    render_sql, budget = SQL_RENDERERS[qualname]
    got = {k: c for k, c in leaf_counts(F.expr(render_sql())).items() if c}
    assert got == budget, (
        f"{qualname}: leaf counts {got} != pinned {budget} — let-bind the "
        "expensive subtree (transform(array(x), _v -> ...)[0])"
    )


def test_hof_lint_catches_unbound_capture(spark):
    """Canary: the pre-round-10 shingles shape — tokenizer captured inside
    a transform lambda — must be flagged (one split per reference: the
    size() guard, the sequence bound, and the per-element slice)."""
    toks = TX.tokens(F.col("t"))
    unbound = F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", F.slice(TX.tokens(F.col("t")), i, 3)),
        ),
    )
    assert leaf_counts(unbound)["split"] >= 3


def test_hof_lint_renderer_carries_leaves(spark):
    """Canary for the renderer itself: if repr() ever stops rendering the
    expression tree (so every count collapses to 0 and the == pins pass
    vacuously), this fails first."""
    assert leaf_counts(TX.tokens(F.col("t")))["split"] == 1
    assert leaf_counts(F.col("t"))["split"] == 0
