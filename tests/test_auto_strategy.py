"""strategy="auto" gates (round-5 VERDICT item 4): every expr/numpy/pandas
dual-strategy operator defaults to "auto", which applies the measured
crossovers (BASELINE.md) via Catalyst's size estimate — and auto must be
pinned EQUAL to whichever explicit strategy it resolves to, in both gate
directions (thresholds are module globals, monkeypatched to force each)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from r_e_hive__spark.catalog import load_table
from r_e_hive__spark.operators import dedup as D
from r_e_hive__spark.operators import plan_size_bytes, resolve_strategy
from r_e_hive__spark.operators import similarity as S
from tests.conftest import SF_SMOKE, count_jobs


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")


@pytest.fixture(scope="module")
def embeddings(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_resolve_strategy_gate_directions(spark, docs):
    size = plan_size_bytes(docs)
    assert size is not None and size > 0
    assert resolve_strategy(docs, "expr", "pandas", size + 1) == "expr"
    assert resolve_strategy(docs, "expr", "pandas", size) == "pandas"
    assert resolve_strategy(docs, "expr", "pandas", 1) == "pandas"


def test_resolve_strategy_sentinel_stats_pick_small(spark):
    """createDataFrame / RDD-backed frames plan as LogicalRDD, whose
    Catalyst size is the defaultSizeInBytes SENTINEL (Long.MaxValue), not
    an estimate — the gate must treat it as unknown and keep the JVM path
    (round-6 code review: a tiny in-memory increment must not pay the
    Python-worker tax because its 'size' reads as 2^63)."""
    tiny = spark.createDataFrame([(1, "a b c")], "doc_id INT, text STRING")
    size = plan_size_bytes(tiny)
    if size is not None and size < (1 << 60):
        pytest.skip("this Spark estimates LocalRelation/RDD sizes for real")
    assert resolve_strategy(tiny, "expr", "pandas", 1) == "expr"


@pytest.mark.parametrize(
    "size, fits, distributed",
    [(1024, True, False), ((1 << 63) - 1, False, True), (None, False, False)],
    ids=["readable", "sentinel", "unreadable"],
)
def test_plan_size_gates(spark, monkeypatch, size, fits, distributed):
    """``plan_size_bytes`` is the one reader of Catalyst's estimate.  The
    broadcast gate and the auto gate of the packing prefix-sum and of
    ``io.sequence_ids`` answer from it: Long.MaxValue (the no-estimate
    sentinel) does not fit and goes distributed; unreadable stats do not
    fit yet keep the small single-window path."""
    from r_e_hive__spark import io, operators
    from r_e_hive__spark.operators import packing

    monkeypatch.setattr(operators, "plan_size_bytes", lambda df: size)
    df = spark.range(8)
    assert operators.plan_fits_broadcast(df) is fits
    assert packing._auto_distributed(df) is distributed
    seq = io.sequence_ids(df, [F.col("id")], out_col="seq")
    # only the two-phase scheme joins its rows to the partition offsets
    plan = seq._jdf.queryExecution().optimizedPlan().toString()
    assert ("Join" in plan) is distributed, plan
    assert sorted(tuple(r) for r in seq.collect()) == [(i, i + 1) for i in range(8)]


def test_duplicate_spans_window1_null_text_parity(spark):
    """Round-6 code review: at window=1 the pandas path used to tokenize
    NULL text as [''] and give every NULL doc a corpus-wide duplicate
    span, while expr drops NULL-text rows.  Both strategies must emit
    NOTHING for NULL docs at any window."""
    rows = [
        (1, "x y x y"),
        (2, "x q"),
        (3, None),
        (4, None),
        (5, ""),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    for window in (1, 2):
        e = _rows(D.duplicate_spans(df, "text", "doc_id", window, "expr"))
        p = _rows(D.duplicate_spans(df, "text", "doc_id", window, "pandas"))
        assert e == p, (window, e, p)
        assert all(r[0] not in (3, 4) for r in e)
    with pytest.raises(ValueError, match="window"):
        D.duplicate_spans(df, "text", "doc_id", 0)


def test_with_shingles_auto_matches_both(spark, docs, monkeypatch):
    want_expr = _rows(D.with_shingles(docs, "text", "doc_id", strategy="expr"))
    want_pd = _rows(D.with_shingles(docs, "text", "doc_id", strategy="pandas"))
    assert want_expr == want_pd  # the established strategy-parity pin
    monkeypatch.setattr(D, "SHINGLE_PANDAS_MIN_BYTES", 1 << 60)
    assert _rows(D.with_shingles(docs, "text", "doc_id")) == want_expr
    monkeypatch.setattr(D, "SHINGLE_PANDAS_MIN_BYTES", 1)
    assert _rows(D.with_shingles(docs, "text", "doc_id")) == want_pd


def test_jaccard_auto_matches_both(spark, docs, monkeypatch):
    kw = dict(k=3, threshold=0.3)
    want = _rows(
        D.ngram_jaccard_pairs(docs, "text", "doc_id", shingle_strategy="expr", **kw)
    )
    assert want == _rows(
        D.ngram_jaccard_pairs(docs, "text", "doc_id", shingle_strategy="pandas", **kw)
    )
    for thresh in (1 << 60, 1):
        monkeypatch.setattr(D, "SHINGLE_PANDAS_MIN_BYTES", thresh)
        assert _rows(D.ngram_jaccard_pairs(docs, "text", "doc_id", **kw)) == want


def test_duplicate_spans_auto_matches_both(spark, docs, monkeypatch):
    """X20 Arrow pass (round-5 VERDICT item 6): the pandas strategy hashes
    windows differently (token SipHash + rolling polynomial, not xxhash64
    of the window string) but spans depend on window EQUALITY only — span
    outputs must be identical, including the within-doc-repetition and
    empty-edge-token cases the corpus carries."""
    kw = dict(window=8)
    want = _rows(D.duplicate_spans(docs, "text", "doc_id", strategy="expr", **kw))
    got = _rows(D.duplicate_spans(docs, "text", "doc_id", strategy="pandas", **kw))
    assert want == got and len(want) > 0
    for thresh, as_ in ((1 << 60, want), (1, got)):
        monkeypatch.setattr(D, "SHINGLE_PANDAS_MIN_BYTES", thresh)
        assert _rows(D.duplicate_spans(docs, "text", "doc_id", **kw)) == as_


def test_brute_force_auto_respects_exact_decimal(spark, embeddings, monkeypatch):
    qs = embeddings.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # exact_decimal (the default) must resolve to expr even when the size
    # gate would pick numpy
    monkeypatch.setattr(S, "BLAS_MIN_BYTES_TOPK", 1)
    want_exact = _rows(
        S.brute_force_topk(qs, embeddings, k=5, strategy="expr")
    )
    assert _rows(S.brute_force_topk(qs, embeddings, k=5)) == want_exact


def test_brute_force_auto_matches_both(spark, embeddings, monkeypatch):
    qs = embeddings.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    want_expr = _rows(
        S.brute_force_topk(
            qs, embeddings, k=5, exact_decimal=False, strategy="expr"
        )
    )
    want_np = _rows(
        S.brute_force_topk(
            qs, embeddings, k=5, exact_decimal=False, strategy="numpy"
        )
    )
    assert want_expr == want_np
    monkeypatch.setattr(S, "BLAS_MIN_BYTES_TOPK", 1 << 60)
    assert (
        _rows(S.brute_force_topk(qs, embeddings, k=5, exact_decimal=False))
        == want_expr
    )
    monkeypatch.setattr(S, "BLAS_MIN_BYTES_TOPK", 1)
    assert (
        _rows(S.brute_force_topk(qs, embeddings, k=5, exact_decimal=False))
        == want_np
    )


def test_quantized_auto_matches_both(spark, embeddings, monkeypatch):
    qs = embeddings.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(k=5, shortlist_mult=4)
    want_expr = _rows(
        S.quantized_topk(qs, embeddings, strategy="expr", **kw)
    )
    want_np = _rows(S.quantized_topk(qs, embeddings, strategy="numpy", **kw))
    assert want_expr == want_np
    monkeypatch.setattr(S, "BLAS_MIN_BYTES_TOPK", 1 << 60)
    assert _rows(S.quantized_topk(qs, embeddings, **kw)) == want_expr
    monkeypatch.setattr(S, "BLAS_MIN_BYTES_TOPK", 1)
    assert _rows(S.quantized_topk(qs, embeddings, **kw)) == want_np
    # exact_decimal forces expr under auto (no "requires expr" error)
    assert (
        _rows(S.quantized_topk(qs, embeddings, exact_decimal=True, **kw))
        == _rows(
            S.quantized_topk(
                qs, embeddings, exact_decimal=True, strategy="expr", **kw
            )
        )
    )


def test_semantic_dedup_auto_matches_both(spark, embeddings, monkeypatch):
    cents = S.kmeans_centroids(embeddings, n_clusters=4, sample_limit=256)
    want_expr = _rows(
        S.semantic_dedup(
            embeddings, "vec_id", "embedding", cents, 0.2, strategy="expr"
        ).select("vec_id")
    )
    want_np = _rows(
        S.semantic_dedup(
            embeddings, "vec_id", "embedding", cents, 0.2, strategy="numpy"
        ).select("vec_id")
    )
    assert want_expr == want_np
    monkeypatch.setattr(S, "BLAS_MIN_BYTES", 1 << 60)
    got = S.semantic_dedup(embeddings, "vec_id", "embedding", cents, 0.2)
    assert _rows(got.select("vec_id")) == want_expr
    monkeypatch.setattr(S, "BLAS_MIN_BYTES", 1)
    got = S.semantic_dedup(embeddings, "vec_id", "embedding", cents, 0.2)
    assert _rows(got.select("vec_id")) == want_np


def test_text_gate_density_normalization(spark, tmp_path):
    """Round-7 (VERDICT r6 item 7): the shingle crossover was calibrated
    at fixture density (~300 chars/doc); a corpus of LONGER documents
    reaches the Arrow-wins regime at a smaller total size (fewer rows ⇒
    the Arrow per-row overhead vanishes while the interpreted per-token
    HOF cost is unchanged).  resolve_text_strategy must therefore route a
    long-document corpus UNDER the 4 MB byte threshold to the Arrow path,
    while a fixture-density corpus of the same total size keeps the JVM
    path.  Frames go through parquet: in-memory frames plan as LogicalRDD
    whose size is the sentinel (separately pinned above)."""
    import random

    from r_e_hive__spark.operators import (
        ARROW_TAX_FLOOR_BYTES,
        SHINGLE_PANDAS_MIN_BYTES,
        plan_size_bytes,
        resolve_text_strategy,
    )

    rng = random.Random(7)
    vocab = [f"w{i:04d}" for i in range(5000)]

    def doc(n_chars: int) -> str:
        toks = []
        size = 0
        while size < n_chars:
            t = rng.choice(vocab)
            toks.append(t)
            size += len(t) + 1
        return " ".join(toks)

    total = 2_000_000  # ~2 MB of text: inside the ambiguous band
    long_docs = [(i, doc(10_000)) for i in range(total // 10_000)]
    short_docs = [(i, doc(300)) for i in range(total // 300)]

    paths = {}
    for name, rows in (("long", long_docs), ("short", short_docs)):
        p = str(tmp_path / name)
        spark.createDataFrame(rows, "doc_id INT, text STRING").write.parquet(p)
        paths[name] = p

    long_df = spark.read.parquet(paths["long"])
    short_df = spark.read.parquet(paths["short"])
    for df in (long_df, short_df):
        size = plan_size_bytes(df)
        assert size is not None and ARROW_TAX_FLOOR_BYTES <= size < (
            SHINGLE_PANDAS_MIN_BYTES
        ), size  # both sit in the ambiguous band — the density decides

    def resolve(df):
        return resolve_text_strategy(
            df, "text", "expr", "pandas", SHINGLE_PANDAS_MIN_BYTES
        )

    # the density is measured once per session and frame: the second
    # resolution of the same frame runs no job
    got = []
    assert count_jobs(spark, lambda: got.append(resolve(long_df))) > 0
    assert count_jobs(spark, lambda: got.append(resolve(long_df))) == 0
    assert got == ["pandas", "pandas"]
    assert resolve(short_df) == "expr"


def test_fastpath_twins_match_declared(spark):
    """Bench-only fast-path twins (queries/fastpaths.py) must emit
    IDENTICAL rows to their exact declared twins — they are alternate
    strategies over the same task, so any drift is a strategy-parity bug
    the bench would then mis-attribute to performance.  Also pins the
    FASTPATHS/LLM_FAST registries aligned (a twin timed by bench.py but
    missing from the DuckDB pairing map would desynchronize the JSONs)."""
    from tools.bench_common import LLM_FAST, LLM_SPARK_ONLY

    from r_e_hive__spark.queries import load_all
    from r_e_hive__spark.queries.fastpaths import FASTPATHS

    # every FASTPATHS row is either DuckDB-paired (LLM_FAST) or an
    # explicitly declared Spark-only row (LLM_SPARK_ONLY, excluded from
    # the llm geomean) — and never both
    assert set(FASTPATHS) == set(LLM_FAST) | set(LLM_SPARK_ONLY)
    assert not set(LLM_FAST) & set(LLM_SPARK_ONLY)

    def close(a, b):
        # float columns may differ by ONE step of the 6-dp terminal
        # rounding: the exact twins compute in exact decimal, the fast
        # twins in float64 (the precise trade exact_decimal documents) —
        # a value sitting on a .5e-6 boundary rounds apart (observed:
        # x25 score 0.334456 vs 0.334457 at sf0.001).  Caveat: the
        # tolerance covers VALUES; if a future fixture regeneration puts
        # two candidates within one rounding step of each other, their
        # rank/top-k PAIRING can legitimately flip between twins and the
        # positional compare below would need re-pinning (it cannot
        # flake today — inputs and both plans are deterministic).
        if isinstance(a, float) and isinstance(b, float):
            return abs(a - b) <= 1.5e-6
        return a == b

    reg = load_all()
    for fast_name, fn in FASTPATHS.items():
        if fast_name in LLM_SPARK_ONLY:
            # a different CONFIGURATION (scaled k), not an alternate
            # strategy over the same task — no declared twin to equal;
            # its own determinism/sanity pin lives in test_semdedup.py
            continue
        exact = reg[LLM_FAST[fast_name]]
        got = _rows(fn(spark, SF_SMOKE))
        want = _rows(exact.spark_fn(spark, SF_SMOKE))
        assert len(got) == len(want) and len(got) > 0, fast_name
        for g, w in zip(got, want):
            assert len(g) == len(w) and all(
                close(x, y) for x, y in zip(g, w)
            ), (fast_name, g, w)
