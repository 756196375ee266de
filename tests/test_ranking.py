"""TF-IDF / BM25 ranking (X23): pure-Python reference differential on a
hand corpus + randomized docs, independent DuckDB differential on the real
documents table, determinism/edge pins, and a top-k plan assertion."""

from __future__ import annotations

import math
import random
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from r_e_hive__spark.catalog import load_table
from r_e_hive__spark.operators import ranking as R
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def documents(spark):
    return load_table(spark, SF_SMOKE, "documents")


# ------------------------------------------------------------------ reference


def _py_postings(docs: dict[int, str]):
    """id -> {term: tf}, and id -> doc_len, with the parity tokenizer."""
    tf, dl = {}, {}
    for i, text in docs.items():
        toks = R.tokenize_py(text)
        if not toks:
            continue
        dl[i] = len(toks)
        m = {}
        for t in toks:
            m[t] = m.get(t, 0) + 1
        tf[i] = m
    return tf, dl


def _py_bm25(docs, query, k1=1.2, b=0.75):
    tf, dl = _py_postings(docs)
    terms = sorted(set(R.tokenize_py(query)))
    n = len(tf)
    avgdl = sum(dl.values()) / n
    dfreq = {
        t: sum(1 for m in tf.values() if t in m) for t in terms
    }
    scores = {}
    for i, m in tf.items():
        s = 0.0
        for t in terms:
            if t not in m or dfreq[t] == 0:
                continue
            idf = math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * (m[t] * (k1 + 1.0)) / (
                m[t] + k1 * (1.0 - b + b * dl[i] / avgdl)
            )
        if s > 0.0:
            scores[i] = s
    return scores


def _py_tfidf(docs):
    tf, _ = _py_postings(docs)
    n = len(tf)
    out = {}
    for i, m in tf.items():
        for t, c in m.items():
            df = sum(1 for mm in tf.values() if t in mm)
            out[(i, t)] = c * (math.log((1.0 + n) / (1.0 + df)) + 1.0)
    return out


# ------------------------------------------------------------------- unit/ref


def test_bm25_matches_python_reference_hand_corpus(spark):
    docs = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "the quick brown cat sleeps",
        3: "a completely unrelated document about spark shuffles",
        4: "fox fox fox",  # high tf, short doc
        5: "",  # empty: no postings, never retrieved
    }
    df = spark.createDataFrame(list(docs.items()), "id INT, text STRING")
    got = {
        r["id"]: r["score"]
        for r in R.bm25_search(df, "text", "id", "quick fox", top_k=10).collect()
    }
    want = _py_bm25(docs, "quick fox")
    assert set(got) == set(want)
    for i in got:
        assert got[i] == pytest.approx(want[i], abs=1e-9)
    # saturation sanity: doc 4 (tf=3, short) must outrank doc 1 (tf=1)
    assert got[4] > got[1]


def test_bm25_randomized_python_differential(spark):
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    docs = {
        i: " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 60)))
        for i in range(60)
    }
    df = spark.createDataFrame(list(docs.items()), "id INT, text STRING")
    query = "w0 w3 w17 w39"
    want = _py_bm25(docs, query)
    got = {
        r["id"]: r["score"]
        for r in R.bm25_search(df, "text", "id", query, top_k=1000).collect()
    }
    assert set(got) == set(want)
    for i in got:
        assert got[i] == pytest.approx(want[i], abs=1e-9)


def test_tfidf_matches_python_reference(spark):
    rng = random.Random(11)
    vocab = [f"t{i}" for i in range(15)]
    docs = {
        i: " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 20)))
        for i in range(25)
    }
    df = spark.createDataFrame(list(docs.items()), "id INT, text STRING")
    got = {
        (r["id"], r["term"]): r["tfidf"]
        for r in R.tfidf(df, "text", "id").collect()
    }
    want = _py_tfidf(docs)
    assert set(got) == set(want)
    for k in got:
        assert got[k] == pytest.approx(want[k], abs=1e-9)


def test_tokenizer_parity_edges(spark):
    """NBSP is NOT a separator (ASCII class only); leading/trailing
    whitespace produces no empty terms; case folds."""
    df = spark.createDataFrame(
        [(1, "  Hello\tWORLD  "), (2, "a b"), (3, "x \x0b y")],
        "id INT, text STRING",
    )
    p = {
        (r["id"], r["term"]): (r["tf"], r["doc_len"])
        for r in R.term_postings(df, "text", "id").collect()
    }
    assert p == {
        (1, "hello"): (1, 2),
        (1, "world"): (1, 2),
        (2, "a b"): (1, 1),
        (3, "x"): (1, 2),
        (3, "y"): (1, 2),
    }


def test_bm25_query_edges(spark):
    df = spark.createDataFrame([(1, "a b"), (2, "c")], "id INT, text STRING")
    with pytest.raises(ValueError, match="no tokens"):
        R.bm25_search(df, "text", "id", "   ")
    # no-hit query: empty result, not an error
    assert R.bm25_search(df, "text", "id", "zzz").count() == 0
    # duplicate query terms count once
    one = {r["id"]: r["score"] for r in R.bm25_search(df, "text", "id", "a").collect()}
    two = {r["id"]: r["score"] for r in R.bm25_search(df, "text", "id", "a a").collect()}
    assert one == two
    # pre-split sequence form == string form
    seq = {r["id"]: r["score"] for r in R.bm25_search(df, "text", "id", ["A"]).collect()}
    assert seq == one


def test_bm25_postings_reuse_and_plan(spark, documents):
    """A persisted postings index gives identical results, and the final
    top-k compiles to TakeOrderedAndProject (no global sort)."""
    docs = documents.select("doc_id", "text").limit(300)
    p = R.term_postings(docs, "text", "doc_id").localCheckpoint()
    q = "the model data"
    direct = R.bm25_search(docs, "text", "doc_id", q, top_k=20)
    reused = R.bm25_search(docs, "text", "doc_id", q, top_k=20, postings=p)
    assert [r.asDict() for r in direct.collect()] == [
        r.asDict() for r in reused.collect()
    ]
    plan = reused._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


# ----------------------------------------------------------- duckdb oracle


def _duck_bm25(sf_dir: str, query_terms: list[str], k1=1.2, b=0.75, top_k=20):
    """Independent BM25 in DuckDB over the same parquet, same tokenizer
    class, same Lucene idf — computed with DuckDB's own SQL engine."""
    terms_sql = ", ".join(f"('{t}')" for t in query_terms)
    con = duckdb.connect()
    try:
        return con.sql(
            f"""
            WITH toks AS (
                SELECT doc_id, t.term
                FROM read_parquet('{sf_dir}/documents.parquet'),
                     UNNEST(list_filter(
                        regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
                        x -> x <> '')) AS t(term)
            ),
            tf AS (
                SELECT doc_id, term, count(*)::DOUBLE AS tf
                FROM toks GROUP BY doc_id, term
            ),
            dl AS (
                SELECT doc_id, count(*)::DOUBLE AS doc_len
                FROM toks GROUP BY doc_id
            ),
            stats AS (
                SELECT count(*)::DOUBLE AS n_docs, avg(doc_len) AS avgdl FROM dl
            ),
            q(term) AS (VALUES {terms_sql}),
            dfreq AS (
                SELECT term, count(*)::DOUBLE AS df
                FROM tf WHERE term IN (SELECT term FROM q)
                GROUP BY term
            )
            SELECT tf.doc_id,
                   sum(
                     ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                     * tf.tf * ({k1} + 1.0)
                     / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.doc_len / stats.avgdl))
                   ) AS score
            FROM tf
            JOIN dfreq USING (term)
            JOIN dl USING (doc_id)
            CROSS JOIN stats
            GROUP BY tf.doc_id
            ORDER BY score DESC, doc_id ASC
            LIMIT {top_k}
            """
        ).fetchall()
    finally:
        con.close()


def test_bm25_duckdb_differential_real_corpus(spark, documents):
    query = "the data model training"
    terms = sorted(set(R.tokenize_py(query)))
    want = _duck_bm25(SF_SMOKE, terms, top_k=25)
    got = R.bm25_search(
        documents.select("doc_id", "text"), "text", "doc_id", query, top_k=25
    ).collect()
    assert len(got) == len(want)
    for g, (w_id, w_score) in zip(got, want):
        assert g["doc_id"] == w_id
        assert g["score"] == pytest.approx(w_score, abs=1e-9)


def test_tfidf_duckdb_differential_real_corpus(spark, documents):
    con = duckdb.connect()
    try:
        want = {
            (r[0], r[1]): r[2]
            for r in con.sql(
                f"""
                WITH toks AS (
                    SELECT doc_id, t.term
                    FROM read_parquet('{SF_SMOKE}/documents.parquet'),
                         UNNEST(list_filter(
                            regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
                            x -> x <> '')) AS t(term)
                ),
                tf AS (
                    SELECT doc_id, term, count(*)::DOUBLE AS tf
                    FROM toks GROUP BY doc_id, term
                ),
                dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
                n AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n_docs FROM tf)
                SELECT tf.doc_id, tf.term,
                       tf.tf * (ln((1.0 + n.n_docs) / (1.0 + dfreq.df)) + 1.0)
                FROM tf JOIN dfreq USING (term) CROSS JOIN n
                """
            ).fetchall()
        }
    finally:
        con.close()
    got = {
        (r["doc_id"], r["term"]): r["tfidf"]
        for r in R.tfidf(documents.select("doc_id", "text"), "text", "doc_id").collect()
    }
    assert set(got) == set(want)
    for k in got:
        assert got[k] == pytest.approx(want[k], abs=1e-9)


# ---------------------------------------------------------------------- rrf


def test_rrf_fuse_matches_python_reference(spark):
    a = spark.createDataFrame(
        [(1, 9.0), (2, 7.5), (3, 7.5), (4, 1.0)], "doc_id INT, score DOUBLE"
    )
    b = spark.createDataFrame(
        [(3, 0.99), (5, 0.98), (1, 0.50)], "doc_id INT, score DOUBLE"
    )
    got = [
        (r["doc_id"], r["rrf_score"], r["n_lists"])
        for r in R.rrf_fuse([a, b], "doc_id", k=60).collect()
    ]
    # ranks: a -> 1:1, 2:2 (tie broken by id), 3:3, 4:4 ; b -> 3:1, 5:2, 1:3
    want = {
        1: 1 / 61 + 1 / 63,
        2: 1 / 62,
        3: 1 / 63 + 1 / 61,
        4: 1 / 64,
        5: 1 / 62,
    }
    ordered = sorted(want, key=lambda i: (-want[i], i))
    assert [g[0] for g in got] == ordered
    for doc_id, score, n in got:
        assert score == pytest.approx(want[doc_id], abs=1e-12)
        assert n == (2 if doc_id in (1, 3) else 1)
    # top_k limit + single-list edge
    assert R.rrf_fuse([a, b], "doc_id", top_k=2).count() == 2
    solo = R.rrf_fuse([a], "doc_id").collect()
    assert [r["doc_id"] for r in solo] == [1, 2, 3, 4]
    with pytest.raises(ValueError, match="at least one"):
        R.rrf_fuse([], "doc_id")


def test_rrf_hybrid_bm25_plus_semantic(spark, documents):
    """Composite: fuse a BM25 list with a second ranked list on the real
    corpus — ids present in both lists outrank single-list ids with
    comparable ranks."""
    docs = documents.select("doc_id", "text", "n_chars")
    lexical = R.bm25_search(docs, "text", "doc_id", "the data model", top_k=30)
    # a deterministic stand-in for an embedding top-k: longest docs
    semantic = docs.select(
        "doc_id", F.col("n_chars").cast("double").alias("score")
    ).orderBy(F.desc("score"), F.asc("doc_id")).limit(30)
    fused = R.rrf_fuse([lexical, semantic], "doc_id", top_k=10).collect()
    assert len(fused) == 10
    both = {r["doc_id"] for r in fused if r["n_lists"] == 2}
    lex_ids = {r["doc_id"] for r in lexical.collect()}
    sem_ids = {r["doc_id"] for r in semantic.collect()}
    assert both <= (lex_ids & sem_ids)
    # scores strictly ordered with the documented tiebreak
    pairs = [(r["rrf_score"], r["doc_id"]) for r in fused]
    assert pairs == sorted(pairs, key=lambda p: (-p[0], p[1]))


def test_bm25_term_filter_pushes_into_parquet_scan(spark, documents, tmp_path):
    """Against a PERSISTED postings index the query's IN-list term filter
    must reach the parquet scan (partition/row-group pruning at scale),
    and passing persisted corpus stats must not change results."""
    docs = documents.select("doc_id", "text")
    path = str(tmp_path / "postings.parquet")
    R.term_postings(docs, "text", "doc_id").write.parquet(path)
    idx = spark.read.parquet(path)
    stats = R.corpus_stats(idx, "doc_id").localCheckpoint()
    q = "the data model"
    with_stats = R.bm25_search(
        docs, "text", "doc_id", q, top_k=15, postings=idx, stats=stats
    )
    without = R.bm25_search(
        docs, "text", "doc_id", q, top_k=15, postings=idx
    )
    assert [r.asDict() for r in with_stats.collect()] == [
        r.asDict() for r in without.collect()
    ]
    plan = with_stats._jdf.queryExecution().executedPlan().toString()
    scan_lines = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert any(
        "DataFilters" in l and "IN (" in l.replace("In (", "IN (")
        for l in scan_lines
    ), scan_lines


def test_save_postings_roundtrip_and_indexed_search_parity(
    spark, documents, tmp_path, path_forms
):
    """save_postings -> bm25_search_indexed must equal the inline
    bm25_search on the same corpus/query for every path spelling (plain,
    ``file://`` URI, glob characters), the probed bucket list must reach
    the scan as a PartitionFilter (only the query terms' bucket
    directories are read), and the driver-side bucket router must agree
    with the Spark column it twins."""
    docs = documents.select("doc_id", "text")
    q = "the data model"
    inline = R.bm25_search(docs, "text", "doc_id", q, top_k=15)
    want = [r.asDict() for r in inline.collect()]
    for form, path in path_forms(tmp_path, "bm25_index").items():
        R.save_postings(docs, "text", "doc_id", path, n_buckets=16)
        res, pruned, stats = R.bm25_search_indexed(
            spark, path, q, "doc_id", top_k=15
        )
        assert [r.asDict() for r in res.collect()] == want, form
        # bucket pruning is a PARTITION filter, not a post-scan one
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan, (form, plan)
        pf = plan.split("PartitionFilters")[1][:300]
        assert "term_bucket" in pf, (form, pf)
    # driver-side router == Spark column (the md5-prefix anchor)
    terms = R.tokenize_py(q)
    got = {
        r["t"]: r["b"]
        for r in spark.createDataFrame([(t,) for t in terms], "t STRING")
        .select("t", R.term_bucket(F.col("t"), 16).alias("b"))
        .collect()
    }
    assert got == {t: R.term_bucket_py(t, 16) for t in terms}


def test_load_postings_rejects_non_index_layout(spark, tmp_path):
    bad = str(tmp_path / "not_an_index")
    spark.range(3).select(
        F.col("id"), F.lit(1.0).alias("n_docs")
    ).write.parquet(f"{bad}/stats")
    with pytest.raises(Exception, match="postings layout|PATH_NOT_FOUND"):
        R.load_postings(spark, bad)


def test_x23_fast_duckdb_disk_pairing_value_aligned(tmp_path):
    """Round-11 (VERDICT r10 item 6): the x23 fast twin's DuckDB pairing
    is symmetric — prep COPYs the postings/stats to an on-disk parquet
    artifact (term-sorted, so DuckDB's zonemap pruning mirrors Spark's
    bucket-partition pruning) and the timed search reads ONLY that
    artifact.  The search tail must stay value-identical to the declared
    x23 oracle, or the pairing silently times a different task."""
    from r_e_hive__spark.oracle.diff import duckdb_connection
    from r_e_hive__spark.queries import load_all
    from r_e_hive__spark.queries.text import (
        x23_fast_duckdb_prep,
        x23_fast_duckdb_search,
    )

    con = duckdb_connection("/root/testdata/sf0.01")
    idx_dir = str(tmp_path / "bm25_duck")
    (tmp_path / "bm25_duck").mkdir()
    for stmt in x23_fast_duckdb_prep(idx_dir):
        con.execute(stmt)
    # the in-memory build tables are dropped by prep: the timed tail can
    # only be reading the disk artifact
    leftover = {
        n
        for (n,) in con.execute(
            "SELECT table_name FROM duckdb_tables()"
        ).fetchall()
        if n.startswith("bm25_")
    }
    assert not leftover, leftover
    got = con.execute(x23_fast_duckdb_search(idx_dir)).fetchall()
    want = con.execute(load_all()["x23_bm25_topk"].oracle).fetchall()
    assert got == want
    con.close()


def test_bm25_backslash_quote_terms_match_column_spec(spark):
    """ADVICE-r11 pin: the inline IN-list renders terms via
    functions.str_lit_sql (backslashes doubled BEFORE quotes).  Under the
    session's pinned escapedStringLiterals=false, a term like c:\\temp or a
    trailing-backslash term must match the same docs as the postings path, whose
    term filter is the Column-API ``F.col('term').isin(terms)`` spec."""
    from r_e_hive__spark.operators import ranking as R

    docs = spark.createDataFrame(
        [
            (1, "see c:\\temp for logs"),
            (2, "o'brien wrote c:\\temp notes"),
            (3, "ends with end\\ token"),
            (4, "nothing relevant here"),
        ],
        "doc_id INT, text STRING",
    )
    terms = ["c:\\temp", "end\\", "o'brien"]
    inline = {
        (r["doc_id"], r["score"])
        for r in R.bm25_search(docs, "text", "doc_id", terms).collect()
    }
    p = R.term_postings(docs, "text", "doc_id").localCheckpoint()
    st = R.corpus_stats(p, "doc_id").localCheckpoint()
    indexed = {
        (r["doc_id"], r["score"])
        for r in R.bm25_search(
            docs, "text", "doc_id", terms, postings=p, stats=st
        ).collect()
    }
    assert inline == indexed
    assert {d for d, _ in inline} == {1, 2, 3}


def test_sql_str_lit_roundtrips_adversarial_terms(spark):
    """functions.str_lit_sql(s) (formerly ranking._sql_str_lit) must parse
    back to exactly s for every term shape the tokenizer can emit
    (backslashes, quotes, mixes, trailing '\\'), and refuses a non-str."""
    from r_e_hive__spark.functions import str_lit_sql

    cases = ["plain", "c:\\temp", "end\\", "o'brien", "'\\''", "\\", "a''b\\\\c"]
    got = spark.sql(
        "SELECT " + ",".join(str_lit_sql(c) for c in cases)
    ).first()
    assert list(got) == cases
    with pytest.raises(TypeError):
        str_lit_sql(3)


def test_escaped_string_literals_conf_is_pinned():
    """The SQL-string twins embed regex/term literals that assume default
    escape processing; the conf must ride _REQUIRED_CONFS so a caller
    session with legacy escaping cannot change tokenization semantics."""
    from r_e_hive__spark.catalog import _REQUIRED_CONFS

    assert _REQUIRED_CONFS["spark.sql.parser.escapedStringLiterals"] == "false"


def test_tokenize_sql_twin_matches_column_spec(spark):
    """Round-11 build-time pin: tokenize_sql must reproduce tokenize()
    value-for-value — lowercase, ASCII-only split (Unicode whitespace is
    NOT a separator), empty-token removal, NULL/empty docs."""
    from pyspark.sql import functions as F

    from r_e_hive__spark.operators.ranking import tokenize, tokenize_sql

    rows = [
        ("The QUICK  brown\tfox\nruns",),
        (" leading trailing ",),
        ("",),
        (None,),
        ("nbsp stays one token",),
        ("x0b\x0bsplits here",),
    ]
    df = spark.createDataFrame(rows, "t STRING")
    got = df.select(
        tokenize(F.col("t")).alias("c"),
        F.expr(tokenize_sql("`t`")).alias("s"),
    ).collect()
    for r in got:
        assert r["c"] == r["s"], r
