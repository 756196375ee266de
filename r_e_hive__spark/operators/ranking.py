"""TF-IDF / BM25 lexical ranking over a document corpus (SURVEY.md §2.11 X23).

The retrieval half of a training-data pipeline: quality-weighting terms,
keyword search over a corpus, building the lexical side of hybrid
(BM25 + embedding) retrieval.  The reference has no search endpoint — this
is a north-star extension like X9/X15-X22, built from public constructs
only (Robertson & Zaragoza 2009 for BM25; the Lucene idf variant).

Everything is declarative DataFrame composition — two map-side-combined
shuffles build the postings (explode → groupBy), and a query is a
broadcast-size term-list filter plus one aggregation.  No UDFs, no
collects: corpus statistics (N, avgdl) travel as a one-row broadcast
frame, so the whole computation stays one lazy plan end to end.

Tokenization is the repo's cross-engine-parity class: lowercase + split
on the EXPLICIT ASCII whitespace set ``[ \\t\\n\\x0B\\f\\r]+`` (Java's
``\\s``), empties dropped — identical semantics in Spark executors, the
DuckDB differential (RE2), and the pure-Python test reference (which must
NOT use Python's Unicode-aware ``\\s``).  Same lesson as the Jaccard
shingler (BASELINE.md round-5 x2 notes).

Scale shape at 100 TB:

- ``term_postings`` is the expensive pass: one explode (map-side) and one
  ``(id, term)`` groupBy — shuffle bytes ≈ token count, with map-side
  combine collapsing repeated terms per doc.  Persist it partitioned by
  ``term`` (the inverted-index layout) and every later query prunes to
  its terms' partitions.
- ``document_frequencies`` / corpus stats are map-side-combined
  aggregations over the postings — tiny outputs (vocab / one row).
- A query never touches the corpus: ``isin`` over a literal term list is
  a pushed-down filter on the postings scan, then a per-doc sum and a
  ``TakeOrderedAndProject`` top-k.
"""

from __future__ import annotations

import re
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from r_e_hive__spark.functions import ident_sql, str_lit_sql
from r_e_hive__spark.operators import plan_fits_broadcast

#: ASCII-whitespace split class — Java \s parity; see module docstring.
TOKEN_SPLIT = r"[ \t\n\x0B\f\r]+"


def tokenize(text) -> Column:
    """Lowercased ASCII-whitespace tokens as array<string>, empties removed
    (Spark's split keeps leading/trailing empty tokens)."""
    return F.filter(
        F.split(F.lower(text), TOKEN_SPLIT), lambda t: t != ""
    )


def tokenize_sql(text: str) -> str:
    """:func:`tokenize` as SQL text (round 11, the vector.py *_sql build
    discipline): ``text`` is a SQL fragment.  The pattern is TOKEN_SPLIT
    rendered through ``str_lit_sql``, so the Column and SQL forms share one
    regex source; parity pinned in tests/test_ranking.py."""
    return (
        f"filter(split(lower({text}), {str_lit_sql(TOKEN_SPLIT)}), "
        f"_t -> _t != '')"
    )


def tokenize_py(text: str) -> list[str]:
    """The same tokenization for driver-side query strings and test
    references.  Reuses TOKEN_SPLIT (explicit ASCII class — NOT Python's
    Unicode ``\\s``) so the two paths cannot desynchronize."""
    return [t for t in re.split(TOKEN_SPLIT, text.lower()) if t]


def term_postings(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The inverted-index build: one row per (document, distinct term) with
    the within-doc term frequency and the document's token length.

    Columns: ``(id_col, term, tf, doc_len)``.  NULL-text documents carry
    no postings (explode of NULL drops the row) — they can never match a
    query, which is the correct retrieval semantics for an empty doc.

    ``doc_len`` is computed from the SAME token array that is exploded
    (one pass) and rides the groupBy key — it is constant per document,
    so it adds nothing to the shuffle's combine granularity.
    """
    toks = tokenize(F.col(text_col))
    return (
        df.select(
            F.col(id_col), F.size(toks).alias("doc_len"), F.explode(toks).alias("term")
        )
        .groupBy(id_col, "doc_len", "term")
        .agg(F.count("*").alias("tf"))
        .select(id_col, "term", "tf", "doc_len")
    )


def document_frequencies(postings: DataFrame, id_col: str) -> DataFrame:
    """``(term, df)`` — number of documents containing each term.  Postings
    already hold one row per (doc, term), so this is a plain count."""
    return postings.groupBy("term").agg(F.count(id_col).alias("df"))


def corpus_stats(postings: DataFrame, id_col: str) -> DataFrame:
    """One-row frame ``(n_docs, avgdl)`` — corpus size and mean document
    length, from the postings (docs with ≥1 token; NULL/empty docs are
    not retrievable and deliberately excluded from both).  Stays a lazy
    frame so callers cross-join it broadcast instead of collecting."""
    return (
        postings.select(id_col, "doc_len")
        .groupBy(id_col)
        .agg(F.first("doc_len").alias("doc_len"))
        .agg(
            F.count("*").alias("n_docs"),
            F.avg("doc_len").alias("avgdl"),
        )
    )


def tfidf(
    df: DataFrame, text_col: str, id_col: str, postings: DataFrame | None = None
) -> DataFrame:
    """Per-(document, term) TF-IDF weights: ``(id_col, term, tf, df,
    idf, tfidf)``.

    The smooth formulation (sklearn's ``TfidfTransformer`` default,
    public): ``idf = ln((1 + N) / (1 + df)) + 1``, ``tfidf = tf * idf``
    — never zero/negative, defined even for a term in every document.

    The df-table join auto-broadcasts when the vocabulary fits the
    session threshold; a web-scale vocabulary falls back to a shuffle
    join on ``term``, which co-partitions with the postings build when
    the postings were persisted partitioned by term.
    """
    # When building the postings inline, pin them once (round 12): three
    # consumers (document frequencies, the doc count, the weight join)
    # would each re-run the tokenize + explode + groupBy pass — shared
    # subplans re-execute per consumer over cached sources.  The postings
    # frame is metadata-scale ((id, term, tf, doc_len), no text).  A
    # caller-supplied postings frame is used as-is.
    p = (
        postings
        if postings is not None
        else term_postings(df, text_col, id_col).localCheckpoint(eager=False)
    )
    dfreq = document_frequencies(p, id_col)
    n = p.select(id_col).distinct().agg(F.count("*").alias("n_docs"))
    if plan_fits_broadcast(dfreq):
        dfreq = F.broadcast(dfreq)
    return (
        p.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "idf",
            F.log((F.lit(1) + F.col("n_docs")) / (F.lit(1) + F.col("df"))) + F.lit(1.0),
        )
        .select(
            id_col,
            "term",
            "tf",
            "df",
            "idf",
            (F.col("tf") * F.col("idf")).alias("tfidf"),
        )
    )


def bm25_search(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query: str | Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
    postings: DataFrame | None = None,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Top-``top_k`` documents for ``query`` under BM25: ``(id_col, score)``
    descending, ties broken by ascending id (deterministic).

    Per-term idf is the Lucene variant (always positive):
    ``ln(1 + (N - df + 0.5) / (df + 0.5))``; the term contribution is
    ``idf * tf*(k1+1) / (tf + k1*(1 - b + b*doc_len/avgdl))``.

    ``query`` may be a raw string (tokenized with the corpus tokenizer) or
    a pre-split term sequence.  Duplicate query terms count once (bag-of-
    words query weighting is a caller concern).  Pass ``postings`` (a
    persisted ``term_postings`` output) AND ``stats`` (its persisted
    ``corpus_stats`` one-row frame) to amortize the index across queries —
    then a search is: pushed-down term filter → tiny df-count agg →
    per-doc sum → TakeOrderedAndProject.  Without ``stats`` the corpus
    constants (n_docs, avgdl) are re-aggregated from the postings per
    call — an O(index) scan that is fine inline but defeats a persisted
    index at scale (round-5 code review): stats belong next to the index,
    computed once at build time.
    """
    terms = tokenize_py(query) if isinstance(query, str) else [t.lower() for t in query]
    terms = sorted(set(terms))
    if not terms:
        raise ValueError("bm25_search: query has no tokens")
    if postings is not None:
        if stats is None:
            stats = corpus_stats(postings, id_col)
        # the term filter is a literal IN list — it pushes into the
        # postings scan (partition-prunes a term-partitioned index);
        # df-counts for the query's terms are computed on the FILTERED
        # postings, so no vocabulary-wide aggregation runs at query time
        hits = postings.where(F.col("term").isin(terms))
    else:
        # inline (no persisted index): build postings for the QUERY'S
        # terms only — the token array filters to matching terms BEFORE
        # the explode, so the (term, doc) aggregation shuffles O(matching
        # tokens), not O(all corpus tokens) (round 9; the previous
        # term_postings-then-filter shape shuffled the whole vocabulary
        # to serve a 10-term query — at 100 TB that is the corpus).
        # Value-identical to filtering term_postings: tf counts the same
        # occurrences, doc_len is the same full-array size riding the
        # groupBy key, and docs with no matching term vanish in the
        # explode exactly as the postings filter dropped them.
        # one tokenization per document: doc_len and the matched-token
        # slice ride one let-bound struct (same transform(array(x), ...)[0]
        # binding bind_once builds), constructed as ONE parsed SQL
        # expression (round 11 — the Column form was ~0.2 s of py4j per
        # bench rep; parity pinned in tests/test_ranking.py)
        # term literals escape backslashes BEFORE quotes (ADVICE r11): the
        # parser's default escape processing (escapedStringLiterals=false,
        # pinned in catalog._REQUIRED_CONFS) would otherwise rewrite
        # 'c:\temp' to 'c:<TAB>emp' and a trailing '\' would swallow the
        # closing quote — diverging from the tok.isin(*terms) Column spec
        in_list = ",".join(str_lit_sql(t) for t in terms)
        bound = F.expr(
            f"transform(array({tokenize_sql(ident_sql(text_col))}), _tk -> "
            f"struct(size(_tk) AS doc_len, "
            f"filter(_tk, _tok -> _tok IN ({in_list})) AS m))[0]"
        )
        # ONE tokenization pass total (round 12): the per-doc bound struct
        # already carries doc_len AND the matched-token slice, so BOTH the
        # hits pipeline and the corpus stats derive from it — the previous
        # shape ran a second full tokenize pass just for (n_docs, avgdl),
        # and shared subplans re-execute per consumer over cached sources
        # (see semantic_dedup), so the lazy localCheckpoint pins the
        # per-doc frame once.  It is metadata-scale: doc_len + the query
        # terms' matches only, never the text.
        per_doc = (
            df.select(F.col(id_col), bound.alias("_b"))
            .select(
                id_col,
                F.col("_b.doc_len").alias("doc_len"),
                F.col("_b.m").alias("_m"),
            )
            .localCheckpoint(eager=False)
        )
        # hits feeds both the per-term df aggregate and the scoring join;
        # it is candidate-scale (docs × matched query terms), so pin it
        # once as well — the indexed path above is NOT pinned, so its
        # bucket PartitionFilter stays visible in the consuming plan
        # (plan-asserted in tests/test_ranking.py)
        hits = (
            per_doc.select(
                id_col, "doc_len", F.explode("_m").alias("term")
            )
            .groupBy(id_col, "doc_len", "term")
            .agg(F.count("*").alias("tf"))
            .select(id_col, "term", "tf", "doc_len")
            .localCheckpoint(eager=False)
        )
        if stats is None:
            # same (n_docs, avgdl) population as corpus_stats(term_postings):
            # docs with >=1 token (empty/NULL docs are not retrievable)
            stats = (
                per_doc.select("doc_len")
                .where(F.col("doc_len") >= 1)
                .agg(
                    F.count("*").alias("n_docs"),
                    F.avg("doc_len").alias("avgdl"),
                )
            )
    dfreq = hits.groupBy("term").agg(F.count(id_col).alias("df"))
    scored = (
        hits.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "_contrib",
            F.col("_idf")
            * (F.col("tf") * (F.lit(k1) + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("doc_len") / F.col("avgdl"))
            ),
        )
        .groupBy(id_col)
        .agg(F.sum("_contrib").alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(top_k)


def term_bucket(term, n_buckets: int) -> Column:
    """Deterministic, engine-portable term → bucket column: the first 8
    hex chars of md5 as an integer, mod ``n_buckets``.  md5 (not
    xxhash64) so the SAME bucket is computable driver-side in pure Python
    (:func:`term_bucket_py`, no Spark job to route a query) and in any
    other engine reading the index layout — the cross-engine anchor
    discipline (X15/X24)."""
    return F.conv(F.substring(F.md5(term), 1, 8), 16, 10).cast("long") % n_buckets


def term_bucket_py(term: str, n_buckets: int) -> int:
    """Driver-side twin of :func:`term_bucket` (same md5-prefix math over
    UTF-8 bytes) — routes query terms to index partitions without a job."""
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % n_buckets


def save_postings(
    df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    n_buckets: int = 64,
) -> None:
    """Materialize the inverted index the docstrings above promise, ON
    DISK: ``term_postings`` written ``partitionBy(term_bucket)`` (a
    bounded md5 bucket of the term — partitioning by raw ``term`` would
    create |vocab| directories), plus the build-time ``corpus_stats``
    one-row frame carrying ``n_buckets`` as layout metadata, under::

        path/postings/term_bucket=<b>/...
        path/stats/

    This is the index-once/search-many artifact (the save_ivf_index /
    save_bpe discipline): a search reads ONLY its query terms' bucket
    partitions (:func:`bm25_search_indexed` pushes the bucket list as a
    PartitionFilter) and never re-aggregates corpus constants.  At 100 TB
    the postings build is the one expensive pass; every later query is a
    pruned scan of ~|query terms|/n_buckets of the index."""
    from r_e_hive__spark import storage

    postings = f"{path}/postings"
    p = term_postings(df, text_col, id_col)
    p.withColumn("term_bucket", term_bucket(F.col("term"), n_buckets)).write.mode(
        "overwrite"
    ).partitionBy("term_bucket").parquet(postings)
    # stats from the JUST-WRITTEN index (a 2-column pruned read), not from
    # the lazy term_postings plan — that would re-run the whole
    # tokenize+explode+groupBy corpus pass a second time (round-8 review:
    # "the one expensive pass" must actually be one).  With zero
    # retrievable documents the write emits no parquet files and a read
    # can't infer a schema, so the lazy plan stands in and the store still
    # completes with n_docs=0 stats (round-8 third review).
    src = p
    if storage.parquet_files(postings):
        src = df.sparkSession.read.parquet(storage.spark_path(postings))
    corpus_stats(src, id_col).withColumn(
        "n_buckets", F.lit(n_buckets)
    ).write.mode("overwrite").parquet(f"{path}/stats")


def _postings_layout(spark, path: str):
    """(stats_df, full_schema, n_buckets, buckets) for a
    :func:`save_postings` layout, read DRIVER-SIDE through
    :mod:`r_e_hive__spark.storage` — zero Spark jobs (round 12): the one
    stats row, one listing of ``postings/`` (``buckets`` = the bucket
    numbers holding data files) and one footer.  A missing or unreadable
    path raises.  ``spark.createDataFrame`` on an empty arrow table maps
    the types (no job), so the frames are type-identical to Spark's own
    scans (parity pinned in tests/test_ranking.py roundtrip tests)."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import IntegerType, StructField, StructType

    from r_e_hive__spark import storage

    fs, stats_path = storage.resolve(f"{path}/stats")
    stats_tbl = pq.read_table(stats_path, filesystem=fs)
    if "n_buckets" not in stats_tbl.schema.names or stats_tbl.num_rows == 0:
        raise ValueError(
            f"load_postings: {path}/stats is not a postings layout"
        )
    stats_df = spark.createDataFrame(
        [tuple(row.values()) for row in stats_tbl.to_pylist()],
        spark.createDataFrame(stats_tbl.schema.empty_table()).schema,
    )
    n_buckets = int(stats_tbl.column("n_buckets")[0].as_py())
    root = f"{path}/postings"
    files = storage.parquet_files(root)
    if not files:
        raise ValueError(f"load_postings: {root} holds no parquet files")
    buckets = {
        int(f[len(root) + 1 :].split("/")[0].removeprefix("term_bucket="))
        for f in files
    }
    footer = storage.footer(next(iter(files))).schema.to_arrow_schema()
    data_schema = spark.createDataFrame(footer.empty_table()).schema
    # the partition column rides the directory names; Spark's own
    # discovery would type the 0..n_buckets-1 values as int
    full_schema = StructType(
        list(data_schema.fields) + [StructField("term_bucket", IntegerType())]
    )
    return stats_df.drop("n_buckets"), full_schema, n_buckets, buckets


def load_postings(spark, path: str) -> tuple[DataFrame, DataFrame, int]:
    """(postings, stats, n_buckets) from a :func:`save_postings` layout.
    ``stats`` is returned WITHOUT the metadata column so it drops straight
    into ``bm25_search(stats=...)``; layout metadata (schema, n_buckets,
    the stats row) is read driver-side — no Spark job runs to open the
    index (round 12, see :func:`_postings_layout`)."""
    from r_e_hive__spark.storage import spark_path

    stats, schema, n_buckets, _ = _postings_layout(spark, path)
    postings = spark.read.schema(schema).parquet(spark_path(f"{path}/postings"))
    return postings, stats, n_buckets


def load_pruned_postings(
    spark, index_path: str, terms: Sequence[str]
) -> tuple[DataFrame, DataFrame]:
    """(bucket-pruned postings, stats) for a term list against a
    :func:`save_postings` layout — the ONE implementation of the routing
    contract (driver-side md5 bucket list pushed as a PartitionFilter),
    shared by :func:`bm25_search_indexed` and the bench fast twin so the
    two can never desync (round-8 review).

    Round 12: the scan is built over the probed buckets' DIRECTORIES
    (``basePath`` + explicit per-bucket paths), so Spark lists only
    |query-term buckets| directories; ``term_bucket IN`` still rides the
    scan as a PartitionFilter (plan-pinned).  Buckets holding no data
    files are left out; if none remain, the result is an empty frame of
    the postings schema and nothing is scanned."""
    from r_e_hive__spark.storage import spark_path

    stats, full_schema, n_buckets, present = _postings_layout(spark, index_path)
    buckets = sorted({term_bucket_py(t, n_buckets) for t in terms})
    root = f"{index_path}/postings"
    dirs = [spark_path(f"{root}/term_bucket={b}") for b in buckets if b in present]
    if not dirs:
        return spark.createDataFrame([], full_schema).drop("term_bucket"), stats
    pruned = (
        spark.read.option("basePath", root)
        .schema(full_schema)
        .parquet(*dirs)
        .where(F.col("term_bucket").isin(buckets))
        .drop("term_bucket")
    )
    return pruned, stats


def bm25_search_indexed(
    spark,
    index_path: str,
    query: str | Sequence[str],
    id_col: str,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """BM25 top-k against a persisted :func:`save_postings` layout with
    the query's term buckets pushed into the SCAN as a PartitionFilter
    (``term_bucket.isin`` over a driver-computed md5 bucket list — no job
    runs to route the query; plan-asserted in tests/test_ranking.py).

    Returns ``(results, pruned_postings, stats)`` — the postings/stats
    frames are handed back so a caller issuing several searches (or the
    declared scoring tail) reuses the pruned scan."""
    terms = tokenize_py(query) if isinstance(query, str) else [t.lower() for t in query]
    terms = sorted(set(terms))
    if not terms:
        raise ValueError("bm25_search_indexed: query has no tokens")
    pruned, stats = load_pruned_postings(spark, index_path, terms)
    res = bm25_search(
        None,  # never touched: postings+stats supplied
        "_unused",
        id_col,
        terms,
        k1=k1,
        b=b,
        top_k=top_k,
        postings=pruned,
        stats=stats,
    )
    return res, pruned, stats


def rrf_fuse(
    rankings: Sequence[DataFrame],
    id_col: str,
    k: int = 60,
    top_k: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion of N retrieval result lists (Cormack et al.
    2009) — the standard way to combine BM25 with embedding top-k (X3)
    into one hybrid ranking without score calibration.

    Each input frame needs ``(id_col, score)``; rank within each list is
    ``row_number`` over (score desc, id asc) — tied scores get DISTINCT
    consecutive ranks, deterministically id-ordered (the standard RRF
    formulation ranks a list, it does not share ranks across ties).  Fused score = Σ_lists 1/(k + rank); documents missing
    from a list simply contribute nothing for it.  Output:
    ``(id_col, rrf_score, n_lists)`` descending, id-tiebroken, optionally
    LIMITed to ``top_k``.

    Scale: the inputs are top-k lists (tiny by construction), so the
    single-partition rank windows and the union-aggregate are on frames of
    ~top_k × lists rows — driver-scale work expressed in-plan.  Do NOT
    feed whole-corpus score tables here; rank those with a distributed
    window first.
    """
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    from pyspark.sql.window import Window

    ranked = []
    for r in rankings:
        w = Window.orderBy(F.desc("score"), F.asc(id_col))
        ranked.append(
            r.select(id_col, "score")
            .withColumn("_rank", F.row_number().over(w))
            .select(id_col, (F.lit(1.0) / (F.lit(k) + F.col("_rank"))).alias("_rr"))
        )
    allr = ranked[0]
    for r in ranked[1:]:
        allr = allr.unionByName(r)
    out = (
        allr.groupBy(id_col)
        .agg(F.sum("_rr").alias("rrf_score"), F.count("*").alias("n_lists"))
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
    )
    return out.limit(top_k) if top_k is not None else out
