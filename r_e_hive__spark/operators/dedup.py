"""Deduplication operators (SURVEY.md §2.11 X1-X2; north-star dedup suite).

Five dedup strategies, each scale-designed:

- ``exact_dedup`` — hash-groupBy on the dedup key.  One shuffle; at 100 TB
  pre-hash the key (sha2) so the shuffle key is fixed-width.
- ``ngram_jaccard_pairs`` — *exact* n-gram Jaccard over blocked candidate
  pairs.  Blocking (same lang + length bucket by default) bounds the
  candidate set; the inner computation is explode→join→groupBy, all
  shuffle-partitioned by shingle then by pair.
- ``minhash_lsh_pairs`` — MinHash signatures + banded LSH: the sub-quadratic
  scale path.  Signatures via ``xxhash64(shingle, seed)`` min-aggregated per
  doc (map-side combine), bands via array slicing, candidate generation via
  self-join on (band_id, band_hash) — the classic MMDS construction built
  from pure DataFrame ops (no pyspark.ml dependency, no CountVectorizer
  vocabulary bottleneck at scale).
- ``simhash64`` — 64-bit SimHash from token hashes: per-token xxhash64 →
  per-bit ±1 votes → sign aggregation.  Near-dup = small Hamming distance;
  banded by 16-bit chunks for sub-quadratic candidate generation.
- ``embedding_neardup_pairs`` — cosine-over-threshold pairs on an embedding
  column (see operators/similarity.py for the underlying join strategies).

All candidate-pair outputs use ``id_a < id_b`` canonical ordering.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from r_e_hive__spark.functions import ident_sql
from r_e_hive__spark.functions.text import bind_once, shingles_sql, tokens
from r_e_hive__spark.operators import (
    SHINGLE_PANDAS_MIN_BYTES,
    ensure_parallelism,
    plan_fits_broadcast,
    resolve_text_strategy,
)

_fits_broadcast = plan_fits_broadcast  # shared gate (operators/__init__.py)


def exact_dedup(
    df: DataFrame, key_cols: Sequence[str], id_col: str, keep: str = "min"
) -> DataFrame:
    """Exact dedup: keep one representative (min/max id) per key group.

    Equivalent to ``dropDuplicates`` but with a *deterministic* survivor —
    dropDuplicates keeps an arbitrary row, which violates the determinism
    contract (SURVEY.md §2.12)."""
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    survivors = df.groupBy(*key_cols).agg(agg.alias(id_col))
    # null-SAFE key equality: with plain `=`, a NULL-keyed survivor never
    # matches itself and every NULL-key row silently vanishes — whereas the
    # documented dropDuplicates equivalent keeps one NULL-key representative
    # (round-4 code review)
    cond = df[id_col] == survivors[id_col]
    for c in key_cols:
        cond = cond & df[c].eqNullSafe(survivors[c])
    return df.join(survivors, cond, "left_semi")


def _shingles(text_col: str, k: int) -> Column:
    """Word k-shingles of the named text column (functions.text.shingles_sql)."""
    return F.expr(shingles_sql(ident_sql(text_col), k))


def _shingle_structs(text_col: str, k: int) -> Column:
    """array<struct<shingle, _n>>: each DISTINCT k-shingle of the named text
    column paired with the doc's distinct-shingle count.  ONE let-bound
    shingling evaluation per doc: the distinct-gram array binds once
    (interpreted-HOF discipline, functions/text bind_once) and each element
    pairs with the array's size.  Built as ONE parsed SQL expression (round
    11, the vector.py *_sql discipline): the Column-API construction of this
    tree was ~0.3 s of py4j round-trips per bench rep."""
    return F.expr(
        f"transform(array(array_distinct("
        f"{shingles_sql(ident_sql(text_col), k)})), _arr -> "
        f"transform(_arr, _s -> "
        f"struct(_s AS shingle, size(_arr) AS _n)))[0]"
    )


def with_shingles(
    df: DataFrame, text_col: str, id_col: str, k: int = 3, strategy: str = "auto"
) -> DataFrame:
    """(id, shingle) exploded pairs, distinct per doc.

    ``strategy="pandas"`` routes through the single-pass Arrow shingler
    (same crossover economics as ngram_jaccard_pairs — wins from ~50 k
    docs; parity pinned in tests/test_dedup.py), so MinHash signatures
    inherit the fast path too.  ``"auto"`` (default) applies the measured
    crossover by Catalyst size estimate — corpus-scale inputs get the
    Arrow pass without the caller having to know the A/B."""
    if strategy == "auto":
        strategy = resolve_text_strategy(
            df, text_col, "expr", "pandas", SHINGLE_PANDAS_MIN_BYTES
        )
    if strategy == "pandas":
        return _exploded_shingles_pandas(df, text_col, id_col, k, ()).select(
            F.col("_id").alias(id_col), "shingle"
        )
    if strategy != "expr":
        raise ValueError(f"unknown strategy {strategy!r}")
    return ensure_parallelism(df).select(
        F.col(id_col),
        F.explode(F.array_distinct(_shingles(text_col, k))).alias("shingle"),
    )


def _exploded_shingles_pandas(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    block_cols: Sequence[str],
) -> DataFrame:
    r"""ONE Arrow pass emitting (_id, _b_*, shingle, _n): each doc's
    DISTINCT k-shingles plus its shingle count — replacing the expr
    path's TWO interpreted-HOF shingling passes (Catalyst higher-order
    functions run per element; Python string slicing over Arrow batches
    wins here, BASELINE.md).  The output is localCheckpointed: three
    downstream consumers (postings, n_a, n_b) would otherwise each
    re-execute the Python pass — Spark recomputes uncached shared
    subplans per consumer.

    Token parity with functions/text.tokens (Spark split, limit=-1) is
    exact: the split pattern is Java's ASCII-only \s class
    ([ 	

]) — Python's \s is Unicode-aware and would tokenize
    NBSP etc. differently — and re.split keeps leading AND trailing
    empty tokens just like Spark's split; the < k fallback emits the
    whole-doc single shingle exactly like shingles_sql().  Pinned against
    the expr path on edge strings (incl. Unicode whitespace) in
    tests/test_dedup.py.
    """
    import re

    import pandas as pd
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    # resolved here (dotted struct fields too); the worker reads by position
    src = df.select(
        F.col(id_col).alias("_id"),
        *[F.col(c).alias(f"_b_{c}") for c in block_cols],
        F.col(text_col).alias("_text"),
    )
    fields = [StructField(f.name, f.dataType, True) for f in src.schema.fields[:-1]]
    fields += [
        StructField("shingle", StringType(), False),
        StructField("_n", IntegerType(), False),
    ]
    out_schema = StructType(fields)
    ws = re.compile(r"[ \t\n\x0B\f\r]+")  # Java \s, NOT Python \s

    def gen(batches):
        for pdf in batches:
            out = {f.name: [] for f in fields}
            for row in pdf.itertuples(index=False):
                rid, blocks, text = row[0], row[1:-1], row[-1]
                toks = ws.split(text or "")
                if len(toks) >= k:
                    sset = {
                        " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
                    }
                else:
                    sset = {" ".join(toks)}
                n = len(sset)
                for s in sset:
                    out["_id"].append(rid)
                    for c, v in zip(block_cols, blocks):
                        out[f"_b_{c}"].append(v)
                    out["shingle"].append(s)
                    out["_n"].append(n)
            yield pd.DataFrame(out, columns=[f.name for f in fields])

    return ensure_parallelism(src).mapInPandas(gen, out_schema)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
    block_cols: Sequence[str] = (),
    max_df: int | None = None,
    shingle_strategy: str = "auto",
    assume_unique_ids: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: pairs with J ≥ threshold.

    J(a,b) = |shingles(a) ∩ shingles(b)| / |shingles(a) ∪ shingles(b)|.

    ``block_cols`` restricts candidates to equal blocking keys (e.g. lang).

    Implementation is an **inverted index**, not a self-join: group the
    exploded (doc, shingle) pairs by shingle into a sorted posting list and
    emit each list's id<id combinations with JVM higher-order functions.
    Versus the naive shingle self-join this shuffles each shingle string
    once instead of twice, skips the join build, and drops
    df=1 shingles (the vast majority) before any pair exists.

    ``max_df`` is the heavy-hitter guard: a shingle appearing in more than
    ``max_df`` docs (a stopword-shingle) is dropped from the index before
    pair expansion, bounding any single posting list's pair count at
    max_df² instead of quadratic-in-corpus in ONE task.  Standard in
    web-dedup pipelines; at 100 TB it is mandatory.  Dropping an
    over-frequent shingle can only *lower* a pair's counted intersection
    (never invent a pair), so results with a cap are a subset of the exact
    result; on a corpus with no heavy hitters (cap above the true max df)
    output is bit-identical to the uncapped run.  For guaranteed-exact J on
    survivors, verify capped candidates with the array_intersect step used
    in minhash_lsh_pairs.

    Contract: ``id_col`` is assumed unique per document
    (``assume_unique_ids=True``, the zero-extra-shuffle path — a
    duplicated id would duplicate its pairs through the size joins).
    Pass ``assume_unique_ids=False`` to pay one tiny (id, int) dedup
    shuffle and get duplicate-tolerant sizes on both strategies
    (measured +0.5 s on the sf0.1 bench query, hence opt-in).

    ``shingle_strategy``: ``"expr"`` shingles with JVM higher-order
    functions; ``"pandas"`` shingles in an Arrow batch pass.  Both carry
    the per-doc count on the exploded rows (round 11) so neither pays a
    second shingling pass or a size join.  Measured crossover
    (BASELINE.md): expr wins at 5 k docs (1.89 s vs 2.14 s — Python
    worker startup dominates), pandas wins at 50 k docs (4.73 s vs
    6.12 s) and grows its lead with corpus size; outputs are pinned
    identical (tests/test_dedup.py), so pick by scale.  ``"auto"``
    (default) picks by Catalyst's size estimate at the measured
    crossover, so corpus-scale callers get the fast path without
    knowing the A/B (round-5 VERDICT item 4).
    """
    if shingle_strategy == "auto":
        shingle_strategy = resolve_text_strategy(
            df, text_col, "expr", "pandas", SHINGLE_PANDAS_MIN_BYTES
        )
    # Carried-n reshape (round 11): under the unique-id contract the per-doc
    # shingle count rides the exploded rows (+4 bytes/row on the shingle
    # exchange), the posting lists collect (id, n) STRUCTS, and the pair
    # expansion emits (id_a, n_a, id_b, n_b) directly — so the two
    # size-probe joins (and, in expr mode, the two EXTRA full
    # shingling scans that built their broadcast sides; in pandas mode the
    # localCheckpoint that shielded the shared Python pass) disappear from
    # the plan outright.  At 100 TB this also deletes the failure mode
    # where ``sizes`` outgrows the broadcast threshold and the pair stream
    # pays two shuffle joins.  Outputs are identical: n is functionally
    # determined by the id, sort_array over (id, n) structs orders by id
    # exactly as the old sorted id list did, and the Jaccard arithmetic is
    # the same expression over the same numbers (oracle-differentialed in
    # tests/test_retired_queries.py; strategy parity in tests/test_dedup.py).
    # Duplicate-tolerant callers (assume_unique_ids=False) keep the join
    # path: a duplicated id with drifting n must resolve through the
    # aggregated min, not pair with itself inside a posting list.
    carry_n = assume_unique_ids
    sh = sizes = None
    if shingle_strategy == "pandas":
        exploded = _exploded_shingles_pandas(df, text_col, id_col, k, block_cols)
        if not carry_n:
            # two consumers (postings + sizes) would re-run the Python pass
            exploded = exploded.localCheckpoint(eager=True)
            sh = exploded.drop("_n")
            sizes = exploded.groupBy("_id").agg(F.min("_n").alias("_n"))
    elif shingle_strategy == "expr":
        src = ensure_parallelism(df)
        if carry_n:
            exploded = src.select(
                F.col(id_col).alias("_id"),
                *[F.col(c).alias(f"_b_{c}") for c in block_cols],
                F.explode(_shingle_structs(text_col, k)).alias("_sn"),
            ).select(
                "_id",
                *[f"_b_{c}" for c in block_cols],
                F.col("_sn.shingle").alias("shingle"),
                F.col("_sn._n").alias("_n"),
            )
        else:
            sh = src.select(
                F.col(id_col).alias("_id"),
                *[F.col(c).alias(f"_b_{c}") for c in block_cols],
                F.explode(
                    F.array_distinct(_shingles(text_col, k))
                ).alias("shingle"),
            )
            # per-doc shingle count is a NARROW projection of the source —
            # computing it from the exploded stream would re-run the whole
            # shingling pass (Spark recomputes shared subplans per consumer)
            sizes = src.select(
                F.col(id_col).alias("_id"),
                F.size(F.array_distinct(_shingles(text_col, k))).alias("_n"),
            )
            # one row per DOC, not per input row: duplicate ids would
            # otherwise duplicate every pair through the n_a/n_b joins
            # (and diverge from the pandas strategy, which aggregates)
            sizes = sizes.groupBy("_id").agg(F.min("_n").alias("_n"))
    else:
        raise ValueError(f"unknown shingle_strategy {shingle_strategy!r}")
    # collect_SET: duplicate doc ids in the input would otherwise sit
    # adjacent in the sorted list and the i<j slice would pair them with
    # themselves (Jaccard 1.0 self-pairs) — the old self-join's strict
    # id_a < id_b predicate excluded equal ids, so must the index.
    if carry_n:
        # posting lists carry (id, n) structs; sort_array orders by the
        # leading id field (n is id-determined, so the order — and the
        # i<j pair set — is exactly the old sorted-id-list order)
        postings = (
            exploded.groupBy("shingle", *[f"_b_{c}" for c in block_cols])
            .agg(
                F.sort_array(F.collect_set(F.struct("_id", "_n"))).alias("_ids")
            )
            .where(F.size("_ids") >= 2)
        )
    else:
        postings = (
            sh.groupBy("shingle", *[f"_b_{c}" for c in block_cols])
            .agg(F.sort_array(F.collect_set("_id")).alias("_ids"))
            .where(F.size("_ids") >= 2)
        )
    if max_df is not None:
        postings = postings.where(F.size("_ids") <= max_df)
    # all index pairs (i < j) of the sorted posting list, JVM-side
    if carry_n:
        pair_structs = F.expr(
            "flatten(transform(_ids, (_x, _i) -> "
            "transform(slice(_ids, _i + 2, size(_ids)), _y -> "
            "struct(_x._id AS id_a, _x._n AS n_a, "
            "_y._id AS id_b, _y._n AS n_b))))"
        )
        # min() keeps the hash aggregate partial (map-side combine); every
        # group's n_a/n_b values are equal under the unique-id contract
        joined = (
            postings.select(F.explode(pair_structs).alias("_p"))
            .select("_p.id_a", "_p.n_a", "_p.id_b", "_p.n_b")
            .groupBy("id_a", "id_b")
            .agg(
                F.count("*").alias("n_common"),
                F.min("n_a").alias("n_a"),
                F.min("n_b").alias("n_b"),
            )
        )
    else:
        pair_structs = F.flatten(
            F.transform(
                F.col("_ids"),
                lambda x, i: F.transform(
                    F.slice(F.col("_ids"), i + 2, F.size(F.col("_ids"))),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        )
        pair_common = (
            postings.select(F.explode(pair_structs).alias("_p"))
            .select(F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_common"))
        )
        na = sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("n_a"))
        nb = sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("n_b"))
        # sizes is one small fixed-width row per doc; when the doc table
        # itself is under the broadcast threshold, hint both probe joins to
        # BHJ — the pair stream (the big side) then never shuffles again
        if _fits_broadcast(df):
            na, nb = F.broadcast(na), F.broadcast(nb)
        joined = pair_common.join(na, "id_a").join(nb, "id_b")
    return (
        joined.withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 32,
    shingle_strategy: str = "auto",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per doc: sig[i] = min over shingles of
    hash(shingle, seed_i).

    Computed as one explode + groupBy with ``min`` aggregates — map-side
    partial aggregation means the shuffle carries only num_hashes values per
    doc regardless of doc length.

    ``hash_fn``:

    - ``"xxhash64"`` (default, production): Spark-native (codegen'd),
      deterministic across runs/partitionings; signature is array<long>.
    - ``"md5"`` (cross-engine): sig[i] = min over shingles of the hex
      string ``md5(concat(i, ':', shingle))`` — md5 is bit-identical in
      every engine and hex strings order identically under binary
      collation, so the WHOLE decision pipeline built on these signatures
      (banding, est_jaccard, incremental dedup) is replayable
      value-for-value in DuckDB (the X15/X24 md5 anchor trick; VERDICT r7
      item 2).  The ``i:`` prefix is unambiguous: seeds contain no ':',
      so no (seed, shingle) pair collides with another's concatenation.
      Signature is array<string> (32 hex chars/slot — 4× the xxhash64
      footprint; the cross-engine mode is a correctness instrument, not
      the production layout)."""
    sh = with_shingles(df, text_col, id_col, k, strategy=shingle_strategy)
    if hash_fn == "xxhash64":
        aggs = [
            F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    elif hash_fn == "md5":
        aggs = [
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    sig = sh.groupBy(id_col).agg(*aggs)
    # k and hash_fn leave no trace in the signature VALUES (num_hashes is
    # the array length, bands rides band_signatures' num_bands column) —
    # carry them as column metadata, which Spark persists through parquet
    # round-trips, so save_band_index / incremental_neardup can verify the
    # one parameter drift that would otherwise be silent (round-8 review:
    # a k mismatch between build and probe zeroes est_jaccard and admits
    # every history near-dup with no guard firing).
    return sig.select(
        id_col,
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias(
            "signature", metadata={"minhash_k": k, "minhash_hash_fn": hash_fn}
        ),
    )


def _band_hash_expr(sig_col, b: int, r: int) -> Column:
    """Band b's LSH hash over a MinHash signature column: xxhash64 of the
    comma-joined signature rows [b*r, (b+1)*r) — the ONE construction
    band_signatures and the first-matching-band filters share (they must
    agree bit for bit or the dedup-free pair emission drops pairs)."""
    return F.xxhash64(
        F.concat_ws(",", *[sig_col[b * r + i].cast("string") for i in range(r)])
    )


def _first_matching_band(
    sig_a, sig_b, bands: int, r: int, bh_a=None, bh_b=None
) -> Column:
    """Keep a banded candidate row only if NO earlier band also collided —
    each colliding pair then survives in exactly one band's join output
    and the pair generators need no pair-level dedup exchange at all (the
    lsh_neighbor_pairs first-matching-band discipline, round 9: the
    legacy dropDuplicates shuffled every candidate row carrying BOTH
    signature arrays).

    ``bh_a``/``bh_b`` are the sides' ``earlier_band_hashes`` columns
    (band_signatures carries band hashes [0, band_id) precomputed — the
    x4 carry-the-bucket-word discipline, round-11): the earlier-band test
    is then pure array indexing.  A side passed as ``None`` (an index
    persisted before the column existed) recomputes its hashes from the
    carried signature with ``_band_hash_expr`` — the pre-round-11 shape,
    measured ~15%% of the sf1 probe.  Either way the (i < band_id) guard
    keeps rows emitted from band 0 — the common case — comparing nothing:
    i >= band_id makes the conjunct FALSE (an out-of-range getItem is
    NULL, and false AND null = false)."""

    def hash_at(sig, bh, i: int):
        return _band_hash_expr(sig, i, r) if bh is None else bh[i]

    cond = F.lit(True)
    for i in range(bands - 1):
        earlier = (F.lit(i) < F.col("band_id")) & (
            hash_at(sig_a, bh_a, i) == hash_at(sig_b, bh_b, i)
        )
        cond = cond & ~earlier
    return cond


def band_signatures(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """Explode a MinHash signature frame (``id_col``, ``signature``) into
    its banded-LSH form ``(id_col, signature, band_id, band_hash,
    earlier_band_hashes, num_bands)`` — band b's hash is ``xxhash64`` over
    signature rows [b*r, (b+1)*r).  ``num_bands`` is a constant metadata
    column (free under parquet RLE) so a consumer of a PERSISTED index can
    verify its banding parameters in-plan instead of silently joining
    mismatched band spaces — see ``incremental_neardup``.

    ``earlier_band_hashes`` (round-11, the x4 carry-the-bucket-word
    discipline) is the slice of band hashes [0, band_id) — exactly what
    the first-matching-band predicate tests — precomputed HERE, where the
    band array exists anyway, so the pair generators' post-join filter is
    pure array indexing instead of up to bands−1 xxhash64-over-concat
    recomputes per candidate (measured ~15% of the sf1 x22 probe).  Band
    0's rows — the bulk of emissions — carry an EMPTY array: the average
    carry is (bands−1)/2 longs/row, cheaper than one more signature
    element.

    This is the layout a persisted signature INDEX should be stored in
    (partitioned/bucketed by ``band_hash``) so that incremental batches
    probe it without shuffling it."""
    r = num_hashes // bands
    if r < 1 or num_hashes % bands != 0:
        # r=0 would hash an EMPTY signature slice per band: every doc
        # collides in every band and the self-join silently goes quadratic
        raise ValueError(
            f"bands ({bands}) must evenly divide num_hashes ({num_hashes}) "
            f"with >=1 row per band"
        )
    band_arr = F.array(
        *[_band_hash_expr(F.col("signature"), b, r) for b in range(bands)]
    )
    # in-plan signature-length guard: a signature shorter than num_hashes
    # (e.g. a persisted index built with a different num_hashes fed back
    # into incremental_neardup) would slice out-of-range NULLs, concat_ws
    # would SKIP them, and every row would collide on xxhash64 of the
    # empty string in the tail bands — a silent quadratic candidate
    # explosion plus deflated est_jaccard.  Fail loudly instead (same
    # assert_true pattern as hyperplane_bucket, round-3 hardening).
    band_arr = F.when(
        F.assert_true(
            F.size("signature") == num_hashes,
            f"band_signatures: signature length != num_hashes ({num_hashes})"
            " — was the index built with different minhash parameters?",
        ).isNull(),
        band_arr,
    )
    # the band array feeds BOTH the explode and the earlier-hashes slice;
    # let-bind it (functions.text.bind_once) so it is built once per doc —
    # as two projected references Catalyst's CollapseProject inlines it
    # into both consumers and every doc hashes its bands twice (measured
    # 32 xxhash64(concat_ws in the optimized plan vs 16 let-bound)
    def banded_structs(bs: Column) -> Column:
        idx = F.sequence(F.lit(0), F.lit(bands - 1))
        return F.transform(
            idx,
            lambda i: F.struct(
                bs[i].alias("band_hash"),
                F.slice(bs, F.lit(1), i).alias("earlier_band_hashes"),
            ),
        )

    return (
        sig.select(
            id_col,
            "signature",
            F.posexplode(bind_once(band_arr, banded_structs)).alias(
                "band_id", "_band"
            ),
        )
        .select(
            id_col,
            "signature",
            "band_id",
            F.col("_band.band_hash").alias("band_hash"),
            F.col("_band.earlier_band_hashes").alias("earlier_band_hashes"),
        )
        .withColumn("num_bands", F.lit(bands))
    )


def _sig_match_fraction(sig_a, sig_b, num_hashes: int) -> Column:
    """Fraction of equal MinHash rows between two signature columns —
    the unbiased Jaccard estimator (MMDS ch.3)."""
    return (
        F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda m: m))
        / F.lit(num_hashes)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float | None = 0.5,
) -> DataFrame:
    """Banded-LSH candidate pairs (ids a<b) with estimated Jaccard.

    rows-per-band r = num_hashes/bands; collision threshold ≈ (1/bands)^(1/r).
    Candidates = docs sharing ≥1 band; est_jaccard = fraction of matching
    minhashes.  If ``jaccard_threshold`` is set, candidates are verified with
    the *exact* shingle Jaccard (join back to shingle sets) — LSH recall with
    exact precision."""
    # Lazy localCheckpoint (round 12): the banded frame feeds BOTH join
    # sides, and exchange reuse never fires over an InMemoryRelation
    # source (measured — see semantic_dedup), so the full shingle +
    # 32×xxhash64 + min-agg shuffle ran TWICE per query.  The signature
    # frame is metadata-scale (id + num_hashes longs ≈ 260 B/doc — the
    # guide-§8 "decide with small rows" proxy), so materializing it once
    # on executor storage is cheap at any corpus size and halves the
    # dominant x2-family cost.  eager=False keeps the operator lazy;
    # every invocation recomputes from the input.
    sig = minhash_signatures(df, text_col, id_col, k, num_hashes).localCheckpoint(
        eager=False
    )
    banded = band_signatures(sig, id_col, num_hashes, bands)
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"),
        F.col("earlier_band_hashes").alias("_bh_a"), "band_id", "band_hash",
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"),
        F.col("earlier_band_hashes").alias("_bh_b"), "band_id", "band_hash",
    )
    cand = (
        a.join(b, ["band_id", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            _first_matching_band(
                F.col("sig_a"), F.col("sig_b"), bands, num_hashes // bands,
                bh_a=F.col("_bh_a"), bh_b=F.col("_bh_b"),
            )
        )
        .select("id_a", "id_b", "sig_a", "sig_b")
    )
    est = cand.withColumn(
        "est_jaccard",
        _sig_match_fraction(F.col("sig_a"), F.col("sig_b"), num_hashes),
    ).select("id_a", "id_b", "est_jaccard")
    if jaccard_threshold is None:
        return est
    # Verify ONLY the candidates: join each side to its (narrowly computed)
    # shingle set and compute exact Jaccard with array_intersect.  Cost is
    # linear in |candidates| — recomputing the full exact pair join here
    # would silently reintroduce the quadratic blow-up LSH exists to avoid.
    #
    # Round 12: shingle only the CANDIDATE docs.  The previous shape
    # computed `sets` over the whole corpus and scanned it twice (sa and
    # sb sides) — two more full shingling passes to verify a candidate
    # list that is tiny by construction.  The candidate-id semi-join
    # prunes df BEFORE shingling (guide §3.2's reduce-the-big-side), so
    # verification shingles O(|candidate ids|) docs; est is checkpointed
    # first because deriving the id list would otherwise re-run the whole
    # banded join per consumer (the same no-reuse hazard as above), and
    # the pruned sets frame is checkpointed so sa/sb read one
    # materialization.  Values are identical: the sa/sb joins are inner
    # on ids drawn from est itself.
    est = est.localCheckpoint(eager=False)
    cand_ids = (
        est.select(F.explode(F.array("id_a", "id_b")).alias("_sid"))
        .distinct()
    )
    sets = (
        df.join(cand_ids, F.col(id_col) == F.col("_sid"), "left_semi")
        .select(
            F.col(id_col).alias("_sid"),
            F.array_distinct(_shingles(text_col, k)).alias("_sset"),
        )
        .localCheckpoint(eager=False)
    )
    sa = sets.select(F.col("_sid").alias("id_a"), F.col("_sset").alias("_set_a"))
    sb = sets.select(F.col("_sid").alias("id_b"), F.col("_sset").alias("_set_b"))
    verified = (
        est.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("_set_a", "_set_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.size("_set_a") + F.size("_set_b") - F.col("n_common")),
                6,
            ),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
    )
    return verified.select("id_a", "id_b", "est_jaccard", "jaccard")


def simhash64(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash per doc from token xxhash64 bit votes.

    For each bit position: +1 if set, −1 if clear, summed over tokens; the
    fingerprint bit is the vote sign.  Implemented as 64 wide vote columns
    (not a 64× row explosion): explode tokens → per-token hash → 64 sum
    aggregates with map-side combine — one shuffle carrying 64 ints per doc
    regardless of doc length."""
    tok = ensure_parallelism(df).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    ).withColumn("h", F.xxhash64("tok"))
    votes = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"_v{i}")
            for i in range(64)
        ]
    )
    # bit 63 is the sign bit of a signed long: its weight is LONG_MIN
    weight = lambda i: (1 << i) if i < 63 else -(1 << 63)  # noqa: E731
    fp = None
    for i in range(64):
        term = F.when(F.col(f"_v{i}") > 0, F.lit(weight(i))).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return votes.select(F.col(id_col), fp.cast("long").alias("simhash"))


# 64-bit fingerprint banded into four 16-bit chunks; pigeonhole bounds
# recall at Hamming <= _SIMHASH_CHUNKS - 1.
_SIMHASH_CHUNKS = 4
_SIMHASH_CHUNK_BITS = 64 // _SIMHASH_CHUNKS


def _simhash_chunk_expr(fp_col, i: int) -> Column:
    """Chunk i of a 64-bit simhash — the ONE construction the posexplode
    banding array and the earlier-chunk filter share (r9 ADVICE: they must
    agree bit for bit or first-chunk emission drops/duplicates pairs;
    the MinHash path's _band_hash_expr plays the same role)."""
    mask = (1 << _SIMHASH_CHUNK_BITS) - 1
    return F.shiftright(fp_col, _SIMHASH_CHUNK_BITS * i).bitwiseAND(F.lit(mask))


def simhash_neardup_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Candidate generation: band the 64-bit fingerprint into four 16-bit
    chunks — any pair within Hamming ≤ 3 shares at least one chunk
    (pigeonhole), so the join is equi on (chunk_id, chunk_value), never
    quadratic.  The same pigeonhole bounds recall: 4 chunks guarantee
    candidates only for Hamming ≤ 3, so larger thresholds are rejected
    rather than silently missing pairs (round-4 code review)."""
    if not 0 <= max_hamming <= _SIMHASH_CHUNKS - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the "
            f"{_SIMHASH_CHUNKS}x{_SIMHASH_CHUNK_BITS}-bit banding's recall "
            f"guarantee (<={_SIMHASH_CHUNKS - 1}); use more/narrower bands "
            f"for larger radii"
        )
    # Lazy localCheckpoint (round 12): both join sides consume the
    # fingerprint frame, and exchange reuse never fires over a cached
    # source (see semantic_dedup), so the tokenize + 64-vote aggregation
    # AND its shuffle ran twice per query.  A fingerprint row is id + one
    # long (~16 B/doc) — materializing it once is metadata-scale at any
    # corpus size.  eager=False keeps the operator lazy.
    sh = simhash64(df, text_col, id_col).localCheckpoint(eager=False)
    chunks = sh.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(
                *[
                    _simhash_chunk_expr(F.col("simhash"), i)
                    for i in range(_SIMHASH_CHUNKS)
                ]
            )
        ).alias("chunk_id", "chunk_val"),
    )
    a = chunks.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "chunk_id", "chunk_val")
    b = chunks.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "chunk_id", "chunk_val")
    # first-matching-chunk emission (the lsh_neighbor_pairs discipline):
    # both sides carry the full 64-bit fingerprint, so "an earlier chunk
    # also collided" is a pure bit test and no pair-level dedup exchange
    # is needed; chunks derive from the same _simhash_chunk_expr as the
    # banding array above
    first = F.lit(True)
    for i in range(_SIMHASH_CHUNKS - 1):
        first = first & ~(
            (F.lit(i) < F.col("chunk_id"))
            & (
                _simhash_chunk_expr(F.col("sh_a"), i)
                == _simhash_chunk_expr(F.col("sh_b"), i)
            )
        )
    return (
        a.join(b, ["chunk_id", "chunk_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(first)
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def contamination_hits(
    train: DataFrame,
    bench: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    broadcast_bench: bool | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing ≥1 word
    ``k``-shingle with any benchmark document.

    Returns one row per contaminated training doc:
    ``(train_id, n_bench_docs, n_shared_shingles)`` — distinct benchmark
    documents hit and distinct shingles shared (evidence strength for a
    drop/keep decision downstream).

    The reference has no analog; this is the eval-leak guard every
    LLM-training corpus runs before a freeze (n-gram overlap
    decontamination, GPT-3 appendix C shape — public method).

    Scale: the benchmark side is tiny relative to the corpus (thousands of
    eval docs vs billions of training docs), so its exploded distinct
    shingle set is broadcast — the training corpus is scanned once,
    shingled in-task, hash-joined against the broadcast set with NO
    shuffle of the big side; only the (contaminated-doc, shingle) hits —
    a vanishingly small stream — shuffle into the per-doc aggregate.
    ``broadcast_bench=None`` auto-gates on Catalyst's estimate of the
    *pre-explode* bench relation (post-explode estimates are unknowable);
    pass ``False`` to force a shuffle join when the "benchmark" is itself
    corpus-sized (dataset-vs-dataset overlap audits).
    """
    sh = lambda df, alias: df.select(  # noqa: E731
        F.col(id_col).alias(alias),
        F.explode(F.array_distinct(_shingles(text_col, k))).alias("shingle"),
    )
    tsh = sh(train, "train_id")
    bsh = sh(bench, "bench_id")
    if broadcast_bench is None:
        broadcast_bench = _fits_broadcast(bench)
    if broadcast_bench:
        bsh = F.broadcast(bsh)
    return (
        tsh.join(bsh, "shingle")
        .groupBy("train_id")
        .agg(
            F.countDistinct("bench_id").alias("n_bench_docs"),
            F.countDistinct("shingle").alias("n_shared_shingles"),
        )
    )


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    pair_a: str = "id_a",
    pair_b: str = "id_b",
    components: str = "auto",
) -> DataFrame:
    """Drop every row that is a non-representative member of a near-dup
    GROUP: pairs (from ngram_jaccard_pairs / minhash_lsh_pairs /
    simhash_neardup_pairs / semantic_dedup's dup join) are transitively
    closed into components (operators/graph.connected_components*), and
    only each component's minimum id survives.

    This is the last step of the near-dup pipeline the pairwise operators
    deliberately leave open: without the closure, chains a~b, b~c with
    a!~c would keep a AND c or drop both depending on pair order.
    ``components``: 'propagation' (min-label, O(diameter) rounds — dense
    dup clusters), 'star' (large/small-star contraction, O(log²) rounds —
    high-diameter chains), or 'auto' = propagation (dup groups are almost
    always dense and shallow).
    """
    from r_e_hive__spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    fn = (
        connected_components_star
        if components == "star"
        else connected_components
    )
    if components not in ("auto", "propagation", "star"):
        raise ValueError(f"unknown components strategy {components!r}")
    labels = fn(pairs, pair_a, pair_b)
    dropped = labels.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(dropped, id_col, "left_anti")


def _windowed_hashes_pandas(
    df: DataFrame, text_col: str, id_col: str, window: int
) -> DataFrame:
    """ONE Arrow pass emitting (id, _pos, _h): every ``window``-token
    sliding window's 64-bit hash — the pandas twin of duplicate_spans'
    expr stage.  Spans depend on window EQUALITY, not hash identity
    (BASELINE.md's recorded escape route for the interpreted-HOF
    transform), so this path may hash differently from xxhash64 as long
    as equal windows get equal hashes: token strings never contain
    whitespace, so for a fixed window width the space-joined window
    string is injective in the token sequence, and hashing tokens once
    (deterministic SipHash via pd.util.hash_array — fixed default key,
    never Python's per-process-seeded hash()) then combining windows
    with a rolling polynomial over uint64 wraparound preserves exactly
    those equality classes (2⁻⁶⁴-rate collisions, the same accepted
    trade as xxhash64).  Tokenization is the Java-parity ASCII \\s class
    with kept empty edge tokens, identical to functions/text.tokens
    (pinned by the strategy-parity test)."""
    import re

    import numpy as np
    import pandas as pd
    from numpy.lib.stride_tricks import sliding_window_view
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType, True),
            StructField("_pos", IntegerType(), False),
            StructField("_h", LongType(), False),
        ]
    )
    ws = re.compile(r"[ \t\n\x0B\f\r]+")  # Java \s, NOT Python \s
    base = np.uint64(1099511628211)  # FNV64 prime; odd -> full-period mix
    powers = base ** np.arange(window - 1, -1, -1, dtype=np.uint64)

    def gen(batches):
        old = np.seterr(over="ignore")  # uint64 wraparound IS the modulus
        try:
            for pdf in batches:
                ids, poss, hs = [], [], []
                for rid, text in pdf[[id_col, text_col]].itertuples(index=False):
                    if text is None:
                        # expr parity: size(split(NULL)) is NULL, so NULL
                        # texts emit no windows there — `text or ""` would
                        # instead tokenize to [''] and, at window=1, give
                        # every NULL doc a corpus-wide duplicate span
                        # (round-6 code review)
                        continue
                    toks = ws.split(text)
                    n = len(toks)
                    if n < window:
                        continue
                    th = pd.util.hash_array(np.asarray(toks, dtype=object))
                    wh = (sliding_window_view(th, window) * powers).sum(
                        axis=1, dtype=np.uint64
                    )
                    ids.extend([rid] * len(wh))
                    poss.extend(range(1, len(wh) + 1))
                    hs.append(wh.astype(np.int64))
                yield pd.DataFrame(
                    {
                        id_col: ids,
                        "_pos": np.asarray(poss, dtype=np.int32),
                        "_h": (
                            np.concatenate(hs)
                            if hs
                            else np.array([], dtype=np.int64)
                        ),
                    }
                )
        finally:
            np.seterr(**old)

    return ensure_parallelism(df).mapInPandas(gen, out_schema)


def duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 20,
    strategy: str = "auto",
) -> DataFrame:
    """Span-level exact-substring duplication (the windowed-hash form of
    Lee et al. 2021's ExactSubstr, arXiv:2107.06499): find maximal token
    spans whose every ``window``-token window also occurs elsewhere in
    the corpus (another doc, or another position of the same doc).

    Suffix arrays don't distribute; the standard scalable proxy is:
    (1) slide a ``window``-token hash over every doc (stride 1, xxhash64
    of the window text — JVM codegen'd, one expression);
    (2) keep hashes seen at >1 (doc, position) — one map-side-combined
    count shuffle;
    (3) merge each doc's surviving positions into maximal spans with a
    gaps-and-islands window: a new island starts where
    ``pos - prev_pos > window`` (i.e. the windows no longer overlap or
    touch), island id = running count of gap flags.

    Returns (id_col, span_start, span_end, n_windows) with 1-based
    token offsets, span_end inclusive.  Detection granularity is
    ``window`` tokens: duplicated passages shorter than ``window`` are
    not seen (exactly ExactSubstr's min-match-length knob).  Hash
    collisions (xxhash64) can merge unrelated windows — at the 2⁻⁶⁴
    rate that is the accepted trade everywhere this pipeline runs.
    At 100 TB: two shuffles total (hash count, per-doc island agg),
    both keyed well; no all-pairs anything.

    ``strategy``: the sliding window is ``"expr"``'s interpreted Catalyst
    HOF (xxhash64 per position — the recorded X20 bottleneck class at
    sf5) or ``"pandas"``'s single Arrow pass (vectorized token hashing +
    rolling-polynomial window combine — see _windowed_hashes_pandas);
    span outputs are pinned identical.  ``"auto"`` (default) picks by
    the shingler's measured size crossover.
    """
    from pyspark.sql.window import Window as W

    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if strategy == "auto":
        strategy = resolve_text_strategy(
            df, text_col, "expr", "pandas", SHINGLE_PANDAS_MIN_BYTES
        )
    if strategy == "pandas":
        exploded = _windowed_hashes_pandas(df, text_col, id_col, window)
    elif strategy == "expr":
        from r_e_hive__spark.functions.text import bind_once

        # let-bind the token array: slice(tokens(text), …) inside the
        # transform lambda re-tokenized the document per window position
        # (the interpreted-HOF re-evaluation hazard — see bind_once)
        def _wins(toks):
            return F.transform(
                F.sequence(F.lit(1), F.size(toks) - (window - 1)),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.xxhash64(
                        F.concat_ws(" ", F.slice(toks, i, window))
                    ).alias("h"),
                ),
            )

        exploded = (
            ensure_parallelism(df)
            .where(F.size(tokens(F.col(text_col))) >= window)
            .select(
                F.col(id_col),
                F.explode(bind_once(tokens(F.col(text_col)), _wins)).alias("w"),
            )
            .select(id_col, F.col("w.pos").alias("_pos"), F.col("w.h").alias("_h"))
        )
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    # Lazy localCheckpoint (round 12): the windowed-hash stream feeds both
    # the >1-occurrence aggregate and the semi-join left side, and shared
    # subplans re-execute per consumer (no exchange reuse over cached
    # sources — see semantic_dedup), so the per-position hashing pass ran
    # twice.  The stream is (id, pos, hash) — fixed-width rows, no text —
    # and materializing it once costs less than re-hashing every window
    # of the corpus.
    exploded = exploded.localCheckpoint(eager=False)
    dup_h = (
        exploded.groupBy("_h")
        .agg(F.count("*").alias("_c"))
        .where(F.col("_c") > 1)
        .select("_h")
    )
    dup_wins = exploded.join(dup_h, "_h", "left_semi")
    by_pos = W.partitionBy(id_col).orderBy("_pos")
    islands = (
        dup_wins.withColumn("_prev", F.lag("_pos").over(by_pos))
        .withColumn(
            "_gap",
            F.when(
                F.col("_prev").isNull()
                | (F.col("_pos") - F.col("_prev") > window),
                1,
            ).otherwise(0),
        )
        .withColumn("_island", F.sum("_gap").over(by_pos))
    )
    return (
        islands.groupBy(id_col, "_island")
        .agg(
            F.min("_pos").alias("span_start"),
            (F.max("_pos") + (window - 1)).alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .select(id_col, "span_start", "span_end", "n_windows")
    )


def incremental_neardup(
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    index_sig: DataFrame | None = None,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    est_threshold: float = 0.5,
    broadcast_new: bool | None = None,
    with_delta: bool = False,
    assume_legacy_bands_match: bool = False,
    hash_fn: str = "xxhash64",
    new_sig: DataFrame | None = None,
) -> tuple[DataFrame, ...]:
    """Dedup an INCREMENT (today's crawl batch) against a persisted MinHash
    signature index of everything already accepted — without re-reading or
    re-shingling one byte of history.

    A 100 TB corpus is not built in one batch: it accretes (daily crawls,
    snapshot diffs).  Re-running whole-corpus LSH per increment is
    O(corpus) text work per day; the standard production shape is a
    signature store keyed for LSH probing.  ``index_sig`` is that store,
    in EITHER layout (auto-detected, and the updated index is returned in
    the SAME layout so feed-back round-trips):

    - ``(id_col, signature)`` — the compact form; its bands are
      (re)computed per increment, O(history) cheap map work but still
      per-batch;
    - the BANDED ``band_signatures`` form ``(id_col, signature, band_id,
      band_hash)`` — the production layout: persist it
      partitioned/bucketed by ``band_hash`` and the probe join prunes to
      matching buckets with ZERO per-increment hashing of history.

    Returns ``(survivors, updated_index)`` — or, with ``with_delta=True``,
    ``(survivors, updated_index, delta)``:

    - ``survivors`` — rows of ``new_df`` that are near-dups of neither a
      historical doc nor a lower-id surviving batch-mate.  Matching is
      banded-LSH candidates verified by the signature Jaccard estimate
      (``est_jaccard >= est_threshold``) on BOTH the new-vs-new and
      new-vs-history sides — history has no text to exact-verify against,
      and using one estimator for both sides keeps batch order irrelevant
      to the decision rule.
    - ``updated_index`` — ``index_sig`` plus the survivors' signatures.
    - ``delta`` — ONLY the survivors' contribution, in the index's
      layout: what an append-only index store writes per increment
      (re-deriving it outside would re-shingle the survivors — the
      dominant per-batch text work done twice; second-review finding).

    Group semantics (deliberate, pinned in tests/test_dedup.py):

    - **History wins.**  Any new doc in a connected component (transitive
      closure over both pair kinds, operators/graph.connected_components)
      that touches a historical doc is dropped — even if its id is lower.
      An accepted corpus is immutable; an increment cannot retract it.
    - **Keep-min within pure-new components** — identical to
      ``dedup_survivors``.
    - **No tombstones.**  Docs dropped in batch N do NOT suppress batch
      N+1 (only survivors enter the index), so a chain a∈hist ~ b∈N ~ c∈N+1
      with c≁a keeps c — whereas a single-batch run over {a,b,c} would drop
      it.  Same divergence every suppression-list pipeline documents; the
      alternative (indexing dropped docs too) makes the index grow with the
      crawl, not the corpus.

    ``id_col`` values must be unique ACROSS batches and history (any sane
    ingest assigns monotone ids; collisions would alias unrelated docs).

    Scale: the increment is tiny relative to the index, so its banded
    signatures broadcast (``broadcast_new=None`` auto-gates on the plan
    estimate of the banded signature frame — the thing actually shipped)
    — the index is probed map-side with NO shuffle of either text corpus.  Persist the index via
    ``band_signatures`` partitioned/bucketed by ``band_hash`` and the
    probe prunes to matching buckets; the signature store costs
    ~8·num_hashes bytes/doc (2.5 TB per 10 B docs at the default 32) and
    is the ONLY thing history contributes to the join.
    """
    # An index built under one hash_fn probed under another would compare
    # long minhashes against md5 hex strings: the est_jaccard equality test
    # would be silently false everywhere (implicit cast) and every history
    # near-dup admitted — the same failure class as the banding-parameter
    # guards below.  Element types are knowable at plan time; fail loudly.
    if index_sig is not None:
        from pyspark.sql.types import LongType, StringType

        want = StringType() if hash_fn == "md5" else LongType()
        el = index_sig.schema["signature"].dataType.elementType
        if el != want:
            raise ValueError(
                f"incremental_neardup: index signature element type {el} "
                f"does not match hash_fn={hash_fn!r} — was the index built "
                "with a different hash_fn?"
            )
        # k leaves no trace in the signature values; when the index still
        # carries minhash_signatures' column metadata (preserved through
        # parquet/localCheckpoint/select), verify it — a k drift zeroes
        # est_jaccard and silently admits every history near-dup
        md = index_sig.schema["signature"].metadata or {}
        if "minhash_k" in md and int(md["minhash_k"]) != k:
            raise ValueError(
                f"incremental_neardup: index was built with shingle k="
                f"{md['minhash_k']} but this call uses k={k}"
            )
    # sig_new feeds FOUR consumers (both sides of the new-new self-join,
    # the history probe, and the survivor index) and the returned index is
    # fed back batch after batch — without an eager materialization every
    # action on batch N would re-run all N batches' shingling and the plan
    # would grow superlinearly (round-5 code review).  localCheckpoint is
    # O(this batch) and bounds the index's lineage at one leaf per batch.
    # ``new_sig`` lets a caller that already computed the increment's
    # signatures (the persisted-index probe, which needs them to build
    # its band-bucket partition filter BEFORE reading the store) hand
    # them in instead of shingling the increment twice — it must be the
    # ALREADY-MATERIALIZED output of minhash_signatures with identical
    # (k, num_hashes, hash_fn).
    sig_new = (
        new_sig
        if new_sig is not None
        else minhash_signatures(
            new_df, text_col, id_col, k, num_hashes, hash_fn=hash_fn
        ).localCheckpoint()
    )
    banded_new = band_signatures(sig_new, id_col, num_hashes, bands)

    # new-vs-new candidate pairs, est-verified (same construction as
    # minhash_lsh_pairs but from the already-computed signatures)
    a = banded_new.select(
        F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"),
        F.col("earlier_band_hashes").alias("_bh_a"), "band_id", "band_hash",
    )
    b = banded_new.select(
        F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"),
        F.col("earlier_band_hashes").alias("_bh_b"), "band_id", "band_hash",
    )
    nn = (
        a.join(b, ["band_id", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            _first_matching_band(
                F.col("sig_a"), F.col("sig_b"), bands, num_hashes // bands,
                bh_a=F.col("_bh_a"), bh_b=F.col("_bh_b"),
            )
        )
        .where(
            _sig_match_fraction(F.col("sig_a"), F.col("sig_b"), num_hashes)
            >= est_threshold
        )
        .select("id_a", "id_b")
    )

    index_is_banded = index_sig is not None and "band_hash" in index_sig.columns
    if index_sig is not None:
        if index_is_banded:
            # persisted band_signatures layout: probe it as-is — zero
            # per-increment hashing of history (round-5 code review; the
            # compact layout re-banded O(history) map work every batch).
            # The signature-length guard band_signatures applies on build
            # is re-asserted here in-plan, since this path skips it — and
            # so are the BANDING parameters: joining an index banded with
            # different `bands` silently matches (almost) nothing and
            # admits every near-dup of history (second-review finding).
            # num_bands is carried by band_signatures' layout; band_id is
            # checked too for indexes persisted before the column existed.
            # A legacy index (no num_bands column) built with FEWER bands
            # than this call passes both in-plan checks yet matches almost
            # nothing — the silent-admit failure the guard exists for
            # (round-5 ADVICE).  For that layout only, pay one eager
            # column-pruned max(band_id) agg up front and fail loudly.
            # COST: that agg scans the legacy index's band_id column per
            # call (the num_bands layout pays nothing — rebuild via
            # band_signatures to stop paying it); callers who probe a
            # deliberately FILTERED legacy index (e.g. a band_hash
            # partition subset, which may lack the last band entirely)
            # pass assume_legacy_bands_match=True to skip the check they
            # would otherwise false-positive (round-6 code review).
            if (
                "num_bands" not in index_sig.columns
                and not assume_legacy_bands_match
            ):
                mx = index_sig.agg(F.max("band_id").alias("m")).first()["m"]
                if mx is not None and mx != bands - 1:
                    raise ValueError(
                        "incremental_neardup: legacy banded index has "
                        f"max band_id={mx} but this call uses bands={bands}"
                        " — rebuild the index (band_signatures adds the "
                        "num_bands column), pass the original bands, or "
                        "assume_legacy_bands_match=True for a filtered "
                        "index subset"
                    )
            banded_idx = index_sig.where(
                F.assert_true(
                    (F.size("signature") == num_hashes)
                    & (F.col("band_id") < F.lit(bands))
                    & (
                        (F.col("num_bands") == F.lit(bands))
                        if "num_bands" in index_sig.columns
                        else F.lit(True)
                    ),
                    "incremental_neardup: banded index parameters disagree "
                    f"with this call (num_hashes={num_hashes}, bands={bands})"
                    " — was the index built with different minhash/banding "
                    "parameters?",
                ).isNull()
            )
        else:
            banded_idx = band_signatures(index_sig, id_col, num_hashes, bands)
        probe = banded_new.select(
            F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"),
            F.col("earlier_band_hashes").alias("_bh_b"), "band_id", "band_hash",
        )
        if broadcast_new is None:
            # gate on what is actually shipped: the banded signature frame
            # (bands x ~8·num_hashes bytes per doc), which for short docs
            # is MUCH larger than the raw text (round-5 code review)
            broadcast_new = _fits_broadcast(banded_new)
        if broadcast_new:
            probe = F.broadcast(probe)
        # the increment's side always carries earlier_band_hashes (banded
        # here); the INDEX side only if its layout does — a store persisted
        # before the column existed falls back to the per-candidate hash
        # recompute for its side only (see _first_matching_band)
        idx_has_bh = "earlier_band_hashes" in banded_idx.columns
        idx_cols = [
            F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"),
            "band_id", "band_hash",
        ]
        if idx_has_bh:
            idx_cols.insert(2, F.col("earlier_band_hashes").alias("_bh_a"))
        # big (index) side on the left so it streams; small probe hashed
        ni = (
            banded_idx.select(*idx_cols)
            .join(probe, ["band_id", "band_hash"])
            .where(
                _first_matching_band(
                    F.col("sig_a"), F.col("sig_b"), bands, num_hashes // bands,
                    bh_a=F.col("_bh_a") if idx_has_bh else None,
                    bh_b=F.col("_bh_b"),
                )
            )
            .where(
                _sig_match_fraction(F.col("sig_a"), F.col("sig_b"), num_hashes)
                >= est_threshold
            )
            .select("id_a", "id_b")
        )
        pairs = nn.unionByName(ni)
        # duplicate right-side rows cannot change a semi/anti join's
        # output, so the banded layout's bands× rows per id need NO
        # distinct here (a per-increment O(bands·history) aggregate for
        # zero semantic effect — second-review finding)
        idx_nodes = index_sig.select(F.col(id_col).alias("node"))
    else:
        pairs = nn
        idx_nodes = None

    from r_e_hive__spark.operators.graph import connected_components

    labels = connected_components(pairs, "id_a", "id_b")
    if idx_nodes is not None:
        hist_comps = (
            labels.join(idx_nodes, "node", "left_semi")
            .select("component")
            .distinct()
            .withColumn("_hist", F.lit(True))
        )
        new_labels = labels.join(idx_nodes, "node", "left_anti")
        flagged = new_labels.join(hist_comps, "component", "left")
        dropped = flagged.where(
            F.col("_hist").isNotNull() | (F.col("node") != F.col("component"))
        ).select(F.col("node").alias(id_col))
    else:
        # no history: pure keep-min per component (== dedup_survivors)
        dropped = labels.where(F.col("node") != F.col("component")).select(
            F.col("node").alias(id_col)
        )

    # dropped is tiny (only the ids that lose); materializing it runs the
    # candidate-pair + closure pipeline exactly ONCE, so the two returned
    # frames (and every later batch's index) reuse the decision instead of
    # replaying it per action (round-5 code review)
    dropped = dropped.localCheckpoint()
    survivors = new_df.join(dropped, id_col, "left_anti")
    surv_sig = sig_new.join(dropped, id_col, "left_anti")
    if index_is_banded:
        # round-trip the banded layout: new survivors are banded ONCE here
        # (O(survivors)), history rows pass through untouched.  Indexes
        # persisted before band_signatures carried num_bands lack that
        # column — align the delta so the union stays well-formed.
        delta = band_signatures(surv_sig, id_col, num_hashes, bands)
        # align the delta with the fed-back index's layout: indexes
        # persisted before num_bands / earlier_band_hashes existed lack
        # those columns, and unionByName would otherwise fail
        if "num_bands" not in index_sig.columns:
            delta = delta.drop("num_bands")
        if "earlier_band_hashes" not in index_sig.columns:
            delta = delta.drop("earlier_band_hashes")
    else:
        delta = surv_sig
    updated_index = (
        delta if index_sig is None else index_sig.unionByName(delta)
    )
    if with_delta:
        return survivors, updated_index, delta
    return survivors, updated_index


# ---------------------------------------------------------------------------
# Persisted MinHash signature store (round 8): the on-disk artifact the
# incremental_neardup docstring promises — "persist the index via
# band_signatures partitioned/bucketed by band_hash and the probe prunes
# to matching buckets" — as a real save/load/probe triple (the
# save_ivf_index / save_postings / save_bpe discipline).
# ---------------------------------------------------------------------------


def save_band_index(
    index_sig: DataFrame,
    id_col: str,
    path: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    hash_fn: str = "xxhash64",
    n_buckets: int = 64,
) -> None:
    """Write a signature index (compact or banded layout) as the
    partition-prunable on-disk store::

        path/signatures/band_bucket=<pmod(band_hash, n_buckets)>/...
        path/meta/   (one row: k, num_hashes, bands, hash_fn, n_buckets)

    ``band_bucket`` bounds the partition count (partitioning by raw
    band_hash would create one directory per distinct hash); the meta
    frame makes the store self-describing so a probe can NEVER run under
    mismatched minhash parameters — :func:`incremental_neardup_indexed`
    reads its shingling/hashing configuration from the store, and every
    parameter is verified against the frame being saved: hash_fn by the
    signature element type, num_hashes by the in-plan length guard,
    bands by the num_bands column, and k/hash_fn by the column metadata
    minhash_signatures stamps (preserved through parquet) — so a
    caller-supplied parameter that disagrees with how the signatures
    were actually built fails here, not as a silent-admit at probe time.
    Size: ~8·num_hashes bytes/doc/band-row (+ ~8·(bands−1)/2 bytes/row
    for ``earlier_band_hashes`` when built through ``band_signatures``,
    round-11 — which buys the probe a hash-free first-matching-band
    filter) — the ONLY thing history contributes to every future
    increment."""
    # meta is trusted at probe time, so a wrong parameter here would
    # persist a lie the probe then acts on (wrong-hash/k signatures →
    # zero est matches → every history near-dup admitted).  Validate
    # against the frame's ground truth: element type + column metadata.
    from pyspark.sql.types import LongType, StringType

    want = StringType() if hash_fn == "md5" else LongType()
    el = index_sig.schema["signature"].dataType.elementType
    if el != want:
        raise ValueError(
            f"save_band_index: signature element type {el} does not match "
            f"hash_fn={hash_fn!r} — pass the hash_fn the index was built with"
        )
    md = index_sig.schema["signature"].metadata or {}
    if "minhash_k" in md and int(md["minhash_k"]) != k:
        raise ValueError(
            f"save_band_index: signatures were built with shingle k="
            f"{md['minhash_k']} but k={k} was passed — meta would lie to "
            "every future probe"
        )
    if "band_hash" in index_sig.columns:
        # already-banded input: the band_signatures guards never ran on
        # THIS call, so verify the frame against the meta being written —
        # a legacy frame (no num_bands) can't be verified: reject it
        # (rebuild via band_signatures) rather than persist an uncheckable
        # claim (round-8 second review: the passthrough branch let meta
        # lie despite the docstring)
        if "num_bands" not in index_sig.columns:
            raise ValueError(
                "save_band_index: banded input lacks the num_bands column "
                "— rebuild it with band_signatures so banding parameters "
                "are verifiable before they are persisted as meta"
            )
        # in-plan, evaluated for EVERY row during the write job below
        # (no extra action): signature length and banding must match meta
        banded = index_sig.where(
            F.assert_true(
                (F.size("signature") == num_hashes)
                & (F.col("num_bands") == F.lit(bands)),
                f"save_band_index: frame disagrees with meta being written "
                f"(num_hashes={num_hashes}, bands={bands})",
            ).isNull()
        )
    else:
        banded = band_signatures(index_sig, id_col, num_hashes, bands)
    banded.withColumn(
        "band_bucket", F.pmod(F.col("band_hash"), F.lit(n_buckets))
    ).write.mode("overwrite").partitionBy("band_bucket").parquet(
        f"{path}/signatures"
    )
    spark = index_sig.sparkSession
    spark.createDataFrame(
        [(k, num_hashes, bands, hash_fn, n_buckets)],
        "k INT, num_hashes INT, bands INT, hash_fn STRING, n_buckets INT",
    ).write.mode("overwrite").parquet(f"{path}/meta")


def _load_store_meta(spark, path: str) -> dict:
    """The one-row meta dict of a save_band_index store — a driver-scale
    read that does NOT list the signatures directory (a probe only needs
    meta + its own bucket partitions; listing/schema-inferring the whole
    multi-TB store per increment would be pure waste — round-8 review)."""
    meta_df = spark.read.parquet(f"{path}/meta")
    row = meta_df.first()
    if row is None or "n_buckets" not in meta_df.columns:
        raise ValueError(f"load_band_index: {path}/meta is not a band-index store")
    return row.asDict()


def load_band_index(spark, path: str) -> tuple[DataFrame, dict]:
    """(full banded index frame, meta dict) from a save_band_index store.
    The frame drops the bucket column so it feeds straight into
    ``incremental_neardup(index_sig=...)``."""
    meta = _load_store_meta(spark, path)
    idx = spark.read.parquet(f"{path}/signatures").drop("band_bucket")
    return idx, meta


def incremental_neardup_indexed(
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    est_threshold: float = 0.5,
    broadcast_new: bool | None = None,
    update_index: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Dedup an increment against a PERSISTED :func:`save_band_index`
    store, reading only the band-bucket partitions the increment can
    match, then (by default) append the survivors' delta to the store.
    Returns ``(survivors, delta)`` — ``delta`` is None when
    ``update_index=True`` already appended it (returning it too would
    invite a double append).

    The probe: the increment's signatures are computed ONCE
    (localCheckpoint), its band hashes map to bucket ids, and the
    distinct bucket list (≤ increment_bands × rows, collected at
    driver scale — the increment is broadcast-small by the incremental
    contract) becomes an ``isin`` PartitionFilter on the signatures
    scan — the ivf_search / bm25_search_indexed discipline.  Pruning is
    LOSSLESS for the decision: candidate pairs require band_hash
    equality, bucket is a pure function of band_hash, and unmatched
    history rows are edge-free so they can never anchor a component.

    Shingling/hashing parameters come from the store's meta (they are
    index properties, not call options — a parameter drift between
    build and probe is the silent-admit failure class the in-plan
    guards exist for).

    Durability ordering (round-8 second review): ``update_index=True``
    appends the delta BEFORE the caller has persisted the survivors —
    if the caller's survivors write then fails and the increment is
    retried, the retry probes a store already containing this batch's
    signatures and every retried doc is dropped as a near-dup of its
    own phantom entry (in the index, never in the corpus).  A pipeline
    that persists survivors must therefore pass ``update_index=False``,
    write survivors FIRST, and append the returned ``delta`` (in the
    store layout, ``withColumn('band_bucket', pmod(band_hash,
    n_buckets))``) afterwards — the order the streaming twin enforces
    behind its replay fence (streaming/jobs.stream_incremental_neardup).
    Single-writer contract either way."""
    spark = new_df.sparkSession
    meta = _load_store_meta(spark, path)
    k, num_hashes, bands = meta["k"], meta["num_hashes"], meta["bands"]
    hash_fn, n_buckets = meta["hash_fn"], meta["n_buckets"]
    sig_new = minhash_signatures(
        new_df, text_col, id_col, k, num_hashes, hash_fn=hash_fn
    ).localCheckpoint()
    banded_new = band_signatures(sig_new, id_col, num_hashes, bands)
    buckets = sorted(
        r["b"]
        for r in banded_new.select(
            F.pmod(F.col("band_hash"), F.lit(n_buckets)).alias("b")
        )
        .distinct()
        .collect()
    )
    pruned = (
        spark.read.parquet(f"{path}/signatures")
        .where(F.col("band_bucket").isin(buckets))
        .drop("band_bucket")
    )
    survivors, _updated, delta = incremental_neardup(
        new_df,
        text_col,
        id_col,
        index_sig=pruned,
        k=k,
        num_hashes=num_hashes,
        bands=bands,
        est_threshold=est_threshold,
        broadcast_new=broadcast_new,
        with_delta=True,
        hash_fn=hash_fn,
        new_sig=sig_new,
        # when num_bands is present (every store save_band_index writes —
        # its save guard enforces it) the in-plan check is the real
        # parameter guard and the legacy max(band_id) fallback is both
        # redundant AND unsound on a partition-filtered subset (a small
        # probe's buckets may lack the last band — the false positive the
        # flag exists for).  A store that somehow lacks the column is
        # unverifiable: let the legacy check run and fail loudly rather
        # than silently admit (round-8 third review)
        assume_legacy_bands_match="num_bands" in pruned.columns,
    )
    if update_index:
        delta.withColumn(
            "band_bucket", F.pmod(F.col("band_hash"), F.lit(n_buckets))
        ).write.mode("append").partitionBy("band_bucket").parquet(
            f"{path}/signatures"
        )
        # the delta is IN the store now: returning it too would invite a
        # caller following the safe-order recipe to append it twice
        # (every increment's signatures duplicated — round-8 third
        # review).  None signals "already appended".
        return survivors, None
    return survivors, delta
