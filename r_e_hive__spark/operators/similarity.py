"""Similarity search over embedding columns (SURVEY.md §2.11 X3-X4).

Three strategies, correctness-first to scale-first:

- ``brute_force_topk`` — exact cosine top-k: broadcast the (small) query
  set, crossJoin against candidates, window top-k per query.  The candidate
  scan is embarrassingly parallel; the only shuffle is the final per-query
  top-k (tiny).  This is the correctness baseline and is also the right
  answer whenever |queries| is small — at 100 TB the scan cost dominates
  and an index only helps if it prunes I/O.
- ``ivf_topk`` — IVF-style pruned search: candidates are pre-bucketed by a
  coarse centroid id (here: the ``label`` column or any supplied bucket
  expression); queries probe only their ``n_probe`` nearest buckets.
  Reading becomes partition-pruned (bucket = partition column at scale).
- ``lsh_neighbor_pairs`` — random-hyperplane (SimHash-for-vectors) LSH
  self-join for all-pairs search: sign-pattern buckets via fixed
  deterministic hyperplanes, candidates share a band, verified with exact
  cosine.

The exact variants use functions/vector.py's decimal-exact dot products so
declared queries hash-match the DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from r_e_hive__spark.functions import ident_sql
from r_e_hive__spark.functions import vector as V
from r_e_hive__spark.operators import (
    BLAS_MIN_BYTES,
    BLAS_MIN_BYTES_TOPK,
    ensure_parallelism,
    resolve_strategy,
)


def _auto_strategy(
    exact_decimal: bool, gate_frame: DataFrame, min_bytes: int | None = None
) -> str:
    """Shared strategy="auto" resolution (one implementation so a gate fix
    lands everywhere — the plan_fits_broadcast discipline): exact_decimal
    forces the oracle-capable expr path (numpy cannot honor it); otherwise
    numpy/expr by the measured BLAS crossover on the frame the scan
    actually reads.  ``min_bytes`` selects the crossover for the caller's
    compute shape (round 12): the top-k scans pass BLAS_MIN_BYTES_TOPK
    (light work per candidate byte); the default BLAS_MIN_BYTES is the
    pair-join crossover (semantic_dedup's n²/k work per byte) — the
    calibration tables live next to the constants in operators/__init__."""
    if exact_decimal:
        return "expr"
    return resolve_strategy(
        gate_frame,
        "expr",
        "numpy",
        BLAS_MIN_BYTES if min_bytes is None else min_bytes,
    )


def _topk_side(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    exact_decimal: bool,
    tag: str,
    bucket_col: str | None = None,
) -> DataFrame:
    """One side of the brute-force / IVF pair scan: ``(id[, bucket],
    _{tag}vec, _{tag}n2)`` where the vec column is the pair-dot operand
    (micro-unit array in exact mode, the raw vector otherwise) and n2 is
    its squared norm as double.

    Built as TWO stacked selects so the exact path quantizes each row ONCE:
    the norm² fold references the MATERIALIZED unit array instead of
    restating ``units_arr_sql`` inside ``norm2_units_sql`` — the round-11
    one-select shape evaluated the 64-element decimal quantization three
    times per row (once for the vec alias, twice inside the norm fold;
    plans/r11/x3_cosine_topk_after.txt node 16), because Catalyst only
    de-duplicates common subexpressions across Project aliases when they
    sit in separate collapsible-but-expensive projections (CollapseProject
    keeps the split when a non-cheap alias is referenced more than once).
    In double mode the vec alias is a bare attribute (cheap), the projects
    collapse, and the plan is byte-identical to the one-select form.
    Value identity: the composed expressions are unchanged, only factored.
    """
    vec, n2 = f"_{tag}vec", f"_{tag}n2"
    if exact_decimal:
        side_vec = V.units_arr_sql(ident_sql(vec_col))
        side_n2 = f"CAST({V.norm2_units_sql(ident_sql(vec))} AS DOUBLE)"
    else:
        side_vec = ident_sql(vec_col)
        side_n2 = f"CAST({V.dot_sql(ident_sql(vec), ident_sql(vec))} AS DOUBLE)"
    keep = [F.col(id_col)] + ([F.col(bucket_col)] if bucket_col else [])
    return df.select(*keep, F.expr(side_vec).alias(vec)).select(
        "*", F.expr(side_n2).alias(n2)
    )


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    query_id: str = "query_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    exact_decimal: bool = True,
    strategy: str = "auto",
) -> DataFrame:
    """Exact cosine top-k per query vector.

    Output: (query_id, rank, vec_id, cosine) — rank by (rounded cosine desc,
    vec_id asc); rounding-first ranking keeps the order reproducible across
    engines (determinism contract, SURVEY.md §2.12).

    ``strategy="numpy"`` (production scan path, requires
    ``exact_decimal=False``): the query set — already required to be
    broadcast-small — ships as a literal matrix into ``mapInPandas``; each
    Arrow batch scores ALL queries with one BLAS matmul and emits only its
    per-query partial top-k, so the shuffle carries k·queries·batches tiny
    rows, never the scan.  Same map-side-combine shape as the expr path's
    window, ~11× its per-row cost at the measured minima (BASELINE.md).
    Results are pinned rank-identical to the expr path on the test corpus;
    the documented residual divergence class (same as semantic_dedup's):
    BLAS sums in hardware order and np.round is half-to-even, so a cosine
    landing exactly on a .5e-6 boundary can round differently from the
    expr path's sequential-fold + HALF_UP — a last-ulp event, not a
    ranking-logic difference.

    ``strategy="auto"`` (default): the oracle-capable expr path whenever
    ``exact_decimal`` is requested (numpy cannot honor it), else numpy/
    expr by Catalyst size estimate at the measured crossover — the BLAS
    win amortizes its fixed Python tax from a few hundred vectors up
    (BASELINE.md), so corpus-scale callers get the ~11x path by default
    (round-5 VERDICT item 4)."""
    if strategy == "auto":
        strategy = _auto_strategy(
            exact_decimal, candidates, BLAS_MIN_BYTES_TOPK
        )
    if strategy == "numpy":
        if exact_decimal:
            raise ValueError("exact_decimal requires strategy='expr'")
        return _brute_force_topk_numpy(
            queries, candidates, query_id, cand_id, vec_col, k
        )
    if strategy != "expr":
        raise ValueError(f"unknown strategy {strategy!r}")
    # hoist each side's self-norm out of the pair loop: cosine(a,b) needs
    # 3 dot products, but ‖a‖² and ‖b‖² are per-ROW quantities — computing
    # them once per side instead of once per PAIR cuts the pairwise decimal
    # work 3× (bit-identical: the norm is cast to double before the multiply
    # exactly as in cosine_exact).  The exact path additionally hoists the
    # decimal QUANTIZATION out of the pair loop (round 11): each side
    # carries its micro-unit array (V.units_arr_sql) so the O(pairs) dot is a
    # plain BIGINT fold with one terminal decimal conversion — bit-identical
    # to dot_exact (vector.py's equivalence note), ~3× on the sf0.1 x17/x3
    # pair stages, and the shuffled/broadcast row stays fixed-width.
    # Sides and the pair cosine are single parsed SQL expressions (round
    # 11): this constructor is also quantized_topk's shortlist stage, and
    # its Column-API form was ~0.8 s of py4j per build.  Both modes are
    # pinned against the dot_exact reference and a pure-Python double fold
    # in tests/test_vector_units.py.
    if exact_decimal:
        pair_dot = V.dot_units_sql("_qvec", "_cvec")
    else:
        pair_dot = V.dot_sql("_qvec", "_cvec")
    q = F.broadcast(_topk_side(queries, query_id, vec_col, exact_decimal, "q"))
    c = _topk_side(
        ensure_parallelism(candidates), cand_id, vec_col, exact_decimal, "c"
    )
    # NULL (never ANSI DIVIDE_BY_ZERO) for zero-norm vectors, matching
    # cosine_exact's semantics; NULL-cosine rows are filtered after the
    # rank window (unrankable — the unified omit contract)
    den = "SQRT((_qn2 * _cn2))"
    scored = q.crossJoin(c).select(
        query_id,
        cand_id,
        F.expr(
            f"round(CASE WHEN {den} > 0 THEN "
            f"CAST({pair_dot} AS DOUBLE) / {den} END, 6)"
        ).alias("cosine"),
    )
    # NULL cosines (zero-norm or NULL vectors) are unrankable and omitted —
    # the filter lives INSIDE _finalize_topk, above the rank window, so the
    # pushed-down isnotnull can't re-evaluate the dot fold per pair in the
    # join condition (round 11; see _finalize_topk)
    return _finalize_topk(scored, query_id, cand_id, k)


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    bucket_col: str,
    query_id: str = "query_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    exact_decimal: bool = False,
    strategy: str = "auto",
) -> DataFrame:
    """IVF-pruned top-k: only candidates in the query's probe buckets are
    scored.  ``queries`` must carry ``bucket_col`` (possibly exploded over
    n_probe buckets).  At scale ``candidates`` is written partitioned by
    ``bucket_col`` so the probe is a partition-pruned scan, not a shuffle.

    ``strategy="numpy"`` (requires ``exact_decimal=False``): candidates
    group by bucket into Arrow batches; each bucket scores ONLY the
    queries probing it with one BLAS matmul and emits per-query partial
    top-k (same selection order as the global window) — the bucketed
    sibling of brute_force_topk's scan strategy, pinned rank-identical
    in tests/test_similarity.py.  ``"auto"`` (default): expr when
    ``exact_decimal``, else by candidate size at the measured BLAS
    crossover (brute_force_topk's gate)."""
    if strategy == "auto":
        strategy = _auto_strategy(
            exact_decimal, candidates, BLAS_MIN_BYTES_TOPK
        )
    if strategy == "numpy":
        if exact_decimal:
            raise ValueError("exact_decimal requires strategy='expr'")
        return _ivf_topk_numpy(
            queries, candidates, bucket_col, query_id, cand_id, vec_col, k
        )
    if strategy != "expr":
        raise ValueError(f"unknown strategy {strategy!r}")
    # per-side norm hoist, same reasoning (and bit-identity) as
    # brute_force_topk; the exact path also carries micro-unit arrays so the
    # probe-join dot is a BIGINT fold (round 11, see vector.dot_units_sql)
    if exact_decimal:
        pair_dot = V.dot_units_sql("_qvec", "_cvec")
    else:
        pair_dot = V.dot_sql("_qvec", "_cvec")
    q = F.broadcast(
        _topk_side(queries, query_id, vec_col, exact_decimal, "q", bucket_col)
    )
    c = _topk_side(
        ensure_parallelism(candidates),
        cand_id,
        vec_col,
        exact_decimal,
        "c",
        bucket_col,
    )
    den = "SQRT((_qn2 * _cn2))"  # zero-norm guard, as above
    scored = q.join(c, bucket_col).select(
        query_id,
        cand_id,
        F.expr(
            f"round(CASE WHEN {den} > 0 THEN "
            f"CAST({pair_dot} AS DOUBLE) / {den} END, 6)"
        ).alias("cosine"),
    )
    return _finalize_topk(scored, query_id, cand_id, k)  # same contract as above


def kmeans_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_clusters: int = 8,
    seed: int = 42,
    sample_limit: int = 2048,
) -> list[list[float]]:
    """Fit a k-means coarse quantizer; return unit-normalized centroids.

    The model is tiny (k × dim floats) — collecting it to the driver is
    collecting *parameters*, not data.  Determinism: the training sample is
    the first ``sample_limit`` rows by ``id_col``, coalesced to ONE
    partition, so the float reduction order inside KMeans is fixed and the
    centroids are bit-reproducible across parallelism settings (the
    determinism contract, SURVEY.md §2.12).  At 100 TB the sample cap is
    also the scale story: the quantizer never sees more than
    ``sample_limit`` vectors regardless of corpus size."""
    import math

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    sample = (
        df.select(F.col(id_col), F.col(vec_col))
        .orderBy(id_col)
        .limit(sample_limit)
        .coalesce(1)
        .select(
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
        )
    )
    model = KMeans(k=n_clusters, seed=seed).fit(sample)
    out = []
    for c in model.clusterCenters():
        vals = [float(x) for x in c]
        n = math.sqrt(sum(x * x for x in vals)) or 1.0
        out.append([x / n for x in vals])
    return out


def train_kmeans(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_clusters: int = 8,
    n_iter: int = 10,
    tol: float = 1e-6,
    seed: int = 42,
    init: list[list[float]] | None = None,
    sample_limit: int = 2048,
    exact_decimal: bool = False,
) -> tuple[list[list[float]], int]:
    """Distributed spherical-k-means refinement over the FULL dataset
    (Lloyd's iterations) — the training step behind every "learned"
    quantizer here (`ivf_kmeans_topk`, `semantic_dedup`).

    `kmeans_centroids` fits on a driver-capped sample — the standard
    warm start, but the model never sees data beyond the cap.  This
    refines those centroids against *all* vectors, the way corpus-scale
    quantizers are actually trained: per iteration, assignment is a
    map-only pass (centroids travel as literal expressions — the
    broadcast-parameters pattern), and the update is ONE
    map-side-combined ``groupBy(bucket)`` producing k×(dim+1) numbers.
    Per-iteration cost at 100 TB: one corpus scan + a k-row shuffle;
    nothing driver-side ever holds more than the k×dim parameters.

    Spherical variant (Dhillon & Modha 2001): assignment by max dot
    against unit centroids == cosine, matching `assign_centroid`'s
    ranking everywhere downstream; updates re-normalize the mean.  An
    emptied cluster keeps its previous centroid (documented standard
    fallback).  Stops early when every centroid moves < ``tol`` (L2).

    Returns ``(centroids, iterations_run)`` — unit-normalized, same
    shape `ivf_kmeans_topk(..., centroids=...)` accepts.  Determinism:
    same init + same data ⇒ same assignments; double-precision sums
    commute up to ~1e-12 relative under re-partitioning (ranking ties at
    that scale are the same caveat every float reduction here carries).

    ``exact_decimal=True`` is the oracle-replayable mode (the x3/x17
    discipline): assignment scores through ``dot_exact`` (decimal(12,6)
    products, order-free), per-dim update sums as exact decimals, and
    every centroid iterate QUANTIZED to 6 dp — so each iteration is a
    pure function of the data with no float-reduction order anywhere,
    and a DuckDB replay of the whole Lloyd recursion matches
    coordinate-for-coordinate (tests/test_kmeans.py).  The quantization
    costs < 1e-6 per coordinate per iteration — irrelevant to clustering
    quality, decisive for cross-engine replayability.  Python-side
    rounding uses the BINARY value of each double (``Decimal(x)``) —
    DuckDB's double→decimal cast semantics.  Spark's own cast rounds the
    double's SHORTEST DECIMAL RENDERING instead (the corpus_report
    divergence class), which is why the driver-side quantization exists:
    stored centroids are exact 6-dp decimals, so the literal→decimal
    cast inside next iteration's ``dot_exact`` is a no-op in BOTH
    engines and Spark's cast semantics never touch a non-6-dp centroid
    double.  The one place Spark's cast DOES meet raw doubles is the
    embedding values themselves (float→double→decimal inside dot_exact
    and the update sums) — the identical path every x3/x25 exact_decimal
    oracle already rides, fixture-verified; a replay on new data
    inherits that same (rendering-tie, measure-tiny) caveat.
    """
    import math

    # NULL embeddings would assign to a NULL bucket with NULL dimension
    # sums and crash the update (round-5 ADVICE) — drop them up front,
    # matching the numpy top-k paths' explicit NULL-vector filter.
    df = df.where(F.col(vec_col).isNotNull())
    if init is None:
        init = kmeans_centroids(
            df, vec_col, id_col, n_clusters=n_clusters, seed=seed,
            sample_limit=sample_limit,
        )
    centroids = [list(map(float, c)) for c in init]
    dim = len(centroids[0])
    vec = F.col(vec_col)
    if exact_decimal:
        from decimal import ROUND_HALF_UP, Decimal

        q6 = Decimal("0.000001")

        def _quant6(x: float) -> Decimal:
            # binary-value HALF_UP — the SQL double→decimal cast semantics
            return Decimal(x).quantize(q6, rounding=ROUND_HALF_UP)

        # round 11: sum each dimension in exact micro-units (BIGINT inside
        # whole-stage codegen) instead of a decimal(22,6) buffer — the same
        # value by integer exactness; converted back below via
        # Decimal(units)·10^-6, the identical rational the decimal sum held
        quoted = ident_sql(vec_col)
        dims = [
            F.sum(F.expr(V.units_el_sql(f"{quoted}[{i}]"))).alias(f"_s{i}")
            for i in range(dim)
        ]
    else:
        dims = [
            F.sum(vec.getItem(i).cast("double")).alias(f"_s{i}")
            for i in range(dim)
        ]
    it = 0
    for it in range(1, n_iter + 1):
        assigned = df.select(
            assign_centroid(vec_col, centroids, exact_decimal).alias("_b"),
            vec.alias(vec_col),
        )
        stats = (
            assigned.groupBy("_b")
            .agg(F.count("*").alias("_n"), *dims)
            .collect()
        )
        nxt = [list(c) for c in centroids]  # empty cluster -> keep old
        for r in stats:
            if r["_b"] is None or r["_n"] == 0:
                continue
            if exact_decimal:
                # exact unit sum -> exact decimal -> nearest double ->
                # double divide -> 6-dp quantize: every step order-free and
                # engine-identical (float(Decimal(units)·10^-6) is the same
                # correctly-rounded double the old decimal-sum float() gave)
                mq = [
                    _quant6(
                        float(Decimal(r[f"_s{i}"]).scaleb(-6)) / r["_n"]
                    )
                    for i in range(dim)
                ]
                # norm² on the exact 6-dp decimals under an explicit
                # 38-digit context: the default 28-sig-digit context
                # silently rounds (Inexact untrapped) once dim/magnitude
                # outgrow it, while the DuckDB twin sums exactly in
                # DECIMAL(38,12) — prec=38 keeps both sides exact over
                # the whole decimal(12,6) domain (round-8 review)
                import decimal as _dec

                with _dec.localcontext(prec=38):
                    n2 = sum(x * x for x in mq)
                nrm = math.sqrt(float(n2))
                if nrm > 0:
                    nxt[r["_b"]] = [
                        float(_quant6(float(x) / nrm)) for x in mq
                    ]
            else:
                mean = [r[f"_s{i}"] / r["_n"] for i in range(dim)]
                nrm = math.sqrt(sum(x * x for x in mean))
                if nrm > 0:
                    nxt[r["_b"]] = [x / nrm for x in mean]
        shift = max(
            math.sqrt(sum((a - b) ** 2 for a, b in zip(c0, c1)))
            for c0, c1 in zip(centroids, nxt)
        )
        centroids = nxt
        if shift < tol:
            break
    return centroids, it


def _scores_array_sql(
    vec_sql: str, per_centroid_dots: list[str], cdim: int
) -> str:
    """array<struct<score,idx>> SQL source from pre-rendered per-centroid
    dot fragments, with the loud dimension guard attached to centroid 0:
    CASE WHEN assert_true(...) IS NULL THEN dot END — assert_true returns
    NULL on success, so the CASE always selects the dot, and a NULL vector
    passes the guard."""
    # guard assembled by CONCATENATION, never str.format: vec_sql embeds a
    # user identifier, and a '{'/'}' in it would turn .format into a
    # KeyError/IndexError at build time (ADVICE r11)
    guard_head = (
        f"CASE WHEN assert_true((({vec_sql}) IS NULL) OR "
        f"(size({vec_sql}) = {cdim}), "
        f"'embedding dimension != centroid dimension {cdim}') IS NULL "
        f"THEN "
    )
    elems = []
    for j, d in enumerate(per_centroid_dots):
        dd = guard_head + d + " END" if j == 0 else d
        elems.append(f"struct({dd} AS score, {j} AS idx)")
    return "array(" + ",".join(elems) + ")"


def _centroid_scores_from_units(
    vec: str, units: str, centroids: list[list[float]], cdim: int
) -> Column:
    """Exact-mode score array from a PRECOMPUTED micro-unit array column
    (round 11): per centroid the dot is a BIGINT fold against a foldable
    literal unit array — bit-identical to dot_exact(vec, lit-array) because
    both sides ride the same quantization chain (vector.units_lit_sql).
    ``vec`` is only consulted by the loud dimension guard, so callers that
    already materialized ``units`` pay one unit build per row for ALL k
    scores."""
    u = ident_sql(units)
    dots = [
        f"CAST({V.dot_units_sql(u, V.units_lit_sql(c))} AS DOUBLE)"
        for c in centroids
    ]
    return F.expr(_scores_array_sql(ident_sql(vec), dots, cdim))


def _centroid_scores(
    vec: str, centroids: list[list[float]], exact: bool = False
) -> Column:
    """array<struct<score,idx>> of cos-proportional scores per centroid of
    the named vector column.

    Centroids are unit vectors, so dot(v, ĉ_j) ranks identically to
    cosine(v, c_j) (the ‖v‖ factor is constant across j).  All JVM-side:
    k×dim literal arrays folded with zip_with/aggregate, no UDF, ONE parsed
    SQL expression for all k scores (a Column-API k-centroid loop cost
    ~0.8 s of every declared-query build).  ``exact`` routes through the
    micro-unit dot (oracle-stable ranking for declared queries,
    bit-identical to dot_exact; the vector quantizes ONCE per row via a
    let-binding); the double path is the production one.  zip_with
    null-pads a wrong-length vector into all-NULL scores (an arbitrary
    bucket), so centroid 0 carries the loud dimension guard."""
    dims = {len(c) for c in centroids}
    if len(dims) != 1:
        raise ValueError(f"centroids have inconsistent dimensions: {sorted(dims)}")
    (cdim,) = dims
    v = ident_sql(vec)
    if exact:
        # let-binding shape of functions.text.bind_once:
        # transform(array(value), u -> body)[0] quantizes ONCE per row
        dots = [
            f"CAST({V.dot_units_sql('_cu', V.units_lit_sql(c))} AS DOUBLE)"
            for c in centroids
        ]
        body = _scores_array_sql(v, dots, cdim)
        return F.expr(
            f"transform(array({V.units_arr_sql(v)}), _cu -> {body})[0]"
        )
    dots = [
        f"aggregate(zip_with({v}, {V.lit_vec_sql(c)}, "
        f"(_dx, _dy) -> CAST(_dx AS DOUBLE) * _dy), "
        f"CAST(0 AS DOUBLE), (_da, _dv) -> _da + _dv)"
        for c in centroids
    ]
    return F.expr(_scores_array_sql(v, dots, cdim))


def assign_centroid(
    vec: str, centroids: list[list[float]], exact: bool = False
) -> Column:
    """Nearest-centroid id (struct-max: ties break to the larger idx,
    consistently with probe_centroids' descending sort)."""
    return F.array_max(_centroid_scores(vec, centroids, exact)).getField("idx")


def probe_centroids(
    vec: str, centroids: list[list[float]], n_probe: int, exact: bool = False
) -> Column:
    """The ``n_probe`` nearest centroid ids, best first."""
    ordered = F.sort_array(_centroid_scores(vec, centroids, exact), asc=False)
    return F.transform(
        F.slice(ordered, 1, n_probe), lambda s: s.getField("idx")
    )


def ivf_kmeans_topk(
    queries: DataFrame,
    candidates: DataFrame,
    query_id: str = "query_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_clusters: int = 8,
    n_probe: int = 2,
    exact_decimal: bool = False,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF top-k with a LEARNED coarse quantizer: k-means centroids instead
    of a pre-existing bucket column.  Candidates are assigned to their
    nearest centroid; each query probes its ``n_probe`` nearest centroids
    (exploded → the bucket equi-join of ivf_topk).  At scale the candidate
    assignment is computed once at ingest and the table is written
    partitioned by bucket, making every probe a partition-pruned scan of
    n_probe/n_clusters of the data."""
    if centroids is None:
        centroids = kmeans_centroids(
            candidates, vec_col, cand_id, n_clusters=n_clusters
        )
    cand_b = candidates.withColumn(
        "_ivf_bucket", assign_centroid(vec_col, centroids, exact_decimal)
    )
    q_b = queries.select(
        F.col(query_id),
        F.col(vec_col),
        F.explode(
            probe_centroids(vec_col, centroids, n_probe, exact_decimal)
        ).alias("_ivf_bucket"),
    )
    return ivf_topk(
        q_b,
        cand_b,
        "_ivf_bucket",
        query_id,
        cand_id,
        vec_col,
        k=k,
        exact_decimal=exact_decimal,
    )


def save_ivf_index(
    candidates: DataFrame,
    path: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    exact_decimal: bool = False,
) -> None:
    """Materialize the IVF index the docstrings above promise: candidates
    assigned to their nearest centroid ONCE at ingest and written
    ``partitionBy(bucket)`` — the layout that turns every probe into a
    partition-PRUNED scan of n_probe/n_clusters of the data instead of a
    full read.  One map-only pass over the corpus (assignment is the
    broadcast-parameters centroid argmax) + one partitioned write."""
    candidates.withColumn(
        "_ivf_bucket", assign_centroid(vec_col, centroids, exact_decimal)
    ).write.mode("overwrite").partitionBy("_ivf_bucket").parquet(path)


def ivf_search(
    queries: DataFrame,
    index_path: str,
    centroids: list[list[float]],
    query_id: str = "query_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 2,
    exact_decimal: bool = False,
    strategy: str = "auto",
) -> DataFrame:
    """Top-k against a persisted ``save_ivf_index`` layout with the probed
    buckets pushed into the SCAN: the union of every query's n_probe
    buckets (a parameter-sized list — |queries|·n_probe ints; queries are
    broadcast-small by the IVF contract) collects to the driver and
    becomes an ``isin`` PartitionFilter, so only the probed bucket
    directories are ever read (plan-asserted in tests/test_similarity.py;
    the X23 persisted-postings IN-list discipline).  At 100 TB with
    n_probe=2 of 1024 buckets the scan reads ~0.2 % of the index."""
    spark = queries.sparkSession
    q_b = queries.select(
        F.col(query_id),
        F.col(vec_col),
        F.explode(
            probe_centroids(vec_col, centroids, n_probe, exact_decimal)
        ).alias("_ivf_bucket"),
    # eager pin BEFORE the probe collect: the bucket list and the
    # ivf_topk join must see the SAME evaluation of the queries frame —
    # a nondeterministic input (df.sample, rand-derived filter) would
    # otherwise probe buckets from evaluation A while the join replays
    # evaluation B, silently scoring pruned-away candidates as absent
    # (round-6 code review); also saves re-running probe_centroids
    ).localCheckpoint(eager=True)
    probed = sorted(
        r["_ivf_bucket"]
        for r in q_b.select("_ivf_bucket").distinct().collect()
    )
    cand = spark.read.parquet(index_path).where(
        F.col("_ivf_bucket").isin(probed)
    )
    return ivf_topk(
        q_b,
        cand,
        "_ivf_bucket",
        query_id,
        cand_id,
        vec_col,
        k=k,
        exact_decimal=exact_decimal,
        strategy=strategy,
    )


def hyperplane_bucket(
    vec: str,
    dim: int = 64,
    n_planes: int = 16,
    planes: list[list[int]] | None = None,
    exact: bool = False,
    units: str | None = None,
) -> Column:
    """Deterministic random-hyperplane sign bucket for the named vector
    column.

    Default direction: h_p component i = sin(p·1009 + i·9973) — a fixed,
    engine-portable pseudo-random direction (no rand(): determinism
    contract), evaluated in doubles (the scale path).

    ``planes`` supplies frozen integer-quantized plane coefficients instead
    (the production pattern: planes are a model artifact shipped with the
    job).  With ``exact=True`` the projection is Σ decimal(v_i)·c_pi in
    exact decimal×integer arithmetic, so sign(<v,h_p>) is bit-reproducible
    in any engine that has exact decimals (the DuckDB oracle recomputes the
    identical buckets — no float sign-boundary risk).  Only the SIGN
    matters, and sign(Σ dec(12,6)·int) == sign(Σ units·int), so the fold
    runs in BIGINT over the micro-unit array (``units``, a column the
    caller materialized, else built here); |Σ| ≤ dim·10^6·max|x|·max|c|
    overflows loudly under ANSI, far above any unit-norm corpus.

    Bucket = integer whose bit p is sign(<v, h_p>), built as ONE parsed SQL
    expression (a Column-API loop of n_planes folds cost ~2-3 s of py4j per
    x4 build).  A dimension guard wraps the let-bound vector: zip_with
    null-pads a short vector, silently zeroing the projection where an
    exact-SQL oracle's NULL-skipping sum could still set the bit (ADVICE
    r3), so a wrong length fails loudly.  A NULL vector passes through
    (NULL projection → bucket 0; exact verification filters such rows)."""
    if exact and planes is None:
        raise ValueError(
            "hyperplane_bucket: exact=True requires frozen integer planes "
            "(the default sin() directions are double-only)"
        )
    if planes is not None:
        bad = [p for p, pl in enumerate(planes[:n_planes]) if len(pl) != dim]
        if len(planes) < n_planes or bad:
            raise ValueError(
                f"hyperplane_bucket: need {n_planes} planes of dim {dim}, "
                f"got {len(planes)} planes (wrong-length planes: {bad})"
            )
    v = ident_sql(vec)
    # guard assembled by concatenation, not str.format — v embeds a user
    # identifier (ADVICE r11, same reasoning as _scores_array_sql)
    guard_head = (
        f"CASE WHEN assert_true((({v}) IS NULL) OR (size({v}) = {dim}), "
        f"'hyperplane_bucket: vector dim != {dim}') IS NULL "
        f"THEN "
    )
    bits = []
    for p in range(n_planes):
        if planes is not None and exact:
            arr = "array(" + ",".join(f"{int(c)}L" for c in planes[p]) + ")"
            proj = (
                f"aggregate(zip_with(_hb, {arr}, (_x, _s) -> _x * _s), "
                f"CAST(0 AS BIGINT), (_da, _dv) -> _da + _dv)"
            )
            zero_sql = "CAST(0 AS BIGINT)"
        elif planes is not None:
            arr = "array(" + ",".join(str(int(c)) for c in planes[p]) + ")"
            proj = (
                f"aggregate(zip_with(_hb, {arr}, "
                f"(_x, _s) -> CAST(_x AS DOUBLE) * _s), "
                f"CAST(0 AS DOUBLE), (_da, _dv) -> _da + _dv)"
            )
            zero_sql = "CAST(0 AS DOUBLE)"
        else:
            arr = (
                "array("
                + ",".join(str(p * 1009 + i * 9973) for i in range(dim))
                + ")"
            )
            proj = (
                f"aggregate(zip_with(_hb, {arr}, "
                f"(_x, _s) -> CAST(_x AS DOUBLE) * SIN(_s)), "
                f"CAST(0 AS DOUBLE), (_da, _dv) -> _da + _dv)"
            )
            zero_sql = "CAST(0 AS DOUBLE)"
        bits.append(
            f"(CASE WHEN {proj} > {zero_sql} "
            f"THEN CAST({2 ** p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        )
    if exact:
        src = ident_sql(units) if units is not None else V.units_arr_sql(v)
    else:
        src = v
    bound = guard_head + src + " END"
    return F.expr(
        f"transform(array({bound}), _hb -> {' + '.join(bits)})[0]"
    )


def lsh_neighbor_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 16,
    bands: int = 4,
    cosine_threshold: float = 0.8,
    exact_decimal: bool = False,
    planes: list[list[int]] | None = None,
) -> DataFrame:
    """All-pairs near-neighbor search via hyperplane-LSH banding.

    Bucket bits are split into ``bands`` chunks; pairs sharing any chunk are
    candidates, then verified with exact cosine ≥ threshold.  Join is equi on
    (band_id, chunk) — sub-quadratic as long as buckets stay balanced (the
    hyperplanes are fixed; at production scale use learned/orthogonal planes
    per dataset).  ``planes`` = frozen integer-quantized hyperplanes; with
    ``exact_decimal`` the bucketing itself is decimal-exact and therefore
    oracle-reproducible (see hyperplane_bucket)."""
    r = n_planes // bands
    if r < 1 or n_planes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must evenly divide n_planes ({n_planes}) "
            f"with >=1 bit per chunk"
        )
    # round 11: the exact path carries each row's micro-unit array instead
    # of the raw vector — bucketing, norm², and the O(pairs) verify dot all
    # run as BIGINT folds over it (bit-identical to the decimal reference,
    # see vector.dot_units_sql), and the unit quantization happens ONCE per row
    # instead of once per plane/pair element.
    if exact_decimal:
        src = ensure_parallelism(df).withColumn(
            "_lsh_u", F.expr(V.units_arr_sql(ident_sql(vec_col)))
        )
        with_bucket = src.select(
            F.col(id_col),
            F.col("_lsh_u"),
            # pass exact_decimal through untouched: hyperplane_bucket raises
            # the documented ValueError on exact=True without frozen planes
            hyperplane_bucket(
                vec_col,
                dim,
                n_planes,
                planes=planes,
                exact=True,
                units="_lsh_u",
            ).alias("_bucket"),
            F.expr(f"CAST({V.norm2_units_sql('_lsh_u')} AS DOUBLE)").alias("_den"),
        )
        pair_col = "_lsh_u"
    else:
        with_bucket = ensure_parallelism(df).select(
            F.col(id_col),
            F.col(vec_col),
            # pass exact_decimal through untouched: hyperplane_bucket raises
            # the documented ValueError on exact=True without frozen planes
            # -- the old `and planes is not None` silently downgraded to
            # double bucketing (round-4 review)
            hyperplane_bucket(
                vec_col, dim, n_planes, planes=planes, exact=False
            ).alias("_bucket"),
            # per-row denominator part hoisted out of the O(pairs)
            # verification (the semantic_dedup discipline): computed ONCE
            # per vector here, so each candidate pair costs ONE dot
            # aggregate instead of five (cosine_exact's den>0 guard
            # re-derives both norms per evaluation -- measured as the
            # dominant cost of the sf1 verify stage).  Each pair cosine
            # below reproduces the functions/vector.py formula bit for bit:
            # exact den = sqrt(na2_double * nb2_double), double den =
            # norm(a) * norm(b).
            F.expr(V.norm_sql(ident_sql(vec_col))).alias("_den"),
        )
        pair_col = vec_col
    def _chunk(bucket: Column, i: int) -> Column:
        return F.shiftright(bucket, r * i).bitwiseAND(F.lit((1 << r) - 1))

    chunks = with_bucket.select(
        id_col,
        pair_col,
        "_bucket",
        "_den",
        F.posexplode(
            F.array(*[_chunk(F.col("_bucket"), i) for i in range(bands)])
        ).alias("band_id", "chunk"),
    )
    a = chunks.select(
        F.col(id_col).alias("id_a"),
        F.col(pair_col).alias("_va"),
        F.col("_bucket").alias("_ba"),
        F.col("_den").alias("_dena"),
        "band_id",
        "chunk",
    )
    b = chunks.select(
        F.col(id_col).alias("id_b"),
        F.col(pair_col).alias("_vb"),
        F.col("_bucket").alias("_bb"),
        F.col("_den").alias("_denb"),
        "band_id",
        "chunk",
    )
    # Emit each colliding pair from its FIRST matching band only: both sides
    # carry the full 16-bit bucket (one long), so "some earlier band also
    # matched" is a pure bit test — the pair survives in exactly one band's
    # join output and no pair-level dedup exchange is needed at all.  The
    # previous shape (dropDuplicates(["id_a","id_b"]) BEFORE verification)
    # shuffled every candidate row carrying BOTH dim-`dim` vectors — measured
    # 18-33 GB of /tmp spill at sf1, TB-scale at 100x (VERDICT r8 item 1).
    # Result-identical by construction: the emitted pair set is exactly
    # "pairs sharing >=1 band chunk", and cosine is a deterministic function
    # of the pair (identity vs the legacy shape pinned in
    # tests/test_similarity.py::test_lsh_pairs_identical_to_legacy_shape).
    first_match_only = None
    for i in range(bands - 1):
        earlier = (F.lit(i) < F.col("band_id")) & (
            _chunk(F.col("_ba"), i) == _chunk(F.col("_bb"), i)
        )
        first_match_only = (
            ~earlier if first_match_only is None else first_match_only & ~earlier
        )
    joined = a.join(b, ["band_id", "chunk"]).where(F.col("id_a") < F.col("id_b"))
    if first_match_only is not None:
        joined = joined.where(first_match_only)
    if exact_decimal:
        den = "SQRT((_dena * _denb))"
        num = f"CAST({V.dot_units_sql('_va', '_vb')} AS DOUBLE)"
    else:
        den = "(_dena * _denb)"
        num = V.dot_sql("_va", "_vb")
    pair_cos = f"round(CASE WHEN {den} > 0 THEN {num} / {den} END, 6)"
    # One fold evaluation per candidate pair (round 12, OPTIMIZATION_r11
    # "not yet" item 7): the previous withColumn + where(cosine >= t) shape
    # let Catalyst push the threshold below the Project, so every SURVIVOR
    # re-evaluated the whole O(dim) dot fold a second time (the same
    # duplicated-subtree class as _finalize_topk's round-11 fix).  Here the
    # cosine is computed once into a 1-element array, thresholded INSIDE
    # the filter lambda (which compares the computed element, not the
    # expression), and emitted by explode — 0 or 1 rows per candidate.
    # Value identity: a NULL cosine fails the lambda exactly as the old
    # NULL predicate dropped the row; survivors emit the identical rounded
    # value.  The threshold literal rides the exact repr() double cast like
    # every other rendered SQL literal.
    thr = f"CAST('{float(cosine_threshold)!r}' AS DOUBLE)"
    return joined.select(
        "id_a",
        "id_b",
        F.expr(
            f"explode(filter(array({pair_cos}), _pc -> _pc >= {thr}))"
        ).alias("cosine"),
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    cosine_threshold: float = 0.9,
    exact_decimal: bool = False,
    strategy: str = "auto",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication via clustering — embeddings are assigned to their nearest
    k-means centroid, and within each cluster any row whose cosine to a
    LOWER-id cluster-mate reaches ``cosine_threshold`` is dropped.

    Survivor rule: *parallel* keep-first-by-id — row b is dropped iff SOME
    a < b in the same cluster has round(cos(a,b), 6) >= threshold, whether
    or not a itself survives.  (The paper's sequential greedy scan is
    order-dependent within a chain; the parallel rule is deterministic,
    shuffle-friendly, and strictly more aggressive only on chains
    a~b~c where a !~ c — documented deviation.)

    Scale: the all-pairs work is confined within clusters, so cost is
    Σ m_c² — SemDeDup's whole point is to pick k large enough that m_c is
    small (the paper uses k = 50 000 on LAION; pass
    ``kmeans_centroids(df, ..., n_clusters=N/target_cluster_size)`` here).

    Strategies (identical results on non-tied data, pinned by test):

    - ``"expr"`` — pure-JVM pair join with per-row norms hoisted out of
      the O(pairs) dot (3 array-aggregates per pair -> 1); supports
      ``exact_decimal`` for the oracle-parity declared query.  Catalyst
      higher-order functions are interpreted per element, so this path is
      CPU-bound at ~1 µs/pair·dim.
    - ``"numpy"`` — Arrow-batched ``applyInPandas`` per cluster: pairwise
      cosine as one blocked float64 matmul (BLAS), the documented
      "built-ins genuinely can't express this efficiently" exception.
      Measured 13.4 s -> 1.9 s on the sf1 embeddings (20 k × 64-dim,
      k=64; BASELINE.md).  ``exact_decimal`` is not available here (BLAS
      sums in float64 with hardware order); rounding at 6 dp makes the
      two strategies agree except on exact .5e-6 cosine ties.

    The cluster equi-join/grouping shuffles on cluster id; a pathological
    monster cluster is the usual skew problem (salt it, or cap with a
    per-cluster row_number guard).  Returns the surviving rows with their
    ``_sd_cluster`` id.
    """
    # auto: the shared gate (13.4 s -> 1.9 s at sf1 for the numpy side)
    if strategy == "auto":
        strategy = _auto_strategy(exact_decimal, df)
    if strategy not in ("expr", "numpy"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "numpy" and exact_decimal:
        raise ValueError("exact_decimal requires strategy='expr'")
    # centroid scoring is k×dim work per row — spread a narrow parquet
    # input across cores before it, like every other CPU-heavy operator here
    vec = F.col(vec_col)
    n_part = df.sparkSession.sparkContext.defaultParallelism
    if strategy == "numpy":
        # assignment vectorized too: interpreted HOF scoring was 4.5 s of
        # the 5.3 s numpy-strategy total at sf1 (BASELINE.md)
        assigned = _assign_centroid_numpy(
            ensure_parallelism(df), vec_col, centroids
        )
        return _semantic_dedup_numpy(
            assigned, id_col, vec_col, cosine_threshold, n_part
        )
    # Round-11 dataflow: ONE post-assignment frame, repartitioned by
    # cluster, feeds all three consumers (pair side a, pair side b, and the
    # anti-join left).  The two pair sides always shared the exchange via
    # AQE stage reuse; hanging the anti-join left off the SAME exchange
    # removes the third full scan+assignment pass the old shape paid
    # (`assigned` was a separate lineage).  Row set returned is identical —
    # only the partitioning of the output differs, and every declared
    # caller orders afterwards.
    #
    # Exact mode carries each row's micro-unit array (_sd_u) through the
    # exchange so the O(pairs) dot is a BIGINT fold (vector.dot_units_sql,
    # bit-identical to dot_exact) — measured 7.6 s → 2.5 s on the sf0.1
    # declared x17 with outputs pinned identical.  The double path carries
    # the raw vector as before.
    #
    # Per-row denominator part, hoisted out of the O(pairs) join:
    # exact path carries norm² as double (cosine_exact's den is
    # sqrt(na2*nb2)); double path carries the norm itself (cosine's den is
    # na*nb) — each pair cosine below reproduces the corresponding
    # functions/vector.py formula bit for bit.
    if exact_decimal:
        pair_col = "_sd_u"
        base = ensure_parallelism(df).withColumn(
            "_sd_u", F.expr(V.units_arr_sql(ident_sql(vec_col)))
        )
        base = base.withColumn(
            "_sd_cluster",
            F.array_max(
                _centroid_scores_from_units(
                    vec_col, "_sd_u", centroids, len(centroids[0])
                )
            ).getField("idx"),
        ).withColumn(
            "_sd_den",
            F.expr(f"CAST({V.norm2_units_sql('_sd_u')} AS DOUBLE)"),
        )
    else:
        pair_col = vec_col
        base = (
            ensure_parallelism(df)
            .withColumn("_sd_cluster", assign_centroid(vec_col, centroids, False))
            .withColumn("_sd_den", F.expr(V.norm_sql(ident_sql(vec_col))))
        )
    # EXPLICIT numPartitions: the pair join is compute-bound (one array dot
    # per candidate pair) on tiny shuffle bytes, exactly the shape where
    # AQE's byte-based coalescing collapses the stage to 1-2 tasks and
    # serializes minutes of CPU (measured at sf1: 52 s -> ~14 s with the
    # explicit 32-way spread; BASELINE.md).  A user-specified repartition
    # survives AQE; both join sides share the distribution so the join
    # adds no further exchange.
    #
    # Round 12: LAZY localCheckpoint of the assigned base.  The round-11
    # "one frame feeds all three consumers" shape relied on AQE exchange
    # reuse, but reuse NEVER fires over an InMemoryRelation source
    # (measured: a minimal self-join reuses its exchange; the same join
    # over a cached table does not) — so the executed x17 plan ran the
    # scan + centroid assignment + both shuffles THREE times, and the
    # inner join's inferred isnotnull(_sd_cluster) pushed below the
    # projection re-evaluated the whole k×dim assignment fold per row
    # twice more (guide §4.4's duplication class, built-in edition).
    # Truncating lineage here (guide §3.3/§5) materializes the assigned,
    # cluster-partitioned rows ONCE on executor storage (memory-and-disk,
    # spill-safe) and all three consumers read that: sf0.1 exact x17 exec
    # 1.65 → 0.69 s, rows identical.  Laziness is preserved (eager=False
    # — nothing runs at build time, every invocation recomputes).  The
    # production 100 TB path is the numpy strategy above (single-consumer
    # applyInPandas); this expr path serves oracle replays and sub-gate
    # corpora, where one materialization strictly beats three recomputes.
    base = base.repartition(n_part, "_sd_cluster").localCheckpoint(
        eager=False
    )
    a = base.select(
        F.col("_sd_cluster"),
        F.col(id_col).alias("_sd_a"),
        F.col(pair_col).alias("_sd_va"),
        F.col("_sd_den").alias("_sd_dena"),
    )
    b = base.select(
        F.col("_sd_cluster"),
        F.col(id_col).alias("_sd_b"),
        F.col(pair_col).alias("_sd_vb"),
        F.col("_sd_den").alias("_sd_denb"),
    )
    if exact_decimal:
        den = "SQRT((_sd_dena * _sd_denb))"
        num = f"CAST({V.dot_units_sql('_sd_va', '_sd_vb')} AS DOUBLE)"
    else:
        den = "(_sd_dena * _sd_denb)"
        num = V.dot_sql("_sd_va", "_sd_vb")
    # one parsed predicate (round 11): CASE WHEN den > 0 THEN num/den END
    # (NULL, not a divide error, for a zero vector); the threshold literal
    # rides an exact repr()-string double cast like every other rendered
    # SQL literal
    pair_sim = (
        f"round(CASE WHEN {den} > 0 THEN {num} / {den} END, 6) "
        f">= CAST('{float(cosine_threshold)!r}' AS DOUBLE)"
    )
    dups = (
        a.join(b, "_sd_cluster")
        .where(F.col("_sd_a") < F.col("_sd_b"))
        .where(F.expr(pair_sim))
        .select(F.col("_sd_b").alias(id_col))
        .distinct()
    )
    drop_cols = ["_sd_den"] + (["_sd_u"] if exact_decimal else [])
    return base.drop(*drop_cols).join(dups, id_col, "left_anti")


def _semantic_dedup_numpy(
    assigned: DataFrame,
    id_col: str,
    vec_col: str,
    cosine_threshold: float,
    n_part: int,
) -> DataFrame:
    """Numpy/BLAS strategy for semantic_dedup: one applyInPandas group per
    cluster computes the pairwise cosine matrix as blocked float64 matmuls
    and applies the keep-first-by-id rule vectorized.

    Block structure bounds memory: rows are sorted by id, the cosine
    matrix is materialized in ``block × m`` slabs (never m × m), and a row
    is a duplicate iff any STRICTLY-EARLIER row reaches the threshold —
    upper-triangle masking via column-index < row-index comparison.
    Arrow moves each cluster's vectors in one batch; the only Python cost
    is per cluster, not per pair.
    """
    import numpy as np
    import pandas as pd

    out_schema = assigned.schema
    thr = float(cosine_threshold)

    def dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        m = len(pdf)
        if m <= 1:
            return pdf
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.sqrt((V * V).sum(axis=1))
        safe = norms > 0
        dup = np.zeros(m, dtype=bool)
        block = 1024
        for lo in range(1, m, block):
            hi = min(lo + block, m)
            # cosines of rows [lo,hi) against ALL rows, then mask to the
            # strict lower triangle (earlier ids only)
            sims = V[lo:hi] @ V.T
            den = np.outer(norms[lo:hi], norms)
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = np.where(den > 0, sims / den, np.nan)
            cos = np.round(cos, 6)
            earlier = np.arange(m)[None, :] < np.arange(lo, hi)[:, None]
            hit = (cos >= thr) & earlier
            dup[lo:hi] = hit.any(axis=1)
        dup &= safe  # zero vectors have no direction: never near-dups
        return pdf[~dup]

    return (
        assigned.repartition(n_part, "_sd_cluster")
        .groupBy("_sd_cluster")
        .applyInPandas(dedup_cluster, schema=out_schema)
    )


def _assign_centroid_numpy(
    df: DataFrame, vec_col: str, centroids: list[list[float]]
) -> DataFrame:
    """Vectorized nearest-centroid assignment: one Arrow batch matmul
    (rows × dim @ dim × k) + argmax per mapInPandas batch.

    Tie-break parity with :func:`assign_centroid` (struct-max -> LARGER
    idx wins a score tie): argmax over the column-REVERSED score matrix
    picks the last maximal column, mapped back as k-1-argmax.
    """
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    C = np.asarray(centroids, dtype=np.float64)  # k × dim
    # NOT df.schema.add(...): StructType.add mutates the receiver in place,
    # corrupting the input frame's resolved schema
    out_schema = StructType(
        list(df.schema.fields) + [StructField("_sd_cluster", IntegerType(), False)]
    )
    k = C.shape[0]

    def assign(batches):
        for pdf in batches:
            if len(pdf):
                V_ = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                scores = V_ @ C.T  # rows × k
                pdf = pdf.assign(
                    _sd_cluster=(k - 1 - np.argmax(scores[:, ::-1], axis=1))
                )
            else:
                pdf = pdf.assign(_sd_cluster=np.array([], dtype=np.int32))
            yield pdf

    return df.mapInPandas(assign, schema=out_schema)


def _topk_partial_schema(queries, candidates, query_id, cand_id):
    """(query_id, cand_id, cosine) partial schema with id types following
    the inputs, plus the empty final frame for the no-queries case."""
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    partial = StructType(
        [
            StructField(query_id, queries.schema[query_id].dataType, True),
            StructField(cand_id, candidates.schema[cand_id].dataType, True),
            StructField("cosine", DoubleType(), True),
        ]
    )
    final = StructType(
        [
            StructField(query_id, queries.schema[query_id].dataType, True),
            StructField("rank", IntegerType(), False),
            StructField(cand_id, candidates.schema[cand_id].dataType, True),
            StructField("cosine", DoubleType(), True),
        ]
    )
    return partial, final


def _score_block(q_ids, Q, q_norms, ids, V_, k, query_id, cand_id):
    """Score one candidate block against a query matrix and return its
    per-query partial top-k as a pandas frame.

    Selection uses the SAME total order the global window applies —
    (cosine desc, cand_id asc) via lexsort — so ties at the take-th value
    keep the lowest ids deterministically regardless of row order within
    the block (argpartition would keep an arbitrary, partitioning-
    dependent subset of a tie group).  Zero-norm vectors score NaN here
    and are null-filtered in _finalize_topk, matching the expr paths'
    NULL-cosine contract.
    """
    import numpy as np
    import pandas as pd

    norms = np.sqrt((V_ * V_).sum(axis=1))
    den = np.outer(q_norms, norms)
    with np.errstate(invalid="ignore", divide="ignore"):
        cos = np.where(den > 0, (Q @ V_.T) / den, np.nan)
    cos = np.round(cos, 6)
    take = min(k, cos.shape[1])
    nan_safe = np.where(np.isnan(cos), -np.inf, cos)
    sel = np.empty((cos.shape[0], take), dtype=np.int64)
    for qi in range(cos.shape[0]):
        sel[qi] = np.lexsort((ids, -nan_safe[qi]))[:take]
    return pd.DataFrame(
        {
            query_id: np.repeat(q_ids, take),
            cand_id: ids[sel].ravel(),
            "cosine": np.take_along_axis(cos, sel, axis=1).ravel(),
        }
    )


def _finalize_topk(partials, query_id, cand_id, k):
    """Global exact top-k over scored (query, candidate, cosine) rows —
    the shared tail of every similarity path (expr scans, numpy partials,
    quantized rerank).  NULL cosines (zero-norm or NULL vectors) are
    unrankable and omitted.

    The NULL filter runs AFTER the rank window, not before (round 11):
    when ``cosine`` is an unevaluated expression over a join (the expr
    paths), a pre-window ``where(cosine.isNotNull())`` is pushed by
    Catalyst into the join condition as ``isnotnull(round(dot/den))`` —
    re-evaluating the entire O(dim) dot-product fold PER PAIR a second
    time (measured: the x3 sf0.1 plan held 2 dot folds per pair, and the
    scan stage halved when the duplicate went).  Catalyst does not push
    predicates through a Window unless they reference only partition
    columns, so filtering after the window reads the materialized column
    instead.  Output is identical: ``F.desc`` orders NULLS LAST, so NULL
    rows sort after every rankable row and cannot displace a non-NULL
    row's row_number; they are then dropped by the post-window filter
    whether or not they drew a rank ≤ k (k exceeding the scoreable
    candidates included — pinned in tests/test_similarity.py)."""
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(cand_id))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .where((F.col("rank") <= k) & F.col("cosine").isNotNull())
        .select(query_id, "rank", cand_id, "cosine")
    )


def _brute_force_topk_numpy(
    queries: DataFrame,
    candidates: DataFrame,
    query_id: str,
    cand_id: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """BLAS scan strategy for brute_force_topk: per-Arrow-batch matmul +
    lexsort partial top-k (_score_block), then _finalize_topk over the
    tiny partials.

    Collecting the query set to the driver is collecting *parameters* (it
    is broadcast-small by the operator's own contract — same argument as
    kmeans_centroids); the candidate scan itself never leaves executors.
    An empty query set returns an empty result, matching the expr path.
    """
    import numpy as np

    partial_schema, final_schema = _topk_partial_schema(
        queries, candidates, query_id, cand_id
    )
    q_rows = queries.select(query_id, vec_col).collect()
    # NULL query vectors are unrankable on every path (expr omits them) —
    # np.asarray(None) would raise on the driver (second-review finding)
    q_rows = [r for r in q_rows if r[1] is not None]
    if not q_rows:
        return queries.sparkSession.createDataFrame([], final_schema)
    q_ids = np.array([r[0] for r in q_rows])
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    q_norms = np.sqrt((Q * Q).sum(axis=1))

    def score(batches):
        for pdf in batches:
            # NULL vectors can never rank (the expr paths score them NULL
            # and filter) — np.stack over a None would crash the worker
            # instead (round-5 code review, verified on quantized codes)
            pdf = pdf[pdf[vec_col].notna()]
            if not len(pdf):
                continue
            V_ = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            ids = pdf[cand_id].to_numpy()
            yield _score_block(q_ids, Q, q_norms, ids, V_, k, query_id, cand_id)

    partials = ensure_parallelism(candidates).mapInPandas(
        score, schema=partial_schema
    )
    return _finalize_topk(partials, query_id, cand_id, k)


def _ivf_topk_numpy(
    queries: DataFrame,
    candidates: DataFrame,
    bucket_col: str,
    query_id: str,
    cand_id: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """BLAS bucket strategy for ivf_topk: the (broadcast-small) probing
    query set ships as a bucket→(ids, matrix, norms) dict; each candidate
    Arrow batch is scored bucket-by-bucket with one matmul against
    exactly the queries probing that bucket (_score_block), finalized by
    the same global window — the bucketed sibling of
    _brute_force_topk_numpy.  An empty query set returns an empty
    result, matching the expr path.
    """
    import numpy as np

    partial_schema, final_schema = _topk_partial_schema(
        queries, candidates, query_id, cand_id
    )
    q_rows = queries.select(query_id, bucket_col, vec_col).collect()
    q_rows = [r for r in q_rows if r[2] is not None]  # same NULL contract
    if not q_rows:
        return queries.sparkSession.createDataFrame([], final_schema)
    by_bucket: dict = {}
    for r in q_rows:
        by_bucket.setdefault(r[1], []).append(
            (r[0], np.asarray(r[2], dtype=np.float64))
        )
    packed = {}
    for b, rows in by_bucket.items():
        ids_ = np.array([qid for qid, _ in rows])
        Q_ = np.stack([v for _, v in rows])
        packed[b] = (ids_, Q_, np.sqrt((Q_ * Q_).sum(axis=1)))

    def score(batches):
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]  # same NULL contract as the
            if not len(pdf):                 # brute-force block scorer
                continue
            for b, grp in pdf.groupby(bucket_col, sort=False):
                hit = packed.get(b)
                if hit is None:
                    continue  # no query probes this bucket
                q_ids, Q, q_norms = hit
                V_ = np.stack(grp[vec_col].to_numpy()).astype(np.float64)
                ids = grp[cand_id].to_numpy()
                yield _score_block(
                    q_ids, Q, q_norms, ids, V_, k, query_id, cand_id
                )

    partials = ensure_parallelism(candidates).mapInPandas(
        score, schema=partial_schema
    )
    return _finalize_topk(partials, query_id, cand_id, k)


# --------------------------------------------------------------- quantization
# Per-vector symmetric int8 scalar quantization (SQ8 — the FAISS
# ScalarQuantizer / Lucene int8 HNSW construction, public): each embedding
# stores 1 byte/dim + one float scale, a 4x cut in the memory/IO that
# dominates ANN at 100 TB.  The key algebraic fact exploited below: cosine
# similarity of two SQ8 vectors is the INTEGER cosine of their code
# arrays — the per-vector scales cancel — so approximate scoring never
# multiplies the scales back in, and the scale column only matters for
# reconstruction (dequantize) and dot products.


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    codes_col: str = "q_codes",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Add ``codes_col`` (array<tinyint>, each in [-127, 127]) and
    ``scale_col`` (double) — ``v_i ≈ codes_i * scale`` with per-element
    error ≤ scale/2.  ``scale = max|v| / 127``; a zero vector gets scale
    0.0 and all-zero codes (its cosine is NULL everywhere downstream,
    matching the float paths); a NULL vector stays NULL.

    Strictly map-only (one transform + array_max + transform), fused into
    the scan — quantizing 100 TB is one pass at IO speed.

    Both columns are built as single parsed SQL expressions (round 11):
    the Column-API form cost ~0.4 s of py4j round-trips per build and this
    operator is constructed twice per quantized_topk plan.  The SQL mirrors
    the spec token for token (same casts, same HALF_UP round, same
    zero-scale CASE); value identity is pinned in tests/test_vector_units.py.
    """
    v, sc = ident_sql(vec_col), ident_sql(scale_col)
    with_scale = df.withColumn(
        scale_col,
        F.expr(
            f"CAST(array_max(transform({v}, _qx -> abs(CAST(_qx AS DOUBLE)))) "
            f"/ CAST('127.0' AS DOUBLE) AS DOUBLE)"
        ),
    )
    codes = F.expr(
        f"transform({v}, _qx -> CAST(CASE WHEN {sc} > 0 "
        f"THEN round(CAST(_qx AS DOUBLE) / {sc}, 0) "
        f"ELSE CAST(0 AS DOUBLE) END AS TINYINT))"
    )
    return with_scale.withColumn(codes_col, codes)


def dequantize_embedding(codes: Column, scale: Column) -> Column:
    """Reconstruct an approximate float vector: ``codes_i * scale`` as
    array<double>."""
    return F.transform(codes, lambda c: c.cast("double") * scale)


def quantized_topk(
    queries: DataFrame,
    candidates: DataFrame,
    query_id: str = "query_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    shortlist_mult: int = 4,
    rerank: bool = True,
    strategy: str = "auto",
    candidate_codes: DataFrame | None = None,
    exact_decimal: bool = False,
) -> DataFrame:
    """Cosine top-k over int8-quantized candidates, optionally re-ranked
    exactly: the standard two-stage ANN shape (coarse int8 scan →
    full-precision re-rank of a small shortlist).

    Output matches ``brute_force_topk``: (query_id, rank, cand_id,
    cosine) with the (cosine desc, cand_id asc) determinism contract.
    With ``rerank=True`` the returned cosines are FULL-precision floats
    recomputed for the ``shortlist_mult × k`` quantized shortlist — the
    int8 pass decides only who reaches the re-ranker, so quantization can
    cost recall (a true neighbor missing the shortlist) but never scores.
    With ``rerank=False`` the cosines are the quantized estimates.

    ``strategy="numpy"`` ships the int8 code arrays through Arrow (1
    byte/dim on the wire — the point of SQ8) and upcasts inside the BLAS
    block scorer; ``"expr"`` keeps everything in JVM expressions (codes
    cast to double for the interpreted HOF dot — the oracle-capable
    path).  The scale columns never enter the scoring plan: per-vector
    scales cancel in cosine.

    Pass ``candidate_codes`` (a persisted ``quantize_embeddings`` output
    with ``(cand_id, q_codes)``) to amortize quantization across queries —
    the production shape: the int8 index is written ONCE (4× smaller than
    the float table, so the coarse scan reads 4× fewer bytes) and only
    the shortlist re-rank touches full-precision vectors.
    """
    if shortlist_mult < 1:
        raise ValueError(f"shortlist_mult must be >= 1, got {shortlist_mult}")
    if strategy == "auto":
        # gate on the frame the coarse scan actually reads: the persisted
        # int8 index when supplied, the raw candidates otherwise
        strategy = _auto_strategy(
            exact_decimal,
            candidate_codes if candidate_codes is not None else candidates,
            BLAS_MIN_BYTES_TOPK,
        )
    if exact_decimal and strategy != "expr":
        raise ValueError("exact_decimal requires strategy='expr'")
    qq = quantize_embeddings(queries, vec_col).select(
        query_id, F.col("q_codes").alias("_qc")
    )
    cq = (
        candidate_codes.select(cand_id, F.col("q_codes").alias("_qc"))
        if candidate_codes is not None
        else quantize_embeddings(candidates, vec_col).select(
            cand_id, F.col("q_codes").alias("_qc")
        )
    )
    shortlist_k = shortlist_mult * k if rerank else k
    if strategy == "numpy":
        approx = _brute_force_topk_numpy(
            qq, cq, query_id, cand_id, "_qc", shortlist_k
        )
    elif strategy == "expr":
        approx = brute_force_topk(
            qq.withColumn("_qc", F.col("_qc").cast("array<double>")),
            cq.withColumn("_qc", F.col("_qc").cast("array<double>")),
            query_id,
            cand_id,
            "_qc",
            shortlist_k,
            exact_decimal=False,
            strategy="expr",
        )
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    if not rerank:
        return approx
    # full-precision re-rank of the shortlist pairs: broadcast the tiny
    # pair list into the candidate probe, then the (broadcast) query side
    pairs = F.broadcast(approx.select(query_id, cand_id))
    cvec = candidates.select(cand_id, F.col(vec_col).alias("_cv"))
    qvec = F.broadcast(queries.select(query_id, F.col(vec_col).alias("_qv")))
    # exact_decimal: decimal-exact rerank cosines (order-independent,
    # hash-stable vs a SQL oracle) — the declared x25 query's mode, in the
    # round-11 micro-unit formulation (bit-identical to cosine_exact, see
    # vector.dot_units_sql: num/den built from the same quantization, norms
    # hoisted per shortlist row instead of re-derived per cosine_exact
    # evaluation); the production default keeps the double fast path.
    if exact_decimal:
        joined = (
            cvec.join(pairs, cand_id)
            .join(qvec, query_id)
            .withColumn("_cu", F.expr(V.units_arr_sql("_cv")))
            .withColumn("_qu", F.expr(V.units_arr_sql("_qv")))
        )
        den = (
            f"SQRT((CAST({V.norm2_units_sql('_qu')} AS DOUBLE) "
            f"* CAST({V.norm2_units_sql('_cu')} AS DOUBLE)))"
        )
        scored = joined.select(
            query_id,
            cand_id,
            F.expr(
                f"round(CASE WHEN {den} > 0 THEN "
                f"CAST({V.dot_units_sql('_qu', '_cu')} AS DOUBLE) / {den} END, 6)"
            ).alias("cosine"),
        )
    else:
        scored = (
            cvec.join(pairs, cand_id)
            .join(qvec, query_id)
            .select(
                query_id,
                cand_id,
                F.expr(f"round({V.cosine_sql('_qv', '_cv')}, 6)").alias(
                    "cosine"
                ),
            )
        )
    return _finalize_topk(scored, query_id, cand_id, k)
