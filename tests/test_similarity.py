"""Similarity-search operator tests: exact correctness + LSH recall."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from r_e_hive__spark.catalog import load_table
from r_e_hive__spark.operators import similarity as S
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def embeddings(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


def _cos(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(y * y for y in b))
    return dot / (na * nb)


def test_brute_force_topk_matches_numpy(spark, embeddings):
    sample = embeddings.where(F.col("vec_id") < 50).collect()
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in sample}
    queries = embeddings.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cands = embeddings.where(F.col("vec_id") < 50)
    got = S.brute_force_topk(queries, cands, k=5, exact_decimal=False).collect()
    for qid in (0, 1):
        expect = sorted(
            ((round(_cos(vecs[qid], v), 6), cid) for cid, v in vecs.items()),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        got_q = sorted(
            [(r["rank"], r["vec_id"]) for r in got if r["query_id"] == qid]
        )
        assert [cid for _, cid in got_q] == [cid for _, cid in expect]


def test_ivf_topk_subset_of_bucket(spark, embeddings):
    queries = embeddings.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    got = S.ivf_topk(queries, embeddings, "label", k=5).collect()
    labels = {r["vec_id"]: r["label"] for r in embeddings.collect()}
    qlabels = {r["query_id"]: r["label"] for r in queries.collect()}
    for r in got:
        assert labels[r["vec_id"]] == qlabels[r["query_id"]]


def test_lsh_pairs_verified_exact(spark, embeddings):
    """Every emitted pair must genuinely clear the cosine threshold (the
    exact-verification step removes LSH false positives)."""
    small = embeddings.where(F.col("vec_id") < 200)
    pairs = S.lsh_neighbor_pairs(
        small, cosine_threshold=0.25, n_planes=16, bands=4
    ).collect()
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in small.collect()}
    for r in pairs:
        assert round(_cos(vecs[r["id_a"]], vecs[r["id_b"]]), 4) >= 0.25 - 1e-4


def test_lsh_pairs_identical_to_legacy_shape(spark, embeddings):
    """Result-identity pin for the VERDICT-r8-item-1 shuffle fix: the
    first-matching-band emission (no pair-level dedup exchange) must produce
    exactly the pairs+cosines of the legacy shape (band join ->
    dropDuplicates on wide vector-carrying rows -> verify)."""
    small = embeddings.where(F.col("vec_id") < 300)
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in S.lsh_neighbor_pairs(
            small, cosine_threshold=0.25, n_planes=16, bands=4
        ).collect()
    }
    # Legacy shape, inlined: same bucketing, wide dedup-then-verify.
    from r_e_hive__spark.functions.vector import cosine_sql
    from r_e_hive__spark.operators.similarity import hyperplane_bucket

    r_bits = 16 // 4
    with_bucket = small.select(
        "vec_id",
        "embedding",
        hyperplane_bucket("embedding", 64, 16).alias("_bucket"),
    )
    chunks = with_bucket.select(
        "vec_id",
        "embedding",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("_bucket"), r_bits * i).bitwiseAND(
                        F.lit((1 << r_bits) - 1)
                    )
                    for i in range(4)
                ]
            )
        ).alias("band_id", "chunk"),
    )
    a = chunks.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("_va"),
        "band_id",
        "chunk",
    )
    b = chunks.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("_vb"),
        "band_id",
        "chunk",
    )
    legacy = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in (
            a.join(b, ["band_id", "chunk"])
            .where(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
            .withColumn(
                "cosine",
                F.round(F.expr(cosine_sql("_va", "_vb")), 6),
            )
            .where(F.col("cosine") >= 0.25)
            .select("id_a", "id_b", "cosine")
        ).collect()
    }
    assert got == legacy
    assert len(got) > 0  # non-vacuous at this threshold


# ---------------------------------------------------------------------------
# learned-quantizer IVF (kmeans)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def clustered(spark):
    """A genuinely clusterable corpus: 10 well-separated unit centers (one-hot
    blocks + small deterministic jitter).  The driver's embeddings table is
    uniform-random (no quantizer can recall well there); THIS is the shape a
    real embedding corpus has and what the recall bound is asserted on."""
    import random

    rng = random.Random(7)
    dim, per = 64, 40
    rows = []
    for c in range(10):
        base = [0.0] * dim
        for i in range(6):  # a 6-dim block per cluster, non-overlapping-ish
            base[(c * 6 + i) % dim] = 1.0
        for j in range(per):
            v = [x + rng.uniform(-0.15, 0.15) for x in base]
            n = math.sqrt(sum(x * x for x in v))
            rows.append((c * per + j, [x / n for x in v]))
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")


def test_ivf_kmeans_recall_on_clustered_corpus(spark, clustered):
    """VERDICT round-2 item 7: learned-centroid IVF must reach recall >= 0.9
    vs exact brute force (it reaches 1.0 on a separable corpus)."""
    queries = clustered.where(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in S.brute_force_topk(queries, clustered, k=10).collect()
    }
    got = {
        (r["query_id"], r["vec_id"])
        for r in S.ivf_kmeans_topk(
            queries, clustered, k=10, n_clusters=10, n_probe=2
        ).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, recall


def test_ivf_kmeans_prunes_but_stays_consistent(spark, clustered):
    """Every IVF hit must be a real candidate from a probed bucket with a
    correctly computed cosine: cross-check scores against brute force."""
    cents = S.kmeans_centroids(clustered, n_clusters=10)
    assert len(cents) == 10
    for c in cents:  # unit-normalized
        assert abs(sum(x * x for x in c) - 1.0) < 1e-9
    queries = clustered.where(F.col("vec_id") < 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = {
        (r["query_id"], r["vec_id"]): r["cosine"]
        for r in S.brute_force_topk(
            queries, clustered, k=400, exact_decimal=False
        ).collect()
    }
    for r in S.ivf_kmeans_topk(
        queries, clustered, k=10, centroids=cents, n_probe=2
    ).collect():
        assert bf[(r["query_id"], r["vec_id"])] == r["cosine"]


def test_kmeans_centroids_deterministic(spark, clustered):
    """Single-partition sample + fixed seed => bit-reproducible fit (the
    frozen _ivf_centroids.py literal depends on this)."""
    a = S.kmeans_centroids(clustered, n_clusters=5)
    b = S.kmeans_centroids(clustered, n_clusters=5)
    assert a == b


def test_hyperplane_bucket_null_vector_passes_through(spark):
    """Code-review r4: a NULL embedding row buckets to 0 (pre-guard
    behavior) instead of failing the whole query via assert_true."""
    from pyspark.sql import functions as F

    from r_e_hive__spark.operators.similarity import hyperplane_bucket

    df = spark.createDataFrame(
        [(1, [float(i) for i in range(8)]), (2, None)],
        "vec_id long, embedding array<double>",
    )
    rows = {
        r["vec_id"]: r["b"]
        for r in df.select(
            "vec_id",
            hyperplane_bucket("embedding", dim=8, n_planes=4).alias("b"),
        ).collect()
    }
    assert rows[2] == 0
    assert isinstance(rows[1], int)


def test_brute_force_numpy_strategy_matches_expr(spark):
    """The BLAS scan strategy must reproduce the expr path's ranking
    exactly (same rounded cosines, same tie-break) on the smoke corpus."""
    from pyspark.sql import functions as F

    from r_e_hive__spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    queries = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(k=10, exact_decimal=False)
    expr_rows = sorted(
        map(tuple, brute_force_topk(queries, emb, **kw).collect())
    )
    np_rows = sorted(
        map(
            tuple,
            brute_force_topk(queries, emb, strategy="numpy", **kw).collect(),
        )
    )
    assert np_rows == expr_rows and len(np_rows) > 0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        brute_force_topk(queries, emb, strategy="numpy", exact_decimal=True)


def test_brute_force_zero_vector_null_not_error(spark):
    """A zero-norm vector has no direction: BOTH strategies omit it from
    the ranking (it scores NULL and is unrankable) rather than raising
    ANSI DIVIDE_BY_ZERO or padding trailing ranks — the unified contract
    from the round-5 review (the expr path previously kept NULL-cosine
    rows when k exceeded the scoreable candidates)."""
    from pyspark.sql import Row, functions as F

    from r_e_hive__spark.operators.similarity import brute_force_topk

    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0]),
        Row(vec_id=1, embedding=[0.8, 0.6]),
        Row(vec_id=2, embedding=[0.0, 0.0]),  # zero vector
    ]
    emb = spark.createDataFrame(rows)
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    for strat in ("expr", "numpy"):
        out = brute_force_topk(
            q, emb, k=3, exact_decimal=False, strategy=strat
        ).collect()
        assert {r.vec_id: r.rank for r in out} == {0: 1, 1: 2}, strat


def test_ivf_numpy_strategy_matches_expr(spark):
    """The bucketed BLAS strategy must reproduce the expr IVF path's
    ranking exactly (same probes, same partial-top-k order)."""
    from pyspark.sql import functions as F

    from r_e_hive__spark.operators.similarity import (
        assign_centroid,
        ivf_topk,
        probe_centroids,
    )
    from r_e_hive__spark.queries._ivf_centroids import _IVF_CENTROIDS

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    cand = emb.withColumn(
        "bucket", assign_centroid("embedding", _IVF_CENTROIDS)
    )
    q = (
        emb.where(F.col("vec_id") < 4)
        .select(
            F.col("vec_id").alias("query_id"),
            "embedding",
            F.explode(
                probe_centroids("embedding", _IVF_CENTROIDS, 2)
            ).alias("bucket"),
        )
    )
    kw = dict(k=10, exact_decimal=False)
    expr_rows = sorted(
        map(tuple, ivf_topk(q, cand, "bucket", **kw).collect())
    )
    np_rows = sorted(
        map(tuple, ivf_topk(q, cand, "bucket", strategy="numpy", **kw).collect())
    )
    assert np_rows == expr_rows and len(np_rows) > 0


def test_numpy_topk_empty_queries_matches_expr(spark):
    """Both strategies return an EMPTY frame (same schema) for an empty
    query set — switching strategies must not change the empty-input
    contract."""
    from pyspark.sql import functions as F

    from r_e_hive__spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    q = emb.where(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    for strat in ("expr", "numpy"):
        out = brute_force_topk(
            q, emb, k=5, exact_decimal=False, strategy=strat
        )
        assert out.count() == 0
        assert out.columns == ["query_id", "rank", "vec_id", "cosine"]


def test_persisted_ivf_index_partition_pruned_search(spark, clustered, tmp_path):
    """save_ivf_index + ivf_search: the persisted layout the IVF docstrings
    promise.  Results must equal the inline ivf_kmeans_topk on the SAME
    frozen centroids, and the probe must reach the SCAN as a
    PartitionFilters entry on _ivf_bucket (the X23 pushed-IN-list
    discipline) — never a full index read."""
    cents = S.kmeans_centroids(clustered, n_clusters=10, sample_limit=400)
    path = str(tmp_path / "ivf_index")
    S.save_ivf_index(clustered, path, cents)
    queries = clustered.where(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got_df = S.ivf_search(
        queries, path, cents, k=5, n_probe=2, strategy="expr"
    )
    got = {(r["query_id"], r["rank"], r["vec_id"]) for r in got_df.collect()}
    want = {
        (r["query_id"], r["rank"], r["vec_id"])
        for r in S.ivf_kmeans_topk(
            queries, clustered, k=5, n_probe=2, centroids=cents
        ).collect()
    }
    assert got == want and len(got) == 10 * 5
    # partition pruning reached the physical scan
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters")[1][:300]
    assert "_ivf_bucket" in pf, pf
    # and the directory layout is really bucket-partitioned
    import os

    assert any(d.startswith("_ivf_bucket=") for d in os.listdir(path)), (
        os.listdir(path)
    )


def _hyperplane_bucket_py(v, dim, n_planes, planes, exact):
    """Pure-Python hyperplane bucket: bit p set iff the projection on plane
    p is > 0.  Exact mode projects HALF_UP micro-units onto the integer
    planes in exact integer arithmetic; the double modes fold IEEE doubles
    left to right in array order (sin directions: sin(p·1009 + i·9973)).
    Returns (bucket, bits whose double projection is within 1e-9 of 0):
    JVM Math.sin may differ from libm in the last ulp, so a sign that close
    to the boundary is not a stable reference."""
    from tests.test_vector_units import units_py

    if v is None:
        return 0, set()
    bucket, fragile = 0, set()
    for p in range(n_planes):
        if exact:
            proj = sum(units_py(x) * int(c) for x, c in zip(v, planes[p]))
        else:
            proj = 0.0
            for i, x in enumerate(v):
                c = float(planes[p][i]) if planes else math.sin(p * 1009 + i * 9973)
                proj = proj + float(x) * c
            if abs(proj) < 1e-9:
                fragile.add(p)
        if proj > 0:
            bucket |= 1 << p
    return bucket, fragile


def test_hyperplane_bucket_matches_python_reference(spark):
    """hyperplane_bucket in all three modes (frozen-planes exact,
    frozen-planes double, default sin directions) against a pure-Python
    sign computation, including a NULL vector (bucket 0: the NULL
    projection sets no bit)."""
    from r_e_hive__spark.operators.similarity import hyperplane_bucket
    from r_e_hive__spark.queries._lsh_planes import _LSH_PLANES

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(200)
    )
    dim = len(_LSH_PLANES[0])
    null_row = spark.createDataFrame(
        [(999_999, None)], emb.schema
    )
    df = emb.unionByName(null_row)
    cases = [
        dict(planes=_LSH_PLANES, exact=True),
        dict(planes=_LSH_PLANES, exact=False),
        dict(planes=None, exact=False),
    ]
    rows = df.select(
        "vec_id",
        "embedding",
        *[
            hyperplane_bucket("embedding", dim, 16, **kw).alias(f"b{j}")
            for j, kw in enumerate(cases)
        ],
    ).collect()
    assert len(rows) == 201
    for j, kw in enumerate(cases):
        buckets = set()
        for r in rows:
            want, fragile = _hyperplane_bucket_py(r["embedding"], dim, 16, **kw)
            mask = ~sum(1 << p for p in fragile)
            assert r[f"b{j}"] & mask == want & mask, (r["vec_id"], kw)
            buckets.add(r[f"b{j}"])
        assert len(buckets) > 10, kw  # non-vacuous: real sign patterns


def test_hyperplane_bucket_sql_guard_still_raises(spark):
    from r_e_hive__spark.operators.similarity import hyperplane_bucket
    from r_e_hive__spark.queries._lsh_planes import _LSH_PLANES

    dim = len(_LSH_PLANES[0])
    df = spark.createDataFrame([(1, [0.5, 0.25])], "vec_id LONG, embedding ARRAY<DOUBLE>")
    try:
        df.select(
            hyperplane_bucket("embedding", dim, 16, planes=_LSH_PLANES, exact=False)
        ).collect()
    except Exception as exc:
        assert "vector dim" in str(exc)
    else:
        raise AssertionError("dimension guard did not fire on the SQL path")


def test_bq_dotted_and_backtick_identifiers():
    """ADVICE-r11 pin: functions.ident_sql (formerly similarity._bq)
    renders str column args with F.col semantics — dots separate
    nested-field path segments, embedded backticks are doubled per segment
    (no identifier breakout) — and refuses anything but a str."""
    from r_e_hive__spark.functions import ident_sql

    assert ident_sql("embedding") == "`embedding`"
    assert ident_sql("s.embedding") == "`s`.`embedding`"
    assert ident_sql("we`ird") == "`we``ird`"
    assert ident_sql("a.b`c") == "`a`.`b``c`"
    with pytest.raises(TypeError, match="column name"):
        ident_sql(42)


def test_column_arguments_raise_type_error(spark):
    """The name-taking expression builders refuse a Column with a plain
    TypeError (a Column reaching str.split would otherwise fail as an
    opaque "'Column' object is not callable")."""
    from r_e_hive__spark.functions import ident_sql
    from r_e_hive__spark.operators.similarity import (
        assign_centroid,
        hyperplane_bucket,
    )

    with pytest.raises(TypeError, match="column name"):
        ident_sql(F.col("embedding"))
    with pytest.raises(TypeError, match="column name"):
        hyperplane_bucket(F.col("embedding"), dim=8, n_planes=4)
    with pytest.raises(TypeError, match="column name"):
        assign_centroid(F.col("embedding"), [[1.0, 0.0]])


def test_brute_force_topk_nested_struct_vec_col(spark, embeddings):
    """A dotted vec_col must resolve as a nested struct field (the
    pre-round-11 F.col contract of the str-typed signatures) and return
    the same top-k as the flat column."""
    import pyspark.sql.functions as F

    from r_e_hive__spark.operators import similarity as S

    flat_q = embeddings.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    flat_c = embeddings.where(F.col("vec_id") < 50)
    nested_q = flat_q.select(
        "query_id", F.struct(F.col("embedding")).alias("s")
    )
    nested_c = flat_c.select(
        "vec_id", F.struct(F.col("embedding")).alias("s")
    )
    want = sorted(
        (r["query_id"], r["rank"], r["vec_id"])
        for r in S.brute_force_topk(
            flat_q, flat_c, k=5, exact_decimal=False, strategy="expr"
        ).collect()
    )
    got = sorted(
        (r["query_id"], r["rank"], r["vec_id"])
        for r in S.brute_force_topk(
            nested_q,
            nested_c,
            k=5,
            vec_col="s.embedding",
            exact_decimal=False,
            strategy="expr",
        ).collect()
    )
    assert got == want
