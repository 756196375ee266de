"""Value pins for functions/vector.py's SQL renderers, each against an
independent reference: the integer-units exact path (units_arr_sql /
dot_units_sql / norm2_units_sql / units_lit_sql) must be BIT-IDENTICAL to
the decimal reference (dot_exact / norm2_exact) and to pure-Python HALF_UP
micro-units; the double path (dot_sql / norm_sql / cosine_sql) must equal a
pure-Python left-to-right double fold with Spark's NULL semantics.  The
declared x3/x17/x25/x4 oracles verify the same expressions end-to-end on
the fixture corpus; these tests pin the edge classes the corpus does not
contain (NULL vectors, NULL elements, length mismatches, empty arrays, zero
vectors, half-ulp rounding boundaries, sign of zero, large magnitudes near
the documented bound)."""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import functions as F

from r_e_hive__spark.functions import vector as V

ADVERSARIAL = [
    # (id, vector)
    (0, [0.1, -0.2, 0.3]),
    (1, [1.0, 1.0, 1.0]),
    (2, [0.0, 0.0, 0.0]),                      # zero vector
    (3, None),                                  # NULL vector
    (4, [0.5, None, 0.25]),                     # NULL element
    (5, [0.0000005, -0.0000005, 0.00000049]),   # half-ulp-at-6dp boundary
    (6, [1 / 3, -2 / 3, 2 / 7]),                # non-terminating binary
    (7, [-0.0, 0.0, -0.0]),                     # signed zeros
    (8, [300.123456, -299.999999, 123.4567891]),  # large but in-bound
    (9, [1e-7, -1e-7, 9.9e-7]),                 # sub-quantum values
    (10, [0.5, 0.25]),                          # short (length mismatch)
    (11, []),                                   # empty
]


def _frame(spark):
    return spark.createDataFrame(
        ADVERSARIAL, "id BIGINT, v ARRAY<DOUBLE>"
    )


def units_py(x: float | None) -> int | None:
    """Pure-Python micro-units of one element: the double -> decimal(12,6)
    cast rounds HALF_UP, then x10^6 is exact."""
    if x is None:
        return None
    q = Decimal(repr(float(x))).quantize(Decimal("0.000001"), ROUND_HALF_UP)
    return int(q.scaleb(6))


def _zip_padded(a, b):
    """zip_with semantics: the shorter array is padded with NULLs."""
    n = max(len(a), len(b))
    return [
        (a[i] if i < len(a) else None, b[i] if i < len(b) else None)
        for i in range(n)
    ]


def dot_py(a, b) -> float | None:
    """Left-to-right double fold from 0.0; any NULL operand (NULL vector,
    NULL element, zip_with padding) makes the product and therefore the
    whole fold NULL."""
    if a is None or b is None:
        return None
    acc = 0.0
    for x, y in _zip_padded(a, b):
        if x is None or y is None:
            return None
        acc = acc + float(x) * float(y)
    return acc


def norm_py(a) -> float | None:
    d = dot_py(a, a)
    return None if d is None else math.sqrt(d)


def cosine_py(a, b) -> float | None:
    """NULL for a zero (or NULL) denominator, like cosine_sql."""
    na, nb, d = norm_py(a), norm_py(b), dot_py(a, b)
    if na is None or nb is None:
        return None
    den = na * nb
    return d / den if den > 0 else None


def _same(x, y) -> bool:
    """Bitwise float equality (repr distinguishes -0.0), NULL == NULL."""
    return repr(x) == repr(y)


def test_dot_units_bit_identical_to_dot_exact(spark):
    df = _frame(spark)
    a = df.select(F.col("id").alias("ia"), F.col("v").alias("va"))
    b = df.select(F.col("id").alias("ib"), F.col("v").alias("vb"))
    units = V.dot_units_sql(V.units_arr_sql("va"), V.units_arr_sql("vb"))
    pairs = a.crossJoin(b).select(
        "ia",
        "ib",
        V.dot_exact(F.col("va"), F.col("vb")).alias("spec"),
        F.expr(units).alias("units"),
        V.dot_exact(F.col("va"), F.col("vb")).cast("double").alias("spec_d"),
        F.expr(f"CAST({units} AS DOUBLE)").alias("units_d"),
    )
    rows = pairs.collect()
    assert len(rows) == len(ADVERSARIAL) ** 2
    for r in rows:
        assert r["spec"] == r["units"], (r["ia"], r["ib"], r["spec"], r["units"])
        # the terminal double must match BITWISE (repr distinguishes -0.0)
        assert repr(r["spec_d"]) == repr(r["units_d"]), (r["ia"], r["ib"])


def test_dot_units_type_matches_spec(spark):
    df = _frame(spark)
    out = df.select(
        V.dot_exact(F.col("v"), F.col("v")).alias("spec"),
        F.expr(V.norm2_units_sql(V.units_arr_sql("v"))).alias("units"),
    )
    spec_t = dict(out.dtypes)["spec"]
    units_t = dict(out.dtypes)["units"]
    assert spec_t == "decimal(38,12)"
    assert units_t == "decimal(38,12)"


def test_units_lit_matches_data_side_quantization(spark):
    """units_lit_sql (one parsed SQL literal per frozen vector) must
    quantize exactly like units_arr_sql applied to the same values arriving
    as data — otherwise centroid assignment could diverge from the oracle's
    replay."""
    vals = [0.1, -0.2, 1 / 3, 0.0000005, -0.0000005, 1e-7, 300.1234565, -0.0]
    df = spark.createDataFrame([(vals,)], "v ARRAY<DOUBLE>")
    r = df.select(
        F.expr(V.units_lit_sql(vals)).alias("lit"),
        F.expr(V.units_arr_sql("v")).alias("data"),
    ).collect()[0]
    assert list(r["lit"]) == list(r["data"])


def test_sql_renderers_match_references(spark):
    """Every vector renderer on the adversarial frame against its
    independent reference: the unit arrays against pure-Python HALF_UP
    micro-units, the units dot/norm² against the dot_exact/norm2_exact
    decimal reference, and the double dot/norm/cosine against the
    pure-Python double fold (bitwise)."""
    df = _frame(spark).withColumn("w", F.reverse(F.col("v")))
    ua, uw = V.units_arr_sql("v"), V.units_arr_sql("w")
    rows = df.select(
        "v",
        "w",
        F.expr(ua).alias("u"),
        F.expr(V.dot_units_sql(ua, uw)).alias("dot_u"),
        V.dot_exact(F.col("v"), F.col("w")).alias("dot_x"),
        F.expr(V.norm2_units_sql(ua)).alias("n2_u"),
        V.norm2_exact(F.col("v")).alias("n2_x"),
        F.expr(V.dot_sql("v", "w")).alias("dot"),
        F.expr(V.norm_sql("v")).alias("norm"),
        F.expr(V.cosine_sql("v", "w")).alias("cos"),
    ).collect()
    for r in rows:
        v, w = r["v"], r["w"]
        want_u = None if v is None else [units_py(x) for x in v]
        assert (None if r["u"] is None else list(r["u"])) == want_u, v
        assert r["dot_u"] == r["dot_x"], v
        assert r["n2_u"] == r["n2_x"], v
        assert _same(r["dot"], dot_py(v, w)), (v, r["dot"])
        assert _same(r["norm"], norm_py(v)), (v, r["norm"])
        assert _same(r["cos"], cosine_py(v, w)), (v, r["cos"])
    # non-vacuous: the zero vector's cosine is NULL, a real one is not
    by_v = {repr(r["v"]): r["cos"] for r in rows}
    assert by_v[repr([0.0, 0.0, 0.0])] is None
    assert by_v[repr([1.0, 1.0, 1.0])] is not None


def test_units_lit_sql_and_lit_vec_sql_match_lits(spark):
    vals = [0.1, -1 / 3, 0.0, 1e-7, -0.0, 300.123456]
    df = spark.range(1)
    row = df.select(
        F.expr(V.units_lit_sql(vals)).alias("u_sql"),
        F.expr(V.lit_vec_sql(vals)).alias("d_sql"),
        F.array(*[F.lit(float(x)) for x in vals]).alias("d_col"),
    ).collect()[0]
    assert list(row["u_sql"]) == [units_py(x) for x in vals]
    assert row["d_sql"] == row["d_col"]


def test_centroid_scores_match_references(spark):
    """_centroid_scores in both modes against independent references:
    exact scores equal dot_exact(v, centroid) as double, double scores the
    pure-Python fold — including NULL vectors and zero vectors (the
    dimension guard is exercised separately)."""
    from r_e_hive__spark.operators.similarity import _centroid_scores

    cents = [[0.1, -0.2, 0.3], [1 / 3, 0.25, -0.5], [0.0, 0.0, 1.0]]
    ok = [r for r in ADVERSARIAL if r[1] is None or len(r[1]) == 3]
    df = spark.createDataFrame(ok, "id BIGINT, v ARRAY<DOUBLE>")
    exact_ref = [
        V.dot_exact(F.col("v"), F.array(*[F.lit(float(x)) for x in c]))
        .cast("double")
        .alias(f"x{j}")
        for j, c in enumerate(cents)
    ]
    rows = df.select(
        "id",
        "v",
        _centroid_scores("v", cents, False).alias("d"),
        _centroid_scores("v", cents, True).alias("e"),
        *exact_ref,
    ).collect()
    assert len(rows) == len(ok)
    for r in rows:
        for j, c in enumerate(cents):
            assert r["d"][j]["idx"] == j and r["e"][j]["idx"] == j
            assert _same(r["d"][j]["score"], dot_py(r["v"], c)), (r["id"], j)
            assert _same(r["e"][j]["score"], r[f"x{j}"]), (r["id"], j)


def test_centroid_scores_sql_guard_still_raises(spark):
    from pyspark.sql.utils import AnalysisException

    from r_e_hive__spark.operators.similarity import _centroid_scores

    cents = [[0.1, -0.2, 0.3]]
    df = spark.createDataFrame([(10, [0.5, 0.25])], "id BIGINT, v ARRAY<DOUBLE>")
    for exact in (False, True):
        try:
            df.select(_centroid_scores("v", cents, exact).alias("s")).collect()
        except Exception as exc:  # SparkRuntimeException wraps assert_true
            assert "centroid dimension" in str(exc)
        else:
            raise AssertionError(f"dimension guard did not fire (exact={exact})")


def test_quantize_embeddings_sql_matches_spec(spark):
    """quantize_embeddings' parsed expressions vs the original Column
    construction, replayed inline."""
    from r_e_hive__spark.operators.similarity import quantize_embeddings

    df = _frame(spark)
    got = quantize_embeddings(df, "v").select("id", "q_scale", "q_codes")
    amax = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x.cast("double"))))
    with_scale = df.withColumn("e_scale", (amax / F.lit(127.0)).cast("double"))
    codes = F.transform(
        F.col("v"),
        lambda x: F.when(
            F.col("e_scale") > 0, F.round(x.cast("double") / F.col("e_scale"), 0)
        )
        .otherwise(F.lit(0.0))
        .cast("tinyint"),
    )
    want = with_scale.withColumn("e_codes", codes).select("id", "e_scale", "e_codes")
    g = {r["id"]: (r["q_scale"], r["q_codes"]) for r in got.collect()}
    w = {r["id"]: (r["e_scale"], r["e_codes"]) for r in want.collect()}
    assert g == w
