"""SQL-function surface tests: vs_* functions match an independent
pure-Python float64 reference byte for byte, including edge cases."""

from __future__ import annotations

import struct

import pytest

from tests.distance_ref import ref
from vectorsearch_spark.functions.sql import register_sql_functions

VECS = [
    ([1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
    ([0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),   # zero-norm guard
    ([-1.5, 2.5, 0.5], [0.25, -0.75, 4.0]),
]


@pytest.fixture(scope="module")
def vdf(spark):
    register_sql_functions(spark)
    df = spark.createDataFrame(VECS, "a array<float>, b array<float>")
    df.createOrReplaceTempView("vs_test_vectors")
    return df


def test_sql_matches_python_reference(spark, vdf):
    via_sql = spark.sql(
        "SELECT a, b, vs_l2(a,b) AS l2, vs_l2_squared(a,b) AS l2_squared, "
        "vs_dot(a,b) AS dot, vs_norm(a) AS norm, vs_cosine(a,b) AS cosine, "
        "vs_cosine_distance(a,b) AS cosine_distance FROM vs_test_vectors"
    ).collect()
    assert len(via_sql) == len(VECS)
    for row in via_sql:
        for op in ("l2", "l2_squared", "dot", "norm", "cosine", "cosine_distance"):
            want = ref(op, row["a"], row["b"])
            assert struct.pack("<d", row[op]) == struct.pack("<d", want), op


def test_zero_norm_cosine_is_zero(spark, vdf):
    rows = spark.sql(
        "SELECT vs_cosine(a,b) AS c FROM vs_test_vectors WHERE vs_norm(a) = 0"
    ).collect()
    assert rows and rows[0]["c"] == 0.0


def test_registration_idempotent(spark, vdf):
    names = register_sql_functions(spark)
    assert "vs_l2" in names and len(names) == 6


def test_floatpack_roundtrip_bitexact(spark):
    """C11 FloatPacker (util/FloatPacker.java:22-40): pack → unpack is
    the float32 identity (bit-exact, incl. negatives/inf/denormals and
    NULL passthrough) through a real Spark plan."""
    import math

    import numpy as np

    from vectorsearch_spark.functions.floatpack import pack_floats, unpack_floats

    rng = np.random.default_rng(4)
    vals = [
        rng.normal(size=16).astype(np.float32),
        np.array([0.0, -0.0, np.inf, -np.inf, 1e-42, -1e-42, 3.14, -2.5e8],
                 dtype=np.float32),
    ]
    rows = [(i, v.tolist()) for i, v in enumerate(vals)] + [(99, None)]
    df = spark.createDataFrame(rows, "id long, embedding array<float>")
    back = {
        r["id"]: r["back"]
        for r in df.select(
            "id", unpack_floats(pack_floats("embedding")).alias("back")
        ).collect()
    }
    for i, v in enumerate(vals):
        got = np.asarray(back[i], dtype=np.float32)
        assert got.tobytes() == v.tobytes()  # bit-exact, NaN-safe compare
    assert back[99] is None
    assert math.isinf(back[1][2])
    # packed bytes are the exact LE-float32 layout (wire-compatible
    # with the reference's FloatPacker output)
    raw = {
        r["id"]: bytes(r["p"])
        for r in df.where("id < 2").select("id", pack_floats("embedding").alias("p")).collect()
    }
    for i, v in enumerate(vals):
        assert raw[i] == v.astype("<f4").tobytes()


def test_reregistration_replaces_foreign_definition(spark, vdf):
    """A same-named function someone ELSE registered is replaced with
    the canonical definition on the next register call (r13 ADVICE):
    the skip is keyed on sessions this module registered, not on bare
    functionExists."""
    from vectorsearch_spark.functions import sql as sqlmod

    # Spark will not replace a Python UDF with a SQL function in place
    spark.sql("DROP TEMPORARY FUNCTION IF EXISTS vs_norm")
    spark.sql(
        "CREATE TEMPORARY FUNCTION vs_norm(a ARRAY<FLOAT>) "
        "RETURNS DOUBLE RETURN -1D"
    )
    sqlmod._REGISTERED_SESSIONS.discard(spark)  # a fresh library sees a stale fn
    register_sql_functions(spark)
    got = spark.sql("SELECT vs_norm(array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))) AS n").collect()
    assert got[0]["n"] == 5.0
