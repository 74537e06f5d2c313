"""Unit tests for distance expressions vs NumPy oracles — mirrors
util/DistancesTest.java (exact values, squared-vs-sqrt consistency,
odd dims)."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tests.distance_ref import BINARY, UNARY, ref
from vectorsearch_spark.config import Metric
from vectorsearch_spark.functions import (
    cosine,
    distance_for_metric,
    dot,
    l2,
    l2_squared,
    norm,
    normalize,
)
from vectorsearch_spark.functions.sql import register_sql_functions

DIMS = [1, 2, 3, 7, 8, 16, 33, 64]


def _pairs_df(spark, dim: int, n: int = 8, seed: int = 42):
    rng = np.random.default_rng(seed)
    a = rng.normal(size=(n, dim)).astype(np.float32)
    b = rng.normal(size=(n, dim)).astype(np.float32)
    schema = T.StructType(
        [
            T.StructField("a", T.ArrayType(T.FloatType()), False),
            T.StructField("b", T.ArrayType(T.FloatType()), False),
        ]
    )
    df = spark.createDataFrame(
        [(row_a.tolist(), row_b.tolist()) for row_a, row_b in zip(a, b)], schema
    )
    return df, a.astype(np.float64), b.astype(np.float64)


@pytest.mark.parametrize("dim", DIMS)
def test_l2_dot_cosine_match_numpy(spark, dim):
    df, a, b = _pairs_df(spark, dim)
    rows = df.select(
        l2("a", "b").alias("l2"),
        l2_squared("a", "b").alias("l2sq"),
        dot("a", "b").alias("dot"),
        norm("a").alias("norm_a"),
        cosine("a", "b").alias("cos"),
    ).collect()
    for i, r in enumerate(rows):
        exp_l2 = float(np.linalg.norm(a[i] - b[i]))
        exp_dot = float(a[i] @ b[i])
        exp_cos = exp_dot / (np.linalg.norm(a[i]) * np.linalg.norm(b[i]))
        assert math.isclose(r["l2"], exp_l2, rel_tol=1e-9)
        assert math.isclose(r["l2sq"], exp_l2 * exp_l2, rel_tol=1e-9)
        assert math.isclose(r["dot"], exp_dot, rel_tol=1e-9, abs_tol=1e-12)
        assert math.isclose(r["norm_a"], float(np.linalg.norm(a[i])), rel_tol=1e-9)
        assert math.isclose(r["cos"], exp_cos, rel_tol=1e-9)


def test_zero_vector_guards(spark):
    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 2.0])],
        T.StructType(
            [
                T.StructField("a", T.ArrayType(T.FloatType()), False),
                T.StructField("b", T.ArrayType(T.FloatType()), False),
            ]
        ),
    )
    r = df.select(
        cosine("a", "b").alias("cos"), normalize("a").alias("na"), norm("a").alias("n")
    ).collect()[0]
    assert r["cos"] == 0.0  # Distances.java:149-153 zero-norm guard
    assert r["n"] == 0.0
    assert r["na"] == [0.0, 0.0]  # normalize passthrough for zero vector


def test_normalize_unit_norm(spark):
    df = spark.createDataFrame([([3.0, 4.0],)], "a: array<float>")
    r = df.select(norm(normalize("a")).alias("n")).collect()[0]
    assert math.isclose(r["n"], 1.0, rel_tol=1e-12)


# --- one kernel: byte parity with a Python left fold, edge cases --------

EDGE_ROWS = [
    (0, None, [1.0, 2.0]),          # null array
    (1, [1.0, 2.0], None),
    (2, [1.0, None], [1.0, 2.0]),   # null element
    (3, [1.0, 2.0, 3.0], [1.0, 2.0]),  # length mismatch
    (4, [], []),                    # empty arrays
    (5, [0.0, 0.0], [1.0, 2.0]),    # zero vector
    (6, [3.0, 4.0], [3.0, 4.0]),    # self pair
]
_SQL_OPS = {"dot", "l2_squared", "l2", "norm", "cosine", "cosine_distance"}


def _col(op: str, a: str = "a", b: str = "b"):
    from vectorsearch_spark import functions as vf

    if op == "cosine_distance":
        return distance_for_metric(a, b, Metric.COSINE)
    return getattr(vf, op)(a) if op in UNARY else getattr(vf, op)(a, b)


def _bytes(v):
    if v is None:
        return None
    if isinstance(v, list):
        return [_bytes(x) for x in v]
    return struct.pack("<d", v)


def _run_all(spark, rows):
    """Every Column function and every vs_* over ``rows`` in ONE
    partition, so rows of all lengths share an Arrow batch."""
    register_sql_functions(spark)
    df = spark.createDataFrame(rows, "i long, a array<float>, b array<float>").coalesce(1)
    df.createOrReplaceTempView("vs_kernel_pairs")
    ops = BINARY + UNARY
    got = df.select("i", *[_col(op).alias(op) for op in ops]).collect()
    sql = spark.sql(
        "SELECT i, " + ", ".join(f"vs_{op}(a{'' if op in UNARY else ', b'}) AS {op}"
                                 for op in sorted(_SQL_OPS))
        + " FROM vs_kernel_pairs"
    ).collect()
    return {r["i"]: r for r in got}, {r["i"]: r for r in sql}


def test_kernel_bytes_match_python_left_fold(spark):
    rng = np.random.default_rng(11)
    rows, i = [], 0
    for dim in (1, 3, 16, 64, 128):
        for _ in range(24):
            a = rng.normal(size=dim).astype(np.float32)
            b = a.copy() if i % 6 == 0 else rng.normal(size=dim).astype(np.float32)
            rows.append((i, a.tolist(), b.tolist()))
            i += 1
    rows += [(1000 + j, a, b) for j, a, b in EDGE_ROWS]
    got, sql = _run_all(spark, rows)
    for i, a, b in rows:
        for op in BINARY + UNARY:
            assert _bytes(got[i][op]) == _bytes(ref(op, a, b)), (i, op)
        for op in _SQL_OPS:
            assert _bytes(sql[i][op]) == _bytes(ref(op, a, b)), (i, "vs_" + op)


def test_kernel_edge_cases(spark):
    got, sql = _run_all(spark, EDGE_ROWS)
    for i in (0, 1, 2, 3):  # null or ragged pairs: every pairwise op is null
        for op in BINARY:
            assert got[i][op] is None, (i, op)
        for op in _SQL_OPS - set(UNARY):
            assert sql[i][op] is None, (i, op)
    assert got[0]["norm"] is None and got[0]["normalize"] is None
    assert got[2]["normalize"] == [None, None]
    assert got[3]["norm"] == math.sqrt(14.0) and sql[3]["norm"] == math.sqrt(14.0)
    assert got[4].asDict() == Row(
        i=4, l2_squared=0.0, l2=0.0, dot=0.0, cosine=0.0, cosine_distance=1.0,
        norm=0.0, normalize=[],
    ).asDict()
    assert sql[4]["cosine_distance"] == 1.0
    assert got[5]["normalize"] == [0.0, 0.0] and got[5]["cosine"] == 0.0
    assert got[6]["cosine_distance"] == 0.0 and got[6]["l2"] == 0.0


def test_cosine_distance_of_null_or_ragged_pair_is_null(spark):
    """A null array, a null element or a length mismatch is no match:
    the cosine distance is null, not 0.0 (a perfect match)."""
    register_sql_functions(spark)
    df = spark.createDataFrame(EDGE_ROWS[:4], "i long, a array<float>, b array<float>")
    got = df.select(distance_for_metric("a", "b", Metric.COSINE).alias("d")).collect()
    assert [r["d"] for r in got] == [None] * 4
    df.createOrReplaceTempView("vs_ragged_pairs")
    got = spark.sql("SELECT vs_cosine_distance(a, b) AS d FROM vs_ragged_pairs").collect()
    assert [r["d"] for r in got] == [None] * 4
