import math
import re
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nebuia_vector_db_spark.functions.vector import (
    cosine_sim,
    dot,
    l2_norm,
    l2_normalize,
    lit_vector,
    normalize_query,
    numpy_dot_udf,
)


def test_normalize_query_matches_numpy():
    q = [3.0, 4.0]
    assert normalize_query(q) == pytest.approx([0.6, 0.8])


def test_normalize_query_zero_vector_passthrough():
    assert normalize_query([0.0, 0.0]) == [0.0, 0.0]


def test_dot_expression(spark):
    df = spark.createDataFrame([([1.0, 2.0, 3.0],)], "v array<double>")
    out = df.select(dot("v", [4.0, 5.0, 6.0]).alias("d")).head()
    assert out["d"] == pytest.approx(32.0)


def test_dot_float_array_promotes_to_double(spark):
    df = spark.createDataFrame([([1.5, 2.5],)], "v array<float>")
    out = df.select(dot("v", [2.0, 2.0]).alias("d")).head()
    assert out["d"] == pytest.approx(8.0)


def test_l2_norm_and_normalize(spark):
    df = spark.createDataFrame([([3.0, 4.0],)], "v array<double>")
    row = df.select(
        l2_norm("v").alias("n"), l2_normalize("v").alias("u")
    ).head()
    assert row["n"] == pytest.approx(5.0)
    assert row["u"] == pytest.approx([0.6, 0.8])


def test_cosine_sim_pairs(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 2.0]), ([1.0, 1.0], [2.0, 2.0])],
        "a array<double>, b array<double>",
    )
    vals = [r["c"] for r in df.select(cosine_sim("a", "b").alias("c")).collect()]
    assert vals[0] == pytest.approx(0.0)
    assert vals[1] == pytest.approx(1.0)


def test_numpy_udf_matches_sql_path(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(50, 16)).astype(np.float32)
    q = rng.normal(size=16).tolist()
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "id long, v array<float>"
    )
    sql_vals = {
        r["id"]: r["s"]
        for r in df.select("id", dot("v", normalize_query(q)).alias("s")).collect()
    }
    np_vals = {
        r["id"]: r["s"]
        for r in df.select("id", numpy_dot_udf(q)(F.col("v")).alias("s")).collect()
    }
    for i in sql_vals:
        assert math.isclose(sql_vals[i], np_vals[i], rel_tol=1e-9, abs_tol=1e-9)


# -------------------------------------------------- query-vector literal
_ADVERSARIAL = [-0.0, 5e-324, 1e308, -1e308, math.nan, math.inf, -math.inf]


def _bits(values) -> bytes:
    return struct.pack(f">{len(values)}d", *values)


def _old_lit_vec(q):
    """The per-element construction ``lit_vector`` replaced: kept here
    as the reference the bulk literal must match."""
    return F.array(*[F.lit(float(x)) for x in q])


@pytest.mark.parametrize(
    "q",
    [
        [],
        [-0.0],
        _ADVERSARIAL,
        (
            _ADVERSARIAL
            + np.random.default_rng(5).normal(size=16384 - len(_ADVERSARIAL)).tolist()
        ),
    ],
    ids=["d0", "d1", "adversarial", "d16384"],
)
def test_lit_vector_is_bit_exact_and_typed(spark, q):
    df = spark.range(1).select(lit_vector(q).alias("q"))
    assert df.schema["q"].dataType == T.ArrayType(T.DoubleType(), containsNull=False)
    assert _bits(df.head()["q"]) == _bits(q)


def _strip_ids(plan: str) -> str:
    # expression ids (#12) and lambda-variable counters (x_3) differ
    # between two otherwise identical plans
    return re.sub(r"_\d+#", "#", re.sub(r"#\d+L?", "#", plan))


@pytest.mark.parametrize("elem", ["float", "double"])
def test_dot_equals_per_element_literal_construction(spark, elem):
    rng = np.random.default_rng(17)
    d = 33
    df = spark.createDataFrame(
        [(i, rng.normal(size=d).tolist()) for i in range(40)],
        f"id long, v array<{elem}>",
    )
    for q in (normalize_query(rng.normal(size=d).tolist()), _ADVERSARIAL * 4 + [1.5] * 5):
        new = df.select("id", dot("v", q).alias("s"))
        old = df.select("id", dot("v", _old_lit_vec(q)).alias("s"))
        assert _strip_ids(
            new._jdf.queryExecution().optimizedPlan().toString()
        ) == _strip_ids(old._jdf.queryExecution().optimizedPlan().toString())
        got = [r["s"] for r in new.orderBy("id").collect()]
        want = [r["s"] for r in old.orderBy("id").collect()]
        assert _bits(got) == _bits(want)
