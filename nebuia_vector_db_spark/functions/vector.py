"""Vector math as Catalyst expressions + Arrow fast paths.

Reference semantics (SURVEY.md §1.5-1): ``sim(q, v) = dot(q/‖q‖₂, v)``
— the *query* is L2-normalized once per query (main.go:179-183), the
stored vector is used raw (main.go:246). We replicate exactly.

Two execution strategies:

- ``dot(col, qlit)`` — pure SQL higher-order functions
  (``aggregate(zip_with(...))``): runs inside whole-stage codegen,
  deterministic left-to-right summation (bit-identical to a sequential
  C loop), used for oracle-checked correctness queries. The query
  vector enters the plan as one ``array<double>`` literal built by
  :func:`lit_vector` in a fixed number of py4j round trips — the
  vector crosses to the JVM once, as its IEEE-754 bytes, instead of
  as one ``F.lit`` per element (about 4 round trips each, ~1.6k for
  a d=384 query).
- ``numpy_dot_udf(q)`` — Arrow-batched pandas_udf doing one BLAS
  matrix-vector product per batch: the 10-100× fast path for bench
  and large scans (SURVEY.md §4 P-4).
"""

from __future__ import annotations

import weakref
from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.utils import get_active_spark_context


def normalize_query(q: Sequence[float]) -> list[float]:
    """L2-normalize a query vector driver-side (float64).

    ≙ main.go:179-183 (gonum ``mat.Norm(qv, 2)`` then scale). Computed
    once per query and inlined into the plan as ONE array literal
    (:func:`lit_vector`): the vector crosses py4j once as its raw
    bytes, where a per-element ``F.lit`` costs about 4 round trips
    each, and the analyzer sees a single ``Literal`` instead of a
    d-child ``CreateArray`` to resolve and constant-fold (SURVEY.md
    §4 P-3).
    """
    arr = np.asarray(q, dtype=np.float64)
    # sequential left-to-right sum — bit-identical to the SQL
    # aggregate() path and DuckDB's list_dot_product (numpy's pairwise
    # summation would differ in the last ulp)
    acc = 0.0
    for x in arr.tolist():
        acc += x * x
    n = float(np.sqrt(acc))
    if n == 0.0:
        return arr.tolist()
    return [x / n for x in arr.tolist()]


# gateway -> JVM handles for lit_vector; every py4j class or member
# lookup is a round trip of its own, so they are resolved once
_LITERAL_HANDLES: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _literal_handles(sc) -> tuple:
    handles = _LITERAL_HANDLES.get(sc._gateway)
    if handles is None:
        jvm = sc._jvm
        types = jvm.org.apache.spark.sql.types.DataTypes
        handles = _LITERAL_HANDLES[sc._gateway] = (
            jvm.double,
            jvm.java.nio.ByteBuffer.wrap,
            jvm.org.apache.spark.sql.catalyst.util.GenericArrayData,
            jvm.org.apache.spark.sql.catalyst.expressions.Literal,
            types.createArrayType(types.DoubleType, False),
            jvm.org.apache.spark.sql.classic.ExpressionUtils.column,
        )
    return handles


def lit_vector(q: Sequence[float]) -> Column:
    """``q`` as one ``array<double>`` literal (``containsNull=false``)
    built in a fixed number of py4j round trips, whatever its length.

    The float64 values cross as one big-endian byte array and are
    decoded JVM-side (``ByteBuffer.asDoubleBuffer``), so every bit —
    -0.0, subnormals, NaN, ±inf — arrives unchanged. The literal is
    exactly what Catalyst constant-folds ``array(lit(q0), lit(q1),
    ...)`` into, so optimized plans and results do not change.
    """
    sc = get_active_spark_context()
    double, wrap, array_data, literal, array_type, column = _literal_handles(sc)
    raw = np.asarray(q, dtype=">f8")
    values = sc._gateway.new_array(double, raw.size)
    wrap(raw.tobytes()).asDoubleBuffer().get(values)
    return Column(column(literal(array_data(values), array_type)))


def dot(vec: Column | str, q: Column | Sequence[float]) -> Column:
    """dot(vec, q) as a pure SQL expression (codegen'd, no Python).

    ≙ main.go:263-275 (``dotProduct``, 4-way unrolled loop). The JVM
    JIT handles unrolling; summation is sequential left-to-right so
    results are deterministic and match DuckDB's ``list_dot_product``
    bit-for-bit on identical inputs.
    """
    vec = F.col(vec) if isinstance(vec, str) else vec
    if not isinstance(q, Column):
        q = lit_vector(q)
    return F.aggregate(
        F.zip_with(vec, q, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(vec: Column | str) -> Column:
    """‖vec‖₂ as a SQL expression."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    return F.sqrt(
        F.aggregate(
            vec,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def l2_normalize(vec: Column | str) -> Column:
    """vec/‖vec‖₂ as a SQL expression (zero vectors pass through)."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    n = l2_norm(vec)
    return F.when(n == 0.0, vec.cast("array<double>")).otherwise(
        F.transform(vec, lambda x: x.cast("double") / n)
    )


def cosine_sim(a: Column | str, b: Column | str) -> Column:
    """True cosine similarity between two vector columns (for
    pair/self-joins — both sides normalized, unlike the query path)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def similarity_to_query(vec: Column | str, q: Sequence[float]) -> Column:
    """The reference's exact similarity: dot(normalize(q), vec_raw)."""
    return dot(vec, normalize_query(q))


_BLAS_THREADS_SET: int | None = None


def limit_blas_threads(n: int = 1) -> None:
    """Cap OpenBLAS's internal thread count in THIS process.

    Data-parallel kernels (one GEMM task per core) oversubscribe when
    every task's BLAS call also spawns threads: with 21-32 concurrent
    block-GEMM tasks the extra threads only add contention (measured
    on b9's 40k×40k blocks: 21-task wall 29.0 s → 20.6 s with BLAS
    pinned to 1). Called at kernel entry in the Python worker, so it
    caps workers without touching the driver process (whose numpy
    baselines legitimately use the multithreaded path).

    Best-effort: resolves ``openblas_set_num_threads`` from numpy's
    bundled OpenBLAS via ctypes; silently a no-op on other BLAS
    backends. Idempotent per process.
    """
    global _BLAS_THREADS_SET
    if _BLAS_THREADS_SET == n:
        return
    import ctypes
    import glob
    import os

    pkg_dir = os.path.dirname(os.path.dirname(np.__file__))
    candidates = glob.glob(
        os.path.join(pkg_dir, "numpy.libs", "libopenblas*.so*")
    ) + glob.glob(
        os.path.join(os.path.dirname(np.__file__), ".libs", "libopenblas*.so*")
    )
    for path in candidates:
        try:
            lib = ctypes.CDLL(path)  # already loaded: dlopen reuses it
        except OSError:
            continue
        for sym in ("openblas_set_num_threads64_", "openblas_set_num_threads"):
            fn = getattr(lib, sym, None)
            if fn is not None:
                fn(int(n))
                _BLAS_THREADS_SET = n
                return
    _BLAS_THREADS_SET = n  # searched once; don't rescan every call


def arrow_list_to_matrix(col) -> np.ndarray:
    """pyarrow List/FixedSizeList array of floats → (n, d) ndarray with
    zero copies where the layout allows (contiguous values buffer).

    This is THE difference between the pandas_udf path (per-row object
    arrays, ``np.vstack`` copies every row) and the mapInArrow path:
    the list array's values buffer is already the row-major matrix.
    """
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if pa.types.is_fixed_size_list(col.type):
        values = col.values
        d = col.type.list_size
    else:
        # guard against a sliced/offset list array where offsets don't
        # start at 0 (flatten() handles it, still no per-row copy)
        values = col.flatten()
        offsets = col.offsets.to_numpy(zero_copy_only=False)
        widths = np.diff(offsets)
        d = int(widths[0]) if len(widths) else 0
        if len(widths) and not (widths == d).all():
            raise ValueError("ragged embedding column; expected fixed dim")
    mat = values.to_numpy(zero_copy_only=False)
    return mat.reshape(-1, d) if d else mat.reshape(0, 0)


def numpy_dot_udf(q: Sequence[float], normalize: bool = True):
    """Arrow-batched pandas_udf: sim(q, v) for a whole batch at once.

    One ``np.vstack`` + one BLAS matvec per Arrow batch — the
    vectorized fast path (SURVEY.md §4 P-4). Float64 accumulation; may
    differ from the sequential SQL path in the last ulp (BLAS pairwise
    summation), hence used for bench/serving, not oracle comparison.
    """
    qn = np.asarray(q, dtype=np.float64)
    if normalize:
        n = float(np.sqrt(np.sum(qn * qn)))
        if n != 0.0:
            qn = qn / n

    @F.pandas_udf(T.DoubleType())
    def _dot(batch):
        if len(batch) == 0:
            import pandas as pd

            return pd.Series([], dtype="float64")
        mat = np.vstack(batch.to_numpy()).astype(np.float64, copy=False)
        import pandas as pd

        return pd.Series(mat @ qn)

    return _dot
