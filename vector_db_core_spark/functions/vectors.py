"""Vector math over ``array<float|double>`` columns — pure JVM-side.

[EXT] The reference stores ``Vec<u64>``-style arrays but computes
nothing over them (SURVEY.md §2.2); these are the similarity-search
kernels the north star mandates. All built from ``zip_with`` /
``aggregate`` higher-order functions: codegen'd, no Python in the hot
path, and the left-to-right fold order is deterministic (unlike a
shuffle-order-dependent float SUM).

Elements are cast to DOUBLE before arithmetic so float32 inputs widen
exactly and both engines (Spark, DuckDB oracle) see identical values.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ via zip_with + left-fold aggregate (deterministic order)."""
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(F.aggregate(_d(a), F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))


def hyperplane_buckets_pandas(v: Column | str, planes: int = 4, tables: int = 16) -> Column:
    """ALL of a multi-table sign-LSH index's bucket ids in one
    Arrow-batched kernel: returns ``array<long>`` of length ``tables``
    (bucket of hash table t at position t, each in ``[0, 2^planes)``).

    Bit j of table t is the sign of the EXACT integer dot product of
    the vector's micro units (``round(x * 1e6)`` per element, rounded
    in Spark so half-up ties match DuckDB's ``round``) with the ±1 plane
    ``p = t * planes + j``. The plane's entry for dimension d is +1
    when the last hex digit of ``md5(f"{p}|{d}")`` is even, else -1:
    no stored matrix and no RNG, so every executor and the DuckDB
    oracle (``md5(p || '|' || d)``) derive the same planes. Over 64
    dimensions a ±1 projection is near-Gaussian, so each plane keeps
    roughly the ``1 - θ/π`` collision probability of Gaussian planes.

    Why a pandas_udf: T*P projections per row as interpreted
    ``F.aggregate`` folds measured ~7x slower than ONE matmul per
    Arrow batch — ``X (batch, dim) @ planes (dim, T*P)`` in BLAS, then
    sign bits pack into per-table buckets with vectorized shifts. The
    matmul runs in float64 and is still exact: every partial sum is an
    integer far below 2^53 (|x| <= ~1e6 per element).
    """
    import hashlib

    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    n_planes = tables * planes
    signs: dict = {}  # dim -> (dim, n_planes) plane matrix, built once per worker

    def sign(p: int, d: int) -> float:
        return 1.0 - 2.0 * (int(hashlib.md5(f"{p}|{d}".encode()).hexdigest()[-1], 16) & 1)

    @pandas_udf("array<long>")
    def _buckets(vs):
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        X = np.stack([np.asarray(x, dtype=np.float64) for x in vs])
        dim = X.shape[1]
        if dim not in signs:
            signs[dim] = np.array([[sign(p, d) for p in range(n_planes)] for d in range(dim)])
        bits = (X @ signs[dim]) > 0  # (batch, tables*planes)
        weights = 1 << np.arange(planes, dtype=np.int64)  # bit j -> 2^j
        buckets = (
            bits.reshape(len(X), tables, planes).astype(np.int64) * weights
        ).sum(axis=2)  # (batch, tables)
        return pd.Series(list(buckets))

    return _buckets(F.transform(_d(v), lambda x: F.round(x * 1000000.0, 0).cast("long")))


def cosine_similarity_pandas(a: Column | str, b: Column | str) -> Column:
    """Cosine via a vectorized ``pandas_udf`` — the Arrow-batched
    alternative to the codegen ``cosine_similarity`` kernel.

    Exists to cover the Python-kernel escape hatch (SURVEY.md §2.2
    'pandas_udf surface'): same signature, same math, but each Arrow
    batch crosses to Python and is reduced with NumPy. Benchmarked
    slower than the JVM fold at this dimensionality — use it as the
    template for kernels Catalyst genuinely can't express (learned
    scoring, library calls), not as a default. Results match the
    codegen kernel to the last ulp only when the accumulation order
    agrees (NumPy pairwise-sums); tests assert 1e-12 agreement, and
    oracle-checked queries keep using the deterministic JVM fold.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    # no type hints: `from __future__ import annotations` stringifies
    # them module-wide and PySpark's hint inference can't resolve the
    # strings; an unannotated pandas_udf defaults to SCALAR, which is
    # exactly what this is
    @pandas_udf("double")
    def _cos(xs, ys):
        out = []
        for x, y in zip(xs, ys):
            xv = np.asarray(x, dtype=np.float64)
            yv = np.asarray(y, dtype=np.float64)
            out.append(float(xv @ yv / (np.linalg.norm(xv) * np.linalg.norm(yv))))
        return pd.Series(out)

    return _cos(_d(a), _d(b))
