"""Vector math as Catalyst expressions (plus a NumPy fast path).

The reference's single analytical scalar function is DuckDB's
``array_cosine_distance`` (``/root/reference/model/search/vector.py:176``).
Spark has no cosine built-in, so the primary implementation composes
higher-order array functions (``zip_with`` + ``aggregate``) — pure JVM-side
expressions that stay inside whole-stage codegen and are checkable by the
DuckDB oracle. A vectorized Arrow ``pandas_udf`` variant is provided as the
throughput path for very wide vectors (NumPy SIMD beats per-element codegen
on 1024-dim floats); both share identical semantics, including NULL for
zero-norm inputs (the reference would divide by zero there — we pin NULL).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold dot product: sum(a[i]*b[i]) via zip_with + aggregate.

    Left-to-right accumulation matches DuckDB's loop order, so doubles agree
    bit-for-bit with ``list_inner_product`` on the oracle side.
    """
    a, b = _as_double_array(a), _as_double_array(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    a = _as_double_array(a)
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """dot(a,b) / (|a|*|b|); NULL if either norm is zero (division guarded —
    the reference inherits DuckDB's NaN here, we pin NULL and document it)."""
    a, b = _as_double_array(a), _as_double_array(b)
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != 0.0, dot_product(a, b) / denom)


def cosine_distance(a: Column | str, b: Column | str) -> Column:
    """1 − cosine_similarity, the reference's scoring function
    (``/root/reference/model/search/vector.py:176``)."""
    return F.lit(1.0) - cosine_similarity(a, b)


def l2_normalize(a: Column | str) -> Column:
    """Scale to unit norm (zero vectors → NULL). A store normalized at
    ingest is scored with ``1 − dot`` — one fold per row instead of three —
    by the serving statement ``operators/knn.knn_topk_statement``, which
    normalizes the query on the driver; ``cosine_distance`` itself still
    folds three times, since it does not know its inputs are unit vectors."""
    a = _as_double_array(a)
    n = l2_norm(a)
    return F.when(n != 0.0, F.transform(a, lambda x: x / n))


# ---------------------------------------------------------------------------
# Arrow/NumPy fast path — same semantics, vectorized per batch. Use when the
# vector is wide enough that per-element codegen loses to SIMD (>~256 dims).
# ---------------------------------------------------------------------------


def make_cosine_distance_pandas_udf(query_vec: list[float]):
    """Return a Series->Series pandas_udf computing cosine distance of every
    row's embedding against a fixed query vector (broadcast once per executor
    via closure capture — the lazy-singleton pattern from SURVEY.md §2.10 U1).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)

    @pandas_udf("double")
    def cos_dist(embs):
        mat = np.vstack(embs.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1) * qn
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = (mat @ q) / norms
        out = 1.0 - sims
        # zero-norm → NULL (not NaN): matches the Catalyst cosine_distance
        # path, so sorting/filtering/aggregation treat both paths identically
        ser = pd.Series(out, dtype="object")
        ser[norms == 0.0] = None
        return ser

    return cos_dist
