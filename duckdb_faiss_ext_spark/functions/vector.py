"""Vector column expressions — whole-stage-codegen (JVM) implementations of
the distance math used by the SQL-expressible query surface.

These are the Spark analogues of DuckDB's ``list_inner_product`` /
``list_distance`` built-ins used by the reference's brute-force SQL baseline
(``array_negative_inner_product``, go/benches_c.go:207).  Double precision,
strict left-to-right accumulation (bitwise-reproducible against a sequential
oracle).  The float32 fast path lives in metrics.py (numpy over Arrow); this
module is the declarative path Catalyst can optimize end-to-end.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def _d(col) -> Column:
    return F.col(col).cast("array<double>") if isinstance(col, str) else col.cast("array<double>")


def inner_product(a, b) -> Column:
    """sum(a[i]*b[i]) in double, sequential — DuckDB list_inner_product parity."""
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def negative_inner_product(a, b) -> Column:
    """array_negative_inner_product (go/benches_c.go:207)."""
    return -inner_product(a, b)


def l2sq(a, b) -> Column:
    """Squared Euclidean (FAISS METRIC_L2 — no sqrt, SURVEY.md §1.3)."""
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_distance(a, b) -> Column:
    """Euclidean with sqrt — DuckDB list_distance parity."""
    return F.sqrt(l2sq(a, b))


def cosine_similarity(a, b) -> Column:
    """DuckDB list_cosine_similarity parity."""
    return inner_product(a, b) / (
        F.sqrt(inner_product(a, a)) * F.sqrt(inner_product(b, b))
    )


def round_half_up(col, scale: int) -> Column:
    """Deterministic round-half-up via floor(x*10^s + 0.5)/10^s.

    Spark's ROUND(double) routes through the double's shortest decimal string
    (BigDecimal HALF_UP) while DuckDB rounds the binary value — they disagree
    on ~0.1% of rows.  This formulation is pure IEEE arithmetic, bitwise
    identical on any engine; use it (with the same SQL on the oracle side)
    wherever a rounded double feeds a hash-compared result."""
    c = F.col(col) if isinstance(col, str) else col
    p = float(10**scale)
    return F.floor(c * p + F.lit(0.5)) / F.lit(p)


def l1_distance(a, b) -> Column:
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: F.abs(x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_batch_udf():
    """Arrow-batched cosine for PAIR tables (va, vb) -> double: one float64
    numpy pass per batch.  ~1.8x the zip_with/aggregate expression on
    candidate-verify joins (higher-order functions evaluate per element);
    use it on hot re-rank paths, keep `cosine_similarity` where sequential
    left-to-right accumulation must match a SQL oracle bit-for-bit.
    Null, ragged or dimension-mismatched vectors raise InvalidVector
    (vectors.decode).  Built lazily: a DDL-typed UDF would parse through
    the active session at import time."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import DoubleType

    from duckdb_faiss_ext_spark import vectors

    def fn(va, vb):
        a = vectors.decode(va, dtype=np.float64, what="cosine_batch_udf vectors")
        b = vectors.decode(
            vb, a.shape[1], dtype=np.float64, what="cosine_batch_udf vectors"
        )
        num = (a * b).sum(axis=1)
        den = np.sqrt((a * a).sum(axis=1)) * np.sqrt((b * b).sum(axis=1))
        return pa.array(num / den, pa.float64())

    return F.arrow_udf(fn, DoubleType())
