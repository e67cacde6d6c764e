"""The one vector-decode contract: Arrow ``list<float>`` -> ``(n, dim)`` ndarray.

Like the reference's ``ListVectorToFaiss`` (faiss_extension.cpp:267-295),
every path decodes through :func:`decode` (executor Arrow batches) or
:func:`fetch` (driver ``toArrow()``), so malformed input raises
``InvalidVector`` the same way on every route.  Null rows and elements,
ragged rows and wrong dimensions are caught from validity bitmaps and
offsets, O(rows), on every decode.  NaN/±Inf is a value check, O(values):
at decode for queries (``finite=True``), at add time for corpus rows
(:func:`invalid_code`).  Decoding float32 without nulls copies nothing.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from duckdb_faiss_ext_spark.errors import DimensionMismatch, InvalidVector


def _at(ids, i: int) -> str:
    if ids is None:
        return f"row {i}"
    v = ids[i]
    return f"id {v.as_py() if hasattr(v, 'as_py') else v}"


def _first(mask) -> int:
    return int(np.flatnonzero(np.asarray(mask))[0])


def decode(col, dim: Optional[int] = None, dtype=np.float32, ids=None,
           what: str = "vectors", finite: bool = False) -> np.ndarray:
    """``(n, dim)`` matrix from an Arrow list (or chunked) array.

    ``dim`` None takes the width from the first row (other widths are
    ragged); a given ``dim`` raises ``DimensionMismatch`` for any other
    length.  ``dtype`` None keeps the child type (SQ8/PQ codes).  ``ids``
    (Arrow or numpy) name the bad row and must hold no nulls themselves.
    ``finite`` adds the NaN/±Inf check for query sides: such a query
    scores NaN against every row."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if ids is not None and getattr(ids, "null_count", 0):
        raise InvalidVector(f"null qid or vector in {what} at row {_first(ids.is_null())} (null id)")
    if col.null_count:
        i = _first(col.is_null())
        raise InvalidVector(f"null qid or vector in {what} at {_at(ids, i)} (null vector)")
    n = len(col)
    if n == 0:
        return np.empty((0, dim or 0), dtype=dtype or np.float32)
    lens = col.value_lengths().to_numpy(zero_copy_only=False)
    d = int(lens[0]) if dim is None else int(dim)
    if (lens != d).any():
        i = _first(lens != d)
        if dim is None:
            raise InvalidVector(f"ragged {what} at {_at(ids, i)}: length {lens[i]}, expected {d}")
        raise DimensionMismatch(d, int(lens[i]), f"dimension-mismatched {what} at {_at(ids, i)}")
    flat = col.flatten()
    if flat.null_count:
        raise InvalidVector(f"null element in {what} at {_at(ids, _first(flat.is_null()) // d)}")
    x = flat.to_numpy(zero_copy_only=False).reshape(n, d)
    if dtype is not None:
        x = np.ascontiguousarray(x, dtype=dtype)
    if finite and not np.isfinite(x).all():
        i = _first(~np.isfinite(x).all(axis=1))
        raise InvalidVector(f"non-finite (NaN/Inf) value in {what} at {_at(ids, i)}")
    return x


def fetch(df: DataFrame, vec_col: str = "vector", dim: Optional[int] = None,
          dtype=np.float32, what: str = "vectors", finite: bool = False) -> tuple[np.ndarray, dict]:
    """Driver-side fetch, ONE ``toArrow()`` job: the decoded matrix, and the
    frame's other columns as numpy arrays by name."""
    tbl = df.toArrow()
    x = decode(tbl.column(vec_col), dim, dtype, what=what, finite=finite)
    return x, {c: tbl.column(c).to_numpy() for c in tbl.column_names if c != vec_col}


def invalid_code(vec: Column, dim: int) -> Column:
    """Add-time check of an ``array<float>`` column in whole-stage codegen
    (no lambda higher-order functions, which run interpreted): null for a
    valid row, the row's length when it is not ``dim``, else -1 null row,
    -2 null element, -3 NaN/±Inf.  ``array_contains(v, NaN)`` is true with
    a NaN and null with a null element but no NaN; ``array_max``/``min``
    catch the infinities.  (A ``sort_array`` form sorts a nullable array
    with a boxed comparator: ~10x slower at 20k x 384.)"""
    has_nan = F.array_contains(vec, F.lit(float("nan")).cast("float"))
    inf = F.lit(float("inf")).cast("float")
    return (
        F.when(vec.isNull(), -1)
        .when(F.size(vec) != dim, F.size(vec))
        .when(has_nan.isNull(), -2)
        .when(has_nan | (F.array_max(vec) == inf) | (F.array_min(vec) == -inf), -3)
    )


def raise_invalid(code: Optional[int], dim: int) -> None:
    """Raise what an :func:`invalid_code` value stands for (None: valid)."""
    if code is not None and code >= 0:
        raise DimensionMismatch(dim, code, "dimension-mismatched vectors in add")
    if code is not None:
        raise InvalidVector({
            -1: "null qid or vector in add (null vector)",
            -2: "null element in vectors in add",
            -3: "non-finite (NaN/Inf) value in vectors in add",
        }[code])
