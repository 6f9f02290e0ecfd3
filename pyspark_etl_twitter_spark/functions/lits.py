"""Driver-built data crosses py4j ONCE — one rule for each shape:

- a TABLE (weights, centroids, probe lists, store ``meta/`` rows, band
  dims, bitmaps) goes through ``local_table``: a ``pyarrow.Table`` handed
  to ``createDataFrame`` plans as a ``LocalRelation`` under every session
  shape (Arrow conf on or off, 0 rows included), so no job touching it
  pays a Python-worker round trip — unlike a list or pandas input, which
  becomes a Python-RDD ``LogicalRDD`` (always for lists; for pandas when
  Arrow is off), and unlike a ``range(n)`` + ``element_at(lit_*)`` plan,
  whose literal count grows the expression tree with the data;
- an ARRAY used inside an expression (LUTs, masks, argmax folds) goes
  through ``lit_*``.

The ``F.array(*[F.lit(x) for x in vals])`` idiom performs 2·n+1 py4j
round trips — measured ~2.8 s of pure driver time for a 4,096-double
array, and the KNN/ANN family builds several such arrays per query
CONSTRUCTION, so plan construction dominated those rows' bench time
(27 s construction vs 3 s of jobs on ``knn_ivfpq``). Rendering the same
values into ONE SQL ``array(...)`` expression string and parsing it
JVM-side is ~11× faster (0.26-0.32 s for the same 4,096 doubles) and
bit-identical:

- doubles ride as ``repr(v)`` + ``D``. ``repr`` emits the shortest
  string that round-trips the IEEE-754 value, and Java's
  ``Double.parseDouble`` is correctly rounded, so parse(repr(v)) == v
  bit-for-bit (pinned in tests/test_lits.py against the F.lit path);
  NaN/±Infinity have no SQL literal form and go through CAST.
- ints emit bare digits (IntegerType, F.lit's type for int32-range
  Python ints); longs emit the ``L`` suffix.

The analyzed expression is the same ``CreateArray(Literal...)`` tree
either way — only the construction path changes, never the values or
the result schema. Empty arrays are rejected: SQL ``array()`` types as
``array<string>``, unlike a typed empty F.array — an empty TABLE is fine
(``local_table`` types its columns from the schema).
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping, Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_I32_MIN, _I32_MAX = -(2**31), 2**31 - 1


def local_table(
    spark: SparkSession, schema: str | StructType, data: Mapping | pa.Table
) -> DataFrame:
    """A driver-built table as a ``LocalRelation`` leaf.

    ``schema`` is Spark DDL or a ``StructType``; ``data`` maps each column
    name, in schema order, to its values (any sequence or numpy array), or
    is a ``pyarrow.Table``. Values cast to the schema exactly (doubles
    bit-for-bit, NaN/±Inf/−0.0 included); a value that does not fit its
    column's type raises ``ValueError``."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return spark.createDataFrame(pa.table(data), schema)


def _d(v: float) -> str:
    """One double as an exact SQL literal."""
    if v != v:  # NaN
        return "CAST('NaN' AS DOUBLE)"
    if v == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if v == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"{v!r}D"


def sql_doubles(vals: Iterable[float]) -> str:
    """``array(<double>, ...)`` SQL fragment (exact values; non-empty)."""
    body = ",".join(_d(float(v)) for v in vals)
    if not body:
        raise ValueError("empty literal array: SQL array() is array<string>")
    return f"array({body})"


def lit_doubles(vals: Iterable[float]) -> Column:
    """``array<double>`` literal column, one py4j call."""
    return F.expr(sql_doubles(vals))


def lit_doubles_2d(mat: Iterable[Iterable[float]]) -> Column:
    """``array<array<double>>`` literal column, one py4j call."""
    body = ",".join(sql_doubles(r) for r in mat)
    if not body:
        raise ValueError("empty literal array: SQL array() is array<string>")
    return F.expr(f"array({body})")


def lit_doubles_3d(
    tensor: Iterable[Iterable[Iterable[float]]],
) -> Column:
    """``array<array<array<double>>>`` literal column, one py4j call."""
    body = ",".join(
        "array(" + ",".join(sql_doubles(r) for r in mat) + ")"
        for mat in tensor
    )
    if not body:
        raise ValueError("empty literal array: SQL array() is array<string>")
    return F.expr(f"array({body})")


def lit_ints(vals: Sequence[int]) -> Column:
    """``array<int>`` literal column (int32 range enforced — F.lit parity)."""
    if not vals:
        raise ValueError("empty literal array: SQL array() is array<string>")
    out = []
    for v in vals:
        v = int(v)
        if not (_I32_MIN <= v <= _I32_MAX):
            raise ValueError(f"{v} outside int32; use lit_longs")
        out.append(str(v))
    return F.expr(f"array({','.join(out)})")


def lit_longs(vals: Sequence[int]) -> Column:
    """``array<bigint>`` literal column."""
    if not vals:
        raise ValueError("empty literal array: SQL array() is array<string>")
    return F.expr("array(" + ",".join(f"{int(v)}L" for v in vals) + ")")


def lit_strings(vals: Sequence[str]) -> Column:
    """``array<string>`` literal column. Backslash and single-quote are
    escaped (the default parser's escape semantics); anything containing
    a control character falls back to the per-element F.lit path rather
    than risk an escape-sequence mismatch."""
    vals = list(vals)
    if not vals:
        return F.array().cast("array<string>")
    if any(
        not isinstance(v, str) or any(ord(c) < 0x20 or c == "\x7f" for c in v)
        for v in vals
    ):
        return F.array(*[F.lit(v) for v in vals])
    body = ",".join(
        "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'" for v in vals
    )
    return F.expr(f"array({body})")
