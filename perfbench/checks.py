"""Output checks: row count plus an order-insensitive content hash.

The hash is the exact sum of one 64-bit ``xxhash64`` per row, so row
order and partitioning do not matter while every value and duplicate
does. Floating-point values are hashed at float32 precision: a double
aggregate may differ in its last bits between runs (partial sums meet
in shuffle order), and rounding to float32 hides that without hiding
any real change in the result.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def _normalized(col: Column, dtype: T.DataType) -> Column:
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return col.cast("float")
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda x: _normalized(x, dtype.elementType))
    if isinstance(dtype, T.StructType):
        return F.struct(*[_normalized(col.getField(f.name), f.dataType).alias(f.name)
                          for f in dtype.fields])
    if isinstance(dtype, T.MapType):
        # hashing rejects maps; sorted entries are the same content
        entry = T.StructType([T.StructField("key", dtype.keyType),
                              T.StructField("value", dtype.valueType)])
        return _normalized(F.array_sort(F.map_entries(col)), T.ArrayType(entry))
    return col


def digest(df: DataFrame) -> dict:
    """``{"rows": n, "hash": "<decimal sum of row hashes>"}`` in one job."""
    cols = [_normalized(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields]
    row = df.select(F.xxhash64(*cols).alias("h")).agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("hash"),
    ).first()
    return {"rows": int(row["rows"]), "hash": str(row["hash"] or 0)}


def load_expected(path: str = EXPECTED_PATH) -> dict:
    with open(path) as fh:
        return json.load(fh)


def mismatch(actual: dict, expected: dict | None) -> str | None:
    """Why ``actual`` fails against ``expected``, or None when it passes."""
    if expected is None:
        return "no expected value recorded"
    for k in ("rows", "hash"):
        if actual.get(k) != expected.get(k):
            return f"{k}: got {actual.get(k)}, expected {expected.get(k)}"
    return None
