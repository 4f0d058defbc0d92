"""Order-insensitive result checks on both sides of the oracle comparison.

Both sides go through ``oracle.canon``, exactly as ``oracle.compare`` does:
the DuckDB side from the oracle's ``fetchdf()``, the Spark side from the
collected rows converted to the pandas dtypes ``DataFrame.toPandas()`` would
give (so no second Spark job runs per sample). A result passes when its
canonical hash equals the oracle's. If it does not, floats are compared at
1e-12 relative, the repository's convention for engine-vs-oracle checks
past sf0.1 (``tools/q1_summary_ab.py``): money sums there reach 1e10-1e11,
where the two engines' summation orders differ by more than the cent that
``round(x, 2)`` keeps. Every other cell must still match exactly.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd
from pyspark.sql import types as T

from aced_etl_pod_spark.oracle import canon

FLOAT_REL_TOL = 1e-12
_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def canon_table(df: pd.DataFrame) -> dict:
    """``canon(df)`` as plain data: sorted column names, which of them hold
    floats, and the canonical rows (float cells as numbers, the rest as the
    ``repr`` strings ``canon`` produces)."""
    c = canon(df)
    cols = list(c.columns)
    floats = [pd.api.types.is_float_dtype(df[k]) for k in cols]
    rows = [
        [float(v) if f and v != "None" else v for v, f in zip(row, floats)]
        for row in c.itertuples(index=False)
    ]
    return {"columns": cols, "floats": floats, "rows": rows}


def table_hash(t: dict) -> str:
    h = hashlib.sha256(repr(t["columns"]).encode())
    for row in t["rows"]:
        h.update(repr(tuple(repr(v) for v in row)).encode())
    return h.hexdigest()[:32]


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= FLOAT_REL_TOL * max(abs(a), abs(b), 1.0)
    return a == b


def _keyed(t: dict) -> list:
    """Rows ordered by their non-float cells, then their float cells."""
    fl = t["floats"]

    def key(row):
        exact = tuple(v for v, f in zip(row, fl) if not f)
        nums = tuple(
            (v is None, v if isinstance(v, float) else 0.0)
            for v, f in zip(row, fl)
            if f
        )
        return exact, nums

    return sorted(t["rows"], key=key)


def check(t: dict, want: dict) -> str:
    """``exact``, ``fp_tolerance`` or ``mismatch``."""
    if table_hash(t) == want["hash"]:
        return "exact"
    if (
        t["columns"] != want["columns"]
        or t["floats"] != want["floats"]
        or len(t["rows"]) != len(want["rows"])
    ):
        return "mismatch"
    for r, s in zip(_keyed(t), _keyed(want)):
        if not all(_close(a, b) for a, b in zip(r, s)):
            return "mismatch"
    return "fp_tolerance"


def rows_frame(rows: list, schema: T.StructType) -> pd.DataFrame:
    """Collected rows as the frame ``toPandas()`` returns for them."""
    cols = {}
    for i, f in enumerate(schema.fields):
        vals = [r[i] for r in rows]
        t = f.dataType
        if isinstance(t, _INTEGRAL):
            has_null = any(v is None for v in vals)
            s = pd.Series(vals, dtype="float64" if has_null else "int64")
        elif isinstance(t, T.DoubleType):
            s = pd.Series(vals, dtype="float64")
        elif isinstance(t, T.FloatType):
            s = pd.Series(vals, dtype="float32")
        elif isinstance(t, (T.TimestampType, T.TimestampNTZType)):
            s = pd.Series(pd.to_datetime(vals))
        else:
            s = pd.Series(vals, dtype=object)
        cols[f.name] = s
    return pd.DataFrame(cols)
