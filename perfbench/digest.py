"""Result digests for the catalog workloads' correctness check.

A digest covers the column names (sorted), each column's numpy dtype
kind (int widths folded together), and every row in order, each cell
canonicalized by the rule tools/check.py applies before its exact
compare: floats bit-faithful (-0.0 apart from 0.0, NaN equal to NaN),
timestamps as ISO strings, nested values as tuples, bytes as hex.
Both sides are read through DuckDB, as check.py reads them, so the
expected digests (from the DuckDB oracle SQL) and the measured ones
(from the engine's parquet output) go through the same conversions.
"""
import glob
import hashlib
import math


class _FloatSentinel:
    __slots__ = ("tag",)

    def __init__(self, tag):
        self.tag = tag

    def __repr__(self):
        return f"float<{self.tag}>"


NAN = _FloatSentinel("NaN")
NEGZERO = _FloatSentinel("-0.0")


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return NAN
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return NEGZERO
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    if isinstance(v, bytes):
        return v.hex()
    import numpy as np
    if isinstance(v, np.ndarray):
        return tuple(canon(x) for x in v.tolist())
    if isinstance(v, np.generic):
        return canon(v.item())
    return v


def frame_digest(df):
    cols = sorted(df.columns)
    kinds = ["i" if df[c].dtype.kind in "iu" else df[c].dtype.kind for c in cols]
    rows = [tuple(canon(x) for x in t)
            for t in df[cols].itertuples(index=False, name=None)]
    return hashlib.sha256(repr((cols, kinds, rows)).encode()).hexdigest()


def parquet_digest(con, result_dir):
    """Digest of a query result the engine wrote as parquet part files."""
    parts = sorted(glob.glob(f"{result_dir}/*.parquet"))
    if not parts:
        raise FileNotFoundError(f"no parquet output in {result_dir}")
    df = con.execute("SELECT * FROM read_parquet([" +
                     ",".join(f"'{p}'" for p in parts) + "])").df()
    return frame_digest(df)
