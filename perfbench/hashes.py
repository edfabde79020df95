"""Order-sensitive content hash of a query result, identical for a Spark
parquet output and a DuckDB oracle frame whenever tools/check.py would call
them equal: columns sorted by name, rows in result order, every value
reduced to an exact canonical string (numbers as exact fractions, so 3 and
3.0 agree but 1.1 and Decimal('1.1') do not — the same equality pandas
applies in check.py's exact compare)."""
import datetime
import decimal
import fractions
import hashlib
import math

import numpy as np
import pandas as pd


def _canon(v):
    if v is None:
        return "null"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return "null"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        return str(fractions.Fraction(float(v)))
    if isinstance(v, decimal.Decimal):
        return str(fractions.Fraction(v))
    if isinstance(v, pd.Timestamp):
        if v is pd.NaT:
            return "null"
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.isoformat()
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if v is pd.NaT:
        return "null"
    return "s:" + str(v)


def frame_hash(df):
    df = df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)
    h = hashlib.sha256()
    h.update(("|".join(df.columns) + "\n").encode())
    cols = [df[c].astype(object).tolist() for c in df.columns]
    for row in zip(*cols):
        h.update(("\x1f".join(_canon(v) for v in row) + "\n").encode())
    return f"{len(df)}:{h.hexdigest()[:32]}"


def parquet_hash(files):
    return frame_hash(pd.concat([pd.read_parquet(f) for f in files]))
