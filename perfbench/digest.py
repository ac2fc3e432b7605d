"""Order-insensitive digest of a result frame, for comparing an engine
result with its DuckDB oracle: row count, sorted column names and a hash
of the canonicalized, sorted rows."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math


def canon(v) -> str:
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "∅"
    if isinstance(v, (float, np.floating)):
        return "∅" if math.isnan(v) else repr(float(v))
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return pd.Timestamp(v).isoformat()
    return str(v)


def frame_digest(df) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    rows = sorted(
        "\x1f".join(canon(v) for v in t)
        for t in df[cols].itertuples(index=False, name=None)
    )
    return len(rows), cols, hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
