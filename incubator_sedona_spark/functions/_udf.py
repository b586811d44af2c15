"""The one Arrow boundary of the ST_ function surface.

Every geometry function in this package is a plain per-geometry (or
per-batch) Python function behind ``geom_udf`` or ``geom_batch_udf``, the way
the reference puts its per-geometry implementations behind one
``InferredExpression`` wrapper (InferredExpression.scala:41-70).  The
boundary owns the NULL rule: a row with a NULL argument gives NULL, as
Spark's null-intolerant expressions do, and the wrapped function never sees
that row.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from incubator_sedona_spark.geom import wkb as W


def geom_batch_udf(return_type, fn):
    """Pandas UDF running ``fn(*series)`` (one value per row) on the batch's
    NULL-free rows; a row with any NULL argument gives NULL.  A batch with no
    NULL hands ``fn`` the Arrow batch as it arrived."""

    def _udf(*cols: pd.Series) -> pd.Series:
        null = np.logical_or.reduce([c.isna().to_numpy() for c in cols])
        if not null.any():
            return pd.Series(fn(*cols))
        keep = np.flatnonzero(~null)
        out = [None] * len(null)
        for i, v in zip(keep, fn(*(c.iloc[keep].reset_index(drop=True) for c in cols))):
            out[i] = v
        return pd.Series(out, dtype=object)

    _udf.__name__ = fn.__name__  # the name plan dumps show
    return F.pandas_udf(_udf, return_type)


def geom_udf(return_type, fn, decode=W.loads):
    """Pandas UDF mapping ``fn`` over each row's arguments, each decoded with
    ``decode`` (WKB -> Geometry by default; ``None`` passes the raw value, e.g.
    to return the input bytes unchanged).  A Geometry result is encoded back
    to WKB; a row with any NULL argument gives NULL."""

    def rows(*cols):
        args = zip(*cols) if decode is None else (map(decode, r) for r in zip(*cols))
        return [_encode(fn(*a)) for a in args]

    rows.__name__ = fn.__name__
    return geom_batch_udf(return_type, rows)


def _encode(v):
    return W.dumps(v) if isinstance(v, W.Geometry) else v
