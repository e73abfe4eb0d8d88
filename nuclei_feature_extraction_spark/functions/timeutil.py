"""Timestamp → epoch helpers that work for both TIMESTAMP (LTZ) and
TIMESTAMP_NTZ columns (parquet written without UTC adjustment reads as
NTZ; a direct NTZ→double cast is illegal). Session timezone is pinned
to UTC (session.py), so the NTZ→LTZ hop is the identity and matches
DuckDB's ``epoch()`` on naive timestamps exactly."""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def epoch_seconds(c: Column | str) -> Column:
    """Fractional epoch seconds (double, microsecond precision)."""
    return _col(c).cast("timestamp").cast("double")


def epoch_long(c: Column | str) -> Column:
    """Whole epoch seconds (long, truncated) — the numeric ordering key
    for rangeBetween frames."""
    return _col(c).cast("timestamp").cast("long")


def epoch_us(c: Column | str) -> Column:
    """Epoch microseconds (long) through the same cast as
    ``epoch_seconds`` — the time base the Arrow and pandas kernels read,
    so they never see Spark's session-local wall-clock conversion of a
    TIMESTAMP column. A null time becomes the int64 minimum, i.e. the
    earliest instant."""
    return F.coalesce(
        F.unix_micros(_col(c).cast("timestamp")),
        F.lit(np.iinfo(np.int64).min),
    )
