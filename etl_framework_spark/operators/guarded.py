"""Capped driver collects: the one transport that brings a
data-dependent frame to the driver (SCALE.md lists every site). Call it
as ``guarded.collect_capped`` so one patch reaches every site."""
from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame


def collect_capped(df: DataFrame, cap: int) -> pa.Table | None:
    """``df`` on the driver as an Arrow table, or ``None`` when it has
    more than ``cap`` rows.

    At most cap + 1 rows cross to the driver: the limit is part of the
    collected plan, so an over-cap frame costs one extra row, never the
    whole frame. Rows travel as Arrow batches only, never as Python
    ``Row`` objects. ``None`` means the cap was exceeded."""
    probe = cap + 1  # one row past the cap tells "over" from "exactly cap"
    head = df.limit(probe).toArrow()
    return head if head.num_rows <= cap else None


def as_matrix(col: pa.ChunkedArray) -> np.ndarray:
    """A column of equal-length numeric lists as a float64 (rows, dims)
    array; ragged, null or empty input raises. float32 widens to
    float64 exactly, so values equal a per-row rebuild bit for bit."""
    return np.stack(col.to_numpy()).astype(np.float64)
