"""The driver's two transports, both Arrow-only.

Spark → driver: ``collect_capped`` is the one capped collect that
brings a data-dependent frame to the driver (SCALE.md lists every
site). Call it as ``guarded.collect_capped`` so one patch reaches every
site.

Driver → Spark: ``local_frame`` turns driver-built rows into a frame
the JVM decodes itself — a ``LocalRelation`` up to
``spark.sql.execution.arrow.localRelationThreshold`` (48 MB), a
JVM-decoded Arrow-batch RDD above it — so no path starts a Python
worker."""
from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


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


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: str
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` for driver-built rows,
    with the same rows and schema (DDL nullability included), but sent
    as one Arrow column per field instead of a pickled Python RDD.
    Zero rows give empty columns."""
    struct = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    cols = list(zip(*rows, strict=True)) or [()] * len(arrow_schema)
    arrays = [
        pa.array(c, type=f.type)
        for c, f in zip(cols, arrow_schema, strict=True)
    ]
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, struct)


def as_matrix(col: pa.ChunkedArray | pd.Series) -> np.ndarray:
    """A column (Arrow, or the pandas Series an Arrow kernel receives)
    of equal-length numeric lists as a float64 (rows, dims) array;
    ragged, null or empty input raises. float32 widens to float64
    exactly, so values equal a per-row rebuild bit for bit."""
    return np.stack(col.to_numpy()).astype(np.float64)
