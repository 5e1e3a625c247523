"""The vector folds of operators.similarity give the same bits on all
three engines: numpy (``fold_dots``, ``fold_norms``, ``fold_sqdist``,
``np_q6``), Spark (``dot_fold``, ``l2_norm``, ``sqdist_fold``) and
DuckDB (``DUCK_DOT``, ``DUCK_NORM``, ``duck_sqdist``, ``duck_q6``).
Every exact embedding oracle relies on this."""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from etl_framework_spark.operators.similarity import (
    DUCK_DOT,
    DUCK_NORM,
    dot_fold,
    duck_q6,
    duck_sqdist,
    fold_dots,
    fold_norms,
    fold_sqdist,
    l2_norm,
    np_q6,
    sqdist_fold,
)

DIM = 64
_rng = np.random.default_rng(14)
A = _rng.standard_normal((9, DIM)).astype(np.float32)
B = np.vstack([A[:1], _rng.standard_normal((4, DIM)).astype(np.float32)])
A64, B64 = A.astype(np.float64), B.astype(np.float64)


def _bits(x) -> np.ndarray:
    return np.asarray(x, dtype=np.float64).view(np.int64)


def _pairs() -> pa.Table:
    ii, jj = np.divmod(np.arange(len(A) * len(B)), len(B))
    vec = pa.list_(pa.float32())
    return pa.table(
        {
            "i": pa.array(ii, pa.int32()),
            "j": pa.array(jj, pa.int32()),
            "a": pa.array(list(A[ii]), vec),
            "b": pa.array(list(B[jj]), vec),
        }
    )


def _numpy_side(ii, jj) -> dict[str, np.ndarray]:
    return {
        "dot": fold_dots(A64, B64)[ii, jj],
        "na": fold_norms(A64)[ii],
        "d2": fold_sqdist(A64, B64)[ii, jj],
    }


def test_numpy_folds_match_spark(spark) -> None:
    df = spark.createDataFrame(_pairs().to_pandas()).select(
        "i",
        "j",
        dot_fold(F.col("a"), F.col("b")).alias("dot"),
        l2_norm(F.col("a")).alias("na"),
        sqdist_fold(F.col("a"), F.col("b")).alias("d2"),
    )
    got = df.orderBy("i", "j").toPandas()
    want = _numpy_side(got["i"].to_numpy(), got["j"].to_numpy())
    for col, w in want.items():
        assert np.array_equal(_bits(got[col]), _bits(w)), col


def test_numpy_folds_match_duckdb() -> None:
    con = duckdb.connect()
    con.register("pairs", _pairs())
    got = con.execute(
        f"""SELECT i, j, {DUCK_DOT.format(a="a", b="b")} AS dot,
                   {DUCK_NORM.format(a="a")} AS na,
                   {duck_sqdist("a", "b", DIM)} AS d2
            FROM pairs ORDER BY i, j"""
    ).df()
    want = _numpy_side(got["i"].to_numpy(), got["j"].to_numpy())
    for col, w in want.items():
        assert np.array_equal(_bits(got[col]), _bits(w)), col


def test_np_q6_matches_duckdb_quantizer() -> None:
    cos = fold_dots(A64, B64) / np.outer(fold_norms(A64), fold_norms(B64))
    x = np.concatenate(
        [
            cos.ravel(),
            _rng.uniform(-3.0, 3.0, 200),
            [0.0, 1.0, -1.0, 0.5e-6, -0.5e-6, 2.5e-6, -2.5e-6, 0.1234565],
        ]
    )
    assert (x < 0).any() and (x > 0).any()
    con = duckdb.connect()
    con.register("vals", pa.table({"n": np.arange(len(x)), "x": x}))
    got = con.execute(f"SELECT {duck_q6('x')} AS q FROM vals ORDER BY n").df()
    assert np.array_equal(_bits(got["q"]), _bits(np_q6(x)))


@pytest.mark.parametrize("rows", [slice(None), slice(0, 1)], ids=["all", "same_row"])
def test_zero_start_sqdist_equals_first_diff_start(rows) -> None:
    """``fold_sqdist`` starts at 0.0; a fold that starts at the first
    diff² (DuckDB's list_reduce, the old per-kernel loops) gives the
    same bits, zero distances included (B's first row is A's first)."""
    a, b = A64[rows], B64
    acc = (a[:, 0, None] - b[None, :, 0]) ** 2
    for d in range(1, DIM):
        acc += (a[:, d, None] - b[None, :, d]) ** 2
    assert np.array_equal(_bits(fold_sqdist(a, b)), _bits(acc))
    assert (fold_sqdist(A64, B64)[0, 0]) == 0.0
