"""r12: hybrid_round_select must equal F.round bit for bit. Pin it on
(a) adversarial boundary values (exact .5 ties at several magnitudes,
negatives, shortest-repr traps), (b) a large randomized sweep, and
(c) mixed scales in one call."""
import math
import random

import pytest
from pyspark.sql import functions as F

from etl_framework_spark.operators.rounding import hybrid_round_select

ADVERSARIAL = [
    0.1234565, -0.1234565, 0.1234575, -0.1234575,
    1.0000005, -1.0000005, 0.0000005, -0.0000005,
    0.9999995, -0.9999995, 5e-7, 1.5e-6, -1.5e-6,
    0.12345649999999999, 0.30000000000000004, 0.1 + 0.2,
    123456789.1234565, 4503599627.370495, 9007199254.740993,
    1e15 + 0.5, -1e15 - 0.5, 0.0, -0.0, 1e-300, 1e300,
]


def _cmp(spark, vals, scale):
    df = spark.createDataFrame([(i, float(v)) for i, v in enumerate(vals)],
                               "id long, x double")
    want = {r.id: r.w for r in df.select("id", F.round("x", scale).alias("w")).collect()}
    got = {
        r.id: r.g
        for r in hybrid_round_select(
            df, ["id"], [("g", F.col("x"), scale)]
        ).collect()
    }
    diffs = {i: (want[i], got[i]) for i in want if want[i] != got[i]}
    assert not diffs, f"scale={scale}: {diffs}"


@pytest.mark.parametrize("scale", [2, 6])
def test_adversarial_boundaries(spark, scale):
    _cmp(spark, ADVERSARIAL, scale)


def test_randomized_sweep_matches_round(spark):
    rng = random.Random(12345)
    vals = []
    for _ in range(20000):
        mag = rng.uniform(-12, 12)
        vals.append(rng.uniform(-1, 1) * (10 ** mag))
    # salt with values engineered near 6dp half boundaries
    for _ in range(2000):
        k = rng.randrange(-10**9, 10**9)
        vals.append((k + 0.5) / 1e6)
        vals.append((k + 0.5) / 1e6 + rng.choice([-1, 1]) * 1e-13)
    _cmp(spark, vals, 6)


def test_mixed_scales_and_passthrough(spark):
    df = spark.createDataFrame(
        [(1, 0.125), (2, -2.675), (3, 1234.56785)], "id long, x double"
    )
    out = hybrid_round_select(
        df, ["id"], [("a", F.col("x"), 2), ("b", F.col("x") * 3, 6)]
    )
    want = df.select(
        "id", F.round("x", 2).alias("a"), F.round(F.col("x") * 3, 6).alias("b")
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, want.collect()))


def test_inf_fast_path_and_nan_contract(spark):
    df = spark.createDataFrame(
        [(1, float("nan")), (2, float("inf")), (3, float("-inf"))],
        "id long, x double",
    )
    rows = {r.id: r.g for r in hybrid_round_select(
        df, ["id"], [("g", F.col("x"), 6)]).collect()}
    # documented contract: NaN is pandas' null sentinel -> NULL out;
    # inputs are required to be non-null/non-NaN, +-Inf passes through
    assert rows[1] is None
    assert rows[2] == float("inf") and rows[3] == float("-inf")


def test_finite_values_whose_scaled_magnitude_overflows(spark):
    # |x| * 10^6 is inf for these finite x; F.round returns x itself
    _cmp(spark, [1e303, -1e303, 1.7976931348623157e308, -1.8e302, 2e302], 6)
