"""Hybrid exact HALF_UP rounding for wide double projections.

`F.round(x, s)` on doubles routes every value through a JVM
BigDecimal built from `Double.toString` — measured ~0.25 s per rounded
column per million rows, which makes wide math projections
round-dominated (fn_math2: raw 15-function projection 0.59 s, with 13
rounds 3.5-4.9 s at sf0.1; guide §1.3/§4.2).

The hybrid: one Arrow kernel computes the cheap binary fast path
  fast(x) = sign(x) * floor(|x|*10^s + 0.5) / 10^s
for every value plus a GUARD flag, and the final projection keeps
Spark's own `F.round` for guard rows only — evaluated lazily inside a
`when`, so the BigDecimal path runs on a measured ~1e-5 fraction of
rows (60 of 8.4M values at sf0.1) and the result is EXACTLY
`F.round`, not an approximation of it.

Exactness argument: `F.round` rounds the SHORTEST-DECIMAL value d_s
of x (BigDecimal.valueOf = Double.toString) HALF_UP at scale s, while
fast() rounds the binary product fl(|x|*10^s). The two can only
disagree when d_s*10^s and y = fl(|x|*10^s) fall on opposite sides of
a half-integer boundary, and
  |y - d_s*10^s| <= |y - |x|*10^s| + |x - d_s|*10^s
                 <= ulp(y) + (ulp(x)/2)*10^s  <=  ~3*ulp(y),
so every disagreement candidate satisfies
  |frac(y) - 0.5| <= few*ulp(y)  <=  1e-9 + y*1e-15  (the guard band,
a >100x overestimate of 3*ulp at every magnitude; for y >= 5e14 the
band exceeds 0.5, sending ALL values with ulp(y) ~ 1 to the exact
path). Guard rows take Spark's own Round, so JVM `Double.toString`
semantics (pre-JDK-19 non-shortest corner cases included) are
preserved bit for bit. Ties sit inside the band by construction, so
HALF_UP-vs-floor(+0.5) sign asymmetry never reaches the fast path:
fast() handles negatives by rounding the magnitude (half AWAY from
zero, same as HALF_UP).

Contract: input values must be non-null AND non-NaN — pandas uses NaN
as the null sentinel, so either would surface as NULL after the
kernel. ±Inf fast-paths as itself. Every current caller satisfies
this (non-null TPC-H numerics through total libm functions).
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def q6(c: Column) -> Column:
    """Sign-agnostic emit-boundary quantization to 6 dp, floor(x·1e6 +
    0.5) / 1e6 — for values that are non-negative or far from .5 ulp
    ties."""
    return F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


def hybrid_round_select(
    df: DataFrame,
    passthrough: list[str],
    items: list[tuple],
) -> DataFrame:
    """`df.select(*passthrough, *[F.round(e, s).alias(n)])` with the
    BigDecimal work confined to the guard band. `items` is a list of
    (alias, Column, scale); scales may differ per column."""
    inner = df.select(
        *passthrough, *[e.alias(f"__r_{n}") for n, e, _ in items]
    )
    dtypes = dict(inner.dtypes)
    schema = ", ".join(
        [f"{c} {dtypes[c]}" for c in passthrough]
        + [f"{n} double, __g_{n} boolean, __r_{n} double" for n, _, _ in items]
    )
    names_scales = [(n, s) for n, _, s in items]

    def kern(batches):
        import numpy as np

        for pdf in batches:
            out = {c: pdf[c] for c in passthrough}
            for n, s in names_scales:
                x = pdf[f"__r_{n}"].to_numpy()
                m = float(10**s)
                y = np.abs(x) * m
                # |x|*10^s overflows to inf for finite |x| near the
                # double max; those go to F.round too (which returns x)
                out[f"__g_{n}"] = np.isinf(y) | (
                    np.abs(y - np.floor(y) - 0.5) <= (1e-9 + y * 1e-15)
                )
                out[n] = np.sign(x) * np.floor(y + 0.5) / m
                out[f"__r_{n}"] = x
            yield __import__("pandas").DataFrame(out)

    k = inner.mapInPandas(kern, schema)
    return k.select(
        *passthrough,
        *[
            F.when(F.col(f"__g_{n}"), F.round(F.col(f"__r_{n}"), s))
            .otherwise(F.col(n))
            .alias(n)
            for n, s in names_scales
        ],
    )
