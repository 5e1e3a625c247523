"""Contract keys: ``ts_holt_winters``.

Holt-Winters triple exponential smoothing.

``ts_holt_winters``: the seasonal upgrade of ts_holt — level + trend
+ a 24-hour additive seasonal cycle over the zero-filled hourly
spine, with in-sample one-step SSE tracked inside the same fold.

Determinism: the recurrence is a strict left fold whose accumulator
is [level, trend, sse, s₁..s₂₄] (27 doubles). Spark folds a struct
(l, b, err, s:array) over the hour index with `aggregate`; DuckDB
folds a 27-element list with `list_reduce`; both engines execute the
IDENTICAL inlined IEEE expression sequence (lambdas have no let-
bindings, so the new-level expression is inlined wherever it is
referenced — on BOTH sides), so the final state matches bit-for-bit
before the emit-boundary quantization (ts_holt's discipline).

Scale: the fold runs per event type over the |hours| spine (720
points at any raw volume) after one rollup shuffle — the heavy lift
is the groupBy; the smoothing itself is O(|spine|) inside one task
per type, which is exactly how per-series state-space models
parallelize on a cluster (series are the partition unit).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_M = 24  # season length (hours)
_AL, _BE, _GA = 0.3, 0.05, 0.2  # alpha, beta, gamma


def _duck_hw() -> str:
    al, be, ga, m = _AL, _BE, _GA, _M
    # accumulator layout: [l, b, err, s1..s24]; DuckDB list_reduce has
    # no init argument, so (ts_holt's trick, extended) the init state
    # is the FIRST list element and each later element carries its
    # hour index t in position 1
    l, b, err = "acc[1]", "acc[2]", "acc[3]"
    t = "CAST(el[1] AS INT)"
    x = f"xs[{t}]"
    idx = f"(({t} - 1) % {m}) + 1"
    sea = f"acc[3 + {idx}]"
    lnew = f"(({x} - {sea}) * {al} + ({l} + {b}) * {1 - al})"
    bnew = f"(({lnew} - {l}) * {be} + {b} * {1 - be})"
    snew = f"(({x} - {lnew}) * {ga} + {sea} * {1 - ga})"
    e = f"({x} - ({l} + {b} + {sea}))"
    step = f"""
      list_concat(
        [{lnew}, {bnew}, {err} + {e} * {e}],
        list_concat(
          list_concat(list_slice(acc, 4, 3 + {idx} - 1), [{snew}]),
          list_slice(acc, 3 + {idx} + 1, {3 + m})))
    """
    fc = []
    for h in (1, 2, 3):
        fidx = f"((n + {h} - 1) % {m}) + 1"
        fc.append(
            f"floor((st[1] + {h} * st[2] + st[3 + {fidx}]) * 1e6 + 0.5)"
            f" / 1e6 AS forecast_{h}"
        )
    return f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS DOUBLE) AS n
      FROM events GROUP BY event_type, hr
    ),
    cal AS (SELECT unnest(generate_series(
              (SELECT min(hr) FROM hourly),
              (SELECT max(hr) FROM hourly), INTERVAL 1 HOUR)) AS hr),
    types AS (SELECT DISTINCT event_type FROM hourly),
    spine AS (
      SELECT t.event_type, c.hr, coalesce(d.n, 0.0) AS x
      FROM types t CROSS JOIN cal c
      LEFT JOIN hourly d ON d.event_type = t.event_type AND d.hr = c.hr
    ),
    arrs AS (
      SELECT event_type, list(x ORDER BY hr) AS xs
      FROM spine GROUP BY event_type
      HAVING count(*) >= {3 * m}
    ),
    inits AS (
      SELECT event_type, xs, len(xs) AS n,
             list_reduce(xs[1:{m}], (p, q) -> p + q) / {m} AS l0,
             (list_reduce(xs[{m + 1}:{2 * m}], (p, q) -> p + q) / {m}
              - list_reduce(xs[1:{m}], (p, q) -> p + q) / {m}) / {m} AS b0
      FROM arrs
    ),
    folded AS (
      SELECT event_type, n,
             list_reduce(
               list_concat(
                 [list_concat([l0, b0, CAST(0.0 AS DOUBLE)],
                              list_transform(range({m}),
                                             i -> xs[i + 1] - l0))],
                 list_transform(range({m} + 1, n + 1), tt ->
                   list_concat([CAST(tt AS DOUBLE)],
                               list_transform(range({2 + m}),
                                              z -> CAST(0.0 AS DOUBLE))))),
               (acc, el) -> {step}
             ) AS st
      FROM inits
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_hours,
           floor(st[1] * 1e6 + 0.5) / 1e6 AS level,
           floor(st[2] * 1e6 + 0.5) / 1e6 AS trend,
           floor(sqrt(st[3] / (n - {m})) * 1e6 + 0.5) / 1e6 AS rmse_1step,
           {', '.join(fc)}
    FROM folded
    """


@query("ts_holt_winters", oracle=_duck_hw())
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters triple exponential smoothing (additive, 24-hour
    season, α=0.3 β=0.05 γ=0.2) of each event type's hourly volume:
    final level, trend, one-step in-sample RMSE, and the next three
    hourly forecasts — the workhorse short-horizon traffic forecaster
    and the seasonal completion of the smoothing family (win_ewma →
    ts_holt → here). Initialization is the standard first-cycle mean
    (level), first-vs-second-cycle mean slope (trend), and
    first-cycle deviations (seasonal); the recurrence then runs as a
    strict left fold with a 27-component accumulator on BOTH engines
    (see module docstring for the bit-exactness argument). RMSE is
    accumulated inside the same fold, so quality reporting costs no
    second pass."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").cast("double").alias("n"))
    bounds = hourly.agg(F.min("hr").alias("d0"), F.max("hr").alias("d1"))
    cal = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 hour"))).alias("hr")
    )
    types = hourly.select("event_type").distinct()
    spine = (
        types.crossJoin(F.broadcast(cal))
        .join(hourly, ["event_type", "hr"], "left")
        .select(
            "event_type", "hr", F.coalesce("n", F.lit(0.0)).alias("x")
        )
    )
    arrs = (
        spine.groupBy("event_type")
        .agg(F.array_sort(F.collect_list(F.struct("hr", "x"))).alias("sv"))
        .select("event_type", F.col("sv.x").alias("xs"))
        .filter(F.size("xs") >= 3 * _M)
    )
    m, al, be, ga = _M, _AL, _BE, _GA
    # strict-fold init statistics (list_reduce parity, NOT sum())
    sql_l0 = (
        f"aggregate(slice(xs, 1, {m}), CAST(0.0 AS DOUBLE),"
        f" (p, q) -> p + q) / {m}"
    )
    sql_c2 = (
        f"aggregate(slice(xs, {m + 1}, {m}), CAST(0.0 AS DOUBLE),"
        f" (p, q) -> p + q) / {m}"
    )
    # DuckDB list_reduce has no init: it folds x1+x2+..; Spark's 0.0+x1
    # prefix is IEEE-identical (0.0 + x == x)
    init = (
        f"concat(array({sql_l0}, ({sql_c2} - {sql_l0}) / {m},"
        f" CAST(0.0 AS DOUBLE)),"
        f" transform(sequence(0, {m - 1}), i ->"
        f" element_at(xs, i + 1) - ({sql_l0})))"
    )
    x = "element_at(xs, t)"
    idx = f"((t - 1) % {m}) + 1"
    l, b, err = "element_at(acc, 1)", "element_at(acc, 2)", "element_at(acc, 3)"
    sea = f"element_at(acc, 3 + {idx})"
    lnew = f"(({x} - {sea}) * {al} + ({l} + {b}) * {1 - al})"
    bnew = f"(({lnew} - {l}) * {be} + {b} * {1 - be})"
    snew = f"(({x} - {lnew}) * {ga} + {sea} * {1 - ga})"
    e_ = f"({x} - ({l} + {b} + {sea}))"
    step = (
        f"concat(array({lnew}, {bnew}, {err} + {e_} * {e_}),"
        f" concat(concat(slice(acc, 4, {idx} - 1), array({snew})),"
        f" slice(acc, 3 + {idx} + 1, {m} - {idx})))"
    )
    folded = arrs.select(
        "event_type",
        F.size("xs").alias("n"),
        F.expr(
            f"aggregate(sequence({m} + 1, size(xs)), {init},"
            f" (acc, t) -> {step})"
        ).alias("st"),
    )
    q = lambda c: F.floor(c * 1e6 + 0.5) / 1e6
    st = F.col("st")
    n = F.col("n")
    fcs = []
    for h in (1, 2, 3):
        fidx = ((n + h - 1) % m) + 1
        fcs.append(
            q(
                F.element_at(st, 1)
                + h * F.element_at(st, 2)
                + F.element_at(st, (F.lit(3) + fidx).cast("int"))
            ).alias(f"forecast_{h}")
        )
    return folded.select(
        "event_type",
        n.cast("bigint").alias("n_hours"),
        q(F.element_at(st, 1)).alias("level"),
        q(F.element_at(st, 2)).alias("trend"),
        q(F.sqrt(F.element_at(st, 3) / (n - m))).alias("rmse_1step"),
        *fcs,
    )
