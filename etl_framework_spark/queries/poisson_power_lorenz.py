"""Contract keys: ``stats_poisson_gof``, ``stats_power_analysis``,
``events_lorenz_deciles``.

Overdispersion testing, experiment sizing, and
value-concentration deciles.

Scale notes:

- ``stats_poisson_gof``: the dispersion index comes from INTEGER
  sufficient statistics over the hourly spine (n·Σx² − (Σx)² in
  BIGINT) — bit-exact on any partitioning, |types| output rows.
- ``stats_power_analysis``: one conditional-agg pass for per-type
  mean/variance, then scalar closed-form sizing — the ceil is taken
  AFTER 6-dp rounding so both engines land on the same integer.
- ``events_lorenz_deciles``: per-user totals are QUANTIZED to 6 dp
  before ranking so decile membership can't flip on a float ulp;
  decile assignment is ntile over (total, user) — a total order.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_Z_A = 1.959963984540054  # two-sided alpha = .05
_Z_B = 0.8416212335729143  # power = .80
_MDE_FRAC = 0.05  # detect a 5% shift of the mean


# --------------------------------------------------------------------------
# Poisson goodness-of-fit — dispersion index of hourly arrival counts
# --------------------------------------------------------------------------
@query(
    "stats_poisson_gof",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY event_type, hr
    ),
    cal AS (SELECT unnest(generate_series(
              (SELECT min(hr) FROM hourly),
              (SELECT max(hr) FROM hourly), INTERVAL 1 HOUR)) AS hr),
    types AS (SELECT DISTINCT event_type FROM hourly),
    spine AS (
      SELECT t.event_type, coalesce(d.x, 0) AS x
      FROM types t CROSS JOIN cal c
      LEFT JOIN hourly d ON d.event_type = t.event_type AND d.hr = c.hr
    ),
    s AS (
      SELECT event_type, count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx
      FROM spine GROUP BY event_type HAVING sum(x) > 0 AND count(*) >= 2
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_hours,
           round(CAST(sx AS DOUBLE) / n, 6) AS mean_rate,
           round(CAST(n * sxx - sx * sx AS DOUBLE) / (CAST(n AS DOUBLE)
                 * (n - 1)), 6) AS var_rate,
           round((CAST(n * sxx - sx * sx AS DOUBLE)
                  / (CAST(n AS DOUBLE) * (n - 1)))
                 / (CAST(sx AS DOUBLE) / n), 6) AS dispersion,
           (CAST(n * sxx - sx * sx AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)))
             / (CAST(sx AS DOUBLE) / n)
             > 1 + 3 * sqrt(2.0 / (n - 1)) AS overdispersed
    FROM s
    """,
)
def stats_poisson_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson goodness-of-fit screen for hourly arrivals per event
    type via the dispersion index D = s²/x̄ — Poisson traffic has
    D = 1; D ≫ 1 (overdispersion/burstiness) invalidates every
    Poisson-based capacity or alerting model downstream, so this is
    the first check before using one. The flag compares D against
    1 + 3·√(2/(n−1)), the +3σ band of χ²(n−1)/(n−1). Sufficient
    statistics are BIGINT (n·Σx² − (Σx)² exact), so the statistic is
    bit-exact under any partitioning; the spine keeps silent hours as
    real zeros."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").cast("bigint").alias("x"))
    bounds = hourly.agg(F.min("hr").alias("d0"), F.max("hr").alias("d1"))
    cal = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 hour"))).alias("hr")
    )
    types = hourly.select("event_type").distinct()
    spine = (
        types.crossJoin(F.broadcast(cal))
        .join(hourly, ["event_type", "hr"], "left")
        .select("event_type", F.coalesce("x", F.lit(0)).alias("x"))
    )
    s = (
        spine.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
        .filter((F.col("sx") > 0) & (F.col("n") >= 2))
    )
    mean = F.col("sx").cast("double") / F.col("n")
    var = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    ) / (F.col("n").cast("double") * (F.col("n") - 1))
    disp = var / mean
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_hours"),
        F.round(mean, 6).alias("mean_rate"),
        F.round(var, 6).alias("var_rate"),
        F.round(disp, 6).alias("dispersion"),
        (disp > 1 + 3 * F.sqrt(2.0 / (F.col("n") - 1))).alias("overdispersed"),
    )


# --------------------------------------------------------------------------
# Experiment sizing — required n per arm from measured variance
# --------------------------------------------------------------------------
@query(
    "stats_power_analysis",
    oracle=f"""
    WITH s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_obs,
             avg(value) AS m, var_samp(value) AS v
      FROM events GROUP BY event_type HAVING count(*) >= 2
    ),
    calc AS (
      SELECT event_type, n_obs, m, v,
             2 * ({_Z_A} + {_Z_B}) * ({_Z_A} + {_Z_B}) * v
               / (({_MDE_FRAC} * m) * ({_MDE_FRAC} * m)) AS n_raw
      FROM s WHERE m > 0
    )
    SELECT event_type, n_obs,
           round(m, 6) AS mean_value,
           round(sqrt(v), 6) AS sd_value,
           round({_MDE_FRAC} * m, 6) AS mde_abs,
           round(n_raw, 4) AS n_per_arm_raw,
           CAST(ceil(round(n_raw, 6)) AS BIGINT) AS n_per_arm
    FROM calc
    """,
)
def stats_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment sizing from measured variance: for each event type,
    the sample size per arm needed to detect a 5% shift of the mean
    value at α = .05 (two-sided) with 80% power — n = 2(z_α+z_β)²σ²/δ²,
    the formula every A/B platform runs before a test launches, fed by
    THIS engine's variance estimates rather than a guess. One
    partial-agg pass for (n, mean, var); the rest is scalar closed
    form. The integer ceiling is taken after 6-dp rounding so a
    last-ulp variance difference can't move the reported n by one."""
    e = table(spark, sf_dir, "events")
    s = (
        e.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_obs"),
            F.avg("value").alias("m"),
            F.var_samp("value").alias("v"),
        )
        .filter((F.col("n_obs") >= 2) & (F.col("m") > 0))
    )
    zsum = _Z_A + _Z_B
    delta = _MDE_FRAC * F.col("m")
    n_raw = 2 * zsum * zsum * F.col("v") / (delta * delta)
    return s.select(
        "event_type",
        "n_obs",
        F.round("m", 6).alias("mean_value"),
        F.round(F.sqrt("v"), 6).alias("sd_value"),
        F.round(delta, 6).alias("mde_abs"),
        F.round(n_raw, 4).alias("n_per_arm_raw"),
        F.ceil(F.round(n_raw, 6)).cast("bigint").alias("n_per_arm"),
    )


# --------------------------------------------------------------------------
# Lorenz deciles — cumulative value concentration across users
# --------------------------------------------------------------------------
@query(
    "events_lorenz_deciles",
    oracle="""
    WITH per_user AS (
      SELECT user_id, round(sum(value), 6) AS total
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT total, ntile(10) OVER (ORDER BY total, user_id) AS decile
      FROM per_user
    ),
    ds AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
             sum(total) AS dec_total
      FROM ranked GROUP BY decile
    )
    SELECT decile, n_users,
           round(dec_total / sum(dec_total) OVER (), 6) AS decile_share,
           round(sum(dec_total) OVER (ORDER BY decile)
                 / sum(dec_total) OVER (), 6) AS cum_share
    FROM ds
    """,
)
def events_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lorenz table behind events_gini: users sorted by total
    event value, cut into deciles, each decile's share and cumulative
    share of total value — the '(bottom 50% holds x%, top 10% holds
    y%)' statement auditors and capacity planners actually quote.
    Per-user totals are quantized to 6 dp BEFORE ranking (with a
    user_id tie-break) so decile membership is a total order immune
    to float-ulp differences; after the per-user rollup everything
    runs on |users| rows, and the output is 10 rows at any scale."""
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.round(F.sum("value"), 6).alias("total")
    )
    ranked = per_user.select(
        "total",
        F.ntile(10).over(W.orderBy("total", "user_id")).alias("decile"),
    )
    ds = ranked.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("total").alias("dec_total"),
    )
    w_all = W.partitionBy()
    w_cum = W.partitionBy().orderBy("decile")
    return ds.select(
        "decile",
        "n_users",
        F.round(F.col("dec_total") / F.sum("dec_total").over(w_all), 6).alias(
            "decile_share"
        ),
        F.round(
            F.sum("dec_total").over(w_cum) / F.sum("dec_total").over(w_all), 6
        ).alias("cum_share"),
    )
