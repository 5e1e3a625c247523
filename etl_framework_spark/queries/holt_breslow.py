"""Contract keys: ``ts_holt_damped``, ``sales_brand_momentum``,
``stats_breslow_day``.

Damped Holt forecast, brand momentum, and the
Breslow-Day homogeneity test.

Reference parity: the reference's damped-trend forecaster, its
momentum ranking, and its odds-ratio homogeneity check (the
companion the Mantel-Haenszel pool needs) — re-expressed as a
two-state vector fold, conditional half-period sums, and a
closed-form quadratic per stratum.

Scale notes:

- ``ts_holt_damped``: the (level, trend) state folds as a 2-element
  list over singleton-wrapped observations — same element-type
  trick as llm_rouge_l, bit-stable on both engines.
- ``sales_brand_momentum``: one conditional rollup per brand.
- ``stats_breslow_day``: each nation-stratum's expected cell is the
  root of a quadratic (closed form) — no iteration anywhere.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.rounding import q6

_HD_A = 0.3  # level smoothing
_HD_B = 0.1  # trend smoothing
_HD_PHI = 0.9  # damping


# --------------------------------------------------------------------------
# Damped Holt: level+trend fold with damping
# --------------------------------------------------------------------------
@query(
    "ts_holt_damped",
    oracle=f"""
    WITH monthly AS (
      SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS m,
             CAST(sum(l_quantity) AS DOUBLE) AS y
      FROM lineitem GROUP BY m
    ),
    arr AS (
      SELECT list(y ORDER BY m) AS ys,
             CAST(count(*) AS BIGINT) AS n
      FROM monthly
    ),
    st AS (
      SELECT n,
             list_reduce(
               list_prepend([ys[1], ys[2] - ys[1]],
                 list_transform(list_slice(ys, 2, len(ys)), x -> [x])),
               (acc, xv) -> [
                 {_HD_A} * xv[1]
                   + {1 - _HD_A} * (acc[1] + {_HD_PHI} * acc[2]),
                 {_HD_B} * (({_HD_A} * xv[1]
                   + {1 - _HD_A} * (acc[1] + {_HD_PHI} * acc[2])) - acc[1])
                   + {1 - _HD_B} * {_HD_PHI} * acc[2]
               ]) AS s
      FROM arr
    )
    SELECT n AS n_months,
           floor(s[1] * 1000000 + 0.5) / 1000000 AS level,
           floor(s[2] * 1000000 + 0.5) / 1000000 AS trend,
           floor((s[1] + {_HD_PHI} * s[2]) * 1000000 + 0.5) / 1000000
             AS forecast_h1,
           floor((s[1] + ({_HD_PHI} + {_HD_PHI * _HD_PHI}) * s[2])
                 * 1000000 + 0.5) / 1000000 AS forecast_h2
    FROM st
    """,
)
def ts_holt_damped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped-trend Holt forecast of monthly demand (α=0.3, β=0.1,
    φ=0.9): the (level, trend) pair folds left-to-right as a
    2-element list over singleton-wrapped observations (list_reduce
    needs acc type = element type — the same trick as llm_rouge_l's
    DP rows), initialized the textbook way (l₁=y₁, b₁=y₂−y₁).
    Damping shrinks the trend φ^h at horizon h — the M-competition
    fix for Holt's runaway long-horizon forecasts. Bit-stable
    cross-engine. Ref: reference forecasting tests (cf. ts_holt for
    the undamped form, ts_theta_method — damped Holt ≈ Theta on
    many series)."""
    li = table(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.date_trunc("month", F.col("l_shipdate").cast("date")).alias("m")
    ).agg(F.sum("l_quantity").cast("double").alias("y"))
    arr = monthly.agg(
        F.array_sort(F.collect_list(F.struct("m", "y"))).alias("mv"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    ).select(F.col("mv.y").alias("ys"), "n")
    ys = F.col("ys")
    a, b, phi = F.lit(_HD_A), F.lit(_HD_B), F.lit(_HD_PHI)
    init = F.array(
        F.element_at(ys, 1), F.element_at(ys, 2) - F.element_at(ys, 1)
    )
    elems = F.transform(
        F.slice(ys, 2, F.size(ys) - 1), lambda x: F.array(x)
    )

    def step(acc, xv):
        new_l = a * F.element_at(xv, 1) + (F.lit(1.0) - a) * (
            F.element_at(acc, 1) + phi * F.element_at(acc, 2)
        )
        new_b = b * (new_l - F.element_at(acc, 1)) + (F.lit(1.0) - b) * phi * F.element_at(
            acc, 2
        )
        return F.array(new_l, new_b)

    st = arr.select("n", F.aggregate(elems, init, step).alias("s"))
    lv = F.element_at(F.col("s"), 1)
    tr = F.element_at(F.col("s"), 2)
    return st.select(
        F.col("n").alias("n_months"),
        q6(lv).alias("level"),
        q6(tr).alias("trend"),
        q6(lv + _HD_PHI * tr).alias("forecast_h1"),
        q6(lv + (_HD_PHI + _HD_PHI * _HD_PHI) * tr).alias("forecast_h2"),
    )


# --------------------------------------------------------------------------
# Brand momentum: last 6 months vs the prior 6
# --------------------------------------------------------------------------
@query(
    "sales_brand_momentum",
    oracle="""
    WITH mx AS (SELECT max(CAST(l_shipdate AS DATE)) AS asof FROM lineitem),
    base AS (
      SELECT p.p_brand AS brand,
             CASE WHEN CAST(l.l_shipdate AS DATE)
                       > mx.asof - INTERVAL 6 MONTH THEN 'recent'
                  WHEN CAST(l.l_shipdate AS DATE)
                       > mx.asof - INTERVAL 12 MONTH THEN 'prior'
                  ELSE NULL END AS period,
             l.l_extendedprice * (1 - l.l_discount) AS rev
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      CROSS JOIN mx
    ),
    g AS (
      SELECT brand,
             sum(CASE WHEN period = 'recent' THEN rev ELSE 0 END) AS r1,
             sum(CASE WHEN period = 'prior' THEN rev ELSE 0 END) AS r0
      FROM base WHERE period IS NOT NULL GROUP BY brand
    )
    SELECT brand,
           round(r1, 2) AS recent_6m_rev,
           round(r0, 2) AS prior_6m_rev,
           round((r1 - r0) / r0, 6) AS momentum
    FROM g WHERE r0 > 0
    ORDER BY (r1 - r0) / r0 DESC, brand LIMIT 10
    """,
)
def sales_brand_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand momentum: net revenue in the trailing 6 months vs the
    6 before, top-10 accelerating brands — the windowed growth
    ranking a category manager reads weekly (two fixed windows
    anchored at the data's as-of date dodge the partial-period trap
    that month-over-month tables fall into). One broadcast-dim join
    + conditional sums. Ref: reference momentum reports (cf.
    sales_mom_growth for the series, sales_share_shift for the
    share view)."""
    li = table(spark, sf_dir, "lineitem")
    pt = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    mx = li.agg(F.max(F.col("l_shipdate").cast("date")).alias("asof"))
    base = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .crossJoin(F.broadcast(mx))
        .select(
            F.col("p_brand").alias("brand"),
            F.when(
                F.col("l_shipdate").cast("date")
                > F.add_months(F.col("asof"), -6),
                "recent",
            )
            .when(
                F.col("l_shipdate").cast("date")
                > F.add_months(F.col("asof"), -12),
                "prior",
            )
            .alias("period"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        )
        .filter(F.col("period").isNotNull())
    )
    g = base.groupBy("brand").agg(
        F.sum(F.when(F.col("period") == "recent", F.col("rev")).otherwise(0.0)).alias(
            "r1"
        ),
        F.sum(F.when(F.col("period") == "prior", F.col("rev")).otherwise(0.0)).alias(
            "r0"
        ),
    )
    mom = (F.col("r1") - F.col("r0")) / F.col("r0")
    return (
        g.filter(F.col("r0") > 0)
        .select(
            "brand",
            F.round("r1", 2).alias("recent_6m_rev"),
            F.round("r0", 2).alias("prior_6m_rev"),
            F.round(mom, 6).alias("momentum"),
            mom.alias("_m"),
        )
        .orderBy(F.desc("_m"), "brand")
        .limit(10)
        .drop("_m")
    )


# --------------------------------------------------------------------------
# Breslow-Day: is the return-rate odds ratio homogeneous by nation?
# --------------------------------------------------------------------------
@query(
    "stats_breslow_day",
    oracle="""
    WITH base AS (
      SELECT s.s_nationkey AS nation,
             CASE WHEN l.l_quantity > 25 THEN 1 ELSE 0 END AS exposed,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS bad
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    ),
    cells AS (
      SELECT nation,
             CAST(sum(exposed * bad) AS DOUBLE) AS a,
             CAST(sum(exposed * (1 - bad)) AS DOUBLE) AS b,
             CAST(sum((1 - exposed) * bad) AS DOUBLE) AS c,
             CAST(sum((1 - exposed) * (1 - bad)) AS DOUBLE) AS d
      FROM base GROUP BY nation
      HAVING sum(exposed * bad) > 0 AND sum(exposed * (1 - bad)) > 0
         AND sum((1 - exposed) * bad) > 0
         AND sum((1 - exposed) * (1 - bad)) > 0
    ),
    mh AS (
      SELECT sum(a * d / (a + b + c + d)) / sum(b * c / (a + b + c + d))
               AS psi
      FROM cells
    ),
    expct AS (
      SELECT nation, a, b, c, d, mh.psi,
             a + b AS n1, c + d AS n2, a + c AS m1,
             1 - mh.psi AS qa,
             mh.psi * ((a + b) + (a + c)) + ((c + d) - (a + c)) AS qb,
             -mh.psi * (a + b) * (a + c) AS qc
      FROM cells CROSS JOIN mh
    ),
    solved AS (
      SELECT nation, a, psi,
             CASE WHEN abs(qa) < 1e-12 THEN -qc / qb
                  ELSE (-qb + sqrt(qb * qb - 4 * qa * qc)) / (2 * qa) END
               AS a_exp,
             n1, n2, m1
      FROM expct
    ),
    terms AS (
      SELECT nation, a, a_exp,
             1.0 / (1.0 / a_exp + 1.0 / (n1 - a_exp)
                    + 1.0 / (m1 - a_exp)
                    + 1.0 / (n2 - m1 + a_exp)) AS var_a
      FROM solved
    )
    SELECT CAST(count(*) AS BIGINT) AS n_strata,
           floor((SELECT psi FROM mh) * 1000000 + 0.5) / 1000000
             AS mh_common_or,
           floor(sum((a - a_exp) * (a - a_exp) / var_a) * 10000 + 0.5)
             / 10000 AS breslow_day_chi2,
           CAST(count(*) - 1 AS BIGINT) AS df
    FROM terms
    """,
)
def stats_breslow_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breslow-Day homogeneity test: is the big-quantity → returned
    odds ratio the SAME across supplier nations? Each stratum's
    expected a-cell under the Mantel-Haenszel common OR is the
    positive root of (1−ψ)a² + [ψ(n₁+m₁)+n₂−m₁]a − ψn₁m₁ = 0
    (closed form — no iteration), and χ² = Σ(a−â)²/Var(â). THE
    companion to stats_mantel_haenszel: pooling is only honest when
    this test passes. Integer counts → deterministic algebra. Ref:
    reference stratified-inference tests (cf. stats_simpsons for
    what heterogeneity does to naive pooling)."""
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    base = li.join(sup, li.l_suppkey == sup.s_suppkey).select(
        F.col("s_nationkey").alias("nation"),
        F.when(F.col("l_quantity") > 25, 1).otherwise(0).alias("exposed"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("bad"),
    )
    e, bd = F.col("exposed"), F.col("bad")
    cells = (
        base.groupBy("nation")
        .agg(
            F.sum(e * bd).cast("double").alias("a"),
            F.sum(e * (1 - bd)).cast("double").alias("b"),
            F.sum((1 - e) * bd).cast("double").alias("c"),
            F.sum((1 - e) * (1 - bd)).cast("double").alias("d"),
        )
        .filter(
            (F.col("a") > 0) & (F.col("b") > 0) & (F.col("c") > 0) & (F.col("d") > 0)
        )
    )
    n_tot = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    mh = cells.agg(
        (
            F.sum(F.col("a") * F.col("d") / n_tot)
            / F.sum(F.col("b") * F.col("c") / n_tot)
        ).alias("psi")
    )
    j = cells.crossJoin(F.broadcast(mh))
    n1 = F.col("a") + F.col("b")
    n2 = F.col("c") + F.col("d")
    m1 = F.col("a") + F.col("c")
    qa = 1 - F.col("psi")
    qb = F.col("psi") * (n1 + m1) + (n2 - m1)
    qc = -F.col("psi") * n1 * m1
    a_exp = F.when(
        F.abs(qa) < 1e-12, -qc / qb
    ).otherwise((-qb + F.sqrt(qb * qb - 4 * qa * qc)) / (2 * qa))
    solved = j.select(
        "nation",
        "a",
        "psi",
        a_exp.alias("a_exp"),
        n1.alias("n1"),
        n2.alias("n2"),
        m1.alias("m1"),
    )
    var_a = 1.0 / (
        1.0 / F.col("a_exp")
        + 1.0 / (F.col("n1") - F.col("a_exp"))
        + 1.0 / (F.col("m1") - F.col("a_exp"))
        + 1.0 / (F.col("n2") - F.col("m1") + F.col("a_exp"))
    )
    terms = solved.select("nation", "a", "a_exp", "psi", var_a.alias("var_a"))
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        (F.floor(F.max("psi") * 1000000.0 + 0.5) / 1000000.0).alias(
            "mh_common_or"
        ),
        (
            F.floor(
                F.sum(
                    (F.col("a") - F.col("a_exp"))
                    * (F.col("a") - F.col("a_exp"))
                    / F.col("var_a")
                )
                * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("breslow_day_chi2"),
        (F.count(F.lit(1)) - 1).cast("bigint").alias("df"),
    )
