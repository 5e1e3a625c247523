"""Contract keys: ``stats_ljung_box``, ``dq_order_lineitem_reconcile``,
``vec_maxsim_lite``.

Ljung-Box whiteness test, cross-table
reconciliation, and late-interaction (MaxSim) retrieval scoring.

Reference parity: the reference's residual-whiteness diagnostics,
its ledger reconciliation report, and its multi-vector retrieval
scorer — re-expressed as lag-window autocorrelations, a tolerance-
banded rollup join, and per-subvector max-of-dots folds.

Scale notes:

- ``stats_ljung_box``: seven lag columns from ONE window pass over
  the 30-row daily rollup; Q is a scalar sum — the whole test is
  rollup-sized regardless of event volume.
- ``dq_order_lineitem_reconcile``: one fact rollup keyed by order +
  one join to the header table; tolerance bands are conditional
  counts — the reconciliation never moves line-level rows twice.
- ``vec_maxsim_lite``: late interaction scores every doc with
  Σ_q max_d (q_i·d_j) over 8x8 subvector dots — all row-local
  strict folds against a BROADCAST query vector; the only shuffle
  is the final top-k. The multi-vector upgrade of llm_sim_topk.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_LB_LAGS = 7
_CHI2_7_95 = 14.067140449340169
_TOL = (0.01, 0.10, 0.25)
_SUB_D = 8
_N_SUB = 8
_Q_VEC = 7  # query vector id for MaxSim
_TOPK = 5


# --------------------------------------------------------------------------
# Ljung-Box portmanteau test on daily purchase counts
# --------------------------------------------------------------------------
@query(
    "stats_ljung_box",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(count(*) AS DOUBLE) AS y
      FROM events WHERE event_type = 'purchase' GROUP BY day
    ),
    c AS (SELECT day, y - avg(y) OVER () AS e FROM daily),
    l AS (
      SELECT e,
             {", ".join(f"lag(e, {k}) OVER (ORDER BY day) AS e{k}"
                        for k in range(1, _LB_LAGS + 1))}
      FROM c
    ),
    m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             sum(e * e) AS s0,
             {", ".join(f"coalesce(sum(e * e{k}), 0.0) AS s{k}"
                        for k in range(1, _LB_LAGS + 1))}
      FROM l
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           {", ".join(f"round(s{k} / s0, 6) AS acf_{k}"
                      for k in range(1, 4))},
           round(n * (n + 2) * ({" + ".join(
               f"(s{k} / s0) * (s{k} / s0) / (n - {k})"
               for k in range(1, _LB_LAGS + 1))}), 6) AS q_stat,
           n * (n + 2) * ({" + ".join(
               f"(s{k} / s0) * (s{k} / s0) / (n - {k})"
               for k in range(1, _LB_LAGS + 1))}) > {_CHI2_7_95}
             AS autocorrelated
    FROM m
    """,
)
def stats_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau whiteness test on daily purchase counts:
    Q = n(n+2)·Σ_{{k=1..7}} ρ̂²_k/(n−k) against χ²₇ — the one-number
    answer to 'is this series white noise or does something carry
    over day to day', and the standard residual check after any
    forecast fit (ts_holt, ts_holt_winters). All seven lag products
    come from one window pass over the 30-row rollup; the first
    three ACFs ride along for inspection. Ref: reference whiteness
    tests (cf. ts_autocorr_k, stats_runs_test)."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("y")
    )
    c = daily.select(
        "day", (F.col("y") - F.avg("y").over(W.partitionBy())).alias("e")
    )
    wd = W.partitionBy().orderBy("day")
    lag_cols = [F.lag("e", k).over(wd).alias(f"e{k}") for k in range(1, _LB_LAGS + 1)]
    l = c.select("e", *lag_cols)
    aggs = [
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("e") * F.col("e")).alias("s0"),
    ] + [
        F.coalesce(F.sum(F.col("e") * F.col(f"e{k}")), F.lit(0.0)).alias(f"s{k}")
        for k in range(1, _LB_LAGS + 1)
    ]
    m = l.agg(*aggs)
    q = None
    for k in range(1, _LB_LAGS + 1):
        rho2 = (F.col(f"s{k}") / F.col("s0")) * (F.col(f"s{k}") / F.col("s0"))
        term = rho2 / (F.col("n") - k)
        q = term if q is None else q + term
    q_stat = F.col("n") * (F.col("n") + 2) * q
    return m.select(
        F.col("n").cast("bigint").alias("n_days"),
        *[
            F.round(F.col(f"s{k}") / F.col("s0"), 6).alias(f"acf_{k}")
            for k in range(1, 4)
        ],
        F.round(q_stat, 6).alias("q_stat"),
        (q_stat > _CHI2_7_95).alias("autocorrelated"),
    )


# --------------------------------------------------------------------------
# Order-header vs line-level reconciliation report
# --------------------------------------------------------------------------
@query(
    "dq_order_lineitem_reconcile",
    oracle=f"""
    WITH lines AS (
      SELECT l_orderkey AS k,
             sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))
               AS expected
      FROM lineitem GROUP BY k
    ),
    j AS (
      SELECT o.o_orderkey, o.o_totalprice, lines.expected,
             lines.expected IS NOT NULL AS has_lines,
             CASE WHEN lines.expected IS NOT NULL
                  THEN abs(o.o_totalprice - lines.expected)
                       / lines.expected END AS rel_err
      FROM orders o LEFT JOIN lines ON o.o_orderkey = lines.k
    )
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(*) FILTER (NOT has_lines) AS BIGINT)
             AS n_without_lines,
           {", ".join(
               f"round(CAST(count(*) FILTER (rel_err <= {t}) AS DOUBLE)"
               f" / count(*) FILTER (has_lines), 6) AS match_within_{int(t*100)}pct"
               for t in _TOL)},
           round(quantile_cont(o_totalprice / expected, 0.5), 6)
             AS median_header_to_lines_ratio
    FROM j
    """,
)
def dq_order_lineitem_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ledger reconciliation: does each order header's total match
    the TPC-H identity Σ price·(1−disc)·(1+tax) over its lines? The
    report gives match rates at 1%/10%/25% tolerance, headers with
    no lines at all, and the median header/lines ratio — on THIS
    synthetic data the identity is deliberately broken, and the
    report measures exactly how much (≈0 at 1%), which is the point:
    reconciliation exists to detect silently violated invariants.
    One line-level rollup + one header join. Ref: reference
    reconciliation tests (cf. dq_fk_orphans, dq_check)."""
    li = table(spark, sf_dir, "lineitem")
    od = table(spark, sf_dir, "orders")
    lines = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.sum(
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax"))
        ).alias("expected")
    )
    j = od.join(lines, od.o_orderkey == lines.k, "left").select(
        "o_totalprice",
        F.col("expected").isNotNull().alias("has_lines"),
        F.when(
            F.col("expected").isNotNull(),
            F.abs(F.col("o_totalprice") - F.col("expected")) / F.col("expected"),
        ).alias("rel_err"),
        (F.col("o_totalprice") / F.col("expected")).alias("ratio"),
    )
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.count(F.when(~F.col("has_lines"), 1))
        .cast("bigint")
        .alias("n_without_lines"),
    ]
    for t in _TOL:
        aggs.append(
            F.round(
                F.count(F.when(F.col("rel_err") <= t, 1)).cast("double")
                / F.count(F.when(F.col("has_lines"), 1)),
                6,
            ).alias(f"match_within_{int(t*100)}pct")
        )
    aggs.append(
        F.round(F.percentile("ratio", 0.5), 6).alias(
            "median_header_to_lines_ratio"
        )
    )
    return j.agg(*aggs)


# --------------------------------------------------------------------------
# Late-interaction (MaxSim) multi-vector retrieval scoring
# --------------------------------------------------------------------------
@query(
    "vec_maxsim_lite",
    oracle=f"""
    WITH q AS (
      SELECT embedding AS qe FROM embeddings WHERE vec_id = {_Q_VEC}
    ),
    dots AS (
      SELECT v.vec_id, qs.i AS qi, ds.j AS dj,
             list_reduce(list_transform(generate_series(1, {_SUB_D}),
               t -> CAST(list_slice(q.qe, qs.i * {_SUB_D} + 1,
                                    qs.i * {_SUB_D} + {_SUB_D})[t] AS DOUBLE)
                    * CAST(list_slice(v.embedding, ds.j * {_SUB_D} + 1,
                                      ds.j * {_SUB_D} + {_SUB_D})[t]
                           AS DOUBLE)),
               (x, y) -> x + y) AS dot
      FROM embeddings v
      CROSS JOIN q
      CROSS JOIN generate_series(0, {_N_SUB - 1}) qs(i)
      CROSS JOIN generate_series(0, {_N_SUB - 1}) ds(j)
      WHERE v.vec_id <> {_Q_VEC}
    ),
    best AS (
      SELECT vec_id, qi, max(dot) AS maxdot
      FROM dots GROUP BY vec_id, qi
    ),
    score AS (
      SELECT vec_id,
             floor(sum(maxdot) * 1000000 + 0.5) / 1000000 AS maxsim
      FROM best GROUP BY vec_id
    )
    SELECT vec_id, maxsim,
           CAST(row_number() OVER (ORDER BY maxsim DESC, vec_id)
                AS BIGINT) AS rank
    FROM score ORDER BY maxsim DESC, vec_id LIMIT {_TOPK}
    """,
)
def vec_maxsim_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (ColBERT-style) retrieval: treat each 64-dim
    embedding as 8 token-like subvectors; a document's score against
    the query is Σ over query subvectors of the MAX dot product over
    the document's subvectors — matching fine-grained parts instead
    of one pooled vector. The query's 8 subvectors broadcast; each
    doc computes 64 strict-fold dots row-locally (explode, never a
    corpus-squared join); the only shuffle is the per-(doc, query-
    part) max and the final top-5. The multi-vector upgrade of
    llm_sim_topk. Ref: reference late-interaction tests."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == _Q_VEC).select(
        F.col("embedding").alias("qe")
    )
    docs = emb.filter(F.col("vec_id") != _Q_VEC)
    subs = F.sequence(F.lit(0), F.lit(_N_SUB - 1))
    d = (
        docs.crossJoin(F.broadcast(q))
        .withColumn("qi", F.explode(subs))
        .withColumn("dj", F.explode(subs))
        .withColumn(
            "qs", F.slice(F.col("qe"), F.col("qi") * _SUB_D + 1, _SUB_D)
        )
        .withColumn(
            "ds", F.slice(F.col("embedding"), F.col("dj") * _SUB_D + 1, _SUB_D)
        )
    )
    prods = F.zip_with(
        F.col("qs"), F.col("ds"), lambda a, b: a.cast("double") * b.cast("double")
    )
    dot = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
    dots = d.select("vec_id", "qi", dot.alias("dot"))
    best = dots.groupBy("vec_id", "qi").agg(F.max("dot").alias("maxdot"))
    score = best.groupBy("vec_id").agg(
        (
            F.floor(F.sum("maxdot") * F.lit(1000000.0) + F.lit(0.5))
            / F.lit(1000000.0)
        ).alias("maxsim")
    )
    top = score.orderBy(F.desc("maxsim"), "vec_id").limit(_TOPK)
    return top.select(
        "vec_id",
        "maxsim",
        F.row_number()
        .over(W.partitionBy().orderBy(F.desc("maxsim"), "vec_id"))
        .cast("bigint")
        .alias("rank"),
    )
