"""Contract keys: ``agg_theil_index``, ``orders_eoq_policy``,
``llm_doc_self_similarity``.

Theil inequality decomposition, EOQ policy
what-if, and document self-similarity.

Reference parity: the reference's inequality analytics (the
decomposable complement of Gini), its inventory-policy calculator,
and its intra-document consistency probe — re-expressed as
log-share rollups, per-part closed forms, and a half-vs-half token
cosine.

Scale notes:

- ``agg_theil_index``: customer revenue rolls up once; the
  between/within split is a nation-level second rollup.
- ``orders_eoq_policy``: per-part demand moments in one pass; EOQ
  and costs are row-local closed forms.
- ``llm_doc_self_similarity``: the half-token rollup is
  (doc, token, half)-keyed; the cosine join is per-doc on the
  vocabulary-bounded count table.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query
from etl_framework_spark.operators.rounding import q6

_EOQ_S = 75.0  # ordering cost per order ($)
_EOQ_H = 2.0  # holding cost per unit-year ($)


# --------------------------------------------------------------------------
# Theil index of customer revenue, decomposed within/between nations
# --------------------------------------------------------------------------
@query(
    "agg_theil_index",
    oracle="""
    WITH cust AS (
      SELECT c.c_nationkey AS nation, o.o_custkey AS cust,
             sum(o.o_totalprice) AS rev
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY nation, cust
    ),
    tot AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, sum(rev) AS t FROM cust
    ),
    th AS (
      SELECT sum(rev / tot.t * ln(rev / tot.t * tot.n)) AS theil_total
      FROM cust CROSS JOIN tot
    ),
    nat AS (
      SELECT nation, CAST(count(*) AS DOUBLE) AS ng, sum(rev) AS tg
      FROM cust GROUP BY nation
    ),
    btw AS (
      SELECT sum(nat.tg / tot.t * ln(nat.tg / tot.t * tot.n / nat.ng))
               AS theil_between
      FROM nat CROSS JOIN tot
    )
    SELECT CAST(tot.n AS BIGINT) AS n_customers,
           floor(th.theil_total * 1000000 + 0.5) / 1000000 AS theil_total,
           floor(btw.theil_between * 1000000 + 0.5) / 1000000
             AS theil_between,
           floor((th.theil_total - btw.theil_between) * 1000000 + 0.5)
             / 1000000 AS theil_within,
           floor(btw.theil_between / th.theil_total * 1000000 + 0.5)
             / 1000000 AS between_share
    FROM tot CROSS JOIN th CROSS JOIN btw
    """,
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of customer revenue, EXACTLY
    decomposed into between-nation and within-nation components
    (T = T_b + Σ s_g T_g — the additivity Gini famously lacks).
    between_share answers 'is revenue concentration a geography
    story or a within-market whale story' in one number. Customer
    rollup → nation rollup → two log-share sums, grid-quantized for
    the float revenue sums. Ref: reference inequality tests (cf.
    events_gini, events_lorenz_deciles — Theil adds the
    decomposition)."""
    od = table(spark, sf_dir, "orders")
    cu = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cust = (
        od.join(cu, od.o_custkey == cu.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.col("o_custkey").alias("cust"),
        )
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    tot = cust.agg(
        F.count(F.lit(1)).cast("double").alias("n"), F.sum("rev").alias("t")
    )
    th = cust.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.col("rev") / F.col("t") * F.log(F.col("rev") / F.col("t") * F.col("n"))
        ).alias("theil_total")
    )
    nat = cust.groupBy("nation").agg(
        F.count(F.lit(1)).cast("double").alias("ng"), F.sum("rev").alias("tg")
    )
    btw = nat.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.col("tg")
            / F.col("t")
            * F.log(F.col("tg") / F.col("t") * F.col("n") / F.col("ng"))
        ).alias("theil_between")
    )
    j = tot.crossJoin(F.broadcast(th)).crossJoin(F.broadcast(btw))
    return j.select(
        F.col("n").cast("bigint").alias("n_customers"),
        q6(F.col("theil_total")).alias("theil_total"),
        q6(F.col("theil_between")).alias("theil_between"),
        q6(F.col("theil_total") - F.col("theil_between")).alias("theil_within"),
        q6(F.col("theil_between") / F.col("theil_total")).alias("between_share"),
    )


# --------------------------------------------------------------------------
# EOQ policy what-if per part
# --------------------------------------------------------------------------
@query(
    "orders_eoq_policy",
    oracle=f"""
    WITH d AS (
      SELECT l_partkey AS part,
             sum(CAST(l_quantity AS DOUBLE)) AS demand,
             CAST(count(*) AS DOUBLE) AS n_orders,
             sum(CAST(l_quantity AS DOUBLE)) / count(*) AS avg_order_qty
      FROM lineitem GROUP BY part HAVING count(*) >= 20
    ),
    e AS (
      SELECT part, demand, n_orders, avg_order_qty,
             sqrt(2.0 * demand * {_EOQ_S} / {_EOQ_H}) AS eoq
      FROM d
    ),
    c AS (
      SELECT part, demand, n_orders, avg_order_qty, eoq,
             demand / avg_order_qty * {_EOQ_S}
               + avg_order_qty / 2.0 * {_EOQ_H} AS cost_current,
             demand / eoq * {_EOQ_S} + eoq / 2.0 * {_EOQ_H} AS cost_eoq
      FROM e
    )
    SELECT CAST(part AS BIGINT) AS p_partkey,
           CAST(demand AS BIGINT) AS annual_demand,
           floor(avg_order_qty * 1000000 + 0.5) / 1000000 AS avg_order_qty,
           floor(eoq * 1000000 + 0.5) / 1000000 AS eoq,
           floor(cost_current * 1000000 + 0.5) / 1000000 AS cost_current,
           floor(cost_eoq * 1000000 + 0.5) / 1000000 AS cost_eoq,
           floor((cost_current - cost_eoq) / cost_current * 1000000 + 0.5)
             / 1000000 AS savings_share
    FROM c ORDER BY (cost_current - cost_eoq) / cost_current DESC, part
    LIMIT 10
    """,
)
def orders_eoq_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Economic-order-quantity what-if per part: EOQ = √(2DS/H)
    against the OBSERVED average order size, with total cost
    (ordering + holding) under each policy and the savings share —
    the 10 parts where switching to EOQ batching saves the most.
    The classic inventory-policy simulation as one rollup + row-
    local closed forms (S=$75/order, H=$2/unit-yr). Integer demand
    sums → exact; ranking deterministic. Ref: reference inventory-
    op tests (cf. orders_dead_stock, events_peak_shaving for other
    what-ifs)."""
    li = table(spark, sf_dir, "lineitem")
    d = (
        li.groupBy(F.col("l_partkey").alias("part"))
        .agg(
            F.sum(F.col("l_quantity").cast("double")).alias("demand"),
            F.count(F.lit(1)).cast("double").alias("n_orders"),
        )
        .filter(F.col("n_orders") >= 20)
        .withColumn("avg_order_qty", F.col("demand") / F.col("n_orders"))
    )
    e = d.withColumn(
        "eoq", F.sqrt(2.0 * F.col("demand") * _EOQ_S / _EOQ_H)
    )
    cost_cur = (
        F.col("demand") / F.col("avg_order_qty") * _EOQ_S
        + F.col("avg_order_qty") / 2.0 * _EOQ_H
    )
    cost_eoq = F.col("demand") / F.col("eoq") * _EOQ_S + F.col("eoq") / 2.0 * _EOQ_H
    c = e.withColumn("cost_current", cost_cur).withColumn("cost_eoq", cost_eoq)
    sav = (F.col("cost_current") - F.col("cost_eoq")) / F.col("cost_current")
    return (
        c.select(
            F.col("part").cast("bigint").alias("p_partkey"),
            F.col("demand").cast("bigint").alias("annual_demand"),
            q6(F.col("avg_order_qty")).alias("avg_order_qty"),
            q6(F.col("eoq")).alias("eoq"),
            q6(F.col("cost_current")).alias("cost_current"),
            q6(F.col("cost_eoq")).alias("cost_eoq"),
            q6(sav).alias("savings_share"),
            sav.alias("_s"),
        )
        .orderBy(F.desc("_s"), "p_partkey")
        .limit(10)
        .drop("_s")
    )


# --------------------------------------------------------------------------
# Document self-similarity: first half vs second half token cosine
# --------------------------------------------------------------------------
@query(
    "llm_doc_self_similarity",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS l,
             len(string_split(text, ' ')) AS n
      FROM documents WHERE len(string_split(text, ' ')) >= 20
    ),
    halves AS (
      SELECT doc_id,
             CASE WHEN i * 2 <= n THEN 0 ELSE 1 END AS half,
             l[i] AS tok
      FROM (SELECT doc_id, l, n,
                   unnest(generate_series(1, n)) AS i FROM t)
    ),
    cnt AS (
      SELECT doc_id, half, tok, CAST(count(*) AS DOUBLE) AS c
      FROM halves GROUP BY doc_id, half, tok
    ),
    dots AS (
      SELECT a.doc_id, sum(a.c * b.c) AS dot
      FROM cnt a JOIN cnt b
        ON a.doc_id = b.doc_id AND a.tok = b.tok
       AND a.half = 0 AND b.half = 1
      GROUP BY a.doc_id
    ),
    norms AS (
      SELECT doc_id,
             sqrt(sum(CASE WHEN half = 0 THEN c * c ELSE 0 END)) AS n0,
             sqrt(sum(CASE WHEN half = 1 THEN c * c ELSE 0 END)) AS n1
      FROM cnt GROUP BY doc_id
    )
    SELECT n.doc_id,
           round(coalesce(d.dot, 0.0) / (n.n0 * n.n1), 6) AS self_cosine
    FROM norms n LEFT JOIN dots d ON n.doc_id = d.doc_id
    ORDER BY self_cosine, n.doc_id LIMIT 10
    """,
)
def llm_doc_self_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document consistency: cosine between the token
    distributions of each document's FIRST and SECOND half — the 10
    least self-similar docs. A low score flags concatenation
    artifacts (two unrelated pages glued by the scraper) and abrupt
    topic shifts, which poison both dedup shingles and training
    continuity. Per-doc half rollup + a doc-keyed token join
    (vocabulary-bounded); integer counts → exact cosine. Ref:
    reference intra-doc probes (cf. llm_repetition for the
    redundancy axis — this is the coherence axis)."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("l"),
        F.size(F.split(F.col("text"), " ")).alias("n"),
    ).filter(F.col("n") >= 20)
    idx = t.select(
        "doc_id",
        "n",
        F.posexplode(F.col("l")).alias("i0", "tok"),
    )
    halves = idx.select(
        "doc_id",
        F.when((F.col("i0") + 1) * 2 <= F.col("n"), 0).otherwise(1).alias("half"),
        "tok",
    )
    cnt = halves.groupBy("doc_id", "half", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    a = cnt.filter(F.col("half") == 0).select(
        "doc_id", "tok", F.col("c").alias("c0")
    )
    b = cnt.filter(F.col("half") == 1).select(
        "doc_id", "tok", F.col("c").alias("c1")
    )
    dots = (
        a.join(b, ["doc_id", "tok"])
        .groupBy("doc_id")
        .agg(F.sum(F.col("c0") * F.col("c1")).alias("dot"))
    )
    norms = cnt.groupBy("doc_id").agg(
        F.sqrt(
            F.sum(F.when(F.col("half") == 0, F.col("c") * F.col("c")).otherwise(0.0))
        ).alias("n0"),
        F.sqrt(
            F.sum(F.when(F.col("half") == 1, F.col("c") * F.col("c")).otherwise(0.0))
        ).alias("n1"),
    )
    return (
        norms.join(dots, "doc_id", "left")
        .select(
            "doc_id",
            F.round(
                F.coalesce(F.col("dot"), F.lit(0.0)) / (F.col("n0") * F.col("n1")),
                6,
            ).alias("self_cosine"),
        )
        .orderBy("self_cosine", "doc_id")
        .limit(10)
    )
