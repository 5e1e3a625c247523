"""Contract keys: ``stats_breusch_pagan``, ``llm_query_likelihood``,
``sales_price_index_fisher``.

Heteroscedasticity testing, query-likelihood
retrieval, and Fisher price indices.

Reference parity: the reference's regression diagnostics, its
language-model retrieval scorer, and its index-number suite —
re-expressed as a squared-residual auxiliary regression, Dirichlet-
smoothed log-likelihood sums, and matched-basket index arithmetic.

Scale notes:

- ``stats_breusch_pagan``: both the main fit and the auxiliary
  (e² on x) regression are moment closed forms — ONE ten-moment
  aggregation serves both; LM = n·R²_aux.
- ``llm_query_likelihood``: same tf/df/dlen rollups as BM25; the
  Dirichlet smoothing term needs only the collection LM
  (broadcast), and missing-term mass is handled by scoring the
  full query against every doc via the smoothed background.
- ``sales_price_index_fisher``: the matched basket (brands present
  in BOTH months) is one conditional rollup; Laspeyres, Paasche,
  and Fisher are three ratios over its sums.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.registry import query

_CHI2_1_95 = 3.841458820694124
_MU_DIR = 200.0  # Dirichlet smoothing parameter
_M1, _M2 = "1996-01", "1996-02"
_QL_TOP = 10


# --------------------------------------------------------------------------
# Breusch-Pagan heteroscedasticity test (quantity ~ discount)
# --------------------------------------------------------------------------
@query(
    "stats_breusch_pagan",
    oracle=f"""
    WITH m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             avg(l_discount) AS mx, avg(l_quantity) AS my,
             avg(l_discount * l_quantity) AS mxy,
             avg(l_discount * l_discount) AS mxx
      FROM lineitem
    ),
    fit AS (
      SELECT n, mx, my, mxx,
             (mxy - mx * my) / (mxx - mx * mx) AS b1
      FROM m
    ),
    aux AS (
      SELECT fit.n,
             avg(l_discount) AS ax,
             avg((l_quantity - (fit.my + fit.b1 * (l_discount - fit.mx)))
                 * (l_quantity - (fit.my + fit.b1 * (l_discount - fit.mx))))
               AS ae,
             avg(l_discount
                 * (l_quantity - (fit.my + fit.b1 * (l_discount - fit.mx)))
                 * (l_quantity - (fit.my + fit.b1 * (l_discount - fit.mx))))
               AS axe,
             avg(l_discount * l_discount) AS axx,
             avg((l_quantity - (fit.my + fit.b1 * (l_discount - fit.mx)))
                 * (l_quantity - (fit.my + fit.b1 * (l_discount - fit.mx)))
                 * (l_quantity - (fit.my + fit.b1 * (l_discount - fit.mx)))
                 * (l_quantity - (fit.my + fit.b1 * (l_discount - fit.mx))))
               AS aee
      FROM lineitem CROSS JOIN fit GROUP BY fit.n
    )
    SELECT CAST(n AS BIGINT) AS n,
           round((axe - ax * ae) * (axe - ax * ae)
                 / ((axx - ax * ax) * (aee - ae * ae)), 6) AS r2_aux,
           round(n * (axe - ax * ae) * (axe - ax * ae)
                 / ((axx - ax * ax) * (aee - ae * ae)), 6) AS lm_stat,
           n * (axe - ax * ae) * (axe - ax * ae)
             / ((axx - ax * ax) * (aee - ae * ae)) > {_CHI2_1_95}
             AS heteroscedastic
    FROM aux
    """,
)
def stats_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan heteroscedasticity test for quantity ~ discount:
    fit the OLS line, regress the SQUARED residuals back on discount,
    and LM = n·R²_aux against χ²₁ — significant means the error
    variance moves with the regressor, so the OLS standard errors
    (and every CI built on them) are lying. Both regressions are
    moment closed forms; the auxiliary pass inlines the fitted
    residual expression identically on both engines. Ref: reference
    regression-diagnostics tests (cf. stats_deming, agg_regression)."""
    li = table(spark, sf_dir, "lineitem")
    x, y = F.col("l_discount"), F.col("l_quantity")
    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg(x).alias("mx"),
        F.avg(y).alias("my"),
        F.avg(x * y).alias("mxy"),
        F.avg(x * x).alias("mxx"),
    )
    fit = m.select(
        "n",
        "mx",
        "my",
        ((F.col("mxy") - F.col("mx") * F.col("my")) / (F.col("mxx") - F.col("mx") * F.col("mx"))).alias(
            "b1"
        ),
    )
    j = li.crossJoin(F.broadcast(fit))
    resid = y - (F.col("my") + F.col("b1") * (x - F.col("mx")))
    e2 = resid * resid
    aux = j.groupBy("n").agg(
        F.avg(x).alias("ax"),
        F.avg(e2).alias("ae"),
        F.avg(x * e2).alias("axe"),
        F.avg(x * x).alias("axx"),
        F.avg(e2 * e2).alias("aee"),
    )
    r2 = ((F.col("axe") - F.col("ax") * F.col("ae")) * (F.col("axe") - F.col("ax") * F.col("ae"))) / (
        (F.col("axx") - F.col("ax") * F.col("ax"))
        * (F.col("aee") - F.col("ae") * F.col("ae"))
    )
    lm = F.col("n") * r2
    return aux.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(r2, 6).alias("r2_aux"),
        F.round(lm, 6).alias("lm_stat"),
        (lm > _CHI2_1_95).alias("heteroscedastic"),
    )


# --------------------------------------------------------------------------
# Dirichlet-smoothed query-likelihood retrieval
# --------------------------------------------------------------------------
@query(
    "llm_query_likelihood",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dlen
           FROM tok GROUP BY doc_id),
    coll AS (SELECT CAST(count(*) AS DOUBLE) AS ctot FROM tok),
    q AS (SELECT token FROM tok GROUP BY token
          ORDER BY count(*) DESC, token LIMIT 3),
    cf AS (SELECT token, CAST(count(*) AS DOUBLE) AS cf FROM tok
           WHERE token IN (SELECT token FROM q) GROUP BY token),
    tf AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
           FROM tok WHERE token IN (SELECT token FROM q)
           GROUP BY doc_id, token),
    score AS (
      SELECT dl.doc_id,
             sum(ln((coalesce(tf.tf, 0.0)
                     + {_MU_DIR} * cf.cf / coll.ctot)
                    / (dl.dlen + {_MU_DIR}))) AS ql
      FROM dl CROSS JOIN cf CROSS JOIN coll
      LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.token = cf.token
      GROUP BY dl.doc_id
    )
    SELECT doc_id, round(ql, 6) AS ql_logprob,
           CAST(row_number() OVER (ORDER BY ql DESC, doc_id) AS BIGINT)
             AS rank
    FROM score ORDER BY ql DESC, doc_id LIMIT {_QL_TOP}
    """,
)
def llm_query_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing: score(d)
    = Σ_q ln((tf + μ·p(w|C))/(|d| + μ)) — the language-modeling
    alternative to BM25 where the collection LM supplies mass for
    missing terms instead of an IDF weight (the smoothing makes even
    tf=0 docs scoreable, which is why the scan is docs×terms, not
    the sparse tf table alone). Same tokenize/tf/df rollups as
    llm_bm25; top-10 by (score, doc_id). Ref: reference
    LM-retrieval tests (cf. llm_bm25, llm_kn_bigram)."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    dl = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("dlen")
    )
    coll = tok.agg(F.count(F.lit(1)).cast("double").alias("ctot"))
    qterms = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "token")
        .limit(3)
        .select("token")
    )
    cf = (
        tok.join(F.broadcast(qterms), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("double").alias("cf"))
    )
    tf = (
        tok.join(F.broadcast(qterms), "token")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    grid = dl.crossJoin(F.broadcast(cf)).crossJoin(F.broadcast(coll))
    score = (
        grid.join(tf, ["doc_id", "token"], "left")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.log(
                    (
                        F.coalesce(F.col("tf"), F.lit(0.0))
                        + _MU_DIR * F.col("cf") / F.col("ctot")
                    )
                    / (F.col("dlen") + _MU_DIR)
                )
            ).alias("ql")
        )
    )
    top = score.orderBy(F.desc("ql"), "doc_id").limit(_QL_TOP)
    return top.select(
        "doc_id",
        F.round("ql", 6).alias("ql_logprob"),
        F.row_number()
        .over(W.partitionBy().orderBy(F.desc("ql"), "doc_id"))
        .cast("bigint")
        .alias("rank"),
    )


# --------------------------------------------------------------------------
# Laspeyres / Paasche / Fisher price indices on the matched basket
# --------------------------------------------------------------------------
@query(
    "sales_price_index_fisher",
    oracle=f"""
    WITH m AS (
      SELECT p.p_brand AS brand,
             strftime(l.l_shipdate, '%Y-%m') AS ym,
             sum(l.l_extendedprice) AS rev, sum(l.l_quantity) AS qty
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE strftime(l.l_shipdate, '%Y-%m') IN ('{_M1}', '{_M2}')
      GROUP BY brand, ym
    ),
    wide AS (
      SELECT brand,
             max(CASE WHEN ym = '{_M1}' THEN rev / qty END) AS p1,
             max(CASE WHEN ym = '{_M1}' THEN qty END) AS q1,
             max(CASE WHEN ym = '{_M2}' THEN rev / qty END) AS p2,
             max(CASE WHEN ym = '{_M2}' THEN qty END) AS q2
      FROM m GROUP BY brand
    ),
    basket AS (
      SELECT * FROM wide
      WHERE p1 IS NOT NULL AND p2 IS NOT NULL AND q1 > 0 AND q2 > 0
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_brands,
             sum(p2 * q1) / sum(p1 * q1) AS laspeyres,
             sum(p2 * q2) / sum(p1 * q2) AS paasche
      FROM basket
    )
    SELECT n_brands,
           round(laspeyres, 6) AS laspeyres,
           round(paasche, 6) AS paasche,
           round(sqrt(laspeyres * paasche), 6) AS fisher,
           round(laspeyres - paasche, 6) AS substitution_gap
    FROM s
    """,
)
def sales_price_index_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price indices on the matched brand basket between two months:
    Laspeyres (base-period quantities), Paasche (current-period),
    and their geometric mean — Fisher's ideal index, the one
    official statistics publish because it cancels both formulas'
    substitution biases (their gap is reported as the bias
    magnitude). Unit prices are rev/qty per brand-month; the basket
    keeps brands present in BOTH months. One conditional rollup +
    three ratios. Ref: reference index-number tests (cf.
    sales_gmv_bridge — the additive decomposition twin)."""
    li = table(spark, sf_dir, "lineitem")
    pt = table(spark, sf_dir, "part")
    ym = F.date_format("l_shipdate", "yyyy-MM")
    m = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .filter(ym.isin(_M1, _M2))
        .groupBy(F.col("p_brand").alias("brand"), ym.alias("ym"))
        .agg(
            F.sum("l_extendedprice").alias("rev"),
            F.sum("l_quantity").alias("qty"),
        )
    )
    wide = m.groupBy("brand").agg(
        F.max(F.when(F.col("ym") == _M1, F.col("rev") / F.col("qty"))).alias(
            "p1"
        ),
        F.max(F.when(F.col("ym") == _M1, F.col("qty"))).alias("q1"),
        F.max(F.when(F.col("ym") == _M2, F.col("rev") / F.col("qty"))).alias(
            "p2"
        ),
        F.max(F.when(F.col("ym") == _M2, F.col("qty"))).alias("q2"),
    )
    basket = wide.filter(
        F.col("p1").isNotNull()
        & F.col("p2").isNotNull()
        & (F.col("q1") > 0)
        & (F.col("q2") > 0)
    )
    s = basket.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_brands"),
        (
            F.sum(F.col("p2") * F.col("q1")) / F.sum(F.col("p1") * F.col("q1"))
        ).alias("laspeyres"),
        (
            F.sum(F.col("p2") * F.col("q2")) / F.sum(F.col("p1") * F.col("q2"))
        ).alias("paasche"),
    )
    return s.select(
        "n_brands",
        F.round("laspeyres", 6).alias("laspeyres"),
        F.round("paasche", 6).alias("paasche"),
        F.round(F.sqrt(F.col("laspeyres") * F.col("paasche")), 6).alias(
            "fisher"
        ),
        F.round(F.col("laspeyres") - F.col("paasche"), 6).alias(
            "substitution_gap"
        ),
    )
