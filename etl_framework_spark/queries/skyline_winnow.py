"""Contract keys: ``orders_skyline``, ``llm_winnowing``,
``llm_dedup_winnow``, ``events_seasonality``, ``pipeline_curation``,
``events_attribution``, ``sample_hash_topk``, ``basket_lift``,
``scd2_asof_lookup``, ``agg_bitops``, ``agg_regression``,
``events_time_to_convert``, ``stats_rate_ci``, ``stats_chisq``,
``dq_drift_psi``, ``events_bot_score``, ``agg_listagg``, ``fn_variant``,
``llm_minhash_est_err``, ``events_forecast_backtest``, ``cohort_ltv``,
``orders_ship_lag``, ``events_gini``, ``events_mix_drift``,
``events_ab_test``, ``llm_cluster_purity``, ``events_survival``,
``llm_dedup_keep_best``, ``train_budget_select``, ``stats_benford``,
``stats_corr_matrix``, ``stats_iqr_outliers``, ``orders_repeat_rate``,
``llm_embedding_drift``, ``events_anomaly_mad``, ``supplier_hhi``.

Skyline (Pareto frontier), winnowing fingerprints,
and load seasonality — three operator shapes the earlier batches don't
cover.

Scale notes (the 100 TB rationale for each formulation):
- ``orders_skyline``: the textbook skyline is an O(n²) dominance
  NOT-EXISTS self-join (that stays the ORACLE, where it is obviously
  correct on 15k rows). The Spark plan instead sorts once per group
  and uses two window maxima — O(n log n), one shuffle on the group
  key, no self-join — the standard sort-filter skyline specialization
  for 2-D monotone dominance.
- ``llm_winnowing``: per-document array algebra only (no explode, no
  shuffle) — embarrassingly parallel over the corpus, like the other
  fingerprint ops.
- ``events_seasonality``: 168-cell output regardless of input size;
  partial aggregation does all the work map-side.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators.textops import shingles, tokens
from etl_framework_spark.registry import query
from etl_framework_spark.cacheutil import persist_tracked


# --------------------------------------------------------------------------
# Skyline / Pareto frontier — per-nation "earliest high-value orders"
# --------------------------------------------------------------------------
@query(
    "orders_skyline",
    oracle="""
    WITH o AS (SELECT n_name, o_orderkey, o_orderdate, o_totalprice
               FROM orders
               JOIN customer ON o_custkey = c_custkey
               JOIN nation ON c_nationkey = n_nationkey)
    SELECT n_name, o_orderkey, o_orderdate, o_totalprice
    FROM o a
    WHERE NOT EXISTS (
      SELECT 1 FROM o b
      WHERE b.n_name = a.n_name
        AND b.o_orderdate <= a.o_orderdate
        AND b.o_totalprice >= a.o_totalprice
        AND (b.o_orderdate < a.o_orderdate OR b.o_totalprice > a.o_totalprice))
    """,
)
def orders_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation 2-D skyline: orders not dominated on (earlier date,
    higher price). A row is dominated iff some strictly-earlier-date
    row has >= its price, or a same-date row has > its price — so two
    window maxima replace the quadratic dominance join: `mprev` (max
    price over strictly earlier dates, via a range frame ending 1s
    before the current date) and `msame` (max price within the same
    date). One sort per nation; no self-join at any scale."""
    o = (
        table(spark, sf_dir, "orders")
        .join(table(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(table(spark, sf_dir, "nation")), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "o_orderkey", "o_orderdate", "o_totalprice")
    )
    # o_orderdate is day-granular (TIMESTAMP_NTZ at midnight), so its day
    # number is a total order and -1 in the range frame = strictly earlier
    day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
    w_prev = W.partitionBy("n_name").orderBy(day).rangeBetween(W.unboundedPreceding, -1)
    w_same = W.partitionBy("n_name", "o_orderdate")
    dominated = (
        F.coalesce(F.max("o_totalprice").over(w_prev) >= F.col("o_totalprice"), F.lit(False))
        | (F.max("o_totalprice").over(w_same) > F.col("o_totalprice"))
    )
    return (
        o.withColumn("_dom", dominated)
        .filter(~F.col("_dom"))
        .select("n_name", "o_orderkey", "o_orderdate", "o_totalprice")
    )


# --------------------------------------------------------------------------
# Winnowing fingerprints (MOSS-style local-min sampling of shingle hashes)
# --------------------------------------------------------------------------
_WINNOW_W = 4  # hash-window width: guarantees a shared fingerprint for
#                any match of >= w + k - 1 = 6 consecutive tokens


_WINNOW_CTE = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    s AS (SELECT doc_id,
                 list_transform(
                   list_transform(generate_series(1, greatest(len(l) - 2, 1)),
                                  i -> concat_ws(' ', l[i], l[i+1], l[i+2])),
                   x -> md5(x)) AS h
          FROM t),
    m AS (SELECT doc_id, len(h) AS n_hashes,
                 list_transform(
                   generate_series(1, greatest(len(h) - {_WINNOW_W - 1}, 1)),
                   i -> list_min(h[i:i+{_WINNOW_W - 1}])) AS mins
          FROM s)
"""


@query(
    "llm_winnowing",
    oracle=_WINNOW_CTE
    + """
    SELECT doc_id,
           CAST(n_hashes AS INT) AS n_hashes,
           CAST(len(mins) AS INT) AS n_windows,
           list_sort(list_distinct(mins)) AS fps,
           CAST(len(list_distinct(mins)) AS INT) AS n_fp
    FROM m
    """,
)
def llm_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03): hash every
    3-token shingle, slide a width-w window over the hash sequence,
    keep each window's minimum — the sampled fingerprint set is
    guaranteed to share an entry with any other document that shares
    >= w+k-1 consecutive tokens. Pure per-row array algebra: no
    explode, no shuffle, linear in corpus size."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("l"))
    s = t.select("doc_id", F.transform(shingles("l", 3), lambda x: F.md5(x)).alias("h"))
    mins = F.expr(
        f"transform(sequence(1, greatest(size(h) - {_WINNOW_W - 1}, 1)),"
        f" i -> array_min(slice(h, i, {_WINNOW_W})))"
    )
    m = s.select("doc_id", F.size("h").alias("n_hashes"), mins.alias("mins"))
    fps = F.sort_array(F.array_distinct(F.col("mins")))
    return m.select(
        "doc_id",
        "n_hashes",
        F.size("mins").alias("n_windows"),
        fps.alias("fps"),
        F.size(F.array_distinct(F.col("mins"))).alias("n_fp"),
    )


# --------------------------------------------------------------------------
# Winnowing dedup — candidate pairs sharing a fingerprint
# --------------------------------------------------------------------------
_FP_DF_CAP = 20  # drop fingerprints appearing in more docs (stop-shingles)


@query(
    "llm_dedup_winnow",
    oracle=_WINNOW_CTE
    + f""",
    e AS (SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM m),
    nf AS (SELECT doc_id, CAST(len(list_distinct(mins)) AS INT) AS n_fp FROM m),
    keep AS (SELECT fp FROM e GROUP BY fp HAVING count(*) <= {_FP_DF_CAP}),
    e2 AS (SELECT e.doc_id, e.fp FROM e JOIN keep USING (fp)),
    pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(count(*) AS BIGINT) AS n_shared
              FROM e2 a JOIN e2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT id_a, id_b, n_shared,
           round(n_shared / CAST(x.n_fp + y.n_fp - n_shared AS DOUBLE), 6)
             AS fp_jaccard
    FROM pairs JOIN nf x ON x.doc_id = id_a JOIN nf y ON y.doc_id = id_b
    """,
)
def llm_dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-based near-dup candidates: docs sharing >= 1 sampled
    fingerprint, scored by Jaccard over fingerprint sets. The shuffle
    key is the fingerprint (1/w of the shingle volume), and
    fingerprints hitting more than {cap} docs are dropped before the
    self-join — the df-cap is what bounds bucket fan-out at corpus
    scale (a stop-shingle shared by 1M docs would otherwise create a
    10^12-pair bucket)."""
    # persist: the winnowing fingerprint pipeline (rolling-hash Arrow
    # kernel) feeds the explode, the df-cap filter, the self-join's
    # both sides, and the size lookup — unpersisted it replayed ~6×
    # (counted in the golden plan, r10). One row per doc.
    win = llm_winnowing(spark, sf_dir).select("doc_id", "fps", "n_fp").transform(persist_tracked)
    e = win.select("doc_id", F.explode("fps").alias("fp"))
    keep = e.groupBy("fp").count().filter(F.col("count") <= _FP_DF_CAP).select("fp")
    e2 = e.join(keep, "fp").transform(persist_tracked)  # both self-join sides
    a = e2.alias("a")
    b = e2.alias("b")
    pairs = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    nf = win.select("doc_id", "n_fp")
    x = nf.select(F.col("doc_id").alias("id_a"), F.col("n_fp").alias("nfa"))
    y = nf.select(F.col("doc_id").alias("id_b"), F.col("n_fp").alias("nfb"))
    return (
        pairs.join(x, "id_a")
        .join(y, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("nfa") + F.col("nfb") - F.col("n_shared")).cast("double"),
                6,
            ).alias("fp_jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Load seasonality profile — day-of-week × hour-of-day heatmap
# --------------------------------------------------------------------------
@query(
    "events_seasonality",
    oracle="""
    WITH c AS (SELECT dayofweek(ts) + 1 AS dow, hour(ts) AS hr,
                      count(*) AS n,
                      count(DISTINCT user_id) AS n_users
               FROM events GROUP BY 1, 2)
    SELECT dow, CAST(hr AS INT) AS hr, n, n_users,
           round(n / avg(n) OVER (), 6) AS load_ratio
    FROM c
    """,
)
def events_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic seasonality: event and unique-user counts per (day of
    week, hour of day) cell, plus each cell's load relative to the
    mean cell — the profile that sizes ingestion capacity and flags
    off-pattern load. 168-row output at any scale; Spark dayofweek is
    1..7 Sunday-first vs DuckDB 0..6, so the oracle adds 1
    (SURVEY.md §5.3 rule 5)."""
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy(
        F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hr")
    ).agg(F.count("*").alias("n"), F.countDistinct("user_id").alias("n_users"))
    return c.select(
        "dow",
        F.col("hr").cast("int").alias("hr"),
        "n",
        "n_users",
        F.round(F.col("n") / F.avg("n").over(W.partitionBy()), 6).alias("load_ratio"),
    )


# --------------------------------------------------------------------------
# E1 composite — multi-step corpus-curation job through the spec engine
# --------------------------------------------------------------------------
def curation_spec(sf_dir: str) -> dict:
    """The 4-step curation job spec (shared with pipeline_lineage)."""
    return {
        "sources": {
            "documents": {"format": "parquet", "path": f"{sf_dir}/documents.parquet"}
        },
        "steps": [
            {
                "name": "gated",
                "input": "documents",
                "op": "filter",
                "args": {
                    "condition": "n_chars BETWEEN 80 AND 2000"
                    " AND lang IN ('en','es','de','fr')"
                },
            },
            {
                "name": "normed",
                "input": "gated",
                "op": "with_columns",
                "args": {
                    "columns": {
                        "norm_hash": r"sha2(regexp_replace(lower(trim(text)),"
                        r" '\\s+', ' '), 256)"
                    }
                },
            },
            {
                "name": "deduped",
                "input": "normed",
                "op": "dedup",
                "args": {"keys": ["norm_hash"], "order_by": ["doc_id"]},
            },
            {
                "name": "report",
                "input": "deduped",
                "op": "aggregate",
                "args": {
                    "group_by": ["lang", "source"],
                    "aggs": {
                        "n_docs": "count(*)",
                        "avg_chars": "round(avg(n_chars), 2)",
                        "tot_tokens": "sum(size(split(text, ' ')))",
                    },
                },
            },
        ],
    }


@query(
    "pipeline_curation",
    oracle=r"""
    WITH f AS (SELECT *, sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                      AS norm_hash
               FROM documents
               WHERE n_chars BETWEEN 80 AND 2000 AND lang IN ('en','es','de','fr')),
    d AS (SELECT * FROM f
          QUALIFY row_number() OVER (PARTITION BY norm_hash ORDER BY doc_id) = 1)
    SELECT lang, source,
           count(*) AS n_docs,
           round(avg(n_chars), 2) AS avg_chars,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tot_tokens
    FROM d GROUP BY lang, source
    """,
)
def pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's core capability end-to-end: a 4-step curation
    job — quality gate, content normalization, exact dedup keep-first,
    per-(lang, source) report — declared entirely as a config spec and
    executed by the pipeline engine (filter → with_columns → dedup →
    aggregate). Every step is a Catalyst-planned DataFrame op; the
    dedup shuffles once on the content hash."""
    from etl_framework_spark.pipeline import run_pipeline

    return run_pipeline(spark, curation_spec(sf_dir))["report"]


# --------------------------------------------------------------------------
# Last-touch attribution — purchases credited to the latest prior touch
# --------------------------------------------------------------------------
_ATTR_DAYS = 7


@query(
    "events_attribution",
    oracle=f"""
    WITH sub AS (SELECT event_id, user_id, event_type, ts,
                        CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END
                          AS kindord
                 FROM events
                 WHERE event_type IN ('purchase', 'view', 'click')),
    c AS (SELECT *,
            last_value(CASE WHEN kindord = 1 THEN event_id END IGNORE NULLS)
              OVER w AS t_id,
            last_value(CASE WHEN kindord = 1 THEN event_type END IGNORE NULLS)
              OVER w AS t_type,
            last_value(CASE WHEN kindord = 1 THEN ts END IGNORE NULLS)
              OVER w AS t_ts
          FROM sub
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, kindord, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
    SELECT event_id AS purchase_id, user_id, ts AS p_ts,
           CASE WHEN ok THEN t_id END AS touch_id,
           CASE WHEN ok THEN t_type END AS touch_type,
           CASE WHEN ok THEN round(gap_s / 60.0, 2) END AS gap_min
    FROM (SELECT *,
                 CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT)
                   - CAST(floor(epoch(date_trunc('second', t_ts))) AS BIGINT)
                   AS gap_s,
                 t_ts IS NOT NULL
                 AND CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT)
                     - CAST(floor(epoch(date_trunc('second', t_ts))) AS BIGINT)
                     <= {_ATTR_DAYS} * 86400 AS ok
          FROM c WHERE event_type = 'purchase')
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the same
    user's most recent view/click STRICTLY before it and at most 7
    days old, else unattributed. One union-order window per user (no
    self-join): ordering by (ts, purchase-first, event_id) makes
    same-timestamp touches invisible to the purchase (strict <) and
    breaks touch ties deterministically; the three ignore-nulls lasts
    agree because they are non-null on exactly the same rows."""
    ev = table(spark, sf_dir, "events")
    sub = ev.filter(F.col("event_type").isin("purchase", "view", "click")).select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.when(F.col("event_type") == "purchase", 0).otherwise(1).alias("kindord"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kindord", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    is_touch = F.col("kindord") == 1
    c = sub.select(
        "*",
        F.last(F.when(is_touch, F.col("event_id")), ignorenulls=True).over(w).alias("t_id"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True).over(w).alias("t_type"),
        F.last(F.when(is_touch, F.col("ts")), ignorenulls=True).over(w).alias("t_ts"),
    ).filter(F.col("event_type") == "purchase")
    # ts is TIMESTAMP_NTZ (no direct long cast); the repo convention
    # for exact cross-engine gaps is truncate-to-second then epoch
    gap_s = F.unix_timestamp(F.date_trunc("second", F.col("ts"))) - F.unix_timestamp(
        F.date_trunc("second", F.col("t_ts"))
    )
    ok = F.col("t_ts").isNotNull() & (gap_s <= _ATTR_DAYS * 86400)
    gap = F.round(gap_s / 60.0, 2)
    return c.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        F.when(ok, F.col("t_id")).alias("touch_id"),
        F.when(ok, F.col("t_type")).alias("touch_type"),
        F.when(ok, gap).alias("gap_min"),
    )


# --------------------------------------------------------------------------
# Deterministic hash sampling — k docs per group, stable across runs/engines
# --------------------------------------------------------------------------
_SAMPLE_K = 5


@query(
    "sample_hash_topk",
    oracle=f"""
    SELECT lang, doc_id, h, rn FROM (
      SELECT lang, doc_id, h,
             row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
      FROM (SELECT lang, doc_id,
                   md5(concat(CAST(doc_id AS VARCHAR), ':', text)) AS h
            FROM documents))
    WHERE rn <= {_SAMPLE_K}
    """,
)
def sample_hash_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group sampling: the k docs with the smallest
    content hash per language — unlike rand()-based sampling this is
    reproducible across runs, engines, and partitionings (the property
    a training-data pipeline needs for auditable subsets), yet
    hash-ordering makes it uniform-ish. Partial top-k per partition
    via the window; no full sort of the corpus."""
    docs = table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text")))
    w = W.partitionBy("lang").orderBy("h", "doc_id")
    return (
        docs.select("lang", "doc_id", h.alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _SAMPLE_K)
    )


# --------------------------------------------------------------------------
# Association rules — brands bought together (support / confidence / lift)
# --------------------------------------------------------------------------
@query(
    "basket_lift",
    oracle="""
    WITH ob AS (SELECT DISTINCT l_orderkey, p_brand
                FROM lineitem JOIN part ON l_partkey = p_partkey),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM ob),
    ba AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_b FROM ob GROUP BY p_brand),
    pairs AS (SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
                     CAST(count(*) AS BIGINT) AS n_ab
              FROM ob a JOIN ob b
                ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
              GROUP BY 1, 2)
    SELECT brand_a, brand_b, n_ab,
           round(n_ab / CAST(n_orders AS DOUBLE), 6) AS support,
           round(n_ab / CAST(x.n_b AS DOUBLE), 6) AS confidence,
           round(n_ab * n_orders / CAST(x.n_b * y.n_b AS DOUBLE), 6) AS lift
    FROM pairs
    JOIN ba x ON x.p_brand = brand_a
    JOIN ba y ON y.p_brand = brand_b
    CROSS JOIN n
    """,
)
def basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining: for every pair of brands co-purchased in
    an order, the classic association metrics — support P(a,b),
    confidence P(b|a), lift P(a,b)/(P(a)P(b)) over the order universe.
    The pair join is co-partitioned on l_orderkey (per-order fan-out is
    bounded by items-per-order, so no quadratic blowup); the brand
    marginals and the scalar order count are broadcast back onto the
    bounded pair set."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # (a persist here was tried and REVERTED in r10: caching the
    # (order, brand) frame broke the self-join's ReusedExchange and
    # measured 2.0 -> 2.7 s — the shuffle reuse already dedups the
    # expensive work for the quadratic step)
    ob = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n = ob.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    ba = ob.groupBy("p_brand").agg(F.count("*").alias("n_b"))
    a = ob.alias("a")
    b = ob.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"), F.col("b.p_brand").alias("brand_b")
        )
        .agg(F.count("*").alias("n_ab"))
    )
    x = ba.select(F.col("p_brand").alias("brand_a"), F.col("n_b").alias("na"))
    y = ba.select(F.col("p_brand").alias("brand_b"), F.col("n_b").alias("nb"))
    return (
        pairs.join(F.broadcast(x), "brand_a")
        .join(F.broadcast(y), "brand_b")
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            F.round(F.col("n_ab") / F.col("n_orders").cast("double"), 6).alias("support"),
            F.round(F.col("n_ab") / F.col("na").cast("double"), 6).alias("confidence"),
            F.round(
                F.col("n_ab") * F.col("n_orders") / (F.col("na") * F.col("nb")).cast("double"),
                6,
            ).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
# Point-in-time SCD2 lookup — resolve the dimension version per fact date
# --------------------------------------------------------------------------
_SCD2_CUT = "1995-07-01"


@query(
    "scd2_asof_lookup",
    oracle=f"""
    WITH dim AS (
      SELECT c_custkey, round(c_acctbal, 2) AS acctbal,
             TIMESTAMP '1990-01-01' AS eff_from,
             CASE WHEN c_custkey % 3 = 0 THEN TIMESTAMP '{_SCD2_CUT}' END AS eff_to
      FROM customer
      UNION ALL
      SELECT c_custkey, round(c_acctbal + 100, 2),
             TIMESTAMP '{_SCD2_CUT}', NULL
      FROM customer WHERE c_custkey % 3 = 0)
    SELECT o_orderkey, o_custkey, o_orderdate,
           d.acctbal AS acctbal_asof, d.eff_from
    FROM orders o JOIN dim d
      ON o.o_custkey = d.c_custkey
     AND d.eff_from <= o.o_orderdate
     AND (d.eff_to IS NULL OR o.o_orderdate < d.eff_to)
    """,
)
def scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension resolution: each order joins the SCD2
    customer version valid at its order date (eff_from <= d < eff_to)
    — the classic warehouse as-of lookup. The equi-key (custkey)
    carries the join; the interval predicate only discriminates among
    a key's few versions, so the plan is an ordinary shuffle join, not
    a range join. Orders straddle the synthetic cutover, so both
    versions are exercised."""
    cust = table(spark, sf_dir, "customer")
    cut = F.lit(_SCD2_CUT).cast("timestamp_ntz")
    v1 = cust.select(
        "c_custkey",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.lit("1990-01-01").cast("timestamp_ntz").alias("eff_from"),
        F.when(F.col("c_custkey") % 3 == 0, cut).alias("eff_to"),
    )
    v2 = cust.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        F.round(F.col("c_acctbal") + 100, 2).alias("acctbal"),
        cut.alias("eff_from"),
        F.lit(None).cast("timestamp_ntz").alias("eff_to"),
    )
    dim = v1.unionByName(v2)
    o = table(spark, sf_dir, "orders")
    return o.join(
        dim,
        (F.col("o_custkey") == F.col("c_custkey"))
        & (F.col("eff_from") <= F.col("o_orderdate"))
        & (F.col("eff_to").isNull() | (F.col("o_orderdate") < F.col("eff_to"))),
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.col("acctbal").alias("acctbal_asof"),
        "eff_from",
    )


# --------------------------------------------------------------------------
# Bitwise aggregates — bit_and / bit_or / bit_xor per group
# --------------------------------------------------------------------------
@query(
    "agg_bitops",
    oracle="""
    SELECT l_returnflag,
           CAST(bit_and(l_linenumber) AS INT) AS b_and,
           CAST(bit_or(l_linenumber) AS INT) AS b_or,
           CAST(bit_xor(l_linenumber) AS INT) AS b_xor,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_bitops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate family (A-family extension): bit_and/or/xor
    fold per group — associative+commutative, so partial aggregation
    map-side is free like any algebraic agg."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("bit_and(l_linenumber)").cast("int").alias("b_and"),
        F.expr("bit_or(l_linenumber)").cast("int").alias("b_or"),
        F.expr("bit_xor(l_linenumber)").cast("int").alias("b_xor"),
        F.count("*").alias("n"),
    )


# --------------------------------------------------------------------------
# Linear-regression aggregate family — regr_* per group
# --------------------------------------------------------------------------
@query(
    "agg_regression",
    oracle="""
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 6) AS icept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
           round(regr_avgx(l_extendedprice, l_quantity), 6) AS avgx,
           round(regr_avgy(l_extendedprice, l_quantity), 6) AS avgy,
           round(corr(l_extendedprice, l_quantity), 6) AS r
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS regression aggregates (A9 extension): slope/intercept/R²
    of price on quantity per group via the one-pass moment
    accumulators (regr_*) — second-moment state merges associatively,
    so the shuffle carries 6 doubles per group regardless of scale."""
    li = table(spark, sf_dir, "lineitem")
    y, x = "l_extendedprice", "l_quantity"
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr(f"regr_slope({y}, {x})"), 6).alias("slope"),
        F.round(F.expr(f"regr_intercept({y}, {x})"), 6).alias("icept"),
        F.round(F.expr(f"regr_r2({y}, {x})"), 6).alias("r2"),
        F.expr(f"regr_count({y}, {x})").cast("bigint").alias("n"),
        F.round(F.expr(f"regr_avgx({y}, {x})"), 6).alias("avgx"),
        F.round(F.expr(f"regr_avgy({y}, {x})"), 6).alias("avgy"),
        F.round(F.corr(y, x), 6).alias("r"),
    )


# --------------------------------------------------------------------------
# Time-to-conversion — forward-looking twin of last-touch attribution
# --------------------------------------------------------------------------
@query(
    "events_time_to_convert",
    oracle=f"""
    WITH sub AS (SELECT event_id, user_id, event_type, ts,
                        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                          AS kindord
                 FROM events
                 WHERE event_type IN ('purchase', 'view')),
    c AS (SELECT *,
            first_value(CASE WHEN kindord = 1 THEN event_id END IGNORE NULLS)
              OVER w AS p_id,
            first_value(CASE WHEN kindord = 1 THEN ts END IGNORE NULLS)
              OVER w AS p_ts
          FROM sub
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, kindord, event_id
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
    SELECT event_id AS view_id, user_id, ts AS v_ts,
           CASE WHEN ok THEN p_id END AS purchase_id,
           CASE WHEN ok THEN round(gap_s / 60.0, 2) END AS mins_to_convert
    FROM (SELECT *,
                 CAST(floor(epoch(date_trunc('second', p_ts))) AS BIGINT)
                   - CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT)
                   AS gap_s,
                 p_ts IS NOT NULL
                 AND CAST(floor(epoch(date_trunc('second', p_ts))) AS BIGINT)
                     - CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT)
                     <= {_ATTR_DAYS} * 86400 AS ok
          FROM c WHERE event_type = 'view')
    """,
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-conversion: for each view, minutes until the same
    user's next purchase STRICTLY after it (within 7 days, else
    unconverted). The forward twin of events_attribution: ordering by
    (ts, view-first, event_id) makes a same-timestamp purchase
    invisible (strict >), and one FOLLOWING-frame window replaces the
    view x purchase self-join."""
    ev = table(spark, sf_dir, "events")
    sub = ev.filter(F.col("event_type").isin("purchase", "view")).select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("kindord"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kindord", "event_id")
        .rowsBetween(1, W.unboundedFollowing)
    )
    is_p = F.col("kindord") == 1
    c = sub.select(
        "*",
        F.first(F.when(is_p, F.col("event_id")), ignorenulls=True).over(w).alias("p_id"),
        F.first(F.when(is_p, F.col("ts")), ignorenulls=True).over(w).alias("p_ts"),
    ).filter(F.col("event_type") == "view")
    gap_s = F.unix_timestamp(F.date_trunc("second", F.col("p_ts"))) - F.unix_timestamp(
        F.date_trunc("second", F.col("ts"))
    )
    ok = F.col("p_ts").isNotNull() & (gap_s <= _ATTR_DAYS * 86400)
    return c.select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("v_ts"),
        F.when(ok, F.col("p_id")).alias("purchase_id"),
        F.when(ok, F.round(gap_s / 60.0, 2)).alias("mins_to_convert"),
    )


# --------------------------------------------------------------------------
# Rate estimation with Wilson confidence intervals
# --------------------------------------------------------------------------
_Z95 = 1.959963984540054  # two-sided 95% normal quantile


@query(
    "stats_rate_ci",
    oracle=f"""
    WITH r AS (SELECT n_name,
                      CAST(count(*) AS BIGINT) AS n,
                      CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT)
                        AS n_ret
               FROM lineitem
               JOIN orders ON l_orderkey = o_orderkey
               JOIN customer ON o_custkey = c_custkey
               JOIN nation ON c_nationkey = n_nationkey
               GROUP BY n_name)
    SELECT n_name, n, n_ret,
           round(n_ret / CAST(n AS DOUBLE), 6) AS rate,
           round((n_ret / CAST(n AS DOUBLE) + {_Z95} * {_Z95} / (2 * n)
                  - {_Z95} * sqrt(n_ret / CAST(n AS DOUBLE)
                                  * (1 - n_ret / CAST(n AS DOUBLE)) / n
                                  + {_Z95} * {_Z95} / (4.0 * n * n)))
                 / (1 + {_Z95} * {_Z95} / n), 6) AS ci_lo,
           round((n_ret / CAST(n AS DOUBLE) + {_Z95} * {_Z95} / (2 * n)
                  + {_Z95} * sqrt(n_ret / CAST(n AS DOUBLE)
                                  * (1 - n_ret / CAST(n AS DOUBLE)) / n
                                  + {_Z95} * {_Z95} / (4.0 * n * n)))
                 / (1 + {_Z95} * {_Z95} / n), 6) AS ci_hi
    FROM r
    """,
)
def stats_rate_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation return rate with a Wilson 95% interval — the proper
    small-sample rate CI a monitoring pipeline publishes (never goes
    outside [0,1], unlike the normal approximation). One star join +
    one group-by; the interval is pure scalar math on (n, n_ret)."""
    li = table(spark, sf_dir, "lineitem")
    r = (
        li.join(table(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(table(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(table(spark, sf_dir, "nation")), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("n_ret"),
        )
    )
    n = F.col("n").cast("double")
    p = F.col("n_ret") / n
    z2 = _Z95 * _Z95
    center = p + z2 / (2 * n)
    half = _Z95 * F.sqrt(p * (1 - p) / n + z2 / (4 * n * n))
    denom = 1 + z2 / n
    return r.select(
        "n_name",
        "n",
        "n_ret",
        F.round(p, 6).alias("rate"),
        F.round((center - half) / denom, 6).alias("ci_lo"),
        F.round((center + half) / denom, 6).alias("ci_hi"),
    )


# --------------------------------------------------------------------------
# Chi-square independence test — lang × source contingency
# --------------------------------------------------------------------------
@query(
    "stats_chisq",
    oracle="""
    WITH obs AS (SELECT lang, source, CAST(count(*) AS DOUBLE) AS o
                 FROM documents GROUP BY lang, source),
    m AS (SELECT lang, sum(o) AS rl FROM obs GROUP BY lang),
    s AS (SELECT source, sum(o) AS cs FROM obs GROUP BY source),
    t AS (SELECT sum(o) AS tot FROM obs),
    e AS (SELECT obs.lang, obs.source, o, rl * cs / tot AS exp
          FROM obs JOIN m USING (lang) JOIN s USING (source) CROSS JOIN t)
    SELECT round(sum((o - exp) * (o - exp) / exp), 6) AS chi2,
           CAST((count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1) AS BIGINT)
             AS dof,
           CAST(count(*) AS BIGINT) AS n_cells
    FROM e
    """,
)
def stats_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between two categorical columns
    (lang x source) — the dependency detector a data-profiling pass
    runs on every column pair. Contingency counts, broadcast
    marginals, one scalar statistic; cells bounded by |lang|*|source|
    regardless of corpus size."""
    docs = table(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(F.count("*").cast("double").alias("o"))
    m = obs.groupBy("lang").agg(F.sum("o").alias("rl"))
    s = obs.groupBy("source").agg(F.sum("o").alias("cs"))
    t = obs.agg(F.sum("o").alias("tot"))
    e = (
        obs.join(F.broadcast(m), "lang")
        .join(F.broadcast(s), "source")
        .crossJoin(F.broadcast(t))
        .withColumn("exp", F.col("rl") * F.col("cs") / F.col("tot"))
    )
    return e.agg(
        F.round(F.sum((F.col("o") - F.col("exp")) ** 2 / F.col("exp")), 6).alias("chi2"),
        (
            (F.countDistinct("lang") - 1) * (F.countDistinct("source") - 1)
        ).cast("bigint").alias("dof"),
        F.count("*").alias("n_cells"),
    )


# --------------------------------------------------------------------------
# Population Stability Index — distribution drift between two periods
# --------------------------------------------------------------------------
_PSI_BINS = 10
_PSI_WIDTH = 60000.0  # o_totalprice bucket width


@query(
    "dq_drift_psi",
    oracle=f"""
    WITH tagged AS (
      SELECT least(CAST(floor(o_totalprice / {_PSI_WIDTH}) AS INT),
                   {_PSI_BINS - 1}) AS bin,
             year(o_orderdate) AS yr
      FROM orders WHERE year(o_orderdate) IN (1995, 1996)),
    c AS (SELECT bin,
                 CAST(count(*) FILTER (WHERE yr = 1995) AS BIGINT) AS n_a,
                 CAST(count(*) FILTER (WHERE yr = 1996) AS BIGINT) AS n_b
          FROM tagged GROUP BY bin),
    t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM c),
    s AS (SELECT bin, n_a, n_b,
                 (n_a + 0.5) / (ta + {_PSI_BINS} * 0.5) AS p,
                 (n_b + 0.5) / (tb + {_PSI_BINS} * 0.5) AS q
          FROM c CROSS JOIN t)
    SELECT bin, n_a, n_b,
           round(p, 6) AS p, round(q, 6) AS q,
           round((p - q) * ln(p / q), 6) AS psi_term,
           round(sum((p - q) * ln(p / q)) OVER (), 6) AS psi_total
    FROM s
    """,
)
def dq_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two periods (1995 vs 1996
    order totals): the standard drift monitor for a column's
    distribution (PSI < 0.1 stable, > 0.25 shifted). Fixed-width bins
    with 0.5-count smoothing so empty bins stay defined; the whole
    computation reduces to a {bins}-row table however large the fact
    input is."""
    o = table(spark, sf_dir, "orders")
    tagged = o.filter(F.year("o_orderdate").isin(1995, 1996)).select(
        F.least(
            F.floor(F.col("o_totalprice") / _PSI_WIDTH).cast("int"), F.lit(_PSI_BINS - 1)
        ).alias("bin"),
        F.year("o_orderdate").alias("yr"),
    )
    c = tagged.groupBy("bin").agg(
        F.sum(F.when(F.col("yr") == 1995, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("yr") == 1996, 1).otherwise(0)).alias("n_b"),
    )
    t = c.agg(F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb"))
    s = c.crossJoin(F.broadcast(t)).select(
        "bin",
        "n_a",
        "n_b",
        ((F.col("n_a") + 0.5) / (F.col("ta") + _PSI_BINS * 0.5)).alias("p"),
        ((F.col("n_b") + 0.5) / (F.col("tb") + _PSI_BINS * 0.5)).alias("q"),
    )
    term = (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))
    return s.select(
        "bin",
        "n_a",
        "n_b",
        F.round("p", 6).alias("p"),
        F.round("q", 6).alias("q"),
        F.round(term, 6).alias("psi_term"),
        F.round(F.sum(term).over(W.partitionBy()), 6).alias("psi_total"),
    )


# --------------------------------------------------------------------------
# Bot scoring — rule-based behavioral anomaly flags per user
# --------------------------------------------------------------------------
@query(
    "events_bot_score",
    oracle="""
    WITH per_type AS (SELECT user_id, event_type, count(*) AS c
                      FROM events GROUP BY user_id, event_type),
    shares AS (SELECT user_id, c,
                      c / CAST(sum(c) OVER (PARTITION BY user_id) AS DOUBLE) AS sh
               FROM per_type),
    u AS (SELECT user_id, sum(c) AS n,
                 round(sum(-sh * ln(sh)), 6) AS type_entropy
          FROM shares GROUP BY user_id),
    span AS (SELECT user_id,
                    CAST(floor(epoch(date_trunc('second', max(ts)))) AS BIGINT)
                      - CAST(floor(epoch(date_trunc('second', min(ts)))) AS BIGINT)
                      AS span_s
             FROM events GROUP BY user_id)
    SELECT u.user_id, CAST(n AS BIGINT) AS n, span_s, type_entropy,
           round(n * 3600.0 / greatest(span_s, 60), 6) AS rate_per_hr,
           (n >= 20 AND (n * 3600.0 / greatest(span_s, 60) > 4.0
                         OR type_entropy < 0.8)) AS bot_flag
    FROM u JOIN span ON u.user_id = span.user_id
    """,
)
def events_bot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based bot scoring per user: hourly event rate over the
    active span plus Shannon entropy of the event-type mix — high
    rate or a too-regular type distribution flags automation. Two
    per-user aggregations (partial map-side), no self-joins; the
    rules are plain column predicates a policy config can tune."""
    ev = table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    tot = W.partitionBy("user_id")
    share = F.col("c") / F.sum("c").over(tot).cast("double")
    u = (
        per_type.withColumn("term", -share * F.log(share))
        .groupBy("user_id")
        .agg(F.sum("c").alias("n"), F.round(F.sum("term"), 6).alias("type_entropy"))
    )
    es = F.unix_timestamp(F.date_trunc("second", F.col("ts")))
    span = ev.groupBy("user_id").agg((F.max(es) - F.min(es)).alias("span_s"))
    j = u.join(span, "user_id")
    rate = F.col("n") * 3600.0 / F.greatest(F.col("span_s"), F.lit(60))
    return j.select(
        "user_id",
        F.col("n").cast("bigint").alias("n"),
        "span_s",
        "type_entropy",
        F.round(rate, 6).alias("rate_per_hr"),
        ((F.col("n") >= 20) & ((rate > 4.0) | (F.col("type_entropy") < 0.8))).alias(
            "bot_flag"
        ),
    )


# --------------------------------------------------------------------------
# LISTAGG / string_agg — ordered string concatenation per group
# --------------------------------------------------------------------------
@query(
    "agg_listagg",
    oracle="""
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS members,
           CAST(count(*) AS BIGINT) AS n
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG/string_agg semantics: members of each region as one
    ordered CSV string. Spark expresses it as
    array_join(sort_array(collect_list(...))) — the explicit ORDER BY
    inside the aggregate that makes string concatenation
    deterministic across partitionings."""
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("members"),
            F.count("*").alias("n"),
        )
    )


# --------------------------------------------------------------------------
# VARIANT — Spark 4 semi-structured type (parse once, extract cheaply)
# --------------------------------------------------------------------------
@query(
    "fn_variant",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INT) AS k,
           CAST(json_extract(props, '$.k') AS INT) % 10 AS k_mod,
           json_extract(props, '$.missing') IS NULL AS miss_null
    FROM events
    """,
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT type: parse_json once into the binary variant
    encoding, then variant_get extracts fields without re-parsing —
    the semi-structured path that replaces per-access get_json_object
    string parsing (one parse per row instead of one per field, the
    difference that matters when a 100 TB events table carries wide
    JSON payloads). Missing paths yield NULL, matching JSON
    semantics."""
    ev = table(spark, sf_dir, "events")
    v = ev.select("event_id", F.parse_json("props").alias("v"))
    return v.select(
        "event_id",
        F.expr("variant_get(v, '$.k', 'int')").alias("k"),
        (F.expr("variant_get(v, '$.k', 'int')") % 10).alias("k_mod"),
        F.expr("variant_get(v, '$.missing', 'int')").isNull().alias("miss_null"),
    )


# --------------------------------------------------------------------------
# MinHash estimator calibration — estimated vs exact Jaccard per pair
# --------------------------------------------------------------------------
def _minhash_est_oracle() -> str:
    from etl_framework_spark.operators.dedup import duck_minhash

    sig_exprs = ", ".join(
        f"{e} AS m{i}" for i, e in enumerate(duck_minhash("ts", 16))
    )
    agree = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(16)
    )
    return f"""
    WITH toksets AS (SELECT doc_id, lang, source,
                            list_distinct(string_split(text, ' ')) AS ts
                     FROM documents),
    sigs AS (SELECT doc_id, lang, source, ts, {sig_exprs} FROM toksets)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(({agree}) AS INT) AS n_agree,
           round(({agree}) / 16.0, 6) AS est_jac,
           round(CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
                 / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))), 6)
             AS exact_jac,
           round(({agree}) / 16.0
                 - CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
                   / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))), 6)
             AS err
    FROM sigs a JOIN sigs b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    """


@query("llm_minhash_est_err", oracle=_minhash_est_oracle())
def llm_minhash_est_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: for every blocked pair, the
    signature-agreement estimate of Jaccard (the unbiased estimator
    LSH banding is built on) next to the exact value and the error —
    the diagnostic that tells you whether K=16 permutations suffice
    for YOUR corpus before you trust the bands at scale. Signatures
    come from the same md5-sliced machinery as llm_dedup_minhash, so
    the oracle reproduces them bit-for-bit."""
    from etl_framework_spark.operators.dedup import attach_minhash

    docs = table(spark, sf_dir, "documents")
    toksets = docs.select(
        "doc_id", "lang", "source", F.array_distinct(tokens("text")).alias("ts")
    )
    # Exact intersections via the token-explode equi-join (see
    # operators/dedup.blocked_jaccard_pairs): shared-token counts come
    # from one partial-agg shuffle instead of array_intersect per pair.
    # This key's contract INCLUDES zero-overlap pairs, so the counts
    # LEFT-join onto the signature pair enumeration (missing -> 0).
    tok = toksets.select("doc_id", "lang", "source", F.explode("ts").alias("tok"))
    ta = tok.select(F.col("doc_id").alias("ia"), "lang", "source", "tok")
    tb = tok.select(
        F.col("doc_id").alias("ib"),
        F.col("lang").alias("l2"),
        F.col("source").alias("s2"),
        F.col("tok").alias("tok2"),
    )
    shared = (
        ta.join(
            tb,
            (F.col("lang") == F.col("l2"))
            & (F.col("source") == F.col("s2"))
            & (F.col("tok") == F.col("tok2"))
            & (F.col("ia") < F.col("ib")),
        )
        .groupBy("ia", "ib")
        .agg(F.count("*").cast("double").alias("inter"))
    )
    # persist: the signature self-join references this frame on both
    # sides — without a cache the 16-permutation md5 signature pipeline
    # runs twice (same fix as llm_dedup_simhash_banded, r10). Tiny
    # frame: one row per doc, 16 4-hex-char slices + size.
    sigs = (
        attach_minhash(toksets.withColumn("sz", F.size("ts")), "ts", 16)
        .drop("ts")
        .transform(persist_tracked)
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    agree = sum(
        F.when(F.col(f"a.s{i}") == F.col(f"b.s{i}"), 1).otherwise(0) for i in range(16)
    )
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.source") == F.col("b.source"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        agree.cast("int").alias("n_agree"),
        (F.col("a.sz") + F.col("b.sz")).alias("szsum"),
    )
    joined = pairs.join(
        shared,
        (pairs.id_a == shared.ia) & (pairs.id_b == shared.ib),
        "left",
    ).select(
        "id_a",
        "id_b",
        "n_agree",
        F.coalesce("inter", F.lit(0.0)).alias("inter"),
        "szsum",
    )
    exact = F.col("inter") / (F.col("szsum") - F.col("inter"))
    return joined.select(
        "id_a",
        "id_b",
        "n_agree",
        F.round(F.col("n_agree") / 16.0, 6).alias("est_jac"),
        F.round(exact, 6).alias("exact_jac"),
        F.round(F.col("n_agree") / 16.0 - exact, 6).alias("err"),
    )


# --------------------------------------------------------------------------
# Seasonal-naive forecast backtest — expanding-window evaluation
# --------------------------------------------------------------------------
@query(
    "events_forecast_backtest",
    oracle="""
    WITH daily AS (SELECT event_type, date_trunc('day', ts) AS d,
                          CAST(count(*) AS BIGINT) AS n
                   FROM events GROUP BY 1, 2),
    pred AS (SELECT *,
                    avg(CAST(n AS DOUBLE)) OVER (
                      PARTITION BY event_type, dayofweek(d)
                      ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS yhat
             FROM daily)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_scored,
           round(avg(abs(n - yhat)), 6) AS mae,
           round(avg(abs(n - yhat) / n), 6) AS mape,
           round(max(abs(n - yhat)), 6) AS worst_abs_err
    FROM pred WHERE yhat IS NOT NULL
    GROUP BY event_type
    """,
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's event
    count from the expanding mean of PRIOR same-weekday days (no
    leakage — the frame ends 1 preceding), then score MAE/MAPE per
    type. The baseline every fancier forecaster must beat, and the
    backtest harness shape — per-(type, dow) windows keep state
    bounded by one series' history."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count("*").alias("n"))
    w = (
        W.partitionBy("event_type", F.dayofweek("d"))
        .orderBy("d")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    pred = daily.withColumn("yhat", F.avg(F.col("n").cast("double")).over(w))
    err = F.abs(F.col("n") - F.col("yhat"))
    return (
        pred.filter(F.col("yhat").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_scored"),
            F.round(F.avg(err), 6).alias("mae"),
            F.round(F.avg(err / F.col("n")), 6).alias("mape"),
            F.round(F.max(err), 6).alias("worst_abs_err"),
        )
    )


# --------------------------------------------------------------------------
# Cohort LTV curve — cumulative revenue per customer by cohort age
# --------------------------------------------------------------------------
@query(
    "cohort_ltv",
    oracle="""
    WITH first_order AS (SELECT o_custkey,
                                date_trunc('month', min(o_orderdate)) AS cohort
                         FROM orders GROUP BY o_custkey),
    sized AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
              FROM first_order GROUP BY cohort),
    rev AS (SELECT f.cohort,
                   CAST(datediff('month', f.cohort,
                                 date_trunc('month', o.o_orderdate)) AS INT)
                     AS age_months,
                   sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue
            FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
            GROUP BY 1, 2),
    cum AS (SELECT cohort, age_months, cohort_size,
                   sum(revenue) OVER (PARTITION BY cohort ORDER BY age_months)
                     AS cum_revenue
            FROM rev JOIN sized USING (cohort))
    SELECT cohort, age_months, cohort_size,
           CAST(cum_revenue AS DOUBLE) AS cum_revenue,
           floor(CAST(cum_revenue AS DOUBLE) / cohort_size * 100 + 0.5) / 100
             AS ltv_per_customer
    FROM cum
    """,
)
def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers cohorted by first-order
    month; cumulative revenue per cohort by months-since-first,
    normalized per customer — the curve that says when a cohort pays
    back. First-order table is one agg over the fact; the running sum
    partitions by cohort (|months| rows each)."""
    o = table(spark, sf_dir, "orders")
    first = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    sized = first.groupBy("cohort").agg(F.count("*").alias("cohort_size"))
    j = o.join(first, "o_custkey")
    age = (
        (F.year("o_orderdate") - F.year("cohort")) * 12
        + (F.month("o_orderdate") - F.month("cohort"))
    ).cast("int")
    # decimal money math: exact and summation-order independent, so
    # the running sum is bit-identical across engines/partitionings
    rev = j.groupBy("cohort", age.alias("age_months")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue")
    )
    w = W.partitionBy("cohort").orderBy("age_months")
    cum = (
        rev.join(F.broadcast(sized), "cohort")
        .withColumn("cum_revenue", F.sum("revenue").over(w))
    )
    return cum.select(
        "cohort",
        "age_months",
        "cohort_size",
        F.col("cum_revenue").cast("double").alias("cum_revenue"),
        # floor-quantize instead of round(): pure double arithmetic is
        # bit-identical across engines, while round()'s decimal-tie
        # behavior differs at exact half-cents (values are positive)
        (F.floor(F.col("cum_revenue").cast("double") / F.col("cohort_size") * 100 + 0.5) / 100
        ).alias("ltv_per_customer"),
    )


# --------------------------------------------------------------------------
# Fulfillment lag distribution per order priority
# --------------------------------------------------------------------------
@query(
    "orders_ship_lag",
    oracle="""
    WITH lags AS (SELECT o.o_orderpriority,
                         CAST(datediff('day', o.o_orderdate, l.l_shipdate) AS INT)
                           AS lag_days
                  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(CAST(lag_days AS DOUBLE)), 6) AS avg_lag,
           round(quantile_cont(CAST(lag_days AS DOUBLE), 0.5), 6) AS p50_lag,
           round(quantile_cont(CAST(lag_days AS DOUBLE), 0.9), 6) AS p90_lag,
           CAST(max(lag_days) AS INT) AS max_lag
    FROM lags GROUP BY o_orderpriority
    """,
)
def orders_ship_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment-lag SLA profile: days from order to line shipment,
    mean/p50/p90/max per priority class — the ops report that shows
    whether urgent orders actually ship faster. Exact interpolated
    percentiles over the per-priority lag sets."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    lags = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "o_orderpriority",
        F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("int")
        .alias("lag_days"),
    )
    d = F.col("lag_days").cast("double")
    return lags.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.avg(d), 6).alias("avg_lag"),
        F.round(F.expr("percentile(CAST(lag_days AS DOUBLE), 0.5)"), 6).alias("p50_lag"),
        F.round(F.expr("percentile(CAST(lag_days AS DOUBLE), 0.9)"), 6).alias("p90_lag"),
        F.max("lag_days").alias("max_lag"),
    )


# --------------------------------------------------------------------------
# Gini coefficient — activity concentration across users
# --------------------------------------------------------------------------
@query(
    "events_gini",
    oracle="""
    WITH per_user AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS x
                      FROM events GROUP BY user_id),
    ranked AS (SELECT x, row_number() OVER (ORDER BY x, user_id) AS i,
                      count(*) OVER () AS n, sum(x) OVER () AS tot
               FROM per_user)
    SELECT CAST(max(n) AS BIGINT) AS n_users,
           round(max(tot), 1) AS n_events,
           round(2.0 * sum(i * x) / (max(n) * max(tot))
                 - (max(n) + 1.0) / max(n), 6) AS gini
    FROM ranked
    """,
)
def events_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user activity — the concentration
    statistic behind 'do 20% of users generate 80% of events'
    (0 = uniform, →1 = one user dominates). Rank-weighted exact
    formula: one per-user agg (fact-sized shuffle), then windows over
    the |users|-sized rollup only."""
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count("*").cast("double").alias("x"))
    w_rank = W.orderBy("x", "user_id")
    w_all = W.partitionBy()
    ranked = per_user.select(
        "x",
        F.row_number().over(w_rank).alias("i"),
        F.count("*").over(w_all).alias("n"),
        F.sum("x").over(w_all).alias("tot"),
    )
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_users"),
        F.round(F.max("tot"), 1).alias("n_events"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("x")) / (F.max("n") * F.max("tot"))
            - (F.max("n") + 1.0) / F.max("n"),
            6,
        ).alias("gini"),
    )


# --------------------------------------------------------------------------
# Temporal mix drift — weekly event-type KL divergence vs the global mix
# --------------------------------------------------------------------------
@query(
    "events_mix_drift",
    oracle="""
    WITH wk AS (SELECT date_trunc('week', ts) AS week, event_type,
                       CAST(count(*) AS DOUBLE) AS c
                FROM events GROUP BY 1, 2),
    wtot AS (SELECT week, sum(c) AS wn FROM wk GROUP BY week),
    gtot AS (SELECT event_type, sum(c) AS gc FROM wk GROUP BY event_type),
    g AS (SELECT event_type, gc / (SELECT sum(gc) FROM gtot) AS q FROM gtot),
    terms AS (SELECT wk.week, wk.event_type,
                     (wk.c / wtot.wn) AS p, g.q
              FROM wk JOIN wtot USING (week) JOIN g USING (event_type))
    SELECT week,
           round(sum(p * ln(p / q)), 6) AS kl_vs_global,
           CAST(count(*) AS BIGINT) AS n_types
    FROM terms GROUP BY week
    """,
)
def events_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal mix drift: each week's event-type distribution scored
    by KL divergence against the corpus-wide mix — the alarm for 'the
    traffic changed shape this week'. Weekly cells are
    |weeks|x|types|-bounded; the global mix broadcasts back onto
    them."""
    ev = table(spark, sf_dir, "events")
    wk = ev.groupBy(
        F.date_trunc("week", F.col("ts")).alias("week"), "event_type"
    ).agg(F.count("*").cast("double").alias("c"))
    wtot = wk.groupBy("week").agg(F.sum("c").alias("wn"))
    gtot = wk.groupBy("event_type").agg(F.sum("c").alias("gc"))
    total = gtot.agg(F.sum("gc").alias("t"))
    g = gtot.crossJoin(F.broadcast(total)).select(
        "event_type", (F.col("gc") / F.col("t")).alias("q")
    )
    terms = (
        wk.join(wtot, "week")
        .join(F.broadcast(g), "event_type")
        .select("week", "event_type", (F.col("c") / F.col("wn")).alias("p"), "q")
    )
    return terms.groupBy("week").agg(
        F.round(F.sum(F.col("p") * F.log(F.col("p") / F.col("q"))), 6).alias(
            "kl_vs_global"
        ),
        F.count("*").alias("n_types"),
    )


# --------------------------------------------------------------------------
# A/B test evaluation — hash-assigned arms, Welch z-test on mean value
# --------------------------------------------------------------------------
@query(
    "events_ab_test",
    oracle="""
    WITH tagged AS (SELECT CAST(CASE WHEN ((user_id % 1000000007) * 2654435761) % 4294967296
                                          >= 2147483648 THEN 1 ELSE 0 END
                                AS INT) AS arm,
                           value
                    FROM events),
    arms AS (SELECT arm,
                    CAST(count(*) AS BIGINT) AS n,
                    avg(value) AS m,
                    var_samp(value) AS v
             FROM tagged GROUP BY arm),
    wide AS (SELECT
               max(CASE WHEN arm = 0 THEN n END) AS n0,
               max(CASE WHEN arm = 0 THEN m END) AS m0,
               max(CASE WHEN arm = 0 THEN v END) AS v0,
               max(CASE WHEN arm = 1 THEN n END) AS n1,
               max(CASE WHEN arm = 1 THEN m END) AS m1,
               max(CASE WHEN arm = 1 THEN v END) AS v1
             FROM arms)
    SELECT n0, round(m0, 6) AS mean0, n1, round(m1, 6) AS mean1,
           round(m1 - m0, 6) AS lift,
           round((m1 - m0) / sqrt(v0 / n0 + v1 / n1), 6) AS z,
           abs((m1 - m0) / sqrt(v0 / n0 + v1 / n1)) > 1.959963984540054
             AS significant
    FROM wide
    """,
)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation primitive: traffic deterministically hash-split
    into two arms — the HIGH bit of the Knuth multiplicative hash
    ((user_id * K) mod 2^32 >= 2^31, same constants as train_split),
    not the low bit, which for an odd multiplier would just be user_id
    parity and correlate with anything else keyed on parity — mean
    event value compared with the Welch large-sample z-test. On this
    synthetic traffic the arms MUST NOT differ significantly — the A/A
    sanity check every experimentation platform runs before trusting
    its assignment; the same plan with a real treatment flag is the
    A/B readout. One partial-agg shuffle to 2 rows."""
    ev = table(spark, sf_dir, "events")
    tagged = ev.select(
        F.when(
            F.pmod((F.col("user_id") % 1000000007) * 2654435761, F.lit(4294967296)) >= 2147483648,
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("arm"),
        "value",
    )
    arms = tagged.groupBy("arm").agg(
        F.count("*").alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("m"))).alias("m0"),
        F.max(F.when(F.col("arm") == 0, F.col("v"))).alias("v0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("m"))).alias("m1"),
        F.max(F.when(F.col("arm") == 1, F.col("v"))).alias("v1"),
    )
    z = (F.col("m1") - F.col("m0")) / F.sqrt(
        F.col("v0") / F.col("n0") + F.col("v1") / F.col("n1")
    )
    return wide.select(
        "n0",
        F.round("m0", 6).alias("mean0"),
        "n1",
        F.round("m1", 6).alias("mean1"),
        F.round(F.col("m1") - F.col("m0"), 6).alias("lift"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > 1.959963984540054).alias("significant"),
    )


# --------------------------------------------------------------------------
# Clustering quality — purity and NMI of k-means clusters vs labels
# --------------------------------------------------------------------------
def _purity_oracle() -> str:
    from etl_framework_spark.queries.cluster_q import KMEANS_A2_CTE

    return KMEANS_A2_CTE + """,
    j AS (SELECT a2.cid, e.label FROM a2 JOIN embeddings e USING (vec_id)),
    cont AS (SELECT cid, label, CAST(count(*) AS DOUBLE) AS c
             FROM j GROUP BY cid, label),
    tot AS (SELECT sum(c) AS n FROM cont),
    pc AS (SELECT cid, sum(c) AS nc FROM cont GROUP BY cid),
    pl AS (SELECT label, sum(c) AS nl FROM cont GROUP BY label),
    mx AS (SELECT cid, max(c) AS m FROM cont GROUP BY cid),
    mi AS (SELECT sum((c / n) * ln((c * n) / (nc * nl))) AS i
           FROM cont JOIN pc USING (cid) JOIN pl USING (label) CROSS JOIN tot),
    hc AS (SELECT -sum((nc / n) * ln(nc / n)) AS h FROM pc CROSS JOIN tot),
    hl AS (SELECT -sum((nl / n) * ln(nl / n)) AS h FROM pl CROSS JOIN tot)
    SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n_vecs,
           CAST((SELECT count(*) FROM pc) AS BIGINT) AS n_clusters,
           round((SELECT sum(m) FROM mx) / (SELECT n FROM tot), 6) AS purity,
           round(2 * (SELECT i FROM mi)
                 / ((SELECT h FROM hc) + (SELECT h FROM hl)), 6) AS nmi
    """


@query("llm_cluster_purity", oracle=_purity_oracle())
def llm_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-evaluation composite: purity (majority-label mass)
    and normalized mutual information of the k-means assignment
    against the embedding labels — the scorecard that says whether
    unsupervised clusters recover known structure. Replays the exact
    kmeans assignment (shared CTE/plan with llm_kmeans), then all
    statistics reduce over the k x |labels| contingency table."""
    from etl_framework_spark.queries.cluster_q import kmeans_a2

    a2 = kmeans_a2(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    # persist: FIVE downstream branches (total, per-cluster, per-label,
    # majority mass, MI terms) consume the contingency table — without
    # a cache each replays the full iterative k-means assignment (r10:
    # 2.85 s -> ~1 s at sf0.1). Tiny frame: k × |labels| rows.
    cont = (
        a2.join(emb, "vec_id")
        .groupBy("cid", "label")
        .agg(F.count("*").cast("double").alias("c"))
    ).transform(persist_tracked)
    tot = cont.agg(F.sum("c").alias("n"))
    pc = cont.groupBy("cid").agg(F.sum("c").alias("nc"))
    pl = cont.groupBy("label").agg(F.sum("c").alias("nl"))
    mx = cont.groupBy("cid").agg(F.max("c").alias("m"))
    terms = (
        cont.join(F.broadcast(pc), "cid")
        .join(F.broadcast(pl), "label")
        .crossJoin(F.broadcast(tot))
    )
    mi = terms.agg(
        F.sum((F.col("c") / F.col("n")) * F.log(F.col("c") * F.col("n") / (F.col("nc") * F.col("nl")))).alias("i")
    )
    hc = pc.crossJoin(F.broadcast(tot)).agg(
        (-F.sum((F.col("nc") / F.col("n")) * F.log(F.col("nc") / F.col("n")))).alias("h")
    )
    hl = pl.crossJoin(F.broadcast(tot)).agg(
        (-F.sum((F.col("nl") / F.col("n")) * F.log(F.col("nl") / F.col("n")))).alias("h")
    )
    pur = mx.agg(F.sum("m").alias("sm")).crossJoin(F.broadcast(tot))
    nclu = pc.agg(F.count("*").alias("k"))
    return (
        tot.crossJoin(F.broadcast(nclu))
        .crossJoin(F.broadcast(pur.select((F.col("sm") / F.col("n")).alias("purity"))))
        .crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hc.select(F.col("h").alias("h_c"))))
        .crossJoin(F.broadcast(hl.select(F.col("h").alias("h_l"))))
        .select(
            F.col("n").cast("bigint").alias("n_vecs"),
            F.col("k").cast("bigint").alias("n_clusters"),
            F.round("purity", 6).alias("purity"),
            F.round(2 * F.col("i") / (F.col("h_c") + F.col("h_l")), 6).alias("nmi"),
        )
    )


# --------------------------------------------------------------------------
# Survival curve — fraction of users still active k days after first seen
# --------------------------------------------------------------------------
_SURV_DAYS = 30


@query(
    "events_survival",
    oracle=f"""
    WITH life AS (SELECT user_id,
                         CAST(datediff('day', date_trunc('day', min(ts)),
                                       date_trunc('day', max(ts))) AS INT)
                           AS lifetime_days
                  FROM events GROUP BY user_id),
    grid AS (SELECT unnest(generate_series(0, {_SURV_DAYS - 1})) AS k),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM life)
    SELECT CAST(k AS INT) AS k,
           CAST((SELECT count(*) FROM life WHERE lifetime_days >= k) AS BIGINT)
             AS n_surviving,
           round((SELECT count(*) FROM life WHERE lifetime_days >= k)
                 / CAST((SELECT n_users FROM n) AS DOUBLE), 6) AS surviving_frac
    FROM grid
    """,
)
def events_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival curve: for each day offset k, the fraction of users
    whose observed lifetime (first to last event) reaches k — the
    retention-decay curve product teams read before cohort detail.
    Lifetimes are one per-user agg; the curve is a broadcast of the
    30-day grid against the |users|-sized rollup (grid join, never a
    fact-sized cross product)."""
    ev = table(spark, sf_dir, "events")
    life = ev.groupBy("user_id").agg(
        F.datediff(
            F.date_trunc("day", F.max("ts")).cast("date"),
            F.date_trunc("day", F.min("ts")).cast("date"),
        )
        .cast("int")
        .alias("lifetime_days")
    )
    grid = spark.range(_SURV_DAYS).select(F.col("id").cast("int").alias("k"))
    n = life.agg(F.count("*").alias("n_users"))
    joined = life.crossJoin(F.broadcast(grid)).filter(
        F.col("lifetime_days") >= F.col("k")
    )
    surv = joined.groupBy("k").agg(F.count("*").alias("n_surviving"))
    return (
        grid.join(surv, "k", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "k",
            F.coalesce("n_surviving", F.lit(0)).alias("n_surviving"),
            F.round(
                F.coalesce("n_surviving", F.lit(0)) / F.col("n_users").cast("double"), 6
            ).alias("surviving_frac"),
        )
    )


# --------------------------------------------------------------------------
# Quality-aware dedup survivor policy — keep the BEST duplicate
# --------------------------------------------------------------------------
def _keep_best_oracle() -> str:
    from etl_framework_spark.queries.llm import _duck_minhash_cte

    return _duck_minhash_cte() + """,
    bmins AS (SELECT band, bkey, min(doc_id) AS bmin FROM bands GROUP BY 1, 2),
    clusters AS (SELECT b.doc_id, min(m.bmin) AS cluster_id
                 FROM bands b JOIN bmins m
                   ON b.band = m.band AND b.bkey = m.bkey
                 GROUP BY b.doc_id),
    scored AS (SELECT c.doc_id, c.cluster_id, d.n_chars AS quality
               FROM clusters c JOIN documents d USING (doc_id)),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
                                            ORDER BY quality DESC, doc_id) AS rn,
                      first_value(doc_id) OVER (PARTITION BY cluster_id
                                                ORDER BY quality DESC, doc_id)
                        AS survivor_id
               FROM scored)
    SELECT doc_id, cluster_id, quality, survivor_id, rn = 1 AS keep
    FROM ranked
    """


@query("llm_dedup_keep_best", oracle=_keep_best_oracle())
def llm_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup survivor POLICY: within each MinHash near-dup cluster,
    keep the highest-quality member (longest doc here; any scoring
    column slots in) instead of the arbitrary lowest id — the policy
    real corpus curation wants, since near-dups often differ by
    truncation and min-id keeps the truncated one ~half the time.
    Reuses the exact cluster assignment; one window per cluster."""
    from etl_framework_spark.queries.llm import llm_dedup_minhash

    clusters = llm_dedup_minhash(spark, sf_dir).select("doc_id", "cluster_id")
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").alias("quality")
    )
    # shuffle_hash on the docs side: the cluster frame is already hash-
    # partitioned on doc_id by llm_dedup_minhash's final agg, so the SHJ
    # adds one exchange for the narrow docs projection and — unlike the
    # planner's stats-driven choice (MapInPandas reports no size, so it
    # broadcasts whichever side holds the kernel) — never ships an O(n)
    # frame through the driver at scale.
    scored = clusters.join(docs.hint("shuffle_hash"), "doc_id")
    w = W.partitionBy("cluster_id").orderBy(F.col("quality").desc(), "doc_id")
    return scored.select(
        "doc_id",
        "cluster_id",
        "quality",
        F.first("doc_id").over(w).alias("survivor_id"),
        (F.row_number().over(w) == 1).alias("keep"),
    )


# --------------------------------------------------------------------------
# Budgeted data selection — best docs per language until a token quota
# --------------------------------------------------------------------------
_LANG_TOKEN_BUDGET = 10_000


@query(
    "train_budget_select",
    oracle=f"""
    WITH scored AS (SELECT doc_id, lang,
                           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                           n_chars AS quality
                    FROM documents),
    ranked AS (SELECT *,
                      CAST(sum(n_tokens) OVER (PARTITION BY lang
                                               ORDER BY quality DESC, doc_id
                                               ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND CURRENT ROW) AS BIGINT)
                        AS cum_tokens
               FROM scored)
    SELECT doc_id, lang, n_tokens, quality, cum_tokens,
           cum_tokens - n_tokens < {_LANG_TOKEN_BUDGET} AS selected
    FROM ranked
    """,
)
def train_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection under a token budget: per language, take docs in
    quality order until the running token total passes the quota (a
    doc is in while the budget has ANY room left — the standard
    greedy knapsack relaxation). The mixture-quota shape of corpus
    assembly: per-language windows partition the work, so each
    language's sort is independent and bounded."""
    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.col("n_chars").alias("quality"),
    )
    w = (
        W.partitionBy("lang")
        .orderBy(F.col("quality").desc(), "doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    ranked = scored.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return ranked.select(
        "doc_id",
        "lang",
        "n_tokens",
        "quality",
        "cum_tokens",
        (F.col("cum_tokens") - F.col("n_tokens") < _LANG_TOKEN_BUDGET).alias("selected"),
    )


# --------------------------------------------------------------------------
# Benford's law — leading-digit audit of order totals
# --------------------------------------------------------------------------
@query(
    "stats_benford",
    oracle="""
    WITH digits AS (SELECT CAST(floor(o_totalprice
                                      / power(10, floor(log10(o_totalprice))))
                                AS INT) AS d
                    FROM orders WHERE o_totalprice > 0),
    c AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY d),
    t AS (SELECT sum(n) AS tot FROM c)
    SELECT d, n,
           round(n / CAST(tot AS DOUBLE), 6) AS observed,
           round(log10(1 + 1.0 / d), 6) AS benford,
           round((n / CAST(tot AS DOUBLE) - log10(1 + 1.0 / d))
                 * (n / CAST(tot AS DOUBLE) - log10(1 + 1.0 / d))
                 / log10(1 + 1.0 / d), 6) AS chi2_term
    FROM c CROSS JOIN t
    """,
)
def stats_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit: observed leading-digit shares of order
    totals against log10(1+1/d) — the forensic/data-quality screen
    for fabricated or truncated monetary data (synthetic uniform-ish
    data fails it loudly, which is itself the diagnostic). 9-row
    output from one partial-agg pass."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = F.floor(
        F.col("o_totalprice") / F.pow(10.0, F.floor(F.log10("o_totalprice")))
    ).cast("int")
    c = o.select(d.alias("d")).groupBy("d").agg(F.count("*").alias("n"))
    t = c.agg(F.sum("n").alias("tot"))
    obs = F.col("n") / F.col("tot").cast("double")
    ben = F.log10(1 + 1.0 / F.col("d"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "d",
            "n",
            F.round(obs, 6).alias("observed"),
            F.round(ben, 6).alias("benford"),
            F.round((obs - ben) * (obs - ben) / ben, 6).alias("chi2_term"),
        )
    )


# --------------------------------------------------------------------------
# Correlation matrix — pairwise Pearson over the numeric fact columns
# --------------------------------------------------------------------------
_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_matrix_oracle() -> str:
    pairs = [
        (a, b) for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1 :]
    ]
    rows = " UNION ALL ".join(
        f"SELECT '{a}' AS col_a, '{b}' AS col_b,"
        f" round(corr({a}, {b}), 6) AS r FROM lineitem"
        for a, b in pairs
    )
    return rows


@query("stats_corr_matrix", oracle=_corr_matrix_oracle())
def stats_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation of the numeric fact columns in
    long format — the profiling matrix that flags redundant or
    derived columns before modeling. All six moment sets accumulate
    in ONE scan (single multi-agg pass), then unpivot to rows — not
    a scan per pair like the naive UNION the oracle runs."""
    li = table(spark, sf_dir, "lineitem")
    pairs = [
        (a, b) for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1 :]
    ]
    aggs = [
        F.round(F.corr(a, b), 6).alias(f"{a}|{b}") for a, b in pairs
    ]
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{a}', '{b}', `{a}|{b}`" for a, b in pairs
    )
    return wide.select(
        F.expr(
            f"stack({len(pairs)}, {stack_args}) AS (col_a, col_b, r)"
        )
    )


# --------------------------------------------------------------------------
# IQR outlier fences — boxplot rule over account balances per nation
# --------------------------------------------------------------------------
@query(
    "stats_iqr_outliers",
    oracle="""
    WITH q AS (SELECT n_name,
                      quantile_cont(s_acctbal, 0.25) AS q1,
                      quantile_cont(s_acctbal, 0.75) AS q3
               FROM supplier JOIN nation ON s_nationkey = n_nationkey
               GROUP BY n_name)
    SELECT s.s_suppkey, q.n_name, round(s.s_acctbal, 2) AS acctbal,
           round(q.q1 - 1.5 * (q.q3 - q.q1), 6) AS lo_fence,
           round(q.q3 + 1.5 * (q.q3 - q.q1), 6) AS hi_fence
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN q ON q.n_name = n.n_name
    WHERE s.s_acctbal < q.q1 - 1.5 * (q.q3 - q.q1)
       OR s.s_acctbal > q.q3 + 1.5 * (q.q3 - q.q1)
    """,
)
def stats_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boxplot-rule outliers: supplier balances outside the 1.5x IQR
    fences of their nation's distribution — the robust (quantile-
    based) alternative to the z-score gate in llm_quality_outliers.
    Per-nation quantiles reduce to |nations| rows and broadcast back
    onto the fact."""
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    j = s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    q = j.groupBy("n_name").agg(
        F.expr("percentile(s_acctbal, 0.25)").alias("q1"),
        F.expr("percentile(s_acctbal, 0.75)").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    lo = F.col("q1") - 1.5 * iqr
    hi = F.col("q3") + 1.5 * iqr
    return (
        j.join(F.broadcast(q), "n_name")
        .filter((F.col("s_acctbal") < lo) | (F.col("s_acctbal") > hi))
        .select(
            "s_suppkey",
            "n_name",
            F.round("s_acctbal", 2).alias("acctbal"),
            F.round(lo, 6).alias("lo_fence"),
            F.round(hi, 6).alias("hi_fence"),
        )
    )


# --------------------------------------------------------------------------
# Repeat-purchase behavior — inter-order intervals per returning customer
# --------------------------------------------------------------------------
@query(
    "orders_repeat_rate",
    oracle="""
    WITH per_cust AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
                      FROM orders GROUP BY o_custkey),
    gaps AS (SELECT o_custkey,
                    CAST(datediff('day',
                         lag(o_orderdate) OVER (PARTITION BY o_custkey
                                                ORDER BY o_orderdate, o_orderkey),
                         o_orderdate) AS INT) AS gap_days
             FROM orders),
    g AS (SELECT gap_days FROM gaps WHERE gap_days IS NOT NULL)
    SELECT CAST((SELECT count(*) FROM per_cust) AS BIGINT) AS n_customers,
           CAST((SELECT count(*) FROM per_cust WHERE n_orders >= 2) AS BIGINT)
             AS n_repeat,
           round((SELECT count(*) FROM per_cust WHERE n_orders >= 2)
                 / CAST((SELECT count(*) FROM per_cust) AS DOUBLE), 6)
             AS repeat_rate,
           round((SELECT avg(CAST(gap_days AS DOUBLE)) FROM g), 6) AS avg_gap_days,
           round((SELECT quantile_cont(CAST(gap_days AS DOUBLE), 0.5) FROM g), 6)
             AS p50_gap_days
    """,
)
def orders_repeat_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase profile: share of customers who order again,
    and the distribution of days between consecutive orders — the
    loyalty metric behind LTV curves. One per-customer lag window
    (state bounded by one customer's history) plus scalar rollups."""
    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        )
        .cast("int")
        .alias("gap_days")
    ).filter(F.col("gap_days").isNotNull())
    stats = per_cust.agg(
        F.count("*").alias("n_customers"),
        F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0)).alias("n_repeat"),
    )
    gd = F.col("gap_days").cast("double")
    gstats = gaps.agg(
        F.round(F.avg(gd), 6).alias("avg_gap_days"),
        F.round(F.expr("percentile(CAST(gap_days AS DOUBLE), 0.5)"), 6).alias(
            "p50_gap_days"
        ),
    )
    return stats.crossJoin(F.broadcast(gstats)).select(
        "n_customers",
        "n_repeat",
        F.round(F.col("n_repeat") / F.col("n_customers").cast("double"), 6).alias(
            "repeat_rate"
        ),
        "avg_gap_days",
        "p50_gap_days",
    )


# --------------------------------------------------------------------------
# Embedding drift — per-label centroid shift between corpus halves
# --------------------------------------------------------------------------
@query(
    "llm_embedding_drift",
    oracle="""
    WITH ex AS (SELECT label, vec_id % 2 AS half,
                       unnest(generate_series(1, len(embedding))) - 1 AS dim,
                       CAST(unnest(embedding) AS DOUBLE) AS val
                FROM embeddings),
    cents AS (SELECT label, half, dim, round(avg(val), 6) AS c
              FROM ex GROUP BY label, half, dim),
    w AS (SELECT a.label, a.dim, a.c AS c0, b.c AS c1
          FROM cents a JOIN cents b
            ON a.label = b.label AND a.dim = b.dim
           AND a.half = 0 AND b.half = 1)
    SELECT label,
           round(sqrt(sum((c1 - c0) * (c1 - c0))), 6) AS centroid_shift,
           CAST(count(*) AS INT) AS dim
    FROM w GROUP BY label
    """,
)
def llm_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: per-label centroid L2 shift between
    two corpus halves (vec_id parity stands in for before/after
    snapshots) — the alarm that an embedding model or upstream corpus
    changed. Centroids quantize to 6dp BEFORE the distance (the
    iterative-float portability rule), so the shift is engine-exact;
    state is |labels|x|dims| regardless of corpus size."""
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("dim", "val"),
    )
    cents = ex.groupBy("label", "half", "dim").agg(
        F.round(F.avg(F.col("val").cast("double")), 6).alias("c")
    )
    a = cents.filter(F.col("half") == 0).select(
        "label", "dim", F.col("c").alias("c0")
    )
    b = cents.filter(F.col("half") == 1).select(
        "label", "dim", F.col("c").alias("c1")
    )
    w = a.join(b, ["label", "dim"])
    d = F.col("c1") - F.col("c0")
    return w.groupBy("label").agg(
        F.round(F.sqrt(F.sum(d * d)), 6).alias("centroid_shift"),
        F.count("*").cast("int").alias("dim"),
    )


# --------------------------------------------------------------------------
# MAD anomaly detection — robust daily-count outliers per event type
# --------------------------------------------------------------------------
@query(
    "events_anomaly_mad",
    oracle="""
    WITH daily AS (SELECT event_type, date_trunc('day', ts) AS d,
                          CAST(count(*) AS DOUBLE) AS n
                   FROM events GROUP BY 1, 2),
    med AS (SELECT event_type, quantile_cont(n, 0.5) AS m
            FROM daily GROUP BY event_type),
    mad AS (SELECT daily.event_type,
                   quantile_cont(abs(n - m), 0.5) AS mad
            FROM daily JOIN med USING (event_type)
            GROUP BY daily.event_type)
    SELECT daily.event_type, d, CAST(n AS BIGINT) AS n,
           round(m, 6) AS med, round(mad.mad, 6) AS mad,
           round(abs(n - m) / (1.4826 * mad.mad), 6) AS robust_z
    FROM daily JOIN med USING (event_type) JOIN mad USING (event_type)
    WHERE abs(n - m) / (1.4826 * mad.mad) > 2.5
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection: daily counts scored by the
    median-absolute-deviation z-score (1.4826·MAD ≈ σ under
    normality) — unlike the mean/std z-score (events_anomaly), a
    single huge spike can't inflate its own detection threshold.
    Per-type medians reduce to |types| rows and broadcast back."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count("*").cast("double").alias("n"))
    med = daily.groupBy("event_type").agg(
        F.expr("percentile(n, 0.5)").alias("m")
    )
    j1 = daily.join(F.broadcast(med), "event_type")
    mad = j1.groupBy("event_type").agg(
        F.expr("percentile(abs(n - m), 0.5)").alias("mad")
    )
    j2 = j1.join(F.broadcast(mad), "event_type")
    rz = F.abs(F.col("n") - F.col("m")) / (1.4826 * F.col("mad"))
    return j2.filter(rz > 2.5).select(
        "event_type",
        "d",
        F.col("n").cast("bigint").alias("n"),
        F.round("m", 6).alias("med"),
        F.round("mad", 6).alias("mad"),
        F.round(rz, 6).alias("robust_z"),
    )


# --------------------------------------------------------------------------
# Market concentration — HHI of supplier revenue share per nation
# --------------------------------------------------------------------------
@query(
    "supplier_hhi",
    oracle="""
    WITH rev AS (SELECT n_name, s_suppkey,
                        sum(l_extendedprice * (1 - l_discount)) AS r
                 FROM lineitem
                 JOIN supplier ON l_suppkey = s_suppkey
                 JOIN nation ON s_nationkey = n_nationkey
                 GROUP BY n_name, s_suppkey),
    tot AS (SELECT n_name, sum(r) AS t, CAST(count(*) AS BIGINT) AS n_suppliers
            FROM rev GROUP BY n_name)
    SELECT rev.n_name, n_suppliers,
           round(sum((r / t) * (r / t)) * 10000, 4) AS hhi,
           round(10000.0 / n_suppliers, 4) AS hhi_uniform
    FROM rev JOIN tot USING (n_name)
    GROUP BY rev.n_name, n_suppliers
    """,
)
def supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of supplier revenue within
    each nation-market (0-10000 scale; 10000/n is the uniform floor)
    — the market-concentration screen beside Gini and Pareto. One
    revenue rollup per (nation, supplier), then |markets|-sized
    share math."""
    li = table(spark, sf_dir, "lineitem")
    rev = (
        li.join(table(spark, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(table(spark, sf_dir, "nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "s_suppkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("r"))
    )
    tot = rev.groupBy("n_name").agg(
        F.sum("r").alias("t"), F.count("*").alias("n_suppliers")
    )
    share = F.col("r") / F.col("t")
    return (
        rev.join(F.broadcast(tot), "n_name")
        .groupBy("n_name", "n_suppliers")
        .agg(
            F.round(F.sum(share * share) * 10000, 4).alias("hhi"),
            F.round(10000.0 / F.max("n_suppliers"), 4).alias("hhi_uniform"),
        )
    )
