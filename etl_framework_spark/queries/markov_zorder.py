"""Round-2 operator batch (SURVEY.md §2 extensions): moving median,
Markov transitions, Z-order clustering values, incremental aggregate
maintenance (IVM merge), text scrubbing, salted-join parity.

Scale notes per key live in SCALE.md; every key here carries an exact
DuckDB oracle.

Contract keys: ``win_moving_median``, ``win_ewma``, ``events_markov``,
``fn_zorder``, ``ivm_merge``, ``llm_scrub``, ``stats_equidepth``,
``join_salted``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators.skew import salted_join
from etl_framework_spark.registry import query


# --------------------------------------------------------------------------
# W7 — moving median (exact order-statistic over a sliding row frame)
# --------------------------------------------------------------------------
@query(
    "win_moving_median",
    oracle="""
    SELECT event_id, user_id,
           round(median(value) OVER (
             PARTITION BY user_id
             ORDER BY date_trunc('second', ts), event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS med7
    FROM events
    """,
)
def win_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median: robust smoothing for monitoring/quality
    series — unlike avg it shrugs off spikes. Spark disallows median()
    with an explicit frame (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC),
    so the frame is materialized via collect_list and the order
    statistic taken from the sorted ≤7-element array — pure JVM
    expressions, no extra shuffle beyond the window hash on user_id.
    The even-count midpoint average matches DuckDB's quantile_cont
    interpolation exactly."""
    ev = table(spark, sf_dir, "events").withColumn(
        "tts", F.date_trunc("second", F.col("ts"))
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("tts", "event_id")
        .rowsBetween(-6, W.currentRow)
    )
    arr = F.sort_array(F.collect_list("value").over(w))
    n = F.size(arr)
    lo = F.element_at(arr, F.floor(n / 2).cast("int"))
    hi = F.element_at(arr, (F.floor(n / 2) + 1).cast("int"))
    mid = F.element_at(arr, F.floor((n + 1) / 2).cast("int"))
    med = F.when(n % 2 == 1, mid).otherwise((lo + hi) / 2.0)
    return ev.select(
        "event_id",
        "user_id",
        F.round(med, 6).alias("med7"),
    )


# --------------------------------------------------------------------------
# W8 — exponentially weighted moving average (recursive fold over frame)
# --------------------------------------------------------------------------
_EWMA_ALPHA = 0.3


@query(
    "win_ewma",
    oracle=f"""
    WITH fr AS (
      SELECT event_id, user_id,
             list(value) OVER (
               PARTITION BY user_id
               ORDER BY date_trunc('second', ts), event_id
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS arr
      FROM events)
    SELECT event_id, user_id,
           floor(list_reduce(arr,
                 (acc, x) -> acc * {1.0 - _EWMA_ALPHA} + x * {_EWMA_ALPHA})
                 * 1000000 + 0.5) / 1000000 AS ewma7
    FROM fr
    """,
)
def win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA over the trailing 7-row frame: the recurrence
    s = s·(1−α) + x·α is a strict left fold over the frame list, so it
    runs as a pure JVM expression (no UDF, no state store) and DuckDB's
    list_reduce reproduces the bits exactly (its implicit init is the
    first element; Spark folds the tail from element_at(arr, 1) — the
    identical association). The streaming twin keeps s in
    applyInPandasWithState; this is the batch/backfill form."""
    ev = table(spark, sf_dir, "events").withColumn(
        "tts", F.date_trunc("second", F.col("ts"))
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("tts", "event_id")
        .rowsBetween(-6, W.currentRow)
    )
    arr = F.collect_list("value").over(w)
    ewma = F.aggregate(
        F.slice(arr, 2, 6),
        F.element_at(arr, 1).cast("double"),
        lambda acc, x: acc * F.lit(1.0 - _EWMA_ALPHA) + x * F.lit(_EWMA_ALPHA),
    )
    # floor(x*1e6 + 0.5)/1e6 instead of round(x, 6): the EWMA recurrence
    # lands values exactly on .5e-6 ties where Spark's BigDecimal HALF_UP
    # and DuckDB's float rounding disagree (2/10000 rows at sf0.01); this
    # quantizer is the same double arithmetic on both engines.
    return ev.select(
        "event_id",
        "user_id",
        (F.floor(ewma * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)).alias(
            "ewma7"
        ),
    )


# --------------------------------------------------------------------------
# Event analytics — first-order Markov transitions between event types
# --------------------------------------------------------------------------
@query(
    "events_markov",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id
               ORDER BY date_trunc('second', ts), event_id) AS prev_type
      FROM events)
    SELECT prev_type, event_type, count(*) AS n,
           round(count(*) / CAST(sum(count(*)) OVER (PARTITION BY prev_type)
                 AS DOUBLE), 6) AS p
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
)
def events_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: lag() within user ordered by time, then a count per
    (prev, next) pair and a row-normalized probability. Two shuffles
    total (window hash on user_id, agg hash on the pair) — both keys
    are high-cardinality or tiny-domain, never skewed. The classic
    session-flow / next-action model input."""
    ev = table(spark, sf_dir, "events").withColumn(
        "tts", F.date_trunc("second", F.col("ts"))
    )
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(
            W.partitionBy("user_id").orderBy("tts", "event_id")
        ).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = seq.groupBy("prev_type", "event_type").agg(F.count("*").alias("n"))
    wp = W.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "event_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wp).cast("double"), 6).alias("p"),
    )


# --------------------------------------------------------------------------
# Z-order curve values — multi-dimensional clustering for data skipping
# --------------------------------------------------------------------------
_ZBITS = 16


def _zorder_spark(x, y, bits: int = _ZBITS):
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = (
            out
            + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return out


def _zorder_duck(x: str, y: str, bits: int = _ZBITS) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@query(
    "fn_zorder",
    oracle=f"""
    WITH xy AS (
      SELECT o_orderkey,
             o_custkey & 65535 AS zx,
             (CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400) & 65535 AS zy
      FROM orders)
    SELECT o_orderkey, zx, zy,
           CAST({_zorder_duck('zx', 'zy')} AS BIGINT) AS zval
    FROM xy
    """,
)
def fn_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) curve values interleaving 16 bits of customer
    key and order date: range-partitioning + sorting by zval clusters
    BOTH dimensions at once, so parquet min/max stats prune scans for
    either predicate — the standard lakehouse multi-dimension layout
    (the same `cluster_by` sink spec in pipeline.py accepts zval).
    Pure bit arithmetic, whole-stage codegen, zero shuffle."""
    o = table(spark, sf_dir, "orders")
    epoch_day = (F.unix_timestamp("o_orderdate") / F.lit(86400)).cast("long")
    xy = o.select(
        "o_orderkey",
        F.col("o_custkey").bitwiseAND(F.lit(65535)).alias("zx"),
        epoch_day.bitwiseAND(F.lit(65535)).alias("zy"),
    )
    return xy.select(
        "o_orderkey",
        "zx",
        "zy",
        _zorder_spark(F.col("zx"), F.col("zy")).cast("long").alias("zval"),
    )


# --------------------------------------------------------------------------
# IVM — incremental aggregate maintenance by partial-state merge
# --------------------------------------------------------------------------
_IVM_CUT = "2024-01-20"


@query(
    "ivm_merge",
    oracle="""
    SELECT date_trunc('day', date_trunc('second', ts)) AS day,
           event_type, count(*) AS n, round(sum(value), 4) AS total
    FROM events GROUP BY 1, 2
    """,
)
def ivm_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a materialized daily rollup is
    kept as MERGEABLE partial state (count, sum — never avg), and a
    late-arriving batch is folded in by re-aggregating the union of
    partials. At 100 TB this replaces a full recompute with a job over
    |state| + |delta| rows; the oracle IS the full recompute, proving
    merge == recompute. Rounding happens only at the final edge."""
    ev = table(spark, sf_dir, "events").withColumn(
        "tts", F.date_trunc("second", F.col("ts"))
    )
    cut = F.lit(_IVM_CUT).cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("day", F.col("tts")).alias("day"), "event_type"
        ).agg(F.count("*").alias("pn"), F.sum("value").alias("psum"))

    state = partial(ev.filter(F.col("tts") < cut))  # the standing rollup
    delta = partial(ev.filter(F.col("tts") >= cut))  # late batch, same shape
    return (
        state.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("pn").alias("n"),
            F.round(F.sum("psum"), 4).alias("total"),
        )
    )


# --------------------------------------------------------------------------
# L5b — text scrubbing (redaction + artifact counts)
# --------------------------------------------------------------------------
@query(
    "llm_scrub",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '[0-9]+')) AS n_num,
           len(regexp_extract_all(text, '[A-Za-z]{12,}')) AS n_long,
           length(regexp_replace(regexp_replace(text, '[0-9]+', '<num>', 'g'),
                  '[A-Za-z]{12,}', '<long>', 'g')) AS scrub_len
    FROM documents
    """,
)
def llm_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus scrubbing: count + redact digit runs and
    over-long alphabetic tokens (boilerplate/base64-ish artifacts).
    Pure regex column expressions — JVM-side, no UDF; the same shape
    handles PII classes (emails, phones) by swapping patterns. Spark
    regexp_replace is global by default; DuckDB needs the 'g' flag
    (SURVEY.md §5.3 rule 5)."""
    d = table(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), "[0-9]+", "<num>"),
        "[A-Za-z]{12,}",
        "<long>",
    )
    return d.select(
        "doc_id",
        F.size(F.expr("regexp_extract_all(text, '[0-9]+', 0)")).alias("n_num"),
        F.size(F.expr("regexp_extract_all(text, '[A-Za-z]{12,}', 0)")).alias(
            "n_long"
        ),
        F.length(scrubbed).alias("scrub_len"),
    )


# --------------------------------------------------------------------------
# Stats — equi-depth histogram (quantile buckets via ntile)
# --------------------------------------------------------------------------
@query(
    "stats_equidepth",
    oracle="""
    WITH b AS (
      SELECT o_totalprice,
             ntile(8) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders)
    SELECT bucket, count(*) AS n,
           round(min(o_totalprice), 4) AS lo,
           round(max(o_totalprice), 4) AS hi
    FROM b GROUP BY bucket
    """,
)
def stats_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram: ntile over a tie-broken total order gives
    identical bucket assignment on both engines; per-bucket count +
    bounds are what a range partitioner / optimizer histogram needs.
    The global sort here is exactly what Spark's RangePartitioner
    samples to avoid at scale — this op IS the exact-answer baseline
    for that sampling."""
    o = table(spark, sf_dir, "orders")
    w = W.orderBy("o_totalprice", "o_orderkey")
    b = o.select("o_totalprice", F.ntile(8).over(w).alias("bucket"))
    return b.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.round(F.min("o_totalprice"), 4).alias("lo"),
        F.round(F.max("o_totalprice"), 4).alias("hi"),
    )


# --------------------------------------------------------------------------
# J11 — salted join parity (skew mitigation produces identical results)
# --------------------------------------------------------------------------
@query(
    "join_salted",
    oracle="""
    SELECT l_orderkey, l_linenumber, s_name, s_nationkey
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    """,
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join (operators/skew.py): fact rows get a
    deterministic salt, the dim side is replicated n_salts times, and
    the join key becomes (key, salt) — a hot supplier key spreads over
    16 reducers instead of one straggler. The oracle is the PLAIN
    join: salting must be invisible in the result."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey"
    )
    supp = (
        table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey")
        .withColumnRenamed("s_suppkey", "l_suppkey")
    )
    out = salted_join(li, supp, "l_suppkey", n_salts=16)
    return out.select("l_orderkey", "l_linenumber", "s_name", "s_nationkey")
