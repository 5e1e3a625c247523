"""Contract keys: ``stats_friedman``, ``feat_woe_iv``,
``llm_greedy_coverage``.

Friedman blocked-rank test, WoE/IV feature
screen, and greedy coverage-maximizing document selection.

Reference parity: the reference's repeated-measures rank test, its
credit-scoring-style feature screen, and its curation subset
selector — re-expressed as within-block window ranks, smoothed
log-odds rollups, and an unrolled 5-step greedy coverage loop.

Scale notes:

- ``stats_friedman``: ranks are WITHIN 3-row blocks (window
  partitioned by order) — no global sort; the statistic is a
  closed form over k=3 rank sums.
- ``feat_woe_iv``: one conditional rollup per (feature, category);
  WoE/IV are row-local logs over exact counts.
- ``llm_greedy_coverage``: each greedy step is one anti-join +
  argmax over |docs| — 5 bounded passes, the classic lazy-greedy
  shape (at scale: keep the covered set broadcast).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators import guarded
from etl_framework_spark.registry import query
from etl_framework_spark.cacheutil import persist_tracked

_GC_K = 5  # greedy coverage steps


# --------------------------------------------------------------------------
# Friedman test: quantity ranks across line positions within orders
# --------------------------------------------------------------------------
@query(
    "stats_friedman",
    oracle="""
    WITH tri AS (
      SELECT l_orderkey AS ok, l_linenumber AS pos,
             CAST(l_quantity AS DOUBLE) AS y
      FROM lineitem
      WHERE l_linenumber <= 3
        AND l_orderkey IN (SELECT l_orderkey FROM lineitem
                           WHERE l_linenumber <= 3
                           GROUP BY l_orderkey HAVING count(*) = 3)
    ),
    rk AS (
      SELECT ok, pos,
             (SELECT count(*) FROM tri t2
              WHERE t2.ok = tri.ok AND t2.y < tri.y) +
             ((SELECT count(*) FROM tri t3
               WHERE t3.ok = tri.ok AND t3.y = tri.y) + 1) / 2.0 AS r
      FROM tri
    ),
    rs AS (
      SELECT pos, sum(r) AS rsum,
             CAST(count(*) AS DOUBLE) AS n
      FROM rk GROUP BY pos
    ),
    sq AS (SELECT sum(r * r) AS rsq FROM rk),
    meta AS (
      SELECT max(n) AS n, CAST(count(*) AS DOUBLE) AS k FROM rs
    ),
    dev AS (
      SELECT sum((rs.rsum - meta.n * (meta.k + 1) / 2.0)
                 * (rs.rsum - meta.n * (meta.k + 1) / 2.0)) AS dev
      FROM rs CROSS JOIN meta
    )
    SELECT CAST(meta.n AS BIGINT) AS n_blocks,
           CAST(meta.k AS BIGINT) AS k,
           round((meta.k - 1) * dev.dev
                 / (sq.rsq - meta.n * meta.k * (meta.k + 1) * (meta.k + 1)
                    / 4.0), 6) AS friedman_chi2,
           CAST(meta.k - 1 AS BIGINT) AS df
    FROM meta CROSS JOIN dev CROSS JOIN sq
    """,
)
def stats_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test on orders with exactly three lines: midrank the
    three quantities WITHIN each order (the order is its own block —
    removes between-order level differences entirely), then
    χ² = 12/(nk(k+1))·ΣR_j² − 3n(k+1) across positions. The blocked
    sibling of stats_kruskal_wallis and the continuous-response
    sibling of stats_cochran_q — the three-way family the reference
    ships as one repeated-measures suite. Midranks are count-based
    (c_less + (c_eq+1)/2) inside 3-row blocks → integer-exact. Ref:
    reference repeated-measures tests."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") <= 3)
    ok3 = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") == 3)
        .select("l_orderkey")
    )
    tri = li.join(ok3, "l_orderkey").select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("pos"),
        F.col("l_quantity").cast("double").alias("y"),
    )
    wb = W.partitionBy("ok")
    # midrank via within-block counts: c_less + (c_eq + 1)/2
    rk = tri.select(
        "ok",
        "pos",
        "y",
        F.collect_list("y").over(wb).alias("ys"),
    ).select(
        "pos",
        (
            F.size(F.filter(F.col("ys"), lambda v: v < F.col("y")))
            + (F.size(F.filter(F.col("ys"), lambda v: v == F.col("y"))) + 1) / 2.0
        ).alias("r"),
    )
    rs = rk.groupBy("pos").agg(
        F.sum("r").alias("rsum"), F.count(F.lit(1)).cast("double").alias("n")
    )
    sq = rk.agg(F.sum(F.col("r") * F.col("r")).alias("rsq"))
    meta = rs.agg(
        F.max("n").alias("nb"), F.count(F.lit(1)).cast("double").alias("k")
    )
    dev = (
        rs.crossJoin(F.broadcast(meta))
        .agg(
            F.sum(
                (F.col("rsum") - F.col("nb") * (F.col("k") + 1) / 2.0)
                * (F.col("rsum") - F.col("nb") * (F.col("k") + 1) / 2.0)
            ).alias("dev")
        )
    )
    j = meta.crossJoin(F.broadcast(dev)).crossJoin(F.broadcast(sq))
    n, k = F.col("nb"), F.col("k")
    return j.select(
        n.cast("bigint").alias("n_blocks"),
        k.cast("bigint").alias("k"),
        F.round(
            (k - 1)
            * F.col("dev")
            / (F.col("rsq") - n * k * (k + 1) * (k + 1) / 4.0),
            6,
        ).alias("friedman_chi2"),
        (k - 1).cast("bigint").alias("df"),
    )


# --------------------------------------------------------------------------
# WoE / IV screen: which categorical feature predicts returns?
# --------------------------------------------------------------------------
@query(
    "feat_woe_iv",
    oracle="""
    WITH base AS (
      SELECT o.o_orderpriority AS category,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS bad
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    g AS (
      SELECT category,
             CAST(sum(bad) AS DOUBLE) AS n_bad,
             CAST(sum(1 - bad) AS DOUBLE) AS n_good
      FROM base GROUP BY category
    ),
    tot AS (SELECT sum(n_bad) AS tb, sum(n_good) AS tg FROM g)
    SELECT g.category,
           CAST(g.n_good AS BIGINT) AS n_good,
           CAST(g.n_bad AS BIGINT) AS n_bad,
           round(ln(((g.n_good + 0.5) / (tot.tg + 0.5))
                    / ((g.n_bad + 0.5) / (tot.tb + 0.5))), 6) AS woe,
           round(((g.n_good + 0.5) / (tot.tg + 0.5)
                  - (g.n_bad + 0.5) / (tot.tb + 0.5))
                 * ln(((g.n_good + 0.5) / (tot.tg + 0.5))
                      / ((g.n_bad + 0.5) / (tot.tb + 0.5))), 9)
             AS iv_contribution
    FROM g CROSS JOIN tot ORDER BY g.category
    """,
)
def feat_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence / Information-Value screen of order
    priority against the returned-line target: WoE = ln(good share /
    bad share) with 0.5 Laplace smoothing, IV contribution =
    (gs−bs)·WoE per category (sum ≥0.1 = worth binning into a
    model). THE categorical-feature triage table in credit-scoring
    and churn pipelines — monotone-encodable, missing-safe, and
    model-free. One join + one rollup; exact counts → deterministic
    logs. Ref: reference feature-screen tests (cf. feat_infogain —
    IV is its signed, per-category decomposition)."""
    li = table(spark, sf_dir, "lineitem")
    od = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    base = li.join(od, li.l_orderkey == od.o_orderkey).select(
        F.col("o_orderpriority").alias("category"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("bad"),
    )
    g = base.groupBy("category").agg(
        F.sum("bad").cast("double").alias("n_bad"),
        F.sum(1 - F.col("bad")).cast("double").alias("n_good"),
    )
    tot = g.agg(F.sum("n_bad").alias("tb"), F.sum("n_good").alias("tg"))
    j = g.crossJoin(F.broadcast(tot))
    gs = (F.col("n_good") + 0.5) / (F.col("tg") + 0.5)
    bs = (F.col("n_bad") + 0.5) / (F.col("tb") + 0.5)
    woe = F.log(gs / bs)
    return j.select(
        "category",
        F.col("n_good").cast("bigint").alias("n_good"),
        F.col("n_bad").cast("bigint").alias("n_bad"),
        F.round(woe, 6).alias("woe"),
        F.round((gs - bs) * woe, 9).alias("iv_contribution"),
    ).orderBy("category")


# --------------------------------------------------------------------------
# Greedy coverage: 5 documents that maximize vocabulary coverage
# --------------------------------------------------------------------------
def _gc_oracle() -> str:
    """Unrolled 5-step greedy facility-location selection in SQL."""
    parts = [
        """
    WITH dt AS MATERIALIZED (
      SELECT DISTINCT doc_id, l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]
               AS tok
      FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 2)) AS i
            FROM (SELECT doc_id, string_split(text, ' ') AS l
                  FROM documents WHERE len(string_split(text, ' ')) >= 3))
    ),
    vocab AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM dt),
    cov0(doc_id, tok) AS (SELECT NULL, NULL WHERE false)"""
    ]
    for i in range(1, _GC_K + 1):
        parts.append(
            f""",
    gain{i} AS MATERIALIZED (
      SELECT dt.doc_id, CAST(count(*) AS BIGINT) AS marginal
      FROM dt
      WHERE dt.tok NOT IN (SELECT tok FROM cov{i - 1} WHERE tok IS NOT NULL)
      GROUP BY dt.doc_id
    ),
    pick{i} AS MATERIALIZED (
      SELECT doc_id, marginal FROM gain{i}
      ORDER BY marginal DESC, doc_id LIMIT 1
    ),
    cov{i} AS MATERIALIZED (
      SELECT * FROM cov{i - 1}
      UNION
      SELECT dt.doc_id, dt.tok FROM dt
      WHERE dt.doc_id = (SELECT doc_id FROM pick{i})
    )"""
        )
    selects = " UNION ALL ".join(
        f"""
    SELECT {i} AS step, p.doc_id, p.marginal,
           (SELECT CAST(count(DISTINCT tok) AS BIGINT) FROM cov{i}
            WHERE tok IS NOT NULL) AS covered_tokens,
           round((SELECT count(DISTINCT tok) FROM cov{i}
                  WHERE tok IS NOT NULL) / (SELECT v FROM vocab), 6)
             AS coverage_share
    FROM pick{i} p"""
        for i in range(1, _GC_K + 1)
    )
    return f"{''.join(parts)} SELECT * FROM ({selects}) ORDER BY step"


_GC_CAND0 = 512        # initial candidate pool (top docs by total)
_GC_CAND_CAP = 32768   # driver-memory cap before the Spark fallback


def _gc_spark_loop(spark, dt, totals) -> list[tuple]:
    """Exact per-step Spark greedy (the pre-r12 path), kept as the
    fallback when the guarded candidate pool cannot certify the picks
    (adversarially flat total distributions). One overlap join + one
    1-row argmax collect per step — correct at any scale, slower."""
    covered = None  # DataFrame of covered shingles (a set, kept tiny)
    out_rows = []
    cum = 0
    for step in range(1, _GC_K + 1):
        if covered is None:
            gain = totals.select("doc_id", F.col("total").alias("marginal"))
        else:
            overlap = (
                dt.join(F.broadcast(covered), "tok")
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).cast("bigint").alias("olap"))
            )
            gain = totals.join(overlap, "doc_id", "left").select(
                "doc_id",
                (F.col("total") - F.coalesce("olap", F.lit(0))).alias(
                    "marginal"
                ),
            ).filter(F.col("marginal") > 0)
        picked = gain.orderBy(F.desc("marginal"), "doc_id").limit(1).collect()
        if not picked:  # coverage exhausted — mirror the oracle's early stop
            break
        pick = picked[0]
        cum += pick["marginal"]
        out_rows.append(
            (step, int(pick["doc_id"]), int(pick["marginal"]), cum)
        )
        new_cov = dt.filter(F.col("doc_id") == pick["doc_id"]).select("tok")
        if covered is None:
            covered = new_cov
        else:
            covered = covered.union(
                new_cov.join(F.broadcast(covered), "tok", "left_anti")
            )
        covered = covered.transform(persist_tracked)
    return out_rows


def _gc_greedy_on_pool(pool: list, have_all: bool) -> list[tuple] | None:
    """Run the K-step greedy over a collected candidate pool
    [(doc_id, tokens, total)] sorted by (total desc, doc_id). Returns
    the result rows, or None when the certificate fails — i.e. some
    step's best candidate marginal does not STRICTLY beat tau_g, the
    largest total a non-collected doc could have (the pool's min
    total; any excluded doc's marginal ≤ its total ≤ tau_g, so
    best > tau_g certifies the pick globally, ties included because
    the tie-break is lowest doc_id and excluded docs lose strictly)."""
    tau_g = -1 if have_all else min(p[2] for p in pool)
    covered: set = set()
    out_rows = []
    cum = 0
    for step in range(1, _GC_K + 1):
        best_id, best_m, best_toks = None, 0, None
        for doc_id, toks, total in pool:
            # pool is sorted by total desc: once totals fall strictly
            # below the incumbent marginal no later doc can beat OR
            # tie it (m ≤ total < best_m)
            if total < best_m:
                break
            m = total - len(toks & covered)
            if m > best_m or (
                m == best_m and m > 0 and best_id is not None
                and doc_id < best_id
            ):
                best_id, best_m, best_toks = doc_id, m, toks
        if best_m <= tau_g:
            return None  # certificate failed — widen or fall back
        if best_id is None:  # coverage exhausted (all marginals 0)
            break
        cum += best_m
        out_rows.append((step, int(best_id), int(best_m), cum))
        covered |= best_toks
    return out_rows


@query("llm_greedy_coverage", oracle=_gc_oracle())
def llm_greedy_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy facility-location selection: the 5 documents that
    together cover the most vocabulary, picked one at a time by
    maximal MARGINAL new-token gain (ties → lowest doc_id). The
    submodular-coverage primitive behind 'pick k exemplar docs for
    the eval set / dedup anchors' — greedy is (1−1/e)-optimal, and
    the marginal-gain column shows the diminishing returns curve.

    r12 (VERDICT r11 item 1; guide §1.2 — the distributed algorithm
    first): the 5 sequential driver-coordinated argmax jobs (one
    overlap join + 1-row collect each, 4.12 s, the registry's
    slowest key) collapse into TWO bounded jobs. Every pick must
    satisfy marginal ≤ total, so only docs whose total beats the
    pool's floor can ever win: collect the top-C docs by total WITH
    their shingle sets under the repo's guarded-collect pattern
    (~C·|doc| strings, ≈1 MB at C=512), run the K-step greedy on the
    driver with Python sets, and CERTIFY each pick against tau_g =
    the pool's minimum total (an upper bound on any excluded doc's
    marginal — strict inequality also settles the lowest-doc_id tie
    break). A flat total distribution fails the certificate → widen
    the pool ×8 up to a driver-memory cap, then fall back to the
    exact per-step Spark loop. Result-identical in all branches; the
    oracle re-verifies. Ref: reference curation-selection tests (cf.
    train_budget_select for the budgeted knapsack cousin); the
    certificate is the CELF lazy-evaluation bound applied to a
    collected pool."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("l")
    ).filter(F.size("l") >= 3)
    idx = t.select(
        "doc_id", "l", F.explode(F.sequence(F.lit(1), F.size("l") - 2)).alias("i")
    )
    raw = idx.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.element_at("l", F.col("i")),
            F.element_at("l", F.col("i") + 1),
            F.element_at("l", F.col("i") + 2),
        ).alias("tok"),
    )
    # ONE shuffle builds the per-doc distinct shingle sets:
    # collect_set dedupes (doc, tok) map-side inside the doc-keyed
    # agg, replacing the old distinct-exchange + second groupBy
    # (paired in-process A/B at sf0.1: wins every round, ~9.5 → 5.2 s
    # medians on a noisy box)
    per_doc = (
        raw.groupBy("doc_id")
        .agg(F.collect_set("tok").alias("toks"))
        .withColumn("total", F.size("toks").cast("bigint"))
        .transform(persist_tracked)
    )
    vocab_n = per_doc.select(F.explode("toks").alias("tok")).distinct().count()
    out_rows = None
    c = _GC_CAND0
    while c <= _GC_CAND_CAP:
        top = (
            per_doc.orderBy(F.desc("total"), "doc_id").limit(c + 1).collect()
        )
        have_all = len(top) <= c
        pool = [(r["doc_id"], set(r["toks"]), int(r["total"])) for r in top[:c]]
        out_rows = _gc_greedy_on_pool(pool, have_all)
        if out_rows is not None:
            break
        c *= 8
    if out_rows is None:  # certificate never held — exact Spark loop
        dt = per_doc.select("doc_id", F.explode("toks").alias("tok"))
        totals = per_doc.select("doc_id", "total")
        out_rows = _gc_spark_loop(spark, dt, totals)
    per_doc.unpersist()
    res = guarded.local_frame(
        spark,
        out_rows,
        "step int, doc_id bigint, marginal bigint, covered_tokens bigint",
    )
    return res.select(
        "step",
        "doc_id",
        "marginal",
        "covered_tokens",
        F.round(F.col("covered_tokens") / float(vocab_n), 6).alias(
            "coverage_share"
        ),
    ).orderBy("step")
