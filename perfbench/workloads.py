"""The benchmark's workloads: what one pass runs and how its outputs
are checked.

Each workload turns the run's seed into a fixed list of items. An item
is one closed-loop request: a config-driven job for ``etl_jobs``, one
registry key forced through the noop sink for ``llm_kernels``. The
program only ever sees the generated inputs and specs, through its
public entry points (``pipeline.load_spec``/``run_pipeline`` and
``__spark_entry__.queries()``).
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from typing import Any, Callable

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Item:
    name: str
    run: Callable[[Any], None]  # run(tracer): one timed request
    after: str | None = None  # must follow this item within a pass


@dataclass
class Workload:
    sf: float
    items: list[Item] = field(default_factory=list)
    # an item whose Spark job count must repeat exactly across traced
    # passes (a traced-run sanity check); other items' counts may vary
    steady_jobs_item: str = ""
    # timed warm passes the item and RSS metrics are taken over, in every run
    passes: int = 3

    def order(self, rng: random.Random) -> list[Item]:
        """Shuffle one pass; an item still follows the item it reads."""
        out = list(self.items)
        rng.shuffle(out)
        names = [i.name for i in out]
        for it in list(out):
            if it.after and names.index(it.after) > names.index(it.name):
                a, b = names.index(it.name), names.index(it.after)
                out[a], out[b] = out[b], out[a]
                names[a], names[b] = names[b], names[a]
        return out

    def check(self) -> list[str]:
        """Compare outputs with DuckDB; return one line per mismatch."""
        raise NotImplementedError

    def written(self) -> tuple[int, int, int] | None:
        """(sink bytes, sink files, bytes read) of one pass, if it writes."""
        return None


# ---------------------------------------------------------------------------
# etl_jobs: multi-source -> steps -> multi-sink jobs over the star schema,
# events and documents; one job reads back another job's output.
# ---------------------------------------------------------------------------

_FACTS_SQL = """
SELECT o.o_orderkey, l.l_linenumber, n.n_name AS nation,
       c.c_mktsegment AS segment, CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
       CAST(l.l_quantity AS INTEGER) AS qty,
       CAST(l.l_extendedprice AS DECIMAL(12, 2))
         * (1 - CAST(l.l_discount AS DECIMAL(4, 2))) AS revenue
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderdate >= TIMESTAMP '{since}' AND o.o_orderdate < TIMESTAMP '{until}'
"""

_ROLLUP_SQL = """
SELECT o_year, nation, sum(revenue) AS revenue,
       count(DISTINCT o_orderkey) AS n_orders, count(*) AS n_lines
FROM ({facts}) f
GROUP BY o_year, nation
QUALIFY row_number() OVER (PARTITION BY o_year ORDER BY sum(revenue) DESC, nation) <= {top_k}
"""

_KPIS_SQL = """
SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
       count(*) AS n_events, count(DISTINCT user_id) AS n_users,
       round(sum(CAST(value AS DECIMAL(12, 2))), 2) AS total_value,
       max(value) AS max_value
FROM events
WHERE ts >= TIMESTAMP '{since}'
GROUP BY 1, 2
HAVING count(DISTINCT user_id) >= {min_users}
"""

_CURATION_SQL = r"""
SELECT doc_id, lang, source, clean_text, n_tokens, norm_hash FROM (
  SELECT doc_id, lang, source, n_chars,
         regexp_replace(regexp_replace(text, '[0-9]+', '<num>', 'g'), '\s+dup$', '')
           AS clean_text,
         len(string_split(text, ' ')) AS n_tokens,
         sha256(regexp_replace(lower(trim(text)), '\s+dup$', '')) AS norm_hash
  FROM documents)
WHERE n_tokens >= {min_tokens} AND n_chars BETWEEN 64 AND {max_chars}
  AND lang IN ('en', 'es', 'de', 'fr')
QUALIFY row_number() OVER (PARTITION BY norm_hash ORDER BY doc_id) = 1
"""

# how DuckDB reads each sink back; columns in the reference's order
_SINK_READ = {
    "order_facts": "SELECT o_orderkey, l_linenumber, nation, segment, "
    "CAST(o_year AS INTEGER) AS o_year, qty, revenue FROM read_parquet("
    "'{out}/order_facts/**/*.parquet', hive_partitioning = true)",
    "nation_rollup": "SELECT o_year, nation, revenue, n_orders, n_lines "
    "FROM read_parquet('{out}/nation_rollup/*.parquet')",
    "daily_kpis": "SELECT day, event_type, n_events, n_users, total_value, max_value "
    "FROM read_csv('{out}/daily_kpis/*.csv', header = true, columns = {{"
    "'day': 'DATE', 'event_type': 'VARCHAR', 'n_events': 'BIGINT', "
    "'n_users': 'BIGINT', 'total_value': 'DECIMAL(18, 2)', 'max_value': 'DOUBLE'}})",
    "doc_curation": "SELECT doc_id, lang, source, clean_text, n_tokens, norm_hash "
    "FROM read_parquet('{out}/doc_curation/*.parquet')",
}

_JOB_FILES = {
    "order_facts": "order_facts.xml",
    "daily_kpis": "daily_kpis.yaml",
    "doc_curation": "doc_curation.json",
    "nation_rollup": "nation_rollup.yaml",
}
_JOB_INPUTS = {
    "order_facts": ["orders", "lineitem", "customer", "nation"],
    "daily_kpis": ["events"],
    "doc_curation": ["documents"],
    "nation_rollup": [],  # reads order_facts' output
}


def _duck(data: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in ("orders", "lineitem", "customer", "nation", "events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def _tree_bytes(path: str) -> tuple[int, int]:
    """Bytes and number of data files Spark wrote under ``path``."""
    n_bytes = n_files = 0
    for d, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n_bytes += os.path.getsize(os.path.join(d, f))
                n_files += 1
    return n_bytes, n_files


class EtlJobs(Workload):
    """Four config-driven jobs: XML star join with a validate step into
    partitioned parquet, YAML ${params} KPIs into CSV with observe-based
    sink checks, JSON curation into clustered parquet, and a YAML job
    that reads the star join's output back."""

    def __init__(self, spark: Any, data: str, out: str, sf: float, rng: random.Random):
        from etl_framework_spark import pipeline

        super().__init__(sf, steady_jobs_item="daily_kpis")
        self.data, self.out = data, out
        y = rng.choice([1996, 1997])
        m = rng.choice([1, 4, 7, 10])
        self.params: dict[str, dict[str, Any]] = {
            "order_facts": {"since": f"{y}-{m:02d}-01", "until": f"{y + 3}-{m:02d}-01"},
            "nation_rollup": {"top_k": rng.randint(5, 10)},
            "daily_kpis": {
                "since": f"2024-01-{rng.randint(5, 12):02d} 00:00:00",
                "min_users": rng.randint(3, 8),
            },
            "doc_curation": {"min_tokens": rng.randint(14, 20), "max_chars": rng.randint(500, 560)},
        }
        self.con = _duck(data)
        self.reference = {
            "order_facts": _FACTS_SQL.format(**self.params["order_facts"]),
            "daily_kpis": _KPIS_SQL.format(**self.params["daily_kpis"]),
            "doc_curation": _CURATION_SQL.format(**self.params["doc_curation"]),
        }
        self.reference["nation_rollup"] = _ROLLUP_SQL.format(
            facts=self.reference["order_facts"], **self.params["nation_rollup"]
        )
        for job, p in self.params.items():
            p.update(data=data, out=out)
            if job in ("daily_kpis", "nation_rollup"):  # their sinks check it via observe()
                n = self.con.execute(f"SELECT count(*) FROM ({self.reference[job]})")
                p["expect_rows"] = n.fetchone()[0]

        def job_item(job: str) -> Item:
            path = os.path.join(HERE, "jobs", _JOB_FILES[job])

            def run(tr: Any) -> None:
                with tr.span("pipeline.load_spec"):
                    spec = pipeline.load_spec(path)
                with tr.span("pipeline.run"):
                    pipeline.run_pipeline(spark, spec, params=self.params[job])

            return Item(job, run, after="order_facts" if job == "nation_rollup" else None)

        self.items = [job_item(j) for j in _JOB_FILES]
        self.input_bytes = sum(
            os.path.getsize(f"{data}/{t}.parquet") for ts in _JOB_INPUTS.values() for t in ts
        )

    def written(self) -> tuple[int, int, int]:
        sizes = [_tree_bytes(os.path.join(self.out, j)) for j in _JOB_FILES]
        read_back = _tree_bytes(os.path.join(self.out, "order_facts"))[0]
        return (
            sum(b for b, _ in sizes),
            sum(f for _, f in sizes),
            self.input_bytes + read_back,
        )

    def check(self) -> list[str]:
        bad = []
        for job, ref in self.reference.items():
            got = _SINK_READ[job].format(out=self.out)
            missing, extra, n_ref = self.con.execute(
                f"WITH ref AS ({ref}), got AS ({got}) SELECT "
                "(SELECT count(*) FROM (FROM ref EXCEPT ALL FROM got)), "
                "(SELECT count(*) FROM (FROM got EXCEPT ALL FROM ref)), "
                "(SELECT count(*) FROM ref)"
            ).fetchone()
            if missing or extra:
                bad.append(f"{job}: {missing} rows missing, {extra} extra, {n_ref} expected")
        return bad


# ---------------------------------------------------------------------------
# llm_kernels: registry keys dominated by operators/ kernels (Arrow batches
# through Python workers) and guarded driver folds with eager build jobs.
# ---------------------------------------------------------------------------

LLM_KEYS = [
    "llm_minhash_est_err",  # Arrow/Python MinHash kernel + blocked pair join
    "llm_lang_id",  # per-document stopword scoring (higher-order functions)
    "graph_khop_reach",  # capped in-process BFS fold, eager jobs at build time
]


class LlmKernels(Workload):
    def __init__(self, spark: Any, data: str, sf: float, queries: dict, oracles: dict):
        from etl_framework_spark.cacheutil import release_all

        # its passes are shorter and hold fewer items than etl_jobs'
        super().__init__(sf, steady_jobs_item="llm_lang_id", passes=5)
        self.spark, self.data = spark, data
        self.queries, self.oracles = queries, oracles

        def key_item(key: str) -> Item:
            def run(tr: Any) -> None:
                with tr.span("queries.build"):
                    df = queries[key](spark, data)
                with tr.span("queries.execute"):
                    df.write.format("noop").mode("overwrite").save()
                tr.live_rdds()
                with tr.span("cacheutil.release_all"):
                    release_all(spark)

            return Item(key, run)

        self.items = [key_item(k) for k in LLM_KEYS]

    def check(self) -> list[str]:
        from tools.check import compare, duck_connect

        con = duck_connect(self.data)
        bad = []
        for key in LLM_KEYS:
            got = self.queries[key](self.spark, self.data).toPandas()
            res = compare(key, got, con.execute(self.oracles[key]).df())
            if res["status"] != "OK":
                bad.append(f"{key}: {res['status']}")
        return bad
