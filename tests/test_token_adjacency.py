"""``operators.graph.token_adjacency`` builds the same edge list as the
``adj``/``edges`` CTEs of the graph oracles, which stay independent SQL."""

from __future__ import annotations

import duckdb

from etl_framework_spark.catalog import table
from etl_framework_spark.operators import guarded
from etl_framework_spark.operators.graph import token_adjacency
from tests.conftest import SF_SMALL

# the graph_degree_hist oracle's edge list
_DUCK_EDGES = """
WITH t AS (SELECT string_split(text, ' ') AS l FROM documents),
adj AS (
  SELECT least(l[i], l[i + 1]) AS a, greatest(l[i], l[i + 1]) AS b
  FROM (SELECT l, unnest(generate_series(1, len(l) - 1)) AS i
        FROM t WHERE len(l) >= 2)
  WHERE l[i] <> l[i + 1]
),
edges AS (SELECT DISTINCT a, b FROM adj)
SELECT a, b FROM edges ORDER BY a, b
"""

# null text, one token, a repeated token, an empty token between two
# spaces, and one pair in both orders
_TEXTS = [None, "solo", "a a b", "a  b", "b a", "a b"]


def _spark_edges(docs) -> list[tuple]:
    return sorted((r.a, r.b) for r in token_adjacency(docs).collect())


def test_token_adjacency_matches_oracle_on_documents(spark, duck):
    want = [tuple(r) for r in duck.execute(_DUCK_EDGES).fetchall()]
    assert want
    assert _spark_edges(table(spark, SF_SMALL, "documents")) == want


def test_token_adjacency_edge_cases(spark):
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?)", [[t] for t in _TEXTS])
    want = [tuple(r) for r in con.execute(_DUCK_EDGES).fetchall()]
    assert want == [("", "a"), ("", "b"), ("a", "b")]
    docs = guarded.local_frame(spark, [(t,) for t in _TEXTS], "text string")
    assert _spark_edges(docs) == want
