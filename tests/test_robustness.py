"""Ingestion robustness: schema evolution across parquet batches
(mergeSchema) and dirty-record handling for schemaless sources —
option pass-through proven end-to-end through sources.readers."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from etl_framework_spark.sources.readers import read_source


def test_parquet_merge_schema_across_batches(spark, tmp_path):
    """Later batches may add columns; mergeSchema reads the union
    schema with nulls for the missing early columns."""
    base = str(tmp_path / "evolving")
    spark.range(3).select(F.col("id").alias("k")).write.parquet(f"{base}/b1")
    spark.range(3).select(
        F.col("id").alias("k"), F.lit("v2").alias("extra")
    ).write.parquet(f"{base}/b2")
    df = read_source(
        spark,
        {
            "format": "parquet",
            "path": f"{base}/b*",
            "options": {"mergeSchema": True, "recursiveFileLookup": True},
        },
    )
    assert set(df.columns) == {"k", "extra"}
    assert df.count() == 6
    assert df.filter(F.col("extra").isNull()).count() == 3  # batch-1 rows


def test_json_permissive_corrupt_records(spark, tmp_path):
    """PERMISSIVE mode lands malformed lines in the corrupt-record
    column instead of failing the job — one dirty row must not kill a
    100 TB ingest."""
    p = tmp_path / "dirty.json"
    p.write_text('{"a": 1, "b": "x"}\n{"a": oops not json\n{"a": 3, "b": "y"}\n')
    df = read_source(
        spark,
        {
            "format": "json",
            "path": str(p),
            "schema": "a INT, b STRING, _corrupt_record STRING",
            "options": {"mode": "PERMISSIVE"},
        },
    )
    rows = df.collect()
    assert len(rows) == 3
    bad = [r for r in rows if r._corrupt_record is not None]
    good = sorted(r.a for r in rows if r._corrupt_record is None)
    assert len(bad) == 1 and bad[0].a is None
    assert good == [1, 3]


def test_csv_failfast_raises_on_malformed(spark, tmp_path):
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    p = tmp_path / "dirty.csv"
    p.write_text("a,b\n1,x\nnot_an_int,y\n")
    df = read_source(
        spark,
        {
            "format": "csv",
            "path": str(p),
            "schema": "a INT, b STRING",
            "options": {"header": True, "mode": "FAILFAST"},
        },
    )
    with _pytest.raises(Exception) as exc:
        df.collect()
    assert "Malformed" in str(exc.value) or "FAILFAST" in str(exc.value)


def test_every_pipeline_op_handles_empty_input(spark):
    """Zero-row inputs flow through every registered spec op without
    crashing (the 3 a.m. empty-partition case): each op gets an empty
    frame with a suitable schema and must return an empty result with
    a stable schema."""
    from pyspark.sql import functions as F

    from etl_framework_spark.pipeline import OPS

    empty = spark.createDataFrame(
        [], "k long, v double, ts timestamp, cat string"
    )
    empty_right = spark.createDataFrame([], "k long, w double, rts timestamp")
    empty_right_rk = spark.createDataFrame([], "rk long, w double, rts timestamp")
    calls = {
        "filter": dict(condition="v > 0"),
        "select": dict(exprs=["k", "v * 2 AS v2"]),
        "with_columns": dict(columns={"v2": "v + 1"}),
        "drop": dict(columns=["cat"]),
        "join": dict(right=empty_right_rk, on="k = rk", how="inner"),
        "aggregate": dict(group_by=["cat"], aggs={"n": "count(*)"}),
        "window": dict(columns={"rn": "row_number() OVER (PARTITION BY cat ORDER BY v)"}),
        "distinct": {},
        "dedup": dict(keys=["k"], order_by=["v DESC"]),
        "union": dict(right=empty),
        "merge_upsert": dict(right=empty, key="k"),
        "topk_per_group": dict(keys=["cat"], order_by=["v DESC", "k"], k=3),
        "asof_join": dict(
            right=empty_right, on="k", left_ts="ts", right_ts="rts",
            payload_cols=["w"], tiebreak="k",
        ),
        "sessionize": dict(key="k", ts="ts", gap_minutes=30),
        "hash_sample": dict(keys=["k"], fraction=0.5),
        "quality_gate": dict(bounds={"v": [0, 10]}, allow={"cat": ["a"]}),
        "order_by": dict(exprs=["v DESC"]),
        "limit": dict(n=5),
        "repartition": dict(num=2),
        "validate": dict(checks=[]),
    }
    missing = set(OPS) - set(calls)
    assert not missing, f"ops without an empty-input case: {missing}"
    for name, kwargs in calls.items():
        out = OPS[name](empty, **kwargs)
        assert out.count() == 0, name
        assert out.schema is not None, name


def test_package_imports_from_this_checkout():
    import etl_framework_spark

    root = Path(__file__).resolve().parents[1]
    assert Path(etl_framework_spark.__file__).resolve().is_relative_to(root)
