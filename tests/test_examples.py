"""The example config-file jobs in examples/ must run end-to-end
through load_spec + run_pipeline_file (the reference family's
config-declared-job surface)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_framework_spark.pipeline import load_spec, run_pipeline, run_pipeline_file
from tests.conftest import ROOT

EXAMPLES = f"{ROOT}/examples"


def test_yaml_star_join_job(spark):
    rel = run_pipeline_file(spark, f"{EXAMPLES}/revenue_by_nation.yaml")
    out = spark.table("example_top_nations")
    assert out.columns == ["nation", "revenue", "n_orders"]
    rows = out.collect()
    assert len(rows) > 0
    assert rows[0].revenue == max(r.revenue for r in rows)  # ordered desc
    # the intermediate relations are all addressable
    assert {"recent_orders", "revenue", "validated", "top_nations"} <= set(rel)


def test_json_quality_dedup_job(spark):
    rel = run_pipeline_file(spark, f"{EXAMPLES}/doc_quality_dedup.json")
    prof = spark.table("example_corpus_profile")
    assert set(prof.columns) == {"source", "lang", "n_docs", "total_tokens"}
    langs = {r.lang for r in prof.select("lang").distinct().collect()}
    assert langs <= {"en", "es", "de", "fr"}  # zh filtered by the quality gate
    # dedup keeps at most one row per normalized text
    dups = (
        rel["deduped"]
        .groupBy("norm_text")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dups == 0


def test_xml_twin_matches_yaml(spark):
    """The XML feed-definition surface (reference-native format):
    examples/revenue_by_nation.xml is the XML twin of the YAML job —
    identical sources/steps, sink renamed — and must produce the
    exact same rows in the same order."""
    run_pipeline_file(spark, f"{EXAMPLES}/revenue_by_nation.yaml")
    run_pipeline_file(spark, f"{EXAMPLES}/revenue_by_nation.xml")
    y = spark.table("example_top_nations").collect()
    x = spark.table("example_top_nations_xml").collect()
    assert x == y
    assert len(x) > 0


def test_xml_spec_parses_typed_scalars(tmp_path):
    from etl_framework_spark.pipeline import load_spec

    p = tmp_path / "j.xml"
    p.write_text(
        "<job><params><param name='k'>3</param></params>"
        "<sources><source name='s' format='parquet' path='/x'/></sources>"
        "<steps><step name='a' input='s' op='validate'>"
        "<args><checks><item type='row_count' min='1' max='2.5'/>"
        "</checks></args></step></steps>"
        "<sinks><sink input='a' format='view' name='v' overwrite='true'/></sinks></job>"
    )
    spec = load_spec(str(p))
    assert spec["params"] == {"k": 3}
    assert spec["sources"] == {"s": {"format": "parquet", "path": "/x"}}
    chk = spec["steps"][0]["args"]["checks"][0]
    assert chk == {"type": "row_count", "min": 1, "max": 2.5}
    assert spec["sinks"][0]["overwrite"] is True


def test_load_spec_rejects_non_mapping(tmp_path):
    p = tmp_path / "bad.json"
    p.write_text("[1, 2, 3]")
    try:
        load_spec(str(p))
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "mapping" in str(e)


def test_json_docstore_export_job(spark, tmp_path):
    spec = load_spec(f"{EXAMPLES}/docstore_export.json")
    rel = run_pipeline(spark, spec, params={"out_dir": str(tmp_path)})
    assert rel["checked"].columns == ["doc_id", "text", "meta"]

    # docstore sink is readable back through the connector and kept
    # every gated row
    from etl_framework_spark.sources.readers import read_source

    back = read_source(
        spark,
        {"format": "docstore", "path": f"{tmp_path}/example_docstore_out"},
    )
    assert back.count() == rel["gated"].count()
    assert back.filter(F.col("meta").contains('"lang"')).count() == back.count()

    # clustered parquet sink round-trips
    clustered = read_source(
        spark,
        {"format": "parquet", "path": f"{tmp_path}/example_docs_clustered"},
    )
    assert clustered.count() == rel["gated"].count()


def test_yaml_training_mix_job(spark):
    rel = run_pipeline_file(spark, f"{EXAMPLES}/training_mix.yaml")
    out = spark.table("example_training_mix")
    assert set(out.columns) == {"split", "lang", "n_docs", "total_tokens"}
    rows = out.collect()
    by_split: dict[str, int] = {}
    for r in rows:
        by_split[r.split] = by_split.get(r.split, 0) + r.n_docs
    assert set(by_split) == {"train", "valid"}
    # ~90/10 hash split: valid share must land well inside (2%, 25%)
    total = sum(by_split.values())
    assert 0.02 < by_split["valid"] / total < 0.25
    # split is deterministic: rerunning yields identical rows
    rel2 = run_pipeline_file(spark, f"{EXAMPLES}/training_mix.yaml")
    assert sorted(map(str, rows)) == sorted(
        map(str, spark.table("example_training_mix").collect())
    )


def test_yaml_session_attribution_job(spark):
    rel = run_pipeline_file(spark, f"{EXAMPLES}/session_attribution.yaml")
    rep = spark.table("example_session_report").collect()
    assert len(rep) == 1
    assert rep[0].n_sessions >= rep[0].n_users > 0
    # topk step really capped sessions per user
    per_user = rel["busiest"].groupBy("user_id").count().agg(F.max("count")).collect()
    assert per_user[0][0] <= 3
    # sessionization produced contiguous ids starting at 1
    ids = rel["sessions"].groupBy("user_id").agg(
        F.min("session_id").alias("lo"), F.max("session_id").alias("hi"),
        F.countDistinct("session_id").alias("n")
    ).collect()
    for r in ids:
        assert r.lo == 1 and r.n == r.hi


def test_yaml_dp_release_job(spark):
    """The DP-release example spec: contribution bounding → seeded
    Laplace → validated view. The noise is seeded, so two runs of the
    config produce the identical release (the property the example
    exists to demonstrate)."""
    run_pipeline_file(spark, f"{EXAMPLES}/dp_release.yaml")
    rows = {
        r.priority: r.n_noisy
        for r in spark.table("example_dp_release").collect()
    }
    assert len(rows) == 5
    run_pipeline_file(spark, f"{EXAMPLES}/dp_release.yaml")
    again = {
        r.priority: r.n_noisy
        for r in spark.table("example_dp_release").collect()
    }
    assert rows == again
    for p, v in rows.items():
        assert v > 0  # counts are in the hundreds; Laplace(3) can't sink them
