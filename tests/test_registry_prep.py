"""``registry.query`` is the one place that normalizes the session a
key is handed: the registered callable runs ``session.prep`` before
the key body, and keeps the body's identity for introspection."""

from __future__ import annotations

from etl_framework_spark.registry import ORACLES, QUERIES, query

TZ = "spark.sql.session.timeZone"


def test_registered_key_runs_prep_first(spark) -> None:
    key = "test_registry_prep_probe"
    seen: dict[str, str] = {}

    def probe(spark, sf_dir):
        """Report the timezone the key body runs under."""
        seen["tz"] = spark.conf.get(TZ)
        return sf_dir

    try:
        registered = query(key, oracle="SELECT 1")(probe)
        assert QUERIES[key] is registered
        spark.conf.set(TZ, "America/New_York")
        assert registered(spark, "sf_dir") == "sf_dir"
        assert seen["tz"] == "UTC"
        spark.conf.set(TZ, "America/New_York")
        assert registered(spark, sf_dir="kw") == "kw"
        assert seen["tz"] == "UTC"
    finally:
        QUERIES.pop(key, None)
        ORACLES.pop(key, None)

    assert registered.__name__ == "probe"
    assert registered.__doc__ == probe.__doc__
    assert registered.__module__ == __name__
    assert registered.__wrapped__ is probe
