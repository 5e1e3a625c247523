"""Declarative source readers and sink writers (SURVEY.md §2.1).

The reference family declares sources/sinks in job configs (CSV/JSON
files, JDBC, Hive) and delegates IO to Spark's DataSource API; this is
the same surface as spec dicts:

    {"format": "parquet"|"csv"|"json"|"orc"|"jdbc"|"table"|"kafka"|"docstore",
     "path"|"url"|"name": ...,
     "schema": "a INT, b STRING",   # optional DDL (schema-on-read)
     "options": {...},              # passed through to the reader
     "stream": true}                # readStream instead of read

JDBC is tested against the embedded Derby engine Spark ships in its
jars (in-JVM, no network): tests/test_jdbc.py round-trips a table
through `jdbc:derby:memory:` with partitioned parallel reads. Remote
JDBC servers remain untested in this environment (SURVEY.md §7).
"""

from __future__ import annotations

import uuid
from typing import Any, Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

FILE_FORMATS = {"parquet", "csv", "json", "orc"}

# ---------------------------------------------------------------------------
# Kafka (Structured Streaming's canonical message-bus source/sink).
#
# The environment ships no Kafka broker and no spark-sql-kafka connector
# jar, so .load()/.start() cannot run here (SURVEY.md §7). The spec
# mapping below is still the full production surface: it resolves the
# reference-family config vocabulary (bootstrap servers, topic
# subscription, offsets) into the exact option dict Spark's kafka
# DataSource takes, and the value-decoding step is a plain DataFrame
# transform that is tested against kafka-SHAPED data. On a real
# cluster the only extra requirement is the connector package on the
# classpath (--packages org.apache.spark:spark-sql-kafka-0-10_2.13).
# ---------------------------------------------------------------------------

_KAFKA_SUBSCRIBE_KEYS = {
    "subscribe": "subscribe",
    "subscribe_pattern": "subscribePattern",
    "assign": "assign",
}


def kafka_source_options(spec: dict[str, Any]) -> dict[str, str]:
    """Resolve a kafka source spec into Spark DataSource options.

    Spec vocabulary (snake_case, matching the rest of the spec surface):
      bootstrap_servers: "host:9092,host2:9092"        (required)
      subscribe | subscribe_pattern | assign: ...      (exactly one)
      starting_offsets / ending_offsets: "earliest" | "latest" | json
      max_offsets_per_trigger: int   (per-micro-batch rate cap — the
          knob that keeps state/shuffle sizes bounded at cluster scale)
      fail_on_data_loss: bool
      options: {...}  raw passthrough (wins over the mapped keys)

    NOTE on 'stream': kafka is the ONLY format whose spec defaults to
    'stream': true (readStream) — kafka is a streaming-first source and
    a silent batch read of a topic is the bigger surprise. Every file/
    jdbc/table format defaults to batch; set 'stream': false explicitly
    for a bounded offset-range read (ADVICE r6: flipped default is
    intentional and documented here).
    """
    if "bootstrap_servers" not in spec:
        raise ValueError("kafka source needs 'bootstrap_servers'")
    sub = [k for k in _KAFKA_SUBSCRIBE_KEYS if k in spec]
    if len(sub) != 1:
        raise ValueError(
            "kafka source needs exactly one of "
            f"{sorted(_KAFKA_SUBSCRIBE_KEYS)}, got {sub or 'none'}"
        )
    opts: dict[str, str] = {
        "kafka.bootstrap.servers": str(spec["bootstrap_servers"]),
        _KAFKA_SUBSCRIBE_KEYS[sub[0]]: str(spec[sub[0]]),
    }
    if "starting_offsets" in spec:
        opts["startingOffsets"] = str(spec["starting_offsets"])
    if "ending_offsets" in spec:
        opts["endingOffsets"] = str(spec["ending_offsets"])
    if "max_offsets_per_trigger" in spec:
        opts["maxOffsetsPerTrigger"] = str(spec["max_offsets_per_trigger"])
    if "fail_on_data_loss" in spec:
        opts["failOnDataLoss"] = str(bool(spec["fail_on_data_loss"])).lower()
    for k, v in dict(spec.get("options", {})).items():
        opts[str(k)] = str(v)
    return opts


def decode_kafka_value(
    df: DataFrame,
    schema: str | None = None,
    value_format: str = "string",
    keep_metadata: bool = True,
) -> DataFrame:
    """Decode the kafka wire columns (key/value binary + metadata) into
    typed columns — the transform every kafka pipeline runs first.

    value_format: "string" (cast only), "json" (from_json with the
    given DDL schema, fields hoisted to top level). Keeps topic/
    partition/offset/timestamp when keep_metadata (offset is the
    natural dedup/ordering key downstream). Works on any DataFrame
    with kafka's output shape, batch or streaming — per-row expression
    only, no shuffle, fully pushdown-transparent.

    Guards (ADVICE r6): a schema with value_format='string' raises
    instead of silently dropping the DDL, and hoisted JSON fields that
    collide with key/topic/partition/offset/timestamp raise instead of
    producing ambiguous duplicate column names downstream.
    """
    meta = [c for c in ("topic", "partition", "offset", "timestamp") if c in df.columns]
    out = df.withColumn("key", F.col("key").cast("string"))
    if value_format == "string":
        if schema:
            raise ValueError(
                "schema given but value_format='string' would ignore it; "
                "use value_format='json' (the spec layer defaults to json "
                "when a schema is present)"
            )
        out = out.withColumn("value", F.col("value").cast("string"))
        cols = ["key", "value"]
    elif value_format == "json":
        if not schema:
            raise ValueError("value_format='json' needs a DDL 'schema'")
        out = out.withColumn(
            "value", F.from_json(F.col("value").cast("string"), schema)
        )
        reserved = {"key", *(meta if keep_metadata else [])}
        hoisted = set(out.schema["value"].dataType.names)
        clash = sorted(hoisted & reserved)
        if clash:
            raise ValueError(
                f"JSON value fields {clash} collide with the kafka "
                "key/metadata columns; rename them in the payload schema "
                "or set keep_metadata=False"
            )
        cols = ["key", "value.*"]
    else:
        raise ValueError(f"unsupported value_format {value_format!r}")
    return out.select(*cols, *(meta if keep_metadata else []))


def kafka_sink_options(spec: dict[str, Any]) -> dict[str, str]:
    """Resolve a kafka sink spec (bootstrap_servers + topic)."""
    missing = {"bootstrap_servers", "topic"} - set(spec)
    if missing:
        raise ValueError(f"kafka sink missing {sorted(missing)}")
    opts = {
        "kafka.bootstrap.servers": str(spec["bootstrap_servers"]),
        "topic": str(spec["topic"]),
    }
    for k, v in dict(spec.get("options", {})).items():
        opts[str(k)] = str(v)
    return opts


def encode_kafka_value(df: DataFrame, key: str | None = None) -> DataFrame:
    """Shape a DataFrame for the kafka sink: all non-key columns packed
    into a JSON 'value' string, optional 'key' column for partition
    affinity (same key → same kafka partition → per-key ordering
    downstream, the property CDC consumers rely on)."""
    value_cols = [c for c in df.columns if c != key]
    out = df.select(
        *( [F.col(key).cast("string").alias("key")] if key else [] ),
        F.to_json(F.struct(*value_cols)).alias("value"),
    )
    return out


def _require_jdbc(spec: dict[str, Any], role: str) -> None:
    missing = {"url", "dbtable"} - set(spec)
    if missing:
        raise ValueError(f"jdbc {role} missing {sorted(missing)}")


def read_source(spark: SparkSession, spec: dict[str, Any]) -> DataFrame:
    fmt = spec.get("format", "parquet")
    options = dict(spec.get("options", {}))
    if fmt == "jdbc":
        _require_jdbc(spec, "source")
        return (
            spark.read.format("jdbc")
            .option("url", spec["url"])
            .option("dbtable", spec["dbtable"])
            .options(**options)
            .load()
        )
    if fmt == "table":  # catalog/metastore-backed (Hive-style) source
        # The reference family reads Hive tables by name from job
        # configs; here the session catalog (in-memory or Hive
        # metastore, whatever the session was built with) resolves the
        # name. Partition pruning/stats come from the catalog entry —
        # at cluster scale this is the path that sees Hive partitions.
        if "name" not in spec:
            raise ValueError("table source needs 'name'")
        if not spark.catalog.tableExists(spec["name"]):
            raise ValueError(f"table source: {spec['name']!r} not in catalog")
        return spark.read.options(**options).table(spec["name"])
    if fmt == "kafka":
        opts = kafka_source_options(spec)
        reader = (
            spark.readStream if spec.get("stream", True) else spark.read
        ).format("kafka").options(**opts)
        try:
            df = reader.load()
        except Exception as e:  # connector jar absent in this env
            raise RuntimeError(
                "kafka source spec resolved OK but the spark-sql-kafka "
                "connector is not on the classpath (add --packages "
                "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-ver>); "
                f"underlying error: {e}"
            ) from e
        if spec.get("value_format") or spec.get("schema"):
            # A schema implies JSON decode (ADVICE r6: the old default
            # of 'string' silently dropped the user's DDL).
            default_fmt = "json" if spec.get("schema") else "string"
            df = decode_kafka_value(
                df,
                schema=spec.get("schema"),
                value_format=spec.get("value_format", default_fmt),
            )
        return df
    if fmt == "docstore":  # custom Python DataSource connector
        from etl_framework_spark.sources.docstore import register

        register(spark)
        return (
            spark.read.format("docstore")
            .options(**options)
            .option("path", spec["path"])
            .load()
        )
    if fmt not in FILE_FORMATS:
        raise ValueError(f"unsupported source format {fmt!r}")
    if "path" not in spec:
        raise ValueError(f"{fmt} source needs 'path'")
    reader = spark.readStream if spec.get("stream") else spark.read
    if spec.get("schema"):
        reader = reader.schema(spec["schema"])
    elif fmt == "csv" and not spec.get("stream"):
        options.setdefault("inferSchema", True)
    if fmt == "csv":
        options.setdefault("header", True)
    return getattr(reader.options(**options), fmt)(spec["path"])


# A data-quality gate on a sink write: aggregate Columns that ride the
# write as an Observation, and a verdict that reads the observed metrics
# (one dict) after the data is written and raises to reject it.
Gate = tuple[list[Column], Callable[[dict[str, Any]], None]]


def write_sink(
    df: DataFrame, spec: dict[str, Any], gates: Sequence[Gate] = ()
) -> None:
    """Write ``df`` to the sink ``spec`` describes. Each gate's metrics
    are computed by the write itself (no second pass); its verdict runs
    once the write has finished. A gated file sink is written through
    :func:`_staged_write`, so a rejected write publishes nothing."""
    fmt = spec.get("format", "parquet")
    if fmt in FILE_FORMATS:
        _write_files(df, spec, fmt, gates)
        return
    df, audit = _observed(df, gates)
    if fmt == "view":  # in-memory sink: register for downstream consumers
        df.createOrReplaceTempView(spec["name"])
    elif fmt == "table":  # catalog-managed (saveAsTable) sink — the
        # write half of the {"format": "table"} source above
        writer = df.write.mode(spec.get("mode", "overwrite"))
        if spec.get("partition_by"):
            writer = writer.partitionBy(*spec["partition_by"])
        writer.options(**spec.get("options", {})).saveAsTable(spec["name"])
    elif fmt == "jdbc":
        _require_jdbc(spec, "sink")
        (
            df.write.format("jdbc")
            .mode(spec.get("mode", "overwrite"))
            .option("url", spec["url"])
            .option("dbtable", spec["dbtable"])
            .options(**spec.get("options", {}))
            .save()
        )
    elif fmt == "kafka":
        opts = kafka_sink_options(spec)
        out = encode_kafka_value(df, key=spec.get("key"))
        try:
            out.write.format("kafka").options(**opts).save()
        except Exception as e:  # connector jar absent in this env
            raise RuntimeError(
                "kafka sink spec resolved OK but the spark-sql-kafka "
                "connector is not on the classpath; underlying error: "
                f"{e}"
            ) from e
    elif fmt == "docstore":
        from etl_framework_spark.sources.docstore import register

        register(df.sparkSession)
        (
            df.write.format("docstore")
            .mode(spec.get("mode", "overwrite"))
            .options(**dict(spec.get("options", {})))
            .option("path", spec["path"])
            .save()
        )
    else:
        raise ValueError(f"unsupported sink format {fmt!r}")
    audit()


def _observed(
    df: DataFrame, gates: Sequence[Gate]
) -> tuple[DataFrame, Callable[[], None]]:
    """Attach one Observation per gate; return the observed frame and
    a callable that runs every verdict, in order, after the action."""
    from pyspark.sql import Observation

    observations = []
    for aggs, _ in gates:
        obs = Observation()
        df = df.observe(obs, *aggs)
        observations.append(obs)

    def audit() -> None:
        for obs, (_, verdict) in zip(observations, gates):
            verdict(obs.get)

    return df, audit


def _write_files(
    df: DataFrame, spec: dict[str, Any], fmt: str, gates: Sequence[Gate]
) -> None:
    if spec.get("cluster_by"):
        # Global clustering on write: range-repartition so each output
        # task owns a disjoint key range, then sort locally — file and
        # row-group min/max stats become tight AND non-overlapping, so
        # downstream scans on the cluster key skip whole files. One
        # range shuffle at write time buys every future read.
        cols = list(spec["cluster_by"])
        n = spec.get("cluster_partitions")
        df = (
            df.repartitionByRange(int(n), *cols)
            if n
            else df.repartitionByRange(*cols)
        ).sortWithinPartitions(*cols)
    elif spec.get("sort_by"):
        # Local-only clustering: sort within existing partitions so
        # row-group min/max stats are tight (no extra shuffle). Use
        # when the upstream partitioning already groups the key.
        df = df.sortWithinPartitions(*spec["sort_by"])
    mode = spec.get("mode", "overwrite")
    if gates:
        # Observed after the clustering transform: repartitionByRange's
        # sampling job runs the plan below it, and would otherwise be
        # counted as a second pass.
        _staged_write(df, spec, fmt, mode, gates)
    else:
        _file_writer(df, spec, fmt, mode)(spec["path"])


def _file_writer(
    df: DataFrame, spec: dict[str, Any], fmt: str, mode: str
) -> Callable[[str], None]:
    writer = df.write.mode(mode)
    if spec.get("partition_by"):
        writer = writer.partitionBy(*spec["partition_by"])
    options = dict(spec.get("options", {}))
    if fmt == "csv":
        options.setdefault("header", True)  # symmetric with the reader default
    return getattr(writer.options(**options), fmt)


def _staged_write(
    df: DataFrame, spec: dict[str, Any], fmt: str, mode: str, gates: Sequence[Gate]
) -> None:
    """Write–audit–publish. The gated write lands in a hidden sibling
    ``<parent>/.<name>.staging-<uuid>``; only if every verdict passes
    is it published into the target under ``mode``. A rejected write
    leaves the target exactly as it was, and the staging directory is
    always removed. The target is examined before anything runs:
    ``ignore`` skips the write (and its checks) when it exists, and
    ``errorifexists`` fails before writing."""
    spark = df.sparkSession
    Path = spark._jvm.org.apache.hadoop.fs.Path
    raw = Path(spec["path"])
    fs = raw.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    target = fs.makeQualified(raw)
    mode = mode.lower()
    if mode not in ("overwrite", "append", "ignore", "error", "errorifexists", "default"):
        raise ValueError(f"unknown save mode {mode!r}")
    into_existing = mode in ("overwrite", "append")
    if not into_existing and fs.exists(target):
        if mode == "ignore":
            return
        raise FileExistsError(f"path {target.toString()} already exists (mode {mode})")
    options = {str(k).lower(): str(v) for k, v in dict(spec.get("options", {})).items()}
    dynamic = (
        mode == "overwrite"
        and bool(spec.get("partition_by"))
        and options.get(
            "partitionoverwritemode",
            spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static"),
        ).lower()
        == "dynamic"
    )
    parent = target.getParent()
    staging = Path(parent, f".{target.getName()}.staging-{uuid.uuid4().hex}")
    observed, audit = _observed(df, gates)
    try:
        _file_writer(observed, spec, fmt, "errorifexists")(staging.toString())
        audit()
        if not fs.exists(target):
            _rename(fs, staging, target)
        elif not into_existing:  # the target appeared while we were writing
            raise FileExistsError(f"path {target.toString()} already exists (mode {mode})")
        elif mode == "overwrite" and not dynamic:
            # swap through a second sibling so a failed rename restores
            old = Path(parent, f".{target.getName()}.replaced-{uuid.uuid4().hex}")
            _rename(fs, target, old)
            try:
                _rename(fs, staging, target)
            except Exception:
                _rename(fs, old, target)
                raise
            fs.delete(old, True)
        else:  # append, or overwrite of only the partitions written
            _merge_into(fs, Path, staging, target, replace_partitions=dynamic)
    finally:
        fs.delete(staging, True)


def _rename(fs: Any, src: Any, dst: Any) -> None:
    if not fs.rename(src, dst):
        raise OSError(f"could not move {src.toString()} to {dst.toString()}")


def _merge_into(
    fs: Any, Path: Any, src: Any, dst: Any, replace_partitions: bool
) -> None:
    """Move every file under ``src`` to the same relative path under
    ``dst``. Marker files (``_SUCCESS``) replace their namesakes. With
    ``replace_partitions``, a partition directory that received data
    files is emptied first (dynamic partition overwrite)."""
    entries = list(fs.listStatus(src))
    if replace_partitions and any(
        e.isFile() and not e.getPath().getName().startswith("_") for e in entries
    ):
        fs.delete(dst, True)
    fs.mkdirs(dst)
    for e in entries:
        out = Path(dst, e.getPath().getName())
        if e.isDirectory():
            _merge_into(fs, Path, e.getPath(), out, replace_partitions)
            continue
        if e.getPath().getName().startswith("_"):
            fs.delete(out, False)
        _rename(fs, e.getPath(), out)
