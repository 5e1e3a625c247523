"""Spec-driven pipeline engine (SURVEY.md §3.2 E1) — the
reference-equivalent surface: a config dict declares sources, an
ordered list of transform steps (SQL strings or named operators), and
sinks; the engine materializes sources as temp views, resolves each
step to a DataFrame transformation, and lets Catalyst plan the whole
DAG declaratively.

Spec shape:

    {
      "sources": {name: <source spec, see sources.readers>},
      "steps": [
        {"name": n, "sql": "SELECT ..."}                       # E3 path
        | {"name": n, "input": prev, "op": op, "args": {...}}  # operator
      ],
      "sinks": [{"input": n, **sink spec}],
    }

Step operators are expression-string driven (like the reference's
config-declared SQL transforms): conditions/projections are Spark SQL
expression strings compiled by Catalyst — no Python row code.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.sources import read_source, write_sink
from etl_framework_spark.sources.readers import FILE_FORMATS, Gate

OpFn = Callable[..., DataFrame]
OPS: dict[str, OpFn] = {}


def op(name: str) -> Callable[[OpFn], OpFn]:
    def deco(fn: OpFn) -> OpFn:
        OPS[name] = fn
        return fn

    return deco


# -- operator registry (each = pure DataFrame -> DataFrame) -----------------
def _sort_cols(exprs: list[str]) -> list:
    """Sort expressions with optional trailing ASC/DESC. The suffix
    must be split off before F.expr: ``expr("revenue DESC")`` parses
    DESC as a column *alias* (bare-alias syntax) and silently sorts
    ascending."""
    cols = []
    for e in exprs:
        parts = e.rsplit(None, 1)
        if len(parts) == 2 and parts[1].upper() in ("ASC", "DESC"):
            col = F.expr(parts[0])
            cols.append(col.desc() if parts[1].upper() == "DESC" else col.asc())
        else:
            cols.append(F.expr(e))
    return cols


@op("filter")
def _filter(df: DataFrame, condition: str) -> DataFrame:
    return df.filter(F.expr(condition))


@op("select")
def _select(df: DataFrame, exprs: list[str]) -> DataFrame:
    return df.selectExpr(*exprs)


@op("window")
@op("with_columns")
def _with_columns(df: DataFrame, columns: dict[str, str]) -> DataFrame:
    """New columns from SQL expression strings. The ``window`` op is
    the same step with window exprs, e.g.
    ``row_number() OVER (PARTITION BY k ORDER BY v DESC)``."""
    return df.withColumns({k: F.expr(v) for k, v in columns.items()})


@op("drop")
def _drop(df: DataFrame, columns: list[str]) -> DataFrame:
    return df.drop(*columns)


@op("join")
def _join(
    df: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    broadcast_right: bool = False,
) -> DataFrame:
    r = F.broadcast(right) if broadcast_right else right
    return df.join(r, F.expr(on), how)


@op("aggregate")
def _aggregate(df: DataFrame, group_by: list[str], aggs: dict[str, str]) -> DataFrame:
    exprs = [F.expr(v).alias(k) for k, v in aggs.items()]
    if group_by:
        return df.groupBy(*[F.expr(g) for g in group_by]).agg(*exprs)
    return df.agg(*exprs)


@op("distinct")
def _distinct(df: DataFrame) -> DataFrame:
    return df.distinct()


@op("dedup")
def _dedup(df: DataFrame, keys: list[str], order_by: list[str]) -> DataFrame:
    """Keep the first row per key under a total order (exact dedup)."""
    from pyspark.sql import Window as W

    w = W.partitionBy(*keys).orderBy(*_sort_cols(order_by))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


@op("union")
def _union(df: DataFrame, right: DataFrame, by_name: bool = True) -> DataFrame:
    return df.unionByName(right) if by_name else df.unionAll(right)


@op("merge_upsert")
def _merge_upsert(df: DataFrame, right: DataFrame, key: str) -> DataFrame:
    """MERGE INTO emulation: `right` rows replace target rows on key."""
    from etl_framework_spark.operators.cdc import merge_upsert

    return merge_upsert(df, right, key)


@op("topk_per_group")
def _topk_per_group(
    df: DataFrame, keys: list[str], order_by: list[str], k: int
) -> DataFrame:
    """Keep the top-k rows per group under a total order (W6). Same
    window-group-limit plan as the contract key `win_topk_group`."""
    from pyspark.sql import Window as W

    w = W.partitionBy(*keys).orderBy(*_sort_cols(order_by))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


@op("asof_join")
def _asof_join(
    df: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
    tiebreak: str,
) -> DataFrame:
    """J8 as-of join as a declarative step (union-tag + window impl)."""
    from etl_framework_spark.operators.asof import asof_join

    return asof_join(df, right, on, left_ts, right_ts, payload_cols, tiebreak)


@op("sessionize")
def _sessionize(
    df: DataFrame, key: str, ts: str, gap_minutes: float, out: str = "session_id"
) -> DataFrame:
    """Gap-based session ids per key (T3 batch semantics): a new
    session starts when the gap to the previous row exceeds the
    threshold; the id is the running count of session starts."""
    from pyspark.sql import Window as W

    w = W.partitionBy(key).orderBy(F.col(ts))
    prev = F.lag(F.col(ts)).over(w)
    gap_s = F.unix_timestamp(F.date_trunc("second", F.col(ts))) - F.unix_timestamp(
        F.date_trunc("second", prev)
    )
    new_sess = F.when(prev.isNull() | (gap_s > gap_minutes * 60), 1).otherwise(0)
    wid = W.partitionBy(key).orderBy(F.col(ts)).rowsBetween(W.unboundedPreceding, 0)
    return df.withColumn(out, F.sum(new_sess).over(wid))


@op("hash_sample")
def _hash_sample(df: DataFrame, keys: list[str], fraction: float) -> DataFrame:
    """Deterministic sampling: keep rows whose md5 over the key
    columns falls below the fraction threshold — reproducible across
    runs/engines/partitionings, unlike rand()-based sampling."""
    h = F.md5(F.concat_ws(":", *[F.col(c).cast("string") for c in keys]))
    # first 8 hex chars as an int in [0, 16^8)
    bucket = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    return df.filter(bucket < F.lit(int(fraction * 16**8)))


@op("quality_gate")
def _quality_gate(
    df: DataFrame,
    bounds: dict[str, list] | None = None,
    allow: dict[str, list] | None = None,
) -> DataFrame:
    """Declarative quality filter (L5): numeric [lo, hi] bounds and
    categorical allowlists, AND-composed."""
    cond = F.lit(True)
    for col, (lo, hi) in (bounds or {}).items():
        if lo is not None:
            cond = cond & (F.col(col) >= lo)
        if hi is not None:
            cond = cond & (F.col(col) <= hi)
    for col, vals in (allow or {}).items():
        cond = cond & F.col(col).isin(vals)
    return df.filter(cond)


class ValidationError(RuntimeError):
    """A declared data-quality gate failed; message lists every
    failing check (not just the first)."""


def _count_if(cond: Column) -> Column:
    return F.sum(F.when(cond, 1).otherwise(0))


def _nonzero(label: str, what: str) -> Callable[[int], list[str]]:
    return lambda bad: [f"{label}: {bad} {what}"] if bad else []


def _check_terms(
    i: int, c: dict[str, Any]
) -> list[tuple[str, Column | None, Callable[[int], list[str]]]]:
    """Check ``i`` as ``(alias, aggregate, failures)`` terms: the
    aggregate is computed under the alias, and ``failures`` maps its
    value to the check's failure messages. ``row_count`` reads the
    shared row count ``__n`` and adds no aggregate."""
    t = c.get("type")
    if t == "row_count":
        lo, hi = c.get("min"), c.get("max")

        def bounds(n: int) -> list[str]:
            out = []
            if lo is not None and n < lo:
                out.append(f"row_count: {n} < min {lo}")
            if hi is not None and n > hi:
                out.append(f"row_count: {n} > max {hi}")
            return out

        return [("__n", None, bounds)]
    if t == "not_null":
        return [
            (f"__{i}_null_{col}", _count_if(F.col(col).isNull()),
             _nonzero(f"not_null({col})", "null rows"))
            for col in c["columns"]
        ]
    if t == "unique":
        dupes = F.count(F.lit(1)) - F.countDistinct(F.struct(*[F.col(x) for x in c["columns"]]))
        return [(f"__{i}_dupes", dupes,
                 _nonzero(f"unique({','.join(c['columns'])})", "duplicate rows"))]
    if t == "accepted_values":
        col = F.col(c["column"])
        return [(f"__{i}_rejected", _count_if(col.isNotNull() & ~col.isin(*c["values"])),
                 _nonzero(f"accepted_values({c['column']})", f"rows outside {c['values']}"))]
    if t == "expression":
        return [(f"__{i}_violations", _count_if(~F.expr(c["expr"])),
                 _nonzero(f"expression({c['expr']})", "violating rows"))]
    raise ValueError(f"unknown validation check type {t!r}")


def _gate(checks: list[dict[str, Any]], prefix: str = "", allow_distinct: bool = False) -> Gate:
    """The checks as one global aggregate and a verdict over its row that
    raises ValidationError listing every failed check. A sink-write gate
    rides observe(), which forbids distinct aggregates, so only an eager
    pass may carry 'unique'."""
    terms = []
    for i, c in enumerate(checks):
        if c.get("type") == "unique" and not allow_distinct:
            raise ValueError(
                "'unique' checks need a distinct aggregate, which "
                "observe() metrics forbid — use an eager validate step"
            )
        terms += _check_terms(i, c)
    aggs = [F.count(F.lit(1)).alias("__n")]
    aggs += [agg.alias(alias) for alias, agg, _ in terms if agg is not None]

    def verdict(row: dict[str, Any]) -> None:
        failures = [msg for alias, _, fail in terms for msg in fail(row[alias] or 0)]
        if failures:
            raise ValidationError(prefix + "; ".join(failures))

    return aggs, verdict


@op("validate")
def _validate_step(df: DataFrame, checks: list[dict[str, Any]]) -> DataFrame:
    """Config-declared validation step (the reference family runs row
    counts / null checks between transform and load). All checks are
    folded into ONE aggregate, and passing returns the input unchanged
    (pass-through step); any failure raises ValidationError naming
    every failed check.

    Run eagerly, the aggregate is its own action: it recomputes the
    whole upstream plan, and the sink write then computes it again.
    So ``Pipeline.run`` fuses the step into its sink instead — the
    checks ride the sink write as an observe() gate, one pass in all,
    and the write is published only if they pass — when all of these
    hold (otherwise the step runs eagerly, here):
      - no 'unique' check (distinct aggregates can't ride observe);
      - the step has no ``materialize``;
      - exactly one sink reads it, that sink is a file sink
        (parquet/csv/json/orc), and it is the job's first sink;
      - no later step names it as ``input`` or ``right``, mentions it
        in SQL (a whole-word match), or has a ``materialize``.
    Only a direct sink consumer qualifies: a limit-style step in
    between could stop observe() from seeing every row. The last two
    rules keep a failing fused gate from firing after something else
    was written.

    Check shapes:
      {"type": "row_count", "min": 1, "max": null}
      {"type": "not_null", "columns": [c, ...]}
      {"type": "unique", "columns": [c, ...]}
      {"type": "accepted_values", "column": c, "values": [...]}
      {"type": "expression", "expr": "<boolean sql>"}  # must hold per row

    The same checks (except 'unique') can also sit on the *sink* spec
    as ``"validate": [...]``; they ride that sink's write the same way.
    """
    aggs, verdict = _gate(checks, allow_distinct=True)
    # bounded: global agg, exactly one row crosses to the driver
    verdict(df.agg(*aggs).collect()[0].asDict())
    return df


@op("order_by")
def _order_by(df: DataFrame, exprs: list[str]) -> DataFrame:
    """Sort expressions with optional trailing ASC/DESC."""
    return df.orderBy(*_sort_cols(exprs))


@op("limit")
def _limit(df: DataFrame, n: int) -> DataFrame:
    return df.limit(n)


@op("repartition")
def _repartition(df: DataFrame, num: int | None = None, by: list[str] | None = None) -> DataFrame:
    cols = [F.col(c) for c in (by or [])]
    if num and cols:
        return df.repartition(num, *cols)
    if cols:
        return df.repartition(*cols)
    return df.repartition(num)


class Pipeline:
    """Compiled pipeline: validated steps over named relations."""

    def __init__(self, spec: dict[str, Any]):
        self.spec = spec
        self._validate()

    def lineage(self) -> list[dict[str, Any]]:
        """Static column-free lineage of the job: one row per relation
        the spec declares (sources, steps, sinks) with its op and
        upstream relation(s) — derivable from the CONFIG alone, before
        anything runs. This is the config-driven-ETL family's audit
        surface: impact analysis ('what breaks if this feed changes')
        reads the spec, not the cluster."""
        rows: list[dict[str, Any]] = []
        for name, src in sorted(self.spec.get("sources", {}).items()):
            rows.append(
                {
                    "step_idx": 0,
                    "relation": name,
                    "op": f"source:{src.get('format', '?')}",
                    "input_rel": None,
                    "right_rel": None,
                }
            )
        steps = self.spec.get("steps", [])
        for i, step in enumerate(steps, start=1):
            rows.append(
                {
                    "step_idx": i,
                    "relation": step["name"],
                    "op": "sql" if "sql" in step else step["op"],
                    "input_rel": step.get("input"),
                    "right_rel": step.get("args", {}).get("right"),
                }
            )
        for j, sink in enumerate(self.spec.get("sinks", []), start=1):
            rows.append(
                {
                    "step_idx": len(steps) + j,
                    "relation": f"sink:{sink.get('format', '?')}",
                    "op": "sink",
                    "input_rel": sink.get("input"),
                    "right_rel": None,
                }
            )
        return rows

    def _validate(self) -> None:
        known = set(self.spec.get("sources", {}))
        for i, step in enumerate(self.spec.get("steps", [])):
            if "name" not in step:
                raise ValueError(f"step {i} missing 'name'")
            if "sql" in step:
                pass  # SQL steps reference temp views, checked at run time
            elif "op" in step:
                if step["op"] not in OPS:
                    raise ValueError(
                        f"step {step['name']!r}: unknown op {step['op']!r}; "
                        f"known: {sorted(OPS)}"
                    )
                if step.get("input") not in known:
                    raise ValueError(
                        f"step {step['name']!r}: unknown input {step.get('input')!r}"
                    )
                right = step.get("args", {}).get("right")
                if right is not None and right not in known:
                    raise ValueError(f"step {step['name']!r}: unknown right {right!r}")
            else:
                raise ValueError(f"step {step['name']!r} needs 'sql' or 'op'")
            known.add(step["name"])
        for sink in self.spec.get("sinks", []):
            if sink.get("input") not in known:
                raise ValueError(f"sink references unknown relation {sink.get('input')!r}")
            if sink.get("validate") and sink.get("format") == "view":
                raise ValueError(
                    "view sinks run no action, so observe()-based sink "
                    "validation never fires — use a 'validate' step instead"
                )

    def _fused_validations(self) -> dict[str, list[dict[str, Any]]]:
        """``{step name: checks}`` for the validate steps that ride
        their sink's write (rules in ``_validate_step``)."""
        import re

        steps = self.spec.get("steps", [])
        sinks = self.spec.get("sinks", [])
        fused: dict[str, list[dict[str, Any]]] = {}
        for i, step in enumerate(steps):
            name = step["name"]
            checks = step.get("args", {}).get("checks", [])
            if (
                step.get("op") != "validate"
                or step.get("materialize")
                or any(c.get("type") == "unique" for c in checks)
            ):
                continue
            readers = [s for s in sinks if s.get("input") == name]
            if (
                len(readers) != 1
                or readers[0] is not sinks[0]
                or readers[0].get("format", "parquet") not in FILE_FORMATS
            ):
                continue
            word = re.compile(rf"\b{re.escape(name)}\b", re.IGNORECASE)
            if any(
                later.get("materialize")
                or name in (later.get("input"), later.get("args", {}).get("right"))
                or word.search(later.get("sql", ""))
                for later in steps[i + 1 :]
            ):
                continue
            fused[name] = checks
        return fused

    def run(self, spark: SparkSession) -> dict[str, DataFrame]:
        """Materialize sources, apply steps in order, run sinks.
        Returns every named relation (lazy DataFrames)."""
        fused = self._fused_validations()
        rel: dict[str, DataFrame] = {}
        for name, src in self.spec.get("sources", {}).items():
            df = read_source(spark, src)
            df.createOrReplaceTempView(name)
            rel[name] = df
        for step in self.spec.get("steps", []):
            if step["name"] in fused:
                out = rel[step["input"]]  # checked by its sink's write
            elif "sql" in step:
                out = spark.sql(step["sql"])
            else:
                args = dict(step.get("args", {}))
                if "right" in args:
                    args["right"] = rel[args["right"]]
                out = OPS[step["op"]](rel[step["input"]], **args)
            mat = step.get("materialize")
            if mat:
                # checkpoint the step to parquet and re-read: cuts the
                # lineage (a later step failure resumes from here, and a
                # reused intermediate is computed once, not per consumer)
                out.write.mode("overwrite").parquet(mat)
                out = spark.read.parquet(mat)
            out.createOrReplaceTempView(step["name"])
            rel[step["name"]] = out
        for sink in self.spec.get("sinks", []):
            # Checks ride the write itself (df.observe), so a 100 TB
            # load is validated without a second pass over the data.
            gates = []
            if sink["input"] in fused:
                gates.append(_gate(fused[sink["input"]]))
            if sink.get("validate"):
                gates.append(_gate(sink["validate"], f"sink {sink['input']!r}: "))
            write_sink(
                rel[sink["input"]],
                {k: v for k, v in sink.items() if k not in ("input", "validate")},
                gates,
            )
        return rel


def substitute_params(spec: Any, params: dict[str, Any]) -> Any:
    """Resolve ``${params.<name>}`` placeholders anywhere in a spec —
    the standard config-ETL idiom for dates, paths, and thresholds
    (a feed definition templated per run). A placeholder that IS the
    whole string keeps the parameter's native type (ints/floats stay
    numbers); embedded placeholders stringify. Unknown names fail
    loudly at compile time, not as NULLs at 2 a.m."""
    import re

    pat = re.compile(r"\$\{params\.([A-Za-z_][A-Za-z_0-9]*)\}")

    def resolve(v: Any) -> Any:
        if isinstance(v, str):
            whole = pat.fullmatch(v.strip())
            if whole:
                name = whole.group(1)
                if name not in params:
                    raise ValueError(f"unknown pipeline parameter: {name!r}")
                return params[name]

            def repl(m: "re.Match[str]") -> str:
                name = m.group(1)
                if name not in params:
                    raise ValueError(f"unknown pipeline parameter: {name!r}")
                return str(params[name])

            return pat.sub(repl, v)
        if isinstance(v, dict):
            return {k: resolve(x) for k, x in v.items()}
        if isinstance(v, list):
            return [resolve(x) for x in v]
        return v

    return resolve(spec)


def run_pipeline(
    spark: SparkSession,
    spec: dict[str, Any],
    params: dict[str, Any] | None = None,
) -> dict[str, DataFrame]:
    if params is None:
        params = spec.get("params", {})
    else:
        params = {**spec.get("params", {}), **params}
    if params:
        body = {k: v for k, v in spec.items() if k != "params"}
        spec = substitute_params(body, params)
    return Pipeline(spec).run(spark)


def _xml_scalar(s: str | None) -> Any:
    """Coerce an XML attribute/text scalar the way YAML would:
    int, float, bool, null — anything else stays a string (so SQL
    expression strings like 'revenue >= 0' pass through untouched)."""
    if s is None:
        return None
    t = s.strip()
    low = t.lower()
    if low in ("true", "false"):
        return low == "true"
    if low in ("null", "~", ""):
        return None if low != "" else t
    try:
        return int(t)
    except ValueError:
        pass
    try:
        return float(t)
    except ValueError:
        pass
    return t


def _xml_value(el: Any) -> Any:
    """Generic XML element -> spec value. Rules (mirroring how the
    reference family's XML feed definitions nest): a leaf with only
    text is a coerced scalar; attributes become dict keys; children
    all tagged <item> become a list; repeated same-tag children
    become a list under that tag; single children become nested
    keys. Multi-line text (e.g. <sql>) keeps its whitespace."""
    children = list(el)
    if not children:
        if el.attrib:
            d: dict[str, Any] = {k: _xml_scalar(v) for k, v in el.attrib.items()}
            if el.text and el.text.strip():
                d["value"] = _xml_scalar(el.text)
            return d
        return _xml_scalar(el.text) if el.text is not None else None
    if all(c.tag == "item" for c in children):
        return [_xml_value(c) for c in children]
    d = {k: _xml_scalar(v) for k, v in el.attrib.items()}
    tags = [c.tag for c in children]
    for tag in dict.fromkeys(tags):  # first-seen order
        same = [c for c in children if c.tag == tag]
        d[tag] = [_xml_value(c) for c in same] if len(same) > 1 else _xml_value(same[0])
    return d


def _xml_to_spec(text: str, path: str) -> dict[str, Any]:
    """Parse an XML job definition into the canonical dict spec —
    the reference family declares feeds/jobs in XML; this is the
    migration surface for those configs. Schema:

        <job>
          <params><param name="k">v</param>...</params>
          <sources><source name="n" format="parquet" path="..."/></sources>
          <steps>
            <step name="n" input="prev" op="filter">
              <args><condition>expr</condition></args>
            </step>
            <step name="n"><sql>SELECT ...</sql></step>
          </steps>
          <sinks><sink input="n" format="view" name="out"/></sinks>
        </job>

    List-valued args use <item> children; dict-valued args use nested
    tags. Attribute and text scalars are YAML-coerced (ints, floats,
    bools), so <check type="row_count" min="1"/> arrives typed."""
    import xml.etree.ElementTree as ET

    try:
        root = ET.fromstring(text)
    except ET.ParseError as e:
        raise ValueError(f"{path}: invalid XML job spec: {e}") from e
    if root.tag != "job":
        raise ValueError(f"{path}: XML job spec root must be <job>, got <{root.tag}>")

    spec: dict[str, Any] = {}
    params_el = root.find("params")
    if params_el is not None:
        spec["params"] = {
            p.attrib["name"]: _xml_scalar(p.text) for p in params_el.findall("param")
        }
    sources_el = root.find("sources")
    if sources_el is not None:
        sources: dict[str, Any] = {}
        for src in sources_el.findall("source"):
            v = _xml_value(src)
            if not isinstance(v, dict) or "name" not in v:
                raise ValueError(f"{path}: <source> requires a name attribute")
            sources[v.pop("name")] = v
        spec["sources"] = sources
    steps_el = root.find("steps")
    if steps_el is not None:
        steps: list[dict[str, Any]] = []
        for st in steps_el.findall("step"):
            step: dict[str, Any] = {k: _xml_scalar(v) for k, v in st.attrib.items()}
            sql_el = st.find("sql")
            if sql_el is not None and sql_el.text:
                step["sql"] = sql_el.text.strip()
            args_el = st.find("args")
            if args_el is not None:
                step["args"] = {c.tag: _xml_value(c) for c in args_el}
            steps.append(step)
        spec["steps"] = steps
    sinks_el = root.find("sinks")
    if sinks_el is not None:
        spec["sinks"] = [_xml_value(s) for s in sinks_el.findall("sink")]
    return spec


def load_spec(path: str) -> dict[str, Any]:
    """Load a job spec from a JSON, YAML, or XML config file — the
    reference family's surface: ETL jobs are declared in config files
    (XML feed/job definitions natively; JSON/YAML as modern twins).
    YAML requires pyyaml (present in this environment; JSON and XML
    always work — stdlib only)."""
    import json

    with open(path) as f:
        text = f.read()
    if path.endswith((".yml", ".yaml")):
        try:
            import yaml
        except ImportError as e:  # pragma: no cover - pyyaml is installed here
            raise ValueError(f"{path}: YAML specs require pyyaml") from e
        spec = yaml.safe_load(text)
    elif path.endswith(".xml"):
        spec = _xml_to_spec(text, path)
    else:
        spec = json.loads(text)
    if not isinstance(spec, dict):
        raise ValueError(f"{path}: job spec must be a mapping, got {type(spec)}")
    return spec


def run_pipeline_file(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """Compile and run a config-file job end-to-end (E1)."""
    return run_pipeline(spark, load_spec(path))
