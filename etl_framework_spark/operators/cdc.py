"""CDC / slowly-changing-dimension operators (ETL-framework surface;
pyspark_guide 'CDC / SCD2': no MERGE INTO without Delta, so emulate
with joins + interval bookkeeping — all hash-partitioned DataFrame
ops, no driver loops). An upsert is an anti-join + union; an SCD2
batch is one full outer join whose rows explode into the kept, closed
and opened versions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def merge_upsert(target: DataFrame, source: DataFrame, key: str) -> DataFrame:
    """Upsert: source rows replace target rows on `key`; unmatched
    target rows survive. (The batch emulation of MERGE INTO ...
    WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT.)"""
    keep = target.join(source.select(key), on=key, how="left_anti")
    return keep.unionByName(source)


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key: str,
    tracked: list[str],
    ts: Column,
    eff_from: str = "eff_from",
    eff_to: str = "eff_to",
) -> DataFrame:
    """Apply one batch of updates to an SCD2 dimension.

    dim: (key, tracked..., eff_from, eff_to) with eff_to NULL marking
    the current row per key. updates: (key, tracked...), at most one
    row per key (duplicate keys would open one current row each).
    Rows whose tracked attributes changed (or whose key is new) close
    the current row at `ts` and open a new row [ts, NULL); identical
    updates are no-ops. History rows pass through untouched.

    One full outer join of all of `dim` with `updates` on the key and
    `eff_to IS NULL`, so each joined row holds at most one dim row and
    one update; `explode` then emits the dim row (closed at `ts` when
    changed) and the opened row. Each batch reads `dim` once, so a
    chain of N batches plans N joins. Output columns follow
    `dim.columns`; the eff_* types are kept.
    """
    extra = set(dim.columns) - {key, *tracked, eff_from, eff_to}
    if extra:
        raise ValueError(f"scd2_apply: dim columns {sorted(extra)} are not key, tracked or eff_*")
    types = dict(dim.dtypes)
    joined = dim.withColumn("__scd2_dim", F.lit(True)).alias("d").join(
        updates.withColumn("__scd2_upd", F.lit(True)).alias("u"),
        (F.col(f"d.{key}") == F.col(f"u.{key}")) & F.col(f"d.{eff_to}").isNull(),
        "full_outer",
    )
    has_dim = F.col("d.__scd2_dim").isNotNull()
    differs = ~has_dim
    for c in tracked:
        differs = differs | ~F.col(f"d.{c}").eqNullSafe(F.col(f"u.{c}"))
    changed = F.col("u.__scd2_upd").isNotNull() & differs

    kept = {c: F.col(f"d.{c}") for c in dim.columns}
    kept[eff_to] = F.when(changed, ts.cast(types[eff_to])).otherwise(kept[eff_to])
    opened = {c: F.col(f"u.{c}") for c in [key, *tracked]}
    opened[eff_from] = ts.cast(types[eff_from])
    opened[eff_to] = F.lit(None).cast(types[eff_to])

    def row(cols: dict[str, Column]) -> Column:
        return F.struct(*[cols[c].alias(c) for c in dim.columns])

    versions = F.array(F.when(has_dim, row(kept)), F.when(changed, row(opened)))
    return joined.select(F.explode(F.array_compact(versions)).alias("v")).select("v.*")
