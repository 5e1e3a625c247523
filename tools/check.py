"""Local replica of the driver's correctness gate (SURVEY.md §5.2 t2).

Runs every registered query on Spark and its oracle on DuckDB over the
same parquet, then compares row count, column names, and an
order-insensitive canonical value multiset. Stricter than the driver
(exact value equality after canonicalization) so passing here should
imply passing the driver's hash check.

Usage:
    python tools/check.py [--sf /root/testdata/sf0.01] [--only key1,key2]
"""

from __future__ import annotations

import argparse
import json
import math
import sys
import time
import traceback
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

# the checkout this tool sits in, so it checks its own package
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _canon_val(v):
    """Canonicalize one value to a stable, hashable, engine-neutral form."""
    if v is None:
        return None
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        return f
    if isinstance(v, (np.integer, int)):
        return int(v)
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (np.datetime64, pd.Timestamp)):
        ts = pd.Timestamp(v)
        if ts is pd.NaT:
            return None
        return int(ts.value)  # ns since epoch
    if isinstance(v, datetime):
        return int(pd.Timestamp(v).value)
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon_val(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon_val(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    return v


def canon_rows(pdf: pd.DataFrame) -> list[str]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = []
    for tup in pdf.itertuples(index=False, name=None):
        rows.append(json.dumps([_canon_val(v) for v in tup], default=str))
    rows.sort()
    return rows


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def compare(key: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> dict:
    out = {"key": key, "spark_rows": len(spark_pdf), "oracle_rows": len(duck_pdf)}
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        out["status"] = "SCHEMA_MISMATCH"
        out["spark_cols"], out["oracle_cols"] = sc, dc
        return out
    if len(spark_pdf) != len(duck_pdf):
        out["status"] = "ROWCOUNT_MISMATCH"
        return out
    srows, drows = canon_rows(spark_pdf), canon_rows(duck_pdf)
    if srows == drows:
        out["status"] = "OK"
        return out
    out["status"] = "VALUE_MISMATCH"
    sset, dset = set(srows), set(drows)
    only_s = [r for r in srows if r not in dset][:3]
    only_d = [r for r in drows if r not in sset][:3]
    out["spark_only_sample"] = only_s
    out["oracle_only_sample"] = only_d
    out["n_diff"] = sum(1 for r in srows if r not in dset)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    from etl_framework_spark.session import get_spark
    import __spark_entry__ as ent

    spark = get_spark("oracle-check")
    qs, oracles = ent.queries(), ent.oracle_sql()
    keys = args.only.split(",") if args.only else list(qs)

    con = duck_connect(args.sf)
    results, failed = [], []
    for key in keys:
        t0 = time.time()
        try:
            sdf = qs[key](spark, args.sf)
            spark_pdf = sdf.toPandas()
            if key in oracles:
                duck_pdf = con.execute(oracles[key]).df()
                res = compare(key, spark_pdf, duck_pdf)
            else:
                res = {"key": key, "spark_rows": len(spark_pdf), "status": "ROWS_ONLY"}
        except Exception as e:  # noqa: BLE001
            res = {"key": key, "status": "ERROR", "error": f"{type(e).__name__}: {e}",
                   "trace": traceback.format_exc()[-2000:]}
        res["sec"] = round(time.time() - t0, 2)
        results.append(res)
        ok = res["status"] in ("OK", "ROWS_ONLY")
        if not ok:
            failed.append(key)
        print(f"{'PASS' if ok else 'FAIL':4} {res['status']:17} {key:28} "
              f"rows={res.get('spark_rows','?'):>7} {res['sec']:6.2f}s", flush=True)
        if not ok:
            for k in ("spark_cols", "oracle_cols", "spark_only_sample",
                      "oracle_only_sample", "n_diff", "error"):
                if k in res:
                    print(f"       {k}: {res[k]}")
    n_ok = sum(1 for r in results if r["status"] in ("OK", "ROWS_ONLY"))
    print(f"\n{n_ok}/{len(results)} pass; failing: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
