"""Driver simulation (verify recipe step 2): the REAL judged surface
is a bare SparkSession the driver owns — no shuffle-partition tuning,
possibly a non-UTC timezone, no nanosAsLong conf — passed into
`entry()` and every `queries()` callable. tools/check.py's tuned
session can mask conf bugs; this script can't.

Usage: python tools/driver_sim.py [--sf /root/testdata/sf0.001]
                                  [--oracle-keys k1,k2] [--all-counts]
Exit code 0 = everything ran (and compared where asked).
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

# the checkout this tool sits in, so it checks its own package
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# events-backed keys exercise the ns-timestamp path; the rest of the
# defaults cover each query-family module once.
DEFAULT_ORACLE_KEYS = [
    "agg_groupby",
    "stream_tumbling",
    "stream_session",
    "fn_json",
    "join_asof",
    "llm_text_stats",
    "train_split",
    "cte_recursive",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--oracle-keys", default=",".join(DEFAULT_ORACLE_KEYS))
    ap.add_argument(
        "--all-counts",
        action="store_true",
        help="also .count() every registered query on the bare session "
        "(slower; catches any key that needs more than the session prep "
        "registry.query runs)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # bare: the ONLY conf the driver guarantees is a working session
    spark = SparkSession.builder.master("local[8]").getOrCreate()

    import __spark_entry__ as ent
    from tools.check import compare, duck_connect

    n = len(ent.entry(spark).collect())
    assert n > 0, "entry() returned no rows"
    print(f"entry: {n} rows")

    qs, oracles = ent.queries(), ent.oracle_sql()
    duck = duck_connect(args.sf)
    failures: list[str] = []

    for key in [k for k in args.oracle_keys.split(",") if k]:
        try:
            spark_pdf = qs[key](spark, args.sf).toPandas()
            if key in oracles:
                res = compare(key, spark_pdf, duck.execute(oracles[key]).df())
                ok = res["status"] == "OK"
            else:
                ok = True
            print(f"{'PASS' if ok else 'FAIL'} {key}")
            if not ok:
                failures.append(key)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {key}: {e}")
            failures.append(key)

    if args.all_counts:
        for key in sorted(qs):
            try:
                qs[key](spark, args.sf).count()
            except Exception as e:  # noqa: BLE001
                print(f"FAIL count {key}: {e}")
                failures.append(key)
        print(f"all-counts: {len(qs)} keys executed")

    print("driver-sim:", "FAIL " + ",".join(failures) if failures else "OK")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
