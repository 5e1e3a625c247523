"""Snapshot every contract query's formatted physical plan to
artifacts/plans/<key>.txt (SURVEY.md §3.3) for optimizer-behavior
review and regression diffing.

Usage: python tools/capture_plans.py [--sf /root/testdata/sf0.01]
       python tools/capture_plans.py --verify   # re-capture to a temp
           dir and diff against the committed goldens; exit 1 on any
           structural plan change (run per-round alongside check.py)
"""

from __future__ import annotations

import argparse
import filecmp
import os
import sys
import tempfile
from pathlib import Path

# the checkout this tool sits in, so it captures its own package
ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=str(ROOT / "artifacts" / "plans"))
    ap.add_argument("--only", default=None, help="comma-separated keys")
    ap.add_argument("--verify", action="store_true")
    args = ap.parse_args()

    from etl_framework_spark.session import get_spark
    from etl_framework_spark.plans import capture_plans
    import __spark_entry__ as ent

    spark = get_spark("capture-plans")
    qs = ent.queries()
    if args.only:
        keys = args.only.split(",")
        qs = {k: qs[k] for k in keys}

    if not args.verify:
        written = capture_plans(qs, spark, args.sf, args.out)
        print(f"wrote {len(written)} plans to {args.out}")
        return 0

    with tempfile.TemporaryDirectory() as tmp:
        capture_plans(qs, spark, args.sf, tmp)
        changed, missing = [], []
        for key in qs:
            golden = os.path.join(args.out, f"{key}.txt")
            fresh = os.path.join(tmp, f"{key}.txt")
            if not os.path.exists(golden):
                missing.append(key)
            elif not filecmp.cmp(golden, fresh, shallow=False):
                changed.append(key)
        for key in changed:
            print(f"PLAN CHANGED: {key}  (diff artifacts/plans/{key}.txt "
                  f"vs fresh capture; re-run without --verify to accept)")
            # show the drift inline — a mismatch a fresh solo capture
            # cannot reproduce is otherwise undiagnosable (the tempdir
            # holding the fresh plan is gone when this function returns)
            with open(os.path.join(args.out, f"{key}.txt")) as fg:
                g_lines = fg.read().splitlines()
            with open(os.path.join(tmp, f"{key}.txt")) as ff:
                f_lines = ff.read().splitlines()
            import difflib

            for line in difflib.unified_diff(
                g_lines, f_lines, "golden", "fresh", lineterm="", n=1
            ):
                print(f"    {line}")
        for key in missing:
            print(f"NO GOLDEN: {key}")
        print(f"{len(qs) - len(changed) - len(missing)}/{len(qs)} plans match")
        return 1 if (changed or missing) else 0


if __name__ == "__main__":
    raise SystemExit(main())
