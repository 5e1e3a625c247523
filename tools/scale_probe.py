"""Scale probe (VERDICT r6 item 5 / r7 items 1+4): measure — don't
argue — how the slow-tail keys grow with data size.

Builds a one-off ~Nx inflated corpus from the base SF (disjoint-replica
construction: every fact table is replicated with key offsets so each
replica is an internally-identical, mutually-disjoint copy — the
honest analog of TPC-H scaling, where entity counts grow and densities
stay flat), runs each probed key once at base and once at Nx, and
records the measured scaling exponent log(T_N/T_1)/log(N) to
artifacts/scale_probe.json. Exponent ≈ 1 → linear; ≫ 1 → the key has
a super-linear stage and its SCALE.md rationale is wrong.

Construction details (all deterministic, no RNG):
- lineitem/orders/customer/part/supplier: keys offset by
  k * (max_key + 1) per replica k, consistently across tables so FK
  joins stay intact within a replica. nation/region untouched (FKs to
  them are preserved verbatim).
- events: event_id and user_id offset per replica (user_id stays
  inside the customer key range).
- documents: doc_id offset; text passed through a per-replica
  character substitution (translate over 3x5 letters → 125 distinct
  alphabets, enough for factor ≤ 125) that preserves token boundaries,
  lengths, and the *internal* dup/near-dup structure of each replica
  while keeping replicas mutually non-duplicate — so dedup keys see
  the same dup RATE at Nx, not an inflated one.
- embeddings: vec_id offset; each element shifted by k*1e-3 so twin
  vectors across replicas don't collapse distance structure.
  Replica 0 is the identity map, so base-corpus vec_ids/doc_ids exist
  verbatim at every factor — that is what lets the fixed-Q mode pin
  one physical query set across scales.

Modes:
    python tools/scale_probe.py [--factor 10] [--keys k1,k2,...]
        End-to-end exponents (contract semantics, Q∝N for the sim
        keys). Results land in runs["x{factor}"].
    python tools/scale_probe.py --fixed-queries [--factor 10]
        Per-query marginal cost for the similarity keys: times each
        key with PINNED query sets of size q1=100 and q2=1000 at both
        scales (same physical vectors — replica 0), then reports
        marginal = (T(q2)-T(q1))/(q2-q1) and its scaling exponent.
        This separates the Q∝N contract artifact from per-query cost
        (VERDICT r7 item 1). Results land in runs["fixed_q_x{factor}"].
    Use --factor 30 --keys graph_... for the wide-range graph probe
    (VERDICT r7 item 4) — 30x gives a range where overhead cannot
    masquerade as sub-linearity.

Timings contaminate: run nothing else on the machine during a probe.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_BASE = os.environ.get(
    "SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.1"
)
OUT_JSON = os.path.join(REPO, "artifacts", "scale_probe.json")
DATA_ROOT = os.path.join(REPO, "artifacts", "scale_probe_data")

# The >3s tail from artifacts/bench_all.json plus the dedup/ANN
# flagships the verdict calls out. Every key here reads only tables
# the inflation covers.
DEFAULT_KEYS = [
    "graph_kcore_peel",
    "ts_resample_interp",
    "graph_khop_reach",
    "graph_assortativity",
    "fn_math2",
    "profile_lineitem",
    "llm_greedy_coverage",
    "llm_dedup_editdist",
    "llm_sim_ivf",
    "llm_dedup_cc",
    "llm_dedup_exact",
    "llm_dedup_minhash",
    "llm_dedup_jaccard",
    "llm_dedup_jaccard_prefix",
    "llm_dedup_simhash",
    "llm_dedup_simhash_banded",
    "llm_sim_topk",
    "llm_text_stats",
    "vec_hubness",
    "vec_two_nn_dim",
]

# Fixed-Q mode: key -> parameterized impl taking (spark, sf_dir, pred)
FIXED_Q_KEYS = [
    "llm_sim_topk",
    "llm_sim_topk_gemm",
    "llm_sim_ann",
    "llm_sim_ivf",
    "llm_sim_sq8",
]
# Pinned query-set sizes: vec_id < q, so both sets are replica-0
# vectors present verbatim at every factor. The delta (900 queries)
# is sized so the marginal signal clears scheduler noise even on the
# build-dominated keys (q2-q1 ~ 40 was measurably noise-dominated at
# base scale: a 42 ms difference on a 1.8 s IVF run).
FIXED_Q_SIZES = (100, 1000)

_VOWELS = "aeiou"
_CONS = "bcdfg"
_CONS2 = "hjklm"


def _alphabet(k: int) -> tuple[str, str]:
    """Per-replica character substitution: rotate vowels by k%5, one
    consonant block by k//5%5 and a second by k//25%5 — 125 distinct,
    length-preserving maps; k=0 is the identity."""
    r1, r2, r3 = k % 5, k // 5 % 5, k // 25 % 5
    return (
        _VOWELS + _CONS + _CONS2,
        _VOWELS[r1:] + _VOWELS[:r1]
        + _CONS[r2:] + _CONS[:r2]
        + _CONS2[r3:] + _CONS2[:r3],
    )


def build_inflated(base: str, factor: int, rebuild: bool = False) -> str:
    import duckdb

    out_dir = f"{DATA_ROOT}/x{factor}"
    marker = f"{out_dir}/.complete"
    if os.path.exists(marker) and not rebuild:
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    con = duckdb.connect()
    mx = {}
    for t, key in [
        ("orders", "o_orderkey"), ("customer", "c_custkey"),
        ("part", "p_partkey"), ("supplier", "s_suppkey"),
        ("events", "event_id"), ("documents", "doc_id"),
        ("embeddings", "vec_id"),
    ]:
        mx[t] = con.execute(
            f"SELECT max({key}) + 1 FROM read_parquet('{base}/{t}.parquet')"
        ).fetchone()[0]
    mx["user"] = con.execute(
        f"SELECT max(user_id) + 1 FROM read_parquet('{base}/events.parquet')"
    ).fetchone()[0]

    def emit(table: str, select_for_k) -> None:
        parts = [select_for_k(k) for k in range(factor)]
        sql = " UNION ALL ".join(parts)
        con.execute(
            f"COPY ({sql}) TO '{out_dir}/{table}.parquet' (FORMAT PARQUET)"
        )
        print(f"  built {table}.parquet x{factor}", flush=True)

    src = lambda t: f"read_parquet('{base}/{t}.parquet')"

    emit("lineitem", lambda k: f"""
        SELECT l_orderkey + {k * mx['orders']} AS l_orderkey,
               l_partkey + {k * mx['part']} AS l_partkey,
               l_suppkey + {k * mx['supplier']} AS l_suppkey,
               l_linenumber, l_quantity, l_extendedprice, l_discount,
               l_tax, l_returnflag, l_linestatus, l_shipdate
        FROM {src('lineitem')}""")
    emit("orders", lambda k: f"""
        SELECT o_orderkey + {k * mx['orders']} AS o_orderkey,
               o_custkey + {k * mx['customer']} AS o_custkey,
               * EXCLUDE (o_orderkey, o_custkey)
        FROM {src('orders')}""")
    emit("customer", lambda k: f"""
        SELECT c_custkey + {k * mx['customer']} AS c_custkey,
               * EXCLUDE (c_custkey)
        FROM {src('customer')}""")
    emit("part", lambda k: f"""
        SELECT p_partkey + {k * mx['part']} AS p_partkey,
               * EXCLUDE (p_partkey)
        FROM {src('part')}""")
    emit("supplier", lambda k: f"""
        SELECT s_suppkey + {k * mx['supplier']} AS s_suppkey,
               * EXCLUDE (s_suppkey)
        FROM {src('supplier')}""")
    emit("events", lambda k: f"""
        SELECT event_id + {k * mx['events']} AS event_id, ts,
               user_id + {k * mx['user']} AS user_id,
               event_type, value, props
        FROM {src('events')}""")

    def doc_sel(k: int) -> str:
        a, b = _alphabet(k)
        return f"""
        SELECT doc_id + {k * mx['documents']} AS doc_id,
               translate(text, '{a}', '{b}') AS text,
               lang, source, n_chars
        FROM {src('documents')}"""

    emit("documents", doc_sel)
    emit("embeddings", lambda k: f"""
        SELECT vec_id + {k * mx['embeddings']} AS vec_id,
               CAST(list_transform(embedding, x -> x + {k} * 1e-3)
                    AS FLOAT[]) AS embedding,
               label
        FROM {src('embeddings')}""")

    for t in ("region", "nation"):
        shutil.copy(f"{base}/{t}.parquet", f"{out_dir}/{t}.parquet")
    con.close()
    open(marker, "w").write("ok\n")
    return out_dir


def _write(
    base: str,
    run_name: str,
    results: dict,
    note: str,
    calibration: dict | None = None,
) -> None:
    """Merge this run's rows into runs[run_name], preserving every
    other run (so an x30 graph probe doesn't clobber the x10 table,
    and a --keys re-probe of one key updates its row only)."""
    out: dict = {"base": base, "runs": {}}
    if os.path.exists(OUT_JSON):
        try:
            prior = json.load(open(OUT_JSON))
            if "runs" in prior:
                out["runs"] = prior["runs"]
            elif "keys" in prior:  # migrate the pre-r8 single-run layout
                out["runs"][f"x{prior.get('factor', 10)}"] = {
                    "note": prior.get("note", ""),
                    "keys": prior["keys"],
                }
        except Exception:
            pass
    run = out["runs"].setdefault(run_name, {"note": note, "keys": {}})
    run["note"] = note
    if calibration is not None:
        # machine-state denominator (VERDICT r9 item 7): same
        # micro-workload bench.py times; lets an exponent refresh
        # separate machine drift from growth (the r9 editdist A/B hit
        # a 25-45 s identical-plan spread that this would have caught)
        run["calibration"] = calibration
    run["keys"].update(results)
    os.makedirs(os.path.dirname(OUT_JSON), exist_ok=True)
    with open(OUT_JSON, "w") as f:
        json.dump(out, f, indent=1)


def _calibrate(spark) -> float:
    """bench.py's fixed machine-state micro-workload, median of 3
    after a warmup."""
    from bench import cal_run

    cal_run(spark)
    return round(sorted(cal_run(spark) for _ in range(3))[1], 3)


def _release_persistent_rdds(spark) -> None:
    """clearCache() drops DataFrame-cached blocks but NOT RDDs pinned
    by localCheckpoint (graph keys) — without this, a 20-key probe
    accumulates checkpointed blocks in executor memory and depresses
    later keys' timings (ADVICE r7). Delegates to the shared
    cacheutil.release_all so tracked persists drain too (ADVICE r10)."""
    from etl_framework_spark import cacheutil

    cacheutil.release_all(spark)


def _timed(spark, fn, sf: str, reps: int = 3, agg: str = "median") -> float:
    noop = lambda df: df.write.format("noop").mode("overwrite").save()
    ts = []
    for _ in range(reps):
        t0 = time.time()
        noop(fn(spark, sf))
        ts.append(time.time() - t0)
    ts.sort()
    # min = noise floor (used where a small DIFFERENCE of timings is
    # the signal); median = robust central value for end-to-end rows
    return ts[0] if agg == "min" else ts[len(ts) // 2]


EDITDIST_PROBE_CAP = 32  # per-(lang,source,slot,segment) bucket cap


def probe_end_to_end(spark, qs, keys, base, big_dir, factor) -> dict:
    results: dict[str, dict] = {}
    warm_sf = os.path.join(os.path.dirname(base.rstrip("/")), "sf0.01")
    cal = {"start": _calibrate(spark)}
    for key in keys:
        fn = qs[key]
        # isolate keys from each other: cached/checkpointed blocks from
        # the previous key otherwise skew single-run timings badly
        _release_persistent_rdds(spark)
        if os.path.isdir(warm_sf):
            _timed(spark, fn, warm_sf, reps=1)  # warm codegen/JIT
        t_base = _timed(spark, fn, base)
        t_big = _timed(spark, fn, big_dir)
        exp = math.log(max(t_big, 1e-3) / max(t_base, 1e-3)) / math.log(factor)
        results[key] = {
            "t_base_sec": round(t_base, 3),
            f"t_x{factor}_sec": round(t_big, 3),
            "exponent": round(exp, 3),
        }
        print(
            f"  {key:28s} {t_base:7.2f}s -> {t_big:7.2f}s  exp={exp:5.2f}",
            flush=True,
        )
        if key == "llm_dedup_editdist":
            # VERDICT r8 item 6: measure the candidate-volume growth
            # behind the residual exponent instead of guessing it
            from etl_framework_spark.queries.dedup_editdist import (
                editdist_bucket_stats,
                editdist_candidates,
                llm_dedup_editdist_capped,
            )

            def _cand_counts(sf: str, cap=None) -> dict:
                cl, cs, pr = editdist_candidates(spark, sf, bucket_cap=cap)
                return {
                    "segment_join": cl.count(),
                    "short_sliver": cs.count(),
                    "post_prune": pr.count(),
                }

            cb = _cand_counts(base)
            cx = _cand_counts(big_dir)
            cexp = math.log(
                max(cx["segment_join"], 1) / max(cb["segment_join"], 1)
            ) / math.log(factor)
            results[key]["candidates_base"] = cb
            results[key][f"candidates_x{factor}"] = cx
            results[key]["segment_candidates_exponent"] = round(cexp, 3)
            print(
                f"    editdist candidates: seg {cb['segment_join']} -> "
                f"{cx['segment_join']} (exp={cexp:.2f}), post-prune "
                f"{cb['post_prune']} -> {cx['post_prune']}",
                flush=True,
            )
            # VERDICT r9 item 5: the bounded-contract regime, measured.
            # Capped candidate volume + exponent, loud overflow
            # accounting at both scales, capped wall exponent, and the
            # kept-pair ratio vs the exact key (recall loss as a
            # number, not a guess).
            cap = EDITDIST_PROBE_CAP
            ccb = _cand_counts(base, cap=cap)
            ccx = _cand_counts(big_dir, cap=cap)
            ccexp = math.log(
                max(ccx["segment_join"], 1) / max(ccb["segment_join"], 1)
            ) / math.log(factor)
            stats = {
                sf_name: editdist_bucket_stats(spark, sf, cap)
                .collect()[0]  # single summary row by construction
                .asDict()
                for sf_name, sf in (("base", base), (f"x{factor}", big_dir))
            }
            capped_fn = lambda s, sf: llm_dedup_editdist_capped(s, sf, cap)
            t_cap_base = _timed(spark, capped_fn, base)
            t_cap_big = _timed(spark, capped_fn, big_dir)
            pairs_exact = qs[key](spark, big_dir).count()
            pairs_capped = llm_dedup_editdist_capped(
                spark, big_dir, cap
            ).count()
            results[key]["bucket_cap"] = {
                "cap": cap,
                "candidates_base": ccb,
                f"candidates_x{factor}": ccx,
                "segment_candidates_exponent": round(ccexp, 3),
                "overflow": stats,
                "t_base_sec": round(t_cap_base, 3),
                f"t_x{factor}_sec": round(t_cap_big, 3),
                "wall_exponent": round(
                    math.log(max(t_cap_big, 1e-3) / max(t_cap_base, 1e-3))
                    / math.log(factor),
                    3,
                ),
                f"pairs_exact_x{factor}": pairs_exact,
                f"pairs_capped_x{factor}": pairs_capped,
                "kept_pair_ratio": round(
                    pairs_capped / max(pairs_exact, 1), 4
                ),
            }
            print(
                f"    capped(cap={cap}): seg {ccb['segment_join']} -> "
                f"{ccx['segment_join']} (exp={ccexp:.2f}), dropped "
                f"{stats[f'x{factor}']['entries_dropped']} idx entries in "
                f"{stats[f'x{factor}']['n_buckets_over_cap']} buckets, "
                f"kept-pair ratio {pairs_capped}/{pairs_exact}",
                flush=True,
            )
        _write(
            base,
            f"x{factor}",
            results,
            "exponent = log(T_N/T_1)/log(N); median of 3 timed runs per "
            "scale after an sf0.01 warmup, cache cleared between keys; "
            "disjoint-replica corpus (see module docstring)",
            calibration=cal,
        )
    cal["end"] = _calibrate(spark)
    _write(
        base,
        f"x{factor}",
        results,
        "exponent = log(T_N/T_1)/log(N); median of 3 timed runs per "
        "scale after an sf0.01 warmup, cache cleared between keys; "
        "disjoint-replica corpus (see module docstring)",
        calibration=cal,
    )
    return results


def probe_fixed_q(spark, keys, base, big_dir, factor) -> dict:
    """Pin the PHYSICAL query set (replica-0 vec_ids) at two sizes and
    both scales; the per-query marginal cost (T(q2)-T(q1))/(q2-q1) and
    its exponent across scales is the measured per-query scaling —
    build/assignment stages cancel out of the difference."""
    from pyspark.sql import functions as F

    from etl_framework_spark.queries import corpus as corpus_q
    from etl_framework_spark.queries import vector_q

    cal = {"start": _calibrate(spark)}

    impls = {
        "llm_sim_topk": vector_q.exact_topk,
        "llm_sim_topk_gemm": vector_q.gemm_topk,
        "llm_sim_ann": vector_q.ann_topk,
        "llm_sim_ivf": corpus_q.ivf_topk,
        "llm_sim_sq8": vector_q.sq8_topk,
    }
    q1, q2 = FIXED_Q_SIZES
    results: dict[str, dict] = {}
    for key in keys:
        impl = impls[key]
        _release_persistent_rdds(spark)

        def with_q(nq):
            pred = F.col("vec_id") < nq  # replica-0 rows at every scale
            return lambda s, sf: impl(s, sf, query_pred=pred)

        _timed(spark, with_q(q1), base, reps=1)  # warm codegen/JIT
        tb1 = _timed(spark, with_q(q1), base, agg="min")
        tb2 = _timed(spark, with_q(q2), base, agg="min")
        tB1 = _timed(spark, with_q(q1), big_dir, agg="min")
        tB2 = _timed(spark, with_q(q2), big_dir, agg="min")
        marg_base = max((tb2 - tb1) / (q2 - q1), 1e-6)
        marg_big = max((tB2 - tB1) / (q2 - q1), 1e-6)
        exp_pq = math.log(marg_big / marg_base) / math.log(factor)
        exp_e2e = math.log(max(tB2, 1e-3) / max(tb2, 1e-3)) / math.log(factor)
        results[key] = {
            f"t_base_q{q1}_sec": round(tb1, 3),
            f"t_base_q{q2}_sec": round(tb2, 3),
            f"t_x{factor}_q{q1}_sec": round(tB1, 3),
            f"t_x{factor}_q{q2}_sec": round(tB2, 3),
            "marginal_ms_per_query_base": round(marg_base * 1e3, 3),
            f"marginal_ms_per_query_x{factor}": round(marg_big * 1e3, 3),
            "per_query_exponent": round(exp_pq, 3),
            f"fixed_q{q2}_e2e_exponent": round(exp_e2e, 3),
        }
        print(
            f"  {key:20s} marg {marg_base*1e3:7.2f} -> {marg_big*1e3:7.2f} "
            f"ms/q  per-query exp={exp_pq:5.2f}  fixed-Q e2e exp={exp_e2e:5.2f}",
            flush=True,
        )
        _write(
            base,
            f"fixed_q_x{factor}",
            results,
            f"query set PINNED to replica-0 vectors at q1={q1}/q2={q2}; "
            "per_query_exponent = log(marginal_N/marginal_1)/log(N) where "
            "marginal = (T(q2)-T(q1))/(q2-q1), min of 3 runs per point; "
            "fixed_q_e2e_exponent is end-to-end at q2 (build-dominated).",
            calibration=cal,
        )
    cal["end"] = _calibrate(spark)
    _write(
        base,
        f"fixed_q_x{factor}",
        results,
        f"query set PINNED to replica-0 vectors at q1={q1}/q2={q2}; "
        "per_query_exponent = log(marginal_N/marginal_1)/log(N) where "
        "marginal = (T(q2)-T(q1))/(q2-q1), min of 3 runs per point; "
        "fixed_q_e2e_exponent is end-to-end at q2 (build-dominated).",
        calibration=cal,
    )
    return results


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--keys", default=None)
    ap.add_argument("--base", default=DEFAULT_BASE)
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument(
        "--fixed-queries",
        action="store_true",
        help="per-query marginal-cost probe for the similarity keys",
    )
    args = ap.parse_args()

    # probe runs are rows-only: allow the anchor modulus to leave the
    # oracle-exact regime (ADVICE r8 lockstep guard) on huge corpora
    os.environ.setdefault("SPARK_GRAFT_ALLOW_ANCHOR_GROWTH", "1")

    print(f"building x{args.factor} corpus ...", flush=True)
    big_dir = build_inflated(args.base, args.factor, rebuild=args.rebuild)

    from etl_framework_spark.session import get_spark
    import __spark_entry__ as ent

    spark = get_spark("scale-probe")

    if args.fixed_queries:
        keys = args.keys.split(",") if args.keys else FIXED_Q_KEYS
        bad = [k for k in keys if k not in FIXED_Q_KEYS]
        if bad:
            ap.error(f"--fixed-queries supports {FIXED_Q_KEYS}, not {bad}")
        results = probe_fixed_q(spark, keys, args.base, big_dir, args.factor)
        worst = sorted(
            results.items(), key=lambda kv: -kv[1]["per_query_exponent"]
        )[:5]
        print(
            "highest per-query exponents:",
            [(k, v["per_query_exponent"]) for k, v in worst],
        )
    else:
        keys = args.keys.split(",") if args.keys else DEFAULT_KEYS
        qs = ent.queries()
        results = probe_end_to_end(
            spark, qs, keys, args.base, big_dir, args.factor
        )
        worst = sorted(results.items(), key=lambda kv: -kv[1]["exponent"])[:5]
        print("highest exponents:", [(k, v["exponent"]) for k, v in worst])

    print(f"wrote {OUT_JSON}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
