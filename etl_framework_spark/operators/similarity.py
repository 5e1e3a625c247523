"""Vector similarity primitives (SURVEY.md §2.11 L3/L7).

Every embedding key with an exact oracle gets its bits from the folds
here. Each fold is one float64 accumulation that starts at 0.0 and adds
one dimension at a time, written three times, once per engine:

==================  ===============  ===============  ===============
fold                Spark Column     DuckDB SQL       numpy
==================  ===============  ===============  ===============
dot product         ``dot_fold``     ``DUCK_DOT``     ``fold_dots``
L2 norm             ``l2_norm``      ``DUCK_NORM``    ``fold_norms``
squared distance    ``sqdist_fold``  ``duck_sqdist``  ``fold_sqdist``
6-dp quantizer      —                ``duck_q6``      ``np_q6``
==================  ===============  ===============  ===============

The three twins run the same IEEE-754 adds in the same order, so they
give the same bits: DuckDB's ``list_reduce`` starts from the first
element, and 0.0 + p1 == p1. The quantizer has no JVM twin because the
exact keys quantize inside their numpy kernels.

Scale path: the JVM higher-order functions vectorize per row and need
no shuffle; for massive ANN fan-out use `lsh_buckets` to turn the
O(n·m) scan into bucket-local joins.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from etl_framework_spark.operators import guarded


def dot_fold(a: Column, b: Column) -> Column:
    """Strict sequential dot product of two float arrays, in float64."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def sqdist_fold(a: Column, b: Column) -> Column:
    """Strict sequential squared-Euclidean distance, in float64. (An
    unrolled element_at(1..64) variant was measured 13× SLOWER at
    sf0.1: the giant expression trees blow past codegen method limits
    and fall back to per-pair interpretation — see SCALE.md.)"""
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    return dot_fold(a, b) / (l2_norm(a) * l2_norm(b))


# DuckDB oracle snippets mirroring the folds above, for reuse in
# oracle SQL strings. {a}/{b} are list-typed SQL expressions.
DUCK_DOT = (
    "list_reduce(list_transform(generate_series(1, len({a})),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
)
DUCK_NORM = (
    "sqrt(list_reduce(list_transform({a},"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))"
)


def duck_cosine(a: str, b: str) -> str:
    dot = DUCK_DOT.format(a=a, b=b)
    na = DUCK_NORM.format(a=a)
    nb = DUCK_NORM.format(a=b)
    return f"({dot}) / (({na}) * ({nb}))"


def duck_sqdist(a: str, b: str, dim: int) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, {dim}),"
        f" i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
    )


def duck_q6(expr: str) -> str:
    """Sign-aware half-away-from-zero quantization to 6 dp, written as
    pure double arithmetic (trunc/sign/×1e6) so DuckDB and numpy
    produce identical bits — unlike round(), whose decimal-string
    path has no cheap numpy twin."""
    return f"trunc(({expr}) * 1e6 + sign({expr}) * 0.5) / 1e6"


# numpy twins. A and B are float64 (rows, dims) matrices; the loops run
# over dimensions and vectorize across rows, so each element sees the
# same adds, in the same order, as the JVM and DuckDB folds.
def fold_dots(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(rows of A × rows of B) dot products, like ``dot_fold``."""
    S = np.zeros((A.shape[0], B.shape[0]))
    for d in range(A.shape[1]):
        S += A[:, d, None] * B[None, :, d]
    return S


def fold_norms(M: np.ndarray) -> np.ndarray:
    """Per-row L2 norms, like ``l2_norm``."""
    acc = np.zeros(M.shape[0])
    for d in range(M.shape[1]):
        acc += M[:, d] * M[:, d]
    return np.sqrt(acc)


def fold_sqdist(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(rows of A × rows of B) squared distances, like ``sqdist_fold``.
    A fold that starts at the first diff² gives the same bits: squares
    are never -0.0, so 0.0 + s == s."""
    acc = np.zeros((A.shape[0], B.shape[0]))
    for d in range(A.shape[1]):
        acc += (A[:, d, None] - B[None, :, d]) ** 2
    return acc


def np_q6(x: np.ndarray) -> np.ndarray:
    """``duck_q6`` in numpy."""
    return np.trunc(x * 1e6 + np.sign(x) * 0.5) / 1e6


def ann_params(n_vectors: int) -> tuple[int, int]:
    """Sign-LSH sizing rule shared by the query path and its recall
    tests: P = round(log2(N)/2) planes clamped to [4, 16], so the
    bucket count 2^P tracks ~sqrt(N) — per-query candidate work with
    Hamming-≤1 multiprobe is (P+1)·N/2^P ≈ (P+1)·sqrt(N), sub-linear
    in the corpus. Returns (n_planes, n_buckets)."""
    import math

    p = max(4, min(16, round(math.log2(max(n_vectors, 2)) / 2)))
    return p, 1 << p


def random_hyperplanes(n_planes: int, dim: int, seed: int = 42) -> np.ndarray:
    """Deterministic Gaussian hyperplanes for sign-LSH bucketing."""
    rs = np.random.RandomState(seed)
    return rs.randn(n_planes, dim)


def lsh_buckets(vec: Column, planes: np.ndarray) -> Column:
    """Sign-LSH bucket id: bit p = sign(dot(vec, plane_p)).

    O(P·D) per row, JVM-side, no shuffle — the 100 TB path for ANN:
    bucket first (this), then join candidates within buckets instead
    of scanning all n·m pairs.
    """
    bucket = F.lit(0)
    for p, row in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in row])
        bit = (dot_fold(vec, plane) > 0).cast("int")
        bucket = bucket + bit * (1 << p)
    return bucket


def blocked_cosine_pairs(df, block_col: str, tau: float):
    """All within-block pairs (id_a < id_b) with quantized cosine ≥ tau.

    Input columns: (block_col int, vec_id long, embedding array<float>).
    Output: (block_col int, id_a, id_b, cos_sim) — cos_sim quantized
    with the trunc(x·1e6 + sign·0.5)/1e6 formula shared by every
    kernel/oracle in this repo.

    Executed as applyInPandas per block with ``fold_dots`` and
    ``fold_norms``; multiplication commutes in IEEE-754, so pair
    orientation doesn't change bits. Row-chunked to bound the n×n
    slab. One task per block: blocking IS the distribution unit (same
    statement a self-join makes); blocks too hot for one task belong in
    the LSH/IVF paths.
    """
    import pandas as pd

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        V = guarded.as_matrix(pdf["embedding"])
        ids = pdf["vec_id"].to_numpy()
        blk = int(pdf[block_col].iloc[0])
        order = np.argsort(ids)
        V, ids = V[order], ids[order]
        n = len(V)
        nrm = fold_norms(V)
        out_a, out_b, out_c = [], [], []
        chunk = 512
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            cos = fold_dots(V[lo:hi], V) / (nrm[lo:hi, None] * nrm[None, :])
            cq = np_q6(cos)
            for i in range(lo, hi):
                js = np.nonzero((ids > ids[i]) & (cq[i - lo] >= tau))[0]
                out_a.extend([ids[i]] * len(js))
                out_b.extend(ids[js])
                out_c.extend(cq[i - lo][js])
        return pd.DataFrame(
            {
                block_col: pd.Series([blk] * len(out_a), dtype="int32"),
                "id_a": pd.Series(out_a, dtype="int64"),
                "id_b": pd.Series(out_b, dtype="int64"),
                "cos_sim": pd.Series(out_c, dtype="float64"),
            }
        )

    return df.groupBy(block_col).applyInPandas(
        fn, schema=f"{block_col} int, id_a long, id_b long, cos_sim double"
    )


_MAX_ANCHOR_COLLECT = 100_000


def anchor_modulus(n_vectors: int, max_anchors: int | None = None) -> int:
    """Deterministic 1-in-m anchor sampling modulus for the anchor_knn
    consumers (VERDICT r7 item 6): the smallest modulus ≥ 5 that keeps
    ~n/m anchors inside the collect guard. Equals 5 through n =
    5·max_anchors = 500k vectors — every oracle-checked SF, so the
    static `vec_id % 5` SQL oracles stay exact there — and grows
    linearly with N past that, pinning the anchor count (the hubness /
    TwoNN estimators only need a bounded sample regardless of corpus
    size). One bounded count() sizes it at build time. ``max_anchors``
    resolves against the module attribute at CALL time so the growth
    branch is exercisable on real data at test scale (r8 item 4)."""
    import math

    if max_anchors is None:
        max_anchors = _MAX_ANCHOR_COLLECT
    return max(5, math.ceil(n_vectors / max_anchors))


_ORACLE_ANCHOR_MOD = 5
ANCHOR_GROWTH_ENV = "SPARK_GRAFT_ALLOW_ANCHOR_GROWTH"


def anchor_modulus_locked(n_vectors: int) -> int:
    """anchor_modulus with the oracle-lockstep guard (ADVICE r8): the
    consumers' registered SQL oracles hard-code ``vec_id % 5``, exact
    through 500k vectors. Past that the Spark side would silently
    diverge from its oracle, so raise LOUDLY — restoring the old
    collect-guard's failure mode — unless the caller explicitly opted
    into the rows-only growth regime (the scale probe and the
    growth-path test set SPARK_GRAFT_ALLOW_ANCHOR_GROWTH=1).

    The opt-in is parsed as a boolean, not truthiness of the raw
    string (ADVICE r9): ``=0``/``=false`` — the natural way to say
    "off" — must keep the guard ARMED."""
    mod = anchor_modulus(n_vectors)
    growth_ok = os.environ.get(ANCHOR_GROWTH_ENV, "").strip().lower() in (
        "1", "true", "yes", "on",
    )
    if mod != _ORACLE_ANCHOR_MOD and not growth_ok:
        raise ValueError(
            f"anchor modulus {mod} (n_vectors={n_vectors}) diverges from "
            f"the static `vec_id % {_ORACLE_ANCHOR_MOD}` SQL oracle; this "
            f"corpus is past the oracle-exact regime — set "
            f"{ANCHOR_GROWTH_ENV}=1 for rows-only scale runs"
        )
    return mod


def anchor_knn(cand_df, anchor_df, k: int, quant: float,
               id_col: str = "vec_id", vec_col: str = "embedding"):
    """k nearest candidates per anchor by quantized squared-L2.

    The scale shape for fixed-size anchor sets (TwoNN / hubness
    estimators sample a few thousand anchors regardless of corpus
    size): the anchor matrix is collected once (guarded, M·D·8 B) and
    shipped in the task closure; candidates stream through
    mapInPandas, each Arrow batch computing a (batch × M) distance
    slab with ``fold_sqdist``, bit-identical to the JVM and DuckDB
    folds while running ~50× faster than per-row interpreted
    lambdas. Each batch emits only its local top-k per anchor
    (i ≠ j pairs masked), so the global re-rank sees ≤ batches·M·k
    rows instead of M·N pairs. No shuffle until that tiny re-rank.

    Output columns: i (anchor id), j (candidate id), qd2
    (floor(d2·quant + 0.5) as bigint). Callers re-rank globally with
    row_number over i ordered by (qd2, j).
    """
    import pandas as pd

    anchors = guarded.collect_capped(
        anchor_df.select(id_col, vec_col), _MAX_ANCHOR_COLLECT
    )
    if anchors is None:
        raise ValueError(
            f"anchor_knn: anchor set exceeds {_MAX_ANCHOR_COLLECT}; "
            "grow the sampling modulus so the anchor count stays fixed "
            "(callers pin the modulus statically so their SQL oracle "
            "matches — see the SF-ceiling note at each call site)"
        )
    if not anchors.num_rows:
        raise ValueError(
            "anchor_knn: anchor set is empty — the sampling predicate "
            "matched no rows (ADVICE r6: an empty anchor matrix would "
            "otherwise die in an opaque numpy unpack)"
        )
    ids = anchors.column(id_col).to_numpy().astype(np.int64)
    A = guarded.as_matrix(anchors.column(vec_col))  # (M, D)
    m = len(A)
    sentinel = np.iinfo(np.int64).max

    def gen(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            j = pdf[id_col].to_numpy().astype(np.int64)
            acc = fold_sqdist(guarded.as_matrix(pdf[vec_col]), A)
            # Clip before the cast: numpy float->int64 overflow yields
            # INT64_MIN (negative — would sort ahead of every real
            # distance and defeat the sentinel mask), whereas the JVM
            # floor-to-bigint this claims parity with saturates at
            # Long.MAX. Clip to 2^63-1024, the largest float64 that is
            # exactly representable AND below Long.MAX (float(Long.MAX)
            # rounds UP to 2^63 and still wraps on cast) — overflowed
            # distances rank last but stay distinct from the sentinel,
            # so they are never silently dropped. Only reachable when
            # d2·quant > ~9.2e18, far outside normalized-embedding
            # range (ADVICE r6).
            q = np.floor(acc * quant + 0.5)
            q = np.clip(q, 0.0, float(2**63 - 2**10)).astype(np.int64)
            q[j[:, None] == ids[None, :]] = sentinel  # exclude i == j
            kk = min(k, len(pdf))
            out_i, out_j, out_q = [], [], []
            for col_idx in range(m):
                col = q[:, col_idx]
                top = np.lexsort((j, col))[:kk]  # ties break on j
                top = top[col[top] != sentinel]
                out_i.append(np.full(len(top), ids[col_idx], dtype=np.int64))
                out_j.append(j[top])
                out_q.append(col[top])
            yield pd.DataFrame(
                {
                    "i": np.concatenate(out_i),
                    "j": np.concatenate(out_j),
                    "qd2": np.concatenate(out_q),
                }
            )

    return cand_df.select(id_col, vec_col).mapInPandas(
        gen, "i bigint, j bigint, qd2 bigint"
    )
