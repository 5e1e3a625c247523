"""Contract keys: ``llm_dedup_simhash_banded``,
``llm_dedup_jaccard_prefix``, ``llm_dedup_jaccard_ppjoin``.

Banded SimHash dedup — the measured scale path.

The 10× scale probe (tools/scale_probe.py, artifacts/scale_probe.json)
measured ``llm_dedup_simhash`` at exponent 1.29: its (lang)-blocked
self-join is O(block²), and its own docstring already named the fix
("at 100 TB the block key becomes simhash bit-bands"). This module
ships that fix as an oracle-exact key instead of a comment:

- 32-bit SimHash (md5's 32 nibbles; 16-bit signatures band into
  4-bit keys with only 16 values — useless), Hamming radius 3.
- Pigeonhole banding: 4 bands of 8 bits. ≤3 differing bits touch at
  most 3 of the 4 bands, so every qualifying pair shares ≥1 exact
  band — recall is 100%, not approximate. The join key becomes
  (lang, band_idx, band_value): bucket sizes shrink by ~2^8 per band
  vs the full block, and the shuffle spreads each language block
  across 4·256 keys instead of one hot key.
- A pair sharing several bands matches several times → one distinct
  on (id_a, id_b, hamming) bounded by the (small) candidate set.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators.dedup import (
    attach_simhash,
    duck_simhash_bits,
)
from etl_framework_spark.operators.textops import tokens
from etl_framework_spark.registry import query
from etl_framework_spark.cacheutil import persist_tracked

_NBITS = 32
_NBANDS = 4
_BAND_BITS = _NBITS // _NBANDS  # 8
_HAM = 3

_DUCK_TOKSET = "list_distinct(string_split(text, ' '))"


def _oracle() -> str:
    bands = ", ".join(str(i) for i in range(_NBANDS))
    return f"""
    WITH sh AS MATERIALIZED (
      SELECT doc_id, lang, {duck_simhash_bits(_DUCK_TOKSET, _NBITS)} AS sh
      FROM documents),
    banded AS (
      SELECT doc_id, lang, sh, b,
             (sh // (1 << (b * {_BAND_BITS}))) % {1 << _BAND_BITS} AS bv
      FROM sh, unnest([{bands}]) AS t(b)),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
      FROM banded a JOIN banded b
        ON a.lang = b.lang AND a.b = b.b AND a.bv = b.bv
       AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, hamming FROM cand WHERE hamming <= {_HAM}
    """


@query("llm_dedup_simhash_banded", oracle=_oracle())
def llm_dedup_simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at scale: 32-bit signatures, Hamming ≤ 3,
    candidates from 4×8-bit pigeonhole bands instead of whole language
    blocks. Same family as llm_dedup_simhash (which keeps the compact
    16-bit / full-block contract); this key is the shape that survives
    100 TB — the scale probe measured the full-block join at exponent
    1.29, while banding bounds bucket sizes by signature entropy.
    Ref: reference near-dup banding tests (cf. llm_dedup_minhash's
    band-bucket join — identical pigeonhole argument, Hamming instead
    of Jaccard)."""
    docs = table(spark, sf_dir, "documents")
    # persist the signature frame: the band self-join references it on
    # BOTH sides, and without a cache Spark recomputes the md5-per-
    # token signature pipeline twice (measured 1.4 s of a 6.2 s run at
    # sf0.1). Tiny frame — 3 columns, one row per doc.
    sh = attach_simhash(
        docs.select("doc_id", "lang", F.array_distinct(tokens("text")).alias("__ts")),
        "__ts", _NBITS, "sh",
    ).drop("__ts").transform(persist_tracked)
    banded = sh.select(
        "doc_id",
        "lang",
        "sh",
        F.explode(
            F.array(*[F.lit(i) for i in range(_NBANDS)])
        ).alias("b"),
    ).withColumn(
        "bv",
        F.expr(f"shiftright(sh, b * {_BAND_BITS}) % {1 << _BAND_BITS}"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.b") == F.col("b.b"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        # filter BEFORE distinct: the Hamming gate is a map-side
        # predicate, so the dedup shuffle sees only qualifying pairs
        # (~19k rows) instead of every band collision (~3.9M on this
        # vocabulary-correlated corpus)
        .filter(F.col("hamming") <= _HAM)
        .distinct()
    )


_JAC_ORACLE = """
    WITH toksets AS (SELECT doc_id, lang, source,
                            list_distinct(string_split(text, ' ')) AS ts
                     FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
                 / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))),
                 6) AS jac
    FROM toksets a
    JOIN toksets b ON a.lang = b.lang AND a.source = b.source
                  AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
          / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))
          >= 0.2
    """


@query("llm_dedup_jaccard_prefix", oracle=_JAC_ORACLE)
def llm_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact blocked Jaccard ≥ 0.2 via one-sided PREFIX FILTERING
    (AllPairs) — same result set and same plain-SQL oracle as
    llm_dedup_jaccard, different physical contract: tokens order by
    per-block rarity, only each doc's n−⌈τn⌉+1 rarest tokens generate
    candidates, and the exact Jaccard runs per candidate. Hot tokens
    (the Σdf² blowup in every shared-token join) fall in the excluded
    suffix of essentially every doc, so candidate work is
    Σ df_prefix·df_full. Measured on the 10× probe corpus: 8.3 s vs
    19.2 s for the shared-token join (exponent 0.30 vs 1.04) — slower
    at sf0.1 (two extra shuffles to rank rarity), which is why BOTH
    contracts ship: the token join for small blocks, this for scale.
    Ref: Bayardo et al., 'Scaling Up All Pairs Similarity Search'
    (WWW'07), one-sided prefix variant; llm_dedup_jaccard_ppjoin
    below tightens it with the symmetric prefix plus PPJoin's length
    and positional filters."""
    from etl_framework_spark.operators.dedup import (
        prefix_filtered_jaccard_pairs,
    )
    from etl_framework_spark.operators.textops import tokens as _tokens

    docs = table(spark, sf_dir, "documents")
    # r11: checkpoint the token-set frame — the operator re-derives it
    # five times otherwise (twice inside the rarity ranking, once for
    # the full probe side, twice in the exact-verify joins), each a
    # full split+array_distinct pass over the corpus.
    toksets = docs.select(
        "doc_id",
        "lang",
        "source",
        F.array_distinct(_tokens("text")).alias("ts"),
    ).localCheckpoint(eager=False)
    out = prefix_filtered_jaccard_pairs(toksets, 1, 5)
    return out.select("id_a", "id_b", F.round("jac", 6).alias("jac"))


_PP_NUM, _PP_DEN = 7, 10  # τ = 0.7 — the regime where PPJoin's
# filters pay: prefixes shrink to ~0.3·n (vs 0.8·n at the τ=0.2
# keys), so prefix×prefix + length + positional pruning bites

_JAC_PPJOIN_ORACLE = _JAC_ORACLE.replace(">= 0.2", f">= {_PP_NUM / _PP_DEN}")


@query("llm_dedup_jaccard_ppjoin", oracle=_JAC_PPJOIN_ORACLE)
def llm_dedup_jaccard_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact blocked Jaccard ≥ 0.7 via SYMMETRIC prefix filtering
    plus PPJoin's length and positional filters (Xiao/Wang/Lin/Yu,
    WWW'08) — the high-threshold near-dup contract, where these
    filters actually pay (at the τ=0.2 keys the prefixes are 80% of
    each doc and the reduction measured ~nil). Both join sides shrink
    to the n−⌈τn⌉+1 rarest tokens (prefix×prefix instead of
    prefix×full — exact because the required overlap
    α = ⌈τ/(1+τ)(n_a+n_b)⌉ is ≥ ⌈τn⌉ on each side, so these prefixes
    contain the SSJoin lemma's (n−α+1)-prefixes), size-mismatched
    pairs are pruned by an integer length predicate inside the join,
    and the first-shared-token positional bound
    1 + min(n_a−i₁, n_b−j₁) < α drops survivors before any token set
    materializes. Measured at sf0.01: 948 candidate pairs reach
    verification vs 1 559 for the one-sided prefix path at the same
    τ (1.64× fewer; 657 true pairs) — the verify stage is the
    Σ|candidates| term at 100 TB, so the filter stack is the scale
    lever, and tests/test_ppjoin.py pins both the reduction and
    pair-set equality with the one-sided path. Ref: reference
    near-dup family tests (cf. llm_dedup_jaccard / _prefix — same
    exact-verify contract, tighter filter)."""
    from etl_framework_spark.operators.dedup import ppjoin_jaccard_pairs
    from etl_framework_spark.operators.textops import tokens as _tokens

    docs = table(spark, sf_dir, "documents")
    # r11: same token-set checkpoint as llm_dedup_jaccard_prefix (the
    # symmetric-prefix operator re-derives toksets on every consumer).
    toksets = docs.select(
        "doc_id",
        "lang",
        "source",
        F.array_distinct(_tokens("text")).alias("ts"),
    ).localCheckpoint(eager=False)
    out = ppjoin_jaccard_pairs(toksets, _PP_NUM, _PP_DEN)
    return out.select("id_a", "id_b", F.round("jac", 6).alias("jac"))
