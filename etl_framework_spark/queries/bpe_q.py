"""BPE tokenizer training (SURVEY.md §2.11 L4 extension): learn the
first R byte-pair merges over the corpus word types — the second
genuinely *iterative* training operator (after llm_kmeans), with an
exact DuckDB oracle that replays every round.

State per round is the word-type table (word, freq, sym) where `sym`
is the word's current segmentation encoded as a sentinel-joined
symbol string ('~c~a~t~'); a merge of pair (u, v) is THREE passes of
literal replace('~u~v~' → '~uv~') — three passes make the left-to-
right non-overlapping replace equivalent to greedy BPE merging for
the run/alternation cases ('aaa', 'abab'), and both engines execute
the identical pass count so results match exactly. Pair weights are
word-frequency-weighted; ties break on the pair string.

Scale: every round touches only the |word types| table (bounded —
top-W by frequency), never the corpus; the corpus is scanned once for
the initial frequency count. This is exactly how production BPE
trainers run on massive corpora: count once, iterate on the vocab.

Contract keys: ``llm_bpe_merges``, ``llm_bpe_segment``.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_framework_spark.catalog import table
from etl_framework_spark.operators.textops import tokens
from etl_framework_spark.registry import query

BPE_TYPES = 150  # word types kept (top by freq, tie → lexicographic)
BPE_ROUNDS = 3


def _sym_array(sym: Column) -> Column:
    return F.filter(F.split(sym, "~"), lambda x: x != "")


def _pair_strings(sym: Column) -> Column:
    """Adjacent symbol pairs as 'u~v' strings; empty for 1-symbol words.
    (Guarded: Spark's sequence(1, 0) would count DOWN, not empty.)"""
    arr = _sym_array(sym)
    n = F.size(arr)
    pairs = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat(F.element_at(arr, i), F.lit("~"), F.element_at(arr, i + 1)),
    )
    return F.when(n >= 2, pairs).otherwise(F.array().cast("array<string>"))


def _merge3(sym: Column, u: Column, v: Column) -> Column:
    pat = F.concat(F.lit("~"), u, F.lit("~"), v, F.lit("~"))
    rep = F.concat(F.lit("~"), u, v, F.lit("~"))
    out = sym
    for _ in range(3):
        out = F.replace(out, pat, rep)
    return out


def _duck_pairs(state: str, idx: int) -> str:
    """Pair-weight CTEs for one round over state table `state`."""
    return f"""
    arr{idx} AS (SELECT freq, list_filter(string_split(sym, '~'),
                        x -> x <> '') AS a FROM {state}),
    pr{idx} AS (SELECT freq, unnest(list_transform(
                    generate_series(1, len(a) - 1),
                    i -> a[i] || '~' || a[i+1])) AS p
                FROM arr{idx} WHERE len(a) >= 2),
    t{idx} AS (SELECT split_part(p, '~', 1) AS u, split_part(p, '~', 2) AS v,
                      CAST(sum(freq) AS BIGINT) AS w
               FROM pr{idx} GROUP BY p
               ORDER BY w DESC, u, v LIMIT 1)"""


def _duck_merge(prev: str, idx: int) -> str:
    r3 = "sym"
    for _ in range(3):
        r3 = (
            f"replace({r3}, '~' || t{idx}.u || '~' || t{idx}.v || '~',"
            f" '~' || t{idx}.u || t{idx}.v || '~')"
        )
    return f"""
    s{idx + 1} AS (SELECT word, freq, {r3} AS sym
                   FROM {prev} CROSS JOIN t{idx})"""


def _bpe_oracle() -> str:
    parts = [
        f"""
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    w0 AS (SELECT tok AS word, count(*) AS freq FROM toks GROUP BY tok
           ORDER BY freq DESC, word LIMIT {BPE_TYPES}),
    s1 AS (SELECT word, freq,
                  '~' || regexp_replace(word, '(.)', '\\1~', 'g') AS sym
           FROM w0)"""
    ]
    for r in range(1, BPE_ROUNDS + 1):
        parts.append("," + _duck_pairs(f"s{r}", r))
        if r < BPE_ROUNDS:
            parts.append("," + _duck_merge(f"s{r}", r))
    selects = [
        f"SELECT {r} AS round, u AS sym_a, v AS sym_b, w AS weight FROM t{r}"
        for r in range(1, BPE_ROUNDS + 1)
    ]
    return "".join(parts) + " " + " UNION ALL ".join(selects)


def _sym_init(word: Column) -> Column:
    return F.concat(F.lit("~"), F.regexp_replace(word, "(.)", "$1~"))


def _train(docs: DataFrame) -> list[DataFrame]:
    """Run BPE_ROUNDS of merge learning; returns one single-row
    DataFrame (u, v, w) per round, in order."""
    toks = docs.select(F.explode(tokens("text")).alias("tok"))
    w0 = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), "tok")
        .limit(BPE_TYPES)
        .select(F.col("tok").alias("word"), "freq")
    )
    state = w0.select("word", "freq", _sym_init(F.col("word")).alias("sym"))
    tops: list[DataFrame] = []
    for r in range(1, BPE_ROUNDS + 1):
        pairs = state.select(
            "freq", F.explode(_pair_strings(F.col("sym"))).alias("p")
        )
        top = (
            pairs.select(
                F.split_part(F.col("p"), F.lit("~"), F.lit(1)).alias("u"),
                F.split_part(F.col("p"), F.lit("~"), F.lit(2)).alias("v"),
                "freq",
            )
            .groupBy("u", "v")
            .agg(F.sum("freq").alias("w"))
            .orderBy(F.col("w").desc(), "u", "v")
            .limit(1)
        )
        # lazy localCheckpoint per round: top_r's lineage contains
        # state_{r-1}, which contains every earlier round's argmax —
        # unmaterialized, round r re-derived ALL earlier rounds, and
        # the two consumer keys re-derived the whole chain once per
        # merge application (16 scans / 14 BNLJ in llm_bpe_segment's
        # golden plan). A 1-row and a BPE_TYPES-row frame per round.
        top = top.localCheckpoint(eager=False)
        tops.append(top)
        if r < BPE_ROUNDS:
            state = state.crossJoin(F.broadcast(top)).select(
                "word",
                "freq",
                _merge3(F.col("sym"), F.col("u"), F.col("v")).alias("sym"),
            ).localCheckpoint(eager=False)
    return tops


@query("llm_bpe_merges", oracle=_bpe_oracle())
def llm_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First {3} BPE merges over the top-{150} word types: per round,
    weight adjacent symbol pairs by word frequency, take the argmax
    (tie → lexicographic), merge it everywhere, repeat. Returns the
    learned merge table (round, sym_a, sym_b, weight) — what a
    tokenizer trainer persists."""
    docs = table(spark, sf_dir, "documents")
    tops = _train(docs)
    merges = [
        top.select(
            F.lit(r + 1).alias("round"),
            F.col("u").alias("sym_a"),
            F.col("v").alias("sym_b"),
            F.col("w").alias("weight"),
        )
        for r, top in enumerate(tops)
    ]
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out


def _duck_apply_merges() -> str:
    """CTE applying t1..t{BPE_ROUNDS} to the full per-lang word table."""
    sym = "sym0"
    for r in range(1, BPE_ROUNDS + 1):
        for _ in range(3):
            sym = (
                f"replace({sym}, '~' || t{r}.u || '~' || t{r}.v || '~',"
                f" '~' || t{r}.u || t{r}.v || '~')"
            )
    crosses = " ".join(f"CROSS JOIN t{r}" for r in range(1, BPE_ROUNDS + 1))
    return f""",
    wl AS (SELECT lang, tok AS word, count(*) AS freq
           FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
                 FROM documents)
           GROUP BY lang, tok),
    seg AS (SELECT lang, freq,
                   len(list_filter(string_split({sym}, '~'), x -> x <> ''))
                     AS n_syms,
                   length(word) AS n_chars
            FROM (SELECT lang, word, freq,
                         '~' || regexp_replace(word, '(.)', '\\1~', 'g') AS sym0
                  FROM wl) w {crosses})
    SELECT lang,
           CAST(sum(freq) AS BIGINT) AS total_tokens,
           CAST(sum(freq * n_syms) AS BIGINT) AS total_symbols,
           CAST(sum(freq * n_chars) AS BIGINT) AS total_chars,
           round(CAST(sum(freq * n_syms) AS DOUBLE)
                 / sum(freq * n_chars), 6) AS sym_per_char
    FROM seg GROUP BY lang
    """


def _bpe_segment_oracle() -> str:
    # reuse the training CTE chain up to t{BPE_ROUNDS}, then apply
    base = _bpe_oracle()
    train_ctes = base[: base.index(" SELECT 1 AS round")]
    return train_ctes + _duck_apply_merges()


@query("llm_bpe_segment", oracle=_bpe_segment_oracle())
def llm_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merges to the FULL vocabulary (train on
    the head, segment everything — the production shape) and report
    per-language compression: symbols per character after {3} merges.
    The merge table is three broadcast single-row joins; segmentation
    is pure string ops on the |vocab|-sized word table, never the
    corpus."""
    docs = table(spark, sf_dir, "documents")
    tops = _train(docs)
    toks = docs.select("lang", F.explode(tokens("text")).alias("tok"))
    wl = toks.groupBy("lang", F.col("tok").alias("word")).agg(
        F.count("*").alias("freq")
    )
    seg = wl.select("lang", "word", "freq", _sym_init(F.col("word")).alias("sym"))
    for top in tops:
        t = top.select(
            F.col("u").alias("__mu"), F.col("v").alias("__mv")
        )
        seg = seg.crossJoin(F.broadcast(t)).select(
            "lang",
            "word",
            "freq",
            _merge3(F.col("sym"), F.col("__mu"), F.col("__mv")).alias("sym"),
        )
    counted = seg.select(
        "lang",
        "freq",
        F.size(_sym_array(F.col("sym"))).alias("n_syms"),
        F.length("word").alias("n_chars"),
    )
    return counted.groupBy("lang").agg(
        F.sum("freq").alias("total_tokens"),
        F.sum(F.col("freq") * F.col("n_syms")).alias("total_symbols"),
        F.sum(F.col("freq") * F.col("n_chars")).alias("total_chars"),
        F.round(
            F.sum(F.col("freq") * F.col("n_syms")).cast("double")
            / F.sum(F.col("freq") * F.col("n_chars")),
            6,
        ).alias("sym_per_char"),
    )
