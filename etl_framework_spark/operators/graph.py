"""Graph operators (SURVEY.md §2.11 L2 fixpoint stage).

``token_adjacency`` builds the token co-occurrence graph of a
documents frame, the edge list every ``graph_*`` token key runs over.
``co_occurrence_pairs`` projects a group/item table onto weighted item
pairs. ``pagerank`` runs fixed-length power iterations.

Connected components via label propagation — the classic pre-
GraphFrames formulation: each node repeatedly takes the minimum label
among itself and its neighbors until no label changes. The driver only
controls the loop (bounded iterations + a convergence count per
round); all data movement is hash-partitioned joins/aggs. Lineage is
truncated per iteration with localCheckpoint, otherwise the plan tree
doubles every round.

At 100 TB this is the dedup *fixpoint* stage: the one-pass bucket-min
assignment (llm_dedup_minhash) under-merges chains A~B~C where A,C
never share a bucket; label propagation converges to the true
transitive closure in O(log n) rounds on real cluster structures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from etl_framework_spark.operators import guarded


_CC_COLLECT_CAP = 2_000_000  # distinct directed edge rows; ~32 MB of
# two int64 columns via Arrow plus the union-find maps


def _uf_components(s, d) -> list[tuple]:
    """Union-find over collected edge arrays: (node, min reachable
    id) for every endpoint — exactly the label-propagation fixpoint,
    in one pass instead of O(diameter) shuffle rounds."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(s, d):
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    nodes = set(s)
    nodes.update(d)
    comp_min: dict = {}
    roots = {}
    for n in nodes:
        r = find(n)
        roots[n] = r
        if n < comp_min.get(r, n + 1):
            comp_min[r] = n
    return [(n, comp_min[roots[n]]) for n in nodes]


def token_adjacency(docs: DataFrame) -> DataFrame:
    """Distinct undirected edges (a, b), a < b, between different
    adjacent tokens of ``split(docs.text, ' ')``. The positions are an
    exploded ``sequence`` read back with ``element_at``, which
    whole-stage codegen compiles; a ``zip_with`` lambda over two
    slices runs interpreted."""
    t = docs.select(F.split(F.col("text"), " ").alias("l")).filter(
        F.size("l") >= 2
    )
    idx = t.select(
        "l", F.explode(F.sequence(F.lit(1), F.size("l") - 1)).alias("i")
    )
    adj = idx.filter(
        F.element_at("l", F.col("i")) != F.element_at("l", F.col("i") + 1)
    ).select(
        F.least(
            F.element_at("l", F.col("i")), F.element_at("l", F.col("i") + 1)
        ).alias("a"),
        F.greatest(
            F.element_at("l", F.col("i")), F.element_at("l", F.col("i") + 1)
        ).alias("b"),
    )
    return adj.distinct()


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 20
) -> DataFrame:
    """(node, component) for every node in `edges`; component = min
    node id reachable. Undirected; self-loops implied."""
    # r12 (guide §1.2): the fixpoint costs one join+agg+checkpoint
    # round per label-propagation step (O(diameter) serialized Spark
    # jobs) even when the DISTINCT edge list is tiny next to its
    # upstream (llm_dedup_cc: 7.5k star edges at sf0.1 under a MinHash
    # pipeline). Union-find the capped edge list in-process instead —
    # isolated A/B at sf0.1 inside llm_dedup_cc, median-of-3:
    # 9.34 → 3.20 s, value-identical. An edge with a NULL endpoint
    # connects nothing; both paths drop it (the union-find could not
    # hash-compare None against ints).
    edges = edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
    head = guarded.collect_capped(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b")),
        _CC_COLLECT_CAP,
    )
    if head is not None:
        rows = _uf_components(
            head.column("a").to_pylist(), head.column("b").to_pylist()
        )
        return guarded.local_frame(
            edges.sparkSession, rows, "node bigint, component bigint"
        )
    # checkpointed ONCE: the edge list is consumed every iteration and
    # its lineage (e.g. md5 MinHash signatures upstream) would be
    # recomputed per round otherwise — measured 29s → ~8s at sf0.1
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("nmin"))
        )
        new_label = F.least(
            F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
        )
        # convergence count rides the SAME job that materializes the
        # checkpoint (observe() is a zero-scan accumulator), instead of
        # a second join-the-old-labels action per round
        obs = Observation()
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.a, "left")
            .select(
                "node",
                new_label.alias("label"),
                (new_label < F.col("label")).cast("long").alias("chg"),
            )
            .observe(obs, F.sum("chg").alias("changed"))
            .select("node", "label")
            .localCheckpoint(eager=True)
        )
        labels = new_labels
        if (obs.get["changed"] or 0) == 0:
            break
    return labels.select(F.col("node"), F.col("label").alias("component"))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iters: int = 15,
    damping: float = 0.85,
) -> DataFrame:
    """Weighted PageRank over an undirected graph, fixed `iters` power
    iterations: p(v) = (1-d)/N + d * Σ_u p(u)·w(u,v)/W(u).

    Edges are symmetrized, so every node has in- and out-mass (no
    dangling-node correction needed). Each iteration is one hash
    shuffle on the node id — the same partitioning every round, which
    AQE reuses — plus a join against the static out-weight table.
    Lineage is truncated every 5 rounds; the loop itself is fixed-
    length (deterministic result, no convergence action).
    """
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"), w.alias("w"))
        .union(
            edges.select(
                F.col(dst).alias("u"), F.col(src).alias("v"), w.alias("w")
            )
        )
        .groupBy("u", "v")
        .agg(F.sum("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    outw = sym.groupBy("u").agg(F.sum("w").alias("wsum"))
    # normalized transition weight once, not per iteration
    trans = sym.join(outw, "u").select(
        "u", "v", (F.col("w") / F.col("wsum")).alias("tw")
    ).localCheckpoint(eager=True)
    n = trans.select("u").distinct().count()
    base = (1.0 - damping) / n
    p = trans.select(F.col("u").alias("node")).distinct().withColumn(
        "p", F.lit(1.0 / n)
    )
    for i in range(iters):
        p = (
            trans.join(p, trans.u == p.node)
            .groupBy("v")
            .agg(
                (F.lit(base) + F.lit(damping) * F.sum(F.col("tw") * F.col("p")))
                .alias("p")
            )
            .select(F.col("v").alias("node"), "p")
        )
        if (i + 1) % 5 == 0:
            p = p.localCheckpoint(eager=True)
    return p


def co_occurrence_pairs(
    df: DataFrame,
    group_col: str,
    item_col: str,
    max_group_degree: int = 200,
) -> DataFrame:
    """Weighted co-occurrence edges (u, v, c): for every group, each
    unordered pair of distinct items it contains, with c = number of
    shared groups. The projection step behind co-supplier /
    co-purchase / co-token graphs.

    ONE shuffle end-to-end: groupBy(group) with collect_set (map-side
    partial sets dedupe (group, item) without a separate distinct
    exchange), a degree gate that drops super-node groups — a group
    with d items emits C(d,2) pairs, so the cap bounds the blowup on
    skewed corpora; callers MUST mirror it in their oracle (TPC-H part
    degree is ~30 flat, so 200 is inert at test scales) — then pairs
    explode JVM-side from the sorted set (u < v by construction) and
    partial-aggregate into counts. Returns c as double (quantile math
    downstream).
    """
    g = (
        df.groupBy(F.col(group_col).alias("g"))
        .agg(F.sort_array(F.collect_set(item_col)).alias("ss"))
        .filter(
            (F.size("ss") >= 2) & (F.size("ss") <= max_group_degree)
        )
    )
    pairs = g.select(F.posexplode("ss").alias("i", "u"), "ss").select(
        "u",
        F.explode(
            F.slice("ss", F.col("i") + F.lit(2), F.size("ss"))
        ).alias("v"),
    )
    return pairs.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
