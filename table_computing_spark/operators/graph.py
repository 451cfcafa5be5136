"""Distributed connected components — turning near-dup PAIRS into
dedup GROUPS.

The reference stops at pairwise joins (its join surface is
sp/Rehash.java + Table.join; no graph ops). A training-data pipeline
needs the transitive closure: if A~B and B~C, one canonical document
must represent {A,B,C}. At 100 TB the near-dup graph has billions of
edges, so we use the alternating large-star/small-star algorithm of
Kiveris et al., "Connected Components in MapReduce and Beyond" (SOCC
'14): O(log²) rounds in the worst case, 2 rounds on the clique-ish
graphs MinHash/Jaccard dedup actually produces, every round a pair of
groupBy-min shuffles on the node id — never a transitive-closure
blowup, never driver-side graph state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from table_computing_spark.operators._util import materialize


def _canon(edges: DataFrame) -> DataFrame:
    """Undirected edge set as (u > v) canonical pairs, no self loops."""
    return (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u, connect every LARGER neighbor to the minimum of
    the closed neighborhood min(N(u) ∪ {u})."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least(F.col("mv"), F.col("u")).alias("m"))
    )
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u (edges held as u > v), connect u and all its
    smaller neighbors to their minimum."""
    e = edges.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    m = e.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = e.join(m, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    roots = m.select(F.col("u"), F.col("m").alias("v"))
    return nbrs.union(roots)


def _cc_local_finish(edges: DataFrame) -> DataFrame:
    """Single-task exact CC over a SMALL canonical edge set — the
    final-contraction optimization every distributed-CC implementation
    ships (GraphX/GraphFrames do the same): once the edge set fits one
    task, each further large-star/small-star round costs ~6 fixed-
    overhead shuffle stages to move a few MB, while one local pass
    finishes the whole contraction. The solve is vectorized min-label
    propagation with pointer jumping (numpy; see inline comment), whose
    fixpoint labels every node with the MINIMUM id of its component —
    bit-identical to the converged star iteration: (node,
    component=min id) for every node in `edges`. Never called above
    `local_threshold` edges (caller-guarded), so the single task holds
    a bounded few-hundred-MB pandas frame, not the corpus.

    Id ordering (r14 ADVICE): for string ids, np.unique sorts by
    Unicode code point while the distributed star path uses Spark's
    UTF8 binary comparison — these agree for ALL valid Unicode strings
    (UTF-8 byte order preserves code-point order by construction), so
    the 'minimum id' is the same on both paths including non-ASCII ids
    (pinned in tests/test_r15_ops.py)."""
    out_fields = [
        T.StructField("node", edges.schema["u"].dataType),
        T.StructField("component", edges.schema["u"].dataType),
    ]

    def solve(batches):
        import numpy as np
        import pandas as pd

        parts = [b for b in batches if len(b)]
        if not parts:
            return
        df = pd.concat(parts, ignore_index=True)
        u = df["u"].to_numpy()
        v = df["v"].to_numpy()
        nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
        ui, vi = inv[: len(u)], inv[len(u):]
        # Vectorized min-label propagation with pointer jumping — a
        # per-edge Python union-find loop measured 2.1 s on 1M edges vs
        # 0.03 s for this (identical labels). Labels live in INDEX
        # space; np.unique sorts, so min index == min node id. Each
        # round: relax every edge both ways, then compress lab = lab[lab]
        # to a fixpoint (log-diameter doublings); outer loop ends when a
        # full round changes nothing. Path graphs converge in 2 rounds.
        lab = np.arange(len(nodes))
        while True:
            old = lab.copy()
            np.minimum.at(lab, ui, lab[vi])
            np.minimum.at(lab, vi, lab[ui])
            while True:
                nl = lab[lab]
                if np.array_equal(nl, lab):
                    break
                lab = nl
            if np.array_equal(lab, old):
                break
        yield pd.DataFrame({"node": nodes, "component": nodes[lab]})

    # coalesce, not repartition: the checkpointed edge blocks merge into
    # one task without another shuffle
    return edges.coalesce(1).mapInPandas(solve, T.StructType(out_fields))


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 20,
    local_threshold: int = 5_000_000,
) -> DataFrame:
    """(node, component) for every node appearing in `pairs`, where
    component is the MINIMUM node id of its connected component.

    The convergence test is EXACT (equal edge counts + empty anti-join
    against the previous round's edge set — both sets are distinct, so
    that implies set equality), never a hash that could stop early on a
    collision. Driver involvement per round is two scalars; each round
    materializes the edge set eagerly so lineage (and the
    re-execution cost of iteration k) stays O(1) instead of O(k) — the
    standard trap of iterative DataFrame algorithms.

    Once the canonical edge set holds <= `local_threshold` edges
    (checked against the count the loop already takes), the remaining
    contraction runs as a single-task union-find (_cc_local_finish)
    instead of more star rounds — each star round costs a fixed ~6
    shuffle stages regardless of size, and the edge set stays near the
    node count for many tail rounds while long chains resolve
    (measured at sf0.1: the eps-graph took 9 rounds ≈ 12 s distributed
    vs < 0.5 s local finish; results identical by construction). Star
    rounds preserve connectivity and the node set, so finishing locally
    at ANY round yields the same (node, min-id) mapping. Pass
    local_threshold=0 to force the pure distributed iteration (the
    tests pin both paths)."""
    edges = _canon(pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    edges = edges.transform(materialize, eager=True)
    prev, prev_n = edges, edges.count()
    if prev_n <= local_threshold:
        return _cc_local_finish(edges)
    for _ in range(max_iters):
        edges = _canon(_small_star(_large_star(edges)))
        edges = edges.transform(materialize, eager=True)
        n = edges.count()
        if n <= local_threshold:
            return _cc_local_finish(edges)
        if n == prev_n and edges.exceptAll(prev).isEmpty():
            break
        prev, prev_n = edges, n
    else:
        raise RuntimeError(f"connected_components: no convergence in {max_iters} rounds")
    # Converged: every edge is (node > root, root = component min).
    roots = edges.select(F.col("v").alias("node")).distinct()
    return edges.select(F.col("u").alias("node"), F.col("v").alias("component")).union(
        roots.select("node", F.col("node").alias("component"))
    )


def dedup_groups(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Canonical-document assignment: every row of `df` gets
    (id, canonical_id, group_size). Rows in no pair are their own
    singleton group. canonical_id = min id of the component — the
    deterministic "keep this one" choice a dedup pipeline needs."""
    cc = connected_components(pairs, src=src, dst=dst)
    out = (
        df.select(F.col(id_col))
        .join(cc.withColumnRenamed("node", id_col), on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("canonical_id"),
        )
    )
    sizes = out.groupBy("canonical_id").agg(F.count(F.lit(1)).alias("group_size"))
    return out.join(sizes, "canonical_id").select(id_col, "canonical_id", "group_size")


def pagerank_nano(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int = 4,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """PageRank with ENGINE-EXACT integer-nano arithmetic: every
    contribution damping·rank/deg is rounded to integer nanos before
    the per-node sum, so the result is independent of float summation
    order — identical across partitionings, runs, and engines (the
    repo-wide portability discipline; a fixed iteration count unrolls
    into plain SQL for the oracle).

    Per iteration: one join of edges→ranks (shuffle on src), one hash
    aggregation on dst, one left join back to the node set; ranks are
    materialize()d every `checkpoint_every` rounds so plan depth
    stays bounded without paying an eager job per round. The only
    driver scalar is the node count. Dangling-node mass is dropped
    (simplified PageRank) — documented, matched by the oracle.

    `seeds` (a DataFrame with a `node` column) switches to
    PERSONALIZED PageRank: the teleport mass (1-d) restarts only onto
    the seed set instead of uniformly — ranks become proximity scores
    relative to the seeds (recommendation / related-items shape).
    Initial mass and the restart term are 1/|seeds| on seeds, 0
    elsewhere; the iteration shape and the integer-nano exactness are
    identical, so the same fixed-k unrolled SQL oracle applies with a
    seed CASE."""
    # pin the edge list once: its lineage may be an expensive pipeline
    # (e.g. a Jaccard inverted-index join) that would otherwise
    # re-execute for nodes, degrees, AND every iteration's join
    edges = edges.transform(materialize)
    nodes = (
        edges.select(F.col(src_col).alias("node"))
        .union(edges.select(F.col(dst_col).alias("node")))
        .distinct()
        .transform(materialize)  # reused every iteration + counted once
    )
    n = nodes.count()
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("rank")).limit(0)
    if seeds is not None:
        # personalized: restart vector is uniform over the seed set ∩
        # graph nodes; everything else starts (and restarts) at zero
        seed_nodes = (
            seeds.select("node").distinct().join(nodes, "node", "left_semi")
        ).transform(materialize)
        k = seed_nodes.count()
        if k == 0:
            raise ValueError("personalized pagerank: no seed is a graph node")
        flagged = nodes.join(
            seed_nodes.withColumn("__seed", F.lit(1)), "node", "left"
        ).select("node", F.coalesce("__seed", F.lit(0)).alias("__seed"))
        nodes = flagged.transform(materialize)
        base = F.lit(int((1.0 - damping) / k * 1e9 + 0.5)) * F.col("__seed")
        init = (F.lit(int(1e9 / k + 0.5)) * F.col("__seed")).cast("long")
    else:
        # floor(x+0.5), not Python round(): round() is half-EVEN, SQL
        # round() is half-up — the oracle must be able to reproduce these
        base = F.lit(int((1.0 - damping) / n * 1e9 + 0.5))
        init = F.lit(int(1e9 / n + 0.5)).cast("long")
    deg = edges.groupBy(src_col).agg(F.count(F.lit(1)).alias("__deg"))
    rank = nodes.withColumn("rank_nano", init)
    for it in range(1, iterations + 1):
        contrib = (
            edges.join(rank, edges[src_col] == rank["node"])
            .join(deg, src_col)
            .select(
                F.col(dst_col).alias("node"),
                F.round(F.lit(damping) * F.col("rank_nano") / F.col("__deg"))
                .cast("long")
                .alias("__c"),
            )
        )
        sums = contrib.groupBy("node").agg(F.sum("__c").alias("__s"))
        rank = (
            nodes.join(sums, "node", "left")
            .select(
                "node",
                (base + F.coalesce(F.col("__s"), F.lit(0)))
                .cast("long")
                .alias("rank_nano"),
            )
        )
        # truncate lineage only periodically: each eager checkpoint is
        # a full job, and for small iteration counts the nested-join
        # plan is shallow enough to execute in ONE job at the end
        if checkpoint_every and it % checkpoint_every == 0:
            rank = rank.transform(materialize)
    return rank.select("node", F.round(F.col("rank_nano") / 1e9, 9).alias("rank"))


def triangle_counts(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Per-node triangle counts via degree-ordered edge orientation
    (Cohen / Suri–Vassilvitskii MapReduce triangle counting): orient
    every undirected edge from the endpoint that is LOWER in the total
    order (degree, id) to the higher one, enumerate wedges only at
    each edge's low-degree endpoint, and close them against the
    oriented edge set.

    Returns (node, n_triangles) for EVERY node that appears in an
    edge, zero-filled — each triangle contributes 1 to each of its
    three corners.

    Why this survives 100 TB: after orientation every node's
    out-degree is O(sqrt(m)) — a hub with degree d generates wedges at
    its LOW-degree neighbors, never d² wedges at itself — so wedge
    volume is bounded by sum(outdeg²) ≤ m^1.5 instead of sum(deg²),
    which is the difference between tractable and not on power-law
    graphs. All three stages are equi-joins/aggregations on node keys
    (shuffle-partitionable); nothing ever materializes on the driver.

    Reference parity: the reference stops at pairwise joins
    (sp/Rehash.java, Table.join) — graph closure ops are part of this
    repo's training-pipeline extension surface, like
    connected_components above.
    """
    e = _canon(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    # edges feed degree + both sides of the wedge join — pin once so an
    # expensive upstream (a self-join co-occurrence build) runs once
    e = e.transform(materialize, eager=False)
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    nodes_all = e.select(F.col("u").alias("node")).union(
        e.select(F.col("v").alias("node"))
    ).distinct()
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("__deg"))
    # one sortable orientation key per node: (degree, id) packed into a
    # long — the pack is only a total order when ids fit the low 31
    # bits, so out-of-range ids must fail loudly, not corrupt counts
    okey = deg.select(
        F.col("u").alias("node"),
        F.when(
            (F.col("u") >= 0) & (F.col("u") < 2**31),
            F.col("__deg").cast("long") * F.lit(2**31) + F.col("u"),
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("triangle_counts: node id out of [0, 2^31): "),
                    F.col("u").cast("string"),
                )
            ).cast("long")
        )
        .alias("__okey"),
    )
    withk = (
        sym.join(okey.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("__okey", "__ku")
        .join(
            okey.select(F.col("node").alias("v"), F.col("__okey").alias("__kv")),
            "v",
        )
    )
    # orient low→high; keep the destination's key for wedge ordering.
    # oriented feeds BOTH wedge legs and the closing-edge probe (3x) —
    # pin it once, which also sidesteps a Spark 4.1 optimizer failure
    # ("key not found" in DeduplicateRelations) on the triple self-join
    # of one shared union-of-projections lineage
    oriented = withk.filter(F.col("__ku") < F.col("__kv")).select(
        F.col("u").alias("src"), F.col("v").alias("dst"), F.col("__kv").alias("__kd")
    ).transform(materialize, eager=False)
    a = oriented.select(
        F.col("src"), F.col("dst").alias("x"), F.col("__kd").alias("__kx")
    )
    b = oriented.select(
        F.col("src"), F.col("dst").alias("y"), F.col("__kd").alias("__ky")
    )
    # wedge (src; x, y) with x before y in the total order — the
    # closing edge, if present, is oriented exactly x→y, so one
    # equi-join on (x, y) finds it
    wedges = a.join(b, "src").filter(F.col("__kx") < F.col("__ky"))
    tri = wedges.join(
        oriented.select(F.col("src").alias("x"), F.col("dst").alias("y")),
        ["x", "y"],
    ).select("src", "x", "y")
    corners = tri.select(F.explode(F.array("src", "x", "y")).alias("node"))
    cnt = corners.groupBy("node").agg(F.count(F.lit(1)).alias("__n"))
    return nodes_all.join(cnt, "node", "left").select(
        "node", F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_triangles")
    )


def hits_nano(
    edges: DataFrame,
    iterations: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999 — public algorithm)
    with ENGINE-EXACT integer-nano arithmetic, like pagerank_nano:
    every score is held in integer nanos; the per-iteration L1
    normalization is round((CAST(x AS DOUBLE) * 1e9) / S) with a fixed
    parenthesization, so a fixed iteration count unrolls into plain SQL
    and both engines agree bit-for-bit.

    Per iteration: authority(i) = Σ_{j→i} hub(j), L1-normalized to 1e9
    total; then hub(j) = Σ_{j→i} auth(i), normalized the same. Each
    half is one edges⋈scores equi-join + one hash aggregation + one
    broadcast of a single-row sum — shuffles keyed on node, no driver
    state beyond nothing (even the totals stay in-plan).

    Returns (node, authority, hub) rounded to 9 places. Parallel
    edges count with multiplicity (standard adjacency-matrix HITS)."""
    if iterations < 1:
        raise ValueError("hits_nano needs iterations >= 1")
    edges = edges.select(
        F.col(src_col).alias("__s"), F.col(dst_col).alias("__d")
    ).transform(materialize)
    nodes = (
        edges.select(F.col("__s").alias("node"))
        .union(edges.select(F.col("__d").alias("node")))
        .distinct()
        .transform(materialize)
    )
    hub = nodes.withColumn("hub_nano", F.lit(1_000_000_000).cast("long"))

    def _normalize(raw: DataFrame, col: str) -> DataFrame:
        # filled feeds the L1 total AND the per-node division, and each
        # iteration's output feeds the next iteration's join — without a
        # materialize-once cut here the plan DOUBLES per normalize (the
        # deepest subtree re-executes ~2^(2·iterations) times; 21 jobs
        # measured at 2 iterations). materialize makes growth linear — the
        # canonical iterative lineage-truncation use.
        filled = nodes.join(raw, "node", "left").select(
            "node", F.coalesce(F.col("__x"), F.lit(0)).cast("long").alias("__x")
        ).transform(materialize, eager=False)
        total = filled.agg(F.sum("__x").alias("__sum"))
        return filled.crossJoin(F.broadcast(total)).select(
            "node",
            F.when(F.col("__sum") > 0,
                   F.round((F.col("__x").cast("double") * 1e9) / F.col("__sum")))
            .otherwise(F.lit(0))
            .cast("long")
            .alias(col),
        )

    auth = None
    for _ in range(iterations):
        araw = (
            edges.join(hub, edges["__s"] == hub["node"])
            .groupBy(F.col("__d").alias("node"))
            .agg(F.sum("hub_nano").alias("__x"))
        )
        auth = _normalize(araw, "auth_nano")
        hraw = (
            edges.join(auth, edges["__d"] == auth["node"])
            .groupBy(F.col("__s").alias("node"))
            .agg(F.sum("auth_nano").alias("__x"))
        )
        hub = _normalize(hraw, "hub_nano")
    return (
        nodes.join(auth, "node", "left")
        .join(hub, "node", "left")
        .select(
            "node",
            F.round(F.coalesce(F.col("auth_nano"), F.lit(0)) / 1e9, 9).alias("authority"),
            F.round(F.coalesce(F.col("hub_nano"), F.lit(0)) / 1e9, 9).alias("hub"),
        )
    )


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Semi-supervised label propagation (Zhu & Ghahramani 2002 /
    Raghavan et al. 2007 — public algorithms), made ENGINE-EXACT: per
    iteration each non-seed node adopts the label with the highest
    neighbor count, ties broken by SMALLEST label; seed nodes are
    clamped. Counts are exact integers and the argmax is a
    deterministic (count DESC, label ASC) pick, so a fixed iteration
    count unrolls into plain SQL — no float scores at all.

    Per iteration: one edges⋈labels equi-join, one (node, label) hash
    aggregation, one row_number window per node, one left join back to
    the node set — everything shuffles on node keys; nothing reaches
    the driver. Unlabeled nodes with no labeled neighbor stay null
    until reached (standard LPA wavefront).

    Returns (node, label) for every node in the graph."""
    from pyspark.sql.window import Window as W2

    e = edges.select(
        F.col(src_col).alias("__s"), F.col(dst_col).alias("__d")
    ).transform(materialize)
    sym = e.union(e.select(F.col("__d").alias("__s"), F.col("__s").alias("__d")))
    nodes = sym.select(F.col("__s").alias("node")).distinct().transform(materialize)
    # one label per seed node — conflicting seed rows would duplicate
    # every downstream join row; min() makes the resolution deterministic
    seed = materialize(
        seeds.select(F.col(node_col).alias("node"), F.col(label_col).alias("__seed"))
        .groupBy("node")
        .agg(F.min("__seed").alias("__seed")),
        eager=False,
    )
    cur = nodes.join(seed, "node", "left").select(
        "node", F.col("__seed"), F.col("__seed").alias("__lab")
    )
    for _ in range(iterations):
        votes = (
            sym.join(
                cur.select(F.col("node").alias("__d"), F.col("__lab")), "__d"
            )
            .where(F.col("__lab").isNotNull())
            .groupBy(F.col("__s").alias("node"), F.col("__lab"))
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        w = W2.partitionBy("node").orderBy(F.desc("__n"), F.asc("__lab"))
        pick = (
            votes.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") == 1)
            .select("node", F.col("__lab").alias("__pick"))
        )
        prev = cur.select("node", F.col("__lab").alias("__prev"))
        # cur feeds TWO consumers per iteration (this round's votes and
        # the keep-previous fallback) — materialize each round's state
        # or the unrolled plan re-executes the prior round's chain
        # twice per iteration (the hits_nano normalize shape)
        cur = materialize(
            nodes.join(seed, "node", "left")
            .join(pick, "node", "left")
            .join(prev, "node", "left")
            .select(
                "node",
                F.col("__seed"),
                # clamp seeds; else this round's majority; else keep the
                # previous label (a node with no labeled neighbor this
                # round must not lose what it already learned)
                F.coalesce(
                    F.col("__seed"), F.col("__pick"), F.col("__prev")
                ).alias("__lab"),
            ),
            eager=False,
        )
    return cur.select("node", F.col("__lab").alias("label"))


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """k-core peeling (Seidman 1983 — public algorithm): repeatedly
    drop nodes with degree < k from the undirected graph; the survivors
    after convergence are the k-core. Semantics here are "the state
    after `rounds` peel rounds" — a FIXED round count, so the operator
    unrolls into plain SQL for the oracle; peeling is monotone, so once
    two consecutive rounds agree the state is the true k-core (pytest
    asserts convergence on the gated graph; at 100 TB pick rounds ~
    O(log n) or loop on a count like connected_components).

    Per round: one symmetric-degree aggregation + one semi-join of the
    edge set against surviving nodes — everything shuffles on node
    keys. Returns (node, degree) for surviving nodes with their final
    in-core degree."""
    e = _canon(edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v")))
    e = e.transform(materialize)
    for _ in range(rounds):
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("__deg"))
        # keep feeds both semi-joins, but a materialize cut here measured
        # SLOWER (r15 A/B 1.45 -> 1.64 s): the two consumers share one
        # partitioning, so ReusedExchange already computes deg once —
        # unlike the hits_nano normalize, whose consumers diverge
        keep = deg.where(F.col("__deg") >= k).select(F.col("u").alias("node"))
        e = (
            e.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
            .transform(materialize, eager=False)
        )
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return (
        sym.groupBy(F.col("u").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )


def degree_assortativity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    round_to: int = 6,
) -> DataFrame:
    """Degree assortativity (Newman 2002 — public measure): the Pearson
    correlation of endpoint degrees over the undirected edge list —
    "do hubs attach to hubs" (positive, social-graph-like) or "to
    leaves" (negative, hub-and-spoke), the one-number structure check
    before committing a graph algorithm choice. Computed as
    functions.moment_stats over the symmetric (deg_u, deg_v) edge
    rows — EXACT integer-unit moment sums, so the correlation is
    partitioning- and engine-independent bit-for-bit.

    One degree aggregation + two joins back to the edge list + one
    moment aggregation, all keyed on nodes/edges."""
    from table_computing_spark import functions as tcf

    e = _canon(edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v")))
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = sym.transform(materialize, eager=False)
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("__deg"))
    both = (
        sym.join(deg, "u")
        .withColumnRenamed("__deg", "du")
        .join(
            deg.select(F.col("u").alias("v"), F.col("__deg").alias("dv")), "v"
        )
        .select(F.lit(1).alias("__g"), "du", "dv")
    )
    out = tcf.moment_stats(both, "du", "dv", ["__g"], x_scale=0, y_scale=0)
    return out.select(
        F.col("n").alias("n_directed_edges"),
        F.col("corr_xy").alias("assortativity"),
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Breadth-first hop distance from a seed set over the undirected
    graph, bounded at `max_hops` (the "within k degrees of a known-bad
    account / contaminated document" reachability query). Returns
    (node, hops) for every node reached within the bound — exact
    integers, so a fixed bound unrolls into plain SQL.

    Per hop: one frontier⋈edges equi-join + one min-aggregation,
    union'd into the visited set and min-reduced — everything shuffles
    on node keys; the frontier is the only state and it lives in the
    cluster. At 100 TB this is the k-bounded alternative to a full
    connected_components run when only proximity matters."""
    e = edges.select(
        F.col(src_col).alias("__s"), F.col(dst_col).alias("__d")
    ).transform(materialize, eager=False)
    sym = e.union(e.select(F.col("__d").alias("__s"), F.col("__s").alias("__d")))
    visited = seeds.select(F.col(node_col).alias("node")).distinct().select(
        "node", F.lit(0).alias("hops")
    ).transform(materialize, eager=False)
    frontier = visited
    for h in range(1, max_hops + 1):
        reached = (
            sym.join(
                frontier.select(F.col("node").alias("__s")), "__s"
            )
            .select(F.col("__d").alias("node"))
            .distinct()
            .withColumn("hops", F.lit(h))
        )
        visited = (
            visited.union(reached)
            .groupBy("node")
            .agg(F.min("hops").alias("hops"))
            .transform(materialize, eager=False)
        )
        frontier = visited.where(F.col("hops") == h)
    return visited


def adamic_adar(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_degree: "int | None" = 10_000,
    round_to: int = 6,
) -> DataFrame:
    """Link prediction by Adamic–Adar common-neighbor weighting
    (Adamic & Adar 2003, public): for each NON-adjacent pair (a, b)
    sharing at least one neighbor,

        score(a, b) = Σ_{w ∈ N(a) ∩ N(b)} 1 / ln(deg(w))

    — hubs count for less, mutual rare friends count for more. The
    standard candidate generator for "people/items you may know".

    Scale shape: wedges are enumerated AT the common neighbor w
    (adjacency self-join on w), so a degree-d node emits d² wedge
    rows — the same hub cliff as triangle counting. `max_degree`
    (default 10,000) drops wedge CENTERS above it: a standard AA
    truncation, honest because a 10k-degree hub contributes at most
    1/ln(10⁴) ≈ 0.1 per pair while costing 10⁸ rows; pass None for the
    exact scores on bounded-degree graphs. Already-adjacent pairs are
    anti-joined out (they're edges, not predictions).

    Engine-exactness: degrees are exact integers over the symmetrized
    DISTINCT edge set; each wedge term is rounded to integer PICOS
    (1e12) and summed exactly — no float-order dependence; ln matches
    libm across engines (repo rule). Output: (id_a, id_b, n_common,
    score), id_a < id_b."""
    e = edges.select(
        F.col(src_col).alias("__s"), F.col(dst_col).alias("__d")
    ).filter(F.col("__s") != F.col("__d"))
    sym = (
        e.union(e.select(F.col("__d").alias("__s"), F.col("__s").alias("__d")))
        .distinct()
        .transform(materialize, eager=False)
    )
    deg = sym.groupBy(F.col("__s").alias("__w")).agg(
        F.count(F.lit(1)).alias("__deg")
    )
    # a wedge center needs >= 2 neighbors; filtering deg-1 nodes here
    # also keeps the 1/ln(deg) term total (ln 1 = 0 would divide by
    # zero in the projection BEFORE the pair join prunes those rows —
    # ANSI mode turns that into a runtime error, plan-dependent)
    centers = deg.filter(F.col("__deg") >= 2)
    if max_degree is not None:
        centers = centers.filter(F.col("__deg") <= int(max_degree))
    # adjacency keyed by the wedge center, with the center's degree
    adj = sym.select(F.col("__s").alias("__w"), F.col("__d").alias("__n")).join(
        centers, "__w"
    )
    term_pico = F.round(F.lit(1e12) / F.log(F.col("__deg").cast("double"))).cast(
        "long"
    )
    left = adj.select("__w", F.col("__n").alias("id_a"), term_pico.alias("__t"))
    right = adj.select("__w", F.col("__n").alias("id_b"))
    # Pre-spread the probe side of the wedge join on (center, neighbor):
    # the join builds/broadcasts `right`, so the d² wedge blow-up runs
    # at the LEFT side's parallelism — which AQE has just coalesced to a
    # couple of partitions because the adjacency itself is tiny (AQE
    # sizes the exchange on its input bytes, blind to the downstream
    # fan-out; measured 3 tasks carrying an 11M-row wedge stage at
    # sf0.1). (w, id_a) has far more distinct values than partitions,
    # so hot centers spread instead of hashing to one task (§2.5).
    #
    # r14 ADVICE pin: the (__w, id_a) spread only helps when `right` IS
    # broadcast — under a sort-merge/shuffled-hash join the wedge join
    # requires hashpartitioning(__w), so the spread would be replaced by
    # another exchange and be pure waste. Catalyst's static estimate for
    # the checkpointed `sym` is "unknown = huge" (the r14 plan's
    # BroadcastHashJoin came from AQE's RUNTIME conversion), so decide
    # both together from an exact count of the canonical edge set
    # instead: counting `sym` materializes the lazy checkpoint the query
    # needs anyway, so the probe's cost is reused, and adjacency rows
    # are bounded by that count. Small adjacency (bounded-degree graphs
    # after the max_degree cut) pins the broadcast and spreads the
    # probe; a huge one keeps the planner's shuffle join and skips the
    # spread (AQE skew-split handles hub centers there).
    from table_computing_spark.operators._util import _broadcast_threshold_bytes

    # conservative broadcast-row width: 8B header + 8B per numeric id,
    # 24B per string/other id (PySpark exposes no defaultSize)
    row_w = 8 + sum(
        8 if f.dataType.typeName() in ("long", "integer", "short", "byte", "double", "float")
        else 24
        for f in right.schema.fields
    )
    if sym.count() * row_w <= _broadcast_threshold_bytes(edges.sparkSession):
        right = F.broadcast(right)
        left = left.repartition(
            edges.sparkSession.sparkContext.defaultParallelism, "__w", "id_a"
        )
    wedges = left.join(right, "__w").filter(F.col("id_a") < F.col("id_b"))
    scored = wedges.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.sum("__t").alias("__st"),
    )
    existing = sym.select(
        F.least("__s", "__d").alias("id_a"), F.greatest("__s", "__d").alias("id_b")
    ).distinct()
    return scored.join(existing, ["id_a", "id_b"], "left_anti").select(
        "id_a", "id_b", "n_common",
        F.round(F.col("__st") / 1e12, round_to).alias("score"),
    )


def sssp_weighted(
    edges: DataFrame,
    source: int,
    rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
) -> DataFrame:
    """Single-source shortest paths with positive INTEGER edge weights,
    by `rounds` Bellman–Ford relaxation sweeps (Bellman 1958, public):
    after r sweeps every node reachable by a shortest path of ≤ r
    edges carries its exact final distance — the bounded-hop contract,
    same spirit as bfs_hops. Directed; union the reverse edges for an
    undirected read.

    Per sweep: one dist⋈edges equi-join on the edge source + one
    min-aggregation keyed by node — all shuffles on node keys, state
    is one (node, dist) row per reached node, lineage cut per sweep.
    Exact integers end to end. Output: (node, dist), unreachable
    (within the bound) nodes absent."""
    e = edges.select(
        F.col(src_col).alias("__s"),
        F.col(dst_col).alias("__d"),
        F.col(weight_col).cast("long").alias("__w"),
    ).transform(materialize, eager=False)
    dist = (
        e.sparkSession.createDataFrame([(int(source), 0)], "node long, dist long")
        .transform(materialize, eager=False)
    )
    for _ in range(rounds):
        relaxed = (
            dist.join(e, dist["node"] == e["__s"])
            .select(F.col("__d").alias("node"), (F.col("dist") + F.col("__w")).alias("dist"))
        )
        dist = (
            dist.union(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .transform(materialize, eager=False)
        )
    return dist


def topo_layers(
    edges: DataFrame,
    rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Topological layering of a DAG by bounded longest-path sweeps
    (Kahn 1962's level structure, public): layer(v) = 0 for sources
    (no incoming edge), else 1 + max(layer(pred)). After `rounds`
    sweeps every node whose longest incoming path is ≤ rounds edges
    carries its exact final layer — the bounded-hop contract shared
    with bfs_hops/sssp_weighted (deeper nodes still hold their
    current lower bound; pass a rounds ≥ the DAG depth for the full
    order). The build-scheduling / dependency-ordering primitive:
    layer k = everything runnable in wave k.

    Cycles never terminate a true topo sort; here they simply keep
    ratcheting until the bound — the output is still the exact
    longest-path-≤-rounds value, which a caller can use to DETECT
    cycles (a node at layer == rounds on a graph known shallower).

    Per sweep: one layers⋈edges equi-join + one max-aggregate, all
    shuffled on node keys; exact integers. Output: (node, layer)."""
    e = edges.select(
        F.col(src_col).alias("__s"), F.col(dst_col).alias("__d")
    ).transform(materialize, eager=False)
    nodes = (
        e.select(F.col("__s").alias("node"))
        .union(e.select(F.col("__d").alias("node")))
        .distinct()
        .transform(materialize, eager=False)
    )
    layers = nodes.select("node", F.lit(0).alias("layer"))
    for _ in range(rounds):
        bumped = (
            layers.join(e, layers["node"] == e["__s"])
            .select(F.col("__d").alias("node"), (F.col("layer") + 1).alias("layer"))
        )
        layers = (
            layers.union(bumped)
            .groupBy("node")
            .agg(F.max("layer").alias("layer"))
            .transform(materialize, eager=False)
        )
    return layers


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
    round_to: int = 6,
) -> DataFrame:
    """Newman modularity of a given partition (Newman & Girvan 2004,
    public) over an undirected simple graph:

        Q = Σ_c [ e_c/m − (d_c / 2m)² ]

    with m the edge count, e_c the edges INSIDE community c, d_c the
    degree sum of c's nodes. The quality readout for label_propagation
    / dedup_groups output — "did the clustering actually concentrate
    edges?".

    Exact integer counts end to end (edges are canonicalized + deduped
    like connected_components' input); each community's term is a
    fixed-order double expression into nano longs, the total one exact
    long sum — engine-portable. Nodes missing from `labels` form the
    implicit community NULL (their internal edges count; the standard
    treatment is to label every node).

    Scale shape: one edge⋈labels join per endpoint (shuffle on node),
    two hash aggregates — never materializes anything denser than the
    edge list. Output: one row per community (label, n_nodes, e_in,
    degree_sum, q_term) plus the repeated total via q_total."""
    from pyspark.sql.window import Window as W

    e = _canon(
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    ).select(F.col("u").alias("src"), F.col("v").alias("dst"))
    lab = labels.select(
        F.col(node_col).alias("__n"), F.col(label_col).alias("__c")
    ).groupBy("__n").agg(F.min("__c").alias("__c"))
    tagged = (
        e.join(lab.withColumnRenamed("__n", "src"), "src", "left")
        .withColumnRenamed("__c", "__ca")
        .join(lab.withColumnRenamed("__n", "dst"), "dst", "left")
        .withColumnRenamed("__c", "__cb")
    )
    m = tagged.count()
    if m == 0:
        raise ValueError(
            "modularity: the canonicalized edge set is empty — Q is "
            "undefined with m = 0 edges"
        )
    deg = (
        tagged.select(F.col("__ca").alias("label"))
        .union(tagged.select(F.col("__cb").alias("label")))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("degree_sum"))
    )
    e_in = (
        tagged.filter(F.col("__ca").eqNullSafe(F.col("__cb")))
        .groupBy(F.col("__ca").alias("label"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    nn = lab.groupBy(F.col("__c").alias("label")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    per = (
        deg.join(e_in, "label", "left")
        .join(nn, "label", "left")
        .fillna(0, subset=["e_in", "n_nodes"])
    )
    md = float(m)
    frac = F.col("degree_sum").cast("double") / F.lit(2.0 * md)
    term = F.col("e_in").cast("double") / F.lit(md) - frac * frac
    per = per.withColumn("__tn", F.round(term * 1e9).cast("long"))
    total = F.sum("__tn").over(W.partitionBy())  # <= |communities| rows
    return per.select(
        "label", "n_nodes", "e_in", "degree_sum",
        F.round(F.col("__tn").cast("double") / 1e9, round_to).alias("q_term"),
        F.round(total.cast("double") / 1e9, round_to).alias("q_total"),
    )


def clustering_coefficient(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    round_to: int = 6,
) -> DataFrame:
    """Local clustering coefficient per node (Watts & Strogatz 1998,
    public): the fraction of a node's neighbor pairs that are
    themselves connected,

        cc(v) = 2 · triangles(v) / (deg(v) · (deg(v) − 1))

    — the community-density readout next to modularity (global
    partition quality) and triangle_counts (the raw closure counts).

    Scale shape: triangle counts come from triangle_counts above
    (degree-ordered orientation, wedge volume O(m^1.5) — the hub-proof
    bound); degrees are one hash aggregate over the canonical edge
    set. Both are exact longs; one division per node row, rounded
    once. Degree-0/1 nodes (no neighbor pair exists) report NULL —
    undefined, not 0. Output: (node, degree, n_triangles,
    clustering)."""
    e = _canon(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    e = e.transform(materialize, eager=False)  # feeds degrees AND triangles
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    tri = triangle_counts(e)
    d = F.col("degree").cast("double")
    cc = F.when(
        F.col("degree") >= 2,
        F.lit(2.0) * F.col("n_triangles").cast("double") / (d * (d - 1.0)),
    )
    return deg.join(tri, "node").select(
        "node", "degree", "n_triangles", F.round(cc, round_to).alias("clustering")
    )
