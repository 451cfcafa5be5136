"""Spatial blocking operators: radius joins and nearest neighbors on
planar coordinates via grid-cell partitioning.

The 100 TB shape for "find everything within distance r" is the same
bucket-equi-join discipline as the LSH/near-dup family: points land in
`r`-sized grid cells, one side probes its 3×3 cell neighborhood, and
candidates meet in a (cell_x, cell_y) equi-join — never a cross join.
Correctness is by construction: two points within distance r differ by
at most r per axis, so their cells differ by at most 1 per axis and
every qualifying pair meets in exactly one (probe cell == build cell)
combination when the probe side explodes its 9 neighbors.

Everything here is integer-exact (squared distances compared against
r² — no sqrt, no floats), so results hash bit-for-bit across engines.
The reference has no spatial operators; this family exists because
radius joins/dedup-by-location are standard steps in large-scale
training-data pipelines (geo dedup, sensor correlation) and the grid
join is the Spark-idiomatic way to express them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _cell(c: Column, size: int) -> Column:
    # floor division that matches SQL floor() for negatives
    return F.floor(c / F.lit(size)).cast("long")


# _spread before the (2·ring+1)²-way kNN cell fan-out: one round-robin
# shuffle of the narrow (id, x, y) rows is far cheaper than serializing
# the exploded rows from a single scan task (shared helper, r14 ADVICE).
from table_computing_spark.operators._util import _spread, materialize


def grid_radius_join(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    radius: int,
) -> DataFrame:
    """All pairs (id_a < id_b, d2) with squared planar distance
    d2 = (xa−xb)² + (ya−yb)² ≤ radius². Coordinates must be integral
    (scale floats to an integer grid first — exactness is the point).

    Shape: cell assignment is a projection; the probe side explodes its
    9-cell neighborhood (9 rows per point, constant); candidates come
    from one (cell_x, cell_y) equi-join whose per-cell cost is bounded
    by local density, not corpus size. Each qualifying pair meets
    exactly once — the probe row of the SMALLER id in the build cell of
    the larger — so there is no dedup pass. (No _spread here: the 9-cell
    fan-out is small and this join often feeds plans that re-derive the
    pair set on several branches — an alternating A/B at sf0.1 measured
    the extra exchange ~1 s SLOWER for grid_dbscan, unlike the 49-cell
    kNN probe where the spread wins.)"""
    pt = df.select(
        F.col(id_col).alias("__id"),
        F.col(x_col).cast("long").alias("__x"),
        F.col(y_col).cast("long").alias("__y"),
    )
    probe = pt.select(
        "__id", "__x", "__y",
        F.explode(
            F.array(*[
                F.struct(
                    (_cell(F.col("__x"), radius) + F.lit(dx)).alias("cx"),
                    (_cell(F.col("__y"), radius) + F.lit(dy)).alias("cy"),
                )
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ])
        ).alias("__c"),
    ).select(
        F.col("__id").alias("id_a"), F.col("__x").alias("xa"),
        F.col("__y").alias("ya"), F.col("__c.cx").alias("cx"),
        F.col("__c.cy").alias("cy"),
    )
    build = pt.select(
        F.col("__id").alias("id_b"), F.col("__x").alias("xb"),
        F.col("__y").alias("yb"),
        _cell(F.col("__x"), radius).alias("cx"),
        _cell(F.col("__y"), radius).alias("cy"),
    )
    dx = F.col("xa") - F.col("xb")
    dy = F.col("ya") - F.col("yb")
    d2 = dx * dx + dy * dy
    return (
        probe.join(build, ["cx", "cy"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(d2 <= F.lit(int(radius) * int(radius)))
        .select("id_a", "id_b", d2.alias("d2"))
    )


def grid_knn_join(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    k: int,
    cell_size: "int | str" = "auto",
    max_ring: int = 3,
    queries: "DataFrame | None" = None,
) -> DataFrame:
    """Approximate k nearest neighbors per query point from its grid
    neighborhood: candidates are the corpus points within `max_ring`
    cells (a (2·max_ring+1)² block), ranked by exact squared distance
    with id tiebreak. Exact whenever each query's true k-NN lie within
    max_ring·cell_size per axis (pick cell_size ≈ expected k-NN radius;
    the ring bound is the documented recall contract, same spirit as
    lsh_topk's bucket contract).

    `cell_size="auto"` (default) is the scale-safe sizing: a FIXED
    cell is the fixed-bucket-count scale bug again — at 100× the
    density the ring covers 100× the points and the candidate join
    goes quadratic (the r09 sweep hung exactly there). auto targets
    ~k points per cell from the data's own bounding box:
    cell = max(1, round(sqrt(area·k/N))), so ring candidates stay
    O(ring²·k) per query at any density. Costs one bounds-aggregate
    scan.

    `queries` (default: df itself) bounds WHICH points get neighbors —
    pass a fixed sample when the verification side must not scale with
    the corpus (the q_pq_recall rule).

    Hotspot contract (r09 verdict finding #3): auto sizes cells from
    the GLOBAL bounding box, so it assumes roughly uniform density. A
    hotspot cluster with local density ρ× the global average puts ~k·ρ
    points in each of its cells, and its queries pay ring²·k·ρ
    candidates — the degradation is a CONSTANT factor bounded by the
    density ratio, not by corpus size: as N grows at fixed density
    shape, auto shrinks the cell (∝ 1/√N) and hotspot occupancy stays
    flat, so total candidate count grows LINEARLY in N
    (tests/test_skew_stress.py::test_grid_knn_hotspot_candidates_linear
    pins both properties on an 80%-of-points-in-1%-of-area fixture).
    The hot cells are also shuffle-skewed; the candidate equi-join is a
    plain hash/sort-merge join, so AQE's skew-join split spreads them
    across tasks. If the density ratio itself is extreme (ρ ≫ 100),
    pass an explicit smaller cell_size for the dense region's scale —
    sparse-region queries then degrade per the ring recall contract.

    Shape: constant fan-out probe explode → cell equi-join →
    per-query window on the bounded candidate set (PARTITIONED by
    query id — never global)."""
    from pyspark.sql.window import Window as W

    cand = _knn_candidates(df, id_col, x_col, y_col, k, cell_size, max_ring, queries)
    w = W.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id").asc()
    )
    return cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _knn_candidates(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    k: int,
    cell_size: "int | str",
    max_ring: int,
    queries: "DataFrame | None",
) -> DataFrame:
    """The candidate set grid_knn_join ranks: (query_id, neighbor_id,
    d2) for every corpus point in each query's ring neighborhood.
    Factored out so the skew test can assert candidate-count bounds
    directly."""
    pt = _spread(df.select(
        F.col(id_col).alias("__id"),
        F.col(x_col).cast("long").alias("__x"),
        F.col(y_col).cast("long").alias("__y"),
    ))
    if cell_size == "auto":
        b = pt.agg(
            F.min("__x").alias("x0"), F.max("__x").alias("x1"),
            F.min("__y").alias("y0"), F.max("__y").alias("y1"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        if not b["n"]:
            cell_size = 1  # empty corpus: any cell works, result is empty
        else:
            area = max(1, (b["x1"] - b["x0"] + 1)) * max(
                1, (b["y1"] - b["y0"] + 1)
            )
            import math as _m

            cell_size = max(1, int(round(_m.sqrt(area * k / b["n"]))))
    qpt = pt if queries is None else _spread(queries.select(
        F.col(id_col).alias("__id"),
        F.col(x_col).cast("long").alias("__x"),
        F.col(y_col).cast("long").alias("__y"),
    ))
    ring = range(-max_ring, max_ring + 1)
    probe = qpt.select(
        "__id", "__x", "__y",
        F.explode(
            F.array(*[
                F.struct(
                    (_cell(F.col("__x"), cell_size) + F.lit(dx)).alias("cx"),
                    (_cell(F.col("__y"), cell_size) + F.lit(dy)).alias("cy"),
                )
                for dx in ring
                for dy in ring
            ])
        ).alias("__c"),
    ).select(
        F.col("__id").alias("query_id"), F.col("__x").alias("xa"),
        F.col("__y").alias("ya"), F.col("__c.cx").alias("cx"),
        F.col("__c.cy").alias("cy"),
    )
    build = pt.select(
        F.col("__id").alias("neighbor_id"), F.col("__x").alias("xb"),
        F.col("__y").alias("yb"),
        _cell(F.col("__x"), cell_size).alias("cx"),
        _cell(F.col("__y"), cell_size).alias("cy"),
    )
    dx = F.col("xa") - F.col("xb")
    dy = F.col("ya") - F.col("yb")
    return (
        probe.join(build, ["cx", "cy"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", (dx * dx + dy * dy).alias("d2"))
    )


def dbscan_eps_estimate(
    df: DataFrame,
    x_col: str,
    y_col: str,
    min_pts: int = 4,
    scale: float = 1.0,
) -> int:
    """Suggested DBSCAN eps = the uniform-density k-NN radius for
    k = min_pts, estimated from one bounds-aggregate scan (the same
    machinery grid_knn_join's cell_size="auto" uses):

        density ρ = N / area
        r_k      = sqrt(k / (π·ρ)) = sqrt(k·area / (π·N))

    This is the eps-advisor for the adjudicated grid_dbscan cost
    contract (PLANS.md r10): a FIXED eps on a densifying fixed-extent
    cloud grows the eps-graph ~N² (the r10 s1 sweep OOM'd exactly
    there), while the k-NN radius shrinks ∝ 1/√density and keeps the
    average eps-neighborhood — and so the edge count per point —
    constant. eps stays a SEMANTIC parameter: the estimate anchors the
    DENSITY scaling; multiply by `scale` (or pass an explicit eps) to
    reach the cluster scale you actually mean."""
    import math as _m

    b = df.select(
        F.col(x_col).cast("long").alias("__x"),
        F.col(y_col).cast("long").alias("__y"),
    ).agg(
        F.min("__x").alias("x0"), F.max("__x").alias("x1"),
        F.min("__y").alias("y0"), F.max("__y").alias("y1"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    if not b["n"]:
        return 1
    area = max(1, (b["x1"] - b["x0"] + 1)) * max(1, (b["y1"] - b["y0"] + 1))
    return max(1, int(round(scale * _m.sqrt(min_pts * area / (_m.pi * b["n"])))))


def grid_dbscan(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: "int | str",
    min_pts: int = 4,
) -> DataFrame:
    """DBSCAN (Ester et al. 1996, public) with the eps-neighborhood
    search done by the grid radius join — density clustering at corpus
    scale with no KD-tree and no cross join.

        core    |N_eps(p)| ≥ min_pts (the point counts itself)
        cluster connected components of the core-core eps-graph,
                labeled by the component's MINIMUM core id
        border  non-core within eps of ≥1 core — assigned to the
                SMALLEST neighboring core's cluster (classic DBSCAN
                leaves border ties to scan order; the min rule makes
                the result deterministic and engine-portable)
        noise   everything else (cluster NULL)

    Output: (id, role, cluster). Integer coordinates, exact distances
    (the grid_radius_join contract).

    Scale shape: one radius join (cell equi-join, density-bound), one
    neighbor-count aggregate, connected components over CORE-CORE
    edges only (large-star/small-star, linear in edges), one min-
    aggregate for borders — all shuffles on point/cell ids.

    Cost contract (measured — the r10 sweep OOM'd the naive config):
    the eps-graph holds ~N·density·π·eps² edges. eps is a SEMANTIC
    parameter (it defines the clustering), so the operator never
    rescales it — but the caller must: on a corpus whose density grows
    (more points, same extent), a fixed eps grows the edge set
    quadratically in N. Size eps to the cluster scale you mean
    (≈ the expected k-NN radius, shrinking ∝ 1/√density); the
    density-scaled sweep row (.scale/sweep_r10.json) is ~linear.

    `eps="auto"` (r10 verdict task 5) applies that sizing rule instead
    of leaving it as prose: eps = dbscan_eps_estimate(df, x, y,
    min_pts), the uniform-density min_pts-NN radius — the safe-at-any-
    density default. Pass an explicit eps whenever the cluster scale
    you mean is known (it is the semantic knob)."""
    from table_computing_spark.operators.graph import connected_components

    if eps == "auto":
        eps = dbscan_eps_estimate(df, x_col, y_col, min_pts)
    pts = df.select(F.col(id_col).alias("id"))
    # pairs/sym/flagged are each consumed by several downstream branches
    # (neighbor counts, core-edge derivation, border assignment, final
    # role join); without a materialize-once cut Spark re-derives the
    # radius-join subtree on every branch — a same-session alternating
    # A/B read the cuts ~1.5-2.5 s faster per run at sf0.1 with
    # bit-identical output (r14; house pattern, cf. evaluation.py's
    # reused-subtree checkpoints).
    pairs = materialize(grid_radius_join(df, id_col, x_col, y_col, eps), eager=False)
    sym = materialize(
        pairs.select(F.col("id_a").alias("id"), F.col("id_b").alias("nb"))
        .union(pairs.select(F.col("id_b").alias("id"), F.col("id_a").alias("nb"))),
        eager=False,
    )
    counts = sym.groupBy("id").agg(F.count(F.lit(1)).alias("__n"))
    flagged = materialize(
        pts.join(counts, "id", "left")
        .select(
            "id",
            (F.coalesce(F.col("__n"), F.lit(0)) + 1 >= min_pts).alias("__core"),
        ),
        eager=False,
    )
    cores = flagged.filter("__core").select("id")
    core_edges = (
        pairs.join(cores.select(F.col("id").alias("id_a")), "id_a")
        .join(cores.select(F.col("id").alias("id_b")), "id_b")
        .select("id_a", "id_b")
    )
    comp = connected_components(core_edges, "id_a", "id_b")
    # isolated cores (no core neighbor) form their own singleton cluster
    core_lab = cores.join(
        comp.withColumnRenamed("node", "id"), "id", "left"
    ).select("id", F.coalesce(F.col("component"), F.col("id")).alias("cluster"))
    border_lab = (
        sym.join(flagged.filter(~F.col("__core")), "id")
        .join(core_lab.select(F.col("id").alias("nb"), "cluster"), "nb")
        .groupBy("id")
        .agg(F.min("cluster").alias("cluster"))
    )
    return (
        flagged.join(
            core_lab.unionByName(border_lab.select("id", "cluster")), "id", "left"
        )
        .select(
            "id",
            F.when(F.col("__core"), F.lit("core"))
            .when(F.col("cluster").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            "cluster",
        )
    )
