"""Round-11 operator tests: the eps advisor (r10 verdict task 5), the
r10 advice fixes that changed behavior, and new r11 operators."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _hash_cloud(spark, n: int):
    """The sweep fixture shape (PLANS.md, "Round-10 two-scale sweep"):
    pseudo-random points on a FIXED 100000x100000 extent — more rows
    = denser, the exact regime where a fixed eps OOMs the eps-graph."""
    return spark.range(1, n + 1).select(
        F.col("id"),
        ((F.col("id") * 7919) % 100000).alias("x"),
        ((F.col("id") * 104729) % 100000).alias("y"),
    )


def test_dbscan_eps_estimate_tracks_inverse_sqrt_density(spark):
    """The advisor must encode the adjudicated sizing rule (PLANS.md
    r10): eps ∝ 1/sqrt(density) at fixed extent — the same 1/sqrt(10)
    step the r10 sweep applied by hand (eps 5000 @ s0.1 -> 1581 @ s1)."""
    from table_computing_spark.operators.spatial import dbscan_eps_estimate

    e_small = dbscan_eps_estimate(_hash_cloud(spark, 1_500), "x", "y", min_pts=8)
    e_big = dbscan_eps_estimate(_hash_cloud(spark, 15_000), "x", "y", min_pts=8)
    # closed form on the fixture: sqrt(k * area / (pi * N))
    expect_small = math.sqrt(8 * 100000 * 100000 / (math.pi * 1_500))
    # the empirical bounding box is slightly inside the full extent
    assert abs(e_small - expect_small) / expect_small < 0.02
    ratio = e_small / e_big
    assert abs(ratio - math.sqrt(10)) < 0.2, (e_small, e_big)


def test_grid_dbscan_eps_auto_runs_and_matches_explicit(spark):
    from table_computing_spark.operators.spatial import (
        dbscan_eps_estimate,
        grid_dbscan,
    )

    pts = _hash_cloud(spark, 400)
    eps = dbscan_eps_estimate(pts, "x", "y", min_pts=4)
    auto = grid_dbscan(pts, "id", "x", "y", eps="auto", min_pts=4)
    manual = grid_dbscan(pts, "id", "x", "y", eps=eps, min_pts=4)
    assert sorted(map(tuple, auto.collect())) == sorted(map(tuple, manual.collect()))


def test_js_divergence_empty_side_raises(spark):
    """r10 advice: an empty side used to return a silently all-NULL
    report; it must fail loudly like srm_check/diff_in_diff."""
    from table_computing_spark.operators.drift import js_divergence

    old = spark.range(10).select((F.col("id") * 1.0).alias("v"))
    new = spark.range(0).select((F.col("id") * 1.0).alias("v"))
    with pytest.raises(ValueError, match="js_divergence"):
        js_divergence(old, new, "v", 0.0, 10.0, bins=4)
    # all-NULL counts as empty too (buckets clamp, so only non-null
    # row count can be zero)
    nulls = spark.range(5).select(F.lit(None).cast("double").alias("v"))
    with pytest.raises(ValueError, match="js_divergence"):
        js_divergence(old, nulls, "v", 0.0, 10.0, bins=4)


def test_binpack_bin_is_exact_integer_division(spark):
    """r10 advice: bin must come from long `div`, not a double detour —
    exactness above 2^53 cumulative bytes is the documented contract."""
    from table_computing_spark.sources.compaction import binpack_plan

    big = 1 << 55  # above double's exact-integer range
    files = spark.createDataFrame(
        [("p", f"f{i}", big) for i in range(4)],
        "part string, name string, sz long",
    )
    plan = binpack_plan(files, ["part"], name_col="name", size_col="sz",
                        target_bytes=big + 1)
    rows = {r["name"]: (r["bin"], r["offset"]) for r in plan.collect()}
    # offsets are 0, big, 2*big, 3*big; exact division by big+1 gives
    # bins 0, 0, 1, 2 — a double detour would misplace the boundaries
    assert [rows[f"f{i}"][1] for i in range(4)] == [0, big, 2 * big, 3 * big]
    assert [rows[f"f{i}"][0] for i in range(4)] == [0, 0, 1, 2]


# --- r11 new-operator goldens (hand-computed) ---------------------------


def test_roc_auc_separable_and_ties(spark):
    from table_computing_spark.operators.evaluation import roc_auc

    sep = spark.createDataFrame(
        [(0.1, 0), (0.2, 0), (0.3, 1), (0.4, 1)], "s double, y int"
    )
    row = roc_auc(sep, F.col("y"), F.col("s")).first()
    assert (row["auc"], row["n_pos"], row["n_neg"]) == (1.0, 2, 2)
    # tie at score 1: midrank 1.5 for the positive -> AUC 0.75
    tied = spark.createDataFrame([(1.0, 0), (1.0, 1), (2.0, 1)], "s double, y int")
    assert roc_auc(tied, F.col("y"), F.col("s")).first()["auc"] == 0.75


def test_classification_report_golden(spark):
    from table_computing_spark.operators.evaluation import classification_report

    df = spark.createDataFrame(
        [("a", "a"), ("a", "b"), ("b", "b")], "l string, p string"
    )
    got = {
        r["clazz"]: (r["support"], r["precision"], r["recall"], r["f1"])
        for r in classification_report(df, F.col("l"), F.col("p")).collect()
    }
    assert got["a"] == (2, 1.0, 0.5, 0.666667)
    assert got["b"] == (1, 0.5, 1.0, 0.666667)
    assert got["__macro__"] == (3, 0.75, 0.75, 0.666667)


def test_ndcg_perfect_and_reversed(spark):
    import math

    from table_computing_spark.operators.evaluation import ndcg_at_k

    # perfect ranking -> ndcg 1.0
    perfect = spark.createDataFrame(
        [("q", 1, 9.0, 3), ("q", 2, 8.0, 2), ("q", 3, 7.0, 0)],
        "query string, item int, score double, rel int",
    )
    assert ndcg_at_k(perfect, "query", "item", F.col("score"),
                     F.col("rel"), k=10).first()["ndcg"] == 1.0
    # reversed ranking -> hand-computed ln-discount ratio
    rev = spark.createDataFrame(
        [("q", 1, 1.0, 3), ("q", 2, 2.0, 2), ("q", 3, 3.0, 0)],
        "query string, item int, score double, rel int",
    )
    def nano(g, pos):
        return round(g / math.log(pos + 1) * 1e9)
    dcg = nano(0, 1) + nano(3, 2) + nano(7, 3)
    idcg = nano(7, 1) + nano(3, 2) + nano(0, 3)
    want = round(dcg / idcg, 6)
    assert ndcg_at_k(rev, "query", "item", F.col("score"),
                     F.col("rel"), k=10).first()["ndcg"] == want


def test_rouge2_clipped_overlap(spark):
    from table_computing_spark.operators.evaluation import rouge_n

    pairs = spark.createDataFrame(
        [(1, "the cat sat", "the cat ran"), (2, "x", "y z")],
        "pair int, cand string, ref string",
    )
    got = {r["pair"]: r for r in
           rouge_n(pairs, "cand", "ref", "pair", n=2).collect()}
    assert (got[1]["n_overlap"], got[1]["n_ref"], got[1]["n_cand"]) == (1, 2, 2)
    assert got[1]["rouge_recall"] == 0.5 and got[1]["rouge_precision"] == 0.5
    # candidate has < 2 tokens: precision NULL (explicit), recall 0/1
    assert got[2]["n_cand"] == 0 and got[2]["rouge_precision"] is None
    assert got[2]["rouge_recall"] == 0.0


def test_rrf_fuse_golden(spark):
    from table_computing_spark.operators.evaluation import rrf_fuse

    a = spark.createDataFrame([(10, 1), (20, 2)], "id int, rank int")
    b = spark.createDataFrame([(20, 1), (30, 2)], "id int, rank int")
    got = {r["id"]: (r["rrf"], r["fused_rank"])
           for r in rrf_fuse([a, b], k=60, top=10).collect()}
    # 20 appears in both lists: 1/61 + 1/62 beats either single hit
    assert got[20][1] == 1
    assert abs(got[20][0] - (1 / 61 + 1 / 62)) < 1e-6
    assert got[10][1] == 2 and got[30][1] == 3  # 1/61 > 1/62, id tiebreak


def test_als_rank1_hand_computed(spark):
    from table_computing_spark.operators.recsys import als_rank1

    # u1 rates i1=4, i2=2 -> uf=3; u2 rates i1=5 -> uf=5
    r = spark.createDataFrame(
        [(1, 1, 4), (1, 2, 2), (2, 1, 5)], "u int, i int, r int"
    )
    got = {row["item"]: (row["v"], row["n_raters"])
           for row in als_rank1(r, "u", "i", "r").collect()}
    # v(i1) = (4*3 + 5*5) / (9 + 25) = 37/34; v(i2) = 2*3/9
    assert got[1] == (round(37 / 34, 6), 2)
    assert got[2] == (round(6 / 9, 6), 1)


def test_changepoint_step_function(spark):
    from table_computing_spark.operators.temporal import changepoint_single

    rows = [("k", i, 0) for i in range(3)] + [("k", i + 3, 10) for i in range(3)]
    df = spark.createDataFrame(rows, "k string, o int, v int")
    got = changepoint_single(df, ["k"], "o", F.col("v")).first()
    # total SSE = 6*25 = 150; both segments pure -> gain 150 at t=3
    assert (got["split_t"], got["n"], got["gain"]) == (3, 6, 150.0)


def test_burstiness_periodic_is_minus_one(spark):
    from table_computing_spark.operators.temporal import burstiness

    df = spark.createDataFrame(
        [("u", t) for t in (0, 100, 200, 300)], "u string, t_ms long"
    )
    got = burstiness(df, ["u"], "t_ms").first()
    assert (got["n_events"], got["mean_gap_ms"], got["b"]) == (4, 100.0, -1.0)
    # 2 events = 1 gap: no dispersion -> NULL b
    two = spark.createDataFrame([("u", 0), ("u", 50)], "u string, t_ms long")
    assert burstiness(two, ["u"], "t_ms").first()["b"] is None


def test_topo_layers_chain_and_diamond(spark):
    from table_computing_spark.operators.graph import topo_layers

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 4), (4, 3)], "src int, dst int"
    )
    got = {r["node"]: r["layer"] for r in topo_layers(e, rounds=4).collect()}
    # 3's LONGEST incoming path has 2 edges (1-2-3 or 1-4-3)
    assert got == {1: 0, 2: 1, 4: 1, 3: 2}


def test_modularity_two_triangles(spark):
    from table_computing_spark.operators.graph import modularity

    tri = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    e = spark.createDataFrame(tri, "src int, dst int")
    lab = spark.createDataFrame(
        [(n, "A" if n <= 3 else "B") for n in range(1, 7)],
        "node int, label string",
    )
    rows = modularity(e, lab).collect()
    # m=7; each triangle: e_in=3, degree_sum=7 -> term = 3/7 - (7/14)^2
    want_term = round(3 / 7 - 0.25, 6)
    for r in rows:
        assert r["q_term"] == want_term and r["n_nodes"] == 3
        assert r["q_total"] == round(2 * (3 / 7 - 0.25), 6)


def test_skipgram_negatives_deterministic_and_in_vocab(spark):
    from table_computing_spark.operators.text import skipgram_negatives

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta gamma beta")],
        "doc_id int, text string",
    )
    a = sorted(map(tuple, skipgram_negatives(docs, "text", "doc_id", k=2).collect()))
    b = sorted(map(tuple, skipgram_negatives(docs, "text", "doc_id", k=2).collect()))
    assert a == b and a  # reproducible
    vocab = {"alpha", "beta", "gamma"}
    # 4 forward pairs -> 8 directed pairs -> 16 (pair, j) rows
    assert len(a) == 16
    assert all(neg in vocab for (_, _, _, neg) in a)
