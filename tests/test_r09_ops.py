"""Round-9 tests: the five r08 ADVICE fixes, plus r09 operator work.

Each test pins one low-severity defect the r08 advisor found, so the
fix can't regress.
"""
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# ADVICE 1 — drop_boilerplate_lines must exempt blank lines
# ---------------------------------------------------------------------------

def test_boilerplate_exempts_blank_lines(spark):
    """A blank line appears in every document (>= min_df), but must NOT
    be stripped — paragraph structure survives; real boilerplate goes."""
    from table_computing_spark.operators.text import drop_boilerplate_lines

    docs = spark.createDataFrame(
        [
            (1, "para one\n\ncookie banner\n\npara two"),
            (2, "alpha\n\ncookie banner\n\nbeta"),
            (3, "gamma\n\ncookie banner\n\ndelta"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in drop_boilerplate_lines(docs, min_df=3).collect()}
    # the shared non-blank line is dropped from every doc
    assert "cookie banner" not in out[1]["clean_text"]
    # blank lines survive (paragraph break intact: two \n\n runs remain)
    assert out[1]["clean_text"] == "para one\n\n\npara two"
    assert out[1]["n_dropped"] == 1 and out[1]["n_kept"] == 4


# ---------------------------------------------------------------------------
# ADVICE 2 — profile_diff envelope_moved must be null-safe
# ---------------------------------------------------------------------------

def test_profile_diff_envelope_null_safe(spark):
    """All-NULL column on one side -> envelope_moved must be TRUE, not
    NULL (a `WHERE envelope_moved` gate must catch the transition)."""
    from table_computing_spark.operators.profile import column_profile, profile_diff

    old = spark.createDataFrame(
        [(1, None), (2, None)], "k long, v string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"
    )
    d = {r["col_name"]: r for r in profile_diff(old, new, ["k", "v"]).collect()}
    assert d["v"]["envelope_moved"] is True  # was NULL before the fix
    assert d["k"]["envelope_moved"] is False
    # and the flag is filterable the way a quality gate would use it
    n = profile_diff(old, new, ["v"]).filter(F.col("envelope_moved")).count()
    assert n == 1


# ---------------------------------------------------------------------------
# ADVICE 3 — winsorize with keys=[] clips globally via broadcast cross-join
# ---------------------------------------------------------------------------

def test_winsorize_global_no_keys(spark):
    from table_computing_spark.operators.quantiles import winsorize

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 101)], "id long, v double"
    )
    out = winsorize(df, keys=[], col="v", lo=0.05, hi=0.95)
    assert out.count() == 100  # no row loss, no cartesian blow-up
    vals = [r["v"] for r in out.collect()]
    # exact percentile (quantile_cont) band of 1..100 at 0.05/0.95
    assert min(vals) == pytest.approx(5.95)
    assert max(vals) == pytest.approx(95.05)
    # schema unchanged
    assert out.columns == df.columns


def test_winsorize_global_null_passthrough(spark):
    from table_computing_spark.operators.quantiles import winsorize

    df = spark.createDataFrame(
        [(1, 1.0), (2, None), (3, 100.0), (4, 50.0)], "id long, v double"
    )
    out = {r["id"]: r["v"] for r in winsorize(df, [], "v", 0.25, 0.75).collect()}
    assert out[2] is None


# ---------------------------------------------------------------------------
# ADVICE 4 — welch_ttest must fail loudly on a missing control group
# ---------------------------------------------------------------------------

def test_welch_ttest_missing_control_raises(spark):
    from table_computing_spark.operators.drift import welch_ttest

    df = spark.createDataFrame(
        [("a", 10), ("a", 12), ("b", 20), ("b", 22)], "grp string, v long"
    )
    with pytest.raises(ValueError, match="control group 'zz'"):
        welch_ttest(df, F.col("v"), "grp", control="zz")
    # the happy path still works and excludes the control row
    out = welch_ttest(df, F.col("v"), "grp", control="a").collect()
    assert [r["grp"] for r in out] == ["b"]


# ---------------------------------------------------------------------------
# ADVICE 5 — distinct_state id-domain contract: measured, pinned, guardable
# ---------------------------------------------------------------------------

def test_distinct_state_exact_over_adversarial_ids(spark):
    """The documented contract: Spark 4 bitmap bucket/position is
    injective over ALL longs — zero, negatives, the ±32768 bucket
    boundaries, huge magnitudes — so the state is exact COUNT(DISTINCT)
    without any positivity restriction. ~20k adversarial ids."""
    from table_computing_spark.operators import bitmaps

    ids = (
        list(range(-70000, 70000, 7))
        + list(range(-32800, -32700))
        + list(range(-50, 50))
        + list(range(32700, 32800))
        + [2**40, -(2**40), 2**40 + 5]
    )
    df = spark.createDataFrame([("k", i) for i in ids], "g string, id long")
    n = bitmaps.distinct_count(
        bitmaps.distinct_state(df, ["g"], "id"), ["g"]
    ).collect()[0]["n_distinct"]
    exact = df.select("id").distinct().count()
    assert n == exact


def test_distinct_state_optional_positivity_guard(spark):
    """validate_ids=True enforces the strictly-positive contract for
    portability to 1-based-only engines: non-positive raises, NULL is
    ignored (COUNT(DISTINCT) semantics)."""
    from table_computing_spark.operators import bitmaps

    bad = spark.createDataFrame([("k", 0), ("k", 5)], "g string, id long")
    with pytest.raises(Exception, match="must be positive"):
        bitmaps.distinct_state(bad, ["g"], "id", validate_ids=True).collect()
    neg = spark.createDataFrame([("k", -3)], "g string, id long")
    with pytest.raises(Exception, match="must be positive"):
        bitmaps.distinct_state(neg, ["g"], "id", validate_ids=True).collect()
    ok = spark.createDataFrame(
        [("k", 1), ("k", None), ("k", 2), ("k", 1)], "g string, id long"
    )
    n = bitmaps.distinct_count(
        bitmaps.distinct_state(ok, ["g"], "id", validate_ids=True), ["g"]
    ).collect()[0]["n_distinct"]
    assert n == 2


# ---------------------------------------------------------------------------
# VERDICT r08 task 2 — semantic_dedup's scale path is now the DEFAULT
# ---------------------------------------------------------------------------

def _emb_df(spark, n=200, dim=8):
    import math as _m

    rows = []
    for i in range(n):
        # deterministic spread over a few true clusters + jitter
        c = i % 5
        vec = [
            _m.sin(0.7 * c + 0.01 * i + 0.3 * j) + (0.001 * ((i * 7 + j) % 11))
            for j in range(dim)
        ]
        rows.append((i, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_semantic_dedup_auto_equals_explicit_bucket_col(spark):
    """The 'auto' branch must be EXACTLY the documented composition:
    ivf_fit Lloyd cells at max(16, round(sqrt(N))) with >=2 iterations,
    nearest-centroid assignment, identical keep rule. Forcing the Lloyd
    branch at small N (auto_min_rows=0) must reproduce the explicit
    bucket_col path bit-for-bit."""
    import math as _m

    from table_computing_spark.operators import similarity as sim

    df = _emb_df(spark)
    n = df.count()
    n_cells = max(16, int(round(_m.sqrt(n))))
    cents = sim.ivf_fit(df, n_cells, 2)
    assign = sim._nearest_centroid_udf(cents)
    explicit = df.withColumn(
        "cluster", assign(F.col("embedding")).cast("long")
    )
    want = {
        (r["vec_id"], r["keep"])
        for r in sim.semantic_dedup(explicit, bucket_col="cluster").collect()
    }
    got = {
        (r["vec_id"], r["keep"])
        for r in sim.semantic_dedup(df, auto_min_rows=0).collect()
    }
    assert got == want


def test_semantic_dedup_auto_tiny_falls_back_to_sign_lsh(spark):
    """Below auto_min_rows the default path keeps the deterministic
    sign-LSH cells — the engine-reproducible config the DuckDB oracle
    hashes at sf0.01."""
    from table_computing_spark.operators import similarity as sim

    df = _emb_df(spark, n=60)
    legacy = {
        (r["vec_id"], r["bucket"], r["keep"])
        for r in sim.semantic_dedup(df, bucket_col=None).collect()
    }
    auto = {
        (r["vec_id"], r["bucket"], r["keep"])
        for r in sim.semantic_dedup(df).collect()
    }
    assert auto == legacy


def test_semantic_dedup_auto_cell_count_scales(spark):
    """The auto branch's cell count must grow with the corpus (that is
    the whole point): distinct buckets at N=5000 forced through the
    Lloyd branch lands near max(16, sqrt(N)), far above 2^bits."""
    from table_computing_spark.operators import similarity as sim

    df = _emb_df(spark, n=5000, dim=6)
    out = sim.semantic_dedup(df, auto_min_rows=4096)
    n_buckets = out.select("bucket").distinct().count()
    assert n_buckets > 2**6  # more cells than the legacy fixed config
    assert n_buckets <= max(16, int(round(5000**0.5)))


# ---------------------------------------------------------------------------
# VERDICT r08 task 4 — auto scale-parameters for the remaining fixed-bucket
# ANN / near-dup entry points
# ---------------------------------------------------------------------------

def test_cosine_pairs_auto_bits_result_identical(spark):
    """bits='auto' on the LSH path must reproduce the explicit-bits
    pair set when auto resolves to that value (occupancy rule:
    clamp(ceil(log2(n/target_bucket)), 4, dim))."""
    import math as _m

    from table_computing_spark.operators import similarity as sim

    df = _emb_df(spark, n=400, dim=8)
    # auto resolves to clamp(ceil(log2(400/25)), 4, 8) = 4
    auto = sim.cosine_pairs(
        df, threshold=0.9, broadcast_limit=0, target_bucket=25
    )
    explicit = sim.cosine_pairs(
        df, threshold=0.9, broadcast_limit=0, bits=4
    )
    a = {(r["id_a"], r["id_b"]) for r in auto.collect()}
    e = {(r["id_a"], r["id_b"]) for r in explicit.collect()}
    assert a == e and len(a) > 0


def test_simhash_pairs_chunk_layouts_identical(spark):
    """16-bit and 32-bit chunk layouts (and auto) must emit the SAME
    pair set at max_hamming<=3 — both have full pigeonhole recall and
    the exact hamming filter runs last."""
    from table_computing_spark.operators import dedup

    base = " ".join(f"tok{i%97}word{i%53}" for i in range(300))
    rows = [(1, base)]
    for k in range(2, 12):
        toks = base.split()
        toks[k * 7] = f"rare{k}"
        rows.append((k, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    p16 = {(r["id_a"], r["id_b"], r["hamming"])
           for r in dedup.simhash_pairs(docs, max_hamming=3, chunk_bits=16).collect()}
    p32 = {(r["id_a"], r["id_b"], r["hamming"])
           for r in dedup.simhash_pairs(docs, max_hamming=3, chunk_bits=32).collect()}
    pauto = {(r["id_a"], r["id_b"], r["hamming"])
             for r in dedup.simhash_pairs(docs, max_hamming=3).collect()}
    assert p16 == p32 == pauto
    assert len(p16) > 0
    # probes are exercised, not just exact-chunk matches: some pair
    # splits its flips across both 32-bit halves (hamming >= 2)
    assert any(h >= 2 for _, _, h in p16)


def test_simhash_pairs_rejects_expensive_layout(spark):
    from table_computing_spark.operators import dedup

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="chunk_bits=16"):
        dedup.simhash_pairs(docs, max_hamming=7, chunk_bits=32)
    with pytest.raises(ValueError, match="hamming 11"):
        dedup.simhash_pairs(docs, max_hamming=12)


def test_semantic_dedup_blas_equals_expr_pairs(spark):
    """The BLAS epsilon test (scale path) and the engine-exact
    expression fold must produce the SAME keep set on identical
    bucketing — the math is the same, only the execution differs."""
    from table_computing_spark.operators import similarity as sim

    df = _emb_df(spark, n=300, dim=8)
    cents = sim.ivf_fit(df, 16, 2)
    assign = sim._nearest_centroid_udf(cents)
    clustered = df.withColumn("cluster", assign(F.col("embedding")).cast("long"))
    blas = {
        (r["vec_id"], r["keep"])
        for r in sim.semantic_dedup(
            clustered, bucket_col="cluster", pair_mode="blas"
        ).collect()
    }
    expr = {
        (r["vec_id"], r["keep"])
        for r in sim.semantic_dedup(
            clustered, bucket_col="cluster", pair_mode="expr"
        ).collect()
    }
    assert blas == expr
    assert any(not k for _, k in blas)  # some rows actually get dropped


# ---------------------------------------------------------------------------
# r09 new families: spatial grid joins, frequent itemsets
# ---------------------------------------------------------------------------

def test_grid_radius_join_exact_vs_bruteforce(spark):
    """The grid join must reproduce the quadratic truth exactly —
    including pairs that straddle cell borders (the 3×3 probe's job)."""
    import itertools

    from table_computing_spark.operators.spatial import grid_radius_join

    pts = [(i, (i * 37) % 200, (i * 91) % 200) for i in range(120)]
    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = {
        (r["id_a"], r["id_b"], r["d2"])
        for r in grid_radius_join(df, "id", "x", "y", radius=25).collect()
    }
    want = {
        (a[0], b[0], (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2)
        for a, b in itertools.combinations(pts, 2)
        if (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2 <= 625
    }
    # combinations() yields ordered-by-position, ids are ordered too
    assert got == want and len(want) > 0


def test_grid_radius_join_negative_coords(spark):
    """floor-division cells must behave across the origin (negative
    coordinates land in cell -1, not cell 0)."""
    from table_computing_spark.operators.spatial import grid_radius_join

    df = spark.createDataFrame(
        [(1, -3, -3), (2, 2, 2), (3, 40, 40)], "id long, x long, y long"
    )
    got = {(r["id_a"], r["id_b"]) for r in
           grid_radius_join(df, "id", "x", "y", radius=10).collect()}
    assert got == {(1, 2)}


def test_grid_knn_exact_when_ring_covers(spark):
    """With a ring that covers the whole plane, grid k-NN equals exact
    brute-force k-NN (distance then id tiebreak)."""
    import itertools

    from table_computing_spark.operators.spatial import grid_knn_join

    pts = [(i, (i * 53) % 100, (i * 17) % 100) for i in range(60)]
    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in grid_knn_join(df, "id", "x", "y", k=3,
                               cell_size=100, max_ring=1).collect()
    }
    for qid, qx, qy in pts:
        cand = sorted(
            ((qx - x) ** 2 + (qy - y) ** 2, nid)
            for nid, x, y in pts if nid != qid
        )
        for rank, (_, nid) in enumerate(cand[:3], start=1):
            assert got[(qid, rank)] == nid


def test_frequent_pairs_mega_basket_guard(spark):
    """A basket past max_basket_items is dropped entirely; the rest
    still count."""
    from table_computing_spark.operators.itemsets import frequent_pairs

    rows = [(1, f"i{j}") for j in range(10)]  # mega basket (10 items)
    rows += [(b, i) for b in (2, 3, 4) for i in ("a", "b")]
    df = spark.createDataFrame(rows, "basket long, item string")
    out = {
        (r["item_a"], r["item_b"]): r["support"]
        for r in frequent_pairs(
            df, "basket", "item", min_support=2, max_basket_items=5
        ).collect()
    }
    assert out == {("a", "b"): 3}  # the 10-item basket contributed nothing


def test_association_rules_math(spark):
    """Closed-form check: a→b confidence is support/|a|, lift divides
    by consequent prevalence."""
    from table_computing_spark.operators.itemsets import association_rules

    rows = [
        (1, "a"), (1, "b"),
        (2, "a"), (2, "b"),
        (3, "a"),
        (4, "b"),
        (5, "c"),
    ]
    df = spark.createDataFrame(rows, "basket long, item string")
    out = {
        (r["antecedent"], r["consequent"]): (r["support"], r["confidence"], r["lift"])
        for r in association_rules(df, "basket", "item", min_support=2).collect()
    }
    # |a|=3, |b|=3, |ab|=2, n=5
    assert out[("a", "b")] == (2, round(2 / 3, 6), round((2 / 3) / (3 / 5), 6))
    assert out[("b", "a")] == (2, round(2 / 3, 6), round((2 / 3) / (3 / 5), 6))


# ---------------------------------------------------------------------------
# r09: quantile normalization, quota allocation, SRM, multi-horizon
# ---------------------------------------------------------------------------

def test_quantile_normalize_aligns_distributions(spark):
    """Equal-size groups end up with IDENTICAL value multisets (the
    defining property), and each reference is the cross-group mean."""
    from table_computing_spark.operators.quantiles import quantile_normalize

    rows = [(i, "a", float(v)) for i, v in enumerate([5, 2, 3, 4])]
    rows += [(10 + i, "b", float(v)) for i, v in enumerate([8, 1, 9, 6])]
    df = spark.createDataFrame(rows, "id long, grp string, v double")
    out = quantile_normalize(df, "grp", "v", "id").collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r["grp"], []).append(r["normalized"])
    assert sorted(by_grp["a"]) == sorted(by_grp["b"])
    # rank-1 reference = mean(min_a, min_b) = (1+2)/2
    r1 = {r["rank"]: r["normalized"] for r in out if r["grp"] == "a"}
    assert r1[1] == 1.5 and r1[4] == (5 + 9) / 2


def test_largest_remainder_sums_exactly(spark):
    from table_computing_spark.operators.allocate import largest_remainder

    # weights 1,1,1 and total 10: base 3 each, 1 leftover -> smallest key
    df = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 1)], "k string, w long"
    )
    out = {r["k"]: r for r in largest_remainder(df, "k", "w", total=10).collect()}
    assert sum(r["allocated"] for r in out.values()) == 10
    assert [out[k]["allocated"] for k in "abc"] == [4, 3, 3]  # tie -> key order
    # proportional case with distinct remainders
    df2 = spark.createDataFrame(
        [("x", 5), ("y", 3), ("z", 2)], "k string, w long"
    )
    out2 = {r["k"]: r["allocated"]
            for r in largest_remainder(df2, "k", "w", total=7).collect()}
    # quotas 3.5 / 2.1 / 1.4 -> base 3/2/1, leftover 1 -> largest rem (x)
    assert out2 == {"x": 4, "y": 2, "z": 1}


def test_srm_check_math_and_unknown_groups(spark):
    from table_computing_spark.operators.drift import srm_check

    rows = [("a",)] * 60 + [("b",)] * 40 + [("mystery",)] * 999
    df = spark.createDataFrame(rows, "grp string")
    out = {r["grp"]: r for r in
           srm_check(df, "grp", {"a": 0.5, "b": 0.5}).collect()}
    # N counts only declared groups (100), so a rogue variant cannot
    # skew every term
    assert "mystery" not in out
    assert out["a"]["n_expected"] == 50.0
    assert out["a"]["chi2_term"] == round(100 / 50, 6)  # (60-50)^2/50
    assert out["b"]["chi2_term"] == round(100 / 50, 6)


def test_multi_horizon_vs_bruteforce(spark):
    from table_computing_spark.operators.temporal import multi_horizon_features

    rows = [("u1", t * 10, t) for t in range(20)] + [("u2", 5, 100)]
    df = spark.createDataFrame(rows, "k string, t long, v long")
    out = multi_horizon_features(
        df, ["k"], "t", "v", {"s": 50}
    ).collect()
    got = {(r["k"], r["t"]): (r["sum_s"], r["cnt_s"]) for r in out}
    for k, t, _v in rows:
        vals = [v2 for k2, t2, v2 in rows if k2 == k and t - 50 <= t2 <= t]
        assert got[(k, t)] == (float(sum(vals)), len(vals))


def test_multi_horizon_single_exchange(spark):
    """k horizons must ride ONE key-partitioned Exchange (RANGE frames
    over the same window ordering), not one shuffle per horizon."""
    import re

    from table_computing_spark.operators.temporal import multi_horizon_features
    from table_computing_spark.plans import plan_of

    df = spark.createDataFrame(
        [("u", 1, 1), ("u", 2, 2)], "k string, t long, v long"
    )
    out = multi_horizon_features(df, ["k"], "t", "v", {"a": 10, "b": 100})
    p = plan_of(out)
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p
    # all horizon frames share one ordering -> ONE WindowExec evaluates
    # every frame (not a Window node per column or per horizon)
    assert len(re.findall(r"\(\d+\) Window", p)) == 1, p


# ---------------------------------------------------------------------------
# r09 batch 3: SymSpell edit-1 pairs, table fingerprints, top-k + OTHER
# ---------------------------------------------------------------------------

def test_edit_distance_pairs_vs_bruteforce(spark):
    """Symmetric-delete blocking must find EVERY pair at levenshtein
    <= 1 — substitutions, insertions, deletions, equal strings — and
    nothing else."""
    import itertools

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    from table_computing_spark.operators.dedup import edit_distance_pairs

    words = ["cat", "cut", "cats", "at", "dog", "dig", "dogs", "cat",
             "spark", "spork", "sparky", "park", "sparks", "x", "", "y"]
    rows = [(i, w) for i, w in enumerate(words)]
    df = spark.createDataFrame(rows, "id long, w string")
    got = {(r["id_a"], r["id_b"], r["dist"])
           for r in edit_distance_pairs(df, "id", "w").collect()}
    want = {(a[0], b[0], lev(a[1], b[1]))
            for a, b in itertools.combinations(rows, 2)
            if lev(a[1], b[1]) <= 1}
    assert got == want and len(want) >= 8


def test_table_fingerprint_detects_and_ignores(spark):
    """Same rows in any order/partitioning -> same fingerprint; one
    changed value -> different fingerprint."""
    from table_computing_spark.operators.fingerprint import table_fingerprint

    rows = [(i, f"v{i}") for i in range(500)]
    a = spark.createDataFrame(rows, "id long, v string")
    b = spark.createDataFrame(list(reversed(rows)), "id long, v string").repartition(13)
    fa = table_fingerprint(a, ["id", "v"]).collect()[0]
    fb = table_fingerprint(b, ["id", "v"]).collect()[0]
    assert (fa["n_rows"], fa["fingerprint"]) == (fb["n_rows"], fb["fingerprint"])
    rows2 = list(rows)
    rows2[250] = (250, "CHANGED")
    c = spark.createDataFrame(rows2, "id long, v string")
    fc = table_fingerprint(c, ["id", "v"]).collect()[0]
    assert fc["fingerprint"] != fa["fingerprint"] and fc["n_rows"] == fa["n_rows"]
    # NULL and the string rendering of NULL must differ
    d1 = spark.createDataFrame([(1, None)], "id long, v string")
    d2 = spark.createDataFrame([(1, "")], "id long, v string")
    assert (table_fingerprint(d1, ["id", "v"]).collect()[0]["fingerprint"]
            != table_fingerprint(d2, ["id", "v"]).collect()[0]["fingerprint"])


def test_top_k_with_others_preserves_totals(spark):
    from table_computing_spark.operators.frequency import top_k_with_others

    rows = [("g", f"i{j % 7}", j % 5 + 1) for j in range(70)]
    df = spark.createDataFrame(rows, "grp string, item string, v long")
    out = top_k_with_others(df, ["grp"], "item", F.col("v"), k=3).collect()
    total = sum(float(r["total"]) for r in out)
    assert total == float(sum(v for _, _, v in rows))
    ranked = [r for r in out if r["rank"] is not None]
    other = [r for r in out if r["rank"] is None]
    assert len(ranked) == 3 and len(other) == 1 and other[0]["item"] == "OTHER"
    assert [r["rank"] for r in sorted(ranked, key=lambda r: r["rank"])] == [1, 2, 3]


# ---------------------------------------------------------------------------
# r09 batch 4: KMV sketches, join-cardinality pre-flight
# ---------------------------------------------------------------------------

def test_kmv_exact_below_k_and_estimates_above(spark):
    from table_computing_spark.operators import kmv

    # below k: the sketch IS the distinct set -> estimate exact
    small = spark.createDataFrame([("g", i % 40) for i in range(200)],
                                  "g string, v long")
    est = kmv.kmv_estimate(kmv.kmv_sketch(small, ["g"], "v", k=256), ["g"])
    assert est.collect()[0]["n_est"] == 40.0
    # above k: within 15% of truth at k=256 (1/sqrt(k) ~ 6% std)
    big = spark.createDataFrame([("g", i) for i in range(5000)],
                                "g string, v long")
    e = kmv.kmv_estimate(kmv.kmv_sketch(big, ["g"], "v", k=256), ["g"]).collect()[0]["n_est"]
    assert abs(e - 5000) / 5000 < 0.15


def test_kmv_merge_equals_union_sketch(spark):
    from table_computing_spark.operators import kmv

    a = spark.createDataFrame([("g", i) for i in range(0, 3000, 2)],
                              "g string, v long")
    b = spark.createDataFrame([("g", i) for i in range(0, 3000, 3)],
                              "g string, v long")
    u = spark.createDataFrame(
        [("g", i) for i in range(0, 3000) if i % 2 == 0 or i % 3 == 0],
        "g string, v long",
    )
    merged = kmv.kmv_merge(kmv.kmv_sketch(a, ["g"], "v"),
                           kmv.kmv_sketch(b, ["g"], "v"), ["g"])
    direct = kmv.kmv_sketch(u, ["g"], "v")
    assert merged.collect()[0]["kmv"] == direct.collect()[0]["kmv"]


def test_kmv_sketch_ncells_invariant(spark):
    """The sketch content is a pure function of the data — the salt
    width only repartitions the k-min computation (r09 verdict task 3:
    n_cells="auto" must be output-identical to any fixed salt)."""
    from table_computing_spark.operators import kmv

    df = spark.createDataFrame(
        [("a", i * 7) for i in range(3000)] + [("b", i % 50) for i in range(400)],
        "g string, v long",
    )
    fixed = {r["g"]: r["kmv"]
             for r in kmv.kmv_sketch(df, ["g"], "v", n_cells=256).collect()}
    wide = {r["g"]: r["kmv"]
            for r in kmv.kmv_sketch(df, ["g"], "v", n_cells=1024).collect()}
    auto = {r["g"]: r["kmv"]
            for r in kmv.kmv_sketch(df, ["g"], "v", n_cells="auto").collect()}
    assert fixed == wide == auto


def test_kmv_merge_single_exchange(spark):
    """kmv_merge must cost exactly ONE Exchange (the groupBy on keys):
    the r09 verdict flagged a redundant .distinct() that added a second
    full-width shuffle (verdict finding #1 / task 3)."""
    import re
    from table_computing_spark.operators import kmv
    from table_computing_spark.plans import plan_of

    a = spark.createDataFrame([("g", [1, 2, 3])], "g string, kmv array<long>")
    b = spark.createDataFrame([("g", [2, 3, 4])], "g string, kmv array<long>")
    merged = kmv.kmv_merge(a, b, ["g"])
    p = plan_of(merged)
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p
    assert merged.collect()[0]["kmv"] == [1, 2, 3, 4]


def test_kmv_set_ops_accuracy(spark):
    from table_computing_spark.operators import kmv

    a = spark.createDataFrame([("x", i) for i in range(4000)], "g string, v long")
    b = spark.createDataFrame([("x", i) for i in range(2000, 8000)], "g string, v long")
    out = kmv.kmv_set_ops(
        kmv.kmv_sketch(a, ["g"], "v"), kmv.kmv_sketch(b, ["g"], "v"), ["g"]
    ).collect()[0]
    assert abs(out["union_est"] - 8000) / 8000 < 0.2
    assert abs(out["intersect_est"] - 2000) / 2000 < 0.35
    assert abs(out["jaccard_est"] - 0.25) < 0.1


def test_join_cardinality_exact(spark):
    from table_computing_spark.plans import join_cardinality_estimate

    a = spark.createDataFrame(
        [(k,) for k in [1] * 10 + [2] * 3 + [3] * 1], "k long"
    )
    b = spark.createDataFrame(
        [(k,) for k in [1] * 4 + [2] * 5 + [4] * 9], "k long"
    )
    out = join_cardinality_estimate(a, b, ["k"]).collect()[0]
    actual = a.join(b, "k").count()
    assert out["join_rows"] == actual == 10 * 4 + 3 * 5
    assert out["top_key_rows"] == 40


def test_srm_zero_traffic_arm_reported(spark):
    """A declared arm that received NO rows must appear with n_obs=0
    and chi2_term == its expected count — the loudest SRM signal."""
    from table_computing_spark.operators.drift import srm_check

    df = spark.createDataFrame([("a",)] * 100, "grp string")
    out = {r["grp"]: r for r in
           srm_check(df, "grp", {"a": 0.5, "b": 0.5}).collect()}
    assert out["b"]["n_obs"] == 0
    assert out["b"]["n_expected"] == 50.0
    assert out["b"]["chi2_term"] == 50.0  # (0-50)^2/50


def test_sequence_pairs_order_and_ties(spark):
    """First-occurrence precedence: repeated events use the FIRST time;
    simultaneous firsts carry no order; support counts sessions."""
    from table_computing_spark.operators.itemsets import sequence_pairs

    rows = [
        # s1: a@1, b@5 (and a again later — first occurrence rules)
        (1, "a", 1), (1, "b", 5), (1, "a", 9),
        # s2: a@2, b@2 simultaneous -> no order
        (2, "a", 2), (2, "b", 2),
        # s3: b@1, a@4 -> b before a
        (3, "b", 1), (3, "a", 4),
        # s4: a@1, b@3
        (4, "a", 1), (4, "b", 3),
    ]
    df = spark.createDataFrame(rows, "s long, e string, t long")
    out = {(r["antecedent"], r["consequent"]): r["support"]
           for r in sequence_pairs(df, "s", "e", "t", min_support=1).collect()}
    assert out == {("a", "b"): 2, ("b", "a"): 1}


# ---------------------------------------------------------------------------
# r09 review-pass fixes (4th adversarial review of the round diff)
# ---------------------------------------------------------------------------

def test_largest_remainder_adversarial_quotient(spark):
    """Spark DECIMAL division rounds the quotient to scale 6 HALF_UP
    before floor: weight 19,999,999 of W=20,000,000 at total=1 has
    quotient 0.99999995 -> rounds to 1.000000 -> naive floor gives 1.
    The correction step must restore the exact floor (0)."""
    from table_computing_spark.operators.allocate import largest_remainder

    df = spark.createDataFrame(
        [("big", 19_999_999), ("tiny", 1)], "k string, w long"
    )
    out = {r["k"]: r for r in largest_remainder(df, "k", "w", total=1).collect()}
    assert out["big"]["base"] == 0  # exact floor, not the rounded quotient
    assert out["big"]["allocated"] == 1  # largest remainder takes the seat
    assert out["tiny"]["allocated"] == 0
    assert sum(r["allocated"] for r in out.values()) == 1


def test_largest_remainder_all_zero_weights(spark):
    from table_computing_spark.operators.allocate import largest_remainder

    df = spark.createDataFrame([("a", 0), ("b", 0), ("c", 0)], "k string, w long")
    out = {r["k"]: r["allocated"]
           for r in largest_remainder(df, "k", "w", total=2).collect()}
    assert out == {"a": 1, "b": 1, "c": 0}  # key-order tiebreak, sum == total


def test_np_round_half_up_matches_spark_round(spark):
    """The BLAS paths' rounding must agree with SQL ROUND on exact
    midpoints (np.round is half-even and does NOT)."""
    import numpy as np

    from table_computing_spark.operators.similarity import _np_round_half_up

    vals = [0.015625, -0.015625, 0.5, 1.5, 2.5, -2.5, 0.128, -0.37]
    got = _np_round_half_up(np.array(vals), 2)
    want = [
        r["r"]
        for r in spark.createDataFrame([(v,) for v in vals], "v double")
        .select(F.round("v", 2).alias("r")).collect()
    ]
    assert list(got) == want


# ---------------------------------------------------------------------------
# r09 batch 6: label noise, gap report, purged temporal split
# ---------------------------------------------------------------------------

def test_label_noise_flags_planted_mislabels(spark):
    """Two tight clusters; one point carries the WRONG cluster's label
    -> its neighbors all disagree (rate 1.0); clean points agree."""
    from table_computing_spark.operators.classify import label_noise

    rows = []
    for i in range(20):
        c = 0 if i < 10 else 1
        vec = [1.0 + 0.01 * i if c == 0 else -1.0 - 0.01 * i, float(c)]
        lab = "a" if c == 0 else "b"
        rows.append((i, vec, lab))
    rows[5] = (5, rows[5][1], "b")  # planted mislabel inside cluster 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    out = {r["vec_id"]: r for r in label_noise(df, df, k=5).collect()}
    assert out[5]["disagree_rate"] == 1.0  # every neighbor says 'a'
    assert out[3]["disagree_rate"] <= 0.2  # clean point, one bad neighbor at most


def test_event_gaps_report(spark):
    from table_computing_spark.operators.temporal import event_gaps

    rows = [("u", 0), ("u", 10), ("u", 500), ("u", 510), ("v", 0), ("v", 1000)]
    df = spark.createDataFrame(rows, "k string, t long")
    got = {(r["k"], r["gap_start"], r["gap_end"], r["gap"])
           for r in event_gaps(df, ["k"], "t", min_gap=100).collect()}
    assert got == {("u", 10, 500, 490), ("v", 0, 1000, 1000)}


def test_purged_split_embargo_semantics(spark):
    """Rows within the embargo of the KEY'S last training event are
    quarantined; keys with no training rows validate from the start."""
    from table_computing_spark.operators.temporal import purged_split

    rows = [
        ("a", 1, 50), ("a", 2, 90),          # train (t <= 100)
        ("a", 3, 120), ("a", 4, 140),        # within 90+60 -> embargo
        ("a", 5, 200),                        # val
        ("b", 6, 500),                        # no train rows -> val
    ]
    df = spark.createDataFrame(rows, "k string, id long, t long")
    out = {r["id"]: r["split"]
           for r in purged_split(df, ["k"], "t", split_t=100, embargo=60).collect()}
    assert out == {1: "train", 2: "train", 3: "embargo", 4: "embargo",
                   5: "val", 6: "val"}


# ---------------------------------------------------------------------------
# r09 batch 7: power sizing, survivorship
# ---------------------------------------------------------------------------

def test_power_mde_closed_form(spark):
    import math as _m

    from table_computing_spark.operators.drift import power_mde

    vals = [10, 20, 30, 40]  # var = 500/3, n = 4
    df = spark.createDataFrame([("g", v) for v in vals], "grp string, v long")
    out = power_mde(df, F.col("v"), "grp").collect()[0]
    var = 500 / 3
    assert out["n"] == 4
    assert out["var"] == round(var, 6)
    assert out["mde"] == round((1.959964 + 0.841621) * _m.sqrt(2 * var / 4), 6)


def test_power_mde_single_row_group_emits_null(spark):
    """n=1 groups have no sample variance — explicit NULL var/mde, not
    a silent Inf/NaN from the (n-1) division (r09 advice)."""
    from table_computing_spark.operators.drift import power_mde

    df = spark.createDataFrame(
        [("solo", 10), ("pair", 10), ("pair", 30)], "grp string, v long"
    )
    out = {r["grp"]: r for r in power_mde(df, F.col("v"), "grp").collect()}
    assert out["solo"]["n"] == 1
    assert out["solo"]["var"] is None and out["solo"]["mde"] is None
    assert out["pair"]["var"] == 200.0 and out["pair"]["mde"] is not None


def test_welch_ttest_single_row_group_emits_null(spark):
    """A one-row group (treatment or control) has no sample variance:
    NULL var/t_stat/df_welch instead of an ANSI DIVIDE_BY_ZERO from the
    (n-1) division, the power_mde rule."""
    from table_computing_spark.operators.drift import welch_ttest

    df = spark.createDataFrame(
        [("ctl", 10), ("ctl", 14), ("ctl", 18), ("solo", 20),
         ("pair", 20), ("pair", 30)],
        "grp string, v long",
    )
    out = {
        r["grp"]: r
        for r in welch_ttest(df, F.col("v"), "grp", control="ctl").collect()
    }
    solo, pair = out["solo"], out["pair"]
    assert solo["n"] == 1 and solo["mean"] == 20.0
    assert solo["var"] is None and solo["t_stat"] is None
    assert solo["df_welch"] is None
    # the other groups are unaffected: var = 50, t = (25 − 14)/sqrt(25 + 16/3)
    assert pair["var"] == 50.0
    assert pair["t_stat"] == round(11 / (25 + 16 / 3) ** 0.5, 6)
    one_ctl = df.filter("grp != 'ctl' OR v = 10")
    rows = welch_ttest(one_ctl, F.col("v"), "grp", control="ctl").collect()
    assert sorted(r["grp"] for r in rows) == ["pair", "solo"]
    assert all(r["t_stat"] is None and r["df_welch"] is None for r in rows)
    assert {r["grp"]: r["var"] for r in rows} == {"pair": 50.0, "solo": None}


def test_srm_check_rejects_zero_ratio(spark):
    """Declared ratio 0.0 would divide by zero — must raise like
    welch_ttest's missing-control check (r09 advice)."""
    import pytest as _pytest

    from table_computing_spark.operators.drift import srm_check

    df = spark.createDataFrame([("a",), ("b",)], "grp string")
    with _pytest.raises(ValueError, match="ratios must be > 0"):
        srm_check(df, "grp", {"a": 1.0, "b": 0.0})


def test_quantile_normalize_rank_is_long(spark):
    """The within-group rank must stay LONG end-to-end: the operator
    targets few-and-huge groups where per-group rank exceeds 2^31
    (r09 advice)."""
    from table_computing_spark.operators.quantiles import quantile_normalize

    df = spark.createDataFrame(
        [(i, "g", float(i)) for i in range(4)], "id long, grp string, v double"
    )
    out = quantile_normalize(df, "grp", "v", "id")
    assert dict(out.dtypes)["rank"] == "bigint"


def test_survivorship_modal_with_ties_and_nulls(spark):
    from table_computing_spark.operators.dedup import survivorship

    rows = [
        (1, "x", "A"), (1, "x", "A"), (1, "y", "A"),   # x wins 2-1
        (1, None, "B"), (1, "z", None),                 # nulls never win
        (2, "p", "C"), (2, "q", "C"),                   # tie -> smallest value
    ]
    df = spark.createDataFrame(rows, "cluster long, f1 string, f2 string")
    out = {(r["cluster"], r["field"]): (r["value"], r["n_votes"])
           for r in survivorship(df, "cluster", ["f1", "f2"]).collect()}
    assert out[(1, "f1")] == ("x", 2)
    assert out[(1, "f2")] == ("A", 3)
    assert out[(2, "f1")] == ("p", 1)  # tie p/q at 1 vote -> smallest
    assert out[(2, "f2")] == ("C", 2)
