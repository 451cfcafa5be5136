"""CDC, bloom-join, transition, sampling, entropy, hard-negative ops.

Tiny constructed inputs with hand-computed goldens, plus the
properties that make each operator trustworthy at scale:
  * snapshot_diff classifies insert/delete/update and DROPS unchanged;
  * scd2_intervals tiles each key's timeline exactly (no gaps/overlap);
  * bloom_join returns exactly the plain inner join (no false
    negatives by construction), and bloom_prune keeps every matching
    row while dropping most non-matching ones;
  * multi_split never splits a group across splits;
  * weighted_sample is deterministic and respects k and weight>0;
  * char_entropy matches an independent Python computation;
  * hard_negatives never returns the anchor's own label or near-dups.
"""

from __future__ import annotations

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from table_computing_spark.operators import bloomjoin, cdc, temporal
from table_computing_spark.operators.sampling import multi_split, weighted_sample


# ---------------------------------------------------------------- CDC


def test_snapshot_diff_classifies_and_drops_unchanged(spark):
    old = spark.createDataFrame(
        [(1, "A", 10), (2, "B", 20), (3, "C", 30), (4, "D", 40)],
        "k long, status string, cents long",
    )
    new = spark.createDataFrame(
        [(1, "A", 10), (2, "B", 99), (4, "X", 40), (5, "E", 50)],
        "k long, status string, cents long",
    )
    rows = {
        r["k"]: r["change_type"]
        for r in cdc.snapshot_diff(old, new, ["k"], ["status", "cents"]).collect()
    }
    assert rows == {2: "update", 3: "delete", 4: "update", 5: "insert"}


def test_snapshot_diff_full_payload_sides(spark):
    old = spark.createDataFrame([(1, "A", 1), (2, "B", 2)], "k long, s string, c long")
    new = spark.createDataFrame([(2, "B", 9), (3, "C", 3)], "k long, s string, c long")
    got = {
        r["k"]: (r["change_type"], r["s"], r["c"])
        for r in cdc.snapshot_diff_full(old, new, ["k"], ["s", "c"]).collect()
    }
    # deletes carry OLD values, inserts/updates carry NEW values
    assert got == {
        1: ("delete", "A", 1),
        2: ("update", "B", 9),
        3: ("insert", "C", 3),
    }


def test_snapshot_diff_null_vs_empty_fingerprint(spark):
    old = spark.createDataFrame([(1, None)], "k long, s string")
    new = spark.createDataFrame([(1, "")], "k long, s string")
    out = cdc.snapshot_diff(old, new, ["k"], ["s"]).collect()
    assert [r["change_type"] for r in out] == ["update"]


def test_row_fingerprint_is_injective_across_column_boundaries(spark):
    """r05 ADVICE: the old raw-string join collided ('a<sep>b','c')
    with ('a','b<sep>c') for any separator appearing in data, and a
    literal sentinel string with NULL. Per-column hashing makes every
    such pair distinct — updates can no longer be silently classified
    unchanged."""
    cases = [
        # (old_pair, new_pair) that MUST be seen as an update
        (("a|b", "c"), ("a", "b|c")),
        (("a\x01b", "c"), ("a", "b\x01c")),
        (("\x00", "x"), (None, "x")),
        (("null", "x"), (None, "x")),  # literal 'null' string vs NULL
    ]
    for (o1, o2), (n1, n2) in cases:
        old = spark.createDataFrame([(1, o1, o2)], "k long, a string, b string")
        new = spark.createDataFrame([(1, n1, n2)], "k long, a string, b string")
        out = cdc.snapshot_diff(old, new, ["k"], ["a", "b"]).collect()
        assert [r["change_type"] for r in out] == ["update"], (o1, o2, n1, n2)


def test_bloom_join_rejects_result_changing_modes(spark):
    """Bloom pruning drops fact rows before the join, so outer/anti
    modes would return wrong results — they must raise, not run."""
    import pytest as _pytest

    from table_computing_spark.operators import bloomjoin

    fact = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    dim = spark.createDataFrame([(1, "x")], "k long, d string")
    for bad in ("left", "left_outer", "full", "left_anti", "right"):
        with _pytest.raises(ValueError):
            bloomjoin.bloom_join(fact, dim, "k", "k", how=bad)
    # the legal modes still run
    assert bloomjoin.bloom_join(fact, dim, "k", "k", how="inner").count() == 1
    assert (
        bloomjoin.bloom_join(fact, dim, "k", "k", how="left_semi").count() == 1
    )


def test_scd2_intervals_tile_timeline(spark):
    ev = spark.createDataFrame(
        [
            (1, 100, 1, "a"),
            (1, 200, 2, "a"),
            (1, 300, 3, "b"),
            (1, 400, 4, "a"),
            (2, 100, 5, "x"),
        ],
        "k long, t long, id long, attr string",
    )
    out = sorted(
        cdc.scd2_intervals(ev, "k", "t", "id", "attr").collect(),
        key=lambda r: (r["k"], r["version"]),
    )
    as_tuples = [
        (r["k"], r["version"], r["attr"], r["valid_from"], r["valid_to"], r["n_rows"])
        for r in out
    ]
    assert as_tuples == [
        (1, 1, "a", 100, 300, 2),
        (1, 2, "b", 300, 400, 1),
        (1, 3, "a", 400, None, 1),
        (2, 1, "x", 100, None, 1),
    ]
    # intervals tile: valid_to of version v == valid_from of v+1 (checked
    # above structurally); exactly one open interval per key
    open_per_key = Counter(r["k"] for r in out if r["valid_to"] is None)
    assert all(v == 1 for v in open_per_key.values())


# ---------------------------------------------------------- bloom join


def test_bloom_join_equals_plain_join(spark):
    fact = spark.range(0, 5000).select(
        F.col("id").alias("fk"), (F.col("id") % 997).alias("payload")
    )
    dim = spark.range(0, 5000, 13).select(F.col("id").alias("dk"))
    expected = sorted(
        r["fk"] for r in fact.join(dim, fact.fk == dim.dk).select("fk").collect()
    )
    got = sorted(
        r["fk"]
        for r in bloomjoin.bloom_join(fact, dim, "fk", "dk").select("fk").collect()
    )
    assert got == expected


def test_bloom_prune_no_false_negatives_and_prunes(spark):
    fact = spark.range(0, 20000).select(F.col("id").alias("fk"))
    dim = spark.range(0, 20000, 401).select(F.col("id").alias("dk"))
    bitmap = bloomjoin.bloom_build(dim, "dk")
    kept = {r["fk"] for r in bloomjoin.bloom_prune(fact, "fk", bitmap).collect()}
    true_keys = {r["dk"] for r in dim.collect()}
    assert true_keys <= kept, "bloom filter must never drop a real match"
    # 50 real keys out of 20k rows: the filter must remove the bulk
    assert len(kept) < 2000, f"bloom pruned too little: kept {len(kept)}"


def test_bloom_probe_joins_are_broadcast(spark):
    import io
    from contextlib import redirect_stdout

    fact = spark.range(0, 1000).select(F.col("id").alias("fk"))
    dim = spark.range(0, 100).select(F.col("id").alias("dk"))
    out = bloomjoin.bloom_join(fact, dim, "fk", "dk")
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    # every bitmap probe must be a broadcast join — a shuffle of the
    # fact side per probe would defeat the point
    assert plan.count("BroadcastHashJoin") >= 3


# ----------------------------------------------------- transitions


def test_transition_counts_golden_with_session_gap(spark):
    ev = spark.createDataFrame(
        [
            (1, 0, 1, "a"),
            (1, 10, 2, "b"),
            (1, 20, 3, "b"),
            # gap of 5000 > 100 — chain breaks, no b->c transition
            (1, 5020, 4, "c"),
            (2, 0, 5, "a"),
            (2, 50, 6, "b"),
        ],
        "k long, t long, id long, s string",
    )
    out = {
        (r["from_state"], r["to_state"]): (r["n_transitions"], r["p_transition"])
        for r in temporal.transition_counts(
            ev, "k", "t", "id", "s", session_gap=100
        ).collect()
    }
    assert out == {
        ("a", "b"): (2, 1.0),
        ("b", "b"): (1, 1.0),
    }


# ------------------------------------------------------- sampling


def test_multi_split_is_group_atomic(spark):
    df = spark.range(0, 2000).select(
        (F.col("id") % 37).cast("string").alias("grp"), F.col("id").alias("v")
    )
    tagged = multi_split(df, "grp", {"train": 0.8, "val": 0.1, "test": 0.1})
    splits_per_group = (
        tagged.groupBy("grp").agg(F.countDistinct("split").alias("n")).collect()
    )
    assert all(r["n"] == 1 for r in splits_per_group)
    names = {r["split"] for r in tagged.select("split").distinct().collect()}
    assert names <= {"train", "val", "test"}


def test_multi_split_rejects_oversum(spark):
    df = spark.range(1).select(F.col("id").cast("string").alias("g"))
    with pytest.raises(ValueError):
        multi_split(df, "g", {"a": 0.9, "b": 0.3})


def test_weighted_sample_deterministic_and_bounded(spark):
    df = spark.range(0, 500).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).cast("string").alias("stratum"),
        (F.col("id") % 7 + 1).cast("double").alias("w"),
    )
    a = weighted_sample(df, "k", "w", k=10, strata_col="stratum")
    b = weighted_sample(df, "k", "w", k=10, strata_col="stratum")
    rows_a = sorted((r["stratum"], r["rank"], r["k"]) for r in a.collect())
    rows_b = sorted((r["stratum"], r["rank"], r["k"]) for r in b.collect())
    assert rows_a == rows_b, "selection must be a pure function of the data"
    per_stratum = Counter(s for s, _, _ in rows_a)
    assert all(v == 10 for v in per_stratum.values())


def test_weighted_sample_excludes_nonpositive_and_favors_weight(spark):
    # two candidate pools with identical keys-hash behavior but weights
    # 1 vs 100: the heavy pool must win far more of the 50 global slots
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 500, 100.0).otherwise(1.0).alias("w"),
    )
    picked = weighted_sample(df, "k", "w", k=50).collect()
    heavy = sum(1 for r in picked if r["k"] < 500)
    assert heavy >= 40, f"weight-100 pool won only {heavy}/50 slots"
    none_picked = weighted_sample(
        df.withColumn("w", F.lit(0.0)), "k", "w", k=5
    ).count()
    assert none_picked == 0


# --------------------------------------------------------- entropy


def test_char_entropy_matches_python(spark):
    from table_computing_spark.operators.text import char_entropy

    samples = ["aabbbc", "aaaa", "abcdefgh", "", "the quick brown fox"]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = [
        r["e"]
        for r in df.select(char_entropy("s").alias("e")).collect()
    ]

    def py_entropy(s):
        if not s:
            return 0.0
        n = len(s)
        return round(
            -sum((c / n) * math.log(c / n) for _, c in sorted(Counter(s).items())),
            6,
        )

    assert got == [py_entropy(s) for s in samples]


# --------------------------------------------------- hard negatives


def test_hard_negatives_constraints(spark):
    from table_computing_spark.operators.similarity import hard_negatives

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.99, 0.14], 1),  # nearly identical to anchor — excluded by max_sim
            (3, [0.8, 0.6], 1),
            (4, [0.0, 1.0], 1),
            (5, [0.9, 0.43], 0),  # same label — excluded
        ],
        "vec_id long, embedding array<double>, label int",
    )
    anchors = corpus.filter(F.col("vec_id") == 1)
    out = hard_negatives(corpus, anchors, k=2, max_sim=0.95).collect()
    ids = [r["negative_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ids == [3, 4]
    assert all(r["cos_sim"] < 0.95 for r in out)


# ------------------------------------------------------------- BPE


def test_learn_bpe_matches_pure_python_reference(spark):
    from table_computing_spark.operators import bpe

    corpus = [
        "low low low low low",
        "lower lower newest newest",
        "newest newest newest newest",
        "widest widest widest",
    ]
    df = spark.createDataFrame([(s,) for s in corpus], "text string")
    merges, _ = bpe.learn_bpe(df, "text", num_merges=8)

    # independent trainer: Sennrich alg, tie-break (count desc, pair asc)
    wc = Counter(w for s in corpus for w in s.lower().split())
    vocab = {w: list(w[:-1]) + [w[-1] + bpe.END_OF_WORD] for w in wc}
    ref = []
    for it in range(1, 9):
        pc = Counter()
        for w, toks in vocab.items():
            for a, b in zip(toks, toks[1:]):
                pc[(a, b)] += wc[w]
        if not pc:
            break
        (l, r), c = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[0]
        if c < 2:
            break
        ref.append((it, l, r, c))
        for w, toks in vocab.items():
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == l and toks[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            vocab[w] = out
    assert merges == ref


def test_bpe_segment_roundtrips_words(spark):
    from table_computing_spark.operators import bpe

    df = spark.createDataFrame(
        [("low lower newest",), ("the newest low",)], "text string"
    )
    merges, _ = bpe.learn_bpe(df, num_merges=6)
    rows = bpe.bpe_segment(df, merges).collect()
    for r in rows:
        # concatenating the subword tokens reproduces the words
        rebuilt = "".join(r["bpe_tokens"]).replace(bpe.END_OF_WORD, " ").strip()
        assert rebuilt == " ".join(r["text"].lower().split())


def test_bpe_checkpoint_swap_releases_only_its_own_blocks(spark):
    # Another thread's checkpoint that appears while a BPE round
    # checkpoints (two BPE builds side by side) must survive that
    # build's next swap.
    from table_computing_spark.operators import bpe

    foreign = []

    class _RacingCheckpoint:
        sparkSession = spark

        def localCheckpoint(self):
            foreign.append(spark.range(5).selectExpr("id * 3 AS x").localCheckpoint())
            return spark.range(4).localCheckpoint()

    _, ids = bpe._swap_checkpoint(_RacingCheckpoint(), set())
    second, _ = bpe._swap_checkpoint(spark.range(3), ids)
    assert sorted(r["x"] for r in foreign[0].collect()) == [0, 3, 6, 9, 12]
    assert second.count() == 3


def test_bpe_greedy_merge_overlap(spark):
    from table_computing_spark.operators import bpe
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(["a", "a", "a"],)], "tokens array<string>")
    out = df.select(
        bpe._apply_merge(F.col("tokens"), "a", "a").alias("m")
    ).collect()[0]["m"]
    assert out == ["aa", "a"], "greedy left-to-right: aaa + (a,a) -> [aa, a]"


def test_bpe_rank_greedy_equals_sequential_replay(spark):
    """The q_bpe_segment oracle replays merges sequentially (one
    greedy left-to-right pass per merge, in rank order); bpe_segment
    applies rank-greedy (lowest-rank eligible pair first). For a table
    learn_bpe produced the two agree — every merge's components exist
    before it, so no later merge can create a pair for an earlier one.
    Pinned corpus-wide over the sf0.01 vocabulary."""
    from table_computing_spark.operators import bpe

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    merges, vocab = bpe.learn_bpe(d, "text", num_merges=8)
    ranks = {(l, r): i for i, (_, l, r, _) in enumerate(merges)}

    def initial(word):
        return list(word[:-1]) + [word[-1] + bpe.END_OF_WORD] if word else []

    def rank_greedy(word):
        toks = initial(word)
        while len(toks) > 1:
            best_rank, best_i = None, None
            for i in range(len(toks) - 1):
                rk = ranks.get((toks[i], toks[i + 1]))
                if rk is not None and (best_rank is None or rk < best_rank):
                    best_rank, best_i = rk, i
            if best_i is None:
                break
            toks[best_i : best_i + 2] = [toks[best_i] + toks[best_i + 1]]
        return toks

    def sequential(word):
        toks = initial(word)
        for _, left, right, _ in merges:
            out = []
            for t in toks:
                if out and out[-1] == left and t == right:
                    out[-1] = left + right
                else:
                    out.append(t)
            toks = out
        return toks

    words = [r["word"] for r in vocab.select("word").collect()]
    assert words, "empty vocabulary"
    for w in words:
        assert rank_greedy(w) == sequential(w), w
    # and the distributed vocab tokens equal the sequential replay too
    for r in vocab.collect():
        assert list(r["tokens"]) == sequential(r["word"]), r["word"]


def test_learn_bpe_batched_equals_one_merge_per_round(spark):
    """The r07 batched merge rounds (top-k disjoint prefix + created-
    pair bounds + merged-symbol collision guard) must produce the
    IDENTICAL merge list to the classic one-job-per-merge loop — on the
    real sf0.001 corpus and on a crafted corpus designed to trip the
    guards (overlapping hot pairs, self-pairs, symbol collisions)."""
    from table_computing_spark.operators import bpe

    crafted = [
        "aaa aaa aaa aa a",          # self-pair (a,a) + overlap runs
        "ab ab abc abc abc c c",     # 'ab'+'c' collides with ('a','b')+c paths
        "xy xy xy yz yz zx zx zx zx",  # chained shared tokens
        "low lower lowest newest newest newest",
    ]
    d1 = spark.createDataFrame([(s,) for s in crafted], "text string")
    d2 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for df, n in ((d1, 12), (d2, 10)):
        seq, _ = bpe.learn_bpe(df, "text", num_merges=n, batch_size=1)
        bat, _ = bpe.learn_bpe(df, "text", num_merges=n, batch_size=16)
        assert bat == seq


def test_learn_bpe_releases_superseded_blocks(spark):
    """r12 verdict #4 pin: the merge loop must not accumulate persisted
    blocks across rounds — superseded vocab checkpoints, the per-round
    pairs table, and the adjacency-bounds frame are all released, so a
    long build (or a bench warm rep on the same session) never pays the
    previous run's heap as GC pressure. After learn_bpe returns, at
    most ONE new persistent RDD may remain: the final vocab checkpoint
    (the caller owns it)."""
    from table_computing_spark.operators import bpe

    def persistent_count():
        return len(spark.sparkContext._jsc.getPersistentRDDs())

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    before = persistent_count()
    # checkpoint_every=1 maximizes checkpoint churn: 10 merges in
    # batches would leak ~several block sets under the old code
    merges, vocab = bpe.learn_bpe(
        df, "text", num_merges=10, checkpoint_every=1, batch_size=4
    )
    assert len(merges) == 10
    after = persistent_count()
    assert after <= before + 1, (
        f"merge loop leaked persisted RDDs: {before} -> {after}"
    )


# ------------------------------------------------------- compaction


def test_write_compacted_hits_target_file_count(spark, tmp_path):
    from table_computing_spark.sources import compaction

    df = spark.range(0, 50_000).selectExpr(
        "id", "repeat('x', 100) AS pad", "id % 7 AS k"
    )
    path = str(tmp_path / "out")
    # ~50k rows * ~120B/row / (1 MiB target) -> a handful of files
    n = compaction.write_compacted(df, path, target_mb=1, sort_cols=["k"])
    import glob

    files = glob.glob(path + "/part-*.parquet")
    assert len(files) == n and 1 <= n <= 32
    back = spark.read.parquet(path)
    assert back.count() == 50_000
    # range-partitioned on k: each file covers a narrow k range (file
    # skipping works); verify no file contains every k
    from collections import defaultdict

    import pyarrow.parquet as pq

    per_file_k = defaultdict(set)
    for f in files:
        t = pq.read_table(f, columns=["k"])
        per_file_k[f] = set(t.column("k").to_pylist())
    if n > 1:
        assert all(len(ks) < 7 for ks in per_file_k.values())


# ----------------------------------------------------------- drift


def test_psi_zero_for_identical_distributions(spark):
    from table_computing_spark.operators.drift import psi_drift

    df = spark.range(0, 1000).selectExpr("CAST(id % 100 AS DOUBLE) AS x")
    out = psi_drift(df, df, "x", 0.0, 100.0, bins=10).collect()
    assert len(out) == 10
    assert all(abs(r["psi_total"]) < 1e-9 for r in out)
    assert all(r["psi_term"] >= 0.0 for r in out), "PSI terms are non-negative"


def test_psi_detects_shift(spark):
    from table_computing_spark.operators.drift import psi_drift

    old = spark.range(0, 1000).selectExpr("CAST(id % 100 AS DOUBLE) AS x")
    new = spark.range(0, 1000).selectExpr("CAST(id % 100 AS DOUBLE) * 1.5 AS x")
    psi = psi_drift(old, new, "x", 0.0, 100.0, bins=10).collect()[0]["psi_total"]
    assert psi > 0.25, f"a 1.5x scale shift must flag as major drift, got {psi}"


# ------------------------------------------------------- CDC closure


def test_apply_diff_roundtrip(spark):
    from table_computing_spark.operators import cdc

    old = spark.createDataFrame(
        [(i, f"s{i % 3}", i * 10) for i in range(50)], "k long, s string, c long"
    )
    new = spark.createDataFrame(
        [
            (i, f"s{(i + (1 if i % 7 == 0 else 0)) % 3}", i * 10 + (5 if i % 5 == 0 else 0))
            for i in range(50)
            if i % 11 != 0
        ]
        + [(100, "s0", 1), (101, "s1", 2)],
        "k long, s string, c long",
    )
    diff = cdc.snapshot_diff_full(old, new, ["k"], ["s", "c"])
    applied = cdc.apply_diff(old, diff, ["k"])
    got = sorted((r["k"], r["s"], r["c"]) for r in applied.collect())
    want = sorted((r["k"], r["s"], r["c"]) for r in new.collect())
    assert got == want, "old + diff must reproduce new exactly"


# --------------------------------------------------------- pagerank


def test_pagerank_uniform_on_cycle(spark):
    from table_computing_spark.operators.graph import pagerank_nano

    n = 6
    edges = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src long, dst long"
    )
    out = pagerank_nano(edges, iterations=3).collect()
    ranks = {r["node"]: r["rank"] for r in out}
    assert len(ranks) == n
    # a directed cycle is regular: uniform stationary distribution
    assert max(ranks.values()) - min(ranks.values()) < 1e-8
    assert abs(sum(ranks.values()) - 1.0) < 1e-6


def test_pagerank_matches_naive(spark):
    from table_computing_spark.operators.graph import pagerank_nano

    E = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)]
    edges = spark.createDataFrame(E, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank_nano(edges, iterations=3).collect()}

    nodes = sorted({x for e in E for x in e})
    n = len(nodes)
    deg = {}
    for s, _ in E:
        deg[s] = deg.get(s, 0) + 1
    base = int(0.15 / n * 1e9 + 0.5)
    rank = {v: int(1e9 / n + 0.5) for v in nodes}
    for _ in range(3):
        s = {v: 0 for v in nodes}
        for a, b in E:
            c = 0.85 * rank[a] / deg[a]
            s[b] += int(c + 0.5) if c - int(c) >= 0.5 else int(c)  # round half-up
        rank = {v: base + s[v] for v in nodes}
    want = {v: round(rank[v] / 1e9, 9) for v in nodes}
    assert got == want


# ---------------------------------------------------- partitioned IO


def test_partitioned_write_prunes_directories(spark, tmp_path):
    import io
    from contextlib import redirect_stdout

    from table_computing_spark.sources import partitioned

    df = spark.createDataFrame(
        [(i, ["en", "de", "fr"][i % 3], f"doc {i}") for i in range(300)],
        "doc_id long, lang string, text string",
    )
    path = str(tmp_path / "bylang")
    partitioned.write_partitioned(df, path, ["lang"])
    back = partitioned.read_pruned(spark, path)
    sel = back.filter(F.col("lang") == "de")
    assert sel.count() == 100
    buf = io.StringIO()
    with redirect_stdout(buf):
        sel.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters", 1)[1][:200], (
        "the lang filter must prune at the directory level"
    )
    # partition dirs exist; exactly one data file per partition
    import glob

    for lang in ("en", "de", "fr"):
        files = glob.glob(f"{path}/lang={lang}/part-*.parquet")
        assert len(files) == 1, files


def test_woe_iv_ranks_predictive_features(spark):
    from table_computing_spark.operators.drift import woe_iv

    # feature == label bucket -> near-perfectly predictive
    df = spark.range(0, 2000).selectExpr(
        "CAST(id % 100 AS DOUBLE) AS x", "id % 100 < 50 AS y"
    )
    strong = woe_iv(df, "x", F.col("y"), 0.0, 100.0, bins=10).collect()[0]["iv_total"]
    # label independent of feature -> useless
    df2 = spark.range(0, 2000).selectExpr(
        "CAST(id % 100 AS DOUBLE) AS x", "id % 2 = 0 AS y"
    )
    weak = woe_iv(df2, "x", F.col("y"), 0.0, 100.0, bins=10).collect()[0]["iv_total"]
    assert strong > 1.0, f"perfectly separable feature must have huge IV, got {strong}"
    assert abs(weak) < 0.01, f"independent feature must have ~0 IV, got {weak}"


def test_key_skew_report_golden(spark):
    from table_computing_spark.operators.skew import key_skew_report

    # key 'hot' has 60 rows, 20 cold keys have 2 rows each -> 100 rows
    rows = [("hot",)] * 60 + [(f"k{i}",) for i in range(20) for _ in range(2)]
    df = spark.createDataFrame(rows, "k string")
    out = key_skew_report(df, "k", top_k=3).collect()
    assert [r["key"] for r in out] == ["hot", "k0", "k1"]
    top = out[0]
    assert top["n_rows"] == 60 and top["n_keys"] == 21
    assert abs(top["share"] - 0.6) < 1e-9
    # max/avg = 60 / (100/21) = 12.6
    assert abs(top["skew_ratio"] - 12.6) < 1e-6


# ------------------------------------------------------------ OHLC


def test_ohlc_bars_golden(spark):
    from table_computing_spark.operators.temporal import ohlc_bars

    ev = spark.createDataFrame(
        [
            ("a", 0, 1, 10.0),
            ("a", 500, 2, 30.0),
            ("a", 900, 3, 5.0),
            ("a", 999, 4, 20.0),
            ("a", 1000, 5, 7.0),  # next bar
            ("b", 10, 6, 1.0),
        ],
        "k string, t long, id long, v double",
    )
    out = {
        (r["k"], r["bar_start"]): (r["open"], r["high"], r["low"], r["close"], r["n_events"])
        for r in ohlc_bars(ev, ["k"], "t", "id", "v", 1000).collect()
    }
    assert out == {
        ("a", 0): (10.0, 30.0, 5.0, 20.0, 4),
        ("a", 1000): (7.0, 7.0, 7.0, 7.0, 1),
        ("b", 0): (1.0, 1.0, 1.0, 1.0, 1),
    }


# ---------------------------------------------------------- linkage


def test_linkage_scores_and_classifies(spark):
    import math

    from table_computing_spark.operators import linkage

    a = spark.createDataFrame(
        [(1, "alice", "X"), (2, "bob", "X")], "id_a long, name_a string, blk string"
    )
    b = spark.createDataFrame(
        [(11, "alice", "X"), (12, "carol", "X")], "id_b long, name_b string, blk string"
    )
    rule = linkage.FieldRule(
        "name", lambda j: F.col("name_a") == F.col("name_b"), 0.9, 0.1
    )
    scored = linkage.score_pairs(a, b, ["blk"], [rule])
    got = {(r["id_a"], r["id_b"]): (r["agree_name"], r["score"]) for r in scored.collect()}
    wa = round(math.log(0.9 / 0.1), 6)
    wd = round(math.log(0.1 / 0.9), 6)
    assert got == {
        (1, 11): (1, wa),
        (1, 12): (0, wd),
        (2, 11): (0, wd),
        (2, 12): (0, wd),
    }
    decided = {
        (r["id_a"], r["id_b"]): r["decision"]
        for r in linkage.classify(scored, upper=1.0, lower=-1.0).collect()
    }
    assert decided[(1, 11)] == "match" and decided[(1, 12)] == "non_match"


# ----------------------------------------------------------- zorder


def test_interleave_bits_golden(spark):
    from table_computing_spark.sources.zorder import interleave_bits

    df = spark.createDataFrame([(3, 5)], "a long, b long")
    # a=011, b=101 -> z bits (LSB first): a0=1,b0=1,a1=1,b1=0,a2=0,b2=1
    # z = 1 + 2 + 4 + 0 + 0 + 32 = 39
    out = df.select(
        interleave_bits([F.col("a"), F.col("b")], 3).alias("z")
    ).collect()[0]["z"]
    assert out == 39


def test_write_zordered_files_narrow_in_both_dims(spark, tmp_path):
    from table_computing_spark.sources import zorder

    # two independent uniform dims; z-ordered files must cover narrow
    # ranges of BOTH (a plain sort on one would leave the other full-range)
    df = spark.range(0, 4096).selectExpr(
        "id AS rid", "CAST(id % 64 AS DOUBLE) AS x", "CAST(CAST(id / 64 AS INT) % 64 AS DOUBLE) AS y"
    )
    path = str(tmp_path / "z")
    z = zorder.zorder_value(df, ["x", "y"], bits=4, tiebreak="rid")
    n_files = 16
    (
        z.repartitionByRange(n_files, "zvalue")
        .sortWithinPartitions("zvalue")
        .write.mode("overwrite")
        .parquet(path)
    )
    import glob

    import pyarrow.parquet as pq

    spans_x, spans_y = [], []
    for f in glob.glob(path + "/part-*.parquet"):
        t = pq.read_table(f, columns=["x", "y"])
        xs, ys = t.column("x").to_pylist(), t.column("y").to_pylist()
        spans_x.append(max(xs) - min(xs))
        spans_y.append(max(ys) - min(ys))
    # full range is 63; average z-ordered span must be far narrower in BOTH
    assert sum(spans_x) / len(spans_x) < 40
    assert sum(spans_y) / len(spans_y) < 40


# ------------------------------------------------------------- TWAP


def test_twap_weights_by_holding_time(spark):
    from table_computing_spark.operators.temporal import twap

    # window [0,1000): v=10 holds [0,600) (first obs carries back),
    # v=20 holds [600,1000) -> twap = (10*600 + 20*400)/1000 = 14.0
    ev = spark.createDataFrame(
        [("a", 100, 1, 10.0), ("a", 600, 2, 20.0), ("a", 1500, 3, 99.0)],
        "k string, t long, id long, v double",
    )
    out = {
        r["window_start"]: (r["twap"], r["n_obs"])
        for r in twap(ev, ["k"], "t", "id", "v", 1000).collect()
    }
    assert out[0] == (14.0, 2)
    assert out[1000] == (99.0, 1)


# twap repartition-invariance now lives in tests/test_invariance.py
# (the shared parametrized harness)


# ----------------------------------------------------------- linreg


def test_linreg_recovers_exact_line(spark):
    from table_computing_spark.functions import linreg

    # y = 3x + 5, exact -> slope 3, intercept 5, r2 = 1
    df = spark.range(1, 200).selectExpr(
        "'g' AS grp", "CAST(id AS DOUBLE) AS x", "CAST(3 * id + 5 AS DOUBLE) AS y"
    )
    r = linreg(df, "x", "y", ["grp"], x_scale=0, y_scale=0).collect()[0]
    assert r["slope"] == 3.0 and r["intercept"] == 5.0 and r["r2"] == 1.0


def test_linreg_matches_numpy(spark):
    import numpy as np

    from table_computing_spark.functions import linreg

    xs = [float(i) for i in range(50)]
    ys = [2.5 * x - 7.0 + ((i * 37) % 11 - 5) for i, x in enumerate(xs)]
    df = spark.createDataFrame(
        [("g", x, y) for x, y in zip(xs, ys)], "grp string, x double, y double"
    )
    r = linreg(df, "x", "y", ["grp"], x_scale=2, y_scale=2).collect()[0]
    slope_np, intercept_np = np.polyfit(np.array(xs), np.array(ys), 1)
    assert abs(r["slope"] - slope_np) < 1e-6
    assert abs(r["intercept"] - intercept_np) < 1e-4


# ------------------------------------------------------ mutual info


def test_mutual_information_extremes(spark):
    from table_computing_spark.operators.drift import mutual_information

    # b == a -> MI = H(a) = ln(4) for uniform 4 categories
    import math

    df = spark.range(0, 400).selectExpr(
        "CAST(id % 4 AS STRING) AS a", "CAST(id % 4 AS STRING) AS b"
    )
    mi = mutual_information(df, "a", "b").collect()[0]["mi_total"]
    assert abs(mi - math.log(4)) < 1e-6
    # independent -> MI ~ 0
    df2 = spark.range(0, 400).selectExpr(
        "CAST(id % 4 AS STRING) AS a", "CAST(CAST(id / 4 AS INT) % 4 AS STRING) AS b"
    )
    mi2 = mutual_information(df2, "a", "b").collect()[0]["mi_total"]
    assert abs(mi2) < 1e-6


# -------------------------------------------------------- contracts


def test_contracts_validate_and_split(spark):
    from table_computing_spark.operators.contracts import quarantine_split, validate

    df = spark.createDataFrame(
        [(1, 10.0, "ok"), (2, -5.0, "ok"), (3, 10.0, None), (4, -1.0, "bad")],
        "k long, v double, s string",
    )
    rules = [
        ("v_positive", F.col("v") > 0),
        ("s_known", F.col("s").isin("ok")),
    ]
    tagged = {r["k"]: (r["violations"], r["is_valid"]) for r in validate(df, rules).collect()}
    assert tagged[1] == ([], True)
    assert tagged[2] == (["v_positive"], False)
    # NULL rule result counts as violation (three-valued logic rejected)
    assert tagged[3] == (["s_known"], False)
    assert tagged[4] == (["v_positive", "s_known"], False)
    clean, bad = quarantine_split(df, rules)
    assert {r["k"] for r in clean.collect()} == {1}
    assert {r["k"] for r in bad.collect()} == {2, 3, 4}
    assert "violations" in bad.columns and "is_valid" not in bad.columns


def test_linkage_em_recovers_parameters(spark):
    from table_computing_spark.operators import linkage

    # synthesize agreement vectors from known m/u: 200 matched pairs
    # (agree with prob .9/.85) and 1800 non-matches (.05/.2),
    # deterministically via hash-threshold pseudo-draws
    import hashlib

    def draw(i, salt):
        h = hashlib.md5(f"{salt}:{i}".encode()).hexdigest()
        return int(h[:8], 16) / 16**8

    rows = []
    for i in range(2000):
        match = i < 200
        a1 = draw(i, "f1") < (0.9 if match else 0.05)
        a2 = draw(i, "f2") < (0.85 if match else 0.2)
        a3 = draw(i, "f3") < (0.95 if match else 0.1)
        rows.append((a1, a2, a3))
    df = spark.createDataFrame(rows, "f1 boolean, f2 boolean, f3 boolean")
    # >= 3 fields: 2^3 patterns identify the 7 parameters (K=2 is
    # underdetermined — 4 patterns, 5 parameters)
    (mu1, mu2, mu3), p = linkage.estimate_em(
        df, ["f1", "f2", "f3"], iterations=80, prior=0.3
    )
    assert abs(p - 0.1) < 0.04, f"prior ~0.1, got {p}"
    assert abs(mu1[0] - 0.9) < 0.1 and abs(mu1[1] - 0.05) < 0.05, mu1
    assert abs(mu2[0] - 0.85) < 0.1 and abs(mu2[1] - 0.2) < 0.08, mu2
    assert abs(mu3[0] - 0.95) < 0.1 and abs(mu3[1] - 0.1) < 0.05, mu3


# -------------------------------------------------------- artifacts


def test_artifact_roundtrips(spark, tmp_path):
    from table_computing_spark.operators import bpe
    from table_computing_spark.sources import artifacts

    df = spark.createDataFrame([("low low lower newest newest",)], "text string")
    merges, _ = bpe.learn_bpe(df, num_merges=4)
    p1 = str(tmp_path / "bpe")
    artifacts.save_bpe(spark, merges, p1)
    assert artifacts.load_bpe(spark, p1) == merges
    # segmentation with reloaded merges is identical
    a = bpe.bpe_segment(df, merges).collect()[0]["bpe_tokens"]
    b = bpe.bpe_segment(df, artifacts.load_bpe(spark, p1)).collect()[0]["bpe_tokens"]
    assert a == b

    cents = [[0.1, 0.2], [0.3, -0.4], [1.5, 2.5]]
    p2 = str(tmp_path / "ivf")
    artifacts.save_centroids(spark, cents, p2)
    assert artifacts.load_centroids(spark, p2) == cents

    p3 = str(tmp_path / "fs")
    artifacts.save_linkage_weights(
        spark, ["name", "bal"], [(0.9, 0.01), (0.8, 0.1)], 0.05, p3
    )
    mu, prior = artifacts.load_linkage_weights(spark, p3)
    assert mu == {"name": (0.9, 0.01), "bal": (0.8, 0.1)} and prior == 0.05


def test_pagerank_empty_edges(spark):
    from table_computing_spark.operators.graph import pagerank_nano

    ee = spark.createDataFrame([], "src long, dst long")
    out = pagerank_nano(ee, 2)
    assert out.count() == 0 and out.columns == ["node", "rank"]


def test_snapshot_diff_on_bucketed_tables_has_no_exchange(spark):
    """The PLANS.md claim: with both snapshots written through
    sources/bucketed on the key, the CDC diff join plans with no
    Exchange at all (the narrow fingerprint projection preserves the
    bucketing)."""
    import io
    from contextlib import redirect_stdout

    from table_computing_spark.sources.bucketed import read_bucketed, write_bucketed

    base = spark.range(0, 10_000).selectExpr(
        "id AS k", "CAST(id % 97 AS STRING) AS s", "id * 3 AS c"
    )
    write_bucketed(base.filter("k % 13 != 0"), "cdc_old_b", ["k"], num_buckets=8,
                   sort_by=["k"])
    write_bucketed(
        base.filter("k % 11 != 0").selectExpr("k", "s", "c + CAST(k % 7 = 0 AS LONG) AS c"),
        "cdc_new_b", ["k"], num_buckets=8, sort_by=["k"],
    )
    try:
        old = read_bucketed(spark, "cdc_old_b").df
        new = read_bucketed(spark, "cdc_new_b").df
        diff = cdc.snapshot_diff(old, new, ["k"], ["s", "c"])
        buf = io.StringIO()
        with redirect_stdout(buf):
            diff.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange" not in plan, "bucketed diff must not shuffle"
        # and the result is still correct
        kinds = {r["change_type"] for r in diff.collect()}
        assert kinds == {"insert", "delete", "update"}
    finally:
        spark.sql("DROP TABLE IF EXISTS cdc_old_b")
        spark.sql("DROP TABLE IF EXISTS cdc_new_b")


# --------------------------------------------------- target encoding


def test_target_encode_is_out_of_fold(spark):
    from table_computing_spark.operators.encoding import fold_of, target_encode

    # category 'solo' appears ONLY in one fold: its encoding must be
    # exactly the out-of-fold prior (zero self-contribution)
    df = spark.range(0, 1000).selectExpr(
        "id AS rid",
        "CASE WHEN id = 0 THEN 'solo' ELSE concat('c', CAST(id % 7 AS STRING)) END AS cat",
        "CAST(id % 2 AS DOUBLE) AS y",
    )
    out = target_encode(df, "cat", F.col("y"), "rid", k_folds=5, smoothing=20.0)
    rows = out.collect()
    solo = [r for r in rows if r["cat"] == "solo"][0]
    # recompute the expected oof prior for solo's fold in python
    folds = {r["rid"]: r["__fold"] for r in rows}
    ys = {r["rid"]: r["y"] for r in rows}
    f = solo["__fold"]
    oof = [ys[i] for i in ys if folds[i] != f]
    prior = sum(oof) / len(oof)
    # solo's cell oof_s=0, oof_c=0 -> te = prior exactly
    assert abs(solo["te"] - prior) < 1e-12

    # general sanity: every te lies within [0, 1] (label range)
    assert all(0.0 <= r["te"] <= 1.0 for r in rows)


def test_target_encode_matches_naive(spark):
    from table_computing_spark.operators.encoding import target_encode

    df = spark.range(0, 400).selectExpr(
        "id AS rid", "concat('c', CAST(id % 3 AS STRING)) AS cat",
        "CAST(CASE WHEN id % 3 = 0 THEN 1 ELSE 0 END AS DOUBLE) AS y",
    )
    a = 10.0
    out = {r["rid"]: (r["cat"], r["__fold"], r["te"])
           for r in target_encode(df, "cat", F.col("y"), "rid", k_folds=4, smoothing=a).collect()}
    # naive recomputation from the spark-assigned folds — tests the
    # ENCODING math only
    rows = [(rid, c, f) for rid, (c, f, _) in out.items()]
    ys = {rid: 1.0 if rid % 3 == 0 else 0.0 for rid, _, _ in rows}
    for rid, c, f in rows:
        oof = [(rr, cc) for rr, cc, ff in rows if ff != f]
        oof_cat = [ys[rr] for rr, cc in oof if cc == c]
        oof_all = [ys[rr] for rr, _ in oof]
        prior = sum(oof_all) / len(oof_all)
        want = (sum(oof_cat) + prior * a) / (len(oof_cat) + a)
        assert abs(out[rid][2] - want) < 1e-9, (rid, c, f)


# -------------------------------------------------- incremental agg


def test_maintain_agg_equals_full_recompute(spark):
    """The self-maintainability closure: maintain_agg(state, ins, del)
    must equal agg_state over the post-delta fact set, value for
    value — including dropping groups whose count reaches zero."""
    from pyspark.sql import functions as F

    from table_computing_spark.operators import incremental

    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    measures = {"revenue": F.col("o_totalprice").cast("decimal(30,4)")}
    base = o.where(F.col("o_orderkey") % 7 != 0)
    inserts = o.where(F.col("o_orderkey") % 7 == 0)
    deletes = base.where(F.col("o_orderkey") % 5 == 0)

    state = incremental.agg_state(base, ["o_custkey"], measures)
    new = incremental.maintain_agg(
        state, inserts, deletes, ["o_custkey"], measures
    )
    final_facts = base.exceptAll(deletes).unionByName(inserts)
    want = incremental.agg_state(final_facts, ["o_custkey"], measures)

    got = {
        r["o_custkey"]: (r["cnt"], r["revenue"]) for r in new.collect()
    }
    exp = {
        r["o_custkey"]: (r["cnt"], r["revenue"]) for r in want.collect()
    }
    assert got == exp
    # zero-count drop: delete EVERY row of some customer's base orders
    k = base.select("o_custkey").first()["o_custkey"]
    del_all = base.where(F.col("o_custkey") == k)
    ins_none = inserts.limit(0)
    after = incremental.maintain_agg(
        state, ins_none, del_all, ["o_custkey"], measures
    )
    assert after.where(F.col("o_custkey") == k).count() == 0
    assert after.count() == state.count() - 1


def test_personalized_pagerank_vs_naive_and_seed_locality(spark):
    """PPR with integer-nano arithmetic must equal a naive Python
    replay exactly; and on a graph of two disconnected components,
    seeding only one component must leave the other at rank 0 — the
    defining difference from uniform-restart PageRank."""
    from pyspark.sql import functions as F

    from table_computing_spark.operators.graph import pagerank_nano

    # two disconnected stars: 1-(2,3,4) and 10-(11,12)
    und = [(1, 2), (1, 3), (1, 4), (10, 11), (10, 12)]
    edges = und + [(b, a) for a, b in und]
    edf = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r["node"]: r["rank"]
        for r in pagerank_nano(edf, iterations=3, seeds=seeds).collect()
    }
    assert all(got[n] == 0.0 for n in (10, 11, 12)), got
    assert got[1] > 0 and got[2] > 0

    # exact naive replay (nano ints, floor(x+0.5) rounding)
    from collections import defaultdict

    deg = defaultdict(int)
    for a, _ in edges:
        deg[a] += 1
    nodes = sorted({n for e in edges for n in e})
    seedset = {1}
    k = len(seedset)
    base = {n: (int((0.15 / k) * 1e9 + 0.5) if n in seedset else 0) for n in nodes}
    rank = {n: (int(1e9 / k + 0.5) if n in seedset else 0) for n in nodes}
    for _ in range(3):
        s = defaultdict(int)
        for a, b in edges:
            import math

            s[b] += int(math.floor(0.85 * rank[a] / deg[a] + 0.5))
        rank = {n: base[n] + s[n] for n in nodes}
    want = {n: round(rank[n] / 1e9, 9) for n in nodes}
    assert got == want


def test_maintain_distinct_sketch_accuracy_and_incrementality(spark):
    """Sketch-maintained distinct counts: the merged-from-deltas
    estimate must stay within the sketch's error bound of the exact
    post-insert distincts AND within 2%% of a single-pass whole-data
    sketch (union changes register type, so bit-equality is NOT the
    contract — closeness is)."""
    from pyspark.sql import functions as F

    from table_computing_spark.operators import incremental

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    base = li.where(F.col("l_orderkey") % 7 != 0)
    ins = li.where(F.col("l_orderkey") % 7 == 0)
    st = incremental.distinct_state(base, ["l_returnflag"], "l_orderkey")
    mt = incremental.maintain_distinct(st, ins, ["l_returnflag"], "l_orderkey")
    whole = incremental.distinct_state(li, ["l_returnflag"], "l_orderkey")

    m = {
        r["l_returnflag"]: r["distinct_est"]
        for r in incremental.distinct_estimate(mt, ["l_returnflag"]).collect()
    }
    w = {
        r["l_returnflag"]: r["distinct_est"]
        for r in incremental.distinct_estimate(whole, ["l_returnflag"]).collect()
    }
    exact = {
        r["l_returnflag"]: r["n"]
        for r in li.select("l_returnflag", "l_orderkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(m) == set(exact) and m
    for k in exact:
        assert abs(m[k] - exact[k]) / exact[k] <= 0.05, (k, m[k], exact[k])
        assert abs(m[k] - w[k]) / w[k] <= 0.02, (k, m[k], w[k])


def test_changed_partitions_classification(spark):
    """All four statuses from constructed snapshots: an untouched
    partition, a value-changed row, a removed-only partition, an
    added-only partition — and order/partitioning invariance of the
    digest (the whole point of the commutative sum)."""
    from pyspark.sql import functions as F

    from table_computing_spark.operators import cdc

    old = spark.createDataFrame(
        [("p1", 1, "a"), ("p1", 2, "b"), ("p2", 3, "c"), ("p3", 4, "d")],
        "part string, id long, v string",
    )
    new = spark.createDataFrame(
        [("p1", 1, "a"), ("p1", 2, "b"), ("p2", 3, "CHANGED"), ("p4", 5, "e")],
        "part string, id long, v string",
    )
    got = {
        r["part"]: r["status"]
        for r in cdc.changed_partitions(old, new, ["part"], ["id", "v"]).collect()
    }
    assert got == {"p1": "unchanged", "p2": "changed", "p3": "removed", "p4": "added"}

    d1 = cdc.partition_digest(old, ["part"], ["id", "v"]).collect()
    d2 = cdc.partition_digest(
        old.repartition(7).sortWithinPartitions(F.desc("v")), ["part"], ["id", "v"]
    ).collect()
    assert {tuple(r) for r in d1} == {tuple(r) for r in d2}


def test_join_explosion_total_equals_real_join(spark):
    """The forecast must equal the actual join cardinality exactly —
    checked against a real (small) join at sf0.001."""
    from pyspark.sql import functions as F

    from table_computing_spark.operators.skew import join_explosion_report

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    rep = join_explosion_report(li, o, "l_suppkey", "o_custkey", top_k=5)
    rows = rep.collect()
    total = rows[0]["total_out_rows"]
    real = li.join(o, li.l_suppkey == o.o_custkey).count()
    assert total == real
    assert all(r["total_out_rows"] == total for r in rows)
    assert rows == sorted(rows, key=lambda r: (-r["out_rows"], r["key"]))


def test_scd2_lookup_picks_version_valid_at_fact_time(spark):
    """Golden: a key with three versions; facts before the first
    version (null on left join), inside each interval, exactly on a
    boundary (new version wins — [from, to) semantics), and after the
    open interval's start. Every fact matches at most one version."""
    from table_computing_spark.operators import cdc

    ev = spark.createDataFrame(
        [(1, 10, 1, "a"), (1, 20, 2, "a"), (1, 30, 3, "b"), (1, 50, 4, "c")],
        "k long, t long, eid long, attr string",
    )
    ivs = cdc.scd2_intervals(ev, "k", "t", "eid", "attr")
    facts = spark.createDataFrame(
        [(100, 1, 5), (101, 1, 10), (102, 1, 29), (103, 1, 30),
         (104, 1, 49), (105, 1, 999), (106, 2, 30)],
        "fid long, k long, ft long",
    )
    out = cdc.scd2_lookup(facts, ivs, "k", "ft", how="left")
    got = {r["fid"]: r["attr"] for r in out.collect()}
    assert got == {
        100: None,   # predates history
        101: "a", 102: "a",
        103: "b",    # boundary: [30, 50) starts at 30
        104: "b",
        105: "c",    # open interval
        106: None,   # unknown key
    }
    assert out.count() == facts.count()  # non-overlap → no fan-out
