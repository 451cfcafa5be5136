"""Round-8 late-session operator families: exact bitmap distinct
counts, product quantization, point-in-time features, KS drift."""

import pytest
from pyspark.sql import functions as F

from __spark_entry__ import _await_stream
from table_computing_spark.operators import bitmaps
from table_computing_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"


def _orders(spark):
    return load_table(spark, SF, "orders").df


class TestBitmapDistinct:
    def test_matches_exact_count_distinct(self, spark):
        o = _orders(spark)
        st = bitmaps.distinct_state(o, ["o_orderpriority"], "o_custkey")
        got = {
            r["o_orderpriority"]: r["n_distinct"]
            for r in bitmaps.distinct_count(st, ["o_orderpriority"]).collect()
        }
        want = {
            r["o_orderpriority"]: r["n"]
            for r in o.groupBy("o_orderpriority")
            .agg(F.countDistinct("o_custkey").alias("n"))
            .collect()
        }
        assert got == want

    def test_incremental_merge_is_exact(self, spark):
        """state(base) OR state(delta) == state(full) — append-only
        maintenance with exact answers (the HLL twin only bounds the
        error; bitmaps eliminate it)."""
        o = _orders(spark)
        base = o.where(F.col("o_orderkey") % 7 != 0)
        delta = o.where(F.col("o_orderkey") % 7 == 0)
        merged = bitmaps.merge_states(
            bitmaps.distinct_state(base, ["o_orderstatus"], "o_custkey"),
            bitmaps.distinct_state(delta, ["o_orderstatus"], "o_custkey"),
            ["o_orderstatus"],
        )
        got = {
            r["o_orderstatus"]: r["n_distinct"]
            for r in bitmaps.distinct_count(merged, ["o_orderstatus"]).collect()
        }
        want = {
            r["o_orderstatus"]: r["n"]
            for r in o.groupBy("o_orderstatus")
            .agg(F.countDistinct("o_custkey").alias("n"))
            .collect()
        }
        assert got == want

    def test_rollup_from_fine_grain_is_exact(self, spark):
        """Distinct customers per priority derived from the
        (priority, status) state — facts never rescanned, counts still
        exact because bit-OR is set union (a sketch rollup would only
        approximate)."""
        o = _orders(spark)
        fine = bitmaps.distinct_state(
            o, ["o_orderpriority", "o_orderstatus"], "o_custkey"
        )
        got = {
            r["o_orderpriority"]: r["n_distinct"]
            for r in bitmaps.rollup_distinct(
                fine, ["o_orderpriority", "o_orderstatus"], ["o_orderpriority"]
            ).collect()
        }
        want = {
            r["o_orderpriority"]: r["n"]
            for r in o.groupBy("o_orderpriority")
            .agg(F.countDistinct("o_custkey").alias("n"))
            .collect()
        }
        assert got == want

    def test_rollup_rejects_unknown_coarse_key(self, spark):
        o = _orders(spark)
        fine = bitmaps.distinct_state(o, ["o_orderstatus"], "o_custkey")
        with pytest.raises(ValueError, match="not in the state grain"):
            bitmaps.rollup_distinct(fine, ["o_orderstatus"], ["o_orderpriority"])


class TestPitFeatures:
    def test_matches_hand_computed(self, spark):
        """Point-in-time enrichment on a hand-checkable fixture:
        last-before value, trailing (t-10, t] count and sum; the
        boundary fact at exactly t-10 is excluded, the fact at exactly
        t included; entities with no history get NULL/0/NULL."""
        from table_computing_spark.operators.temporal import pit_features

        facts = spark.createDataFrame(
            [(1, 5.0, 10.0), (1, 10.0, 20.0), (1, 15.0, 40.0),
             (1, 20.0, 80.0), (2, 7.0, 3.0)],
            "uid long, t double, v double",
        )
        spine = spark.createDataFrame(
            [(100, 1, 20.0), (101, 1, 14.0), (102, 2, 6.0), (103, 3, 9.0)],
            "sid long, uid long, t_asof double",
        )
        out = pit_features(
            spine, facts, on=["uid"], spine_time="t_asof", fact_time="t",
            spine_id="sid", last_cols=["v"],
            trailing={"n10": ("count", "v", 10), "s10": ("sum", "v", 10)},
        )
        got = {r["sid"]: (r["v"], r["n10"], r["s10"]) for r in out.collect()}
        # sid 100: t=20 → last v=80; window (10,20] → facts 15,20 (10 excluded)
        # sid 101: t=14 → last v=20 (t=10); window (4,14] → 5,10
        # sid 102: t=6  → no fact <= 6 for uid 2 (7>6) → NULL; window (−4,6] empty
        # sid 103: unseen entity → NULL, 0, NULL
        assert got == {
            100: (80.0, 2, 120.0),
            101: (20.0, 2, 30.0),
            102: (None, 0, None),
            103: (None, 0, None),
        }

    def test_rejects_unknown_kind(self, spark):
        from table_computing_spark.operators.temporal import pit_features

        df = spark.range(1).selectExpr("id as uid", "1.0 as t", "1.0 as v")
        sp = spark.range(1).selectExpr("id as sid", "id as uid", "2.0 as t_asof")
        with pytest.raises(ValueError, match="unsupported trailing kinds"):
            pit_features(sp, df, ["uid"], "t_asof", "t", "sid",
                         trailing={"m": ("max", "v", 10)})


class TestKsTest:
    @staticmethod
    def _ks_ref(x, y):
        import numpy as np

        xs, ys = np.sort(np.asarray(x)), np.sort(np.asarray(y))
        allv = np.unique(np.concatenate([xs, ys]))
        fa = np.searchsorted(xs, allv, side="right") / len(xs)
        fb = np.searchsorted(ys, allv, side="right") / len(ys)
        return float(np.max(np.abs(fa - fb)))

    def test_global_matches_numpy(self, spark):
        from table_computing_spark.operators.drift import ks_test

        import numpy as np

        rng = np.random.default_rng(7)
        x = rng.integers(0, 40, 300).tolist()
        y = (rng.integers(0, 40, 200) + 4).tolist()
        a = spark.createDataFrame([(int(v),) for v in x], "v long").repartition(5)
        b = spark.createDataFrame([(int(v),) for v in y], "v long").repartition(3)
        row = ks_test(a, b, "v").collect()[0]
        assert row["n_a"] == 300 and row["n_b"] == 200
        want = self._ks_ref(x, y)
        assert abs(row["ks_d"] - want) < 1e-6
        assert row["ks_num"] == round(want * 300 * 200)

    def test_identical_samples_give_zero(self, spark):
        from table_computing_spark.operators.drift import ks_test

        a = spark.range(100).selectExpr("id % 13 as v")
        assert ks_test(a, a, "v").collect()[0]["ks_d"] == 0.0

    def test_grouped(self, spark):
        from table_computing_spark.operators.drift import ks_test

        import numpy as np

        rng = np.random.default_rng(3)
        rows_a, rows_b, ref = [], [], {}
        for g in ["p", "q"]:
            x = rng.integers(0, 25, 150).tolist()
            shift = 0 if g == "p" else 6
            y = (rng.integers(0, 25, 120) + shift).tolist()
            rows_a += [(g, int(v)) for v in x]
            rows_b += [(g, int(v)) for v in y]
            ref[g] = self._ks_ref(x, y)
        a = spark.createDataFrame(rows_a, "g string, v long")
        b = spark.createDataFrame(rows_b, "g string, v long")
        got = {r["g"]: r["ks_d"] for r in ks_test(a, b, "v", keys=["g"]).collect()}
        assert set(got) == {"p", "q"}
        for g in got:
            assert abs(got[g] - ref[g]) < 1e-6


class TestCalibrationBins:
    def test_matches_hand_computed(self, spark):
        from table_computing_spark.operators.classify import calibration_bins

        # (score_milli, label): bin width 0.5 → bins {0, 1}
        rows = [(100, 0), (400, 1), (600, 1), (900, 1), (1000, 1)]
        df = spark.createDataFrame(rows, "s long, y int")
        got = {
            r["bin"]: r
            for r in calibration_bins(df, "s", 1000, "y", bins=2).collect()
        }
        # bin 0: s=100,400 → n=2, mean_pred=.25, pos=1 → rate .5
        # bin 1: s=600,900,1000 (1.0 clamps into last bin) → mean .833333, rate 1
        assert got[0]["n"] == 2 and got[0]["mean_pred"] == 0.25 and got[0]["pos_rate"] == 0.5
        assert got[1]["n"] == 3 and got[1]["mean_pred"] == round(2500 / 3000, 6)
        assert got[1]["pos_rate"] == 1.0
        # ECE = (|1000*1-500| + |1000*3-2500|) / (1000*5) = 1000/5000
        assert got[0]["ece"] == got[1]["ece"] == 0.2

    def test_perfectly_calibrated_score_has_zero_ece(self, spark):
        from table_computing_spark.operators.classify import calibration_bins

        # score 0 with label 0, score 1000 with label 1 → every bin gap 0
        rows = [(0, 0)] * 5 + [(1000, 1)] * 5
        df = spark.createDataFrame(rows, "s long, y int")
        out = calibration_bins(df, "s", 1000, "y", bins=4).collect()
        assert all(r["ece"] == 0.0 for r in out)


class TestProductQuantization:
    def test_encode_shape_and_determinism(self, spark):
        from table_computing_spark.operators import similarity as sim

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        books = sim.pq_fit(emb, m=8, k=16, iters=1)
        assert len(books) == 8 and len(books[0]) == 16 and len(books[0][0]) == 8
        codes = sim.pq_encode(emb, books).collect()
        assert all(len(r["codes"]) == 8 for r in codes)
        assert all(0 <= c < 16 for r in codes for c in r["codes"])
        again = {r["vec_id"]: r["codes"] for r in sim.pq_encode(emb, books).collect()}
        assert {r["vec_id"]: r["codes"] for r in codes} == again

    def test_full_candidate_rerank_equals_exact(self, spark):
        """With candidates >= corpus size the exact re-rank sees every
        vector, so pq_topk must equal brute-force L2 top-k no matter
        what ADC ordered — the recall knob only moves between these
        extremes."""
        import numpy as np

        from table_computing_spark.operators import similarity as sim

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        qs = emb.filter(F.col("vec_id") % 100 == 0)
        books = sim.pq_fit(emb, m=8, k=16, iters=1)
        n = emb.count()
        got = sim.pq_topk(emb, qs, books, k=5, candidates=n)
        rows = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in got.collect()}
        E = {r["vec_id"]: np.array(r["embedding"]) for r in emb.collect()}
        for qid in [r["vec_id"] for r in qs.collect()]:
            d2 = sorted(
                (float(((E[qid] - v) ** 2).sum()), cid)
                for cid, v in E.items()
                if cid != qid
            )
            wantd = [round(d, 4) for d, _ in d2[:5]]
            # compare by distance (ties on rounded d2 may reorder ids)
            gotd = []
            for rk in range(1, 6):
                cid = rows[(qid, rk)]
                gotd.append(round(float(((E[qid] - E[cid]) ** 2).sum()), 4))
            assert gotd == wantd

    def test_adc_recall_reasonable(self, spark):
        """ADC with a 10%-of-corpus candidate pool should recover most
        of the exact top-10 (deterministic given the fixed fit)."""
        import numpy as np

        from table_computing_spark.operators import similarity as sim

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        qs = emb.filter(F.col("vec_id") % 100 == 0)
        books = sim.pq_fit(emb, m=16, k=16, iters=2)
        got = sim.pq_topk(emb, qs, books, k=10, candidates=100)
        pred = {}
        for r in got.collect():
            pred.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        E = {r["vec_id"]: np.array(r["embedding"]) for r in emb.collect()}
        recalls = []
        for qid in pred:
            d2 = sorted(
                (float(((E[qid] - v) ** 2).sum()), cid)
                for cid, v in E.items()
                if cid != qid
            )
            truth = {cid for _, cid in d2[:10]}
            recalls.append(len(pred[qid] & truth) / 10)
        assert sum(recalls) / len(recalls) >= 0.7, recalls


class TestImpute:
    def test_median_and_mode_fill(self, spark):
        from table_computing_spark.operators import impute as imp

        rows = [
            # g=a: vals 1,3,None → median 2.0; cats x,x,None → mode x
            ("a", 1.0, "x"), ("a", 3.0, "x"), ("a", None, None),
            # g=b: all None numeric → falls back to global median of
            # non-nulls {1,3,10} = 3.0; cats y,z tie → min "y"
            ("b", None, "y"), ("b", None, "z"),
            # NULL group key → global fallbacks (median 3.0, mode x)
            (None, None, None),
            ("c", 10.0, "z"),
        ]
        df = spark.createDataFrame(rows, "g string, v double, c string")
        got = {
            (r["g"], r["v"], r["c"])
            for r in imp.impute(df, ["g"], numeric=["v"], categorical=["c"]).collect()
        }
        assert got == {
            ("a", 1.0, "x"), ("a", 3.0, "x"), ("a", 2.0, "x"),
            ("b", 3.0, "y"), ("b", 3.0, "z"),
            (None, 3.0, "x"),
            ("c", 10.0, "z"),
        }

    def test_mode_tiebreak_is_min_value(self, spark):
        from table_computing_spark.operators.impute import mode_stats

        df = spark.createDataFrame(
            [("a", "q"), ("a", "q"), ("a", "p"), ("a", "p")], "g string, c string"
        )
        assert mode_stats(df, ["g"], "c").collect()[0]["c__mode"] == "p"

    def test_schema_preserved(self, spark):
        from table_computing_spark.operators import impute as imp

        df = spark.createDataFrame([("a", 1.0, "x")], "g string, v double, c string")
        out = imp.impute(df, ["g"], numeric=["v"], categorical=["c"])
        assert out.columns == df.columns


class TestIvfPq:
    def test_probe_all_full_candidates_equals_exact(self, spark):
        """With every cell probed and a corpus-sized candidate pool the
        exact re-rank sees everything — ivfpq_topk must equal brute
        force; n_probe/candidates only trade recall for work between
        this and the fast configuration."""
        import numpy as np

        from table_computing_spark.operators import similarity as sim

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        qs = emb.filter(F.col("vec_id") % 100 == 0)
        cents = sim.ivf_fit(emb, n_centroids=8, iters=1)
        books = sim.pq_fit(emb, m=16, k=16, iters=1)
        n = emb.count()
        got = sim.ivfpq_topk(
            emb, qs, books, cents, k=5, n_probe=8, candidates=n
        )
        rows = {(r["query_id"], r["rank"]): r["d2"] for r in got.collect()}
        E = {r["vec_id"]: np.array(r["embedding"]) for r in emb.collect()}
        for qid in [r["vec_id"] for r in qs.collect()]:
            d2s = sorted(
                round(float(((E[qid] - v) ** 2).sum()), 4)
                for cid, v in E.items()
                if cid != qid
            )[:5]
            assert [rows[(qid, rk)] for rk in range(1, 6)] == d2s

    def test_candidates_come_from_probed_cells(self, spark):
        from table_computing_spark.operators import similarity as sim

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        qs = emb.filter(F.col("vec_id") % 250 == 0)
        cents = sim.ivf_fit(emb, n_centroids=8, iters=1)
        books = sim.pq_fit(emb, m=16, k=16, iters=1)
        out = sim.ivfpq_topk(emb, qs, books, cents, k=5, n_probe=2, candidates=20)
        cells = {r["vec_id"]: r["cell"] for r in sim.ivf_assign(emb, cents).collect()}
        import numpy as np

        C = np.array(cents)
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
        for r in out.collect():
            q = np.array(
                emb.filter(F.col("vec_id") == r["query_id"]).first()["embedding"]
            )
            qn = q / max(np.linalg.norm(q), 1e-12)
            probed = set(np.argsort(-(qn @ Cn.T), kind="stable")[:2].tolist())
            assert cells[r["neighbor_id"]] in probed


class TestCorrMatrix:
    def test_matches_numpy(self, spark):
        from table_computing_spark.functions.aggregate import corr_matrix

        import numpy as np

        rng = np.random.default_rng(11)
        x = rng.integers(0, 100, 200)
        y = (2 * x + rng.integers(0, 50, 200))
        z = rng.integers(0, 100, 200)
        df = spark.createDataFrame(
            [(int(a), int(b), int(c)) for a, b, c in zip(x, y, z)],
            "x long, y long, z long",
        )
        got = {
            (r["col_x"], r["col_y"]): r["r"]
            for r in corr_matrix(df, {"x": 0, "y": 0, "z": 0}).collect()
        }
        assert set(got) == {("x", "y"), ("x", "z"), ("y", "z")}
        for (a, b), rv in got.items():
            ref = float(np.corrcoef(eval(a), eval(b))[0, 1])
            assert abs(rv - ref) < 1e-6, (a, b, rv, ref)

    def test_constant_column_gives_null(self, spark):
        from table_computing_spark.functions.aggregate import corr_matrix

        df = spark.createDataFrame([(1, 5), (2, 5), (3, 5)], "x long, k long")
        row = corr_matrix(df, {"x": 0, "k": 0}).collect()[0]
        assert row["r"] is None

    def test_grouped(self, spark):
        from table_computing_spark.functions.aggregate import corr_matrix

        rows = [("a", i, 2 * i) for i in range(10)] + [
            ("b", i, -3 * i) for i in range(10)
        ]
        df = spark.createDataFrame(rows, "g string, x long, y long")
        got = {
            r["g"]: r["r"]
            for r in corr_matrix(df, {"x": 0, "y": 0}, by=["g"]).collect()
        }
        assert got == {"a": 1.0, "b": -1.0}


class TestStreamMaintainDistinct:
    def test_stream_counts_exact_and_idempotent(self, spark, tmp_path):
        import os

        from table_computing_spark.operators import bitmaps
        from table_computing_spark.streaming import matview

        o = _orders(spark).select("o_orderkey", "o_orderstatus", "o_custkey")
        src = str(tmp_path / "deltas")
        for i in range(2):
            o.where(F.col("o_orderkey") % 2 == i).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        sdf = (
            spark.readStream.schema(o.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        state = str(tmp_path / "state")
        q = matview.stream_maintain_distinct(
            sdf, ["o_orderstatus"], "o_custkey", state, str(tmp_path / "ckpt")
        )
        _await_stream(q, 120)
        st = matview.read_state(spark, state)
        got = {
            r["o_orderstatus"]: r["n_distinct"]
            for r in bitmaps.distinct_count(st, ["o_orderstatus"]).collect()
        }
        want = {
            r["o_orderstatus"]: r["n"]
            for r in o.groupBy("o_orderstatus")
            .agg(F.countDistinct("o_custkey").alias("n"))
            .collect()
        }
        assert got == want
        # re-running the same availableNow stream over the same
        # checkpoint replays nothing; the version pointer must not move
        ptr_before = matview._read_pointer(state)
        q2 = matview.stream_maintain_distinct(
            spark.readStream.schema(o.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            ["o_orderstatus"],
            "o_custkey",
            state,
            str(tmp_path / "ckpt"),
        )
        _await_stream(q2, 120)
        assert matview._read_pointer(state)["version"] == ptr_before["version"]


class TestCusumChangepoint:
    def test_finds_planted_shift(self, spark):
        from table_computing_spark.operators.drift import cusum_changepoint

        # 40 points at level 10, then 40 at level 50 → cp at k=40
        rows = [("a", i, 10) for i in range(40)] + [
            ("a", i, 50) for i in range(40, 80)
        ]
        df = spark.createDataFrame(rows, "g string, t long, x long").repartition(7)
        r = cusum_changepoint(df, ["g"], ["t"], "x").collect()[0]
        assert (r["n"], r["cp_k"]) == (80, 40)
        # |n*S_40 - 40*S_n| = |80*400 - 40*2400| = 64000
        assert r["cp_stat_num"] == 64000
        assert r["cp_stat"] == round(64000 / (80 * 2400), 6)

    def test_matches_brute_force_and_tiebreak(self, spark):
        import numpy as np

        from table_computing_spark.operators.drift import cusum_changepoint

        rng = np.random.default_rng(5)
        got_rows = {}
        data = {}
        rows = []
        for g in ["p", "q"]:
            xs = rng.integers(-5, 20, 60).tolist()
            data[g] = xs
            rows += [(g, i, int(v)) for i, v in enumerate(xs)]
        df = spark.createDataFrame(rows, "g string, t long, x long").repartition(5)
        for r in cusum_changepoint(df, ["g"], ["t"], "x").collect():
            got_rows[r["g"]] = (r["cp_k"], r["cp_stat_num"])
        for g, xs in data.items():
            n, sn = len(xs), sum(xs)
            best = max(
                (abs(n * sum(xs[:k]) - k * sn), -k) for k in range(1, n)
            )
            assert got_rows[g] == (-best[1], best[0])


class TestWinsorize:
    def test_clips_to_exact_percentiles(self, spark):
        from table_computing_spark.operators.quantiles import winsorize

        import numpy as np

        rng = np.random.default_rng(9)
        xs = rng.normal(0, 100, 400).round(2).tolist()
        df = spark.createDataFrame([("g", float(v)) for v in xs], "g string, v double")
        out = winsorize(df, ["g"], "v", 0.1, 0.9).collect()
        lo, hi = np.percentile(np.array(xs), [10, 90], method="linear")
        got = sorted(r["v"] for r in out)
        want = sorted(min(max(v, lo), hi) for v in xs)
        assert all(abs(a - b) < 1e-9 for a, b in zip(got, want))

    def test_nulls_pass_through_and_schema_kept(self, spark):
        from table_computing_spark.operators.quantiles import winsorize

        df = spark.createDataFrame(
            [("a", 1.0, "z"), ("a", 100.0, "y"), ("a", None, "x")],
            "g string, v double, other string",
        )
        out = winsorize(df, ["g"], "v", 0.25, 0.75)
        assert out.columns == df.columns
        vals = {r["other"]: r["v"] for r in out.collect()}
        assert vals["x"] is None


class TestAsofTolerance:
    def test_stale_matches_null_out(self, spark):
        from table_computing_spark.operators.temporal import asof_join, pit_features

        right = spark.createDataFrame(
            [(1, 10.0, 5.0), (1, 40.0, 7.0)], "k long, rt double, rv double"
        )
        left = spark.createDataFrame(
            [(1, 12.0), (1, 30.0), (1, 41.0)], "k long, lt double"
        )
        out = {
            r["lt"]: r["rv"]
            for r in asof_join(
                left, right, ["k"], "lt", "rt", how="left", tolerance=5.0
            ).collect()
        }
        # lt=12 → rt=10 gap 2 ok; lt=30 → rt=10 gap 20 > 5 → NULL;
        # lt=41 → rt=40 gap 1 ok
        assert out == {12.0: 5.0, 30.0: None, 41.0: 7.0}

        # inner drops the stale row entirely
        inner = asof_join(left, right, ["k"], "lt", "rt", how="inner", tolerance=5.0)
        assert sorted(r["lt"] for r in inner.collect()) == [12.0, 41.0]

        # pit_features threads the TTL through as last_ttl
        spine = spark.createDataFrame(
            [(100, 1, 30.0), (101, 1, 12.0)], "sid long, k long, t double"
        )
        facts = right.withColumnRenamed("rt", "t").withColumnRenamed("rv", "v")
        got = {
            r["sid"]: r["v"]
            for r in pit_features(
                spine, facts, ["k"], "t", "t", "sid",
                last_cols=["v"], last_ttl=5.0,
            ).collect()
        }
        assert got == {100: None, 101: 5.0}

    def test_forward_tolerance(self, spark):
        from table_computing_spark.operators.temporal import asof_join

        right = spark.createDataFrame([(1, 50.0, 9.0)], "k long, rt double, rv double")
        left = spark.createDataFrame([(1, 48.0), (1, 10.0)], "k long, lt double")
        out = {
            r["lt"]: r["rv"]
            for r in asof_join(
                left, right, ["k"], "lt", "rt",
                how="left", direction="forward", tolerance=5.0,
            ).collect()
        }
        assert out == {48.0: 9.0, 10.0: None}


class TestGlobalPercentRank:
    def test_matches_sql_percent_rank(self, spark):
        from table_computing_spark.operators.quantiles import global_percent_rank

        import numpy as np

        rng = np.random.default_rng(21)
        xs = rng.integers(0, 50, 300).tolist()  # heavy ties
        df = spark.createDataFrame(
            [(i, int(v)) for i, v in enumerate(xs)], "rid long, v long"
        ).repartition(6)
        got = {
            r["rid"]: r["percent_rank"]
            for r in global_percent_rank(df, "v").collect()
        }
        want = {
            r["rid"]: round(r["pr"], 9)
            for r in df.selectExpr(
                "rid", "percent_rank() OVER (ORDER BY v) AS pr"
            ).collect()
        }
        assert got == want

    def test_null_gets_null_rank_and_single_row_zero(self, spark):
        from table_computing_spark.operators.quantiles import global_percent_rank

        df = spark.createDataFrame([(1, None), (2, 5.0)], "rid long, v double")
        got = {r["rid"]: r["percent_rank"] for r in global_percent_rank(df, "v").collect()}
        assert got[1] is None and got[2] == 0.0


class TestIntervalOverlapJoin:
    def test_matches_brute_force(self, spark):
        import numpy as np

        from table_computing_spark.operators.temporal import interval_overlap_join

        rng = np.random.default_rng(13)
        A = [(i, int(s), int(s + d)) for i, (s, d) in enumerate(
            zip(rng.integers(0, 200, 40), rng.integers(1, 30, 40)))]
        B = [(j, int(s), int(s + d)) for j, (s, d) in enumerate(
            zip(rng.integers(0, 200, 40), rng.integers(1, 30, 40)))]
        a = spark.createDataFrame(A, "aid long, s long, e long").repartition(4)
        b = spark.createDataFrame(B, "bid long, s long, e long").repartition(3)
        got = {
            (r["aid"], r["bid"])
            for r in interval_overlap_join(
                a, b, "s", "e", "s", "e", bucket_width=16.0
            ).collect()
        }
        want = {
            (i, j)
            for i, sa, ea in A
            for j, sb, eb in B
            if sa < eb and sb < ea
        }
        assert got == want

    def test_keys_and_no_duplicates_on_long_intervals(self, spark):
        from table_computing_spark.operators.temporal import interval_overlap_join

        # one long interval spanning many buckets must pair exactly once
        a = spark.createDataFrame([("k", 1, 0, 1000)], "g string, aid long, s long, e long")
        b = spark.createDataFrame(
            [("k", 1, 500, 520), ("x", 2, 500, 520)], "g string, bid long, s long, e long"
        )
        out = interval_overlap_join(
            a, b, "s", "e", "s", "e", bucket_width=10.0, on=["g"]
        ).collect()
        assert len(out) == 1 and out[0]["bid"] == 1


class TestWinsorizeNullKeys:
    def test_null_group_keys_kept_and_clipped(self, spark):
        """Regression (session code review): a plain equi-join dropped
        NULL-key rows; the null-safe left join must keep them AND clip
        them against the NULL group's own band."""
        from table_computing_spark.operators.quantiles import winsorize

        rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0)] + [
            (None, 10.0), (None, 20.0), (None, 30.0), (None, 1000.0)
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        out = winsorize(df, ["g"], "v", 0.0, 0.5).collect()
        assert len(out) == len(rows)  # nothing dropped
        nulls = sorted(r["v"] for r in out if r["g"] is None)
        # NULL group's p50 (quantile_cont) = 25.0 → 1000 clips to 25
        assert nulls == [10.0, 20.0, 25.0, 25.0]


class TestPitStringSpineId:
    def test_string_spine_ids_work(self, spark):
        """Regression (session code review): spine_id was cast to long,
        so string ids (UUIDs) silently became NULL and every trailing
        feature read 0/NULL. Ids must keep their own type."""
        from table_computing_spark.operators.temporal import pit_features

        facts = spark.createDataFrame([(1, 5.0, 10.0)], "uid long, t double, v double")
        spine = spark.createDataFrame(
            [("ord-a", 1, 6.0), ("ord-b", 1, 3.0)], "sid string, uid long, t double"
        )
        got = {
            r["sid"]: (r["n"], r["s"])
            for r in pit_features(
                spine, facts, ["uid"], "t", "t", "sid",
                trailing={"n": ("count", "v", 10), "s": ("sum", "v", 10)},
            ).collect()
        }
        assert got == {"ord-a": (1, 10.0), "ord-b": (0, None)}


class TestPlanReport:
    def test_flags_global_window_and_cartesian(self, spark):
        from pyspark.sql import Window

        from table_computing_spark.plans import plan_report

        df = spark.range(100).selectExpr("id", "id % 7 as k")
        bad_window = df.withColumn(
            "rn", F.row_number().over(Window.orderBy("id"))
        )
        r = plan_report(bad_window)
        assert not r.ok and r.findings["unpartitioned_window"]

        cart = df.crossJoin(spark.range(10).selectExpr("id as j").hint("shuffle_replicate_nl"))
        r2 = plan_report(cart)
        assert not r2.ok and r2.findings["cartesian"]

    def test_clean_plan_passes_with_counts(self, spark):
        from table_computing_spark.plans import plan_report

        df = (
            spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
            .select("o_custkey", "o_totalprice")
            .groupBy("o_custkey")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        r = plan_report(df)
        assert r.ok, r.findings
        assert r.scans == 1 and r.exchanges >= 1

    def test_flags_row_udf_and_wide_scan(self, spark):
        from pyspark.sql.types import LongType

        from table_computing_spark.plans import plan_report

        slow = F.udf(lambda x: x + 1, LongType(), useArrow=False)
        df = spark.range(10).select(slow("id").alias("y"))
        r = plan_report(df)
        assert r.findings["python_row_udf"]

        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        r2 = plan_report(li, wide_scan_cols=10)
        assert r2.findings["wide_scan"]
        # snippets must NAME the offender (regression: first detail
        # block starts with a newline and produced an empty snippet)
        assert all("Scan parquet" in w for w in r2.findings["wide_scan"])

    def test_nested_loop_join_is_warning_not_failure(self, spark):
        from table_computing_spark.plans import plan_report

        a = spark.range(100).selectExpr("id as x")
        b = spark.range(10).selectExpr("id as y")
        r = plan_report(a.join(b, a.x > b.y))
        assert r.ok  # tiny built sides are legitimate — reader judges
        assert r.warnings["nested_loop_join"]


class TestStreamMaintainTdigest:
    def test_streamed_digest_hits_rank_band(self, spark, tmp_path):
        """The 3-batch streamed digest's quantile estimates must land
        inside the +/-2% rank band of the exact batch quantiles — the
        same contract q_tdigest_accuracy pins for the batch build."""
        import os

        from table_computing_spark.operators import tdigest as td
        from table_computing_spark.operators.quantiles import exact_quantiles
        from table_computing_spark.streaming import matview

        o = _orders(spark).select("o_orderkey", "o_totalprice")
        src = str(tmp_path / "deltas")
        for i in range(3):
            o.where(F.col("o_orderkey") % 3 == i).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        sdf = (
            spark.readStream.schema(o.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        state = str(tmp_path / "state")
        q = matview.stream_maintain_tdigest(
            sdf, "o_totalprice", state, str(tmp_path / "ckpt"), delta=300
        )
        _await_stream(q, 180)
        st = matview.read_state(spark, state)
        qs = [0.1, 0.5, 0.9]
        est = {r["q"]: r["est"] for r in td.tdigest_quantiles(st, qs).collect()}
        band_qs = sorted(
            {max(0.0, round(x - 0.02, 6)) for x in qs}
            | {min(1.0, round(x + 0.02, 6)) for x in qs}
        )
        ex = {
            r["q"]: r["value"]
            for r in exact_quantiles(o, "o_totalprice", band_qs).collect()
        }
        for x in qs:
            lo, hi = ex[max(0.0, round(x - 0.02, 6))], ex[min(1.0, round(x + 0.02, 6))]
            assert lo <= est[x] <= hi, (x, est[x], lo, hi)


class TestWeightedQuantiles:
    def test_matches_expansion(self, spark):
        """Weighted quantile of (v, w) == plain lower quantile of the
        row-expanded multiset (each v repeated w times)."""
        import numpy as np

        from table_computing_spark.operators.quantiles import weighted_quantiles

        rng = np.random.default_rng(17)
        rows = [("g", int(v), int(w)) for v, w in zip(
            rng.integers(0, 50, 60), rng.integers(1, 9, 60))]
        df = spark.createDataFrame(rows, "g string, v long, w long").repartition(5)
        qs = [0.1, 0.5, 0.9]
        got = {
            r["q"]: r["value"]
            for r in weighted_quantiles(df, ["g"], "v", "w", qs).collect()
        }
        expanded = sorted(v for _, v, w in rows for _ in range(w))
        W = len(expanded)
        import math as _math

        for x in qs:
            # smallest v with cum >= x*W (lower weighted quantile)
            want = expanded[max(0, _math.ceil(x * W) - 1)]
            assert got[x] == want, (x, got[x], want)

    def test_null_and_nonpositive_weights_ignored(self, spark):
        from table_computing_spark.operators.quantiles import weighted_quantiles

        df = spark.createDataFrame(
            [("a", 1, 1), ("a", 100, 0), ("a", 200, -5), ("a", None, 3), ("a", 3, 1)],
            "g string, v int, w int",
        )
        got = weighted_quantiles(df, ["g"], "v", "w", [0.5]).collect()
        assert got[0]["value"] == 1  # only v=1 (w1) and v=3 (w1) count; cum(1)=1 >= 0.5*2


class TestBootstrapCI:
    def test_deterministic_and_ordered(self, spark):
        from table_computing_spark.operators import bootstrap as bs

        df = spark.createDataFrame(
            [("g", i, (i * 37) % 100) for i in range(400)], "g string, id long, x long"
        ).repartition(6)
        a = bs.bootstrap_mean_ci(df, ["g"], "x", "id", replicas=60).collect()[0]
        b = bs.bootstrap_mean_ci(df, ["g"], "x", "id", replicas=60).collect()[0]
        assert a == b  # no RNG anywhere — reruns identical
        assert a["ci_lo"] <= a["mean"] <= a["ci_hi"]
        assert a["n"] == 400 and a["n_replicas"] == 60

    def test_interval_shrinks_with_n(self, spark):
        from table_computing_spark.operators import bootstrap as bs

        small = spark.createDataFrame(
            [("g", i, (i * 37) % 100) for i in range(60)], "g string, id long, x long"
        )
        big = spark.createDataFrame(
            [("g", i, (i * 37) % 100) for i in range(2000)], "g string, id long, x long"
        )
        ws = bs.bootstrap_mean_ci(small, ["g"], "x", "id", replicas=60).collect()[0]
        wb = bs.bootstrap_mean_ci(big, ["g"], "x", "id", replicas=60).collect()[0]
        assert (wb["ci_hi"] - wb["ci_lo"]) < (ws["ci_hi"] - ws["ci_lo"])

    def test_poisson_weights_mean_near_one(self, spark):
        from table_computing_spark.operators.bootstrap import poisson1_weight

        df = spark.range(20000).select(
            poisson1_weight(F.substring(F.md5(F.col("id").cast("string")), 1, 8)).alias("w")
        )
        stats = df.agg(F.avg("w").alias("m"), F.max("w").alias("mx")).first()
        assert abs(stats["m"] - 1.0) < 0.02
        assert stats["mx"] <= 11


class TestRollingQuantile:
    def test_matches_pandas_rolling_median(self, spark):
        import numpy as np
        import pandas as pd

        from table_computing_spark.operators.temporal import rolling_quantile

        rng = np.random.default_rng(23)
        vals = rng.integers(0, 100, 50).astype(float)
        df = spark.createDataFrame(
            [("k", i, float(v)) for i, v in enumerate(vals)], "g string, t long, v double"
        ).repartition(4)
        got = {
            r["t"]: r["rolling_q"]
            for r in rolling_quantile(df, ["g"], ["t"], "v", 0.5, 5).collect()
        }
        want = pd.Series(vals).rolling(5, min_periods=1).median()
        for i in range(50):
            assert abs(got[i] - want[i]) < 1e-9, (i, got[i], want[i])


class TestProfileDiff:
    def test_detects_planted_changes(self, spark):
        from table_computing_spark.operators.profile import profile_diff

        old = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0), (4, "c", None)],
            "id long, cat string, v double",
        )
        # new: one more row, a NEW category (distinct up), v all present
        # and max pushed out (envelope moves), id envelope also moves
        new = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0), (4, "d", 5.0),
             (5, "e", 99.0)],
            "id long, cat string, v double",
        )
        got = {
            r["col_name"]: r
            for r in profile_diff(old, new, ["id", "cat", "v"]).collect()
        }
        assert got["v"]["completeness_delta"] == round(1.0 - 3 / 4, 6)
        assert got["cat"]["distinct_old"] == 3 and got["cat"]["distinct_new"] == 4
        assert got["cat"]["distinct_ratio"] == round(4 / 3, 6)
        assert got["v"]["envelope_moved"] and got["id"]["envelope_moved"]
        assert not got["cat"]["envelope_moved"] is None
        # unchanged-envelope column: cat min 'a' max moved 'c'->'e'
        assert got["cat"]["envelope_moved"]

    def test_identical_snapshots_are_quiet(self, spark):
        from table_computing_spark.operators.profile import profile_diff

        df = spark.createDataFrame([(1, "x"), (2, "y")], "id long, s string")
        for r in profile_diff(df, df, ["id", "s"]).collect():
            assert r["completeness_delta"] == 0.0
            assert r["distinct_ratio"] == 1.0
            assert not r["envelope_moved"]


class TestVideoSceneChanges:
    def test_planted_cuts_found_exactly(self, spark):
        from table_computing_spark.operators import multimodal as mm

        vids = mm.make_demo_cut_video_media(spark, n=10, n_frames=8)
        out = mm.video_scene_changes(vids, every_n=1, max_frames=8, threshold=10)
        rows = out.collect()
        # every sampled frame but the first per video appears
        assert len(rows) == 10 * 7
        for r in rows:
            cut = (r["media_id"] % 5) + 2
            if r["frame_idx"] == cut:
                assert r["is_cut"] and r["hamming"] == 64, r
            else:
                assert not r["is_cut"] and r["hamming"] == 0, r
