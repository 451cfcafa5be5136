"""Streaming-layer tests.

Strategy (SURVEY §5): streaming correctness is defined on FINAL
per-window aggregates, which must equal the batch operators on the same
data (the batch ops are themselves DuckDB-oracle-checked). Sources are
JSON files on disk — the InsertableStreamTable analog (ref
sp/input/InsertableStreamTable.java:11-45): deterministic, ordered,
replayable. `maxFilesPerTrigger=1` makes each file one micro-batch.
"""

from __future__ import annotations

import json
import math
import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from __spark_entry__ import _await_stream
from table_computing_spark.operators import windows as tw
from table_computing_spark.sources import kafka as k
from table_computing_spark.sources.jdbc import create_table_ddl
from table_computing_spark.streaming import (
    DimensionTable,
    StreamProcessing,
    stream_session,
    stream_slide,
    stream_tumble,
)
from table_computing_spark.streaming.stateful import (
    stream_over_by_size,
)
from table_computing_spark.table import Table

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("t_ms", T.LongType()),
    ]
)

# Hand-written event log: 2 keys, out-of-order inside a batch, session
# gaps (gap=10s), hopping 10s/5s windows (mirrors the reference's
# window-test fixtures, window/SlideWindowTest.java:24-164 shape).
BATCH_1 = [
    (1, 1, "click", 10.0, 1_000),
    (2, 1, "click", 20.0, 3_000),
    (3, 2, "view", 5.0, 4_000),
    (4, 1, "click", 30.0, 9_500),  # out of order vs event 5
    (5, 2, "view", 7.0, 8_000),
]
BATCH_2 = [
    (6, 1, "click", 40.0, 14_000),
    (7, 2, "view", 9.0, 21_000),   # closes user 2's first session (gap > 10s)
    (8, 1, "click", 50.0, 36_000), # closes user 1's session
    (9, 2, "view", 11.0, 37_000),
]


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_src")
    for i, batch in enumerate([BATCH_1, BATCH_2]):
        _write_events(d / f"batch_{i}.json", batch, i)
    return str(d)


def _write_events(path, batch, bump=0):
    """One JSON-lines file of EVENT_SCHEMA rows, mtime now + `bump` s:
    distinct mtimes give a deterministic file (= micro-batch) order."""
    with open(path, "w") as f:
        for event_id, user_id, event_type, value, t_ms in batch:
            f.write(json.dumps({
                "event_id": event_id, "user_id": user_id,
                "event_type": event_type, "value": value, "t_ms": t_ms,
            }) + "\n")
    mt = time.time() + bump
    os.utime(path, (mt, mt))


def _read_stream(spark, stream_dir):
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(stream_dir)
    )


def _batch_df(spark):
    return spark.createDataFrame(BATCH_1 + BATCH_2, EVENT_SCHEMA)


def _run_to_table(spark, sdf, name, mode="append"):
    """`complete` for windowed aggs: append emits a window only after
    the watermark passes its end, so the last windows of a bounded
    replay would never appear; complete's final table IS the final
    aggregate state, which is what correctness is defined on."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 120)
    return spark.table(name)


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


class TestStreamingWindows:
    def test_stream_tumble_equals_batch(self, spark, stream_dir):
        sdf = _read_stream(spark, stream_dir)
        out = stream_tumble(
            sdf, "t_ms", "10 seconds", ["event_type"],
            watermark="5 seconds",
            n=F.count(F.lit(1)), total=F.sum("value"),
        )
        got = _run_to_table(spark, out, "t_tumble", "complete")
        expected = tw.tumble(
            Table(_batch_df(spark)), "t_ms", "10 seconds", ["event_type"],
            n=F.count(F.lit(1)), total=F.sum("value"),
        ).df.select("window_start", "window_end", "event_type", "n", "total")
        assert _rows(got.select(*expected.columns), "window_start", "event_type") == _rows(
            expected, "window_start", "event_type"
        )

    def test_stream_slide_equals_batch(self, spark, stream_dir):
        sdf = _read_stream(spark, stream_dir)
        out = stream_slide(
            sdf, "t_ms", "10 seconds", "5 seconds", ["event_type"],
            watermark="5 seconds", n=F.count(F.lit(1)),
        )
        got = _run_to_table(spark, out, "t_slide", "complete")
        expected = tw.slide(
            Table(_batch_df(spark)), "t_ms", "10 seconds", "5 seconds",
            ["event_type"], n=F.count(F.lit(1)),
        ).df.select("window_start", "window_end", "event_type", "n")
        assert _rows(got.select(*expected.columns), "window_start", "event_type") == _rows(
            expected, "window_start", "event_type"
        )

    def test_stream_session_equals_batch(self, spark, stream_dir):
        sdf = _read_stream(spark, stream_dir)
        out = stream_session(
            sdf, "t_ms", "10 seconds", ["user_id"],
            watermark="5 seconds",
            n=F.count(F.lit(1)), total=F.sum("value"),
        )
        got = _run_to_table(spark, out, "t_session", "complete")
        expected = tw.session(
            Table(_batch_df(spark)), "t_ms", "10 seconds", ["user_id"],
            n=F.count(F.lit(1)), total=F.sum("value"),
        ).df.select("session_start", "session_end", "user_id", "n", "total")
        assert _rows(got.select(*expected.columns), "session_start", "user_id") == _rows(
            expected, "session_start", "user_id"
        )


class TestStatefulOverWindows:
    def test_stream_over_by_size_crosses_batches(self, spark, stream_dir):
        """State must carry batch 1's buffer into batch 2 (ref
        OverWindowBySize ring buffer persists across firings)."""
        sdf = _read_stream(spark, stream_dir)

        def agg(buf):
            return {"trailing_sum": float(buf["value"].sum()), "trailing_n": len(buf)}

        out = stream_over_by_size(
            sdf, ["user_id"], "t_ms", 3, agg,
            [
                T.StructField("trailing_sum", T.DoubleType()),
                T.StructField("trailing_n", T.IntegerType()),
            ],
        )
        got = _run_to_table(spark, out, "t_obs")

        expected = tw.over_by_size(
            Table(_batch_df(spark)), ["user_id"], [F.col("t_ms").asc()], n=3,
            trailing_sum=F.sum("value"), trailing_n=F.count(F.lit(1)),
        ).df
        assert _rows(
            got.select("event_id", "trailing_sum", "trailing_n"), "event_id"
        ) == _rows(
            expected.select("event_id", "trailing_sum", "trailing_n"), "event_id"
        )

    def test_buffered_rows_stay_exact(self, spark, tmp_path):
        """Rows carried in state across micro-batches come back bit for
        bit: a trailing min whose window reaches into the first batch
        must equal the batch window's F.min exactly. The values differ
        only in the 12th decimal, below what a decimal text codec keeps."""
        d = tmp_path / "exact_src"
        d.mkdir()
        rows = [(k, 1, "click", 0.1234567890123456 + k * 1e-12, k * 1_000) for k in range(1, 7)]
        _write_events(d / "b0.json", rows[:2])
        _write_events(d / "b1.json", rows[2:], 1)

        out = stream_over_by_size(
            _read_stream(spark, str(d)), ["user_id"], "t_ms", 3,
            lambda buf: {"tmin": float(buf["value"].min())},
            [T.StructField("tmin", T.DoubleType())],
        )
        got = _rows(_run_to_table(spark, out, "t_obs_exact").select("event_id", "tmin"), "event_id")

        expected = tw.over_by_size(
            Table(spark.read.schema(EVENT_SCHEMA).json(str(d))), ["user_id"],
            [F.col("t_ms").asc()], n=3, tmin=F.min("value"),
        ).df
        want = _rows(expected.select("event_id", "tmin"), "event_id")
        assert len(got) == 6
        assert got == want


def _many_key_batches():
    """Three micro-batches over 240 users, two rows per user per batch,
    plus rows with a null user. Users >= 120 skip the middle batch.
    Values are quarters, so double sums are exact in any order."""
    batches = []
    for b in range(3):
        users = [*range(120 if b == 1 else 240), None]
        rows = []
        for i, u in enumerate(users):
            for r in range(2):
                eid = b * 10_000 + 2 * i + r
                t = b * 100_000 + (eid * 37) % 9_973
                rows.append((eid, u, ("click", "view")[(i + r) % 2], (eid % 13) / 4, t))
        batches.append(rows)
    return batches


def _run_many_keys(spark, tmp_path, keys, build, name):
    """Replay _many_key_batches through `build(sdf)`; returns the
    output table, the batch frame of all rows and the last progress.
    The middle batch reaches every bucket the first one fills, so the
    buffers of the keys it skips are carried through a bucket call."""
    from table_computing_spark.streaming.stateful import STATE_PARTITIONS

    d = tmp_path / name
    d.mkdir()
    batches = _many_key_batches()
    bucket = F.pmod(F.hash(*keys), F.lit(STATE_PARTITIONS))

    def buckets(rows):
        df = spark.createDataFrame(rows, EVENT_SCHEMA).select(bucket)
        return {r[0] for r in df.distinct().collect()}

    assert buckets(batches[1]) == buckets(batches[0])
    for i, rows in enumerate(batches):
        _write_events(d / f"b{i}.json", rows, i)
    q = (
        build(_read_stream(spark, str(d))).writeStream.format("memory")
        .queryName(name).outputMode("append").trigger(availableNow=True).start()
    )
    _await_stream(q, 120)
    assert len(q.recentProgress) >= 3
    every = spark.createDataFrame([r for rows in batches for r in rows], EVENT_SCHEMA)
    return spark.table(name), every, q.lastProgress


class TestOverWindowKeyBuckets:
    """Many keys share a bucket's state row: keys absent from a batch
    keep their buffers, a null key and a two-column key are keys like
    any other, and the state holds one row per bucket."""

    def test_by_size_two_column_key_vectorized(self, spark, tmp_path):
        import pandas as pd

        from table_computing_spark.streaming.stateful import (
            STATE_PARTITIONS,
            VectorizedRowAgg,
        )

        def trailing(history, n_old):
            roll = history["value"].rolling(3, min_periods=1)
            return pd.DataFrame({
                "tsum": roll.sum().iloc[n_old:].values,
                "tn": roll.count().iloc[n_old:].astype("int64").values,
            })

        got, every, progress = _run_many_keys(
            spark, tmp_path, ["user_id", "event_type"],
            lambda sdf: stream_over_by_size(
                sdf, ["user_id", "event_type"], "t_ms", 3, VectorizedRowAgg(trailing),
                [T.StructField("tsum", T.DoubleType()), T.StructField("tn", T.LongType())],
            ),
            "t_obs_buckets",
        )
        expected = tw.over_by_size(
            Table(every), ["user_id", "event_type"], [F.col("t_ms").asc()], n=3,
            tsum=F.sum("value"), tn=F.count(F.lit(1)),
        ).df
        want = _rows(expected.select("event_id", "tsum", "tn"), "event_id")
        assert len(want) == 2 * (241 + 121 + 241)
        assert _rows(got.select("event_id", "tsum", "tn"), "event_id") == want
        assert progress["stateOperators"][0]["numRowsTotal"] <= STATE_PARTITIONS

    def test_by_duration_row_agg(self, spark, tmp_path):
        from table_computing_spark.streaming.stateful import (
            STATE_PARTITIONS,
            stream_over_by_duration,
        )

        got, every, progress = _run_many_keys(
            spark, tmp_path, ["user_id"],
            lambda sdf: stream_over_by_duration(
                sdf, ["user_id"], "t_ms", 250_000,
                lambda buf: {"tsum": float(buf["value"].sum()), "tn": len(buf)},
                [T.StructField("tsum", T.DoubleType()), T.StructField("tn", T.IntegerType())],
            ),
            "t_obd_buckets",
        )
        expected = tw.over_by_duration(
            Table(every), ["user_id"], "t_ms", duration_ms=250_000,
            tsum=F.sum("value"), tn=F.count(F.lit(1)),
        ).df
        want = _rows(expected.select("event_id", "tsum", "tn"), "event_id")
        assert len(want) == 2 * (241 + 121 + 241)
        assert _rows(got.select("event_id", "tsum", "tn"), "event_id") == want
        assert progress["stateOperators"][0]["numRowsTotal"] <= STATE_PARTITIONS

    @pytest.mark.parametrize(
        "key, values",
        [("user_id", [2**60 + 1, 2**60 + 2, None]), ("value", [0.0, -0.0, math.nan, None, 1.5])],
    )
    def test_keys_match_as_spark_groups_them(self, spark, tmp_path, monkeypatch, key, values):
        """One bucket holds every key. pandas gets a long column with a
        null as float64, where 2**60 + 1 and 2**60 + 2 are one number,
        and NaN and null both as NaN; the keys still match as Spark
        groups them (-0.0 with 0.0), and long keys come out exact. The
        first batch has no null, so the state holds exact longs when the
        null arrives."""
        from table_computing_spark.streaming import stateful

        monkeypatch.setattr(stateful, "STATE_PARTITIONS", 1)
        d = tmp_path / "src"
        d.mkdir()
        batches = []
        for b in range(3):
            batch = []
            for i, v in enumerate(values if b else [v for v in values if v is not None]):
                for r in range(2):
                    eid = b * 100 + 2 * i + r
                    user, value = (v, 1.0) if key == "user_id" else (7, v)
                    batch.append((eid, user, "click", value, b * 1_000 + eid))
            _write_events(d / f"b{b}.json", batch, b)
            batches.append(batch)
        out = stream_over_by_size(
            _read_stream(spark, str(d)), [key], "t_ms", 3,
            lambda buf: {"tsum": int(buf["t_ms"].sum()), "tn": len(buf)},
            [T.StructField("tsum", T.LongType()), T.StructField("tn", T.IntegerType())],
        )
        got = _run_to_table(spark, out, f"t_exact_{key}")
        every = spark.createDataFrame([r for b in batches for r in b], EVENT_SCHEMA)
        expected = tw.over_by_size(
            Table(every), [key], [F.col("t_ms").asc()], n=3,
            tsum=F.sum("t_ms"), tn=F.count(F.lit(1)),
        ).df
        cols = ("event_id", "user_id", "tsum", "tn")
        want = _rows(expected.select(*cols), "event_id")
        assert len({r[1:] for r in want}) > len(values)  # keys kept apart
        assert _rows(got.select(*cols), "event_id") == want


def test_state_buffer_codec_roundtrips_exactly():
    """_load_buf(_dump_buf(df)) returns the frame unchanged: int64
    extremes, doubles at the edge of precision, strings with None,
    bools, nanosecond timestamps, dates, and the 0-row frame."""
    import datetime as dt

    import pandas as pd

    from table_computing_spark.streaming.stateful import _dump_buf, _load_buf

    df = pd.DataFrame({
        "l": pd.Series([1, -(2**63), 2**63 - 1], dtype="int64"),
        "d": [1e-300, 0.1 + 2**-52, -0.0],
        "s": ["a", None, "ü"],
        "b": [True, False, True],
        "ts": pd.to_datetime([1, 1_700_000_000_123_456_789, 0], unit="ns"),
        "dt": [dt.date(2020, 1, 1), dt.date(1970, 1, 1), dt.date(1, 1, 1)],
    })
    for frame in (df, df.iloc[:0], df.iloc[1:].reset_index(drop=True)):
        pd.testing.assert_frame_equal(_load_buf(_dump_buf(frame)), frame, check_exact=True)
    # assert_frame_equal takes None and NaN as equal in object columns
    assert _load_buf(_dump_buf(df))["s"].iloc[1] is None


class TestStreamSessionApply:
    def test_raw_row_sessions_in_band_and_timeout(self, spark, tmp_path_factory):
        """TimeWindowFunction-over-sessions (ref SessionWindow +
        InThreadSessionWindow with raw rows): sessions closed by a later
        row emit in-band; sessions whose lastTime+gap falls behind the
        watermark emit via EventTimeTimeout; a key's still-open trailing
        session stays in state (the reference holds it until finishDelay
        likewise)."""
        batch_3 = [(10, 1, "click", 60.0, 60_000)]
        d = tmp_path_factory.mktemp("session_src")
        for i, batch in enumerate([BATCH_1, BATCH_2, batch_3]):
            _write_events(d / f"batch_{i}.json", batch, i)

        sdf = _read_stream(spark, str(d)).withColumn(
            "event_time", F.timestamp_millis(F.col("t_ms"))
        )

        def transform(key, rows, start_ms, end_ms):
            import pandas as pd
            return pd.DataFrame({
                "user_id": [key[0]],
                "session_start": [start_ms],
                "session_end": [end_ms],
                "n": [len(rows)],
                "total": [float(rows["value"].sum())],
            })

        from table_computing_spark.streaming.stateful import stream_session_apply

        out = stream_session_apply(
            sdf, ["user_id"], "event_time", gap_ms=10_000,
            transform=transform,
            output_schema=T.StructType([
                T.StructField("user_id", T.LongType()),
                T.StructField("session_start", T.LongType()),
                T.StructField("session_end", T.LongType()),
                T.StructField("n", T.LongType()),
                T.StructField("total", T.DoubleType()),
            ]),
            watermark="5 seconds",
        )
        got = _run_to_table(spark, out, "t_session_apply")
        assert _rows(got, "user_id", "session_start") == [
            (1, 1_000, 14_001, 4, 100.0),    # closed in-band by t=36s
            (1, 36_000, 36_001, 1, 50.0),    # closed in-band by t=60s
            (2, 4_000, 8_001, 2, 12.0),      # closed in-band by t=21s
            (2, 21_000, 21_001, 1, 9.0),     # closed in-band by t=37s
            (2, 37_000, 37_001, 1, 11.0),    # flushed by EventTimeTimeout
        ]
        # user 1's trailing session (t=60s) is still open → not emitted

    def test_cross_batch_late_row_resorts_history(self, spark, tmp_path_factory):
        """A late row arriving in batch 2 with a time EARLIER than rows
        already buffered from batch 1 must be merged in time order:
        session end is [firstTime, max(time)+1), not computed from the
        (non-maximal) last-concatenated element. Regression for the
        buf+batch concat skipping a full re-sort."""
        d = tmp_path_factory.mktemp("late_src")
        batches = [
            [(1, 1, "click", 10.0, 1_000), (2, 1, "click", 20.0, 3_000)],
            # t=2_000 is LATE (before buffered t=3_000); t=20_000 closes
            # the session in-band (gap >= 10s)
            [(3, 1, "click", 15.0, 2_000), (4, 1, "click", 40.0, 20_000)],
        ]
        for i, batch in enumerate(batches):
            _write_events(d / f"batch_{i}.json", batch, i)

        sdf = _read_stream(spark, str(d)).withColumn(
            "event_time", F.timestamp_millis(F.col("t_ms"))
        )

        def transform(key, rows, start_ms, end_ms):
            import pandas as pd
            return pd.DataFrame({
                "user_id": [key[0]],
                "session_start": [start_ms],
                "session_end": [end_ms],
                "n": [len(rows)],
                "total": [float(rows["value"].sum())],
            })

        from table_computing_spark.streaming.stateful import stream_session_apply

        out = stream_session_apply(
            sdf, ["user_id"], "event_time", gap_ms=10_000,
            transform=transform,
            output_schema=T.StructType([
                T.StructField("user_id", T.LongType()),
                T.StructField("session_start", T.LongType()),
                T.StructField("session_end", T.LongType()),
                T.StructField("n", T.LongType()),
                T.StructField("total", T.DoubleType()),
            ]),
            watermark="30 seconds",
        )
        got = _run_to_table(spark, out, "t_session_late")
        # [1_000, 3_001): end from the true max time (3_000), with the
        # late 2_000 row folded into the session (n=3, total=45)
        assert _rows(got, "user_id", "session_start") == [
            (1, 1_000, 3_001, 3, 45.0),
        ]

    def test_wallclock_no_data_advance(self, spark, tmp_path_factory):
        """M4 (SURVEY §7.2): the reference fires windows during input
        SILENCE via wall-clock extrapolation (window/TimeWindow.java:110,
        SlideWindow.java:304-324). stream_session_wallclock must flush a
        key's open session via ProcessingTimeTimeout after idle_flush_ms
        of wall clock with NO new data — event time (and any watermark)
        never moves past the session end here, so only the
        processing-time timer can fire it."""
        d = tmp_path_factory.mktemp("wallclock_src")
        _write_events(d / "batch_0.json", [
            (1, 1, "click", 5.0, 1_000),
            (2, 1, "view", 7.0, 3_000),
        ])

        def transform(key, rows, start_ms, end_ms):
            import pandas as pd
            return pd.DataFrame({
                "user_id": [key[0]],
                "session_start": [start_ms],
                "session_end": [end_ms],
                "n": [len(rows)],
                "total": [float(rows["value"].sum())],
            })

        from table_computing_spark.streaming.stateful import stream_session_wallclock

        out = stream_session_wallclock(
            _read_stream(spark, str(d)), ["user_id"], "t_ms", gap_ms=10_000,
            transform=transform,
            output_schema=T.StructType([
                T.StructField("user_id", T.LongType()),
                T.StructField("session_start", T.LongType()),
                T.StructField("session_end", T.LongType()),
                T.StructField("n", T.LongType()),
                T.StructField("total", T.DoubleType()),
            ]),
            idle_flush_ms=2_000,
        )
        q = (
            out.writeStream.format("memory")
            .queryName("t_wallclock")
            .outputMode("append")
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 60
            rows = []
            while time.time() < deadline and not rows:
                time.sleep(1.0)
                assert q.exception() is None
                rows = spark.table("t_wallclock").collect()
            # fired with no new data: [firstTime, lastTime+1) like the
            # reference (SessionWindowTest.java bound convention)
            assert [tuple(r) for r in rows] == [(1, 1_000, 3_001, 2, 12.0)]
        finally:
            q.stop()

    @pytest.mark.skipif(
        __import__("importlib").util.find_spec("google") is None,
        reason="transformWithState's Python runner needs protobuf, absent in this container",
    )
    def test_wallclock_no_data_advance_tws(self, spark, tmp_path_factory):
        """Same M4 behavior on Spark 4's transformWithState API: a
        registered processing-time TIMER (not a timeout conf) fires
        handleExpiredTimer during input silence and flushes the open
        session. Also covers in-band splitting: the first batch carries
        a gap, so one session emits immediately and the trailing one
        emits only via the timer. transformWithState requires the
        RocksDB state store."""
        d = tmp_path_factory.mktemp("tws_src")
        _write_events(d / "batch_0.json", [
            (1, 1, "click", 5.0, 1_000),
            (2, 1, "view", 7.0, 3_000),
            (3, 1, "click", 9.0, 60_000),  # >= gap after 3_000 → split
        ])

        def transform(key, rows, start_ms, end_ms):
            import pandas as pd
            return pd.DataFrame({
                "user_id": [key[0]],
                "session_start": [start_ms],
                "session_end": [end_ms],
                "n": [len(rows)],
                "total": [float(rows["value"].sum())],
            })

        from table_computing_spark.streaming.stateful import stream_session_tws

        out = stream_session_tws(
            _read_stream(spark, str(d)), ["user_id"], "t_ms", gap_ms=10_000,
            transform=transform,
            output_schema=T.StructType([
                T.StructField("user_id", T.LongType()),
                T.StructField("session_start", T.LongType()),
                T.StructField("session_end", T.LongType()),
                T.StructField("n", T.LongType()),
                T.StructField("total", T.DoubleType()),
            ]),
            idle_flush_ms=2_000,
        )
        prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        q = (
            out.writeStream.format("memory")
            .queryName("t_tws_wallclock")
            .outputMode("append")
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 90
            rows = []
            while time.time() < deadline and len(rows) < 2:
                time.sleep(1.0)
                assert q.exception() is None
                rows = spark.table("t_tws_wallclock").collect()
            got = sorted([tuple(r) for r in rows])
            assert got == [
                (1, 1_000, 3_001, 2, 12.0),    # closed in-band by t=60s
                (1, 60_000, 60_001, 1, 9.0),   # flushed by the timer
            ]
        finally:
            q.stop()
            if prev is None:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            else:
                spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)

    def test_tws_processor_logic_without_runner(self):
        """The transformWithState session processor, driven directly
        with fake handle/state/timer objects — the protobuf-dependent
        runner is the ONLY untested layer (VERDICT r07 item 8: pin the
        tws contract despite the env-blocked e2e). Covers: in-band gap
        split, state buffering + timer registration, superseded-timer
        filtering, and the no-data expiry flush with [first, last+1)
        bounds."""
        import pandas as pd

        from table_computing_spark.streaming.stateful import (
            make_session_processor,
        )

        class FakeState:
            def __init__(self):
                self.v = None
            def exists(self):
                return self.v is not None
            def get(self):
                return self.v
            def update(self, v):
                self.v = tuple(v)
            def clear(self):
                self.v = None

        class FakeHandle:
            def __init__(self):
                self.state = FakeState()
                self.timers = []
                self.deleted = []
            def getValueState(self, name, schema):
                return self.state
            def registerTimer(self, ts):
                self.timers.append(ts)
            def deleteTimer(self, ts):
                self.deleted.append(ts)

        class FakeTimerValues:
            def __init__(self, now):
                self._now = now
            def getCurrentProcessingTimeInMs(self):
                return self._now

        class FakeExpired:
            def __init__(self, ts):
                self._ts = ts
            def getExpiryTimeInMs(self):
                return self._ts

        def transform(key, rows, start_ms, end_ms):
            return pd.DataFrame(
                {"k": [key[0]], "start": [start_ms], "end": [end_ms],
                 "n": [len(rows)]}
            )

        proc = make_session_processor("t", gap_ms=2_000, idle=2_000,
                                      transform=transform)
        handle = FakeHandle()
        proc.init(handle)

        # batch 1: one in-band gap -> first session emits, second buffers
        b1 = pd.DataFrame({"t": [1_000, 1_500, 9_000]})
        out = list(proc.handleInputRows(("u1",), iter([b1]),
                                        FakeTimerValues(100_000)))
        assert len(out) == 1
        assert out[0].iloc[0].to_dict() == {
            "k": "u1", "start": 1_000, "end": 1_501, "n": 2}
        assert handle.timers == [102_000]
        assert handle.state.exists()

        # batch 2: late-but-buffered row re-sorts into the open session;
        # timer re-arms with a newer deadline
        b2 = pd.DataFrame({"t": [8_500, 9_800]})
        out = list(proc.handleInputRows(("u1",), iter([b2]),
                                        FakeTimerValues(150_000)))
        assert out == []
        assert handle.timers == [102_000, 152_000]

        # superseded timer fires -> filtered against the stored deadline
        out = list(proc.handleExpiredTimer(("u1",), FakeTimerValues(152_500),
                                           FakeExpired(102_000)))
        assert out == [] and handle.state.exists()
        assert handle.deleted == [102_000]

        # the live timer fires -> open session [8500, 9801) of 3 rows
        # flushes with NO new data, state cleared
        out = list(proc.handleExpiredTimer(("u1",), FakeTimerValues(153_000),
                                           FakeExpired(152_000)))
        assert len(out) == 1
        assert out[0].iloc[0].to_dict() == {
            "k": "u1", "start": 8_500, "end": 9_801, "n": 3}
        assert not handle.state.exists()

class TestDimensionTable:
    def test_refresh_and_join(self, spark):
        calls = []

        def loader():
            calls.append(1)
            return spark.createDataFrame(
                [("click", 1 * len(calls)), ("view", 2 * len(calls))],
                "event_type string, weight int",
            )

        dim = DimensionTable(loader, refresh_interval_s=3600.0)
        fact = spark.createDataFrame(
            [(1, "click"), (2, "view"), (3, "signup")], "id int, event_type string"
        )
        j1 = dim.join(fact, on=["event_type"], how="left")
        assert {tuple(r) for r in j1.collect()} == {
            (1, "click", 1), (2, "view", 2), (3, "signup", None),
        }
        # within the interval: snapshot reused, loader not re-called
        dim.join(fact, on=["event_type"]).collect()
        assert dim.reload_count == 1 and len(calls) == 1
        # force staleness → atomic swap to the new snapshot
        dim._loaded_at = float("-inf")
        j2 = dim.join(fact, on=["event_type"], how="left")
        assert {tuple(r) for r in j2.collect()} == {
            (1, "click", 2), (2, "view", 4), (3, "signup", None),
        }
        assert dim.reload_count == 2
        dim.unpersist()

    def test_dimension_join_in_foreachbatch(self, spark, stream_dir, tmp_path):
        """The reference's canonical pipeline: stream → dim left-join
        per micro-batch (README.md:104-120), dimension re-read on its
        refresh schedule."""
        dim = DimensionTable(
            lambda: spark.createDataFrame(
                [("click", 10), ("view", 20)], "event_type string, weight int"
            ),
            refresh_interval_s=0.0,  # refresh every batch
        )
        sdf = _read_stream(spark, stream_dir)
        seen: list[tuple] = []

        def compute(batch_df, batch_id):
            enriched = dim.join(batch_df, on=["event_type"], how="left")
            seen.extend(
                (r.event_id, r.weight)
                for r in enriched.select("event_id", "weight").collect()
            )

        sp = StreamProcessing(checkpoint_root=str(tmp_path), bounded=True)
        sp.compute(sdf, compute)
        sp.await_all(120)
        assert sorted(seen) == [
            (1, 10), (2, 10), (3, 20), (4, 10), (5, 20),
            (6, 10), (7, 20), (8, 10), (9, 20),
        ]
        assert dim.reload_count >= 2  # refreshed across micro-batches


class TestStreamingFlagship:
    def test_top100_pipeline_streaming(self, spark, stream_dir, tmp_path):
        """The reference's flagship Top100Test pipeline (Top100Test.java:
        147-182), streaming end-to-end: stream → broadcast dimension
        left-join → hopping-window volume → per-window top-N ranking in
        foreachBatch (two-stage streaming top-N). Final ranking must
        equal the batch pipeline on the same data."""
        dim_rows = [("click", 10), ("view", 20)]
        dim = DimensionTable(
            lambda: spark.createDataFrame(dim_rows, "event_type string, weight int"),
            refresh_interval_s=3600.0,
        )
        sdf = _read_stream(spark, stream_dir)
        enriched = dim.join(sdf, on=["event_type"], how="left")
        windowed = stream_slide(
            enriched, "t_ms", "10 seconds", "5 seconds", ["event_type"],
            watermark="5 seconds",
            volume=F.sum(F.col("value") * F.col("weight")),
        )
        final: dict[tuple, tuple] = {}

        def rank_batch(batch_df, batch_id):
            from pyspark.sql.window import Window as W
            w = W.partitionBy("window_start").orderBy(
                F.col("volume").desc(), F.col("event_type").asc()
            )
            ranked = batch_df.withColumn("rank", F.row_number().over(w)).filter(
                F.col("rank") <= 100
            )
            for r in ranked.collect():  # tiny per-window ranking table
                final[(r.window_start, r.event_type)] = (r.volume, r.rank)

        q = (
            windowed.writeStream.foreachBatch(rank_batch)
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q, 120)

        # batch oracle: identical pipeline on the full static frame
        batch = _batch_df(spark).join(
            F.broadcast(spark.createDataFrame(dim_rows, "event_type string, weight int")),
            "event_type", "left",
        )
        expected_w = tw.slide(
            Table(batch), "t_ms", "10 seconds", "5 seconds", ["event_type"],
            volume=F.sum(F.col("value") * F.col("weight")),
        )
        expected = expected_w.top_n(
            ["window_start"], [F.col("volume").desc(), F.col("event_type").asc()],
            n=100, rank_col="rank",
        ).df
        exp = {
            (r.window_start, r.event_type): (r.volume, r.rank)
            for r in expected.collect()
        }
        assert final == exp
        dim.unpersist()


class TestKafkaExpressions:
    def test_value_roundtrip(self, spark):
        """Row → (key,value) JSON → row preserves the 4-type payload and
        the epoch-seconds key convention (ref KafkaStreamTableTest)."""
        from table_computing_spark.schema import Type

        schema = {
            "s": Type.VARCHAR, "i": Type.INT, "l": Type.BIGINT, "d": Type.DOUBLE,
        }
        df = spark.createDataFrame(
            [("a", 1, 10, 1.5, 1_700_000_001_000), ("b", 2, 20, 2.5, 1_700_000_002_000)],
            "s string, i int, l bigint, d double, __time__ bigint",
        )
        records = k.to_kafka_records(df)
        assert records.columns == ["key", "value"]
        back = records.select(
            k.parse_kafka_value(F.col("value"), F.col("key"), schema).alias("r")
        ).select("r.*")
        assert [tuple(r) for r in back.orderBy("s").collect()] == [
            ("a", 1, 10, 1.5, 1_700_000_001_000),
            ("b", 2, 20, 2.5, 1_700_000_002_000),
        ]

    def test_value_roundtrip_extremes(self, spark):
        """KafkaStreamTableTest.java's exact payloads: Long.MAX/MIN_VALUE,
        Double.MAX/MIN_VALUE, and a null varchar must survive the JSON
        round trip bit-for-bit (extreme doubles are where naive JSON
        formatting loses precision)."""
        from table_computing_spark.schema import Type

        schema = {
            "s": Type.VARCHAR, "i": Type.INT, "l": Type.BIGINT, "d": Type.DOUBLE,
        }
        long_max, long_min = 2**63 - 1, -(2**63)
        dbl_max, dbl_min = 1.7976931348623157e308, 5e-324
        df = spark.createDataFrame(
            [
                ("c1v1", 1, long_max, dbl_max, 1_700_000_001_000),
                (None, 2, long_min, dbl_min, 1_700_000_002_000),
            ],
            "s string, i int, l bigint, d double, __time__ bigint",
        )
        back = k.to_kafka_records(df).select(
            k.parse_kafka_value(F.col("value"), F.col("key"), schema).alias("r")
        ).select("r.*")
        rows = sorted([tuple(r) for r in back.collect()], key=lambda t: t[1])
        assert rows == [
            ("c1v1", 1, long_max, dbl_max, 1_700_000_001_000),
            (None, 2, long_min, dbl_min, 1_700_000_002_000),
        ]

    def test_missing_connector_fails_at_call_time(self, spark):
        """Without the spark-sql-kafka jar, kafka_stream/kafka_batch/
        write_kafka must fail AT THE CALL with a message naming the
        package to add — not at .start() with Spark's generic 'Failed to
        find data source'. (If a jar ever appears in this environment,
        this test self-inverts: detection must then return True.)"""
        from table_computing_spark.schema import Type

        schema = {"s": Type.VARCHAR}
        if k.kafka_connector_available(spark):
            # connector present: entry points must NOT raise at call time
            k.kafka_stream(spark, "localhost:9092", "t", schema)
            return
        for call in (
            lambda: k.kafka_stream(spark, "localhost:9092", "t", schema),
            lambda: k.kafka_batch(spark, "localhost:9092", "t", schema),
            lambda: k.write_kafka(
                spark.createDataFrame([("a", 1_700_000_001_000)], "s string, __time__ bigint"),
                "localhost:9092", "t", "/tmp/nope",
            ),
        ):
            with pytest.raises(RuntimeError, match="spark-sql-kafka-0-10"):
                call()

    @pytest.mark.skipif(
        os.environ.get("TC_KAFKA_BOOTSTRAP") is None,
        reason="end-to-end Kafka test needs a broker: set TC_KAFKA_BOOTSTRAP=host:port "
        "(and launch Spark with the spark-sql-kafka connector)",
    )
    def test_kafka_end_to_end_roundtrip(self, spark, tmp_path):
        """GENUINE broker round-trip (ref KafkaStreamTable.java:113-194 +
        KafkaOutputTable.java:102-178): write rows through write_kafka,
        read them back with kafka_batch, assert payload + epoch-seconds
        key convention. Runs whenever a broker/jar is provided; the
        expression layer above stays the always-on coverage."""
        bootstrap = os.environ["TC_KAFKA_BOOTSTRAP"]
        if not k.kafka_connector_available(spark):
            pytest.skip("broker configured but spark-sql-kafka jar absent")
        from table_computing_spark.schema import Type

        topic = f"tc_e2e_{os.getpid()}"
        schema = {"s": Type.VARCHAR, "l": Type.BIGINT, "d": Type.DOUBLE}
        src = spark.createDataFrame(
            [("a", 10, 1.5, 1_700_000_001_000), ("b", 20, 2.5, 1_700_000_002_000)],
            "s string, l bigint, d double, __time__ bigint",
        )
        # batch write via the same to_kafka_records contract the
        # streaming sink uses
        (
            k.to_kafka_records(src)
            .write.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap)
            .option("topic", topic)
            .save()
        )
        back = k.kafka_batch(spark, bootstrap, topic, schema)
        rows = sorted([tuple(r) for r in back.collect()])
        assert rows == [
            ("a", 10, 1.5, 1_700_000_001_000),
            ("b", 20, 2.5, 1_700_000_002_000),
        ]


class TestJdbcDdl:
    def test_create_table_ddl_golden(self, spark):
        """Auto-DDL mirrors MysqlOutputTable.java:121-174 (types from
        table/Type.java:47-61; index option from the ctor)."""
        schema = T.StructType(
            [
                T.StructField("id", T.LongType(), False),
                T.StructField("name", T.StringType()),
                T.StructField("score", T.DoubleType()),
                T.StructField("amount", T.DecimalType(18, 4)),
                T.StructField("ts", T.TimestampType()),
            ]
        )
        ddl = create_table_ddl(
            "out_t", schema, primary_key=("id",), index_columns=("name",)
        )
        assert ddl == (
            "CREATE TABLE IF NOT EXISTS `out_t` (\n"
            "  `id` BIGINT NOT NULL,\n"
            "  `name` TEXT,\n"
            "  `score` DOUBLE,\n"
            "  `amount` DECIMAL(18,4),\n"
            "  `ts` TIMESTAMP,\n"
            "  PRIMARY KEY (`id`),\n"
            "  INDEX `idx_name` (`name`)\n"
            ")"
        )

    def test_reference_create_table_sql_golden(self):
        """Byte-exact parity with the reference's generated statement
        (MysqlOutputTable.java:121-142): VARCHAR → `longtext`, enum name
        verbatim otherwise, unquoted identifiers, trailing space."""
        from table_computing_spark.sources.jdbc import reference_create_table_sql

        sql = reference_create_table_sql(
            "out_t", {"name": "VARCHAR", "cnt": "INT", "total": "BIGINT", "avg": "DOUBLE"}
        )
        assert sql == (
            "CREATE TABLE IF NOT EXISTS out_t "
            "(name longtext,cnt INT,total BIGINT,avg DOUBLE) "
        )

    def test_derby_dialect_ddl_golden_and_guards(self):
        from table_computing_spark.sources.jdbc import create_index_ddl

        schema = T.StructType(
            [
                T.StructField("id", T.LongType(), False),
                T.StructField("name", T.StringType()),
            ]
        )
        ddl = create_table_ddl("out_t", schema, if_not_exists=False, dialect="derby")
        assert ddl == (
            'CREATE TABLE "out_t" (\n  "id" BIGINT NOT NULL,\n  "name" CLOB\n)'
        )
        assert create_index_ddl("out_t", ("id",), dialect="derby") == [
            'CREATE INDEX "idx_id" ON "out_t" ("id")'
        ]
        # requests the engine would reject raise here instead
        with pytest.raises(ValueError, match="IF NOT EXISTS"):
            create_table_ddl("out_t", schema, dialect="derby")
        with pytest.raises(ValueError, match="inline INDEX"):
            create_table_ddl(
                "out_t", schema, index_columns=("id",), if_not_exists=False,
                dialect="derby",
            )
        with pytest.raises(ValueError, match="unknown dialect"):
            create_table_ddl("out_t", schema, dialect="oracle")


class TestMetrics:
    def test_throughput_listener_collects_batches(self, spark, stream_dir):
        """Throughput/Delay/QueueSize parity (ref sp/Throughput.java:18-64,
        sp/Delay.java:16-87) via StreamingQueryListener progress events."""
        from table_computing_spark.streaming.metrics import ThroughputListener

        listener = ThroughputListener()
        spark.streams.addListener(listener)
        try:
            sdf = _read_stream(spark, stream_dir)
            out = stream_tumble(
                sdf, "t_ms", "10 seconds", ["event_type"], n=F.count(F.lit(1))
            )
            _run_to_table(spark, out, "t_metrics", "complete")
            # listener events are delivered asynchronously after the
            # bounded query terminates — wait for them to drain
            expected_rows = len(BATCH_1) + len(BATCH_2)
            deadline = time.time() + 15
            while (
                sum(m.input_rows for m in listener.history) < expected_rows
                and time.time() < deadline
            ):
                time.sleep(0.2)
        finally:
            spark.streams.removeListener(listener)
        rows = sum(m.input_rows for m in listener.history)
        assert rows == len(BATCH_1) + len(BATCH_2)
        assert listener.totals()["input_rows"] == rows
        assert any(m.state_rows > 0 for m in listener.history)


class TestStreamDedup:
    def test_streaming_exact_dedup(self, spark, tmp_path_factory):
        """First occurrence per fingerprint survives; exact duplicates
        across micro-batches are dropped (training-pipeline ingest)."""
        from table_computing_spark.streaming.windows import stream_dedup_exact

        d = tmp_path_factory.mktemp("dedup_src")
        batches = [
            [(1, "the quick brown fox", 1_000), (2, "lazy dog", 2_000)],
            [(3, "The quick  brown fox", 3_000),  # normalized dup of 1
             (4, "something new", 4_000),
             (5, "lazy dog", 5_000)],              # dup of 2
        ]
        for i, batch in enumerate(batches):
            p = d / f"b{i}.json"
            with open(p, "w") as f:
                for doc_id, text, t_ms in batch:
                    f.write(json.dumps({"doc_id": doc_id, "text": text, "t_ms": t_ms}) + "\n")
            mt = time.time() + i
            os.utime(p, (mt, mt))

        sdf = (
            spark.readStream.schema("doc_id long, text string, t_ms long")
            .option("maxFilesPerTrigger", "1")
            .json(str(d))
        )
        out = stream_dedup_exact(sdf, "t_ms", watermark="10 seconds")
        got = _run_to_table(spark, out, "t_dedup")
        ids = sorted(r["doc_id"] for r in got.collect())
        assert ids == [1, 2, 4]


class TestStreamMinhash:
    def test_streaming_minhash_pairs(self, spark, tmp_path_factory):
        """Near-dup docs across micro-batches surface as candidate
        pairs anchored to the first-seen doc; unrelated docs never
        pair. State is per (band, bucket), one anchor row each."""
        from table_computing_spark.streaming.dedup import stream_minhash_pairs

        base = "the quick brown fox jumps over the lazy dog again and again today"
        near = base.replace("lazy", "sleepy")  # one token → high Jaccard
        other = "completely different subject matter about spark shuffles and state"
        d = tmp_path_factory.mktemp("minhash_src")
        batches = [
            [(1, base, 1_000), (2, other, 2_000)],
            [(3, near, 3_000), (4, "unrelated short text entirely new", 4_000)],
            [(5, base, 5_000)],  # exact dup of 1, two batches later
        ]
        for i, batch in enumerate(batches):
            p = d / f"b{i}.json"
            with open(p, "w") as f:
                for doc_id, text, t_ms in batch:
                    f.write(
                        json.dumps({"doc_id": doc_id, "text": text, "t_ms": t_ms}) + "\n"
                    )
            mt = time.time() + i
            os.utime(p, (mt, mt))

        sdf = (
            spark.readStream.schema("doc_id long, text string, t_ms long")
            .option("maxFilesPerTrigger", "1")
            .json(str(d))
            .withColumn("ts", F.timestamp_millis(F.col("t_ms")))
        )
        out = stream_minhash_pairs(sdf, "ts", watermark="10 seconds")
        got = _run_to_table(spark, out, "t_minhash_pairs")
        pairs = {(r["id_a"], r["id_b"]) for r in got.collect()}
        # exact dup: every band collides → (1, 5) must appear
        assert (1, 5) in pairs
        # near dup: at least one band collides
        assert (1, 3) in pairs
        # unrelated docs never pair with anything
        flat = {x for p in pairs for x in p}
        assert 2 not in flat and 4 not in flat
        # anchoring is first-seen: nothing ever pairs AS anchor to doc 1
        assert all(a == 1 for (a, b) in pairs if b in (3, 5))


class TestStreamTopN:
    def test_two_stage_streaming_topn(self, spark, stream_dir, tmp_path):
        """StreamProcessing.top_n: windowed agg → per-batch ranking;
        final table equals the batch pipeline's top-N."""
        sdf = _read_stream(spark, stream_dir)
        windowed = stream_slide(
            sdf, "t_ms", "10 seconds", "5 seconds", ["event_type"],
            watermark="5 seconds", total=F.sum("value"),
        )
        final: dict = {}

        def sink(ranked, batch_id):
            final.clear()
            final.update({
                (r.window_start, r.event_type): (r.total, r.rank)
                for r in ranked.collect()
            })

        sp = StreamProcessing(checkpoint_root=str(tmp_path), bounded=True)
        sp.top_n(
            windowed, ["window_start"],
            [F.col("total").desc(), F.col("event_type").asc()], n=1, sink=sink,
        )
        sp.await_all(120)

        expected_w = tw.slide(
            Table(_batch_df(spark)), "t_ms", "10 seconds", "5 seconds",
            ["event_type"], total=F.sum("value"),
        )
        expected = expected_w.top_n(
            ["window_start"], [F.col("total").desc(), F.col("event_type").asc()],
            n=1, rank_col="rank",
        ).df
        exp = {
            (r.window_start, r.event_type): (r.total, r.rank)
            for r in expected.collect()
        }
        assert final == exp


class TestStreamProcessingLifecycle:
    def test_await_all_timeout_stops_and_raises(self, spark, tmp_path):
        """A rate stream never ends: await_all's timeout must stop the
        query and raise instead of returning with it still running."""
        sp = StreamProcessing(checkpoint_root=str(tmp_path))
        q = sp.sink(spark.readStream.format("rate").load(), "noop")
        with pytest.raises(TimeoutError):
            sp.await_all(timeout_s=1)
        assert not q.isActive


class TestStatefulOverByDuration:
    def test_stream_over_by_duration_crosses_batches(self, spark, stream_dir):
        """Trailing time-range window: buffer eviction at t-duration+1
        must match the batch RANGE frame across micro-batch boundaries."""
        from table_computing_spark.streaming.stateful import stream_over_by_duration

        sdf = _read_stream(spark, stream_dir)

        def agg(buf):
            return {"tsum": float(buf["value"].sum()), "tn": len(buf)}

        out = stream_over_by_duration(
            sdf, ["user_id"], "t_ms", duration_ms=12_000, agg_fn=agg,
            added_fields=[
                T.StructField("tsum", T.DoubleType()),
                T.StructField("tn", T.IntegerType()),
            ],
        )
        got = _run_to_table(spark, out, "t_obd")

        expected = tw.over_by_duration(
            Table(_batch_df(spark)), ["user_id"], "t_ms", duration_ms=12_000,
            tsum=F.sum("value"), tn=F.count(F.lit(1)),
        ).df
        assert _rows(got.select("event_id", "tsum", "tn"), "event_id") == _rows(
            expected.select("event_id", "tsum", "tn"), "event_id"
        )


class TestCheckpointRecovery:
    def test_resume_from_checkpoint_restores_state(self, spark, tmp_path):
        """Fault-tolerance the reference does not have (its README lists
        crash/OOM as operational limits): run 1 processes BATCH_1 and
        checkpoints; run 2 — a NEW query on the same checkpoint — sees
        only BATCH_2's file, yet its complete-mode output must equal
        the batch aggregate over BOTH batches, proving window state was
        restored, not recomputed from the source."""

        (tmp_path / "src").mkdir()
        ckpt = str(tmp_path / "ckpt")

        def pipeline():
            sdf = spark.readStream.schema(EVENT_SCHEMA).json(str(tmp_path / "src"))
            return stream_tumble(
                sdf, "t_ms", "10 seconds", ["event_type"],
                watermark="5 seconds",
                n=F.count(F.lit(1)), total=F.sum("value"),
            )

        def run(name):
            q = (
                pipeline().writeStream.format("memory").queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            _await_stream(q, 120)
            n_in = sum(p["numInputRows"] for p in q.recentProgress)
            return spark.table(name), n_in

        _write_events(tmp_path / "src" / "b0.json", BATCH_1)
        first, n1 = run("ck_run1")
        assert first.count() > 0 and n1 == len(BATCH_1)

        _write_events(tmp_path / "src" / "b1.json", BATCH_2, 1)
        got, n2 = run("ck_run2")
        # the checkpoint's source offsets must skip b0.json entirely —
        # otherwise this test would pass vacuously by reprocessing
        assert n2 == len(BATCH_2)

        expected = tw.tumble(
            Table(_batch_df(spark)), "t_ms", "10 seconds", ["event_type"],
            n=F.count(F.lit(1)), total=F.sum("value"),
        ).df.select("window_start", "window_end", "event_type", "n", "total")
        assert _rows(got.select(*expected.columns), "window_start", "event_type") == _rows(
            expected, "window_start", "event_type"
        )

    def test_resume_restores_python_state(self, spark, tmp_path):
        """Python state (applyInPandasWithState) survives a restart: run
        2 starts with a new run id, so a fresh state-store provider must
        read back run 1's delta files through the session's checkpoint
        manager, checksums verified. Both runs' appended rows together
        must equal the batch trailing window over both slices. The
        memory sink refuses to recover in append mode, so rows are
        collected through foreachBatch."""
        src = tmp_path / "src"
        src.mkdir()
        ckpt = str(tmp_path / "ckpt")

        def run():
            sdf = (
                spark.readStream.schema(EVENT_SCHEMA)
                .option("maxFilesPerTrigger", "1")
                .json(str(src))
            )
            out = stream_over_by_size(
                sdf, ["user_id"], "t_ms", 3,
                lambda buf: {"trailing_sum": float(buf["value"].sum())},
                [T.StructField("trailing_sum", T.DoubleType())],
            )
            rows = []
            q = (
                out.writeStream.foreachBatch(lambda df, _: rows.extend(df.collect()))
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            _await_stream(q, 120)
            return rows, sum(p["numInputRows"] for p in q.recentProgress)

        _write_events(src / "b0.json", BATCH_1)
        first, n1 = run()
        assert n1 == len(BATCH_1)

        _write_events(src / "b1.json", BATCH_2, 1)
        second, n2 = run()
        assert n2 == len(BATCH_2)

        expected = tw.over_by_size(
            Table(_batch_df(spark)), ["user_id"], [F.col("t_ms").asc()], n=3,
            trailing_sum=F.sum("value"),
        ).df
        got = sorted((r["event_id"], r["trailing_sum"]) for r in first + second)
        assert got == _rows(expected.select("event_id", "trailing_sum"), "event_id")

    @pytest.mark.parametrize("before, after", [(8, 4), (4, 8)])
    def test_resume_with_other_bucket_count_raises(
        self, spark, tmp_path, monkeypatch, before, after
    ):
        """The bucket state records its bucket count. Spark cannot tell
        a checkpoint written under another count (the bucket key is an
        int either way), so a call on a bucket with state raises naming
        both counts, before the micro-batch emits a row. Raised, the
        count is caught only because some of the batch's keys hash to a
        bucket below the old count: a batch touching only the new
        buckets would find no state (STATE_PARTITIONS docstring)."""
        from table_computing_spark.streaming import stateful

        src = tmp_path / "src"
        src.mkdir()
        ckpt = str(tmp_path / "ckpt")
        rows = [(i, i % 40, "click", 1.0, 1_000 + i) for i in range(80)]
        emitted = []

        def run():
            out = stream_over_by_size(
                _read_stream(spark, str(src)), ["user_id"], "t_ms", 3,
                lambda buf: {"tn": len(buf)}, [T.StructField("tn", T.IntegerType())],
            )
            q = (
                out.writeStream.foreachBatch(lambda df, _: emitted.extend(df.collect()))
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            _await_stream(q, 120)

        monkeypatch.setattr(stateful, "STATE_PARTITIONS", before)
        _write_events(src / "b0.json", rows[:40])
        run()
        assert len(emitted) == 40

        _write_events(src / "b1.json", rows[40:], 1)
        monkeypatch.setattr(stateful, "STATE_PARTITIONS", after)
        with pytest.raises(Exception, match=f"has {before} key buckets, this stream {after}"):
            run()
        assert len(emitted) == 40


def test_streaming_cms_equals_batch_sketch(spark, stream_dir):
    """cms_build is a pure groupBy-count, so running it over a
    micro-batched stream in complete mode must converge to exactly the
    batch sketch — the mergeability contract, exercised through
    Spark's own incremental aggregation state."""
    from table_computing_spark.operators import frequency

    sdf = _read_stream(spark, stream_dir)
    sk_stream = frequency.cms_build(sdf, "user_id", depth=4, width=32)
    got = _run_to_table(spark, sk_stream, "cms_stream", mode="complete")

    sk_batch = frequency.cms_build(_batch_df(spark), "user_id", depth=4, width=32)
    g = {(r["row"], r["slot"]): r["cnt"] for r in got.collect()}
    w = {(r["row"], r["slot"]): r["cnt"] for r in sk_batch.collect()}
    assert g == w and g, "streaming sketch != batch sketch"


def test_stream_maintain_agg_equals_batch_groupby(spark, stream_dir, tmp_path):
    """The streaming materialized view (foreachBatch + maintain_agg,
    ping-pong versions) must converge to exactly agg_state of the full
    replay, and re-applying the last batch id must be a no-op (the
    idempotence contract for foreachBatch's at-least-once delivery)."""
    from table_computing_spark.operators import incremental
    from table_computing_spark.streaming import matview

    measures = {"total": F.col("value").cast("decimal(20,4)")}
    sdf = _read_stream(spark, stream_dir)
    q = matview.stream_maintain_agg(
        sdf,
        ["user_id"],
        measures,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    _await_stream(q, 120)

    got_df = matview.read_state(spark, str(tmp_path / "state"))
    want_df = incremental.agg_state(_batch_df(spark), ["user_id"], measures)
    got = {r["user_id"]: (r["cnt"], r["total"]) for r in got_df.collect()}
    want = {r["user_id"]: (r["cnt"], r["total"]) for r in want_df.collect()}
    assert got == want and got

    # replayed batch ids → skipped, state unchanged: re-run the whole
    # stream against the same state dir with a FRESH checkpoint; every
    # batch id is <= last_batch, so nothing merges
    ptr_before = matview._read_pointer(str(tmp_path / "state"))
    sdf2 = _read_stream(spark, stream_dir)
    q2 = matview.stream_maintain_agg(
        sdf2,
        ["user_id"],
        measures,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    _await_stream(q2, 120)
    ptr_after = matview._read_pointer(str(tmp_path / "state"))
    assert ptr_after == ptr_before
    got2 = {
        r["user_id"]: (r["cnt"], r["total"])
        for r in matview.read_state(spark, str(tmp_path / "state")).collect()
    }
    assert got2 == want


def test_stream_session_capped_equals_batch(spark, stream_dir):
    """The streaming gap+cap sessionizer must group events exactly as
    the batch operator: compare (user, t_ms, session_start) multisets
    after replaying the same events. Cap 10s inside gap-10s sessions
    forces at least one sub-split on BATCH_1/2's event layout."""
    from table_computing_spark.operators.windows import session_capped
    from table_computing_spark.streaming.stateful import stream_session_capped

    sdf = _read_stream(spark, stream_dir).withColumn(
        "event_time", F.timestamp_millis(F.col("t_ms"))
    )
    out = stream_session_capped(
        sdf, ["user_id"], "event_time", gap_ms=10_000, cap_ms=10_000,
        watermark="5 seconds",
    )
    got = _run_to_table(spark, out, "t_session_capped")

    batch = session_capped(
        _batch_df(spark).select("user_id", "t_ms"),
        "t_ms", ["user_id"], gap_ms=10_000, cap_ms=10_000,
    )
    want = sorted(
        (r["user_id"], r["t_ms"], r["session_start"]) for r in batch.collect()
    )
    # the stream's trailing open session stays in state (matches the
    # reference's hold-until-close); compare only emitted groups
    emitted = sorted(
        (r["user_id"], r["t_ms"], r["session_start"]) for r in got.collect()
    )
    open_keys = set(want) - set(emitted)
    assert emitted == [w for w in want if w not in open_keys]
    # at least one capped sub-split actually happened
    starts_per_gap = {}
    for u, t, s in emitted:
        starts_per_gap.setdefault(u, set()).add(s)
    assert any(len(v) > 1 for v in starts_per_gap.values())
    # and everything emitted matches the batch grouping exactly
    assert set(emitted) <= set(want)


def test_stream_running_balance_equals_batch_fold(spark, tmp_path):
    """stream_running_balance carries (balance, counts) state across
    real micro-batches; the LAST emitted row per key must equal the
    batch bounded_running_balance over the full history."""
    import os

    from pyspark.sql import functions as F

    from table_computing_spark.operators.temporal import bounded_running_balance
    from table_computing_spark.streaming.stateful import stream_running_balance

    li = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .select(
            "l_partkey",
            F.unix_millis(F.col("l_shipdate").cast("timestamp")).alias("ms"),
            "l_orderkey",
            "l_linenumber",
            F.when(F.col("l_returnflag") == "R", F.col("l_quantity"))
            .otherwise(-F.col("l_quantity"))
            .alias("delta"),
        )
    )
    want = {
        r["l_partkey"]: (r["n_events"], r["final_balance"], r["n_stockouts"])
        for r in bounded_running_balance(
            li, ["l_partkey"], ["ms", "l_orderkey", "l_linenumber"], "delta"
        ).collect()
    }
    # replay as 3 time-ordered micro-batches (per-key nondecreasing ms
    # across batches — the operator's arrival contract)
    src = str(tmp_path / "src")
    lo, hi = li.agg(F.min("ms"), F.max("ms")).collect()[0]
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    for cond in (
        F.col("ms") <= cut1,
        (F.col("ms") > cut1) & (F.col("ms") <= cut2),
        F.col("ms") > cut2,
    ):
        li.where(cond).coalesce(1).write.mode("append").parquet(src)
    sdf = (
        spark.readStream.schema(li.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = stream_running_balance(
        sdf, ["l_partkey"], ["ms", "l_orderkey", "l_linenumber"], "delta"
    )
    name = "tc_stream_rb"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 300)
    rows = spark.table(name).collect()
    # last emission per key = the one with the highest n_events
    got = {}
    for r in rows:
        k = r["l_partkey"]
        if k not in got or r["n_events"] > got[k][0]:
            got[k] = (r["n_events"], r["final_balance"], r["n_stockouts"])
    assert got == want


def test_stream_maintain_crash_recovery(spark, tmp_path):
    """VERDICT r08 item 7: crash-recovery proof for the maintained-state
    family (the shared _stream_maintain skeleton behind
    stream_maintain_agg/distinct/tdigest). The query is interrupted
    after batch k, and the crash window that matters — state pointer
    flipped but the engine's checkpoint commit NOT yet written — is
    simulated by deleting the newest commit marker: on restart Spark
    REPLAYS that batch (at-least-once), and the batch-id idempotence
    skip must keep the merge from double-counting. Final state must
    equal the full-replay aggregate over everything ingested before
    AND after the crash."""
    import os

    from table_computing_spark.operators import incremental
    from table_computing_spark.streaming import matview

    src = tmp_path / "src"
    src.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    measures = {"total": F.col("value").cast("decimal(20,4)")}
    all_rows = []

    def add_file(i):
        rows = [(f"u{j % 3}", i * 10 + j) for j in range(5)]
        all_rows.extend(rows)
        spark.createDataFrame(rows, "user_id string, value long").coalesce(
            1
        ).write.mode("append").json(str(src))

    def run_once():
        sdf = (
            spark.readStream.schema("user_id string, value long")
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
        )
        q = matview.stream_maintain_agg(
            sdf, ["user_id"], measures, state_dir=state, checkpoint_dir=ckpt
        )
        _await_stream(q, 120)

    for i in range(3):
        add_file(i)
    run_once()  # batches 0..2 merged; query terminated after batch k=2
    ptr = matview._read_pointer(state)
    assert ptr["last_batch"] == 2

    # crash simulation: the engine never recorded batch 2 as committed
    # (died between the state-pointer flip and the checkpoint commit) —
    # drop the marker AND its Hadoop .crc shadow (a stale crc makes the
    # re-create fail as a phantom concurrent writer)
    commits = sorted(
        f for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit()
    )
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    for i in range(3, 5):
        add_file(i)
    run_once()  # restart: batch 2 REPLAYS, then the two new files merge

    ptr2 = matview._read_pointer(state)
    assert ptr2["last_batch"] > 2
    got = {
        r["user_id"]: (r["cnt"], r["total"])
        for r in matview.read_state(spark, state).collect()
    }
    full = spark.createDataFrame(all_rows, "user_id string, value long")
    want = {
        r["user_id"]: (r["cnt"], r["total"])
        for r in incremental.agg_state(full, ["user_id"], measures).collect()
    }
    assert got == want and got  # a double-merged replay would inflate cnt/total

    # ping-pong hygiene survives the crash: exactly one live version dir
    versions = [d for d in os.listdir(state) if d.startswith("v")]
    assert versions == [f"v{ptr2['version']}"]


def test_timewindow_watermark_reorder_goldens(spark, tmp_path_factory):
    """Port of the last unported §5 tier-2 golden — the watermark
    reorder buffer (ref window/TimeWindowTest.java:29-66): watermark
    100 ms over a single BIGINT ts column; batches [3,3,5] and
    [100,101] stay buffered, the arrival of 105 releases times {3,5}
    (tables of sizes 2 and 1), then [105,109,109] releases
    [100],[101],[105,105],[109,109].

    The reference asserts the RELEASE CADENCE (one table per distinct
    ts, in ts order) — an artifact of its imperative loop that Spark's
    managed state does not expose. The documented Spark-side
    equivalent (streaming/windows.py module docstring, FIXTURES.md §3)
    is on FINAL aggregates: replaying the same rows as ordered
    micro-batches through a 1 ms tumble with the same 100 ms watermark
    must (a) group every buffered row into its distinct-ts window
    exactly once — the reference's released tables — and (b) keep a
    LATE row that arrives inside the watermark horizon (Spark only
    guarantees dropping beyond it), mirroring the reorder buffer's
    whole purpose."""
    from table_computing_spark.streaming.windows import stream_tumble

    d = tmp_path_factory.mktemp("tw_reorder_src")
    batches = [
        [3, 3, 5],        # TimeWindowTest batch 1 — buffered
        [100, 101],       # batch 2 — buffered
        [105],            # batch 3 — releases {3: x2, 5: x1}
        [9],              # EXTRA: late (past rows 100..105) but inside
                          # the 100 ms horizon — must still aggregate
        [105, 109, 109],  # batch 4 — releases the rest
    ]
    for i, batch in enumerate(batches):
        p = d / f"batch_{i}.json"
        with open(p, "w") as f:
            for ts in batch:
                f.write(json.dumps({"ts": ts}) + "\n")
        mt = time.time() + i
        os.utime(p, (mt, mt))

    sdf = (
        spark.readStream.schema("ts long")
        .option("maxFilesPerTrigger", "1")
        .json(str(d))
    )
    out = stream_tumble(
        sdf, "ts", "1 millisecond", [], watermark="100 milliseconds",
        n=F.count(F.lit(1)),
    )
    got = _run_to_table(spark, out, "t_tw_reorder", "complete")
    assert _rows(got.select("window_start", "n"), "window_start") == [
        (3, 2), (5, 1), (9, 1), (100, 1), (101, 1), (105, 2), (109, 2),
    ]
