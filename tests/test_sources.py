"""Loader robustness: the testdata generator has shipped events.ts as
int64 epoch-NANOSECONDS (readable only under nanosAsLong) in some
rounds and as native parquet timestamp[us] in others. load_df must
normalize BOTH physical layouts to the same TimestampType instants —
the round-3 incident was exactly this assumption going stale.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from table_computing_spark.sources.parquet import load_df, stream_df

ROWS = [
    (1, 1_600_000_000_123_456, 10, "click", 1.5),
    (2, 1_600_000_060_654_321, 11, "view", 2.5),
]


def _write(dir_path, ts_array, ts_field):
    t = pa.table(
        {
            "event_id": pa.array([r[0] for r in ROWS], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([r[2] for r in ROWS], pa.int64()),
            "event_type": pa.array([r[3] for r in ROWS], pa.string()),
            "value": pa.array([r[4] for r in ROWS], pa.float64()),
        }
    )
    pq.write_table(t, f"{dir_path}/events.parquet")
    return str(dir_path)


def test_events_ts_both_physical_layouts(spark, tmp_path_factory):
    # ROWS[*][1] is epoch-MICROSECONDS
    # layout A: native timestamp[us] (current generator)
    d_us = tmp_path_factory.mktemp("ev_us")
    _write(d_us, pa.array([r[1] for r in ROWS], pa.timestamp("us")), None)

    # layout B: int64 epoch-nanoseconds via TIMESTAMP(NANOS) — Spark can
    # only read it as BIGINT under nanosAsLong (rounds 1-3 generator)
    d_ns = tmp_path_factory.mktemp("ev_ns")
    _write(d_ns, pa.array([r[1] * 1000 for r in ROWS], pa.timestamp("ns")), None)

    # layout B one second later, loaded, then replaced in place by
    # layout A: the loader must not reuse the first file's schema
    d_swap = tmp_path_factory.mktemp("ev_swap")
    _write(d_swap, pa.array([(r[1] + 1_000_000) * 1000 for r in ROWS], pa.timestamp("ns")), None)
    load_df(spark, str(d_swap), "events")
    staged = tmp_path_factory.mktemp("ev_staged")
    _write(staged, pa.array([r[1] for r in ROWS], pa.timestamp("us")), None)
    os.replace(staged / "events.parquet", d_swap / "events.parquet")

    out = {}
    for name, d in (("us", d_us), ("ns", d_ns), ("replaced", d_swap)):
        df = load_df(spark, str(d), "events")
        assert dict(df.dtypes)["ts"] == "timestamp", (name, df.dtypes)
        out[name] = {
            r["event_id"]: r["ms"]
            for r in df.select("event_id", F.unix_millis("ts").alias("ms")).collect()
        }
    # same instants from either physical layout (exact to the ms; the
    # micros beyond ms also survive — check one directly)
    assert out["us"] == out["ns"] == out["replaced"]
    assert out["us"][1] == 1_600_000_000_123
    # the stream source keeps the RAW type: epoch-ns BIGINT, not the
    # normalized timestamp
    assert dict(stream_df(spark, str(d_ns), "events").dtypes)["ts"] == "bigint"


def _load_jobs(spark, group, loader, sf_dir, name):
    """Spark jobs submitted by one `loader(spark, sf_dir, name)` call."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        loader(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_reload_of_unchanged_file_reuses_its_schema(spark, tmp_path):
    _write(tmp_path, pa.array([r[1] for r in ROWS], pa.timestamp("us")), None)
    d = str(tmp_path)
    assert _load_jobs(spark, f"schema-first-{id(tmp_path)}", load_df, d, "events") >= 1
    assert _load_jobs(spark, f"schema-again-{id(tmp_path)}", load_df, d, "events") == 0
    assert _load_jobs(spark, f"schema-stream-{id(tmp_path)}", stream_df, d, "events") == 0


def test_spark_written_parquet_directory_loads(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    spark.createDataFrame([(0, "AFRICA")], "r_regionkey long, r_name string").write.parquet(path)
    assert load_df(spark, str(tmp_path), "region").collect() == [(0, "AFRICA")]
    # a directory is re-inferred on every load: a rewrite with a new
    # column is seen
    spark.createDataFrame(
        [(1, "AMERICA", "x")], "r_regionkey long, r_name string, r_comment string"
    ).write.mode("overwrite").parquet(path)
    assert load_df(spark, str(tmp_path), "region").collect() == [(1, "AMERICA", "x")]


# ------------------------------------------------ CSV / JSON files


def test_csv_roundtrip_and_corrupt_quarantine(spark, tmp_path):
    from table_computing_spark.sources import textfiles

    p = str(tmp_path / "c")
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.0)], "id long, s string, v double"
    )
    textfiles.write_csv(df, p)
    back = textfiles.load_csv(spark, p, "id long, s string, v double")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    # malformed line: non-numeric id — quarantined, not fatal
    bad = tmp_path / "bad.csv"
    bad.write_text("id,s,v\n1,a,1.5\nnope,b,xx\n")
    got = textfiles.load_csv(
        spark, str(bad), "id long, s string, v double", keep_corrupt=True
    )
    rows = got.collect()
    corrupt = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(rows) == 2 and len(corrupt) == 1
    assert corrupt[0]["_corrupt_record"].startswith("nope")


def test_json_roundtrip_matches_kafka_value_contract(spark, tmp_path):
    from table_computing_spark.sources import textfiles

    p = str(tmp_path / "j")
    df = spark.createDataFrame(
        [(1, "x", 2.5), (2, None, 0.0)], "id long, s string, v double"
    )
    textfiles.write_json(df, p)
    back = textfiles.load_json(spark, p, "id long, s string, v double")
    assert sorted(map(tuple, back.collect()), key=str) == sorted(
        map(tuple, df.collect()), key=str
    )
    # malformed JSON line surfaces per-row
    bad = tmp_path / "bad.jsonl"
    bad.write_text('{"id": 1, "s": "a", "v": 1.0}\n{oops\n')
    got = textfiles.load_json(
        spark, str(bad), "id long, s string, v double", keep_corrupt=True
    )
    rows = got.collect()
    assert len(rows) == 2
    assert sum(1 for r in rows if r["_corrupt_record"] is not None) == 1
