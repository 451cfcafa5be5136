"""EXAMPLES.md is executable documentation (r09 verdict task 6): every
fenced python block runs against sf0.001 here, so API drift breaks the
suite instead of silently rotting the doc.

Each block executes in a FRESH namespace seeded with the free
variables the examples assume (docs, events, old/new snapshots,
streaming sources, tmp dirs ...). Blocks are independent — a seed name
a block redefines (e.g. §1's `orders = load_table(...)`) shadows the
seed for that block only.
"""

from __future__ import annotations

import os
import re

import pytest

from __spark_entry__ import _await_stream

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"


def _blocks() -> "list[tuple[str, str]]":
    with open(os.path.join(ROOT, "EXAMPLES.md")) as f:
        md = f.read()
    out, section, n_in_section = [], "intro", 0
    fence, buf = False, []
    for line in md.splitlines():
        if line.startswith("## "):
            section, n_in_section = line[3:].strip(), 0
        if line.startswith("```python"):
            fence, buf = True, []
            continue
        if fence and line.startswith("```"):
            fence = False
            n_in_section += 1
            tag = section if n_in_section == 1 else f"{section} (block {n_in_section})"
            out.append((tag, "\n".join(buf)))
            continue
        if fence:
            buf.append(line)
    assert out, "no python blocks found in EXAMPLES.md"
    return out


BLOCKS = _blocks()


def _ids():
    return [re.sub(r"\W+", "_", t)[:48] for t, _ in BLOCKS]


def _seed_ns(spark, tmp) -> dict:
    """Every free variable any EXAMPLES block references, built from
    the sf0.001 testdata. All lazily-planned DataFrames — seeding cost
    is near zero until a block acts on one."""
    from pyspark.sql import functions as F

    from table_computing_spark.operators import multimodal as mm
    from table_computing_spark.sources.parquet import load_df, load_table
    from table_computing_spark.streaming.processing import StreamProcessing

    def _noop(*a, **k):
        return None

    orders = (
        load_df(spark, SF_DIR, "orders")
        .withColumn("cents", (F.col("o_totalprice") * 100).cast("long"))
        .withColumn("segment", F.col("o_orderstatus"))
        .withColumn("order_id", F.col("o_orderkey"))
        .withColumn("priority", F.col("o_orderpriority"))
        .withColumn("status", F.col("o_orderstatus"))
    )
    events = load_df(spark, SF_DIR, "events")
    if dict(events.dtypes).get("ts") in ("bigint", "int"):
        events = events.withColumn("t_ms", F.expr("ts div 1000000"))
    else:
        events = events.withColumn(
            "t_ms", F.unix_millis(F.col("ts").cast("timestamp"))
        )
    docs = (
        load_df(spark, SF_DIR, "documents")
        .withColumn(
            "url",
            F.concat(
                F.lit("https://example.com/"), F.col("source"),
                F.lit("/p"), F.col("doc_id"), F.lit("?utm_source=feed"),
            ),
        )
        .withColumn("domain", F.col("source"))
        .withColumn("score", (F.col("doc_id") % 100) / 100.0)
        .withColumn("n_tokens", F.expr("n_chars div 5"))
    )
    emb = load_df(spark, SF_DIR, "embeddings")
    customer = load_df(spark, SF_DIR, "customer")

    # record-linkage sides: a's columns as-is, b's pre-suffixed
    link_a = customer.select(
        (F.col("c_nationkey") % 5).alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_name").alias("name_a"),
        F.col("c_acctbal").alias("bal_a"),
        F.col("c_custkey").alias("id_a"),
    )
    link_b = customer.select(
        (F.col("c_nationkey") % 5).alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_name").alias("name_b"),
        (F.col("c_acctbal") + (F.col("c_custkey") % 2)).alias("bal_b"),
        F.col("c_custkey").alias("id_b"),
    )

    # CDC snapshots: new = old with some updates, a delete, an insert
    old_snapshot = orders.select("o_orderkey", "o_orderstatus", "price_cents") \
        if "price_cents" in orders.columns else orders.select(
            "o_orderkey", "o_orderstatus", F.col("cents").alias("price_cents"))
    new_snapshot = (
        old_snapshot.filter(F.col("o_orderkey") % 37 != 0)
        .withColumn(
            "price_cents",
            F.when(F.col("o_orderkey") % 11 == 0, F.col("price_cents") + 100)
            .otherwise(F.col("price_cents")),
        )
    )

    # streaming sources: parquet file streams with PRUNED schemas so the
    # nanos-typed `ts` column never loads (the TESTDATA gotcha)
    ev_stream_schema = "event_id long, user_id long, event_type string, value double"
    sdf_events = (
        spark.readStream.schema(ev_stream_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF_DIR)
    )
    stream_df = (
        sdf_events
        .withColumn("t_ms", (F.col("event_id") % 86_400) * 1000)
        .withColumn("nation_key", F.col("user_id") % 25)
    )
    sdf = sdf_events  # §14/§21 maintain streams; they pick their own cols
    orders_stream = (
        spark.readStream.schema("o_orderkey long, o_custkey long")
        .option("pathGlobFilter", "orders.parquet")
        .parquet(SF_DIR)
        .withColumn("priority", F.lit("1-URGENT"))
    )

    graph_edges = events.select(
        (F.col("user_id") % 40).alias("src"),
        ((F.col("user_id") * 7 + 3) % 40).alias("dst"),
    ).filter(F.col("src") != F.col("dst")).limit(3000)

    feats = docs.select(
        F.col("doc_id"),
        ((F.col("n_chars") - 500) / 200.0).alias("len_z"),
        ((F.col("doc_id") % 7) / 7.0).alias("stop_ratio_z"),
        (F.col("n_chars") > 400).cast("int").alias("is_good"),
    )

    csv_path = os.path.join(tmp, "ingest.csv")
    with open(csv_path, "w") as f:
        f.write("1,alpha,100\n2,beta,200\nnot-a-row\n3,gamma,300\n")

    ns: dict = {
        "spark": spark,
        "sf_dir": SF_DIR,
        "F": F,
        "load_table": load_table,
        "orders": orders,
        "events": events,
        "ev": events.withColumn("sensor_id", F.col("user_id") % 20),
        "docs": docs,
        "emb": emb,
        "embeddings": emb,
        "corpus": emb,
        "customers": customer,
        "lineitem": load_df(spark, SF_DIR, "lineitem"),
        "part": load_df(spark, SF_DIR, "part"),
        # §3 CDC
        "old_snapshot": old_snapshot,
        "new_snapshot": new_snapshot,
        # §4 / §15 drift
        "last_week": orders.filter(F.col("o_orderkey") % 2 == 0)
        .withColumn("price", F.col("o_totalprice")),
        "this_week": orders.filter(F.col("o_orderkey") % 2 == 1)
        .withColumn("price", F.col("o_totalprice") * 1.02),
        "quarantine_and_alert": _noop,
        "series": events.select(
            F.col("event_type").alias("segment"), F.col("t_ms").alias("ts"),
            "event_id", (F.col("value") * 100).cast("long").alias("cents"),
        ),
        # §5 ANN
        "queries": emb.filter(F.col("vec_id") < 8),
        "anchors": emb.filter(F.col("vec_id") < 8),
        # §6 linkage
        "a": link_a,
        "b": link_b,
        # §7 ingest + layout
        "raw": orders,
        "out_path": os.path.join(tmp, "out"),
        "quarantine_path": os.path.join(tmp, "quarantine"),
        # §8 streaming enrich
        "load_fn": lambda: load_df(spark, SF_DIR, "nation").select(
            F.col("n_nationkey").alias("nation_key"),
            F.col("n_name").alias("nation_name"),
        ),
        "stream_df": stream_df,
        "processing": StreamProcessing(bounded=True),
        "jdbc_url": "jdbc:derby:memory:tc_examples;create=true",
        "user": "",
        "pw": "",
        # §9 pre-flight
        "fact": orders.select((F.col("o_custkey") % 100).alias("join_key"), "cents"),
        "dim": customer.select(
            (F.col("c_custkey") % 100).alias("join_key"),
            (F.col("c_custkey") % 100).alias("dim_key"),
            F.col("c_mktsegment").alias("dim_attr"),
        ).dropDuplicates(["join_key"]),
        # §10 sharded training run
        "new_docs": docs.filter(F.col("doc_id") % 17 == 0),
        "removed_docs": docs.filter(F.col("doc_id") % 19 == 0),
        "probe_tokens": spark.createDataFrame(
            [("the",), ("data",), ("model",)], "tok string"
        ),
        "todays_events": events.filter(F.col("event_id") % 13 == 0),
        # round-7 additions
        "jobs": events.select(
            (F.col("user_id") % 10).alias("machine_id"),
            F.col("t_ms").alias("start_ms"),
            (F.col("t_ms") + 600_000).alias("end_ms"),
        ),
        "metrics": events.select(
            F.col("event_type").alias("host"), "t_ms",
            F.col("value").alias("cpu"),
        ),
        "embedded": emb.withColumn("cluster", F.col("label")),
        "feats": feats,
        "latency": events.select(
            F.col("event_type").alias("tenant"), F.col("value").alias("ms")
        ),
        "copurchase": graph_edges,
        "citations": graph_edges,
        "seeded": spark.createDataFrame(
            [(0, 10), (7, 20), (23, 30)], "node long, label long"
        ),
        "payments": orders.select(
            F.col("o_orderstatus").alias("ledger"),
            F.col("o_totalprice").alias("amount"),
        ),
        "near_dup_pairs": docs.select(
            (F.col("doc_id") % 50).alias("id_a"),
            ((F.col("doc_id") * 3 + 1) % 50).alias("id_b"),
        ).filter(F.col("id_a") != F.col("id_b")).limit(200),
        "contaminated": spark.createDataFrame([(1,), (2,)], "node long"),
        "moves": events.select(
            (F.col("user_id") % 20).alias("sku"), "t_ms",
            F.col("event_id").alias("move_id"),
            (F.col("value") - 40).cast("long").alias("qty"),
        ),
        # §11 global order
        "ledger": events.select(
            (F.col("user_id") % 30).alias("account"),
            F.col("t_ms").alias("ts"), F.col("event_id").alias("txn_id"),
            (F.col("value") * 100).cast("long").alias("amount"),
        ),
        "bounds": events.select(
            F.col("event_type").alias("resource"), F.col("t_ms").alias("t"),
            F.when(F.col("event_id") % 2 == 0, 1).otherwise(-1).alias("delta"),
        ),
        # §12 crawl hygiene
        "path": csv_path,
        # §13 feature store
        "labels": events.filter(F.col("event_id") % 29 == 0).select(
            F.col("event_id").alias("label_id"), "user_id",
            F.col("t_ms").alias("label_ms"),
            F.col("event_type").alias("segment"),
            F.when(F.col("event_id") % 3 == 0, None)
            .otherwise(F.col("event_type")).alias("tier"),
        ),
        "events_by_user": events.select(
            "user_id", F.col("t_ms").alias("ev_ms"), "value",
            (F.col("value") * 100).cast("long").alias("cents"),
        ),
        "scored": events.select(
            ((F.col("value") * 10).cast("int") % 1000).alias("score_milli"),
            (F.col("event_type") == "purchase").cast("int").alias("label"),
        ),
        # §14 / §21 maintained state
        "delta": orders.filter(F.col("o_orderkey") % 23 == 0),
        "sdf": sdf,
        "orders_stream": orders_stream,
        "state_dir": os.path.join(tmp, "state"),
        "ckpt_dir": os.path.join(tmp, "ckpt"),
        # §16 error bars / shots
        "videos": mm.make_demo_cut_video_media(spark, n=3, n_frames=6),
        # §19 quotas
        "weights_df": docs.groupBy("source").agg(
            F.count(F.lit(1)).cast("double").alias("weight")
        ),
        # §20 replica verify
        "orders_site_a": orders,
        "orders_site_b": orders.filter(F.col("o_orderkey") % 41 != 0),
        # §25 spatial clustering
        "pts": spark.createDataFrame(
            [(i, 10 + i % 3, 10 + i // 3) for i in range(9)]
            + [(100, 500, 500)],
            "id long, x long, y long",
        ),
        # §23 leakage-safe prep
        "T0": 1_600_000_000_000,
        "six_hours": 6 * 3_600_000,
        "two_hours": 2 * 3_600_000,
        "anchor_panel": emb.filter(F.col("vec_id") < 50),
    }
    return ns


@pytest.mark.parametrize(("title", "code"), BLOCKS, ids=_ids())
def test_examples_block_runs(spark, tmp_path, title, code):
    # §1 calls get_spark(), whose tuned defaults (shuffle.partitions=32
    # etc.) land on the SHARED pytest session via getOrCreate and would
    # leak into later suites (the skew tests calibrate against the
    # conftest's 8 partitions) — snapshot and restore the runtime conf
    from table_computing_spark.session import _DEFAULTS

    guarded = list(_DEFAULTS) + ["spark.sql.shuffle.partitions"]
    before = {}
    for k in guarded:
        try:
            before[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 — unset key
            before[k] = None
    try:
        ns = _seed_ns(spark, str(tmp_path))
        code = code.replace("/root/testdata/sf0.01", SF_DIR)
        exec(compile(code, f"EXAMPLES.md::{title}", "exec"), ns)  # noqa: S102
    finally:
        for k, v in before.items():
            try:
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
            except Exception:  # noqa: BLE001 — static confs can't be set
                pass
    # blocks that registered streaming queries must drain + stop cleanly
    proc = ns.get("processing")
    if proc is not None and getattr(proc, "_queries", None):
        proc.await_all(timeout_s=120)
        proc.stop_all()
    q = ns.get("q")
    if q is not None and hasattr(q, "awaitTermination"):
        _await_stream(q, 120)
