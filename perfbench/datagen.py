"""Seeded input generator for the benchmark (numpy + pyarrow, no Spark).

Writes the star schema the library's queries read (`region` ... `events`,
`documents`, `embeddings`) at a scale factor, with the same schemas and
value domains as the driver's testdata, and builds the event slices the
`stream` workload feeds to the file source. Row counts follow the
testdata scale laws: lineitem 6M x sf, orders 1.5M x sf, customer
150k x sf, part 200k x sf, supplier 10k x sf, events 1M x sf.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
DAY_US = 86_400_000_000


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array((base + rng.integers(0, n_days, size=n) * DAY_US).astype("datetime64[us]"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), size=n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, size=n), 2))


def tables(scale: float, seed: int) -> dict[str, pa.Table]:
    """Every table at `scale`; the same (scale, seed) gives the same bytes."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * scale), 100)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 200)
    n_ord = max(int(1_500_000 * scale), 1000)
    n_li = max(int(6_000_000 * scale), 4000)
    n_ev = max(int(1_000_000 * scale), 1000)
    n_doc = max(int(50_000 * scale), 500)
    n_emb = max(int(20_000 * scale), 500)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pa.table({
        "n_nationkey": pa.array(nk),
        "n_name": pa.array([f"NATION_{i}" for i in nk]),
        "n_regionkey": pa.array(nk % 5),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, size=n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 1)),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, size=n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, size=n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, size=n_li).astype(np.float64)),
        "l_extendedprice": _money(rng, 900.0, 100_000.0, n_li),
        "l_discount": _money(rng, 0.0, 0.1, n_li),
        "l_tax": _money(rng, 0.0, 0.08, n_li),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_li),
    })
    n_users = max(int(15_000 * scale), 50)
    base_us = np.datetime64("2024-01-01", "us").astype(np.int64)
    offs = np.sort(rng.choice(30 * DAY_US, size=n_ev, replace=False))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array((base_us + offs).astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, size=n_ev)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, size=n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_ev)]),
    })
    out["documents"] = _documents(rng, n_doc)
    vecs = rng.normal(0.0, 1.0, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n_emb).astype(np.int32)),
    })
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Texts over a closed vocabulary; ~5% are copies of an earlier
    document with a trailing `dup` token (the near-duplicate pairs the
    dedup operators look for)."""
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), size=int(rng.integers(10, 101)))]
            texts.append(" ".join(words))
    langs = np.asarray(LANGS)[rng.choice(5, size=n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs.tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_tables(out_dir: str, scale: float, seed: int) -> None:
    """Write every table as `<out_dir>/<name>.parquet`; a `_DONE` marker
    is written last so an interrupted build is redone, not reused."""
    marker = os.path.join(out_dir, "_DONE")
    if os.path.exists(marker):
        return
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(scale, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write(f"scale={scale} seed={seed}\n")


EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("user_id", pa.int64()),
    ("ts", pa.int64()),
    ("value", pa.float64()),
    ("due_ns", pa.int64()),
])


class EventStream:
    """Seeded event source for the `stream` workload: `slice(n, due_ns)`
    returns the next `n` events with strictly increasing event ids and
    epoch-ns timestamps, every row stamped with the slice's due time."""

    def __init__(self, seed: int, n_users: int, ts0_ns: int = 1_704_067_200 * 10**9):
        self._rng = np.random.default_rng(seed)
        self._n_users = n_users
        self._next_id = 0
        self._ts = ts0_ns

    def slice(self, n: int, due_ns: int) -> pa.Table:
        ids = np.arange(self._next_id, self._next_id + n, dtype=np.int64)
        ts = self._ts + np.cumsum(self._rng.integers(1, 2_000_000_000, size=n))
        self._next_id += n
        self._ts = int(ts[-1])
        return pa.table({
            "event_id": ids,
            "user_id": self._rng.integers(0, self._n_users, size=n),
            "ts": ts.astype(np.int64),
            "value": np.round(self._rng.exponential(50.0, size=n), 2),
            "due_ns": np.full(n, due_ns, dtype=np.int64),
        }, schema=EVENT_SCHEMA)
