"""Stateful streaming over-windows via applyInPandasWithState.

ref window/OverWindowBySize.java:54-89 — per key, a ring buffer of the
last N rows (SortedTable by orderBy cols); EVERY input row gets agg
columns computed over the buffer ending at that row.
ref window/OverWindowByDuration.java:63-92 + InThreadOverWindow.java:38-104
— same, but the buffer is a trailing time range [t - size + 1, t].

The reference keeps all of a compute thread's keys' buffers in one map
and serves a batch in one pass; here the keys are hashed into
`STATE_PARTITIONS` buckets, the shuffle is the groupBy on the bucket,
and each bucket's buffers live in one state-store row (checkpointable,
fault-tolerant — strictly more than the reference, which loses state
on crash; README.md:141-152). A micro-batch makes one Python call per
bucket it touches, not one per key: pyspark's per-group plumbing
(per-column Arrow → pandas, GroupState, the state frame) is paid once.
Within the call the user's function still sees one key's history at a
time, and rows of keys absent from the batch are carried as Arrow
bytes without becoming pandas rows. Rows are matched to keys on an
exact key string Spark builds next to the bucket (`_exact_key`), not on
the key values pandas received.

State is buffered rows as one Arrow IPC stream in a binary field
(`_dump_buf` / `_load_buf`) — schema-stable across arbitrary input
columns, exact (every value, null and timestamp nanosecond comes back as
it went in), and bounded: N rows (by-size) or one time-range of rows
(by-duration) per key. The raw-row session transforms keep each key's
open session the same way.

Batch equivalents with identical semantics: operators/windows.py
over_by_size / over_by_duration (WindowSpec frames) — the correctness
oracle for these functions (tests/test_streaming.py compares both).
"""

from __future__ import annotations

import math
from collections.abc import Callable, Sequence
from typing import Any, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

STATE_PARTITIONS = 8
"""spark.sql.shuffle.partitions of the library's stream queries
(`__spark_entry__._state_partitions`) and the key-bucket count of the
trailing-window operators, read when a stream is built. Both are fixed
for a checkpoint's life: Spark keeps the partition count it started
with, and a bucket call that finds state written under another count
raises. After a raise, a micro-batch whose keys all hash to buckets the
old count did not have finds no state and is served on empty history,
so raise the count only on a new checkpoint."""

RowAgg = Callable[[pd.DataFrame], dict[str, Any]]
"""(trailing buffer ending at the current row) → {output col → value} —
the OverFunction.agg(key, bufferRows) analog (function/OverFunction.java:7-10)."""


class VectorizedRowAgg:
    """Batch-at-once variant of RowAgg for aggregates pandas can roll
    (sum/count/mean/min/max...): `fn(history, n_old)` sees the whole
    key history (state buffer + sorted batch) and returns a DataFrame
    of the added columns aligned to rows [n_old:]. Same semantics as
    the per-row loop, ~100x less Python dispatch — use it when the
    aggregate is expressible as a pandas rolling; fall back to a plain
    RowAgg for arbitrary buffer functions."""

    def __init__(self, fn: Callable[[pd.DataFrame, int], pd.DataFrame]):
        self.fn = fn


def _to_arrow(df: pd.DataFrame) -> pa.Table:
    """Column by column: `pa.Table.from_pandas` spends most of a small
    frame's conversion inferring types through its pandas metadata."""
    return pa.Table.from_arrays(
        [pa.array(s.to_numpy(), from_pandas=True) for _, s in df.items()],
        names=list(df.columns),
    )


def _dump_table(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return sink.getvalue().to_pybytes()


def _load_table(b: bytes) -> pa.Table:
    return pa.ipc.open_stream(b).read_all()


def _dump_buf(df: pd.DataFrame) -> bytes:
    """A buffer of rows as the value of a BinaryType state field: one
    Arrow IPC stream, without the index."""
    return _dump_table(_to_arrow(df))


def _load_buf(b: bytes) -> pd.DataFrame:
    """Inverse of `_dump_buf`, on a fresh RangeIndex."""
    return _load_table(b).to_pandas()


_BUF_SCHEMA = T.StructType([T.StructField("buf", T.BinaryType())])
_BUCKET_STATE = T.StructType(
    [T.StructField("buf", T.BinaryType()), T.StructField("buckets", T.IntegerType())]
)
_BUCKET = "__bucket"
_KEY = "__key"
_EXACT_JSON = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}

Keep = Callable[[pd.DataFrame, np.ndarray], np.ndarray]
"""(key-sorted history, position of each row's key's last row) → mask
of the rows that stay in the trailing window of that last row."""


def _concat(frames: list[pd.DataFrame]) -> pd.DataFrame:
    # pyspark mostly hands a key's rows over as one chunk, which
    # pd.concat would still copy
    return frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)


def _exact_key(sdf: DataFrame, keys: list[str]) -> Column:
    """The key columns as one string that is equal iff Spark groups the
    rows together: JSON with microsecond timestamps and -0.0 written as
    0.0. Python matches keys on it, because pyspark hands a long column
    holding a null to pandas as float64 (2**60 + 1 == 2**60 + 2 there)
    and NaN and null both as NaN."""
    cols = []
    for k in keys:
        c, t = F.col(k), sdf.schema[k].dataType
        if isinstance(t, (T.FloatType, T.DoubleType)):
            c = F.when(c == 0, F.lit(0).cast(t)).otherwise(c)
        cols.append(c.alias(k))
    return F.to_json(F.struct(*cols), _EXACT_JSON) if keys else F.lit("")


def _stack(a: pa.Table, b: pa.Table) -> pa.Table:
    """`a`'s rows, then `b`'s. pandas types a column by what one batch
    holds (a long column with a null is float64, an all-null string
    column has no type), so the two may differ: unify them without
    Arrow's safe-cast check, which refuses a long above 2**53."""
    if a.schema != b.schema:
        s = pa.unify_schemas([a.schema, b.schema], promote_options="permissive")
        a, b = a.cast(s, safe=False), b.cast(s, safe=False)
    return pa.concat_tables([a, b]).combine_chunks()


def _over_bucket(
    old: pa.Table | None,
    batch: pd.DataFrame,
    order_col: str,
    agg_fn: RowAgg | VectorizedRowAgg,
    added_cols: list[str],
    keep: Keep,
) -> tuple[pd.DataFrame, pa.Table]:
    """One micro-batch of one bucket: `old` holds the bucket's buffered
    rows, `batch` its new rows, both with their exact key in `__key`.
    Returns the batch rows with the added columns (and `__key` last),
    and the rows to buffer.

    Each key present in the batch gets its history — its buffered rows
    in buffer order, then its batch rows stably sorted on `order_col` —
    and `agg_fn` runs once per key on it. Buffered rows of keys absent
    from the batch are carried over in Arrow."""
    new_keys = batch.pop(_KEY).to_numpy()
    keys = pa.array(new_keys, type=pa.string())
    carried = None
    if old is not None:
        touched = pc.is_in(old.column(_KEY), value_set=keys)
        carried, old = old.filter(pc.invert(touched)), old.filter(touched)
        keys = pa.concat_arrays([*old.column(_KEY).chunks, keys])
    enc = pc.dictionary_encode(keys)
    codes = enc.indices.to_numpy()
    n_touched = len(codes) - len(batch)
    old_codes, new_codes = codes[:n_touched], codes[n_touched:]
    # the batch by key, then stably by order_col
    order = batch[order_col].reset_index(drop=True).sort_values(kind="mergesort").index.to_numpy()
    order = order[np.argsort(new_codes[order], kind="stable")]
    batch, new_codes = batch.take(order).reset_index(drop=True), new_codes[order]
    new_keys = new_keys[order]
    history = batch
    if n_touched:
        history = pd.concat([old.drop_columns([_KEY]).to_pandas(), batch], ignore_index=True)
    # per key: its buffered rows in buffer order, then its batch rows
    hist_codes = np.concatenate([old_codes, new_codes])
    perm = np.argsort(hist_codes, kind="stable")
    history, hist_codes = history.take(perm).reset_index(drop=True), hist_codes[perm]
    starts = np.flatnonzero(np.r_[True, hist_codes[1:] != hist_codes[:-1]])
    ends = np.r_[starts[1:], len(perm)]
    n_bufs = np.add.reduceat((perm < n_touched).astype(np.int64), starts)

    vectorized = isinstance(agg_fn, VectorizedRowAgg)
    parts: dict[str, list] = {c: [] for c in added_cols}
    for a, b, n_buf in zip(starts.tolist(), ends.tolist(), n_bufs.tolist()):
        h = history.iloc[a:b].reset_index(drop=True)
        if vectorized:
            added = agg_fn.fn(h, n_buf)
            for c in added_cols:
                parts[c].append(pd.Series(added[c].values))
            continue
        for j in range(n_buf, len(h)):
            upto = h.iloc[: j + 1]
            vals = agg_fn(upto[keep(upto, np.full(j + 1, j))])
            for c in added_cols:
                parts[c].append(vals[c])
    for c in added_cols:
        batch[c] = pd.concat(parts[c], ignore_index=True).values if vectorized else parts[c]
    batch[_KEY] = new_keys

    mask = keep(history, np.repeat(ends - 1, ends - starts))
    kept = _to_arrow(history[mask]).append_column(_KEY, enc.dictionary.take(hist_codes[mask]))
    if carried is not None and carried.num_rows:
        kept = _stack(carried, kept)
    return batch, kept


def _stream_over(
    sdf: DataFrame,
    partition_by: Sequence[str],
    order_col: str,
    agg_fn: RowAgg | VectorizedRowAgg,
    added_fields: Sequence[T.StructField],
    keep: Keep,
) -> DataFrame:
    keys, cols = list(partition_by), sdf.columns
    buckets = STATE_PARTITIONS
    key_field = T.StructField(_KEY, T.StringType())
    out_schema = T.StructType(list(sdf.schema.fields) + list(added_fields) + [key_field])
    added = [f.name for f in added_fields]

    def fn(_, pdfs, state):
        old = None
        if state.exists:
            buf, stored = state.get
            if stored != buckets:
                raise ValueError(
                    f"checkpointed over-window state has {stored} key buckets, "
                    f"this stream {buckets}: resume with STATE_PARTITIONS = {stored}"
                )
            old = _load_table(buf)
        out, kept = _over_bucket(
            old, _concat(list(pdfs))[[*cols, _KEY]], order_col, agg_fn, added, keep
        )
        state.update((_dump_table(kept), buckets))
        yield out

    bucket = F.pmod(F.hash(*keys), F.lit(buckets)) if keys else F.lit(0)
    out = (
        sdf.withColumn(_KEY, _exact_key(sdf, keys))
        .withColumn(_BUCKET, bucket)
        .groupBy(_BUCKET)
        .applyInPandasWithState(fn, out_schema, _BUCKET_STATE, "append", "NoTimeout")
    )
    # a long key that pandas held as float64 comes back exact from its key
    longs = T.StructType([sdf.schema[k] for k in keys if sdf.schema[k].dataType == T.LongType()])
    exact = F.from_json(_KEY, longs)
    return out.select(*[exact[c].alias(c) if c in longs.names else c for c in cols], *added)


def stream_over_by_size(
    sdf: DataFrame,
    partition_by: Sequence[str],
    order_col: str,
    n: int,
    agg_fn: RowAgg,
    added_fields: Sequence[T.StructField],
) -> DataFrame:
    """Streaming trailing count window: ROWS (n-1) PRECEDING → CURRENT
    per key, agg recomputed on every row (ref OverWindowBySize.java:54-89).

    Rows must arrive per key in nondecreasing `order_col` across
    micro-batches (the reference throws OutOfOrderException otherwise —
    table/SlideTableByColumn.java:36-44; feed through a watermark/sorted
    source for the same guarantee)."""

    def keep(h: pd.DataFrame, last: np.ndarray) -> np.ndarray:
        return np.arange(len(h)) > last - n

    return _stream_over(sdf, partition_by, order_col, agg_fn, added_fields, keep)


def stream_over_by_duration(
    sdf: DataFrame,
    partition_by: Sequence[str],
    time_col_ms: str,
    duration_ms: int,
    agg_fn: RowAgg,
    added_fields: Sequence[T.StructField],
) -> DataFrame:
    """Streaming trailing time window: RANGE (duration-1) PRECEDING →
    CURRENT per key over an epoch-ms column (ref
    OverWindowByDuration.java:63-92 — buffer [t - size + 1, t])."""

    def keep(h: pd.DataFrame, last: np.ndarray) -> np.ndarray:
        t = h[time_col_ms].to_numpy()
        return t >= t[last] - duration_ms + 1

    return _stream_over(sdf, partition_by, time_col_ms, agg_fn, added_fields, keep)


SessionTransform = Callable[[tuple, pd.DataFrame, int, int], pd.DataFrame]
"""(key, session rows, session_start_ms, session_end_ms) → output rows —
the TimeWindowFunction analog (function/TimeWindowFunction.java:7-12):
the raw-row session variant that plain `session_window` aggregation
cannot express."""


def _ms(series: pd.Series) -> pd.Series:
    """Epoch ms of a TimestampType (datetime64[ns]) or epoch-ms column."""
    if str(series.dtype).startswith("datetime64"):
        return series.astype("int64") // 1_000_000
    return series.astype("int64")


def _with_buf(buf: pd.DataFrame | None, pdfs) -> list[pd.DataFrame]:
    return ([] if buf is None else [buf]) + list(pdfs)


def _sessions(
    frames: list[pd.DataFrame], tcol: str, gap_ms: int
) -> list[tuple[pd.DataFrame, int, int]]:
    """Concatenate `frames` (a key's buffered open session first, then
    this batch's rows), stably re-sort on `tcol` — a late row can
    precede buffered ones, and gaps and bounds need monotonic times —
    and cut at every gap >= gap_ms. Returns (rows, start_ms, end_ms)
    per session with the reference's bounds [firstTime, lastTime + 1);
    the last session is the still-open tail."""
    if not frames:
        return []
    history = _concat(frames).sort_values(tcol, kind="mergesort").reset_index(drop=True)
    if not len(history):
        return []
    t_ms = _ms(history[tcol]).to_numpy()
    cuts = [0, *(np.flatnonzero(np.diff(t_ms) >= gap_ms) + 1).tolist(), len(t_ms)]
    return [
        (history.iloc[a:b], int(t_ms[a]), int(t_ms[b - 1]) + 1)
        for a, b in zip(cuts, cuts[1:])
    ]


def _fire(key, transform: SessionTransform, sessions) -> Iterator[pd.DataFrame]:
    for rows, start_ms, end_ms in sessions:
        out = transform(key, rows, start_ms, end_ms)
        if out is not None and len(out):
            yield out


def stream_session_apply(
    sdf: DataFrame,
    partition_by: Sequence[str],
    event_time_col: str,
    gap_ms: int,
    transform: SessionTransform,
    output_schema: T.StructType,
    watermark: str = "1 second",
) -> DataFrame:
    """Gap-based session windows firing a RAW-ROW transform per session
    (ref window/SessionWindow.java:93-123 + InThreadSessionWindow.java:50-136
    with a TimeWindowFunction: the user function sees every buffered row
    of the session and may emit any number of output rows).

    Mechanics: per key, buffer rows in state. A session fires when
      (a) a new row arrives >= gap after the buffered last time — the
          reference's in-band close (InThreadSessionWindow.java:50-57), or
      (b) the event-time watermark passes lastTime + gap — the timeout
          path (the reference's no-data flush, extrapolated wall clock;
          here the declarative watermark clock).
    Session bounds are [firstTime, lastTime + 1) exactly like the
    reference (SessionWindowTest.java:21-126 asserts e.g. [3,14) for
    gap=10).

    `event_time_col` must be a TimestampType column with a watermark —
    this function applies `withWatermark(event_time_col, watermark)`.
    The epoch-ms time used for gap logic is derived from it.
    """
    sdf = sdf.withWatermark(event_time_col, watermark)
    tcol = event_time_col

    def fn(key, pdfs, state):
        buf = _load_buf(state.get[0]) if state.exists else None
        if state.hasTimedOut:
            # watermark passed lastTime + gap → flush the open session
            state.remove()
            yield from _fire(key, transform, _sessions(_with_buf(buf, ()), tcol, gap_ms))
            return
        *closed, (open_rows, _, end) = _sessions(_with_buf(buf, pdfs), tcol, gap_ms)
        yield from _fire(key, transform, closed)
        state.update((_dump_buf(open_rows),))
        # flush when the watermark passes lastTime + gap
        state.setTimeoutTimestamp(end - 1 + gap_ms)

    return sdf.groupBy(*partition_by).applyInPandasWithState(
        fn, output_schema, _BUF_SCHEMA, "append", "EventTimeTimeout"
    )


def stream_session_wallclock(
    sdf: DataFrame,
    partition_by: Sequence[str],
    time_col: str,
    gap_ms: int,
    transform: SessionTransform,
    output_schema: T.StructType,
    idle_flush_ms: int | None = None,
) -> DataFrame:
    """Gap-based raw-row sessions with the reference's NO-DATA WALL-CLOCK
    advance (ref window/TimeWindow.java:110, SlideWindow.java:304-324:
    `now − lastDataSystemTime + lastDataTime` extrapolation fires windows
    during input silence; SURVEY §7.2 M4).

    stream_session_apply's event-time timeout only fires when a NEW row
    advances the watermark — a stream that goes quiet never flushes its
    open sessions. Here the timeout clock is PROCESSING time
    (ProcessingTimeTimeout + setTimeoutDuration): a key silent for
    `idle_flush_ms` of wall clock (default: gap_ms) fires its buffered
    session even though no data arrived. In-band gap splitting is
    identical to stream_session_apply; session bounds are
    [firstTime, lastTime + 1) like the reference.

    Wall-clock firing is inherently run-dependent, so this operator is
    for liveness (dashboards/alerting), excluded from the value-hash
    correctness oracle by design (SURVEY §4.3) — pytest pins the
    behavior instead (a session MUST fire with no new data).

    `time_col` may be epoch-ms BIGINT or TimestampType; no watermark is
    required (nothing here depends on event-time progress)."""
    idle = gap_ms if idle_flush_ms is None else idle_flush_ms
    tcol = time_col

    def fn(key, pdfs, state):
        buf = _load_buf(state.get[0]) if state.exists else None
        if state.hasTimedOut:
            # wall clock went silent past the idle horizon → flush the
            # open session with no new data (the M4 behavior)
            state.remove()
            yield from _fire(key, transform, _sessions(_with_buf(buf, ()), tcol, gap_ms))
            return
        *closed, (open_rows, _, _) = _sessions(_with_buf(buf, pdfs), tcol, gap_ms)
        yield from _fire(key, transform, closed)
        state.update((_dump_buf(open_rows),))
        state.setTimeoutDuration(idle)

    return sdf.groupBy(*partition_by).applyInPandasWithState(
        fn, output_schema, _BUF_SCHEMA, "append", "ProcessingTimeTimeout"
    )


def stream_session_tws(
    sdf: DataFrame,
    partition_by: Sequence[str],
    time_col: str,
    gap_ms: int,
    transform: SessionTransform,
    output_schema: T.StructType,
    idle_flush_ms: int | None = None,
) -> DataFrame:
    """stream_session_wallclock on Spark 4's transformWithState API —
    the engine-native form of the reference's wall-clock no-data window
    advance (SURVEY §7.2 M4 names exactly this tool): per-key ValueState
    holds the open session buffer and an explicit REGISTERED TIMER fires
    `handleExpiredTimer` after `idle_flush_ms` of processing-time
    silence, flushing the session with no new input.

    vs the applyInPandasWithState variant: timers are first-class (one
    per key, re-registered on every batch; stale firings are filtered by
    the deadline kept in state), the deadline sits next to the buffer
    in one typed ValueState, and the state store must be RocksDB
    (transformWithState's backend requirement — set
    spark.sql.streaming.stateStore.providerClass accordingly).

    Session semantics are identical: in-band splits at gaps >= gap_ms,
    bounds [firstTime, lastTime + 1), `time_col` epoch-ms BIGINT or
    TimestampType.

    CONTAINER LIMITATION: transformWithState's Python RUNNER imports
    protobuf, which this build environment lacks (and installs are
    prohibited), so the end-to-end pytest skips unless protobuf is
    importable. The processor LOGIC itself is protobuf-free and built
    by the module-level `make_session_processor` factory, which pytest
    drives directly with fake handle/state/timer objects — in-band
    splitting, timer re-arm, superseded-timer filtering, and the
    no-data expiry flush are all CI-proven; only Spark's wire runner
    is env-waived. stream_session_wallclock (applyInPandasWithState)
    is the end-to-end-executed variant here; this one is the
    API-of-record for deployments with a full PySpark dependency set."""
    idle = gap_ms if idle_flush_ms is None else idle_flush_ms
    return sdf.groupBy(*partition_by).transformWithStateInPandas(
        make_session_processor(time_col, gap_ms, idle, transform),
        outputStructType=output_schema,
        outputMode="Append",
        timeMode="ProcessingTime",
    )


def make_session_processor(time_col, gap_ms, idle, transform):
    """Build the transformWithState session processor (see
    stream_session_tws). Module-level so its semantics are unit-
    testable without the protobuf-dependent Spark runner."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    tcol = time_col
    state_schema = T.StructType(
        [T.StructField("buf", T.BinaryType()), T.StructField("deadline", T.LongType())]
    )

    class _SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._state = handle.getValueState("session", state_schema)

        def handleInputRows(self, key, rows, timer_values):
            buf = _load_buf(self._state.get()[0]) if self._state.exists() else None
            *closed, (open_rows, _, _) = _sessions(_with_buf(buf, rows), tcol, gap_ms)
            yield from _fire(key, transform, closed)
            deadline = timer_values.getCurrentProcessingTimeInMs() + idle
            self._state.update((_dump_buf(open_rows), deadline))
            # one live timer per key: re-arm on every batch; firings of
            # superseded timers are ignored against the stored deadline
            self._handle.registerTimer(deadline)

        def handleExpiredTimer(self, key, timer_values, expired_timer_info):
            self._handle.deleteTimer(expired_timer_info.getExpiryTimeInMs())
            if not self._state.exists():
                return
            buf, deadline = self._state.get()
            if expired_timer_info.getExpiryTimeInMs() < deadline:
                return  # superseded by a newer batch's re-arm
            self._state.clear()
            yield from _fire(key, transform, _sessions([_load_buf(buf)], tcol, gap_ms))

        def close(self) -> None:
            pass

    return _SessionProcessor()


def stream_session_capped(
    sdf: DataFrame,
    partition_by: Sequence[str],
    event_time_col: str,
    gap_ms: int,
    cap_ms: int,
    watermark: str = "1 second",
) -> DataFrame:
    """Streaming twin of operators/windows.session_capped: gap-closed
    sessions (state + watermark timeout via stream_session_apply)
    sub-split at hard `cap_ms` boundaries anchored at each session's
    first event. The cap split is a pure function of a CLOSED
    session's rows, so it composes as a session transform — no new
    state shape, the same in-band + timeout close paths, and batch
    equivalence is testable group-for-group.

    Emits one row per event: (keys..., t_ms, session_start, sub_id)
    where session_start is the first event time of the capped
    sub-session — the same grouping batch session_capped assigns."""
    keys = list(partition_by)
    out_schema = T.StructType(
        [T.StructField(k, T.LongType()) for k in keys]
        + [
            T.StructField("t_ms", T.LongType()),
            T.StructField("session_start", T.LongType()),
            T.StructField("sub_id", T.LongType()),
        ]
    )

    def transform(key, rows, start_ms, end_ms):
        import pandas as pd

        t = _ms(rows[event_time_col]).to_numpy()
        sub = (t - t[0]) // cap_ms
        starts = {s: int(t[sub == s].min()) for s in set(sub.tolist())}
        data = {k: [key[i]] * len(t) for i, k in enumerate(keys)}
        data["t_ms"] = t.tolist()
        data["session_start"] = [starts[s] for s in sub.tolist()]
        data["sub_id"] = [int(s) for s in sub.tolist()]
        return pd.DataFrame(data)

    return stream_session_apply(
        sdf, keys, event_time_col, gap_ms, transform, out_schema, watermark
    )


def stream_running_balance(
    sdf: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    delta_col: str,
    floor: float = 0.0,
    scale: int = 2,
) -> DataFrame:
    """Streaming face of temporal.bounded_running_balance: per-key
    integer-cent state (balance, event count, stockout count) carried
    across micro-batches; each batch's rows fold in `order_cols` order
    on top of the persisted state, so the clamp semantics are
    IDENTICAL to the batch fold over the full history (pytest-pinned).
    Rows must arrive per key in nondecreasing order across batches —
    the same contract as stream_over_by_size (feed through a
    watermark/sorted source).

    Emits one row per (key, micro-batch) with the post-batch state:
    (keys..., n_events, final_balance, n_stockouts) — the last emitted
    row per key is the full-history answer. State is three longs per
    key, forever-bounded."""
    cents = int(10**scale)
    floor_c = int(round(floor * cents))
    keys = list(key_cols)
    ocols = list(order_cols)
    out_schema = T.StructType(
        [sdf.schema[k] for k in keys]
        + [
            T.StructField("n_events", T.LongType()),
            T.StructField("final_balance", T.DoubleType()),
            T.StructField("n_stockouts", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("bal", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("n_stockouts", T.LongType()),
        ]
    )

    def fn(key, pdfs, state):
        bal, n_ev, n_so = state.get if state.exists else (0, 0, 0)
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            # HALF_UP away from zero, like Spark round(); floor(x+0.5)
            # would shift negative half-cents by one
            batch = batch.assign(
                __dc=[
                    int(math.copysign(math.floor(abs(float(d)) * cents + 0.5), d))
                    for d in batch[delta_col]
                ]
            ).sort_values(ocols + ["__dc"], kind="mergesort")
            for dc in batch["__dc"]:
                if bal + dc < floor_c:
                    n_so += 1
                bal = max(bal + dc, floor_c)
                n_ev += 1
        state.update((int(bal), int(n_ev), int(n_so)))
        yield pd.DataFrame(
            {
                **{k: [key[i]] for i, k in enumerate(keys)},
                "n_events": [n_ev],
                "final_balance": [round(bal / cents, scale)],
                "n_stockouts": [n_so],
            }
        )

    return sdf.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "append", "NoTimeout"
    )


def stream_page_hinkley(
    sdf: DataFrame,
    partition_by: Sequence[str],
    order_col: str,
    value_col: str,
    delta: float = 0.0,
    lam: float = 50.0,
) -> DataFrame:
    """Streaming Page–Hinkley upward change detection per key — the
    maintained twin of operators/temporal.page_hinkley, with the
    matview decomposition: the PH recursion is FULLY incremental
    (state per key = n, Σx, m, running-min m — four scalars; no
    history buffer at all), so each micro-batch extends the statistic
    exactly where the batch operator would, and the union of all
    emitted rows equals the batch output row-for-row (the
    q_stream_ohlc gate shape).

    Rows must arrive per key in nondecreasing `order_col` across
    micro-batches (the stream_over_by_size ordering contract); within
    a batch they are sorted. Increments are nano-quantized BEFORE the
    running sum (the batch operator's rule), accumulated in Python
    ints inside the JSON state (arbitrary precision — no wrap), and
    the per-batch extension is one numpy cumsum/accumulate pass, not a
    per-row loop. Output: input key/order/value rows + (ph, alarm)."""
    out_schema = T.StructType(
        [f for f in sdf.schema.fields if f.name in (*partition_by, order_col, value_col)]
        + [T.StructField("ph", T.DoubleType()), T.StructField("alarm", T.BooleanType())]
    )
    state_schema = T.StructType([T.StructField("buf", T.StringType())])
    cols = [*partition_by, order_col, value_col]

    def fn(key, pdfs, state):
        import json as _json

        import numpy as np

        if state.exists:
            st = _json.loads(state.get[0])
        else:
            st = {"n": 0, "sum": 0, "m": 0, "min": 0}
        batch = pd.concat(list(pdfs), ignore_index=True)[cols]
        batch = batch.sort_values(order_col, kind="mergesort").reset_index(drop=True)
        x = batch[value_col].to_numpy(dtype="float64")
        k = len(x)
        run_n = st["n"] + np.arange(1, k + 1, dtype="float64")
        run_sum = float(st["sum"]) + np.cumsum(x)
        # HALF_UP (away from zero), matching Spark's F.round — np.rint
        # would round half-to-even and diverge on exact .5 nano ties
        raw = (x - run_sum / run_n - delta) * 1e9
        terms = (np.sign(raw) * np.floor(np.abs(raw) + 0.5)).astype("int64")
        m = st["m"] + np.cumsum(terms)
        mins = np.minimum.accumulate(np.concatenate(([st["min"]], m)))[1:]
        ph = (m - mins) / 1e9
        # HALF_UP again for the 6-decimal readout (ph is nano-exact, so
        # a .5 micro tie is reachable); alarm tests the UNROUNDED value
        batch["ph"] = np.floor(ph * 1e6 + 0.5) / 1e6  # ph >= 0 by construction
        batch["alarm"] = ph > lam
        state.update((
            _json.dumps({
                "n": int(st["n"] + k),
                "sum": int(st["sum"] + int(np.sum(x.astype("int64")))),
                "m": int(m[-1]) if k else st["m"],
                "min": int(mins[-1]) if k else st["min"],
            }),
        ))
        yield batch

    return sdf.groupBy(*partition_by).applyInPandasWithState(
        fn, out_schema, state_schema, "append", "NoTimeout"
    )
