"""StreamProcessing — the job-lifecycle facade.

ref sp/StreamProcessing.java:15-138: starts the sources, runs the user's
Compute loop on N threads until every source is finished (+33 s grace)
or a thread errors (global stop, :27-34). On Spark the "compute loop"
is a streaming query: sources/threading/retries belong to the engine,
and the user supplies either a declarative DataFrame pipeline or a
`foreachBatch` callback (the per-micro-batch analog of Compute.compute).

Thread count → shuffle partitions / executor cores; finish detection →
`trigger(availableNow=True)` for bounded replays or `awaitTermination`;
global error propagation → query exception surfaced on await/stop.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from table_computing_spark.session import scratch_dir


class StreamProcessing:
    """Run micro-batch pipelines with reference-shaped lifecycle.

    compute(sdf, fn)     — foreachBatch: fn(batch_df, batch_id), the
                           Compute.compute(i) analog (per micro-batch
                           instead of per thread-iteration).
    sink(sdf, ...)       — declarative writeStream passthrough.
    await_all/stop_all   — StreamProcessing run/stop (:56-75,:111-138).
    """

    def __init__(self, checkpoint_root: str | None = None, bounded: bool = False):
        self._checkpoint_root = checkpoint_root or scratch_dir("tc_ckpt_")
        self._bounded = bounded  # availableNow: drain sources then finish
        self._queries: list[StreamingQuery] = []
        self._n = 0

    def _ckpt(self) -> str:
        self._n += 1
        return f"{self._checkpoint_root}/q{self._n}"

    def compute(
        self,
        sdf: DataFrame,
        fn: Callable[[DataFrame, int], None],
        output_mode: str = "update",
    ) -> StreamingQuery:
        writer = (
            sdf.writeStream.foreachBatch(fn)
            .outputMode(output_mode)
            .option("checkpointLocation", self._ckpt())
        )
        if self._bounded:
            writer = writer.trigger(availableNow=True)
        q = writer.start()
        self._queries.append(q)
        return q

    def sink(
        self,
        sdf: DataFrame,
        fmt: str,
        path: str | None = None,
        output_mode: str = "append",
        **options: str,
    ) -> StreamingQuery:
        writer = (
            sdf.writeStream.format(fmt)
            .outputMode(output_mode)
            .option("checkpointLocation", self._ckpt())
        )
        for k, v in options.items():
            writer = writer.option(k, v)
        if path is not None:
            writer = writer.option("path", path)
        if self._bounded:
            writer = writer.trigger(availableNow=True)
        q = writer.start()
        self._queries.append(q)
        return q

    def top_n(
        self,
        windowed: DataFrame,
        partition_by: list[str],
        order_by: list,
        n: int,
        sink: Callable[[DataFrame, int], None],
        rank_col: str = "rank",
    ) -> StreamingQuery:
        """Two-stage streaming top-N (the Top100Test pipeline tail,
        SURVEY §7.2 M3): a streaming windowed aggregate feeds a
        per-micro-batch ranking — window functions aren't allowed on
        unbounded streams, but each batch of aggregate UPDATES is tiny,
        so ranking runs complete-mode per trigger and `sink` receives
        the current top-N table."""
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window as W

        def rank_and_emit(batch_df: DataFrame, batch_id: int) -> None:
            w = W.partitionBy(*partition_by).orderBy(*order_by)
            ranked = batch_df.withColumn(rank_col, F.row_number().over(w)).filter(
                F.col(rank_col) <= n
            )
            sink(ranked, batch_id)

        return self.compute(windowed, rank_and_emit, output_mode="complete")

    def await_all(self, timeout_s: float | None = None) -> None:
        """Block until every query finishes; re-raises the first query
        error (ref global-error stop :27-34). A query still running after
        `timeout_s` stops every query and raises TimeoutError."""
        for q in self._queries:
            finished = q.awaitTermination(timeout_s)  # None without a timeout
            if timeout_s is not None and not finished:
                self.stop_all()
                raise TimeoutError(f"streaming query did not finish within {timeout_s}s")
            if q.exception() is not None:
                raise q.exception()

    def stop_all(self) -> None:
        for q in self._queries:
            if q.isActive:
                q.stop()
