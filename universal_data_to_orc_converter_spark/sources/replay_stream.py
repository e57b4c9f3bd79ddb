"""Python STREAMING data source (Spark 4 DataSource API).

``events_replay`` replays a parquet file as a rate-limited stream of
row-slices: offsets are plain row indices, each ``read`` returns at
most ``rows_per_batch`` rows, and ``readBetweenOffsets`` makes any
committed batch exactly replayable after restart — the full offset /
commit contract of a real broker source, implemented in ~40 lines of
Python and scheduled by Spark's own micro-batch engine.

Why this exists (SURVEY.md §2.A + §2.J): the reference's conversion
loop tails a directory for new dumps; a production feed is a stream
with offsets. This source demonstrates that a custom Python source
plugs straight into Structured Streaming — watermarks, state stores,
checkpoints and all — without any JVM code.

Scale posture: the driver-side reader hands out OFFSET RANGES, not
data; executors deserialize the rows of their slice only. For a
100 TB backlog the slice size bounds per-batch memory, and the
checkpoint makes reprocessing exactly-once. (A Kafka-class source
additionally partitions the offset space; this replay source is
single-partition by design — its job is API parity, not broker
parity; sources/sqldump.py shows byte-range planning on the batch
side.)
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

_COLS = ("event_id", "event_type", "value")


class _ReplayReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self.path = options["path"]
        self.n = int(options.get("rows_per_batch", "4000"))
        self._tbl = None

    def initialOffset(self) -> dict:
        return {"row": 0}

    def _table(self):
        # memoized per reader instance (r16): the Simple reader's
        # prefetch loop runs ON THE DRIVER and used to re-read the
        # whole parquet file once per micro-batch. A Simple reader
        # funnels every row through driver memory by design (see the
        # module docstring — its job is API parity; the partitioned
        # reader below is the scale shape), so holding the table
        # handle is the same memory class as reading it.
        if self._tbl is None:
            import pyarrow.parquet as pq

            self._tbl = pq.read_table(self.path, columns=list(_COLS))
        return self._tbl

    @staticmethod
    def _rows(sliced):
        # yield Arrow record batches, not pickled tuples (r16): the
        # Python DataSource API accepts either, and the Arrow path
        # skips the per-row to_pylist/pickle round (guide §4.1 — the
        # columns cross the boundary as buffers)
        if sliced.num_rows == 0:
            return iter([])
        return iter(sliced.combine_chunks().to_batches())

    def read(self, start: dict):
        t = self._table()
        lo = start["row"]
        hi = min(lo + self.n, t.num_rows)
        return self._rows(t.slice(lo, hi - lo)), {"row": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        # exact replay of a committed batch after restart
        t = self._table()
        return self._rows(t.slice(start["row"], end["row"] - start["row"]))


class EventsReplaySource(DataSource):
    """spark.readStream.format("events_replay")
    .option("path", ...).option("rows_per_batch", ...)"""

    @classmethod
    def name(cls) -> str:
        return "events_replay"

    def schema(self) -> str:
        return "event_id bigint, event_type string, value double"

    def simpleStreamReader(self, schema):  # noqa: ARG002
        return _ReplayReader(self.options)


def run_replay_until_drained(
    result_stream,
    total_rows: int,
    timeout_sec: int = 120,
):
    """Start ``result_stream`` (a streaming DataFrame over
    events_replay) into a complete-mode memory sink under the DEFAULT
    micro-batch trigger, poll source offsets until the replay reaches
    ``total_rows``, then stop gracefully. Returns the sink table.

    availableNow cannot be used here: for Simple Python stream readers
    Spark fixes the 'available' end at the first prefetched offset, so
    only one slice would drain. The default trigger + offset polling
    exercises the real continuous path, and the final complete-mode
    emission is batch-boundary-independent, so the result is
    deterministic for any timing."""
    import time
    import uuid

    spark = result_stream.sparkSession
    name = f"replay_{uuid.uuid4().hex[:8]}"
    with stream_partitions(spark):
        q = (
            result_stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", session_scratch("ckpt_rp_"))
            .start()
        )
    deadline = time.time() + timeout_sec
    try:
        while time.time() < deadline:
            if q.exception() is not None:
                # surface the real failure — without this a dead query
                # spins the full timeout and reports a misleading
                # TimeoutError while the source exception is discarded
                raise q.exception()
            p = q.lastProgress
            if p and p["sources"]:
                end = p["sources"][0]["endOffset"]
                if isinstance(end, str):
                    # Python source offsets surface in progress as the
                    # dict's repr (single quotes) — not JSON
                    import ast

                    end = ast.literal_eval(end)
                if end and end.get("row", 0) >= total_rows:
                    # the batch that consumed the final slice has
                    # committed; the complete-mode table is full
                    break
            # 50 ms poll (r16; was 300 ms): the granularity bounds how
            # long a DRAINED stream sits unnoticed — with ~3 slices
            # per replay the coarse poll added up to a second of pure
            # waiting. Progress polling is driver-local and free.
            time.sleep(0.05)
        else:
            raise TimeoutError("replay did not drain in time")
    finally:
        q.stop()
        q.awaitTermination(30)
    return spark.table(name)


from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from ..exprs import dsum, sql_dsum  # noqa: E402
from ..registry import query  # noqa: E402
from ..scratch import session_scratch  # noqa: E402
from ..streaming.runner import stream_partitions  # noqa: E402


@query(
    "op_stream_python_source",
    oracle=f"""
        SELECT event_type,
               COUNT(*) AS n_events,
               {sql_dsum("value", "sum_value")}
        FROM events
        GROUP BY event_type
    """,
    notes="Structured Streaming over a PYTHON data source: the "
    "events_replay source (module docstring above) replays the events "
    "fixture in corpus-scaled offset slices (max(4000, ceil(n/2)) "
    "rows; 2 micro-batches from sf0.01 up) under the default "
    "trigger; a complete-mode grouped aggregate is served once the "
    "offsets drain and must hash-match the batch oracle. This is the "
    "streaming half of the Spark-4 Python DataSource API (the "
    "eventdump writer covers batch write): offsets, prefetch, commit, and "
    "exact readBetweenOffsets replay all exercised through a "
    "user-defined source with zero JVM code. The final complete-mode "
    "emission is batch-boundary-independent, so the result is "
    "deterministic for any micro-batch timing.",
    tags=("streaming", "io"),
)
def op_stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events through the Python streaming source; aggregate."""
    import os

    # (re-)register the source on this session; idempotent
    spark.dataSource.register(EventsReplaySource)
    path = os.path.join(sf_dir, "events.parquet")
    # footer metadata, not a Spark scan: free, and immune to the
    # TIMESTAMP(NANOS) schema-probe crash a fresh session would hit
    # on nanos-era fixtures (this op never reads ts at all)
    import pyarrow.parquet as pq

    total = pq.ParquetFile(path).metadata.num_rows
    # slice size scales with the corpus so the replay is always two
    # micro-batches from sf0.01 up (r16 — was ~8: each micro-batch
    # costs a full plan + state-store commit round over KB-scale
    # state, ~1.1 s warm, so fewer, larger slices win and the result
    # is batch-boundary-independent anyway, complete mode). Two
    # batches keep the offset/commit path the op exists to exercise
    # exercised; ceiling division, because a floor leaves a 1-row
    # trailing slice costing a full micro-batch round (measured).
    per_batch = max(4000, -(-total // 2))
    stream = (
        spark.readStream.format("events_replay")
        .option("path", path)
        .option("rows_per_batch", str(per_batch))
        .load()
    )
    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("n_events"), dsum(F.col("value"), "sum_value")
    )
    return run_replay_until_drained(agg, total).select(
        "event_type", "n_events", "sum_value"
    )


class _SliceParts(InputPartition):
    def __init__(self, path: str, lo: int, hi: int):
        self.path = path
        self.lo = lo
        self.hi = hi


class _PartitionedReplayReader(DataSourceStreamReader):
    """Full (non-Simple) stream reader: the driver plans OFFSET RANGES
    and splits each micro-batch into ``n_parts`` InputPartitions whose
    rows are deserialized ON THE EXECUTORS in parallel — the
    scale-correct layout (the Simple reader above funnels every row
    through the driver's prefetch loop). latestOffset advances by
    ``rows_per_batch`` per trigger so one batch = one bounded slice."""

    def __init__(self, options: dict):
        self.path = options["path"]
        self.n = int(options.get("rows_per_batch", "4000"))
        self.n_parts = int(options.get("parts_per_batch", "4"))
        import pyarrow.parquet as pq

        self.total = pq.ParquetFile(self.path).metadata.num_rows

    def initialOffset(self) -> dict:
        return {"row": 0}

    def latestOffset(self) -> dict:
        # advance one bounded slice per micro-batch. The cursor is
        # driver-memory state, so a CHECKPOINT RESTART constructs a
        # fresh reader with _cur=0 — returning an offset BEHIND the
        # committed start would silently re-deliver rows (the
        # exactly-once break a review caught). partitions() and
        # commit() therefore fast-forward the cursor past every
        # engine-provided offset they see (recovery replays the last
        # planned batch through partitions() before new planning, so
        # the cursor has caught up by the time this runs again).
        cur = getattr(self, "_cur", 0)
        nxt = min(cur + self.n, self.total)
        self._cur = nxt
        return {"row": nxt}

    def partitions(self, start: dict, end: dict):
        # fast-forward past engine-known offsets (restart recovery)
        self._cur = max(
            getattr(self, "_cur", 0), start["row"], end["row"]
        )
        lo, hi = start["row"], end["row"]
        if hi <= lo:
            return [_SliceParts(self.path, lo, lo)]
        step = max(1, (hi - lo) // self.n_parts)
        bounds = list(range(lo, hi, step)) + [hi]
        return [
            _SliceParts(self.path, a, b)
            for a, b in zip(bounds, bounds[1:])
            if b > a
        ]

    def read(self, partition: _SliceParts):
        # runs on the EXECUTOR: deserialize only this partition's rows
        import pyarrow.parquet as pq

        t = pq.read_table(partition.path, columns=list(_COLS))
        sl = t.slice(partition.lo, partition.hi - partition.lo)
        return iter(list(zip(*(sl.column(c).to_pylist() for c in _COLS))))

    def commit(self, end: dict) -> None:
        # part of the restart fast-forward contract (see latestOffset)
        self._cur = max(getattr(self, "_cur", 0), end["row"])


class EventsReplayParSource(DataSource):
    """Partitioned variant: spark.readStream
    .format("events_replay_par")."""

    @classmethod
    def name(cls) -> str:
        return "events_replay_par"

    def schema(self) -> str:
        return "event_id bigint, event_type string, value double"

    def streamReader(self, schema):  # noqa: ARG002
        return _PartitionedReplayReader(self.options)
