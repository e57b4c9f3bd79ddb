"""Python batch DataSource WRITER (Spark 4 DataSource API) — the
write side of the Python data-source surface (replay_stream.py covers
streaming read): batch WRITE with a real two-phase commit.

``eventdump`` writes a DataFrame as line-oriented text dumps using the
task-temp + driver-commit protocol every distributed writer needs:

* each TASK (executor-side ``write``) serializes its partition to
  ``<path>/_tmp/<uuid>.part`` and returns a ``WriterCommitMessage``
  carrying the temp name and its row count — no task publishes
  directly to the final location;
* the DRIVER's ``commit`` renames every acknowledged part into place
  (``part-<job>-<i>.dump`` — the per-job id keeps successive append
  jobs' name sets disjoint) and writes a ``_SUCCESS`` manifest: the
  destination's total row count on line 1 followed by a per-part
  ``name<TAB>rows`` ledger, rebuilt each commit against the parts
  actually on disk (a prior crash between rename and manifest write
  can't make the total drift) — an atomic publish: a failed or
  speculative task attempt's file is simply never renamed. The
  ``overwrite`` save-mode flag is honored: overwrite clears prior
  parts before publishing, append keeps them;
* ``abort`` removes the temp dir, leaving the destination untouched.

This is the same job-commit design as Spark's own
HadoopMapReduceCommitProtocol (v1: task temp → driver rename),
re-expressed through the Python API. At 100 TB the rename-per-part
driver loop is the known v1 trade-off (object stores prefer v2 /
manifest commits); the protocol seam — WriterCommitMessage — is
deliberately where that swap happens, and the manifest written here
is exactly the v2-style artifact.

Reference parity: the reference emits one dump file per table from a
single process (data_to_orc_converter.sh conversion loop); this writer
is the distributed, crash-safe version of that emission.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)


@dataclass
class _PartCommit(WriterCommitMessage):
    tmp_name: str = ""
    rows: int = 0


class _EventDumpWriter(DataSourceWriter):
    def __init__(self, options: dict, overwrite: bool):
        import uuid

        self.path = options["path"]
        self.overwrite = overwrite
        # per-job id embedded in the published part names: two append
        # jobs to the same path publish disjoint name sets instead of
        # the second silently clobbering the first's part-00000...
        # (r5 advice)
        self.job_id = uuid.uuid4().hex[:8]

    def write(self, iterator) -> _PartCommit:
        # runs on the EXECUTOR: serialize this partition to a task-temp
        # file; nothing becomes visible until the driver commits
        import uuid

        tmp_dir = os.path.join(self.path, "_tmp")
        os.makedirs(tmp_dir, exist_ok=True)
        name = f"{uuid.uuid4().hex}.part"

        def cell(v) -> str:
            # RFC-4180-style quoting: a value containing the
            # delimiter, a quote, or a newline is wrapped in double
            # quotes with inner quotes doubled — without this a
            # string value like 'a;b' silently shifted every
            # subsequent column on read-back (review finding)
            t = "" if v is None else str(v)
            if any(c in t for c in ';"\n\r'):
                return '"' + t.replace('"', '""') + '"'
            return t

        n = 0
        with open(os.path.join(tmp_dir, name), "w") as f:
            for row in iterator:
                f.write(";".join(cell(v) for v in row) + "\n")
                n += 1
        return _PartCommit(tmp_name=name, rows=n)

    def commit(self, messages) -> None:
        # runs on the DRIVER: atomic publish of acknowledged parts only
        import glob
        import shutil

        tmp_dir = os.path.join(self.path, "_tmp")
        if self.overwrite:
            # SaveMode.Overwrite: clear previously published parts
            # before publishing this job's (v1-commit semantics: the
            # clear+rename window is the known non-atomic trade-off)
            for old in glob.glob(os.path.join(self.path, "part-*.dump")):
                os.remove(old)
        # manifest = per-part ledger (`name<TAB>rows`, total on line 1)
        # rebuilt against the DESTINATION'S ACTUAL PARTS, not trusted
        # blindly: a prior job that crashed after renaming parts but
        # before writing _SUCCESS leaves ledger-less parts, and a
        # deleted part leaves a dangling entry — seeding the running
        # total from the stale manifest would drift from the real
        # contents (r6 advice). Known parts keep their recorded counts
        # (metadata-only); only crash orphans — normally none — pay a
        # line-count read.
        ledger: dict[str, int] = {}
        success = os.path.join(self.path, "_SUCCESS")
        if not self.overwrite and os.path.exists(success):
            with open(success) as f:
                for line in f.read().splitlines()[1:]:
                    name, _, rows = line.partition("\t")
                    ledger[name] = int(rows)
        published = {
            os.path.basename(p)
            for p in glob.glob(os.path.join(self.path, "part-*.dump"))
        }
        ledger = {n: r for n, r in ledger.items() if n in published}
        for orphan in sorted(published - ledger.keys()):
            # count RECORDS, not physical lines: a quoted value with an
            # embedded newline spans two lines but is one record, and
            # the crash path is exactly where the rebuilt total must
            # not drift (r7 advice)
            import csv

            with open(os.path.join(self.path, orphan), newline="") as f:
                ledger[orphan] = sum(
                    1 for _ in csv.reader(f, delimiter=";", quotechar='"')
                )
        for i, m in enumerate(messages):
            name = f"part-{self.job_id}-{i:05d}.dump"
            os.replace(
                os.path.join(tmp_dir, m.tmp_name),
                os.path.join(self.path, name),
            )
            ledger[name] = m.rows
        with open(success, "w") as f:
            f.write(str(sum(ledger.values())) + "\n")
            for name in sorted(ledger):
                f.write(f"{name}\t{ledger[name]}\n")
        shutil.rmtree(tmp_dir, ignore_errors=True)

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(os.path.join(self.path, "_tmp"), ignore_errors=True)


class EventDumpSink(DataSource):
    """df.write.format("eventdump").option("path", ...).save()"""

    @classmethod
    def name(cls) -> str:
        return "eventdump"

    def writer(self, schema, overwrite: bool):  # noqa: ARG002
        return _EventDumpWriter(self.options, overwrite)


from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from ..exprs import dsum, sql_dsum  # noqa: E402
from ..registry import query  # noqa: E402
from ..streaming.runner import stream_partitions  # noqa: E402
from ..scratch import session_scratch  # noqa: E402


@query(
    "op_python_datasource_writer",
    oracle=f"""
        SELECT event_type,
               COUNT(*) AS n_events,
               {sql_dsum("value", "sum_value")}
        FROM events
        GROUP BY event_type
    """,
    notes="Batch WRITE through a user-defined PYTHON data source with "
    "a real two-phase commit (module docstring): every partition "
    "serializes executor-side to a task-temp file, the driver commit "
    "atomically renames acknowledged parts and writes a _SUCCESS "
    "manifest, abort leaves the destination untouched — the "
    "HadoopMapReduceCommitProtocol design through the Spark 4 Python "
    "writer API (events_replay covers streaming read). The query "
    "writes events "
    "through the sink, reads the dumps back (schema-applied CSV "
    "read over part-*.dump), and the aggregate must hash-match the "
    "original table's oracle — no row lost or duplicated by the "
    "distributed write. The manifest count and part/temp hygiene are "
    "separately asserted in tests/test_eventdump_writer.py.",
    tags=("io", "scale"),
)
def op_python_datasource_writer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """events -> Python-DataSource dump write -> read back ->
    aggregate (must equal the source table)."""

    from ..catalog import load

    spark.dataSource.register(EventDumpSink)
    out = session_scratch("eventdump_")
    e = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    (
        e.repartition(4)
        .write.format("eventdump")
        .option("path", out)
        .mode("append")
        .save()
    )
    back = (
        spark.read.schema("event_id bigint, event_type string, value double")
        .option("sep", ";")
        .option("quote", '"')
        .option("escape", '"')
        # the writer RFC-4180-quotes embedded newlines; without
        # multiLine a quoted value containing \n would be split across
        # CSV records (fixture-masked: event_type has no newlines)
        .option("multiLine", "true")
        .csv(os.path.join(out, "part-*.dump"))
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"), dsum(F.col("value"), "sum_value")
    )


class _EventDumpStreamWriter(DataSourceStreamWriter):
    """Streaming variant: same task-temp/driver-rename protocol, but
    the commit is PER EPOCH and IDEMPOTENT — ``commit(messages,
    batchId)`` first consults the ``_COMMITS`` log and becomes a no-op
    for an already-committed epoch, which is exactly what makes a
    replayed micro-batch (checkpoint recovery re-delivers the epoch
    whose commit never landed) safe: the rerun's temp files are
    discarded, not double-published. This is the sink-side half of
    Structured Streaming's exactly-once story, implemented through
    the Spark 4 Python DataSourceStreamWriter API."""

    def __init__(self, options: dict):
        self.path = options["path"]

    # executor-side: identical to the batch writer
    write = _EventDumpWriter.write

    def _committed(self) -> set[int]:
        log = os.path.join(self.path, "_COMMITS")
        if not os.path.exists(log):
            return set()
        with open(log) as f:
            return {int(line.split(",")[0]) for line in f if line.strip()}

    def commit(self, messages, batchId: int) -> None:
        import shutil

        tmp_dir = os.path.join(self.path, "_tmp")
        if batchId in self._committed():
            # replayed epoch: the previous commit already published it
            shutil.rmtree(tmp_dir, ignore_errors=True)
            return
        total = 0
        for i, m in enumerate(messages):
            if m is None:
                continue
            os.replace(
                os.path.join(tmp_dir, m.tmp_name),
                os.path.join(self.path, f"part-{batchId:05d}-{i:05d}.dump"),
            )
            total += m.rows
        with open(os.path.join(self.path, "_COMMITS"), "a") as f:
            f.write(f"{batchId},{total}\n")
        shutil.rmtree(tmp_dir, ignore_errors=True)

    def abort(self, messages, batchId: int) -> None:  # noqa: ARG002
        import shutil

        shutil.rmtree(os.path.join(self.path, "_tmp"), ignore_errors=True)


def _stream_writer(self, schema, overwrite):  # noqa: ARG001
    return _EventDumpStreamWriter(self.options)


EventDumpSink.streamWriter = _stream_writer


@query(
    "op_stream_python_sink",
    oracle=f"""
        SELECT event_type,
               COUNT(*) AS n_events,
               {sql_dsum("value", "sum_value")}
        FROM events
        GROUP BY event_type
    """,
    notes="Structured Streaming INTO a user-defined Python sink — the "
    "last leg of the Python DataSource surface (stream read: "
    "events_replay; batch write: op_python_datasource_writer; this "
    "op: stream write). The events "
    "fixture is re-sharded into 4 files and streamed "
    "maxFilesPerTrigger=1 into the eventdump sink under availableNow, "
    "so the per-EPOCH two-phase commit runs 4 times (task temp files "
    "-> driver rename + _COMMITS log append; an already-logged epoch "
    "is a no-op, making checkpoint-recovery replays exactly-once — "
    "idempotence unit-tested in tests/test_eventdump_writer.py). The "
    "committed dumps read back and aggregate to the batch oracle: no "
    "row lost or duplicated across epoch boundaries.",
    tags=("streaming", "io", "scale"),
)
def op_stream_python_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events stream -> Python streaming sink (4 epochs) -> read back
    -> aggregate (must equal the batch table)."""

    from ..catalog import load

    spark.dataSource.register(EventDumpSink)
    work = session_scratch("eventdump_s_")
    src = os.path.join(work, "src")
    out = os.path.join(work, "out")
    os.makedirs(out, exist_ok=True)

    e = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    e.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    with stream_partitions(spark):
        q = (
            stream.writeStream.format("eventdump")
            .option("path", out)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination(180)

    back = (
        spark.read.schema("event_id bigint, event_type string, value double")
        .option("sep", ";")
        .option("quote", '"')
        .option("escape", '"')
        # same embedded-newline guard as the batch read-back above
        .option("multiLine", "true")
        .csv(os.path.join(out, "part-*.dump"))
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"), dsum(F.col("value"), "sum_value")
    )
