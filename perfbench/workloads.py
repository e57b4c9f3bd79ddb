"""The benchmark workloads.

Each is a closed loop with one client: the driver thread issues the
next call only after the previous one returned. A workload has

* ``prepare(spark)``: make its inputs (timed as part of set-up);
* ``op(phase)``: one operation — a ``convert_*`` call per source, or
  one pass over the eight headline queries — returning the wall time of
  each part (source or query);
* ``queries(rounds)``: what runs on the output of the last
  operation — ``rounds`` of the README's filtered read-back of each
  converted table, or nothing;
* ``check()``: the output checks of the last operation.

The expected values the checks compare against are computed in
``prepare`` from the generated tables, in Python, not by Spark.

A failed check is recorded in ``self.failures`` and counts against
``error_rate``; it never stops the run.
"""

from __future__ import annotations

import glob
import os
import time
import zlib

import numpy as np
from pyspark.sql import functions as F

import gen

#: read-back predicate column ranges: the seed picks a constant in each
#: (whole cents or half units, so no source value equals it)
_PREDICATES = {
    "customer": (0, 5_000, 0.005),
    "orders": (100_000, 300_000, 0.005),
    "lineitem": (10, 40, 0.5),
}


def _checksum(cols):
    """Order-independent checksum in Spark: the sum over rows of the
    CRC-32 of ``cols`` cast to string and joined by ``|``."""
    joined = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
    return F.sum(F.crc32(joined.cast("binary")))


def expected_checksum(table, cols, mask=None) -> tuple[int, int]:
    """(rows, checksum) of ``_checksum`` computed in Python from the
    generated table — independent of Spark."""
    vals = [table.column(c).cast("string").to_pylist() for c in cols]
    rows = zip(*vals)
    if mask is not None:
        rows = (r for r, keep in zip(rows, mask) if keep)
    n = total = 0
    for r in rows:
        n += 1
        total += zlib.crc32("|".join(r).encode())
    return n, total


def orc_bytes(path: str) -> tuple[int, int]:
    """(part files, bytes) of an ORC table directory."""
    files = glob.glob(os.path.join(path, "*.orc"))
    return len(files), sum(os.path.getsize(f) for f in files)


class Workload:
    name = ""
    #: rows of input one operation converts or reads
    source_rows = 0
    #: untimed operations between the cold one and the measured ones,
    #: while the JIT is still compiling the hot paths
    warmup_ops = 1
    #: rounds of ``queries`` after each warm-up operation (untimed) and
    #: after the last measured operation (timed)
    warmup_readback_rounds = 0
    readback_rounds = 0

    def __init__(self, mods, work: str, seed: int, scale: dict) -> None:
        self.m = mods
        self.work = work
        self.seed = seed
        self.scale = scale
        self.failures: list[str] = []
        self.attempted = 0
        #: a ``spans.Tracer`` while spans are recorded, else None
        self.tracer = None

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def spanned(self, name: str, fn, *args):
        if self.tracer is None:
            return fn(*args)
        return self.tracer.span(name, fn, *args)


class Source:
    """One converter path: makes its source from the generated tables
    and converts it with one ``convert_*`` call."""

    name = ""
    converter = ""
    tables: tuple[str, ...] = gen.CONVERTED
    #: bytes of the source file(s), 0 when the source is not a file
    source_bytes = 0


class CsvSource(Source):
    name, converter = "csv", "convert_csv"

    def make(self, wl) -> None:
        self.path = os.path.join(wl.work, "csv")
        self.source_bytes = gen.write_csv(wl.tables_pa, self.path)

    def convert(self, wl, out):
        return wl.m.converter.convert_csv(
            wl.spark, self.path, out, infer_schema=True, report=wl.report)


class DumpSource(Source):
    name, converter = "dump", "convert_sql_dump"
    tables = gen.DUMPED

    def make(self, wl) -> None:
        self.path = os.path.join(wl.work, "dump.sql")
        self.source_bytes = gen.write_dump(wl.tables_pa, self.path, wl.seed)

    def convert(self, wl, out):
        return wl.m.converter.convert_sql_dump(wl.spark, self.path, out,
                                               report=wl.report)


class JdbcSource(Source):
    """Embedded Derby, exported unpartitioned: ``partition_columns``
    fails on Derby (NOTES.md, known defect), so each table is one JDBC
    scan partition."""

    name, converter = "jdbc", "convert_mysql"

    def make(self, wl) -> None:
        db = os.path.join(wl.work, "derby")
        self.cfg = wl.m.jdbc.DerbyConfig(db)
        gen.load_derby(wl.spark.sparkContext._jvm,
                       wl.m.jdbc.DerbyConfig(db, create=True).url,
                       {t: wl.tables_pa[t] for t in self.tables},
                       os.path.join(wl.work, "derby-import"))

    def convert(self, wl, out):
        return wl.m.converter.convert_mysql(wl.spark, self.cfg, out,
                                            report=wl.report)


class Conversion(Workload):
    """Each source → ORC directory per table (one ``convert_*`` call per
    source makes one operation), then a filtered read-back of every
    table."""

    sources: tuple[type[Source], ...] = ()
    #: the ``gen.SCALES`` entry sizing the sources
    scale_key = "conv"
    #: Read-back rounds: untimed after each warm-up conversion, timed on
    #: the output of the last measured conversion. A read-back takes
    #: ~0.2 s and speeds up over its first three reads (round sums 1.88,
    #: 1.69, 1.39, then 1.22–1.56 s on csv_jdbc); the timed rounds follow
    #: two warm rounds and the final ``check()``, which reads every table
    warmup_readback_rounds = 2
    readback_rounds = 4

    def prepare(self, spark) -> None:
        self.spark = spark
        self.src = [cls() for cls in self.sources]
        self.tables_pa = gen.make_tables(self.seed, self.scale[self.scale_key],
                                         comments=True)
        for src in self.src:
            src.make(self)
        self.source_rows = sum(self.tables_pa[t].num_rows
                               for src in self.src for t in src.tables)
        rng = np.random.default_rng(self.seed + 2)
        self.pred = {t: float(rng.integers(lo, hi)) + off
                     for t, (lo, hi, off) in _PREDICATES.items()}
        self.expected = {}
        for t in {t for src in self.src for t in src.tables}:
            keys, num = gen.CHECK_COLUMNS[t]
            tbl = self.tables_pa[t]
            hit = tbl.column(num).to_numpy() > self.pred[t]
            self.expected[t] = (expected_checksum(tbl, keys),
                                expected_checksum(tbl, keys, hit))
        #: output directory per "<source>.<table>", from the last operation
        self.written: dict[str, str] = {}
        self.rows_returned: dict[str, int] = {}

    def report(self, _msg: str) -> None:
        """The ``report`` callback every conversion passes, as the CLI
        does by default; passing one adds the progress poller and the
        row-count ``Observation`` to each table's write."""

    def rows(self, src: Source) -> int:
        return sum(self.tables_pa[t].num_rows for t in src.tables)

    def op(self, phase: str) -> dict[str, float] | None:
        """One conversion per source; wall time per source, or None if
        a conversion raised."""
        parts = {}
        for src in self.src:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                written = self.spanned(f"converter.{src.converter}", src.convert,
                                       self, os.path.join(self.work, "orc", src.name))
            except Exception as e:  # a failed conversion counts, the run goes on
                self.fail(f"{src.converter}: {type(e).__name__}: {e}"[:300])
                return None
            parts[src.name] = time.perf_counter() - t0
            # Derby reports its table names upper-case
            self.written.update({f"{src.name}.{k.lower()}": v for k, v in written.items()})
        return parts

    def queries(self, rounds: int) -> dict[str, list[float]]:
        """``rounds`` rounds of the README read-back of every converted
        table: ``read_orc(dir).filter(<numeric col> > c)`` executed in
        full (every column read), its result checked against the
        source."""
        times: dict[str, list[float]] = {}
        for key, path in [kv for _ in range(rounds) for kv in self.written.items()]:
            t = key.split(".", 1)[1]
            keys, num = gen.CHECK_COLUMNS[t]

            def read_back():
                df = self.m.orc.read_orc(self.spark, path)
                df = df.filter(F.col(num) > F.lit(self.pred[t]))
                return df.agg(F.count(F.lit(1)), _checksum(keys),
                              F.sum(F.crc32(F.concat_ws("|", *df.columns)
                                            .cast("binary")))).collect()[0]

            self.attempted += 1
            t0 = time.perf_counter()
            try:
                row = self.spanned(f"readback.{key}", read_back)
            except Exception as e:  # a failed read counts, the run goes on
                self.fail(f"read-back {key}: {type(e).__name__}: {e}"[:300])
                continue
            times.setdefault(key, []).append(time.perf_counter() - t0)
            self.rows_returned[key] = row[0]
            if tuple(row[:2]) != self.expected[t][1]:
                self.fail(f"read-back {key}: {tuple(row[:2])} != {self.expected[t][1]}")
        return times

    def check(self) -> None:
        """Row count and key/text checksum of every converted table
        match the generated source."""
        for src in self.src:
            for t in src.tables:
                keys, _ = gen.CHECK_COLUMNS[t]
                path = self.written.get(f"{src.name}.{t}")
                if path is None:
                    self.fail(f"{src.converter} {t}: no output")
                    continue
                row = self.spark.read.orc(path).agg(
                    F.count(F.lit(1)), _checksum(keys)).collect()[0]
                if tuple(row) != self.expected[t][0]:
                    self.fail(f"{src.converter} {t}: {tuple(row)} != {self.expected[t][0]}")

    def output_stats(self) -> tuple[int, int]:
        """(part files, bytes) of every table the last operation wrote."""
        files = size = 0
        for path in self.written.values():
            f, b = orc_bytes(path)
            files, size = files + f, size + b
        return files, size


class CsvJdbcToOrc(Conversion):
    """The JVM-bound sources: Spark's CSV reader with its inference pass,
    and the JDBC reader, both feeding the ORC writer."""

    name = "csv_jdbc_to_orc"
    sources = (CsvSource, JdbcSource)


class DumpToOrc(Conversion):
    """The driver-side Python dump parser."""

    name = "dump_to_orc"
    sources = (DumpSource,)
    scale_key = "dump"
    #: two tables only: more rounds for a comparable sample
    readback_rounds = 6


class AnalyticHeadline(Workload):
    """The eight headline queries of ``bench.py`` through the noop sink.
    The operation is one pass over all eight; the cold pass collects
    each result instead, so the outputs can be checked."""

    name = "analytic_headline"
    #: a pass is many small jobs, and Catalyst's planning paths keep
    #: getting faster for ~8 passes after the cold one (3.6, 3.3, 3.1,
    #: 3.0, 3.0, 2.8, 2.5, 2.4, 2.4, 2.6 s on 4 vCPUs); two passes take
    #: off the steepest part, more do not fit the round's time budget
    warmup_ops = 2

    def prepare(self, spark) -> None:
        self.spark = spark
        self.sf_dir = os.path.join(self.work, "sf")
        self.tables_pa = gen.make_tables(self.seed, self.scale["query"], comments=False)
        gen.write_parquet(self.tables_pa, self.sf_dir)
        self.source_rows = sum(t.num_rows for t in self.tables_pa.values())
        specs = self.m.registry.load_all_queries()
        self.fns = {n: specs[n].fn for n in self.m.headline}
        self.expect()

    def expect(self) -> None:
        """Exact answers for three of the queries, from the generated
        tables (numpy, independent of Spark)."""
        docs = self.tables_pa["documents"].to_pydict()
        stats: dict[str, list[int]] = {}
        for lang, n in zip(docs["lang"], docs["n_chars"]):
            s = stats.setdefault(lang, [0, 0])
            s[0] += 1
            s[1] += n
        li = self.tables_pa["lineitem"]
        flags = np.char.add(li.column("l_returnflag").to_numpy(zero_copy_only=False).astype(str),
                            li.column("l_linestatus").to_numpy(zero_copy_only=False).astype(str))
        shipped = li.column("l_shipdate").to_numpy() <= np.datetime64("2001-09-02")
        keys, counts = np.unique(flags[shipped], return_counts=True)
        od = self.tables_pa["orders"].column("o_orderdate").to_numpy()
        in_window = ((od >= np.datetime64("1996-01-01")) & (od < np.datetime64("1998-01-01")))
        self.expected = {
            "op_text_stats": {k: tuple(v) for k, v in stats.items()},
            "op_agg_groupby": dict(zip(keys.tolist(), counts.tolist())),
            "flagship_revenue_by_nation": 4 * int(in_window.sum()),
        }

    def _checked(self, name: str, rows) -> None:
        if not rows:
            self.fail(f"{name}: empty result")
        elif name == "op_text_stats":
            got = {r["lang"]: (r["n_docs"], r["total_chars"]) for r in rows}
            if got != self.expected[name]:
                self.fail(f"{name}: {got} != {self.expected[name]}")
        elif name == "op_agg_groupby":
            got = {r["l_returnflag"] + r["l_linestatus"]: r["count_order"] for r in rows}
            if got != self.expected[name]:
                self.fail(f"{name}: {got} != {self.expected[name]}")
        elif name == "flagship_revenue_by_nation":
            got = sum(r["n_items"] for r in rows)
            if got != self.expected[name]:
                self.fail(f"{name}: {got} != {self.expected[name]}")

    def run_query(self, name: str, cold: bool) -> float:
        """Construction (``fn()``, with any jobs it issues), planning and
        execution, each in its own span when traced. Planning is forced
        only when traced; untraced, it happens inside execution."""
        t0 = time.perf_counter()
        df = self.spanned(f"query.{name}.construct", self.fns[name],
                          self.spark, self.sf_dir)
        if self.tracer is not None:
            self.spanned(f"query.{name}.plan",
                         lambda: df._jdf.queryExecution().executedPlan())
        if cold:
            rows = self.spanned(f"query.{name}.exec", df.collect)
        else:
            self.spanned(f"query.{name}.exec",
                         lambda: df.write.mode("overwrite").format("noop").save())
        dt = time.perf_counter() - t0
        if cold:
            self._checked(name, rows)
        return dt

    def op(self, phase: str) -> dict[str, float] | None:
        """One pass; wall time per query, or None if a query raised."""
        parts = {}
        for name in self.fns:
            self.attempted += 1
            try:
                parts[name] = self.spanned(f"query.{name}", self.run_query, name,
                                           phase == "cold")
            except Exception as e:  # a failed query counts, the pass goes on
                self.fail(f"{name}: {type(e).__name__}: {e}"[:300])
        return parts if len(parts) == len(self.fns) else None

    def queries(self, rounds: int) -> dict[str, list[float]]:
        return {}

    def check(self) -> None:
        """Checked on the cold pass, which collects every result."""


WORKLOADS = {w.name: w for w in (CsvJdbcToOrc, DumpToOrc, AnalyticHeadline)}
