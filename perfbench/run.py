"""Conversion benchmark: CSV, SQL dump and JDBC → ORC → filtered
read-back, beside the eight-query analytic headline.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload dump_to_orc --seed 1 --seconds 1 --trace 0

Workloads: csv_jdbc_to_orc, dump_to_orc, analytic_headline (see
NOTES.md). Inputs are generated from ``--seed`` under
``.perfbench_work/`` in the checkout and removed at the end. The last
line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it is a report with the same run's diagnostics (host stamp, sample
counts, tail percentiles, error rate). ``--trace 1`` also writes every
span and per-layer metric to ``.perfbench_out/``.

``--scale smoke`` runs the small inputs ``smoke.py`` uses.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from statistics import median
from types import SimpleNamespace

import gen
import spans
from workloads import WORKLOADS, orc_bytes

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: measured operations even when they outlast ``--seconds``. At bench
#: scale every operation takes over a second, so with ``--seconds 1``
#: each run measures exactly this many: a count that varied with the
#: host's speed would mix medians of two and of three samples, and the
#: first measured sample is the slowest.
MIN_OPS = 2
#: measured operations of a traced run: two traced/untraced pairs in
#: opposite orders, so a steady speed-up cancels out of the overhead
MIN_TRACED_OPS = 4

#: gated end-to-end metrics, printed with --trace 0: name -> unit
END_TO_END = {
    "setup_s": "s",
    "cold_op_s": "s",
    "op_rows_per_s": "rows/s",
    "query_total_s": "s",
    "driver_py_peak_rss_mb": "MiB",
}

_QUERY_METRICS = (
    ("construct_s", "s"), ("plan_s", "s"), ("exec_s", "s"), ("jobs", "count"),
    ("stages", "count"), ("tasks", "count"), ("cpu_s", "s"),
    ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
)

#: per-layer metrics, printed with --trace 1: (name, unit, span read)
LAYER_METRICS = [
    ("session.start_s", "s", "session.get_spark"),
    ("sqldump.parse_s", "s", "sources.sqldump.parse_dump"),
    ("sqldump.parse_rows_per_s", "rows/s", "sources.sqldump.parse_dump"),
    ("csv.read_s", "s", "sources.csv.read_csv"),
    ("csv.read_jobs", "count", "sources.csv.read_csv"),
    ("csv.read_bytes", "bytes", "sources.csv.read_csv"),
    ("jdbc.list_s", "s", "sources.jdbc.list_tables"),
    ("jdbc.read_s", "s", "sources.jdbc.read_table"),
    ("jdbc.scan_tasks", "count", "sinks.orc.write_orc"),
    ("orc.write_s", "s", "sinks.orc.write_orc"),
    ("orc.write_jobs", "count", "sinks.orc.write_orc"),
    ("orc.write_stages", "count", "sinks.orc.write_orc"),
    ("orc.write_tasks", "count", "sinks.orc.write_orc"),
    ("orc.write_cpu_s", "s", "sinks.orc.write_orc"),
    ("orc.write_run_s", "s", "sinks.orc.write_orc"),
    ("orc.write_shuffle_bytes", "bytes", "sinks.orc.write_orc"),
    ("orc.write_spill_bytes", "bytes", "sinks.orc.write_orc"),
    ("orc.files_out", "count", "sinks.orc.write_orc"),
    ("orc.bytes_out", "bytes", "sinks.orc.write_orc"),
    ("orc.rows_out", "count", "sinks.orc.write_orc"),
    ("orc.read_s", "s", "readback"),
    ("orc.read_bytes", "bytes", "readback"),
    ("orc.read_bytes_ratio", "ratio", "readback"),
    ("orc.read_rows_ratio", "ratio", "readback"),
    ("progress.self_s", "s", "progress.write_with_progress"),
    ("converter.self_s", "s", "converter"),
    ("trace.overhead_s", "s", None),
]


def layer_metric_table(headline: list[str]) -> list[tuple[str, str, str | None]]:
    return LAYER_METRICS + [
        (f"query.{q}.{m}", unit, f"query.{q}")
        for q in headline for m, unit in _QUERY_METRICS
    ]


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("bench", "smoke"), default="bench")
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Pin the session to the host's cores (as the Tier-1 verify line
    does) and keep every scratch file of Python, Spark, the JVM and
    Derby inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.chdir(work)  # spark-warehouse/, metastore and derby.log land here


def load_program():
    """The program's modules; raises ImportError when the checkout has
    no program (the benchmark then exits non-zero)."""
    sys.path.insert(0, ROOT)
    from bench import HEADLINE
    from universal_data_to_orc_converter_spark import (
        converter, progress, registry, session,
    )
    from universal_data_to_orc_converter_spark.sinks import orc
    from universal_data_to_orc_converter_spark.sources import jdbc, sqldump

    return SimpleNamespace(
        converter=converter, progress=progress, registry=registry,
        session=session, orc=orc, jdbc=jdbc, sqldump=sqldump,
        headline=list(HEADLINE),
    )


def reset_peak_rss() -> bool:
    """Start a new peak-RSS window (Linux ``clear_refs`` 5 resets
    VmHWM); False where the kernel refuses, so the peak is lifetime."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        return True
    except OSError:
        return False


def peak_rss_mib() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc/self/status")


def tail(samples: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it (the
    maximum when there are fewer than eleven), with the sample count."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return {"n": 0}
    if n <= 10:
        return {"n": n, "pct": 100, "value": xs[-1]}
    k = n - 10  # samples at or below the reported one
    return {"n": n, "pct": math.floor(100 * k / n), "value": xs[k - 1]}


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user … steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def jvm_times(spark) -> tuple[float, float]:
    """(GC, JIT compilation) seconds the driver JVM has spent so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(max(b.getCollectionTime(), 0) for b in mf.getGarbageCollectorMXBeans())
    return gc_ms / 1000.0, mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0


def host_stamp(spark, cpu0: list[int], jvm0: tuple[float, float]) -> dict:
    """Host facts for the run; ``steal_pct`` is the share of CPU time the
    hypervisor took from the VM since ``cpu0`` — the noise load1 misses;
    ``jvm_gc_s`` / ``jvm_jit_s`` are the driver JVM's GC and JIT
    compilation time since ``jvm0``."""
    import pyarrow

    delta = [b - a for a, b in zip(cpu0, cpu_times())]
    gc_s, jit_s = jvm_times(spark)
    return {
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "load1": round(os.getloadavg()[0], 2),
        "steal_pct": round(100 * delta[7] / max(sum(delta), 1), 1),
        "jvm_gc_s": round(gc_s - jvm0[0], 3),
        "jvm_jit_s": round(jit_s - jvm0[1], 3),
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
    }


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to end
    (Python workers and embedded Derby end with it)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def install_spans(tracer, m) -> None:
    """Wrap each public function where its caller looks it up at call
    time: the converter imports ``read_csv`` / ``write_orc`` at module
    top; the dump and JDBC paths import ``write_orc`` and
    ``write_with_progress`` inside the function."""
    tracer.patch(m.converter, "read_csv", "sources.csv.read_csv")
    tracer.patch(m.converter, "write_orc", "sinks.orc.write_orc")
    tracer.patch(m.orc, "write_orc", "sinks.orc.write_orc")
    tracer.patch(m.orc, "read_orc", "sinks.orc.read_orc")
    tracer.patch(m.progress, "write_with_progress", "progress.write_with_progress")
    tracer.patch(m.sqldump, "parse_dump", "sources.sqldump.parse_dump")
    tracer.patch(m.jdbc, "list_tables", "sources.jdbc.list_tables")
    tracer.patch(m.jdbc, "read_table", "sources.jdbc.read_table")


def _med(xs) -> float:
    xs = list(xs)
    return median(xs) if xs else 0.0


def traced_slot(i: int, seed: int) -> bool:
    """Whether measured operation ``i`` (from 1) is traced. Operations
    come in pairs, one traced and one not; the order flips from pair to
    pair (and the first pair's order follows the seed's parity), so
    neither side is always the earlier, less warmed-up one."""
    pair, second = divmod(i - 1, 2)
    return bool(second) == bool((pair + seed) % 2)


def overhead_pairs(slots: list[tuple[bool, float | None]]) -> list[float]:
    """Traced minus untraced wall time of each whole pair of measured
    operations; ``slots`` holds (traced, seconds) per operation, the
    traced one without its forced planning, None where it failed."""
    diffs = []
    for a, b in zip(slots[0::2], slots[1::2]):
        if a[1] is not None and b[1] is not None:
            traced, plain = (a, b) if a[0] else (b, a)
            diffs.append(traced[1] - plain[1])
    return diffs


def layer_metrics(tracer, wl, traced, read_spans, overhead, session_s, headline):
    """Per-layer metrics from the spans of the traced warm operations.
    ``traced`` holds the root spans of each traced operation; each
    metric is the median over operations of the per-operation total.
    ``read_spans`` holds (span, rows returned, bytes stored) per traced
    read-back; ``overhead`` the per-pair differences of
    ``overhead_pairs``."""
    out: dict[str, float] = {"session.start_s": session_s}
    conv = [[r for r in roots if r.name.startswith("converter.")] for roots in traced]
    conv = [c for c in conv if c]

    def per_op(name, value, roots_of=lambda c: c):
        return _med(sum(value(s) for r in roots_of(c) for s in tracer.descendants(r, name))
                    for c in conv)

    parse = "sources.sqldump.parse_dump"
    csv, write = "sources.csv.read_csv", "sinks.orc.write_orc"
    out["sqldump.parse_s"] = per_op(parse, lambda s: s.dur)
    dump_rows = sum(wl.rows(s) for s in getattr(wl, "src", ()) if s.name == "dump")
    out["sqldump.parse_rows_per_s"] = (
        dump_rows / out["sqldump.parse_s"] if out["sqldump.parse_s"] else 0.0)
    out["csv.read_s"] = per_op(csv, lambda s: s.dur)
    out["csv.read_jobs"] = per_op(csv, lambda s: s.counters["jobs"])
    out["csv.read_bytes"] = per_op(csv, lambda s: s.counters["input_bytes"])
    out["jdbc.list_s"] = per_op("sources.jdbc.list_tables", lambda s: s.dur)
    out["jdbc.read_s"] = per_op("sources.jdbc.read_table", lambda s: s.dur)
    out["jdbc.scan_tasks"] = per_op(
        write, lambda s: s.scan["tasks"],
        lambda c: [r for r in c if r.name == "converter.convert_mysql"])
    out["orc.write_s"] = per_op(write, lambda s: s.dur)
    for key in ("jobs", "stages", "tasks", "cpu_s", "run_s"):
        out[f"orc.write_{key}"] = per_op(write, lambda s, k=key: s.counters[k])
    out["orc.write_shuffle_bytes"] = per_op(
        write, lambda s: s.counters["shuffle_read_bytes"] + s.counters["shuffle_write_bytes"])
    out["orc.write_spill_bytes"] = per_op(
        write, lambda s: s.counters["memory_spill_bytes"] + s.counters["disk_spill_bytes"])
    out["orc.rows_out"] = per_op(write, lambda s: s.counters["output_records"])
    files, size = wl.output_stats() if conv else (0, 0)
    out["orc.files_out"], out["orc.bytes_out"] = float(files), float(size)
    reads = [s for s, _, _ in read_spans]
    scanned = sum(s.scan["input_bytes"] for s in reads)
    stored = sum(b for _, _, b in read_spans)
    rows_in = sum(s.scan["input_records"] for s in reads)
    rows_out = sum(r for _, r, _ in read_spans)
    out["orc.read_s"] = _med(s.dur for s in reads)
    out["orc.read_bytes"] = _med(s.scan["input_bytes"] for s in reads)
    out["orc.read_bytes_ratio"] = scanned / stored if stored else 0.0
    out["orc.read_rows_ratio"] = rows_out / rows_in if rows_in else 0.0
    out["progress.self_s"] = per_op("progress.write_with_progress", tracer.self_s)
    out["converter.self_s"] = _med(sum(tracer.self_s(r) for r in c) for c in conv)
    out["trace.overhead_s"] = _med(overhead)
    passes = [r for roots in traced for r in roots if r.name == "pass"]
    for q in headline:
        qs = [s for p in passes for s in tracer.children(p) if s.name == f"query.{q}"]

        def part(kind, qs=qs, q=q):
            return _med(sum(c.dur for c in tracer.children(s)
                            if c.name == f"query.{q}.{kind}") for s in qs)

        out[f"query.{q}.construct_s"] = part("construct")
        out[f"query.{q}.plan_s"] = part("plan")
        out[f"query.{q}.exec_s"] = part("exec")
        for key in ("jobs", "stages", "tasks", "cpu_s"):
            out[f"query.{q}.{key}"] = _med(s.counters[key] for s in qs)
        out[f"query.{q}.shuffle_bytes"] = _med(
            s.counters["shuffle_read_bytes"] + s.counters["shuffle_write_bytes"] for s in qs)
        out[f"query.{q}.spill_bytes"] = _med(
            s.counters["memory_spill_bytes"] + s.counters["disk_spill_bytes"] for s in qs)
    return out


def span_parents(tracer) -> dict[str, str | None]:
    """First observed parent name of each span name (and of each span
    name prefix before its first dot-separated table or query part)."""
    parents: dict[str, str | None] = {}
    for s in tracer.spans:
        pname = tracer.spans[s.parent].name if s.parent is not None else None
        for key in (s.name, s.name.split(".", 1)[0]):
            parents.setdefault(key, pname)
    return parents


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    scratch = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(scratch, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    try:
        return run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:  # another run's scratch is still there
            pass


def run(args, work: str) -> int:
    m = load_program()
    wl = WORKLOADS[args.workload](m, work, args.seed, gen.SCALES[args.scale])
    analytic = wl.name == "analytic_headline"

    t0 = time.perf_counter()
    spark = m.session.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        tracer = None
        if args.trace:
            tracer = spans.Tracer(spark)
            tracer.spans.append(spans.Span(0, "session.get_spark", None, t0,
                                           t0 + session_s))
            install_spans(tracer, m)
            wl.tracer = tracer
        t0 = time.perf_counter()
        wl.prepare(spark)
        prepare_s = time.perf_counter() - t0
        rss_windowed = reset_peak_rss()
        cpu0, jvm0 = cpu_times(), jvm_times(spark)

        def one_op(phase):
            return wl.spanned("pass", wl.op, phase) if analytic else wl.op(phase)

        # cold: the first operation in the fresh session, as the CLI
        # runs it (the CLI builds a new session on every invocation)
        cold = one_op("cold")
        wl.check()
        t0 = time.perf_counter()
        if tracer is not None:
            tracer.enabled = False
        for _ in range(wl.warmup_ops if args.scale == "bench" else 1):
            one_op("warmup")
            wl.queries(wl.warmup_readback_rounds)
        warmup_s = time.perf_counter() - t0

        parts: dict[str, list[float]] = {}
        ops, traced, read_spans = [], [], []
        slots: list[tuple[bool, float | None]] = []
        deadline = time.perf_counter() + args.seconds
        i = 0
        min_ops = MIN_OPS if tracer is None else MIN_TRACED_OPS
        # traced runs measure whole traced/untraced pairs (traced_slot)
        while (i < min_ops or time.perf_counter() < deadline
               or (tracer is not None and i % 2)):
            i += 1
            on = tracer is not None and traced_slot(i, args.seed)
            if tracer is not None:
                tracer.enabled = on
                first = len(tracer.spans)
            op = one_op("measure")
            if tracer is not None:
                slots.append((on, None if op is None else sum(op.values()) - sum(
                    s.dur for s in tracer.spans[first:] if s.name.endswith(".plan"))))
            if op is None:
                continue
            ops.append(sum(op.values()))
            for k, v in op.items():
                parts.setdefault(k, []).append(v)
            if on:
                traced.append([s for s in tracer.spans[first:] if s.parent is None])
        # check() has just read every output table once, so no read-back
        # below is the first read after a conversion
        wl.check()
        if tracer is not None:
            tracer.enabled = True
            first = len(tracer.spans)
        reads = wl.queries(wl.readback_rounds)
        if tracer is not None:
            read_spans = [(sp, wl.rows_returned[key], orc_bytes(wl.written[key])[1])
                          for sp in tracer.spans[first:] if sp.name.startswith("readback.")
                          for key in [sp.name.removeprefix("readback.")]]
        rss = peak_rss_mib()
        if tracer is not None:
            tracer.restore()
            tracer.enabled = True
        stamp = host_stamp(spark, cpu0, jvm0)
    finally:
        stop_spark(spark)

    failed = len(wl.failures)
    attempted = max(wl.attempted, failed, 1)
    if not ops or cold is None:
        print(json.dumps({"error": "no successful operation", "failures": wl.failures}))
        return 1
    op_p50 = median(ops)
    query_sets = parts if analytic else reads
    e2e = {
        "setup_s": session_s + prepare_s,
        "cold_op_s": sum(cold.values()),
        "op_rows_per_s": wl.source_rows / op_p50,
        "query_total_s": sum(median(v) for v in query_sets.values()),
        "driver_py_peak_rss_mb": rss,
    }
    report = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "host": stamp,
        "setup": {"session_s": session_s, "inputs_s": prepare_s},
        "warmup_s": warmup_s,
        "source_rows": wl.source_rows,
        "op": {"p50_s": op_p50, "tail": tail(ops), "samples_s": ops},
        "rss_window": "timed region" if rss_windowed else "process lifetime",
        "failures": wl.failures[:10],
        # per-source and per-workload figures, where they apply
        "named": {"setup_s": e2e["setup_s"], "driver_py_peak_rss_mb": rss,
                  "error_rate": failed / attempted},
    }
    named = report["named"]
    if analytic:
        named["query_total_s"] = e2e["query_total_s"]
        report["queries_p50_s"] = {q: median(v) for q, v in parts.items()}
    else:
        all_reads = [x for v in reads.values() for x in v]
        # only the first source's conversion is cold; the later ones in
        # the cold operation run after it has warmed the JVM and ORC writer
        first = wl.src[0].name
        named["cold_convert_s"] = {first: cold[first]}
        report["cold_op_parts_s"] = cold
        named["convert_rows_per_s"] = {
            s.name: wl.rows(s) / median(parts[s.name]) for s in wl.src}
        named["readback_p50_s"] = median(all_reads)
        named["orc_bytes_per_source_byte"] = {
            s.name: sum(orc_bytes(wl.written[f"{s.name}.{t}"])[1] for t in s.tables)
            / s.source_bytes for s in wl.src if s.source_bytes}
        report["convert_tail"] = {k: tail(v) for k, v in parts.items()}
        report["readback_tail"] = tail(all_reads)
        report["readback_samples_s"] = reads
    if args.trace:
        table = layer_metric_table(m.headline)
        overhead = overhead_pairs(slots)
        values = layer_metrics(tracer, wl, traced, read_spans, overhead, session_s,
                               m.headline)
        parents = span_parents(tracer)
        metrics = {n: {"value": values[n], "unit": u} for n, u, _ in table}
        trace_out = {
            "report": report,
            "metrics": [{"name": n, "unit": u, "value": values[n], "span": sp,
                         "parent": parents.get(sp) if sp else None,
                         "seen": sp in parents if sp else False}
                        for n, u, sp in table],
            "spans": [{"id": s.id, "name": s.name, "parent": s.parent,
                       "start": s.start, "dur": s.dur, "counters": s.counters,
                       "scan": s.scan} for s in tracer.spans],
            "samples": {"slots": [{"traced": on, "op_s": t} for on, t in slots],
                        "overhead_pairs_s": overhead},
        }
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{wl.name}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(trace_out, f, indent=1)
        report["trace_file"] = os.path.relpath(path, ROOT)
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}
    print("report " + json.dumps(report))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
