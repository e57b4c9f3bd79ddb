"""Smoke test of the benchmark itself: every workload once at the
smallest scale (TPC-H sf0.001 row counts), timed and traced.

    python3 perfbench/smoke.py [workload ...]

Asserts, per workload and mode, that the run exits 0, that every
metric ``BENCHMARK.json`` names appears with its unit, that the output
checks pass (``correct``, no failed operation), and that the report
carries its named figures. The traced run must list every
per-layer metric with its unit and span parent, with the span layout
the workload implies: no ``sqldump`` span outside ``dump_to_orc``, no
``orc.write`` span on ``analytic_headline``. Takes about four minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: the named figures each workload's report carries
NAMED = {
    "conversion": {"setup_s", "cold_convert_s", "convert_rows_per_s",
                   "readback_p50_s", "driver_py_peak_rss_mb", "error_rate"},
    "analytic_headline": {"setup_s", "query_total_s", "driver_py_peak_rss_mb",
                          "error_rate"},
}


def run(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--scale", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace}: exit {p.returncode}\n"
                             + p.stderr[-3000:])
    lines = p.stdout.strip().splitlines()
    assert lines[-2].startswith("report "), lines[-2][:200]
    return json.loads(lines[-1]), json.loads(lines[-2][len("report "):])


def check_metrics(result: dict, declared: list[dict], what: str) -> None:
    got = result["metrics"]
    for m in declared:
        assert m["name"] in got, f"{what}: no metric {m['name']}"
        assert got[m["name"]]["unit"] == m["unit"], f"{what}: unit of {m['name']}"
        assert isinstance(got[m["name"]]["value"], (int, float)), what
    assert result["correct"] is True and result["failed"] == 0, f"{what}: {result}"
    assert result["attempted"] >= 1, what


def check_trace(workload: str, report: dict, declared: list[dict]) -> None:
    with open(os.path.join(ROOT, report["trace_file"])) as f:
        trace = json.load(f)
    listed = {m["name"]: m for m in trace["metrics"]}
    for m in declared:
        row = listed[m["name"]]
        assert row["unit"] == m["unit"] and "parent" in row, (workload, row)
    names = {s["name"] for s in trace["spans"]}
    parse = "sources.sqldump.parse_dump" in names
    assert parse == (workload == "dump_to_orc"), (workload, "sqldump span")
    if workload == "analytic_headline":
        assert not any(n.startswith("sinks.orc.write") for n in names), names
    else:
        assert "sinks.orc.write_orc" in names and "progress.write_with_progress" in names


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = argv or [w["name"] for w in bench["workloads"]]
    for w in workloads:
        result, report = run(w, 0)
        check_metrics(result, bench["end_to_end"], f"{w} trace=0")
        kind = "analytic_headline" if w == "analytic_headline" else "conversion"
        missing = NAMED[kind] - set(report["named"])
        assert not missing, f"{w}: report lacks {missing}"
        assert report["named"]["error_rate"] == 0, report["failures"]
        result, report = run(w, 1)
        check_metrics(result, bench["per_layer"], f"{w} trace=1")
        check_trace(w, report, bench["per_layer"])
        print(f"ok {w}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
