"""SQL-dump range reader tests: the driver pass cuts a dump into
statement-aligned byte ranges and the executors read them. Any range
count, down to one range per line, must give the rows of a serial
whole-file parse (``split_statements`` + ``parse_insert``)."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark import cloudpickle

from universal_data_to_orc_converter_spark.converter import convert_sql_dump
from universal_data_to_orc_converter_spark.sources.sqldump import (
    parse_insert,
    range_kernel,
    scan_dump,
    scan_frames,
    split_statements,
)

#: range counts; "line" asks for one range per line (a cut at every
#: clean line start)
RANGES = [1, 2, 3, 5, 17, 64, "line"]


def read(spark, path, n, tables=None):
    n = os.path.getsize(path) if n == "line" else n
    return {t: sorted(map(tuple, df.collect()))
            for t, df in scan_frames(spark, scan_dump(str(path), n, tables)).items()}


def reference(path, table):
    """``table``'s rows from a serial parse of the whole file, as the
    strings the DDL types are cast from."""
    rows = []
    for stmt in split_statements([path.read_text()]):
        parsed = parse_insert(stmt)
        if parsed and parsed[0] == table:
            rows.extend(parsed[2])
    return sorted(tuple(r) for r in rows)


def make_dump(path, n_rows=120, rows_per_stmt=5):
    lines = [
        "CREATE TABLE items (id INT, label VARCHAR(40), price DECIMAL(8,2), "
        "added DATE);"
    ]
    for i in range(0, n_rows, rows_per_stmt):
        # literals holding the characters that break naive splits
        vals = [f"({j}, 'item; ({j}), tricky', {j}.25, '2024-01-{j % 28 + 1:02d}')"
                for j in range(i, min(i + rows_per_stmt, n_rows))]
        lines.append("INSERT INTO items VALUES " + ", ".join(vals) + ";")
    # another table interleaved — filtered out
    lines += ["CREATE TABLE other (x INT);", "INSERT INTO other VALUES (1), (2);"]
    path.write_text("\n".join(lines) + "\n")
    return path


@pytest.mark.parametrize("n", RANGES)
def test_range_boundaries_anywhere(spark, tmp_path, n):
    """Every row appears exactly once wherever the range boundaries
    fall, and equals the serial parse; ``tables`` filters the rest."""
    p = make_dump(tmp_path / "d.sql")
    got = read(spark, p, n, tables=["items"])
    assert list(got) == ["items"]
    assert [r[0] for r in got["items"]] == list(range(120))
    as_text = sorted(tuple(str(v) for v in r) for r in got["items"])
    assert as_text == reference(p, "items")
    if n == "line":
        assert len(scan_dump(str(p), os.path.getsize(p)).cuts) == 28  # 27 lines


#: statement layouts a byte range could split wrongly → the rows of ``t``
LAYOUTS = {
    # an INSERT that begins mid-line after another top-level statement,
    # after a multi-line CREATE TABLE body
    "midline": ("CREATE TABLE t (\n  id INT,\n  s VARCHAR(40)\n); "
                "INSERT INTO t VALUES (1, 'one; tricky'), (2, 'two');\n"
                "INSERT INTO t VALUES (3, 'three');\n"
                "DROP TABLE IF EXISTS junk; INSERT INTO t VALUES (4, 'four');\n",
                [(1, "one; tricky"), (2, "two"), (3, "three"), (4, "four")]),
    # a raw newline inside a literal, then a line that starts with
    # INSERT: no cut falls inside the literal
    "raw_newline": ("CREATE TABLE t (id INT, s TEXT);\n"
                    "INSERT INTO t VALUES (1, 'line one\nINSERT INTO t VALUES (99,''x'');\n"
                    "still one');\nINSERT INTO t VALUES (2, 'b');\n",
                    [(1, "line one\nINSERT INTO t VALUES (99,'x');\nstill one"), (2, "b")]),
}


@pytest.mark.parametrize("n", RANGES)
@pytest.mark.parametrize("layout", LAYOUTS)
def test_statement_layouts(spark, tmp_path, layout, n):
    text, rows = LAYOUTS[layout]
    p = tmp_path / "d.sql"
    p.write_text(text)
    assert read(spark, p, n)["t"] == rows


def test_missing_table_errors(spark, tmp_path):
    p = tmp_path / "d.sql"
    p.write_text("CREATE TABLE a (x INT); INSERT INTO a VALUES (1);")
    with pytest.raises(ValueError, match=r"no CREATE TABLE for \['x'\]"):
        convert_sql_dump(spark, str(p), str(tmp_path / "out"), tables=["a", "x"])
    assert not (tmp_path / "out").exists()


def test_truncated_dump_fails_loudly(spark, tmp_path):
    """A dump cut off inside its last tuple raises, naming the table and
    the statement's byte offset; a final statement that only lacks its
    ``;`` is complete."""
    head = "CREATE TABLE t (id INT, s TEXT);\nSELECT 1; "
    p = tmp_path / "d.sql"
    for cut in ("(3,'c", "(3,"):
        p.write_text(head + "INSERT INTO t VALUES (1,'a'),(2,'b')," + cut)
        with pytest.raises(ValueError, match=rf"table 't', from byte {len(head)}\)"):
            scan_dump(str(p), 2)
    p.write_text(head + "INSERT INTO t VALUES (1,'a'),(2,'b'),(3,'c')\n")
    assert read(spark, p, 2)["t"] == [(1, "a"), (2, "b"), (3, "c")]


def test_cast_failure_names_table(spark, tmp_path):
    """A value that does not cast to its DDL type fails the conversion
    (ANSI), naming the table, instead of becoming NULL."""
    p = tmp_path / "d.sql"
    p.write_text("CREATE TABLE good (x INT);\nINSERT INTO good VALUES (1);\n"
                 "CREATE TABLE bad (id BIGINT);\nINSERT INTO bad VALUES (1), ('abc');\n")
    with pytest.raises(ValueError, match="table 'bad'.*CAST_INVALID_INPUT"):
        convert_sql_dump(spark, str(p), str(tmp_path / "out"))


def test_range_kernel_runs_without_the_package(tmp_path):
    """The executor kernel unpickles and runs in a Python whose cwd and
    sys.path exclude the checkout, as Spark's workers may."""
    p = make_dump(tmp_path / "d.sql")
    scan = scan_dump(str(p), 3)
    cols = [c for c, _ in scan.tables["items"].columns]
    blob = cloudpickle.dumps(range_kernel(scan.path, "items", cols, scan.spans["items"]))
    code = (
        "import importlib.util, pickle, sys\n"
        "import pyarrow as pa\n"
        "assert importlib.util.find_spec('universal_data_to_orc_converter_spark') is None\n"
        "kernel = pickle.loads(sys.stdin.buffer.read())\n"
        "ids = pa.RecordBatch.from_pydict({'id': pa.array([0, 1, 2], pa.int64())})\n"
        "print(sum(b.num_rows for b in kernel(iter([ids]))))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", code], input=blob, cwd=tmp_path,
                         env=env, capture_output=True, timeout=120)
    assert out.returncode == 0, out.stderr.decode()[-2000:]
    assert out.stdout.decode().split() == ["120"]
