"""SQL-dump source — SURVEY.md §2.A (src_sqldump_parse).

The reference parses dumps with regexes (CREATE TABLE name at
data_to_orc_converter.sh:329, INSERT rows at sh:343/353/357, naive
``split(',')`` + quote-strip at sh:360-363) and loads everything as an
untyped, unnamed DataFrame (sh:382). That corrupts any string literal
containing a comma, parenthesis, or semicolon, and throws away the
DDL's column names and types.

This module is the deliberate divergence (SURVEY.md §7): a real
tokenizer that is quote-, escape-, and comment-aware, plus a
CREATE TABLE reader that yields a typed Spark schema. There is one
ingest path, in two steps:

1. **Driver pass** (``scan_dump``): one streaming read of the file
   through ``StatementSplitter`` collects every table's DDL and cuts the
   file into byte ranges near ``n`` equal-sized targets. A cut is a line
   start where the splitter is clean (no statement, literal or comment
   open), so every range holds whole statements, wherever raw newlines
   sit inside literals. The pass also records which ranges hold each
   table's INSERTs and rejects a truncated final statement.
2. **Executors** (``range_kernel``): ``spark.range(k).mapInArrow``
   reads a table's ranges, tokenizes its INSERTs with compiled regexes
   (``parse_insert`` takes whatever the fast grammar does not cover)
   and returns string Arrow batches. The JVM casts them to the DDL's
   types, so Python hands rows to the JVM once per range, as Arrow.

``parse_dump`` runs both with ``defaultParallelism`` ranges. The dump
must be readable at the same path on every executor (local mode, or a
shared file system). For 100 TB ingest use the JDBC or columnar sources.
"""

from __future__ import annotations

import os
import re
import sys
from collections.abc import Iterator
from dataclasses import dataclass, field

from pyspark import cloudpickle
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The executor kernel and the helpers it calls are pickled by value, so
# Python workers never import this package: their cwd and sys.path need
# not contain the checkout.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

# ---------------------------------------------------------------------------
# MySQL type name → Spark type (per the documented mapping,
# reference README.md:253-259: INT→LONG, VARCHAR→STRING,
# DECIMAL→DECIMAL, DATE→DATE, DATETIME→TIMESTAMP)
# ---------------------------------------------------------------------------

_DECIMAL_RE = re.compile(r"(?:DECIMAL|NUMERIC)\s*\(\s*(\d+)\s*(?:,\s*(\d+))?\s*\)", re.I)


def mysql_type_to_spark(type_sql: str) -> T.DataType:
    t = type_sql.strip().upper()
    m = _DECIMAL_RE.match(t)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2) or 0))
    base = re.split(r"[(\s]", t, 1)[0]
    if base in ("TINYINT", "SMALLINT", "MEDIUMINT", "INT", "INTEGER", "BIGINT"):
        return T.LongType()
    if base in ("FLOAT", "DOUBLE", "REAL"):
        return T.DoubleType()
    if base in ("BOOL", "BOOLEAN"):
        return T.BooleanType()
    if base == "DATE":
        return T.DateType()
    if base in ("DATETIME", "TIMESTAMP"):
        return T.TimestampType()
    if base in ("BLOB", "BINARY", "VARBINARY", "LONGBLOB", "MEDIUMBLOB", "TINYBLOB"):
        return T.BinaryType()
    # VARCHAR/CHAR/TEXT/ENUM/SET/JSON/... — string is the safe default
    return T.StringType()


# ---------------------------------------------------------------------------
# Streaming statement splitter (quote/escape/comment aware)
# ---------------------------------------------------------------------------

#: a complete '…' or "…" literal; a backslash escapes the next character
_SQ = r"'[^'\\]*(?:\\.[^'\\]*)*'"
_DQ = r'"[^"\\]*(?:\\.[^"\\]*)*"'
#: top-level state: one match consumes a run of plain text and complete
#: quoted literals, up to a ``;``, a comment opener or an open literal
_PLAIN = r"[^'\"`;/*-]*"
_TOKEN = re.compile(rf"{_PLAIN}(?:(?:{_SQ}|{_DQ}|`[^`]*`){_PLAIN})*", re.S)
#: the rest of a literal left open by a chunk boundary: stops before its
#: closing quote, or before a backslash that ends the chunk
_LITERAL_REST = {
    "'": re.compile(r"[^'\\]*(?:\\.[^'\\]*)*", re.S),
    '"': re.compile(r'[^"\\]*(?:\\.[^"\\]*)*', re.S),
    "`": re.compile(r"[^`]*"),
}


class StatementSplitter:
    """Incremental quote/escape/comment-aware statement splitter.

    ``feed(text)`` returns the statements completed (by a top-level
    ``;``) within the text fed so far; ``pending`` is the unterminated
    tail still buffered. State persists across ``feed`` calls, so a
    caller can stream a file in chunks of any size. One regex match
    consumes plain text and complete quoted literals up to the next
    ``;``, comment opener or literal left open at a chunk boundary.
    """

    def __init__(self) -> None:
        self._buf: list[str] = []
        self._state: str | None = None  # None | "'" | '"' | '`' | '--' | '/*'
        self._escape = False
        self._prev = ""
        self._fed = 0
        #: index, in all the text fed so far, just past the last
        #: top-level ``;``: where the pending statement begins
        self.stmt_start = 0

    def feed(self, text: str) -> list[str]:
        out: list[str] = []
        buf, state, escape, prev = self._buf, self._state, self._escape, self._prev
        i, n = 0, len(text)
        while i < n:
            if state is None:
                j = _TOKEN.match(text, i).end()
                if j > i:
                    buf.append(text[i:j])
                    prev, i = text[j - 1], j
                    continue
                ch = text[i]
                i += 1
                if ch == ";":
                    stmt = "".join(buf).strip()
                    buf.clear()
                    if stmt:
                        out.append(stmt)
                    self.stmt_start = self._fed + i
                elif ch in "'\"`":  # a literal this chunk leaves open
                    state = ch
                    buf.append(ch)
                elif ch == "-" and prev == "-":
                    state = "--"
                    if buf and buf[-1] == "-":
                        buf.pop()
                elif ch == "*" and prev == "/":
                    state = "/*"
                    if buf and buf[-1] == "/":
                        buf.pop()
                else:
                    buf.append(ch)
                prev = ch
            elif state == "--":
                j = text.find("\n", i)
                if j < 0:
                    prev, i = text[-1], n
                else:
                    buf.append("\n")
                    state, prev, i = None, "\n", j + 1
            elif state == "/*":
                # the "*" before the closing "/" may be the opener's own
                if prev == "*" and text[i] == "/":
                    state, prev, i = None, "/", i + 1
                    continue
                j = text.find("*/", i)
                if j < 0:
                    prev, i = text[-1], n
                else:
                    state, prev, i = None, "/", j + 2
            elif escape:
                escape = False
                buf.append(text[i])
                prev = text[i]
                i += 1
            else:
                j = _LITERAL_REST[state].match(text, i).end()
                if j == n:
                    if j > i:
                        buf.append(text[i:])
                        prev = text[-1]
                    i = n
                elif text[j] == state:
                    buf.append(text[i : j + 1])
                    state, prev, i = None, state, j + 1
                else:  # the chunk ends in a backslash: it escapes what follows
                    buf.append(text[i:])
                    escape, prev, i = True, "\\", n
        self._state, self._escape, self._prev = state, escape, prev
        self._fed += n
        return out

    @property
    def pending(self) -> str:
        return "".join(self._buf).strip()

    @property
    def clean(self) -> bool:
        """No statement, literal or comment is open: a fresh splitter
        started here splits the rest of the text the same way."""
        return self._state is None and not any(p.strip() for p in self._buf)


def split_statements(chunks: Iterator[str]) -> Iterator[str]:
    """Yield complete SQL statements from a stream of text chunks.
    Semicolons inside 'single', "double", `backtick` quotes (with
    backslash and doubled-quote escapes), -- line comments, and
    /* block comments */ do NOT terminate a statement — exactly the
    cases the reference's regex splitter corrupts."""
    sp = StatementSplitter()
    for chunk in chunks:
        yield from sp.feed(chunk)
    tail = sp.pending
    if tail:
        yield tail


#: bytes read per block; every block is completed to the end of its line
_BLOCK = 8 << 20


def _decode(data: bytes) -> str:
    """Whole lines of bytes → text, newlines normalised the way a
    text-mode read does (``\\r\\n`` and a lone ``\\r`` become ``\\n``)."""
    text = data.decode("utf-8", errors="replace")
    if "\r" in text:
        text = text.replace("\r\n", "\n").replace("\r", "\n")
    return text


def _blocks(f, end: int) -> Iterator[str]:
    """Text of ``f`` from its position up to byte ``end``, a line start,
    in blocks of whole lines."""
    while (k := min(end - f.tell(), _BLOCK)) > 0:
        data = f.read(k)
        if not data:
            return
        yield _decode(data + f.readline() if f.tell() < end else data)


# ---------------------------------------------------------------------------
# CREATE TABLE / INSERT parsing
# ---------------------------------------------------------------------------

_CREATE_RE = re.compile(r"^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?[`\"]?(\w+)[`\"]?\s*\(", re.I | re.S)
_INSERT_RE = re.compile(
    r"^\s*INSERT\s+(?:IGNORE\s+)?INTO\s+[`\"]?(\w+)[`\"]?\s*(\([^)]*\))?\s*VALUES\s*",
    re.I | re.S,
)
_CONSTRAINT_PREFIX = re.compile(
    r"^(PRIMARY|UNIQUE|KEY|INDEX|CONSTRAINT|FOREIGN|FULLTEXT|SPATIAL|CHECK)\b", re.I
)


@dataclass
class TableDef:
    name: str
    columns: list[tuple[str, T.DataType]] = field(default_factory=list)

    @property
    def schema(self) -> T.StructType:
        return T.StructType(
            [T.StructField(c, t, True) for c, t in self.columns]
        )


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` ignoring separators nested in parens/quotes."""
    parts, depth, cur, state, escape = [], 0, [], None, False
    for ch in s:
        if state:
            cur.append(ch)
            if escape:
                escape = False
            elif ch == "\\" and state in ("'", '"'):
                escape = True
            elif ch == state:
                state = None
        elif ch in ("'", '"', "`"):
            state = ch
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == sep and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return parts


def parse_create_table(stmt: str) -> TableDef | None:
    m = _CREATE_RE.match(stmt)
    if not m:
        return None
    body_start = stmt.index("(", m.start()) + 1
    # match the closing paren of the column list
    depth, end = 1, None
    state = None
    for i in range(body_start, len(stmt)):
        ch = stmt[i]
        if state:
            if ch == state:
                state = None
        elif ch in ("'", '"', "`"):
            state = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                end = i
                break
    body = stmt[body_start:end] if end else stmt[body_start:]
    td = TableDef(m.group(1))
    for coldef in _split_top_level(body):
        coldef = coldef.strip()
        if not coldef or _CONSTRAINT_PREFIX.match(coldef):
            continue
        cm = re.match(r"^[`\"]?(\w+)[`\"]?\s+(.+)$", coldef, re.S)
        if cm:
            td.columns.append((cm.group(1), mysql_type_to_spark(cm.group(2))))
    return td


_ESCAPES = {
    "n": "\n",
    "t": "\t",
    "r": "\r",
    "0": "\x00",
    "b": "\b",
    "Z": "\x1a",
}

#: one left-to-right scan: a backslash escape or a doubled quote
_UNESCAPE = {q: re.compile(rf"\\(.)|{q}{q}", re.S) for q in ("'", '"')}


def _unescape(inner: str, q: str) -> str:
    """Backslash escapes and doubled-quote escapes are consumed together,
    so the output of one rule is never re-consumed by another ('a\\'\\'b'
    is a''b, not a'b — MySQL semantics, where \\x for unknown x is x)."""
    if "\\" not in inner and q + q not in inner:
        return inner
    return _UNESCAPE[q].sub(
        lambda m: q if m.group(1) is None else _ESCAPES.get(m.group(1), m.group(1)),
        inner,
    )


def _parse_value(tok: str):
    tok = tok.strip()
    if not tok or tok.upper() == "NULL":
        return None
    if tok[0] in ("'", '"') and tok[-1] == tok[0] and len(tok) >= 2:
        return _unescape(tok[1:-1], tok[0])
    return tok  # numeric / literal — cast later against the schema


def parse_insert(stmt: str) -> tuple[str, list[str] | None, list[list]] | None:
    """Return (table, explicit columns or None, rows of raw values)."""
    m = _INSERT_RE.match(stmt)
    if not m:
        return None
    table = m.group(1)
    cols = None
    if m.group(2):
        cols = [c.strip().strip('`"') for c in m.group(2)[1:-1].split(",")]
    values_part = stmt[m.end() :].strip()
    # tolerate a statement that still carries its terminator
    if values_part.endswith(";"):
        values_part = values_part[:-1]
    rows = []
    for tup in _split_top_level(values_part):
        tup = tup.strip()
        if not (tup.startswith("(") and tup.endswith(")")):
            continue
        rows.append([_parse_value(v) for v in _split_top_level(tup[1:-1])])
    return table, cols, rows


# Fast INSERT grammar: VALUES (v, …, v), … with exactly ``width`` fields
# per tuple, each a quoted literal or a bare token (number, NULL, …).
_FIELD = rf"{_SQ}|{_DQ}|[^\s,()'\"`;]+"
_FIELDS = re.compile(_FIELD, re.S)


def _values_re(width: int) -> re.Pattern:
    tup = rf"\(\s*(?:{_FIELD})" + rf"(?:\s*,\s*(?:{_FIELD}))" * (width - 1) + r"\s*\)"
    return re.compile(rf"{tup}(?:\s*,\s*{tup})*", re.S)


def _field_value(tok: str):
    q = tok[0]
    if q == "'" or q == '"':
        return _unescape(tok[1:-1], q)
    return None if tok.upper() == "NULL" else tok


def insert_rows(stmt: str, m: re.Match, columns: list[str], values: re.Pattern):
    """Field values of an INSERT (matched by ``_INSERT_RE`` as ``m``),
    flat in row-major order, ``len(columns)`` per row: the fast grammar
    when it covers the whole VALUES list, else ``parse_insert``, with
    explicit column lists mapped to DDL order and short or long tuples
    padded with NULL or cut, as ``parse_insert`` rows always were."""
    body = stmt[m.end() :]
    if m.group(2) is None and values.fullmatch(body):
        return [_field_value(t) for t in _FIELDS.findall(body)]
    _, cols, rows = parse_insert(stmt)
    width = len(columns)
    order = {c: i for i, c in enumerate(cols or ())}
    flat: list = []
    for r in rows:
        if cols:  # reorder/drop to DDL column order
            r = [r[order[c]] if c in order and order[c] < len(r) else None for c in columns]
        flat.extend(r[:width] + [None] * (width - len(r)))
    return flat




# ---------------------------------------------------------------------------
# Driver pass: DDL and statement-aligned byte ranges
# ---------------------------------------------------------------------------


@dataclass
class DumpScan:
    """The driver pass's result. ``cuts`` are the range boundaries, 0 to
    the file size; ``spans[t]`` holds (start, end, wait) per range with
    INSERTs into ``t``, where ``wait`` marks the range whose INSERTs
    count only after ``t``'s CREATE TABLE."""

    path: str
    tables: dict[str, TableDef]
    cuts: list[int]
    spans: dict[str, list[tuple[int, int, bool]]]


def scan_dump(path: str, n_ranges: int, tables: list[str] | None = None) -> DumpScan:
    """The driver pass (module docstring). Raises ValueError for a name
    in ``tables`` without a CREATE TABLE, and for a last statement cut
    off inside a literal, a comment or a tuple; one that only lacks its
    ``;`` is complete."""
    size = os.path.getsize(path)
    step = max(1, -(-size // max(1, n_ranges)))
    sp, cuts = StatementSplitter(), [0]
    defs: dict[str, TableDef] = {}
    created: dict[str, int] = {}
    hits: dict[str, list[int]] = {}

    def classify(stmt: str) -> None:
        r, td = len(cuts) - 1, parse_create_table(stmt)
        if td is not None:
            if tables is None or td.name in tables:
                defs[td.name] = td
                created.setdefault(td.name, r)
        elif (m := _INSERT_RE.match(stmt)) and m.group(1) in defs:
            seen = hits.setdefault(m.group(1), [])
            if seen[-1:] != [r]:
                seen.append(r)

    with open(path, "rb") as f:
        # read up to the next target, then line by line until a clean cut
        while data := f.read(max(0, min(cuts[-1] + step - f.tell(), _BLOCK))) + f.readline():
            for stmt in sp.feed(_decode(data)):
                classify(stmt)
            if cuts[-1] + step <= f.tell() < size and sp.clean:
                cuts.append(f.tell())
    if tail := sp.pending:
        m = _INSERT_RE.match(tail)
        if sp._state not in (None, "--") or (m and not tail.endswith(")")):
            name = (m or _CREATE_RE.match(tail) or [None, None])[1]
            raise ValueError(
                f"{path}: the last statement (table {name!r}, from byte "
                f"{_statement_offset(path, cuts[-1])}) is unterminated: the "
                "dump is truncated"
            )
        classify(tail)
    if missing := [t for t in tables or () if t not in defs]:
        raise ValueError(f"{path}: no CREATE TABLE for {missing}")
    cuts.append(size)
    return DumpScan(path, defs, cuts, {
        t: [(cuts[r], cuts[r + 1], r == created[t]) for r in hits.get(t, ())]
        for t in defs
    })


def _statement_offset(path: str, start: int) -> int:
    """Byte offset of the statement left open at the end of the file:
    the first non-blank character after the last top-level ``;`` from
    ``start``, a clean cut, on. Error path only."""
    sp, at = StatementSplitter(), start
    with open(path, "rb") as f:
        f.seek(start)
        while block := f.read(_BLOCK) + f.readline():
            fed, text = sp._fed, block.decode("utf-8", errors="surrogateescape")
            sp.feed(text)
            if sp.stmt_start >= fed:
                rest = text[sp.stmt_start - fed :].lstrip()
                at = f.tell() - len(rest.encode("utf-8", errors="surrogateescape"))
    return at


# ---------------------------------------------------------------------------
# Executors: the range reader
# ---------------------------------------------------------------------------

#: rows per Arrow batch the range reader returns
_BATCH_ROWS = 10_000


def range_kernel(path: str, table: str, columns: list[str], spans: list[tuple[int, int, bool]]):
    """The ``mapInArrow`` function that reads ``table``: each input
    ``id`` picks one of its ``spans`` (``DumpScan``); the output is
    string ``pa.RecordBatch``es of ``columns``."""

    def read(batches):
        import pyarrow as pa

        width, values = len(columns), _values_re(len(columns))

        def batch(cols):
            return pa.RecordBatch.from_arrays([pa.array(c, pa.string()) for c in cols], names=columns)

        for i in (i for ids in batches for i in ids.column(0).to_pylist()):
            start, end, wait = spans[i]
            cols: list[list] = [[] for _ in columns]
            with open(path, "rb") as f:
                f.seek(start)
                for stmt in split_statements(_blocks(f, end)):
                    m = _INSERT_RE.match(stmt)
                    if m is None or m.group(1) != table:
                        if wait and (c := _CREATE_RE.match(stmt)) and c.group(1) == table:
                            wait = False
                    elif not wait:
                        flat = insert_rows(stmt, m, columns, values)
                        for j, col in enumerate(cols):
                            col.extend(flat[j::width])
                        if len(cols[0]) >= _BATCH_ROWS:
                            yield batch(cols)
                            cols = [[] for _ in columns]
            if cols[0]:
                yield batch(cols)

    return read


# ---------------------------------------------------------------------------
# Public API
# ---------------------------------------------------------------------------


def scan_frames(spark: SparkSession, scan: DumpScan) -> dict[str, DataFrame]:
    """Typed DataFrames, one per table of ``scan``, read on the
    executors. Values cross into the JVM as strings and are cast to the
    DDL's types there (ANSI: a malformed value fails the job)."""
    out: dict[str, DataFrame] = {}
    for name, td in scan.tables.items():
        spans, columns = scan.spans[name], [c for c, _ in td.columns]
        if not spans or not columns:
            out[name] = spark.createDataFrame([], td.schema)
            continue
        raw = spark.range(len(spans), numPartitions=len(spans)).mapInArrow(
            range_kernel(scan.path, name, columns, spans),
            T.StructType([T.StructField(c, T.StringType()) for c in columns]),
        )
        out[name] = raw.select(*[F.col(c).cast(t).alias(c) for c, t in td.columns])
    return out


def parse_dump(
    spark: SparkSession,
    path: str,
    tables: list[str] | None = None,
) -> dict[str, DataFrame]:
    """Parse a .sql dump into typed DataFrames, one per table, read in
    ``defaultParallelism`` statement-aligned byte ranges. ``tables``
    filters which tables to load (the reference's table-subset option,
    sh:332-333)."""
    n = spark.sparkContext.defaultParallelism
    return scan_frames(spark, scan_dump(path, n, tables))


#: error classes of an ANSI cast that a dump value fails
_CAST_ERRORS = ("CAST_INVALID_INPUT", "CAST_OVERFLOW", "NUMERIC_VALUE_OUT_OF_RANGE")


def dump_to_orc(
    spark: SparkSession,
    dump_path: str,
    output_dir: str,
    compression: str = "snappy",
    tables: list[str] | None = None,
    report=None,
) -> dict[str, str]:
    """The reference's EP3 end-to-end (sql_dump_to_orc_converter.py,
    sh:403-415): dump file → typed tables → ORC directory per table.
    ``report`` narrates per-table progress (progress.py). A value that
    does not cast to its column's type fails the conversion, naming the
    table."""
    from ..progress import write_with_progress
    from ..sinks.orc import write_orc

    written = {}
    parsed = parse_dump(spark, dump_path, tables)
    for i, (name, df) in enumerate(parsed.items(), 1):
        table_dir = os.path.join(output_dir, name)
        try:
            write_with_progress(
                spark, df, name, i, len(parsed), report,
                lambda d, out=table_dir: write_orc(d, out, compression=compression),
            )
        except PySparkException as e:
            if not any(c in str(e) for c in _CAST_ERRORS):
                raise
            raise ValueError(
                f"{dump_path}: table {name!r} has a value that does not cast "
                f"to its column type: {str(e).splitlines()[0]}"
            ) from e
        written[name] = table_dir
    return written
