"""Property-based tests for the SQL-dump tokenizer (hypothesis):
arbitrary strings — including quotes, commas, parens, semicolons,
newlines, unicode — must survive render → split → parse unchanged.
These are exactly the inputs the reference's regex parser corrupts
(data_to_orc_converter.sh:357-363)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from universal_data_to_orc_converter_spark.sources.sqldump import (
    _INSERT_RE,
    StatementSplitter,
    _values_re,
    insert_rows,
    parse_create_table,
    parse_insert,
    split_statements,
)

# printable-ish text including every delimiter the tokenizer cares about
nasty_text = st.text(
    alphabet=st.characters(
        codec="utf-8",
        categories=("L", "N", "P", "S", "Zs"),
        include_characters="',\"();\\\n\t`-/*",
    ),
    max_size=60,
)


def render_literal(s: str) -> str:
    """Render a Python string as a single-quoted SQL literal with
    backslash escaping (MySQL style)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


@given(st.lists(nasty_text, min_size=1, max_size=5))
@settings(max_examples=200, deadline=None)
def test_string_literals_roundtrip(values):
    stmt = "INSERT INTO t VALUES ({});".format(
        ", ".join(render_literal(v) for v in values)
    )
    dump = "CREATE TABLE t ({});".format(
        ", ".join(f"c{i} TEXT" for i in range(len(values)))
    ) + stmt
    stmts = list(split_statements(iter([dump])))
    assert len(stmts) == 2, stmts
    parsed = parse_insert(stmts[1])
    assert parsed is not None
    _, _, rows = parsed
    assert len(rows) == 1
    # normalize the parser's escape handling of control chars we encode
    got = rows[0]
    assert len(got) == len(values)
    for g, v in zip(got, values):
        assert g == v, (g, v)


@given(
    st.lists(
        st.one_of(
            st.integers(min_value=-(10**12), max_value=10**12),
            st.none(),
            nasty_text,
        ),
        min_size=1,
        max_size=4,
    ),
    st.integers(min_value=1, max_value=5),
)
@settings(max_examples=100, deadline=None)
def test_multi_row_inserts_roundtrip(row, n_rows):
    def render_val(v):
        if v is None:
            return "NULL"
        if isinstance(v, int):
            return str(v)
        return render_literal(v)

    tup = "(" + ", ".join(render_val(v) for v in row) + ")"
    stmt = "INSERT INTO t VALUES " + ", ".join([tup] * n_rows) + ";"
    parsed = parse_insert(stmt)
    assert parsed is not None
    _, _, rows = parsed
    assert len(rows) == n_rows
    for r in rows:
        assert len(r) == len(row)
        for g, v in zip(r, row):
            if v is None:
                assert g is None
            elif isinstance(v, int):
                assert g == str(v)
            else:
                assert g == v


@given(st.lists(st.sampled_from(
    ["INT", "BIGINT", "VARCHAR(50)", "TEXT", "DECIMAL(10,2)", "DOUBLE",
     "DATE", "DATETIME", "BOOLEAN"]), min_size=1, max_size=8))
@settings(max_examples=50, deadline=None)
def test_create_table_column_count(types):
    ddl = "CREATE TABLE t ({})".format(
        ", ".join(f"col{i} {t}" for i, t in enumerate(types))
    )
    td = parse_create_table(ddl)
    assert td is not None
    assert len(td.columns) == len(types)
    assert [c for c, _ in td.columns] == [f"col{i}" for i in range(len(types))]


# ---------------------------------------------------------------------------
# Differential tests: the regex fast paths against per-character references
# ---------------------------------------------------------------------------


class ReferenceSplitter:
    """The per-character scanner ``StatementSplitter.feed`` replaced,
    kept as the reference its regex version must agree with."""

    def __init__(self) -> None:
        self._buf: list[str] = []
        self._state: str | None = None
        self._escape = False
        self._prev = ""

    def feed(self, text: str) -> list[str]:
        out: list[str] = []
        buf, state, escape, prev = self._buf, self._state, self._escape, self._prev
        for ch in text:
            if state in ("'", '"', "`"):
                buf.append(ch)
                if escape:
                    escape = False
                elif ch == "\\" and state in ("'", '"'):
                    escape = True
                elif ch == state:
                    state = None
            elif state == "--":
                if ch == "\n":
                    state = None
                    buf.append(ch)
            elif state == "/*":
                if prev == "*" and ch == "/":
                    state = None
            elif ch == ";":
                stmt = "".join(buf).strip()
                buf.clear()
                if stmt:
                    out.append(stmt)
            else:
                if ch in ("'", '"', "`"):
                    state = ch
                    buf.append(ch)
                elif prev == "-" and ch == "-" and state is None:
                    state = "--"
                    if buf and buf[-1] == "-":
                        buf.pop()
                elif prev == "/" and ch == "*":
                    state = "/*"
                    if buf and buf[-1] == "/":
                        buf.pop()
                else:
                    buf.append(ch)
            prev = ch
        self._state, self._escape, self._prev = state, escape, prev
        return out


@given(st.text(alphabet=";'\"`\\-/*\n ab,()", max_size=80),
       st.lists(st.integers(min_value=0, max_value=80), max_size=4))
@settings(max_examples=2000, deadline=None)
def test_splitter_matches_per_character_reference(text, cuts):
    """Same statements, same pending tail and same carried state at any
    chunk boundaries, for text made of every character the scanner
    treats specially."""
    bounds = sorted({min(c, len(text)) for c in cuts})
    chunks = [text[a:b] for a, b in zip([0, *bounds], [*bounds, len(text)])]
    new, ref = StatementSplitter(), ReferenceSplitter()
    for chunk in chunks:
        assert new.feed(chunk) == ref.feed(chunk), chunks
        assert (new._state, new._escape, new._prev) == (ref._state, ref._escape, ref._prev)
    assert new.pending == "".join(ref._buf).strip()


@given(st.lists(st.lists(st.one_of(st.integers(), st.none(), nasty_text,
                                   nasty_text.map(lambda s: '"' + s.replace('"', '""') + '"')),
                         min_size=1, max_size=4), min_size=1, max_size=4),
       st.integers(min_value=1, max_value=4))
@settings(max_examples=300, deadline=None)
def test_insert_tokenizer_matches_parse_insert(rows, width):
    """The fast INSERT grammar returns parse_insert's values (padded or
    cut to the DDL width) for any rows, ragged ones included, which
    fall back to parse_insert."""

    def render(v):
        if v is None:
            return "NULL"
        if isinstance(v, int):
            return str(v)
        return v if v.startswith('"') else render_literal(v)

    stmt = "INSERT INTO t VALUES " + ", ".join(
        "(" + ", ".join(render(v) for v in r) + ")" for r in rows)
    columns = [f"c{i}" for i in range(width)]
    got = insert_rows(stmt, _INSERT_RE.match(stmt), columns, _values_re(width))
    want = [v for r in parse_insert(stmt)[2] for v in (r + [None] * width)[:width]]
    assert got == want
