"""Round-2 regression tests for the ADVICE.md findings.

Each test reproduces a bug the round-1 fixtures dodged:

1. op_dedup_minhash_lsh crashed (ANSI INVALID_ARRAY_INDEX_IN_ELEMENT_AT)
   on any corpus containing a document with <3 tokens.
2. op_collocations crashed on 1-token documents (Spark's
   sequence(1, 0) DESCENDS; DuckDB's generate_series(1, 0) is empty).
3. op_udaf returned 0 / raised ValueError for all-NULL groups where
   SQL SUM/MAX return NULL.
4. The distributed dump reader silently dropped a second top-level
   statement sharing a physical line with the first (re-asserted
   against the statement-aligned range reader at every range count).
5. _parse_value collapsed backslash-escaped quote pairs ('a\\'\\'b'
   must parse to a''b, not a'b).
"""

from __future__ import annotations

import pandas as pd

from universal_data_to_orc_converter_spark.registry import load_all_queries
from universal_data_to_orc_converter_spark.sources.sqldump import _parse_value

from .test_sqldump_ranges import RANGES, read


def _write_documents(spark, tmp_path, docs):
    """Write a documents.parquet fixture with the catalog schema."""
    pdf = pd.DataFrame(
        {
            "doc_id": list(range(len(docs))),
            "text": docs,
            "lang": ["en"] * len(docs),
            "source": ["test"] * len(docs),
            "n_chars": [len(d) for d in docs],
        }
    )
    df = spark.createDataFrame(pdf)
    df = df.selectExpr(
        "CAST(doc_id AS BIGINT) doc_id",
        "text",
        "lang",
        "source",
        "CAST(n_chars AS BIGINT) n_chars",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def test_minhash_survives_short_docs(spark, tmp_path):
    """<3-token docs must collapse to a whole-doc shingle, not throw."""
    near_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near_b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    sf = _write_documents(
        spark, tmp_path, ["one", "two words", near_a, near_b, ""]
    )
    q = load_all_queries()["op_dedup_minhash_lsh"]
    rows = q.fn(spark, sf).collect()  # round 1: ANSI crash here
    pairs = {(r["doc_a"], r["doc_b"]) for r in rows}
    # the two long near-dups (90% token overlap) should still pair up
    assert (2, 3) in pairs


def test_collocations_survives_single_token_docs(spark, tmp_path):
    """1-token docs contribute no bigrams (DuckDB empty-series parity)."""
    docs = ["solo"] * 3 + ["pair bond"] * 25
    sf = _write_documents(spark, tmp_path, docs)
    q = load_all_queries()["op_collocations"]
    rows = q.fn(spark, sf).collect()  # round 1: ANSI crash here
    got = {(r["w1"], r["w2"]): r["n_ab"] for r in rows}
    assert got == {("pair", "bond"): 25}


def test_udaf_all_null_group_returns_null(spark, tmp_path):
    """SUM/MAX over an all-NULL '$.k' group must be NULL, not 0/crash."""
    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "ts": pd.to_datetime(["2024-01-01"] * 4),
            "user_id": [1, 1, 2, 2],
            "event_type": ["with_k", "with_k", "no_k", "no_k"],
            "value": [1.0, 2.0, 3.0, 4.0],
            "props": ['{"k": 3}', '{"k": 4}', "{}", '{"other": 1}'],
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    q = load_all_queries()["op_udaf"]
    got = {r["event_type"]: (r["total_k"], r["max_k"]) for r in q.fn(
        spark, str(tmp_path)
    ).collect()}
    assert got == {"with_k": (7, 4), "no_k": (None, None)}


def test_datasource_multiple_statements_per_line(spark, tmp_path):
    """Two top-level INSERTs on one physical line both yield rows, and a
    statement that STARTS mid-line and closes on a later line parses
    once, at every range count."""
    p = tmp_path / "multi.sql"
    p.write_text(
        "CREATE TABLE t (id INT, s VARCHAR(40));\n"
        # two complete statements on one line (2nd was dropped pre-fix)
        "INSERT INTO t VALUES (1, 'a;b');INSERT INTO t VALUES (2, 'c');\n"
        # second statement starts mid-line, spans two lines
        "INSERT INTO t VALUES (3, 'd');INSERT INTO t VALUES (4,\n"
        "'e');\n"
        "INSERT INTO t VALUES (5, 'plain');\n"
    )
    for n in RANGES:
        assert read(spark, p, n)["t"] == [
            (1, "a;b"), (2, "c"), (3, "d"), (4, "e"), (5, "plain")], n


def test_parse_value_escape_ordering():
    # backslash-escaped quote pair: must NOT collapse to a single quote
    assert _parse_value(r"'a\'\'b'") == "a''b"
    # doubled-quote escape
    assert _parse_value("'a''b'") == "a'b"
    # doubled double-quote inside double-quoted literal
    assert _parse_value('"x""y"') == 'x"y'
    # backslash escapes still work, incl. literal backslash
    assert _parse_value(r"'c\\d'") == "c\\d"
    assert _parse_value(r"'l1\nl2\tt'") == "l1\nl2\tt"
    # a literal backslash followed by a real doubled-quote pair
    assert _parse_value(r"'p\\''q'") == "p\\'q"
    # MySQL: unknown escape drops the backslash
    assert _parse_value(r"'\x'") == "x"
    assert _parse_value("NULL") is None
