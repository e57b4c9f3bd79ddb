"""Deterministic input generation for the conversion benchmark.

Everything the program reads is made here from ``--seed``: TPC-H-shaped
``customer`` / ``orders`` / ``lineitem`` tables (plus the ``nation``,
``events``, ``documents`` and ``embeddings`` tables the headline queries
read), then rendered as the three source formats the converter accepts:

* a directory of header CSV files, one per table;
* a mysqldump-style ``.sql`` file (``DROP`` / ``CREATE TABLE`` DDL,
  extended ``INSERT ... VALUES (...),(...)`` statements whose row counts
  the seed mixes, backslash-escaped quotes in the comment text);
* an embedded Derby database, bulk-loaded by Derby's own import
  procedure (no Spark job runs, so the first conversion stays cold).

The headline queries read the tables as parquet. The output checks
compare against the in-memory Arrow tables. Row counts depend only on
the scale, never on the seed, so runs with different seeds do the same
amount of work.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: words for comment and document text; the apostrophes, commas,
#: parentheses and semicolons are the characters a naive dump splitter
#: corrupts
_WORDS = np.array(
    "the a quick slow order ship part key deposit it's can't won't "
    "final, pending, (rush) (hold) note; ideas; sleep furious bold "
    "carefully express regular special accounts packages".split()
)
_DOC_WORDS = np.array(
    "key agg row scan slow fast table value part hash batch merge spark "
    "line sort window order data column join small customer query big "
    "group filter stream vector the a".split()
)
_SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
)
_PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
_EPOCH_1992 = np.datetime64("1992-01-01", "us")
_DAY_US = 86_400_000_000


@dataclass(frozen=True)
class Scale:
    """Row counts of one benchmark size; ``lineitem`` has four lines
    per order."""

    customers: int
    orders: int
    events: int
    documents: int
    embeddings: int

    @property
    def lineitems(self) -> int:
        return self.orders * 4


#: ``conv`` sizes the CSV and JDBC sources, ``dump`` the SQL dump (twice
#: as many rows, so the parser's share of a conversion is the majority it
#: is at full size), ``query`` the headline tables
SCALES = {
    "bench": {"conv": Scale(2_000, 20_000, 0, 0, 0),
              "dump": Scale(4_000, 40_000, 0, 0, 0),
              "query": Scale(2_000, 20_000, 20_000, 1_000, 500)},
    "smoke": {"conv": Scale(150, 1_500, 0, 0, 0),
              "dump": Scale(150, 1_500, 0, 0, 0),
              "query": Scale(150, 1_500, 1_000, 100, 100)},
}

#: the tables every conversion workload converts, in source order
CONVERTED = ("customer", "orders", "lineitem")
#: the tables the dump holds
DUMPED = ("customer", "orders")

#: per table: key and text columns (the checksum's inputs) and the
#: numeric column the README-style read-back filters on
CHECK_COLUMNS = {
    "customer": (("c_custkey", "c_name", "c_mktsegment", "c_comment"),
                 "c_acctbal"),
    "orders": (("o_orderkey", "o_custkey", "o_orderstatus",
                "o_orderpriority", "o_comment"), "o_totalprice"),
    "lineitem": (("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
                  "l_returnflag", "l_linestatus"), "l_quantity"),
}


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Values with exactly two decimals, so every predicate constant
    ending in .005 splits them without ties in any source format."""
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _phrases(rng, words: np.ndarray, n: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi, n)
    picks = words[rng.integers(0, len(words), int(lens.sum()))]
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(picks[pos:pos + k]))
        pos += k
    return out


def make_tables(seed: int, scale: Scale, comments: bool) -> dict[str, pa.Table]:
    """The TPC-H-shaped tables at ``scale``; ``comments`` adds the
    free-text comment columns the conversion sources carry."""
    rng = np.random.default_rng(seed)
    nc, no, nl = scale.customers, scale.orders, scale.lineitems
    t: dict[str, pa.Table] = {}
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    cust = {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _SEGMENTS[rng.integers(0, 5, nc)],
    }
    orders = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _cents(rng, 900.0, 500_000.0, no),
        "o_orderdate": _EPOCH_1992 + rng.integers(0, 2_400, no) * _DAY_US,
        "o_orderpriority": _PRIORITIES[rng.integers(0, 5, no)],
    }
    if comments:
        cust["c_comment"] = _phrases(rng, _WORDS, nc, 4, 14)
        orders["o_comment"] = _phrases(rng, _WORDS, no, 3, 10)
    t["customer"] = pa.table(cust)
    t["orders"] = pa.table(orders)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": np.repeat(np.arange(no, dtype=np.int64), 4),
        "l_partkey": rng.integers(0, 20_000, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, 1_000, nl).astype(np.int64),
        "l_linenumber": np.tile(np.arange(1, 5, dtype=np.int32), no),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _cents(rng, 900.0, 2_000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _EPOCH_1992 + rng.integers(0, 3_650, nl) * _DAY_US,
    })
    if scale.events:
        ne = scale.events
        t["events"] = pa.table({
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us")
            + np.sort(rng.integers(0, 30 * _DAY_US, ne)),
            "user_id": rng.integers(0, 100, ne).astype(np.int64),
            "event_type": np.array(["click", "view", "error", "buy"])[
                rng.integers(0, 4, ne)],
            "value": _cents(rng, 0.0, 100.0, ne),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        })
    if scale.documents:
        nd = scale.documents
        text = _phrases(rng, _DOC_WORDS, nd, 10, 90)
        # every 10th document repeats an earlier one, so the near-dup
        # operators have pairs to find
        for i in range(10, nd, 10):
            text[i] = text[i - 7]
        t["documents"] = pa.table({
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": text,
            "lang": np.array(["en", "zh", "es", "de", "fr"])[
                rng.integers(0, 5, nd)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": np.array([len(s) for s in text], dtype=np.int64),
        })
    if scale.embeddings:
        nv = scale.embeddings
        vecs = rng.standard_normal((nv, 64)).astype(np.float32) * 0.2
        t["embeddings"] = pa.table({
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel()), 64).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv).astype(np.int32)),
        })
    return t


def write_parquet(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table — the layout the headline
    queries' ``catalog.load`` reads."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def write_csv(tables: dict[str, pa.Table], out_dir: str) -> int:
    """Header CSV per converted table; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name in CONVERTED:
        path = os.path.join(out_dir, f"{name}.csv")
        pacsv.write_csv(tables[name], path)
        total += os.path.getsize(path)
    return total


_DDL_TYPES = {
    pa.int64(): "bigint NOT NULL",
    pa.int32(): "int NOT NULL",
    pa.float64(): "decimal(15,2) NOT NULL",
    pa.timestamp("us"): "datetime NOT NULL",
}


def _sql_literals(col: pa.ChunkedArray) -> list[str]:
    if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
        return ["'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
                for s in col.to_pylist()]
    if pa.types.is_timestamp(col.type):
        days = col.to_numpy().astype("datetime64[s]").astype(str)
        return ["'" + d.replace("T", " ") + "'" for d in days]
    if pa.types.is_floating(col.type):
        return [f"{v:.2f}" for v in col.to_numpy()]
    return [str(v) for v in col.to_numpy()]


def write_dump(tables: dict[str, pa.Table], path: str, seed: int) -> int:
    """A mysqldump-style file of the ``DUMPED`` tables. The seed picks
    how many rows each extended INSERT carries (5 to 400, a different
    mix per seed). Returns the bytes written."""
    rng = np.random.default_rng(seed + 1)
    with open(path, "w", encoding="utf-8") as f:
        f.write("-- MySQL dump 10.13  Distrib 8.0.36, for Linux (x86_64)\n"
                "/*!40101 SET NAMES utf8mb4 */;\n"
                "/*!40014 SET @OLD_UNIQUE_CHECKS=@@UNIQUE_CHECKS, "
                "UNIQUE_CHECKS=0 */;\n\n")
        for name in DUMPED:
            tbl = tables[name]
            cols = []
            for field in tbl.schema:
                ddl = _DDL_TYPES.get(field.type, "varchar(128) DEFAULT NULL")
                cols.append(f"  `{field.name}` {ddl}")
            key = tbl.schema.names[0]
            f.write(f"DROP TABLE IF EXISTS `{name}`;\n"
                    f"CREATE TABLE `{name}` (\n" + ",\n".join(cols)
                    + f",\n  PRIMARY KEY (`{key}`)\n) ENGINE=InnoDB "
                    "DEFAULT CHARSET=utf8mb4;\n\n"
                    f"LOCK TABLES `{name}` WRITE;\n")
            lits = [_sql_literals(tbl.column(c)) for c in tbl.schema.names]
            rows = ["(" + ",".join(v) + ")" for v in zip(*lits)]
            pos = 0
            while pos < len(rows):
                k = int(rng.integers(5, 401))
                f.write(f"INSERT INTO `{name}` VALUES "
                        + ",".join(rows[pos:pos + k]) + ";\n")
                pos += k
            f.write("UNLOCK TABLES;\n\n")
    return os.path.getsize(path)


_DERBY_TYPES = {
    pa.int64(): "BIGINT",
    pa.int32(): "INTEGER",
    pa.float64(): "DOUBLE",
    pa.timestamp("us"): "TIMESTAMP",
}


def load_derby(jvm, url: str, tables: dict[str, pa.Table], scratch: str) -> None:
    """Create each table in the Derby database at ``url`` and fill it
    with ``SYSCS_UTIL.SYSCS_IMPORT_TABLE`` from a headerless CSV. Column
    names are quoted lower case and strings are VARCHAR, as Spark's JDBC
    writer and a MySQL schema would make them; table names are unquoted,
    so Derby stores them upper case."""
    os.makedirs(scratch, exist_ok=True)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        stmt = conn.createStatement()
        for name, tbl in tables.items():
            cols = ", ".join(
                f'"{f.name}" {_DERBY_TYPES.get(f.type, "VARCHAR(128)")}'
                for f in tbl.schema)
            stmt.execute(f"CREATE TABLE {name} ({cols})")
            path = os.path.join(scratch, f"{name}.csv")
            pacsv.write_csv(tbl, path, pacsv.WriteOptions(include_header=False))
            stmt.execute("CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE("
                         f"null, '{name.upper()}', '{path}', ',', '\"', 'UTF-8', 0)")
        stmt.close()
    finally:
        conn.close()
