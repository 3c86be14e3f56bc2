"""Expected results, computed with DuckDB over the same seeded inputs.

- Catalog entries: each entry's own oracle SQL (``QuerySpec.oracle``);
  the worker compares it with the Spark result using the repository's
  own ``tools/check_correctness.compare``.
- ETL workload: the statement sequence replayed in DuckDB over the
  generated CSV files, summarised as the final table's row count and an
  exact checksum, plus the row counts each export must hold.

Runs in the launcher, before any worker starts, so DuckDB's memory never
shows in a worker's peak RSS.
"""

from __future__ import annotations

import os
from decimal import Decimal

import duckdb

_LINEITEM_TYPES = {
    "l_orderkey": "BIGINT", "l_partkey": "BIGINT", "l_suppkey": "BIGINT",
    "l_linenumber": "INTEGER", "l_quantity": "DOUBLE",
    "l_extendedprice": "DOUBLE", "l_discount": "DOUBLE", "l_tax": "DOUBLE",
    "l_returnflag": "VARCHAR", "l_linestatus": "VARCHAR",
    "l_shipdate": "TIMESTAMP",
}

# One aggregate both engines compute exactly: integer counts, sums of
# integer-valued doubles, and decimal sums of 2-decimal money columns.
CHECKSUM_SQL = """
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS n_returned,
       SUM(l_quantity) AS sum_qty,
       SUM(l_linenumber) AS sum_lines,
       SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_price,
       SUM(CAST(l_tax AS DECIMAL(4,2))) AS sum_tax,
       SUM(CAST(l_discount AS DECIMAL(4,2))) AS sum_disc
FROM {table}
"""


def checksum_row(values) -> dict:
    """Engine-neutral form of one CHECKSUM_SQL row."""
    keys = ("n_rows", "n_orders", "n_returned", "sum_qty", "sum_lines",
            "sum_price", "sum_tax", "sum_disc")
    out = {}
    for k, v in zip(keys, values):
        if isinstance(v, Decimal):
            out[k] = str(v.quantize(Decimal("0.01")))
        elif isinstance(v, float):
            out[k] = v
        else:
            out[k] = int(v)
    return out


def connect(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in tables:
        path = os.path.join(data_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def entry_results(con: duckdb.DuckDBPyConnection, oracles: dict[str, str], out_dir: str) -> None:
    """Run each oracle; store its result as ``<out_dir>/<entry>.pkl``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, sql in oracles.items():
        con.execute(sql).fetchdf().to_pickle(os.path.join(out_dir, f"{name}.pkl"))


def etl_expected(con: duckdb.DuckDBPyConnection, etl: dict, statements: list[str]) -> dict:
    """Replay the ETL sequence in DuckDB.

    ``statements`` are DuckDB forms of the workload's DML over table
    ``t`` and view ``lineitem_delta``; the loads are done here from the
    same CSV files the workload reads (the corrupt batch keeps only the
    rows whose every value casts, which is what MAXERROR keeps).
    """
    cols = ", ".join(f"'{k}': '{v}'" for k, v in _LINEITEM_TYPES.items())

    def typed(files):
        lst = ", ".join(f"'{f}'" for f in files)
        return f"SELECT * FROM read_csv([{lst}], header=true, columns={{{cols}}})"

    b3 = ", ".join(f"'{f}'" for f in etl["files"]["b3"])
    casts = ", ".join(f"TRY_CAST({k} AS {v}) AS {k}" for k, v in _LINEITEM_TYPES.items())
    not_null = " AND ".join(f"{k} IS NOT NULL" for k in _LINEITEM_TYPES)
    con.execute(f"CREATE OR REPLACE VIEW lineitem_delta AS SELECT * FROM read_parquet('{etl['delta']}')")
    con.execute(f"CREATE OR REPLACE TABLE t AS {typed(etl['files']['b1'])}")
    b1_rows = con.execute("SELECT COUNT(*) FROM t").fetchone()[0]
    con.execute(f"INSERT INTO t {typed(etl['files']['b2'])}")
    con.execute(
        f"INSERT INTO t SELECT * FROM (SELECT {casts} FROM read_csv([{b3}], "
        f"header=true, all_varchar=true)) WHERE {not_null}"
    )
    for stmt in statements:
        con.execute(stmt)
    final = checksum_row(con.execute(CHECKSUM_SQL.format(table="t")).fetchone())
    return {"b1_rows": int(b1_rows), "final": final}
