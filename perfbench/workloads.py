"""The workloads: what a pass runs and how its outputs are checked.

A pass is a fixed list of operations run one at a time, each waiting
for the previous one (one client, closed loop). Each operation is a
call into the package's public functions; ``check`` compares what it
returned or wrote with the DuckDB-derived expectation and returns a
list of problems ([] when correct). Checks run outside the timed region.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Callable
from dataclasses import dataclass, field

import pandas as pd

from oracle import CHECKSUM_SQL, checksum_row
from tools.check_correctness import compare

# Oracle-backed, read-only Catalyst entries: joins, aggregates, a window,
# Redshift-dialect translation, top-k and a TPC-H multi-join.
SQL_ENTRIES = (
    "q01_pricing_summary",
    "q03_join_revenue_by_nation",
    "q15_window_rank",
    "q25_redshift_dialect",
    "q26_shipping_priority",
    "q63_tpch_q8_market_share",
)

# One entry per LLM-curation operator module: text, dedup (+ connected
# components), similarity (brute-force ANN), multimodal, graph (k-core's
# iterative peeling rounds).
CURATION_ENTRIES = (
    "c08_text_stats",
    "c29_dedup_groups",
    "c06_ann_bruteforce_topk",
    "c64_image_decode_stats",
    "c150_kcore_decomposition",
)

ETL_TABLE = "lineitem_wh"


@dataclass
class Op:
    name: str
    run: Callable[[], object]
    check: Callable[[object], list[str]] = field(default=lambda _result: [])
    # a DML statement: its writes feed dml.rewrite_bytes_ratio
    dml: bool = False
    # checked on every pass when the check costs no Spark work, else on
    # the cold pass and the first warm-up pass only
    every_pass: bool = False


# ------------------------------------------------------------ catalog entries

def catalog_ops(spark, ctx, tracer, names) -> list[Op]:
    """One op per catalog entry: ``build()``, then execute and fetch the
    result. Fetching (rather than a ``noop`` write) lets every pass's
    output be checked without executing the plan a second time."""
    from amazonredshift_blueprints_spark.plans import QUERIES

    def make(name):
        spec = QUERIES[name]
        want = pd.read_pickle(os.path.join(ctx["oracle_dir"], f"{name}.pkl"))

        def run():
            with tracer.span("build", "catalog"):
                df = spec.build(spark, ctx["data_dir"])
            with tracer.span("execute", "catalog"):
                return df.toPandas()

        return Op(name, run, lambda got: compare(name, got, want), every_pass=True)

    return [make(n) for n in names]


def setup_catalog_inputs(spark, ctx) -> None:
    from amazonredshift_blueprints_spark.session import load_table

    for name in ctx["tables"]:
        load_table(spark, ctx["data_dir"], name).createOrReplaceTempView(name)


# ---------------------------------------------------------------------- ETL

_COLS = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate",
)
_KEY = "t.l_orderkey = d.l_orderkey AND t.l_linenumber = d.l_linenumber"

DELETE_SQL = f"DELETE FROM {ETL_TABLE} WHERE l_discount = 0.0 AND l_returnflag = 'N'"
UPDATE_SQL = f"UPDATE {ETL_TABLE} SET l_tax = 0.0 WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00'"
TXN_UPDATE_SQL = (
    f"UPDATE {ETL_TABLE} SET l_quantity = l_quantity + 1 "
    "WHERE l_linestatus = 'O' AND l_returnflag = 'R'"
)
MERGE_SQL = (
    f"MERGE INTO {ETL_TABLE} USING lineitem_delta AS d "
    f"ON {_KEY.replace('t.', ETL_TABLE + '.')} "
    "WHEN MATCHED THEN UPDATE SET "
    + ", ".join(f"{c} = d.{c}" for c in _COLS)
    + " WHEN NOT MATCHED THEN INSERT VALUES ("
    + ", ".join(f"d.{c}" for c in _COLS) + ")"
)
SUMMARY_SQL = (
    f"SELECT l_orderkey, COUNT(*) AS n_lines, SUM(l_quantity) AS qty "
    f"FROM {ETL_TABLE} GROUP BY l_orderkey"
)

# The same DML in DuckDB over table ``t``; MERGE becomes UPDATE ... FROM
# plus INSERT of the unmatched keys. The delta's keys are unique, so each
# target row matches at most one delta row (the target's keys repeat).
DUCKDB_REPLAY = [
    DELETE_SQL.replace(ETL_TABLE, "t"),
    UPDATE_SQL.replace(ETL_TABLE, "t"),
    TXN_UPDATE_SQL.replace(ETL_TABLE, "t"),
    "UPDATE t SET " + ", ".join(f"{c} = d.{c}" for c in _COLS if c not in ("l_orderkey", "l_linenumber"))
    + f" FROM lineitem_delta d WHERE {_KEY}",
    "INSERT INTO t SELECT d.* FROM lineitem_delta d "
    f"WHERE NOT EXISTS (SELECT 1 FROM t WHERE {_KEY})",
]


def _lineitem_schema():
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StringType, StructField,
        StructType, TimestampType,
    )

    types = [LongType(), LongType(), LongType(), IntegerType(), DoubleType(),
             DoubleType(), DoubleType(), DoubleType(), StringType(),
             StringType(), TimestampType()]
    return StructType([StructField(c, t) for c, t in zip(_COLS, types)])


def _csv_rows(paths: list[str]) -> int:
    rows = 0
    for p in paths:
        with open(p, "rb") as fh:
            rows += max(sum(1 for _ in fh) - 1, 0)  # minus the header line
    return rows


def setup_etl_inputs(spark, ctx) -> None:
    spark.read.parquet(ctx["etl"]["delta"]).createOrReplaceTempView("lineitem_delta")


def etl_ops(spark, ctx, tracer) -> list[Op]:
    """The blueprint sequence: discover, load, COPY, COPY MAXERROR, DELETE,
    UPDATE, a transaction (UPDATE + MERGE), then three exports."""
    from amazonredshift_blueprints_spark.export import store_query_results, write_result
    from amazonredshift_blueprints_spark.ingest import (
        find_all_file_matches, find_all_local_file_names, ingest_files,
    )
    from amazonredshift_blueprints_spark.sqlrun import execute_sql

    etl, want = ctx["etl"], ctx["etl_expected"]
    out = os.path.join(ctx["run_dir"], "out")
    summary_csv = os.path.join(out, "order_summary.csv")
    table_dir = os.path.join(out, "table_csv")
    unload_dir = os.path.join(out, "unload_returned")
    final = want["final"]
    state: dict = {}

    def discover():
        names = find_all_local_file_names("in")  # cwd-relative, as upload_file.py
        state["b1"] = sorted(find_all_file_matches(names, r"lineitem_b1_part\d+\.csv$"))
        return state["b1"]

    def check_discover(found):
        want_names = sorted(os.path.basename(p) for p in etl["files"]["b1"])
        got = sorted(os.path.basename(p) for p in found)
        return [] if got == want_names else [f"discovered {got}"]

    def load():
        return ingest_files(spark, state["b1"], ETL_TABLE, insert_method="replace",
                            schema=_lineitem_schema())

    def check_table(_):
        row = spark.sql(CHECKSUM_SQL.format(table=ETL_TABLE)).collect()[0]
        got = checksum_row(list(row))
        return [] if got == final else [f"table checksum {got} != {final}"]

    def txn():
        for stmt in ("BEGIN", TXN_UPDATE_SQL, MERGE_SQL, "COMMIT"):
            execute_sql(spark, stmt)

    def check_summary(n):
        rows = _csv_rows([summary_csv])
        ok = n == rows == final["n_orders"]
        return [] if ok else [f"summary rows returned={n} file={rows} want={final['n_orders']}"]

    def check_table_export(n):
        rows = _csv_rows(glob.glob(os.path.join(table_dir, "part-*")))
        ok = n == rows == final["n_rows"]
        return [] if ok else [f"table export rows returned={n} files={rows} want={final['n_rows']}"]

    def check_unload(_):
        import pyarrow.dataset as ds

        rows = ds.dataset(unload_dir, format="parquet").count_rows()
        return [] if rows == final["n_returned"] else [f"unload rows {rows}"]

    b2_dir = os.path.join(ctx["run_dir"], "in", "b2")
    b3_file = etl["files"]["b3"][0]
    n_bad = etl["rows"]["b3_bad"]
    return [
        Op("discover", discover, check_discover, every_pass=True),
        Op("ingest_replace", load,
           lambda n: [] if n == want["b1_rows"] else [f"ingested {n} rows"], every_pass=True),
        Op("copy_append", lambda: execute_sql(
            spark, f"COPY {ETL_TABLE} FROM '{b2_dir}' CSV IGNOREHEADER 1")),
        Op("copy_maxerror", lambda: execute_sql(
            spark, f"COPY {ETL_TABLE} FROM '{b3_file}' CSV IGNOREHEADER 1 MAXERROR {n_bad}")),
        Op("delete", lambda: execute_sql(spark, DELETE_SQL), dml=True),
        Op("update", lambda: execute_sql(spark, UPDATE_SQL), dml=True),
        Op("txn_update_merge", txn, check_table, dml=True),
        Op("store_query_results", lambda: store_query_results(spark, SUMMARY_SQL, summary_csv),
           check_summary, every_pass=True),
        Op("write_result", lambda: write_result(spark.table(ETL_TABLE), table_dir, single_file=False),
           check_table_export, every_pass=True),
        Op("unload", lambda: execute_sql(
            spark,
            f"UNLOAD ('SELECT * FROM {ETL_TABLE} WHERE l_returnflag = ''R''') "
            f"TO '{unload_dir}' FORMAT PARQUET"), check_unload, every_pass=True),
    ]


TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
CURATION_TABLES = ("documents", "embeddings", "events")

# name -> (fixture tables written as permuted parquet, input set-up, pass builder)
WORKLOADS = {
    "etl_blueprints": ((), setup_etl_inputs, etl_ops),
    "sql_analytics": (TPCH_TABLES, setup_catalog_inputs,
                      lambda spark, ctx, tracer: catalog_ops(spark, ctx, tracer, SQL_ENTRIES)),
    "curation_ops": (CURATION_TABLES, setup_catalog_inputs,
                     lambda spark, ctx, tracer: catalog_ops(spark, ctx, tracer, CURATION_ENTRIES)),
}
