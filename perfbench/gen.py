"""Seeded benchmark inputs, made from the repository's fixture tables.

``fixtures/sf0.01`` and ``fixtures/sf0.001`` are unchanged copies of the
deterministic fixture parquet files (seed 42) the test suite and the
DuckDB correctness harness read. A run never invents values: each table
is a seeded row permutation of its fixture, applied with
``pyarrow.Table.take`` and written back with the fixture's schema.
``write_tables`` compares every written footer with the fixture's footer
column by column (physical and logical type, e.g. the timestamp unit of
``events.ts``) and raises on any difference.

The ETL feeds are CSV renderings of a second permutation of the
``lineitem`` fixture, plus a delta table whose values are all taken from
fixture rows. The same seed always gives the same bytes.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def fixture_dir(sf: float) -> str:
    return os.path.join(FIXTURES, f"sf{sf:g}")


def _rng(seed: int, name: str) -> np.random.Generator:
    """One stream per (seed, table): a table's order does not depend on
    which other tables a workload reads."""
    return np.random.default_rng([seed, zlib.crc32(name.encode())])


def make_tables(seed: int, src_dir: str, names) -> dict[str, pa.Table]:
    """Each named fixture table of ``src_dir`` in a seeded row order."""
    out = {}
    for name in names:
        tbl = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        out[name] = tbl.take(pa.array(_rng(seed, name).permutation(tbl.num_rows)))
    return out


def footer_types(path: str) -> list[tuple[str, str, str]]:
    """(column path, physical type, logical type) of every parquet leaf."""
    schema = pq.ParquetFile(path).schema
    return [(c.path, c.physical_type, str(c.logical_type))
            for c in (schema.column(i) for i in range(len(schema)))]


def write_tables(tables: dict[str, pa.Table], src_dir: str, out_dir: str) -> dict[str, int]:
    """Write each table as ``<out_dir>/<name>.parquet``; returns bytes per
    file. Raises if a written footer differs from its fixture's."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        want = footer_types(os.path.join(src_dir, f"{name}.parquet"))
        got = footer_types(path)
        if got != want:
            raise ValueError(f"{name}: parquet footer {got} differs from fixture {want}")
        sizes[name] = os.path.getsize(path)
    return sizes


# ---------------------------------------------------------------- ETL inputs

def _csv_ready(tbl: pa.Table) -> pa.Table:
    """Render timestamps as ``YYYY-MM-DD HH:MM:SS`` text for the CSV files."""
    cols = []
    for field, col in zip(tbl.schema, tbl.columns):
        if pa.types.is_timestamp(field.type):
            col = pc.strftime(col.cast(pa.timestamp("s")), format="%Y-%m-%d %H:%M:%S")
        cols.append(col)
    return pa.table(cols, names=tbl.column_names)


def _write_csv_files(tbl: pa.Table, directory: str, stem: str, n_files: int) -> list[str]:
    os.makedirs(directory, exist_ok=True)
    paths = []
    bounds = np.linspace(0, tbl.num_rows, n_files + 1).astype(int)
    for k in range(n_files):
        path = os.path.join(directory, f"{stem}_part{k}.csv")
        pacsv.write_csv(tbl.slice(bounds[k], bounds[k + 1] - bounds[k]), path)
        paths.append(path)
    return paths


def make_etl_inputs(seed: int, lineitem: pa.Table, orders: pa.Table, in_dir: str) -> dict:
    """The ETL workload's feeds, from a seeded row shuffle of ``lineitem``:

    - batch 1 (~half the rows) and batch 2 (the rest, minus the corrupt
      slice) as CSV files of several parts each, under ``in/b1``, ``in/b2``;
    - a small batch in which a seeded tenth of the rows carries an
      unparseable ``l_quantity``, under ``in/b3``;
    - ``lineitem_delta.parquet`` for a seeded 2% of the orders: one row
      per existing (l_orderkey, l_linenumber) key of those orders with
      another fixture row's price, plus one new line per order (line
      number one past the fixture's largest) copied from a random
      fixture row, which the MERGE inserts. Its keys are unique; the
      fixture's own keys are not (a key can repeat within an order).

    Also writes a decoy file in ``in/b1`` whose name misses the discovery
    regex. Returns paths, row counts and byte counts.
    """
    rng = _rng(seed, "etl")
    n = lineitem.num_rows
    li = _csv_ready(lineitem.take(pa.array(rng.permutation(n))))
    n_bad_batch = max(n // 100, 20)
    n1 = (n - n_bad_batch) // 2
    b1, b2, b3 = li.slice(0, n1), li.slice(n1, n - n1 - n_bad_batch), li.slice(n - n_bad_batch)
    bad = np.zeros(b3.num_rows, dtype=bool)
    bad[rng.choice(b3.num_rows, b3.num_rows // 10, replace=False)] = True
    q = b3.column("l_quantity").to_pylist()
    b3 = b3.set_column(
        b3.column_names.index("l_quantity"), "l_quantity",
        pa.array(["oops" if b else repr(v) for v, b in zip(q, bad)], pa.string()),
    )
    files = {
        "b1": _write_csv_files(b1, os.path.join(in_dir, "b1"), "lineitem_b1", 4),
        "b2": _write_csv_files(b2, os.path.join(in_dir, "b2"), "lineitem_b2", 4),
        "b3": _write_csv_files(b3, os.path.join(in_dir, "b3"), "lineitem_b3", 1),
    }
    decoy = os.path.join(in_dir, "b1", "lineitem_b1_notes.txt")
    with open(decoy, "w") as fh:
        fh.write("not a batch file\n")

    keys = orders.column("o_orderkey").to_numpy()
    picked = np.sort(rng.choice(keys, max(len(keys) // 50, 2), replace=False))
    okey = lineitem.column("l_orderkey").to_numpy()
    line = lineitem.column("l_linenumber").to_numpy()
    rows = np.flatnonzero(np.isin(okey, picked))
    # first row of each (order, line) key, in the table's seeded order
    _, first = np.unique(okey[rows] * 1024 + line[rows], return_index=True)
    upd = lineitem.take(pa.array(np.sort(rows[first])))
    upd = upd.set_column(
        upd.column_names.index("l_extendedprice"), "l_extendedprice",
        lineitem.column("l_extendedprice").take(pa.array(rng.integers(0, n, upd.num_rows))),
    )
    ins = lineitem.take(pa.array(rng.integers(0, n, len(picked))))
    ins = ins.set_column(
        ins.column_names.index("l_orderkey"), "l_orderkey", pa.array(picked, pa.int64()),
    )
    ins = ins.set_column(
        ins.column_names.index("l_linenumber"), "l_linenumber",
        pa.array(np.full(len(picked), int(line.max()) + 1), pa.int32()),
    )
    delta = pa.concat_tables([upd, ins])
    delta_path = os.path.join(in_dir, "lineitem_delta.parquet")
    pq.write_table(delta, delta_path)
    csv_paths = files["b1"] + files["b2"] + files["b3"]
    return {
        "files": files,
        "delta": delta_path,
        "rows": {"b1": b1.num_rows, "b2": b2.num_rows, "b3": b3.num_rows,
                 "b3_bad": int(bad.sum()), "delta": delta.num_rows},
        "csv_bytes": sum(os.path.getsize(p) for p in csv_paths),
        "delta_bytes": os.path.getsize(delta_path),
    }
