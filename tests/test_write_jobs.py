"""Spark job-count pins for the ETL write path.

Each load and each DML statement should cost one table write: a
transaction stages lazily and commits by catalog rename, and a load
that creates or replaces its table counts rows on the write itself.
The counts come from Spark's own status tracker — the statement runs
under a fresh job group and the test counts that group's jobs.
"""

from __future__ import annotations

import uuid

from amazonredshift_blueprints_spark.ingest import _clean_stale_location, ingest_files
from amazonredshift_blueprints_spark.sqlrun import execute_sql


def _jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` runs."""
    sc = spark.sparkContext
    group = f"pin_{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the listener bus; drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _fresh(spark, name: str, rows, ddl: str) -> None:
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    _clean_stale_location(spark, name, None)
    spark.createDataFrame(rows, ddl).write.saveAsTable(name)


def _run(spark, *stmts):
    return lambda: [execute_sql(spark, s) for s in stmts]


def test_transaction_costs_no_more_jobs_than_autocommit(spark):
    """BEGIN; UPDATE; MERGE; COMMIT on a plain table pays what the same
    two statements pay without the transaction: the UPDATE writes the
    stage straight from the target (no snapshot copy) and COMMIT
    renames the stage into place (no job at all)."""
    ddl = "k int, v int"
    rows = [(i, i * 10) for i in range(50)]
    _fresh(spark, "t_jobs_src", [(1, -1), (2, -2), (77, 770)], ddl)
    try:
        counts = {}
        for name, txn in (("t_jobs_auto", False), ("t_jobs_txn", True)):
            _fresh(spark, name, rows, ddl)
            stmts = [
                f"UPDATE {name} SET v = v + 1 WHERE k < 10",
                f"MERGE INTO {name} USING t_jobs_src AS s ON {name}.k = s.k "
                "WHEN MATCHED THEN UPDATE SET v = s.v "
                "WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v)",
            ]
            if txn:
                execute_sql(spark, "BEGIN")
                counts[name] = _jobs(spark, _run(spark, *stmts))
                counts["commit"] = _jobs(spark, _run(spark, "COMMIT"))
            else:
                counts[name] = _jobs(spark, _run(spark, *stmts))
        assert counts["commit"] == 0, counts
        assert counts["t_jobs_txn"] + counts["commit"] <= counts["t_jobs_auto"], counts
        auto = sorted(tuple(r) for r in spark.table("t_jobs_auto").collect())
        assert sorted(tuple(r) for r in spark.table("t_jobs_txn").collect()) == auto
        assert (1, -1) in auto and (77, 770) in auto and (5, 51) in auto
    finally:
        for t in ("t_jobs_src", "t_jobs_auto", "t_jobs_txn"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ingest_replace_runs_one_job(spark, tmp_path):
    """A replacing load is one write job: the returned row count rides
    the write (no count of the table afterwards)."""
    path = tmp_path / "load.csv"
    path.write_text("k,v\n" + "".join(f"{i},{i * 2}\n" for i in range(40)))
    spark.sql("DROP TABLE IF EXISTS t_jobs_load")
    _clean_stale_location(spark, "t_jobs_load", None)
    got = {}

    def load():
        got["n"] = ingest_files(
            spark, str(path), "t_jobs_load", insert_method="replace",
            schema="k INT, v INT",
        )

    try:
        assert _jobs(spark, load) == 1
        assert got["n"] == 40 == spark.table("t_jobs_load").count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_jobs_load")


def test_copy_maxerror_within_budget_jobs(spark, tmp_path):
    """COPY MAXERROR within budget: one job fills the tolerant scan's
    cache and brings back the dropped rows for both the MAXERROR gate
    and stl_load_errors, one job writes, and the append counts the
    table afterwards (2 jobs). A full bad-row count plus a globally
    sorted collect of the bad rows used to cost 9 jobs here."""
    path = tmp_path / "dirty.csv"
    path.write_text("k,v\n1,10\n2,twenty\n3,30\n4,forty\n5,50\n")
    spark.sql("DROP TABLE IF EXISTS t_jobs_maxerr")
    _clean_stale_location(spark, "t_jobs_maxerr", None)
    spark.sql("CREATE TABLE t_jobs_maxerr (k INT, v INT) USING parquet")
    try:
        n = _jobs(spark, _run(
            spark, f"COPY t_jobs_maxerr FROM '{path}' CSV IGNOREHEADER 1 MAXERROR 2"
        ))
        assert n == 4
        assert sorted(tuple(r) for r in spark.table("t_jobs_maxerr").collect()) == [
            (1, 10), (3, 30), (5, 50),
        ]
    finally:
        spark.sql("DROP TABLE IF EXISTS t_jobs_maxerr")
