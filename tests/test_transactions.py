"""Transaction buffer hardening: crash recovery, partial-commit
preservation, TRUNCATE/DROP refusal, and BEGIN-time database snapshot.

Reference basis: the reference hands scripts to Redshift, which runs
them under real serializable transactions (execute_sql.py:77); these
tests pin the failure-path semantics of the staged-swap buffer that
stands in for that here (transactions.py) — the r9 verdict's crash-mid-
transaction ask plus all four r9 advisor findings.
"""

from __future__ import annotations

import os
import time

import pytest

from amazonredshift_blueprints_spark import transactions
from amazonredshift_blueprints_spark.dml import _lock_dir, clean_stale_locks
from amazonredshift_blueprints_spark.sqlrun import execute_sql


def _warehouse(spark) -> str:
    return os.path.dirname(_lock_dir(spark))


def _make_table(spark, name: str, rows: str = "(1, 'a'), (2, 'b')"):
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(f"CREATE TABLE {name} (k INT, s STRING) USING parquet")
    spark.sql(f"INSERT INTO {name} VALUES {rows}")


def test_truncate_and_drop_refused_inside_transaction(spark):
    """TRUNCATE/DROP TABLE inside BEGIN...COMMIT would bypass the
    staging buffer and hit the real table (then COMMIT would resurrect
    pre-TRUNCATE rows from the stage) — they must refuse loudly, like
    Redshift's cannot-run-in-transaction family (r9 advisor, medium)."""
    _make_table(spark, "t_txn_refuse")
    execute_sql(spark, "BEGIN")
    try:
        with pytest.raises(ValueError, match="transaction block"):
            execute_sql(spark, "TRUNCATE TABLE t_txn_refuse")
        with pytest.raises(ValueError, match="transaction block"):
            execute_sql(spark, "TRUNCATE t_txn_refuse")
        with pytest.raises(ValueError, match="transaction block"):
            execute_sql(spark, "DROP TABLE t_txn_refuse")
    finally:
        execute_sql(spark, "ROLLBACK")
    # outside a transaction both execute normally
    execute_sql(spark, "TRUNCATE TABLE t_txn_refuse")
    assert spark.table("t_txn_refuse").count() == 0
    execute_sql(spark, "DROP TABLE t_txn_refuse")


def test_crash_recovery_janitor_removes_stage_and_dead_lock(spark):
    """Simulated crashed transaction: an orphaned ``_bp_txn_*`` staging
    table plus a lock file recording a dead pid. The janitor must drop
    the stage, remove the dead lock, leave the target untouched, and a
    subsequent transaction on the same table must succeed."""
    _make_table(spark, "t_crash_tgt")
    before = {(r.k, r.s) for r in spark.table("t_crash_tgt").collect()}

    # out-of-band stage, as a killed process would leave it
    stage = "_bp_txn_deadcrash01_0"
    spark.sql(f"DROP TABLE IF EXISTS {stage}")
    spark.table("t_crash_tgt").write.mode("overwrite").saveAsTable(stage)
    # a held lock whose pid no longer exists (beyond linux pid_max)
    key = f"{spark.catalog.currentDatabase().lower()}.t_crash_tgt"
    lock = os.path.join(_lock_dir(spark), f"{key}.lock")
    with open(lock, "w") as f:
        f.write(f"pid=99999999 ts={time.time():.3f}")
    # age the stage past the janitor's gate
    stage_dir = os.path.join(_warehouse(spark), stage)
    old = time.time() - 7200
    os.utime(stage_dir, (old, old))

    dropped = transactions.clean_stale_transactions(spark)
    assert stage in dropped
    assert f"{key}.lock" in dropped
    assert not os.path.exists(lock)
    assert not spark.catalog.tableExists(stage)
    assert {(r.k, r.s) for r in spark.table("t_crash_tgt").collect()} == before

    # the table is writable again inside a fresh transaction
    execute_sql(spark, "BEGIN")
    execute_sql(spark, "INSERT INTO t_crash_tgt VALUES (3, 'c')")
    execute_sql(spark, "COMMIT")
    assert spark.table("t_crash_tgt").count() == len(before) + 1
    spark.sql("DROP TABLE t_crash_tgt")


def test_janitor_age_gate_protects_fresh_and_live_stages(spark):
    """A janitor running while another session's transaction is mid-
    flight must not destroy its freshly written stage (r9 advisor): the
    default 1 h age gate protects recent stages, and THIS session's
    live transaction is protected even at min_age_s=0."""
    _make_table(spark, "t_fresh_tgt")
    fresh = "_bp_txn_freshstage0_0"
    spark.sql(f"DROP TABLE IF EXISTS {fresh}")
    spark.table("t_fresh_tgt").write.mode("overwrite").saveAsTable(fresh)
    try:
        assert fresh not in transactions.clean_stale_transactions(spark)
        assert spark.catalog.tableExists(fresh)
        # live-transaction stages survive even an aggressive janitor
        execute_sql(spark, "BEGIN")
        execute_sql(spark, "INSERT INTO t_fresh_tgt VALUES (9, 'z')")
        txn = transactions.active(spark)
        live_stages = [s for _, s in txn._staged.values()]
        dropped = transactions.clean_stale_transactions(spark, min_age_s=0)
        assert not set(live_stages) & set(dropped)
        # ...while min_age_s=0 does remove the idle orphan regardless of age
        assert fresh in dropped
        execute_sql(spark, "COMMIT")
        assert spark.table("t_fresh_tgt").count() == 3
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {fresh}")
        spark.sql("DROP TABLE IF EXISTS t_fresh_tgt")


def test_live_lock_not_removed_by_janitor(spark):
    """clean_stale_locks must never remove a lock whose holder pid is
    alive — our own pid stands in for a slow-but-alive writer."""
    lock_dir = _lock_dir(spark)
    lock = os.path.join(lock_dir, "default.t_alive.lock")
    with open(lock, "w") as f:
        f.write(f"pid={os.getpid()} ts={time.time():.3f}")
    try:
        assert "default.t_alive.lock" not in clean_stale_locks(spark)
        assert os.path.exists(lock)
    finally:
        os.remove(lock)


def test_pidless_lock_kept_until_age_gate(spark):
    """A lock file with no parseable pid is a writer caught between
    O_CREAT|O_EXCL and the pid write, NOT a dead holder: the janitor
    must keep it until the mtime age gate passes (r10 advisor's
    lost-update race), then remove it."""
    lock_dir = _lock_dir(spark)
    lock = os.path.join(lock_dir, "default.t_midwrite.lock")
    open(lock, "w").close()  # empty: mid-acquisition
    try:
        # fresh: kept at the default gate AND at a generous explicit one
        assert "default.t_midwrite.lock" not in clean_stale_locks(spark)
        assert "default.t_midwrite.lock" not in clean_stale_locks(
            spark, unparseable_age_s=60
        )
        assert os.path.exists(lock)
        # aged past the gate: now removable as genuinely stale debris
        old = time.time() - 120
        os.utime(lock, (old, old))
        assert "default.t_midwrite.lock" in clean_stale_locks(
            spark, unparseable_age_s=60
        )
        assert not os.path.exists(lock)
    finally:
        if os.path.exists(lock):
            os.remove(lock)


def test_commit_failure_preserves_unpublished_stage(spark):
    """If COMMIT's publish fails, the unpublished staged data must be
    preserved and named in the error — not silently destroyed with the
    only copy of the transaction's work (r9 advisor)."""
    _make_table(spark, "t_pubfail")
    execute_sql(spark, "BEGIN")
    execute_sql(spark, "INSERT INTO t_pubfail VALUES (7, 'x')")
    txn = transactions.active(spark)
    (qualified, stage), = txn._staged.values()
    # sabotage the publish: drop the real target out-of-band (bypassing
    # execute_sql's in-transaction guard, as an external process would)
    spark.sql(f"DROP TABLE {qualified}")
    with pytest.raises(RuntimeError, match=stage):
        execute_sql(spark, "COMMIT")
    assert transactions.active(spark) is None  # locks released, txn dead
    # the staged rows survived for manual recovery
    assert spark.catalog.tableExists(stage)
    assert spark.table(stage).count() == 3
    # manual recovery path from the error message works
    spark.sql(f"CREATE TABLE t_pubfail (k INT, s STRING) USING parquet")
    spark.sql(f"INSERT OVERWRITE TABLE t_pubfail SELECT * FROM {stage}")
    assert spark.table("t_pubfail").count() == 3
    spark.sql(f"DROP TABLE {stage}")
    spark.sql("DROP TABLE t_pubfail")


def test_bare_names_resolve_against_begin_database(spark):
    """A USE <db> between statements must not remap an in-transaction
    bare table name to a different lock key/stage (r9 advisor): names
    resolve against the database captured at BEGIN."""
    spark.sql("CREATE DATABASE IF NOT EXISTS txn_otherdb")
    _make_table(spark, "t_dbsnap")
    home = spark.catalog.currentDatabase()
    execute_sql(spark, "BEGIN")
    try:
        txn = transactions.active(spark)
        first = txn.resolve_write("t_dbsnap")
        spark.catalog.setCurrentDatabase("txn_otherdb")
        assert txn.resolve_write("t_dbsnap") == first  # same stage, no re-snapshot
        assert len(txn._staged) == 1
    finally:
        spark.catalog.setCurrentDatabase(home)
        execute_sql(spark, "ROLLBACK")
        spark.sql("DROP TABLE IF EXISTS t_dbsnap")
        spark.sql("DROP DATABASE IF EXISTS txn_otherdb")


def test_execute_prepared_inside_transaction_rolls_back(spark):
    """The q84 docstring's composition claim, pinned: an EXECUTE'd
    INSERT inside BEGIN routes through the staging buffer (read-your-
    writes inside the transaction) and a ROLLBACK discards it."""
    _make_table(spark, "t_prep_txn")
    execute_sql(spark, "PREPARE p_txn (int4, varchar) AS "
                       "INSERT INTO t_prep_txn VALUES ($1, $2)")
    execute_sql(spark, "BEGIN")
    try:
        execute_sql(spark, "EXECUTE p_txn (9, 'z')")
        # read-your-writes: the bare name resolves to the staged view
        assert spark.sql(
            "SELECT count(*) FROM t_prep_txn WHERE k = 9"
        ).first()[0] == 1
    finally:
        execute_sql(spark, "ROLLBACK")
    assert spark.table("t_prep_txn").filter("k = 9").count() == 0
    execute_sql(spark, "DEALLOCATE p_txn")
    spark.sql("DROP TABLE t_prep_txn")


def test_dml_statements_route_through_transaction(spark):
    """Statement-face DELETE/UPDATE inside BEGIN...COMMIT must hit the
    staged copy (via dml's transactions.rewrite_target), so ROLLBACK
    discards them and COMMIT publishes them atomically."""
    from amazonredshift_blueprints_spark.ingest import _clean_stale_location
    from amazonredshift_blueprints_spark.sqlrun import execute_sql

    spark.sql("DROP TABLE IF EXISTS t_txn_dml")
    _clean_stale_location(spark, "t_txn_dml", None)
    clean_stale_locks(spark)  # a crashed earlier run may hold the lock
    spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k int, v int"
    ).write.saveAsTable("t_txn_dml")
    try:
        # rollback: nothing sticks
        execute_sql(spark, "BEGIN")
        execute_sql(spark, "DELETE FROM t_txn_dml WHERE k = 1")
        execute_sql(spark, "UPDATE t_txn_dml SET v = v + 5 WHERE k = 2")
        execute_sql(spark, "ROLLBACK")
        assert {(r.k, r.v) for r in spark.table("t_txn_dml").collect()} == {
            (1, 10), (2, 20), (3, 30),
        }
        # commit: both land
        execute_sql(spark, "BEGIN")
        execute_sql(spark, "DELETE FROM t_txn_dml WHERE k = 1")
        execute_sql(spark, "UPDATE t_txn_dml SET v = v + 5 WHERE k = 2")
        # within the transaction your OWN writes are visible (the
        # staging view shadows the name - Redshift read-your-writes)...
        assert {(r.k, r.v) for r in spark.table("t_txn_dml").collect()} == {
            (2, 25), (3, 30),
        }
        # ...while the REAL table (qualified name bypasses the view)
        # stays untouched until COMMIT publishes
        real = spark.table("spark_catalog.default.t_txn_dml")
        assert {(r.k, r.v) for r in real.collect()} == {
            (1, 10), (2, 20), (3, 30),
        }
        execute_sql(spark, "COMMIT")
        assert {(r.k, r.v) for r in spark.table("t_txn_dml").collect()} == {
            (2, 25), (3, 30),
        }
    finally:
        spark.sql("DROP TABLE IF EXISTS t_txn_dml")


def _partitioned_table(spark, name: str) -> None:
    from amazonredshift_blueprints_spark.ingest import _clean_stale_location

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    _clean_stale_location(spark, name, None)
    spark.sql(
        f"CREATE TABLE {name} (id INT, v STRING, p INT) USING parquet "
        "PARTITIONED BY (p) COMMENT 'keep me' TBLPROPERTIES ('team'='etl')"
    )
    spark.sql(f"INSERT INTO {name} VALUES (1, 'a', 1), (2, 'b', 1), (3, 'c', 2)")


def _execute(spark, stmt: str, in_txn: bool) -> None:
    for s in ["BEGIN", stmt, "COMMIT"] if in_txn else [stmt]:
        execute_sql(spark, s)


@pytest.mark.parametrize("in_txn", [False, True], ids=["autocommit", "transaction"])
def test_dml_keeps_partitioning_comment_and_properties(spark, in_txn):
    """A DELETE must not strip a table's layout. A catalog rename of
    the rewritten stage would drop the partitioning, comment and table
    properties, so such a target is overwritten in place — both by
    autocommit DML and by COMMIT."""
    _partitioned_table(spark, "t_layout")
    try:
        _execute(spark, "DELETE FROM t_layout WHERE id = 1", in_txn)
        got = {(r.id, r.v, r.p) for r in spark.table("t_layout").collect()}
        assert got == {(2, "b", 1), (3, "c", 2)}
        parts = [c.name for c in spark.catalog.listColumns("t_layout") if c.isPartition]
        assert parts == ["p"]
        assert spark.catalog.getTable("t_layout").description == "keep me"
        props = {r.key: r.value for r in spark.sql("SHOW TBLPROPERTIES t_layout").collect()}
        assert props.get("team") == "etl"
    finally:
        spark.sql("DROP TABLE IF EXISTS t_layout")


@pytest.mark.parametrize("in_txn", [False, True], ids=["autocommit", "transaction"])
def test_dml_empties_a_partition_under_dynamic_overwrite(spark, in_txn):
    """The in-place overwrite publishes the table's whole new state, so
    it must replace every partition even when the session uses dynamic
    partition overwrite — which would keep a partition the new state
    has no rows for, silently undoing a DELETE of that partition."""
    key = "spark.sql.sources.partitionOverwriteMode"
    _partitioned_table(spark, "t_dynpart")
    before = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try:
        _execute(spark, "DELETE FROM t_dynpart WHERE p = 2", in_txn)
        got = {(r.id, r.v, r.p) for r in spark.table("t_dynpart").collect()}
        assert got == {(1, "a", 1), (2, "b", 1)}
        assert spark.conf.get(key) == "dynamic"
    finally:
        spark.conf.set(key, before)
        spark.sql("DROP TABLE IF EXISTS t_dynpart")


def test_transaction_stages_in_the_target_database(spark):
    """A target outside the current database gets its stage in its own
    database (a catalog rename cannot cross databases): the first
    DELETE writes the stage there straight from the target, and COMMIT
    publishes it without touching the current database."""
    spark.sql("CREATE DATABASE IF NOT EXISTS txn_stage_db")
    spark.sql("DROP TABLE IF EXISTS txn_stage_db.t_far")
    spark.sql("CREATE TABLE txn_stage_db.t_far (k INT, s STRING) USING parquet")
    spark.sql("INSERT INTO txn_stage_db.t_far VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    try:
        execute_sql(spark, "BEGIN")
        execute_sql(spark, "DELETE FROM txn_stage_db.t_far WHERE k = 2")
        txn = transactions.active(spark)
        (qualified, stage), = txn._staged.values()
        assert stage.startswith("txn_stage_db._bp_txn_")
        assert spark.table(stage).count() == 2
        execute_sql(spark, "COMMIT")
        assert not spark.catalog.tableExists(stage)
        got = {(r.k, r.s) for r in spark.table("txn_stage_db.t_far").collect()}
        assert got == {(1, "a"), (3, "c")}
    finally:
        if transactions.active(spark) is not None:
            execute_sql(spark, "ROLLBACK")
        spark.sql("DROP TABLE IF EXISTS txn_stage_db.t_far")
        spark.sql("DROP DATABASE IF EXISTS txn_stage_db")
