"""State store: snapshots, processed intervals, environments.

Reference keeps state in a transactional DB deliberately separate from the
warehouse (state_sync/db/*.py: _snapshots, _environments, _intervals,
_versions tables). The analog here is one stdlib SQLite file,
``state.db``: table ``kv`` holds every keyed table (snapshots,
environments, meta, ...) as JSON values and ``intervals`` holds processed
intervals as rows (state_sync/db/interval.py:47); production would use JDBC.

Every mutation is one ``BEGIN IMMEDIATE`` transaction (``_write``): SQLite's
writer lock orders writers across threads and processes, so a ``run`` and a
``plan`` overlapping on one directory lose no write, and a writer that dies
mid-transaction leaves neither its rows nor a lock. WAL readers see the last
commit. The locks hold on local filesystems only, not on NFS or object stores.
"""

from __future__ import annotations

import contextlib
import json
import os
import sqlite3
import threading
from pathlib import Path
from typing import Iterable, Iterator, Optional

from sqlmesh_spark.core.snapshot import subtract_intervals

_SCHEMA = """
CREATE TABLE IF NOT EXISTS kv (tbl TEXT, key TEXT, value TEXT, PRIMARY KEY (tbl, key));
CREATE TABLE IF NOT EXISTS intervals
  (key TEXT, seq INT, start INT, end INT, PRIMARY KEY (key, seq)) WITHOUT ROWID
""".split(";")
# A snapshot's intervals are stored together, numbered in the order added.
_ADD_INTERVAL = """INSERT INTO intervals SELECT ?1, ifnull(max(seq), 0) + 1, ?2, ?3
FROM intervals WHERE key = ?1"""
_INTERVALS = "SELECT start, end FROM intervals WHERE key = ? ORDER BY seq"
_DELETE = "DELETE FROM kv WHERE tbl = ? AND key = ?"
_UPSERT = "INSERT INTO kv VALUES (?, ?, ?) ON CONFLICT (tbl, key) DO UPDATE SET value ="


class StateStore:
    SCHEMA_VERSION = 1

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)
        self._db_file = os.path.join(path, "state.db")
        # A directory written before the SQLite store: one JSON file per table.
        legacy = [] if os.path.exists(self._db_file) else sorted(Path(path).glob("_*.json"))
        # One connection, opened by the first _read or _write (a store never
        # used creates no file), behind one lock (re-entrant: a write may
        # _read), so no thread sees or ends another's transaction.
        self._lock = threading.RLock()
        self._db: Optional[sqlite3.Connection] = None
        # Statement traffic since open: _read calls, committed _write
        # transactions and the JSON value bytes written.
        self.reads = self.writes = self.bytes_written = 0
        if legacy:
            tables = {f.stem[1:]: json.loads(f.read_text()) for f in legacy}
            self.import_state({"schema_version": self.SCHEMA_VERSION, "tables": tables})

    # -- generic ------------------------------------------------------------

    def _read(self, sql: str, *params) -> list[tuple]:
        """The one read path: every SELECT."""
        with self._lock:
            if self._db is None:
                with self._write():  # opens the file and creates the schema
                    pass
            self.reads += 1
            return self._db.execute(sql, params).fetchall()

    @contextlib.contextmanager
    def _write(self) -> Iterator[sqlite3.Connection]:
        """The one write path: one BEGIN IMMEDIATE transaction, committed
        when the caller's block returns and rolled back if it raises. The
        first opens the connection; until one commits (``writes`` is 0),
        each creates the schema, waiting out another process's first open."""
        with self._lock:
            if self._db is None:  # a writer waits 60 s for another's commit
                self._db = sqlite3.connect(
                    self._db_file, timeout=60, isolation_level=None, check_same_thread=False
                )
                # WAL is a property of the file: when two first opens collide
                # on the switch (SQLite refuses one at once), one switch holds.
                self._db.execute("PRAGMA synchronous=NORMAL")
                with contextlib.suppress(sqlite3.OperationalError):
                    self._db.execute("PRAGMA journal_mode=WAL")
            self._db.execute("BEGIN IMMEDIATE")
            try:
                if not self.writes:
                    for ddl in _SCHEMA:
                        self._db.execute(ddl)
                yield self._db
                self._db.execute("COMMIT")
            except BaseException:
                if self._db.in_transaction:  # SQLite may have rolled back
                    self._db.execute("ROLLBACK")
                raise
            self.writes += 1

    def _put(self, db: sqlite3.Connection, tbl: str, items: Iterable, merge=False):
        """Store (key, value) pairs in table ``tbl``: each replaces its key's
        value, or with ``merge`` is patched into it (JSON merge patch)."""
        rows = [(tbl, k, json.dumps(v, sort_keys=True)) for k, v in items]
        new = "json_patch(value, excluded.value)" if merge else "excluded.value"
        db.executemany(f"{_UPSERT} {new}", rows)
        self.bytes_written += sum(len(r[2]) for r in rows)

    def _get(self, tbl: str, key: str):
        rows = self._read("SELECT value FROM kv WHERE tbl = ? AND key = ?", tbl, key)
        return json.loads(rows[0][0]) if rows else None

    def _all(self, tbl: str) -> dict:
        rows = self._read("SELECT key, value FROM kv WHERE tbl = ?", tbl)
        return {k: json.loads(v) for k, v in rows}

    # -- snapshots (state_sync/db/snapshot.py:59) ---------------------------

    def put_snapshots(self, entries: dict[tuple[str, str], dict]) -> None:
        """ONE transaction for a whole plan's snapshot records, each
        replacing its (name, version)'s record; the reference's DB-backed
        state sync likewise batches snapshot pushes. Apply records kind,
        parents, query, rest_fingerprint (the model's own fingerprint with
        its query text and layout taken out: a change there is BREAKING)
        and layout (the TableLayout fields; a forward-only pin must keep
        them)."""
        if not entries:
            return
        rows = [(f"{n}@{v}", e) for (n, v), e in entries.items()]
        with self._write() as db:
            self._put(db, "snapshots", rows)

    def get_snapshot(self, name: str, version: str) -> Optional[dict]:
        return self._get("snapshots", f"{name}@{version}")

    def get_snapshots(self) -> dict[tuple[str, str], dict]:
        """Every snapshot record, by (name, version)."""
        return {tuple(k.rsplit("@", 1)): v for k, v in self._all("snapshots").items()}

    # -- intervals (state_sync/db/interval.py:47) ---------------------------

    def add_interval(self, name: str, version: str, start: int, end: int) -> None:
        with self._write() as db:
            db.execute(_ADD_INTERVAL, (f"{name}@{version}", start, end))

    def get_intervals(self, name: str, version: str) -> list[tuple[int, int]]:
        """The recorded intervals, unmerged, in the order they were added."""
        return self._read(_INTERVALS, f"{name}@{version}")

    def remove_intervals(self, name: str, version: str, start: int, end: int) -> None:
        """Subtract [start, end) from the processed set — the state-side
        half of a restatement (plan/builder.py:369): the scheduler then
        sees those intervals as missing and recomputes them."""
        key = f"{name}@{version}"
        with self._write() as db:
            kept = subtract_intervals(self._read(_INTERVALS, key), [(start, end)])
            db.execute("DELETE FROM intervals WHERE key = ?", (key,))
            db.executemany(_ADD_INTERVAL, [(key, s, e) for s, e in kept])

    def forget_snapshots(self, keys: list[tuple[str, str]]) -> None:
        """Drop every processed interval and auto-restatement record of
        these (name, version) snapshots, for when their tables are
        dropped: a later plan that points back at such a version sees it
        unprocessed and rebuilds it."""
        if not keys:
            return
        ids = [f"{name}@{version}" for name, version in keys]
        with self._write() as db:
            db.executemany("DELETE FROM intervals WHERE key = ?", [(k,) for k in ids])
            db.executemany(_DELETE, [("auto_restatements", k) for k in ids])

    # -- auto restatements (state_sync/db/snapshot.py _auto_restatements) ---

    def put_auto_restatement(self, name: str, version: str, ts: int) -> None:
        """Record the boundary up to which periodic auto-restatement ran
        (kind.py auto_restatement_cron; state table _auto_restatements)."""
        with self._write() as db:
            self._put(db, "auto_restatements", [(f"{name}@{version}", ts)])

    def get_auto_restatement(self, name: str, version: str) -> Optional[int]:
        return self._get("auto_restatements", f"{name}@{version}")

    # -- environments (state_sync/db/environment.py:33) ---------------------

    def put_environment(self, env: str, snapshots: dict[str, str]) -> None:
        """env → {model_name: version} pointer set (the virtual layer)."""
        with self._write() as db:
            self._put(db, "environments", [(env, snapshots)])

    def get_environment(self, env: str) -> dict[str, str]:
        return self._get("environments", env) or {}

    def get_environments(self) -> dict[str, dict[str, str]]:
        """Every environment's pointer set, by environment name."""
        return self._all("environments")

    def delete_environment(self, env: str) -> None:
        with self._write() as db:
            db.executemany(_DELETE, [("environments", env), ("environment_meta", env)])

    # -- environment metadata: TTL + invalidation (base.py:378
    # invalidate_environment; _environments.expiration_ts) ------------------

    def put_environment_meta(
        self,
        env: str,
        expiration_ts: Optional[int] = None,
        invalidated: Optional[bool] = None,
        unpromoted: Optional[list[str]] = None,
    ) -> None:
        """unpromoted: models whose pointer moved to a version that had no
        table to promote, so their view still serves the previous one."""
        fields = dict(
            expiration_ts=expiration_ts, invalidated=invalidated, unpromoted=unpromoted
        )
        patch = {k: v for k, v in fields.items() if v is not None}
        with self._write() as db:
            self._put(db, "environment_meta", [(env, patch)], merge=True)

    def get_environment_meta(self, env: str) -> dict:
        return self._get("environment_meta", env) or {}

    # -- environment statements (state_sync/db/environment.py:33
    # _environment_statements table: before_all/after_all per env) ----------

    def put_environment_statements(
        self, env: str, before_all: list[str], after_all: list[str]
    ) -> None:
        with self._write() as db:
            statements = {"before_all": before_all, "after_all": after_all}
            self._put(db, "environment_statements", [(env, statements)])

    def get_environment_statements(self, env: str) -> dict[str, list[str]]:
        stored = self._get("environment_statements", env)
        return stored or {"before_all": [], "after_all": []}

    # -- standalone audit results (audit/definition.py:157; results are
    # reported, never blocking) --------------------------------------------

    def put_audit_result(self, env: str, audit: str, violations: int) -> None:
        with self._write() as db:
            self._put(db, "audit_results", [(env, {audit: violations})], merge=True)

    def get_audit_results(self, env: str) -> dict[str, int]:
        return self._get("audit_results", env) or {}

    # -- export / import (the reference's `sqlmesh state export/import`:
    # state_sync dump with a schema-version stamp, refused on mismatch) ----

    def export_state(self) -> dict:
        """One versioned JSON blob holding every state table — backup or
        migration payload; processed intervals travel with it, so an
        imported store resumes with zero recompute. One SELECT, so one
        consistent read of both tables."""
        tables: dict[str, dict] = {}
        for tbl, key, value in self._read(
            "SELECT tbl, key, value FROM kv UNION ALL SELECT 'intervals', key,"
            " json_group_array(json_array(start, end))"
            " FROM (SELECT * FROM intervals ORDER BY key, seq) GROUP BY key"
        ):
            tables.setdefault(tbl, {})[key] = json.loads(value)
        return {"schema_version": self.SCHEMA_VERSION, "tables": tables}

    def import_state(self, blob: dict) -> None:
        """Replace the whole store with ``blob``, in one transaction."""
        got = blob.get("schema_version")
        if got != self.SCHEMA_VERSION:
            raise ValueError(
                f"state schema version mismatch: blob={got} store={self.SCHEMA_VERSION}"
            )
        with self._write() as db:
            db.execute("DELETE FROM kv")
            db.execute("DELETE FROM intervals")
            for name, table in blob["tables"].items():
                if name == "intervals":
                    rows = [(k, s, e) for k, pairs in table.items() for s, e in pairs]
                    db.executemany(_ADD_INTERVAL, rows)
                else:
                    self._put(db, name, table.items())

    # -- migrate / rollback (the reference's `sqlmesh migrate`/`rollback`:
    # state_sync migrations with a pre-migration backup, migration.py) ------

    def current_version(self) -> int:
        """Stored schema version of this state directory (a fresh or
        pre-versioning store reads as version 1 — the first schema)."""
        return int(self._all("meta").get("schema_version", 1))

    def migrate(self) -> bool:
        """Bring the store's schema to SCHEMA_VERSION after writing the
        export blob to ``_backup.json`` (the reference backs up state tables
        before migrating, and `rollback` restores them). True when a
        migration ran, False when already current. Per-version upgrade
        hooks live in _MIGRATIONS; version 1 has none yet."""
        current = self.current_version()
        if current >= self.SCHEMA_VERSION:
            return False
        with open(os.path.join(self.path, "_backup.json"), "w") as f:
            json.dump(self.export_state(), f)
        for v in range(current, self.SCHEMA_VERSION):
            hook = self._MIGRATIONS.get(v + 1)
            if hook is not None:
                hook(self)
        with self._write() as db:
            meta = {"schema_version": self.SCHEMA_VERSION, "migrated_from": current}
            self._put(db, "meta", meta.items())
        return True

    def rollback(self) -> None:
        """Restore the pre-migration backup taken by the last migrate()
        (reference `sqlmesh rollback`). Raises when no backup exists."""
        backup = os.path.join(self.path, "_backup.json")
        if not os.path.exists(backup):
            raise ValueError("no migration backup to roll back to")
        self.import_state(json.loads(Path(backup).read_text()))
        os.remove(backup)

    # version → upgrade hook applied in order by migrate()
    _MIGRATIONS: dict = {}
