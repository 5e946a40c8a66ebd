"""State store: snapshots, processed intervals, environments.

Reference keeps state in a transactional DB deliberately separate from the
warehouse (state_sync/db/*.py: _snapshots, _environments, _intervals,
_versions tables). The analog here is a JSON-file store with atomic
replace-on-write — same schema, same separation from the data plane; a
production deployment would point this at a JDBC store instead.

Every mutation is one read-modify-write (``_update``) under a lock that
holds across threads and across processes: an in-process ``RLock`` plus an
exclusive ``fcntl.flock`` on one lock file in the state directory, so a
``run`` and a ``plan`` overlapping on one directory lose no write. Readers
take no lock; the atomic replace means they see a whole old or a whole new
file. flock is advisory and local: it holds on a local filesystem, not on
NFS or object-store state directories.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import shutil
import tempfile
import threading
from typing import Iterator, Optional

from sqlmesh_spark.core.snapshot import subtract_intervals


class StateStore:
    SCHEMA_VERSION = 1

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)
        # The scheduler mutates state from DAG-level-parallel threads, and
        # a plan may overlap a run in another process; an unlocked
        # read-modify-write silently drops the other writer's update
        # (which would double-append INCREMENTAL_UNMANAGED on the re-run).
        self._lock = threading.RLock()
        # Set while the lock-owning thread holds the flock: a nested flock
        # on a second open file description would wait on the first forever.
        self._flocked = False
        # File traffic, counted in the one read and the one write function;
        # reads run in many threads at once, so their count has a lock.
        self.reads = self.writes = self.bytes_written = 0
        self._reads_lock = threading.Lock()

    # -- generic ------------------------------------------------------------

    def _file(self, name: str) -> str:
        return os.path.join(self.path, f"_{name}.json")

    def _read(self, name: str) -> dict:
        with self._reads_lock:
            self.reads += 1
        try:
            with open(self._file(name)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def _write(self, name: str, data: dict) -> None:
        # Atomic replace: never leave a torn state file.
        text = json.dumps(data, indent=1, sort_keys=True)
        fd, tmp = tempfile.mkstemp(dir=self.path, prefix=f"_{name}_")
        with os.fdopen(fd, "w") as f:
            f.write(text)
        os.replace(tmp, self._file(name))
        self.writes += 1
        self.bytes_written += len(text)

    @contextlib.contextmanager
    def _locked(self) -> Iterator[None]:
        """Exclusive use of the store across threads and processes; re-entrant."""
        with self._lock:
            if self._flocked:
                yield
                return
            with open(os.path.join(self.path, "_state.lock"), "a") as f:
                fcntl.flock(f, fcntl.LOCK_EX)  # released when f closes
                self._flocked = True
                try:
                    yield
                finally:
                    self._flocked = False

    @contextlib.contextmanager
    def _update(self, name: str) -> Iterator[dict]:
        """The one write path: under the lock, read table ``name``, let the
        caller edit it in place, and write it back unless the edit raises."""
        with self._locked():
            data = self._read(name)
            yield data
            self._write(name, data)

    # -- snapshots (state_sync/db/snapshot.py:59) ---------------------------

    def put_snapshots(self, entries: dict[tuple[str, str], dict]) -> None:
        """ONE read-modify-write for a whole plan's snapshot records, merged
        over the existing ones. A write per snapshot would rewrite the
        whole file each time, O(N²) bytes in model count (87 MB of JSON for
        a 1,000-model apply, tools/scale_orchestration.py); the reference's
        DB-backed state sync likewise batches snapshot pushes."""
        if not entries:
            return
        with self._update("snapshots") as snaps:
            for (name, version), payload in entries.items():
                snaps[f"{name}@{version}"] = payload

    def get_snapshot(self, name: str, version: str) -> Optional[dict]:
        return self._read("snapshots").get(f"{name}@{version}")

    def get_snapshots(self) -> dict[tuple[str, str], dict]:
        """Every snapshot record, by (name, version)."""
        return {tuple(k.rsplit("@", 1)): v for k, v in self._read("snapshots").items()}

    # -- intervals (state_sync/db/interval.py:47) ---------------------------

    def add_interval(self, name: str, version: str, start: int, end: int) -> None:
        with self._update("intervals") as data:
            data.setdefault(f"{name}@{version}", []).append([start, end])

    def get_intervals(self, name: str, version: str) -> list[tuple[int, int]]:
        return [tuple(p) for p in self._read("intervals").get(f"{name}@{version}", [])]

    def remove_intervals(self, name: str, version: str, start: int, end: int) -> None:
        """Subtract [start, end) from the processed set — the state-side
        half of a restatement (plan/builder.py:369): the scheduler then
        sees those intervals as missing and recomputes them."""
        with self._update("intervals") as data:
            key = f"{name}@{version}"
            data[key] = subtract_intervals(data.get(key, []), [(start, end)])

    def forget_snapshots(self, keys: list[tuple[str, str]]) -> None:
        """Drop every processed interval and auto-restatement record of
        these (name, version) snapshots, for when their tables are
        dropped: a later plan that points back at such a version sees it
        unprocessed and rebuilds it."""
        if not keys:
            return
        with self._locked():
            for table in ("intervals", "auto_restatements"):
                with self._update(table) as data:
                    for name, version in keys:
                        data.pop(f"{name}@{version}", None)

    # -- auto restatements (state_sync/db/snapshot.py _auto_restatements) ---

    def put_auto_restatement(self, name: str, version: str, ts: int) -> None:
        """Record the boundary up to which periodic auto-restatement ran
        (kind.py auto_restatement_cron; state table _auto_restatements)."""
        with self._update("auto_restatements") as data:
            data[f"{name}@{version}"] = ts

    def get_auto_restatement(self, name: str, version: str) -> Optional[int]:
        return self._read("auto_restatements").get(f"{name}@{version}")

    # -- environments (state_sync/db/environment.py:33) ---------------------

    def put_environment(self, env: str, snapshots: dict[str, str]) -> None:
        """env → {model_name: version} pointer set (the virtual layer)."""
        with self._update("environments") as envs:
            envs[env] = snapshots

    def get_environment(self, env: str) -> dict[str, str]:
        return self._read("environments").get(env, {})

    def get_environments(self) -> dict[str, dict[str, str]]:
        """Every environment's pointer set, by environment name."""
        return self._read("environments")

    def delete_environment(self, env: str) -> None:
        with self._locked():
            for table in ("environments", "environment_meta"):
                with self._update(table) as data:
                    data.pop(env, None)

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
        with self._update("environment_meta") as meta:
            entry = meta.setdefault(env, {})
            if expiration_ts is not None:
                entry["expiration_ts"] = expiration_ts
            if invalidated is not None:
                entry["invalidated"] = invalidated
            if unpromoted is not None:
                entry["unpromoted"] = unpromoted

    def get_environment_meta(self, env: str) -> dict:
        return self._read("environment_meta").get(env, {})

    # -- environment statements (state_sync/db/environment.py:33
    # _environment_statements table: before_all/after_all per env) ----------

    def put_environment_statements(
        self, env: str, before_all: list[str], after_all: list[str]
    ) -> None:
        with self._update("environment_statements") as data:
            data[env] = {"before_all": before_all, "after_all": after_all}

    def get_environment_statements(self, env: str) -> dict[str, list[str]]:
        return self._read("environment_statements").get(
            env, {"before_all": [], "after_all": []}
        )

    # -- standalone audit results (audit/definition.py:157; results are
    # reported, never blocking) --------------------------------------------

    def put_audit_result(self, env: str, audit: str, violations: int) -> None:
        with self._update("audit_results") as data:
            data.setdefault(env, {})[audit] = violations

    def get_audit_results(self, env: str) -> dict[str, int]:
        return self._read("audit_results").get(env, {})

    # -- export / import (the reference's `sqlmesh state export/import`:
    # state_sync dump with a schema-version stamp, refused on mismatch) ----

    def _tables(self) -> list[str]:
        """The file names of every state table."""
        return sorted(
            f for f in os.listdir(self.path) if f.startswith("_") and f.endswith(".json")
        )

    def export_state(self) -> dict:
        """One versioned JSON blob holding every state table — backup or
        migration payload; processed intervals travel with it, so an
        imported store resumes with zero recompute."""
        with self._locked():
            tables = {f[1:-5]: self._read(f[1:-5]) for f in self._tables()}
            return {"schema_version": self.SCHEMA_VERSION, "tables": tables}

    def import_state(self, blob: dict) -> None:
        got = blob.get("schema_version")
        if got != self.SCHEMA_VERSION:
            raise ValueError(
                f"state schema version mismatch: blob={got} store={self.SCHEMA_VERSION}"
            )
        with self._locked():
            for name, imported in blob["tables"].items():
                with self._update(name) as data:
                    data.clear()
                    data.update(imported)

    # -- migrate / rollback (the reference's `sqlmesh migrate`/`rollback`:
    # state_sync migrations with a pre-migration backup, migration.py) ------

    def current_version(self) -> int:
        """Stored schema version of this state directory (a fresh or
        pre-versioning store reads as version 1 — the first schema)."""
        return int(self._read("meta").get("schema_version", 1))

    def migrate(self) -> bool:
        """Bring the store's on-disk schema to SCHEMA_VERSION, taking a
        full pre-migration backup first (the reference backs up state
        tables before applying migrations and `rollback` restores them).
        Returns True when a migration ran, False when already current.
        Per-version upgrade hooks live in _MIGRATIONS; version 1 has none
        yet — the machinery exists so a future schema change is a hook,
        not a redesign."""
        with self._locked():
            current = self.current_version()
            if current >= self.SCHEMA_VERSION:
                return False
            backup = os.path.join(self.path, "_backup")
            shutil.rmtree(backup, ignore_errors=True)
            os.makedirs(backup)
            for f in self._tables():
                shutil.copy2(os.path.join(self.path, f), os.path.join(backup, f))
            for v in range(current, self.SCHEMA_VERSION):
                hook = self._MIGRATIONS.get(v + 1)
                if hook is not None:
                    hook(self)
            with self._update("meta") as meta:
                meta["schema_version"] = self.SCHEMA_VERSION
                meta["migrated_from"] = current
            return True

    def rollback(self) -> None:
        """Restore the pre-migration backup taken by the last migrate()
        (reference `sqlmesh rollback`). Raises when no backup exists."""
        with self._locked():
            backup = os.path.join(self.path, "_backup")
            if not os.path.isdir(backup):
                raise ValueError("no migration backup to roll back to")
            for f in self._tables():
                os.remove(os.path.join(self.path, f))
            for f in os.listdir(backup):
                shutil.copy2(os.path.join(backup, f), os.path.join(self.path, f))
            shutil.rmtree(backup)

    # version → upgrade hook applied in order by migrate()
    _MIGRATIONS: dict = {}
