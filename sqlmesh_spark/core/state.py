"""State store: snapshots, processed intervals, environments.

Reference keeps state in a transactional DB deliberately separate from the
warehouse (state_sync/db/*.py: _snapshots, _environments, _intervals,
_versions tables). The analog here is a JSON-file store with atomic
replace-on-write — same schema, same separation from the data plane; a
production deployment would point this at a JDBC store instead.
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
from typing import Optional


class StateStore:
    SCHEMA_VERSION = 1

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)
        # The scheduler mutates state from DAG-level-parallel threads;
        # read-modify-write on a shared file needs mutual exclusion or
        # concurrent add_interval calls silently drop each other's writes
        # (which would double-append INCREMENTAL_UNMANAGED on the re-run).
        self._lock = threading.RLock()

    # -- generic ------------------------------------------------------------

    def _file(self, name: str) -> str:
        return os.path.join(self.path, f"_{name}.json")

    def _read(self, name: str) -> dict:
        try:
            with open(self._file(name)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def _write(self, name: str, data: dict) -> None:
        # Atomic replace: never leave a torn state file.
        fd, tmp = tempfile.mkstemp(dir=self.path, prefix=f"_{name}_")
        with os.fdopen(fd, "w") as f:
            json.dump(data, f, indent=1, sort_keys=True)
        os.replace(tmp, self._file(name))

    # -- snapshots (state_sync/db/snapshot.py:59) ---------------------------

    def put_snapshot(self, name: str, version: str, payload: dict) -> None:
        with self._lock:
            snaps = self._read("snapshots")
            snaps[f"{name}@{version}"] = payload
            self._write("snapshots", snaps)

    def put_snapshots(self, entries: dict[tuple[str, str], dict]) -> None:
        """Bulk form of put_snapshot: ONE read-modify-write for a whole
        plan's snapshot records. The per-call form rewrites the entire
        snapshots file each time, which makes plan application O(N²)
        bytes in model count (measured 87 MB of JSON for a 1,000-model
        apply, tools/scale_orchestration.py); the reference's DB-backed
        state sync likewise batches snapshot pushes. Same file format,
        same atomic replace."""
        if not entries:
            return
        with self._lock:
            snaps = self._read("snapshots")
            for (name, version), payload in entries.items():
                snaps[f"{name}@{version}"] = payload
            self._write("snapshots", snaps)

    def get_snapshot(self, name: str, version: str) -> Optional[dict]:
        return self._read("snapshots").get(f"{name}@{version}")

    # -- intervals (state_sync/db/interval.py:47) ---------------------------

    def add_interval(self, name: str, version: str, start: int, end: int) -> None:
        with self._lock:
            data = self._read("intervals")
            key = f"{name}@{version}"
            data.setdefault(key, []).append([start, end])
            self._write("intervals", data)

    def get_intervals(self, name: str, version: str) -> list[tuple[int, int]]:
        return [tuple(p) for p in self._read("intervals").get(f"{name}@{version}", [])]

    def remove_intervals(self, name: str, version: str, start: int, end: int) -> None:
        """Subtract [start, end) from the processed set — the state-side
        half of a restatement (plan/builder.py:369): the scheduler then
        sees those intervals as missing and recomputes them."""
        with self._lock:
            data = self._read("intervals")
            key = f"{name}@{version}"
            out: list[list[int]] = []
            for s, e in data.get(key, []):
                if e <= start or s >= end:
                    out.append([s, e])
                    continue
                if s < start:
                    out.append([s, start])
                if e > end:
                    out.append([end, e])
            data[key] = out
            self._write("intervals", data)

    def forget_snapshots(self, keys: list[tuple[str, str]]) -> None:
        """Drop every processed interval and auto-restatement record of
        these (name, version) snapshots, for when their tables are
        dropped: a later plan that points back at such a version sees it
        unprocessed and rebuilds it."""
        if not keys:
            return
        with self._lock:
            for table in ("intervals", "auto_restatements"):
                data = self._read(table)
                gone = [k for k in (f"{n}@{v}" for n, v in keys) if k in data]
                for k in gone:
                    del data[k]
                if gone:
                    self._write(table, data)

    # -- auto restatements (state_sync/db/snapshot.py _auto_restatements) ---

    def put_auto_restatement(self, name: str, version: str, ts: int) -> None:
        """Record the boundary up to which periodic auto-restatement ran
        (kind.py auto_restatement_cron; state table _auto_restatements)."""
        with self._lock:
            data = self._read("auto_restatements")
            data[f"{name}@{version}"] = ts
            self._write("auto_restatements", data)

    def get_auto_restatement(self, name: str, version: str) -> Optional[int]:
        return self._read("auto_restatements").get(f"{name}@{version}")

    # -- environments (state_sync/db/environment.py:33) ---------------------

    def put_environment(self, env: str, snapshots: dict[str, str]) -> None:
        """env → {model_name: version} pointer set (the virtual layer)."""
        with self._lock:
            envs = self._read("environments")
            envs[env] = snapshots
            self._write("environments", envs)

    def get_environment(self, env: str) -> dict[str, str]:
        return self._read("environments").get(env, {})

    def get_environments(self) -> dict[str, dict[str, str]]:
        """Every environment's pointer set, by environment name."""
        return self._read("environments")

    def delete_environment(self, env: str) -> None:
        with self._lock:
            envs = self._read("environments")
            envs.pop(env, None)
            self._write("environments", envs)
            meta = self._read("environment_meta")
            meta.pop(env, None)
            self._write("environment_meta", meta)

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
        with self._lock:
            meta = self._read("environment_meta")
            entry = meta.get(env, {})
            if expiration_ts is not None:
                entry["expiration_ts"] = expiration_ts
            if invalidated is not None:
                entry["invalidated"] = invalidated
            if unpromoted is not None:
                entry["unpromoted"] = unpromoted
            meta[env] = entry
            self._write("environment_meta", meta)

    def get_environment_meta(self, env: str) -> dict:
        return self._read("environment_meta").get(env, {})

    # -- environment statements (state_sync/db/environment.py:33
    # _environment_statements table: before_all/after_all per env) ----------

    def put_environment_statements(
        self, env: str, before_all: list[str], after_all: list[str]
    ) -> None:
        with self._lock:
            data = self._read("environment_statements")
            data[env] = {"before_all": before_all, "after_all": after_all}
            self._write("environment_statements", data)

    def get_environment_statements(self, env: str) -> dict[str, list[str]]:
        return self._read("environment_statements").get(
            env, {"before_all": [], "after_all": []}
        )

    # -- standalone audit results (audit/definition.py:157; results are
    # reported, never blocking) --------------------------------------------

    def put_audit_result(self, env: str, audit: str, violations: int) -> None:
        with self._lock:
            data = self._read("audit_results")
            data.setdefault(env, {})[audit] = violations
            self._write("audit_results", data)

    def get_audit_results(self, env: str) -> dict[str, int]:
        return self._read("audit_results").get(env, {})

    # -- export / import (the reference's `sqlmesh state export/import`:
    # state_sync dump with a schema-version stamp, refused on mismatch) ----

    def export_state(self) -> dict:
        """One versioned JSON blob holding every state table — backup or
        migration payload; processed intervals travel with it, so an
        imported store resumes with zero recompute."""
        with self._lock:
            tables = {}
            for f in sorted(os.listdir(self.path)):
                if f.startswith("_") and f.endswith(".json"):
                    tables[f[1:-5]] = self._read(f[1:-5])
            return {"schema_version": self.SCHEMA_VERSION, "tables": tables}

    def import_state(self, blob: dict) -> None:
        got = blob.get("schema_version")
        if got != self.SCHEMA_VERSION:
            raise ValueError(
                f"state schema version mismatch: blob={got} store={self.SCHEMA_VERSION}"
            )
        with self._lock:
            for name, data in blob["tables"].items():
                self._write(name, data)

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
        import shutil

        with self._lock:
            current = self.current_version()
            if current >= self.SCHEMA_VERSION:
                return False
            backup = os.path.join(self.path, "_backup")
            shutil.rmtree(backup, ignore_errors=True)
            os.makedirs(backup)
            for f in os.listdir(self.path):
                if f.startswith("_") and f.endswith(".json"):
                    shutil.copy2(os.path.join(self.path, f), os.path.join(backup, f))
            for v in range(current, self.SCHEMA_VERSION):
                hook = self._MIGRATIONS.get(v + 1)
                if hook is not None:
                    hook(self)
            meta = self._read("meta")
            meta["schema_version"] = self.SCHEMA_VERSION
            meta["migrated_from"] = current
            self._write("meta", meta)
            return True

    def rollback(self) -> None:
        """Restore the pre-migration backup taken by the last migrate()
        (reference `sqlmesh rollback`). Raises when no backup exists."""
        import shutil

        with self._lock:
            backup = os.path.join(self.path, "_backup")
            if not os.path.isdir(backup):
                raise ValueError("no migration backup to roll back to")
            for f in os.listdir(self.path):
                if f.startswith("_") and f.endswith(".json"):
                    os.remove(os.path.join(self.path, f))
            for f in os.listdir(backup):
                shutil.copy2(os.path.join(backup, f), os.path.join(self.path, f))
            shutil.rmtree(backup)

    # version → upgrade hook applied in order by migrate()
    _MIGRATIONS: dict = {}
