"""Snapshots, fingerprints, and interval arithmetic.

Reference: snapshot/definition.py:116 (SnapshotFingerprint — data hash of
rendered query + kind fields, recursively including parents :1891-1901),
:1761 (physical table naming sqlmesh__<schema>.<name>__<version>),
:1922 (merge_intervals), :2033 (missing_intervals with cron flooring and
lookback).

Intervals are half-open [start_ts, end_ts) epoch-second pairs — engine-
agnostic bookkeeping; this is what makes incremental processing restartable
and idempotent at any scale.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import re
from dataclasses import dataclass, field
from typing import Iterable, Mapping, Optional, Sequence

from sqlmesh_spark.core.model import Model

DAY = 86400
HOUR = 3600
HALF_HOUR = 1800
QUARTER_HOUR = 900
FIVE_MINUTE = 300
# Calendar (variable-width) units — sentinels handled by floor_to/next_unit.
MONTH = -1
YEAR = -2

_WS = re.compile(r"\s+")


def _normalize_sql(sql: str, dialect: str = "") -> str:
    """Canonical text for fingerprinting (the reference fingerprints the
    sqlglot-rendered AST, snapshot/definition.py:1861; the analog here is
    the canonical token stream from core/sqlparse.py): comments dropped,
    identifiers/keywords lowercased, whitespace irrelevant — while STRING
    LITERALS keep their exact bytes, so `WHERE s = 'OPEN'` and `= 'open'`
    version differently (the old whole-text lower() conflated them).
    Unlexable text (macro edge cases) falls back to regex normalization."""
    from sqlmesh_spark.core.sqlparse import SqlParseError, tokenize

    try:
        return " ".join(t.value for t in tokenize(sql, dialect))
    except SqlParseError:
        sql = re.sub(r"--[^\n]*", "", sql)
        sql = re.sub(r"/\*.*?\*/", "", sql, flags=re.DOTALL)
        return _WS.sub(" ", sql).strip().lower()


def fingerprint_model(model: Model, parent_fingerprints: Sequence[str] = ()) -> str:
    """Content-addressed version hash: query + kind + kind args + parents
    (snapshot/definition.py:1861 fingerprint_from_node)."""
    h = hashlib.md5()
    h.update(_normalize_sql(model.query, model.dialect).encode())
    h.update(model.kind.value.encode())
    # NUL-delimited entries: without a terminator, {'a': '1b=2'} and
    # {'a': '1', 'b': '2'} would feed identical bytes and collide onto one
    # version hash.
    for k in sorted(model.kind_args):
        h.update(f"{k}={model.kind_args[k]}\x00".encode())
    for k in sorted(model.variables):
        # Blueprint-bound variables change rendered SQL via @VAR lookups.
        h.update(f"var:{k}={model.variables[k]}\x00".encode())
    # Physical layout is part of the DATA hash (reference
    # snapshot/definition.py:1861 hashes partitioned_by/clustered_by):
    # changing partitioning or bucketing must rebuild the table.
    if model.partitioned_by:
        h.update(f"part:{','.join(model.partitioned_by)}".encode())
    if model.clustered_by:
        h.update(f"clus:{','.join(model.clustered_by)}@{model.buckets}".encode())
    if model.storage_format != "parquet":
        h.update(f"fmt:{model.storage_format}".encode())
    for k in sorted(model.physical_properties):
        h.update(f"pprop:{k}={model.physical_properties[k]}\x00".encode())
    for k in sorted(model.session_properties):
        h.update(f"sprop:{k}={model.session_properties[k]}\x00".encode())
    if model.stamp:
        # node.py:131 — versioning lever with no functional change
        h.update(f"stamp:{model.stamp}".encode())
    if model.dialect and model.dialect != "spark":
        # Same query text in a different read dialect renders differently.
        h.update(f"dialect:{model.dialect}".encode())
    for group, stmts in (
        ("pre", model.pre_statements),
        ("post", model.post_statements),
        ("virtual", model.on_virtual_update),
    ):
        for s in stmts:
            h.update(f"{group}:{_normalize_sql(s, model.dialect)}".encode())
    for fp in sorted(parent_fingerprints):
        h.update(fp.encode())
    if model.seed_csv:
        h.update(model.seed_csv.encode())
    return h.hexdigest()[:12]


@dataclass
class Snapshot:
    """Immutable model version bound to a physical table
    (snapshot/definition.py:667)."""

    model: Model
    version: str
    parents: tuple[str, ...] = ()

    @property
    def physical_schema(self) -> str:
        return self.table_name.rsplit(".", 1)[0]

    @property
    def table_name(self) -> str:
        return physical_table(self.model.name, self.version)


def physical_table(name: str, version: str) -> str:
    """snapshot/definition.py:1761 naming discipline: model ``db.t`` at
    ``version`` lives in ``sqlmesh__db.t__<version>``."""
    schema, _, view = name.rpartition(".")
    return f"sqlmesh__{schema or 'default'}.{view}__{version}"


def env_schema(environment: str) -> str:
    """The schema holding an environment's views (the virtual layer)."""
    return "prod_views" if environment == "prod" else f"{environment}_views"


# ---------------------------------------------------------------------------
# Interval arithmetic
# ---------------------------------------------------------------------------


def to_epoch(t: str | dt.datetime) -> int:
    if isinstance(t, dt.datetime):
        return int(t.replace(tzinfo=dt.timezone.utc).timestamp())
    for fmt in ("%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            return int(
                dt.datetime.strptime(t, fmt).replace(tzinfo=dt.timezone.utc).timestamp()
            )
        except ValueError:
            continue
    raise ValueError(f"unparseable time {t!r}")


def from_epoch(e: int) -> str:
    return dt.datetime.fromtimestamp(e, dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


def interval_unit(cron: str) -> int:
    """IntervalUnit from a cron expression — the reference's full ladder
    (node.py:28: YEAR MONTH DAY HOUR HALF_HOUR QUARTER_HOUR FIVE_MINUTE,
    minimum five minutes — node.py:59). Accepts both the @shortcuts and
    5-field cron (the reference estimates the unit from consecutive
    croniter samples; the field-shape classification below lands on the
    same ladder rung for standard expressions)."""
    shortcut = {
        "@yearly": YEAR,
        "@annual": YEAR,
        "@monthly": MONTH,
        "@daily": DAY,
        "@hourly": HOUR,
        "@half_hour": HALF_HOUR,
        "@quarter_hour": QUARTER_HOUR,
        "@five_minute": FIVE_MINUTE,
    }
    if cron in shortcut:
        return shortcut[cron]
    fields = cron.split()
    if len(fields) != 5:
        return DAY
    minute, hour, dom, month, _dow = fields
    if minute.startswith("*/"):
        try:
            step = int(minute[2:])
        except ValueError:
            return DAY
        # Floor to the largest ladder unit <= the cron period (the reference
        # samples consecutive croniter datetimes and picks the largest
        # IntervalUnit that fits — node.py:59; five minutes is the minimum).
        # Ceiling instead (e.g. */10 -> QUARTER_HOUR) would make intervals
        # wait for boundaries coarser than the model's actual cadence.
        if step < 5:
            return FIVE_MINUTE
        period = step * 60
        for unit in (HOUR, HALF_HOUR, QUARTER_HOUR, FIVE_MINUTE):
            if unit <= period:
                return unit
        return FIVE_MINUTE
    if minute == "*":
        return FIVE_MINUTE  # every minute requested; clamp to the floor
    if hour == "*" or hour.startswith("*/"):
        return HOUR
    if dom == "*" or dom.startswith("*/"):
        return DAY
    if month == "*" or month.startswith("*/"):
        return MONTH
    return YEAR


def model_interval_unit(model: "Model") -> int:
    """The model's interval unit: explicit interval_unit override
    (node.py:280) when declared, else computed from cron."""
    if model.interval_unit_override:
        named = {
            "year": YEAR, "month": MONTH, "day": DAY, "hour": HOUR,
            "half_hour": HALF_HOUR, "quarter_hour": QUARTER_HOUR,
            "five_minute": FIVE_MINUTE,
        }
        try:
            return named[model.interval_unit_override]
        except KeyError:
            raise ValueError(
                f"unknown interval_unit {model.interval_unit_override!r} "
                f"(expected one of {sorted(named)})"
            ) from None
    return interval_unit(model.cron)


def floor_to(epoch: int, unit: int) -> int:
    """Floor to a unit boundary. Fixed-width units are epoch-modular;
    calendar units (MONTH/YEAR) floor to the first of the period."""
    if unit == MONTH:
        d = dt.datetime.fromtimestamp(epoch, dt.timezone.utc)
        return to_epoch(d.replace(day=1, hour=0, minute=0, second=0, microsecond=0))
    if unit == YEAR:
        d = dt.datetime.fromtimestamp(epoch, dt.timezone.utc)
        return to_epoch(d.replace(month=1, day=1, hour=0, minute=0, second=0, microsecond=0))
    return epoch - (epoch % unit)


def _safe_month_shift(d: "dt.datetime", year: int, month: int) -> "dt.datetime":
    """Shift to (year, month) clamping day-of-month — an off-boundary
    input (partial interval ends like Mar-30 12:00, leap days) must not
    raise 'day is out of range for month'."""
    import calendar

    day = min(d.day, calendar.monthrange(year, month)[1])
    return d.replace(year=year, month=month, day=day)


def next_unit(epoch: int, unit: int) -> int:
    """The boundary one unit after ``epoch`` (``epoch`` on a boundary)."""
    if unit == MONTH:
        d = dt.datetime.fromtimestamp(epoch, dt.timezone.utc)
        y, m = (d.year + 1, 1) if d.month == 12 else (d.year, d.month + 1)
        return to_epoch(_safe_month_shift(d, y, m))
    if unit == YEAR:
        d = dt.datetime.fromtimestamp(epoch, dt.timezone.utc)
        return to_epoch(_safe_month_shift(d, d.year + 1, d.month))
    return epoch + unit


def prev_unit(epoch: int, unit: int) -> int:
    """The boundary one unit before ``epoch`` (``epoch`` on a boundary)."""
    if unit == MONTH:
        d = dt.datetime.fromtimestamp(epoch, dt.timezone.utc)
        y, m = (d.year - 1, 12) if d.month == 1 else (d.year, d.month - 1)
        return to_epoch(_safe_month_shift(d, y, m))
    if unit == YEAR:
        d = dt.datetime.fromtimestamp(epoch, dt.timezone.utc)
        return to_epoch(_safe_month_shift(d, d.year - 1, d.month))
    return epoch - unit


def merge_intervals(intervals: Iterable[tuple[int, int]]) -> list[tuple[int, int]]:
    """Coalesce adjacent/overlapping [s, e) pairs
    (snapshot/definition.py:1922)."""
    out: list[tuple[int, int]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def subtract_intervals(
    intervals: Iterable[Sequence[int]], removed: Iterable[tuple[int, int]]
) -> list[tuple[int, int]]:
    """The parts of each [s, e) in ``intervals`` that ``removed`` does not
    cover, in input order."""
    cut = merge_intervals(removed)
    out: list[tuple[int, int]] = []
    for s, e in intervals:
        pos = s
        for cs, ce in cut:
            if cs >= e:
                break
            if ce <= pos:
                continue
            if cs > pos:
                out.append((pos, cs))
            pos = ce
        if pos < e:
            out.append((pos, e))
    return out


def missing_intervals(
    start: str | int,
    end: str | int,
    processed: Iterable[tuple[int, int]] = (),
    unit: int = DAY,
    lookback: int = 0,
    allow_partials: bool = False,
) -> list[tuple[int, int]]:
    """Unit-aligned chunks of [start, end) not yet covered by `processed`,
    with `lookback` units re-included behind the watermark for late data
    (snapshot/definition.py:2033 + kind.py:423 lookback semantics).

    A trailing PARTIAL unit (``end`` not on a boundary) is EXCLUDED by
    default — it runs once its unit completes — matching the reference's
    completed-intervals contract; ``allow_partials=True`` (model/meta.py:110)
    includes the partial [floor(end), end) tail chunk, recorded as processed
    only up to ``end`` so the remainder of the unit still runs later."""
    s0 = floor_to(to_epoch(start) if isinstance(start, str) else start, unit)
    raw_end = to_epoch(end) if isinstance(end, str) else end
    f0 = floor_to(raw_end, unit)
    e0 = raw_end if (allow_partials or f0 == raw_end) else f0
    covered = merge_intervals(processed)
    if lookback and covered:
        # Re-open the last `lookback` units of covered history.
        hi = covered[-1][1]
        reopen_from = hi
        for _ in range(lookback):
            reopen_from = prev_unit(reopen_from, unit)
        covered = subtract_intervals(covered, [(reopen_from, hi)])
    missing = subtract_intervals([(s0, e0)], covered)
    # Split to unit chunks so batches are bounded and restartable.
    chunks: list[tuple[int, int]] = []
    for s, e in missing:
        t = s
        while t < e:
            nxt = next_unit(t, unit)
            chunks.append((t, min(nxt, e)))
            t = nxt
    return chunks


def batch_intervals(
    chunks: Sequence[tuple[int, int]], batch_size: Optional[int]
) -> list[tuple[int, int]]:
    """Group contiguous unit chunks into batches of at most batch_size
    (scheduler.py:334; kind.py:421). batch_size=None → one batch per
    contiguous run."""
    if not chunks:
        return []
    batches: list[tuple[int, int]] = []
    run_start, prev_end, n = chunks[0][0], chunks[0][1], 1
    for s, e in chunks[1:]:
        contiguous = s == prev_end
        full = batch_size is not None and n >= batch_size
        if contiguous and not full:
            prev_end, n = e, n + 1
        else:
            batches.append((run_start, prev_end))
            run_start, prev_end, n = s, e, 1
    batches.append((run_start, prev_end))
    return batches


def snapshots_to_dag(snapshots: Mapping[str, Snapshot]) -> list[str]:
    """Topological order over snapshot parents
    (snapshot/definition.py:2317 snapshots_to_dag). Deterministic: ready
    nodes processed in sorted order."""
    pending = {name: set(s.parents) & set(snapshots) for name, s in snapshots.items()}
    order: list[str] = []
    while pending:
        ready = sorted(n for n, deps in pending.items() if not deps)
        if not ready:
            raise ValueError(f"cycle among models: {sorted(pending)}")
        for n in ready:
            order.append(n)
            del pending[n]
        for deps in pending.values():
            deps.difference_update(ready)
    return order
