"""Scheduler + snapshot evaluator: interval computation → rendered SQL →
materialization strategy → audits → interval recording.

Reference: Scheduler.run (scheduler.py:259) → merged_missing_intervals
(:1022) → batch_intervals (:334) → SnapshotEvaluator.evaluate
(snapshot/evaluator.py:150, strategies :1693-3200) → audits (:547) →
state_sync.add_interval (:254).

Parallelism: one thread pool per run starts each snapshot as soon as its
in-DAG parents finish, and a failure skips only its descendants — the Spark
scheduler is thread-safe and local[N]/FAIR pools overlap their stages
(utils/concurrency.py:178 concurrent_apply_to_dag equivalent).
"""

from __future__ import annotations

import hashlib
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from typing import Mapping, Optional, Union

from pyspark.sql import DataFrame, SparkSession, functions as F

from sqlmesh_spark import audits as audit_lib
from sqlmesh_spark.adapter import SparkAdapter
from sqlmesh_spark.core.model import Model, ModelKind, _unquote
from sqlmesh_spark.core.signal import check_ready_intervals
from sqlmesh_spark.core.snapshot import (
    Snapshot,
    batch_intervals,
    floor_to,
    from_epoch,
    interval_unit,
    merge_intervals,
    missing_intervals,
    model_interval_unit,
    prev_unit,
    snapshots_to_dag,
    to_epoch,
)
from sqlmesh_spark.core.state import StateStore
from sqlmesh_spark.macros import MacroEvaluator, expand_jinja, temporal_variables
from sqlmesh_spark.operators.scd2 import scd_type_2_query


class AuditError(Exception):
    pass


import contextlib as _contextlib
import threading as _threading

# Serializes evaluations that set session-global Spark confs (see
# SnapshotEvaluator.evaluate); conf-less models never take it.
_SESSION_CONF_LOCK = _threading.Lock()
_NULL_LOCK = _contextlib.nullcontext()


import re as _re


# Custom materialization registry (reference evaluator.py:2812): name →
# fn(evaluator, snapshot, df, start, end). Users register via
# register_custom_materialization().
CUSTOM_MATERIALIZATIONS: dict[str, "t_CustomFn"] = {}


def register_custom_materialization(name: str, fn) -> None:
    CUSTOM_MATERIALIZATIONS[name.lower()] = fn


# Worker threads of a run's snapshot pool and of an apply's promotion pool.
MAX_WORKERS = 4

# Kinds that rebuild the whole table in one batch per run (FULL-refresh
# semantics); they still record the cron intervals a rebuild covered.
WHOLESALE_KINDS = frozenset(
    {ModelKind.FULL, ModelKind.VIEW, ModelKind.SEED, ModelKind.CUSTOM, ModelKind.MANAGED}
)

# What a reference to a model reads (model_relations): a relation name, or
# the EMBEDDED Model whose query renders inline for the interval at hand.
Relation = Union[str, Model]


# Render cache (reference model/cache.py:1-234 caches optimized renders
# keyed by fingerprint): a snapshot's version hash covers its query, kind
# args, and (recursively) its parents, so (version, start, end, mapping)
# fully determines the rendered SQL — a 5,000-model DAG re-planning an
# unchanged project re-renders nothing. Schema-consuming (@STAR/@UNION)
# queries bypass the cache: a forward-only ALTER can change an upstream
# schema without changing any version.
_RENDER_CACHE: dict[tuple, str] = {}
RENDER_STATS = {"hits": 0, "misses": 0}
_RENDER_CACHE_MAX = 4096


class SnapshotEvaluator:
    """kind → materialization strategy dispatch
    (evaluator.py:1643 _evaluation_strategy)."""

    def __init__(
        self,
        spark: SparkSession,
        adapter: Optional[SparkAdapter] = None,
        execution_time: Optional[str] = None,
    ):
        self.spark = spark
        self.adapter = adapter or SparkAdapter(spark)
        # reference plan/run arg execution_time: pins @execution_ts/_ds
        # (defaults to the interval end) — reproducible re-renders.
        self.execution_time = execution_time
        self._schemas: set[str] = set()
        self._schemas_lock = _threading.Lock()

    def create_schema(self, schema: str) -> None:
        """Create a physical schema at most once per evaluator — one per
        run — so first builds running concurrently share one CREATE
        DATABASE instead of each racing its own."""
        with self._schemas_lock:
            if schema not in self._schemas:
                self.adapter.create_schema(schema)
                self._schemas.add(schema)

    def render(
        self,
        snapshot: Snapshot,
        start: str,
        end: str,
        relations: Mapping[str, Relation],
    ) -> str:
        """The snapshot's query as executable Spark SQL for [start, end)
        (render_model_sql), cached."""
        model = snapshot.model
        embedded = [r for r in relations.values() if isinstance(r, Model)]
        cacheable = not any(needs_schemas(m.query) for m in [model, *embedded])
        key = ()
        if cacheable:
            # The key carries a hash of the RAW QUERY TEXT in addition to
            # the version: a forward-only plan pins a snapshot to its OLD
            # version while carrying NEW query text, so version alone no
            # longer determines the rendered SQL (a stale hit would
            # evaluate the old logic and silently drop the change). The
            # same holds for an EMBEDDED parent, whose text is inlined.
            key = (
                snapshot.version,
                _text_hash(model.query),
                model.name,
                start,
                end,
                self.execution_time,
                tuple(sorted((n, _relation_key(r)) for n, r in relations.items())),
            )
            cached = _RENDER_CACHE.get(key)
            if cached is not None:
                RENDER_STATS["hits"] += 1
                return cached
            RENDER_STATS["misses"] += 1
        sql = render_model_sql(
            self.spark, model.query, start, end, relations,
            model=model, this_model=snapshot.table_name,
            execution_time=self.execution_time,
        )
        if cacheable:
            if len(_RENDER_CACHE) >= _RENDER_CACHE_MAX:
                _RENDER_CACHE.clear()
            _RENDER_CACHE[key] = sql
        return sql

    def _run_statements(self, stmts, snapshot, start, end, relations) -> None:
        """Pre/post statements (definition.py:357 render_pre_statements):
        the query's render pipeline, uncached."""
        for stmt in stmts:
            self.spark.sql(
                render_model_sql(
                    self.spark, stmt, start, end, relations,
                    model=snapshot.model, this_model=snapshot.table_name,
                    execution_time=self.execution_time,
                )
            )

    def evaluate(
        self,
        snapshot: Snapshot,
        start: str,
        end: str,
        table_mapping: Mapping[str, Relation],
        is_first_insert: bool,
    ) -> None:
        """Core of evaluator.py:677 _evaluate_snapshot."""
        model = snapshot.model
        if is_first_insert:
            # The physical schema can only be missing when the table may be.
            self.create_schema(snapshot.physical_schema)
        # Pre-statements (evaluator runs them in the same transaction
        # scope as the evaluation — definition.py:156 pre_statements_).
        self._run_statements(model.pre_statements, snapshot, start, end, table_mapping)
        # session_properties (meta.py:109): per-model Spark confs for the
        # duration of this evaluation (shuffle partitions, AQE knobs, ...),
        # restored afterward so models can't leak tuning into each other.
        # Spark confs are SESSION-GLOBAL and the scheduler runs snapshots
        # on a thread pool, so models that declare session_properties
        # serialize behind a lock — otherwise a concurrent model's
        # save/restore interleaving can permanently clobber a conf (and
        # its evaluation would silently run under the other model's
        # tuning). Models without session_properties never touch confs
        # and proceed fully parallel.
        lock = _SESSION_CONF_LOCK if model.session_properties else _NULL_LOCK
        with lock:
            saved: dict[str, object] = {}
            for k, v in model.session_properties.items():
                try:
                    saved[k] = self.spark.conf.get(k)
                except Exception:  # noqa: BLE001 - unset conf
                    saved[k] = None
                self.spark.conf.set(k, v)
            self._evaluate_scoped(
                snapshot, start, end, table_mapping, is_first_insert, saved
            )

    def _evaluate_scoped(
        self, snapshot, start, end, table_mapping, is_first_insert, saved
    ) -> None:
        model = snapshot.model
        # Explicit success flag rather than inspecting __context__ on the
        # post-statement exception: PySpark raises converted exceptions
        # inside its own except handlers (`raise ... from None` still sets
        # __context__), so __context__ is set even when OUR evaluation
        # succeeded — the old check silently swallowed real post failures.
        evaluation_raised = True
        try:
            self._evaluate_inner(snapshot, start, end, table_mapping, is_first_insert)
            # physical_properties (meta.py:107) → TBLPROPERTIES on the
            # physical snapshot table (views excluded), re-applied after
            # every write since full refreshes recreate the table.
            if model.physical_properties and model.kind != ModelKind.VIEW and \
                    self.adapter.table_exists(snapshot.table_name):
                props = ", ".join(
                    f"'{k}' = '{v}'" for k, v in sorted(model.physical_properties.items())
                )
                self.spark.sql(
                    f"ALTER TABLE {snapshot.table_name} SET TBLPROPERTIES ({props})"
                )
            evaluation_raised = False
        finally:
            # Post-statements run even when the evaluation fails — they
            # release what pre-statements acquired (caches, temp objects).
            # They run INSIDE the conf scope (the same-scope contract with
            # pre-statements). A post failure during an in-flight
            # evaluation exception is logged, never allowed to MASK it; a
            # post failure after a SUCCESSFUL evaluation propagates.
            try:
                self._run_statements(
                    model.post_statements, snapshot, start, end, table_mapping
                )
            except Exception:  # noqa: BLE001
                import logging as _logging

                _logging.getLogger("sqlmesh_spark").exception(
                    "post-statement failed for %s", model.name
                )
                if not evaluation_raised:
                    raise
            finally:
                for k, v in saved.items():
                    if v is None:
                        self.spark.conf.unset(k)
                    else:
                        self.spark.conf.set(k, v)

    def create_table(self, snapshot: Snapshot, columns: Mapping[str, str]) -> None:
        """Create the snapshot's physical table: the query's output
        ``columns`` in the model's layout (Model.layout), engine-managed
        columns included. The one creation point of every snapshot table;
        evaluation and empty_backfill share it (evaluator.py:677 create
        stage)."""
        self.adapter.create_table(snapshot.table_name, columns, snapshot.model.layout)

    def _evaluate_inner(
        self,
        snapshot: Snapshot,
        start: str,
        end: str,
        table_mapping: Mapping[str, Relation],
        is_first_insert: bool,
    ) -> None:
        model = snapshot.model
        adapter = self.adapter
        table = snapshot.table_name
        if model.kind == ModelKind.SEED:
            df = adapter.seed_frame(model.seed_csv or "", model.columns)
        elif model.python_fn is not None:
            # Python model: call the function with an execution context
            # (model/definition.py:1896-1941 render path; DataFrames are
            # first-class returns per spark.py:224-231).
            from sqlmesh_spark.core.python_model import ExecutionContext

            df = model.python_fn(
                ExecutionContext(self.spark, start, end, dict(table_mapping))
            )
            # Generator models (definition.py:1896-1941: the evaluator
            # consumes generators frame-by-frame) — union the yielded
            # frames; each stays lazy, so this is a plan-level UNION ALL.
            if not isinstance(df, DataFrame):
                from functools import reduce

                frames = list(df)
                if not frames:
                    raise ValueError(f"python model {model.name} yielded no frames")
                df = reduce(lambda a, b: a.unionByName(b), frames)
        else:
            if (
                is_first_insert
                and "@this_model" in model.query
                and model.kind
                in (
                    ModelKind.INCREMENTAL_BY_TIME_RANGE,
                    ModelKind.INCREMENTAL_BY_UNIQUE_KEY,
                    ModelKind.INCREMENTAL_UNMANAGED,
                )
                and not adapter.table_exists(table)
            ):
                # Self-referencing incremental (depends_on_past): the query
                # reads its own previous state, so ANALYSIS needs the table
                # to exist before the first batch renders. The reference
                # creates it from columns_to_types (evaluator create stage);
                # self-reference makes inference circular, so declared
                # columns are required.
                if not model.columns:
                    raise ValueError(
                        f"self-referencing model {model.name} must declare "
                        "columns (...) — the table is created from them "
                        "before the first batch"
                    )
                self.create_table(snapshot, model.columns)
            query = self.render(snapshot, start, end, table_mapping)
            if model.kind == ModelKind.VIEW:
                adapter.create_view(table, query)
                return
            df = self.spark.sql(query)
        if model.kind == ModelKind.CUSTOM:
            # Custom materialization plugin point (evaluator.py:2812
            # CustomMaterialization): a registered strategy owns the table.
            name = model.kind_args.get("materialization", "")
            CUSTOM_MATERIALIZATIONS[name](self, snapshot, df, start, end)
            return
        # Create table if absent, then the kind's write: a first write into
        # the fresh, empty table is an append for every kind.
        first = is_first_insert and not adapter.table_exists(table)
        if first:
            self.create_table(snapshot, dict(df.dtypes))
        if model.kind in WHOLESALE_KINDS:
            # VIEW-with-python materializes (a view cannot capture a
            # DataFrame). MANAGED (EngineManagedStrategy, evaluator.py:3089)
            # has no self-refreshing table on OSS Spark, so each missing
            # cron interval performs the engine's refresh as a FULL rebuild.
            if first:
                adapter.insert_append(table, df)
            else:
                adapter.replace_query(table, df, model.layout)
        elif model.kind == ModelKind.INCREMENTAL_BY_TIME_RANGE:
            time_col = model.time_column or "ds"
            if model.partition_by_time:
                # The derived day column the layout partitions on, so
                # interval overwrites prune to exactly the touched partitions.
                df = df.withColumn("_ds", F.date_format(F.col(time_col), "yyyy-MM-dd"))
            adapter.insert_overwrite_by_time_partition(
                table, df, time_col, start, end, model.layout
            )
        elif model.kind == ModelKind.INCREMENTAL_BY_UNIQUE_KEY:
            if first:
                adapter.insert_append(table, df)
            else:
                adapter.merge(table, df, model.unique_key, model.layout)
        elif model.kind == ModelKind.INCREMENTAL_BY_PARTITION:
            adapter.insert_overwrite_by_partition(table, df)
        elif model.kind == ModelKind.INCREMENTAL_UNMANAGED:
            adapter.insert_append(table, df)
        elif model.kind in (ModelKind.SCD_TYPE_2_BY_TIME, ModelKind.SCD_TYPE_2_BY_COLUMN):
            # SCD2 consumes the source as SQL text; a python model's frame
            # goes through a temp view handle.
            if model.python_fn is not None:
                view = f"_py_src_{snapshot.version}"
                df.createOrReplaceTempView(view)
                query = f"SELECT * FROM {view}"
            self._evaluate_scd2(snapshot, query, df.columns, end, first)
        else:  # pragma: no cover
            raise NotImplementedError(model.kind)

    def _evaluate_scd2(
        self, snapshot: Snapshot, source_sql: str, source_cols: list[str], end: str, first: bool
    ) -> None:
        model = snapshot.model
        adapter = self.adapter
        table = snapshot.table_name
        kwargs: dict = dict(
            target_sql=f"SELECT * FROM {table}",
            source_sql=source_sql,
            unique_key=model.unique_key,
            columns=source_cols,
            execution_ts=end,
            truncate=first,
        )
        if model.kind == ModelKind.SCD_TYPE_2_BY_TIME:
            kwargs["updated_at_col"] = model.kind_args.get("updated_at_name", "updated_at")
        else:
            check = model.kind_args.get("columns", "")
            kwargs["check_columns"] = tuple(
                c.strip() for c in check.split(",") if c.strip()
            ) or tuple(c for c in source_cols if c not in model.unique_key)
        # partition_by_current: opt the dimension into the copy-on-write
        # tail (backends.py scd2_apply_cow) — the table partitions on the
        # engine-managed _is_current flag, closed history is APPEND-ONLY,
        # and each apply rewrites O(|current| + |batch|), never O(history).
        # The _is_current column stays physical-only: the virtual layer
        # view hides the layout's engine-managed partition columns (plan.py
        # promote).
        if model.partition_by_current:
            changes = self.spark.sql(scd_type_2_query(changes_only=True, **kwargs))
            adapter.backend.scd2_apply_cow(table, changes)
        elif first:
            adapter.insert_append(table, self.spark.sql(scd_type_2_query(**kwargs)))
        else:
            adapter.replace_query(
                table, self.spark.sql(scd_type_2_query(**kwargs)), model.layout
            )

    # -- audits (evaluator.py:547; scheduler.py:887) ------------------------

    def run_audits(
        self,
        snapshot: Snapshot,
        start: Optional[str] = None,
        end: Optional[str] = None,
    ) -> list[str]:
        """Returns BLOCKING failures; non-blocking audits (audit arg
        `blocking = false`, audit/definition.py blocking flag) only warn.

        When the model is incremental with a time column and [start, end)
        is given, audits scope to the just-written interval (the
        reference renders @this_model with the evaluated batch —
        audit/definition.py:194): the audit cost is O(batch), never
        O(table) — the difference between auditable and un-auditable at
        100 TB. Whole-table audits remain for wholesale kinds."""
        import logging

        relation = snapshot.table_name
        tc = snapshot.model.time_column
        if start is not None and end is not None and tc:
            relation = (
                f"(SELECT * FROM {snapshot.table_name} "
                f"WHERE {tc} >= CAST('{start}' AS TIMESTAMP) "
                f"AND {tc} < CAST('{end}' AS TIMESTAMP)) AS _audit_scope"
            )
        failures = []
        custom = getattr(self, "custom_audits", {})
        for name, args in snapshot.model.audits:
            kwargs = dict(args)
            if name in custom:
                # Custom model audit (audit/definition.py:121): render its
                # violation query with @this_model bound to the audited
                # relation and defaults/args bound as @vars.
                audit_def = custom[name]
                blocking_default = "true" if audit_def.blocking else "false"
                blocking = (
                    _unquote(str(kwargs.pop("blocking", blocking_default))).lower()
                    != "false"
                )
                variables: dict[str, str] = {"this_model": relation}
                for k, v in {**audit_def.defaults, **kwargs}.items():
                    # Args are RAW tokens: numbers and 'quoted' string
                    # literals bind verbatim, and a bare identifier binds
                    # verbatim too — i.e. as a COLUMN REFERENCE, not a
                    # quoted constant. (Quoting everything non-numeric made
                    # `column = some_col` a constant string, so the audit
                    # vacuously passed — the safety check silently off.)
                    variables[k] = v if isinstance(v, str) else str(v)
                sql = MacroEvaluator(variables=variables).render(audit_def.query)
            else:
                fn = getattr(audit_lib, name, None)
                if fn is None:
                    raise AuditError(
                        f"unknown audit {name!r} on {snapshot.model.name}"
                    )
                blocking = (
                    _unquote(str(kwargs.pop("blocking", "true"))).lower() != "false"
                )
                # SQL-level audits take the physical table as relation.
                # Builtin audit fns expect UNQUOTED scalar args (they quote
                # internally where needed) — strip the raw tokens' quotes.
                kwargs = {
                    k: _unquote(v) if isinstance(v, str) else v
                    for k, v in kwargs.items()
                }
                sql = fn(table=relation, dialect=audit_lib.SPARK, **kwargs)
            # isEmpty, not limit(1).count(): a LIMIT's generated code
            # carries a per-query counter name, so it never hits the
            # codegen cache and every audit would recompile.
            if not self.spark.sql(sql).isEmpty():
                if blocking:
                    failures.append(name)
                else:
                    logging.getLogger("sqlmesh_spark").warning(
                        "non-blocking audit %s failed on %s", name, snapshot.model.name
                    )
        return failures


def model_relations(snapshots: Mapping[str, Snapshot]) -> dict[str, Relation]:
    """Logical model name → what a reference to it reads: the snapshot's
    physical table; EXTERNAL models read themselves; EMBEDDED models map
    to their Model, whose query render_model_sql inlines per interval."""
    out: dict[str, Relation] = {}
    for name, s in snapshots.items():
        if s.model.kind == ModelKind.EMBEDDED:
            out[name] = s.model
        elif s.model.kind == ModelKind.EXTERNAL:
            out[name] = name
        else:
            out[name] = s.table_name
    return out


def render_model_sql(
    spark: SparkSession,
    text: str,
    start: str,
    end: str,
    relations: Mapping[str, Relation],
    model: Optional[Model] = None,
    this_model: str = "",
    execution_time: Optional[str] = None,
    dialect: Optional[str] = None,
    variables: Optional[Mapping[str, str]] = None,
) -> str:
    """Model text (a query or a pre/post/on_virtual_update statement) as
    executable Spark SQL for [start, end) — renderer.py:527 +
    _resolve_tables, the one render path every surface shares:

    1. bind variables: temporal, then ``this_model``/``model_kind_name``
       (renderer.py:140-151), then ``model.variables`` (blueprint and
       config values, definition.py:2035), then ``variables``;
    2. expand the Jinja block, then macros, feeding @STAR/@UNION the
       schemas of the relations the text reads (render-time type
       inference, definition.py:1449);
    3. transpile the read dialect (``dialect`` overrides the model's)
       after macros, which emit Spark SQL, and before resolution, since
       transpile never touches table names (renderer.py:517);
    4. resolve model references through ``relations``.
    """
    bound = temporal_variables(start, end, execution=execution_time)
    if model is not None:
        bound["this_model"] = this_model
        # Pre-quoted literal form, for statements that need the resolved
        # name as a STRING (logs, messages) rather than a table ref.
        bound["this_model_name"] = f"'{this_model}'"
        bound["model_kind_name"] = f"'{model.kind.value}'"
        bound.update(model.variables)
        if dialect is None:
            dialect = model.dialect
    bound.update(variables or {})
    resolved: dict[str, str] = {}

    def resolve(name: str) -> str:
        if name not in resolved:
            rel = relations.get(name, name)
            resolved[name] = rel if isinstance(rel, str) else "(" + render_model_sql(
                spark, rel.query, start, end, relations, model=rel,
                this_model=rel.name, execution_time=execution_time,
            ) + ")"
        return resolved[name]

    schemas: dict[str, dict[str, str]] = {}
    if model is not None and needs_schemas(text):
        lowered = text.lower()
        named = {n for n in relations if n in lowered}
        for dep in sorted(set(model.depends_on) | named):
            try:
                schemas[dep] = dict(
                    spark.sql(f"SELECT * FROM {resolve(dep)}").limit(0).dtypes
                )
            except Exception:  # noqa: BLE001 — the macro raises if needed
                continue
    sql = MacroEvaluator(variables=bound, schemas=schemas).render(expand_jinja(text, bound))
    if dialect and dialect != "spark":
        from sqlmesh_spark.core.transpile import transpile

        sql = transpile(sql, dialect)
    return _replace_table_refs(sql, relations, resolve)


def _replace_table_refs(sql: str, relations: Mapping[str, Relation], resolve) -> str:
    """One pass over ``sql`` replacing each whole-name reference to a key
    of ``relations`` (longest first, so db.a.b wins over db.a) by
    ``resolve(name)``. Replaced text is never rescanned, and the
    replacement is a callable: an inlined EMBEDDED query may carry
    backslashes (regexp_extract patterns) that a template string would
    reinterpret ('bad escape \\d')."""
    lowered = sql.lower()
    names = sorted((n for n in relations if n in lowered), key=len, reverse=True)
    if not names:
        return sql
    pattern = "|".join(_re.escape(n) for n in names)
    return _re.sub(
        rf"(?<![\w.])(?:{pattern})(?![\w.])",
        lambda m: resolve(m.group(0).lower()),
        sql,
        flags=_re.IGNORECASE,
    )


_STAR_RE = _re.compile(r"@(STAR|UNION)\s*\(", _re.IGNORECASE)


def needs_schemas(text: str) -> bool:
    return bool(_STAR_RE.search(text))


def _text_hash(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()[:12]


def _relation_key(rel: Relation):
    """Render-cache key part of one relation: its name, or everything of
    an EMBEDDED model that reaches the inlined text."""
    if isinstance(rel, str):
        return rel
    return (_text_hash(rel.query), rel.dialect, tuple(sorted(rel.variables.items())))


def _weekly_cron_boundary(epoch: int, dow_field: str) -> int:
    """Most recent occurrence (epoch seconds, UTC midnight) of a weekly
    cron's day-of-week at or before ``epoch``.

    A bare ``epoch // 7d`` floor lands on Thursdays (epoch day 0,
    1970-01-01, was a Thursday), so ``'0 0 * * 1'`` would restate on a
    Thursday grid — up to 6 days off the declared Monday. Anchor the
    7-day grid to the cron's target day instead. Lists/ranges/steps in
    the field use their FIRST day (one weekly cadence per model).
    """
    dow_names = {
        "sun": 0, "mon": 1, "tue": 2, "wed": 3, "thu": 4, "fri": 5, "sat": 6,
    }
    tok = _re.split(r"[,/-]", dow_field)[0].strip().lower()
    if tok.isdigit():
        cron_dow = int(tok) % 7  # cron allows 7 == Sunday
    elif tok[:3] in dow_names:
        cron_dow = dow_names[tok[:3]]
    else:
        # Defaulting would silently reintroduce the Thursday grid this
        # function exists to fix — unsupported fields fail loudly.
        raise ValueError(
            f"unsupported day-of-week field {dow_field!r} in "
            "auto_restatement_cron; use 0-7 or SUN..SAT"
        )
    # epoch day d falls on cron dow w exactly when d % 7 == (w - 4) % 7.
    off = ((cron_dow - 4) % 7) * 86400
    week = 7 * 86400
    return (epoch - off) // week * week + off


def missing_chunks(
    model: Model, start: str, end: str, processed: list, ignore_cron: bool = False
) -> list[tuple[int, int]]:
    """The unit chunks of [start, end) a run still owes ``model`` after its
    ``processed`` intervals, before signal gating — the one answer the
    scheduler and ``check_intervals`` share. The window opens at the
    model's own ``start``; lookback applies to incremental kinds only;
    EMBEDDED and EXTERNAL models are never built."""
    if model.kind in (ModelKind.EMBEDDED, ModelKind.EXTERNAL):
        return []
    return missing_intervals(
        model.start or start,
        end,
        processed,
        unit=model_interval_unit(model),
        lookback=0 if model.kind in WHOLESALE_KINDS else model.lookback,
        allow_partials=model.allow_partials or ignore_cron,
    )


class Scheduler:
    """Missing-interval computation + DAG-ordered (parallel) evaluation
    (scheduler.py:259 run)."""

    def __init__(
        self,
        spark: SparkSession,
        state: StateStore,
        snapshots: Mapping[str, Snapshot],
        custom_audits: Optional[Mapping[str, object]] = None,
        execution_time: Optional[str] = None,
        ignore_cron: bool = False,
        backfill_models: Optional[set] = None,
    ):
        self.state = state
        self.snapshots = dict(snapshots)
        # reference run arg ignore_cron: process the trailing partial unit
        # regardless of cron completion (allow_partials for every model,
        # one run only).
        self.ignore_cron = ignore_cron
        # reference plan arg backfill_models: restrict interval processing
        # to these models; everything else gets snapshots and views only.
        self.backfill_models = backfill_models
        self.evaluator = SnapshotEvaluator(spark, execution_time=execution_time)
        self.evaluator.custom_audits = dict(custom_audits or {})

    def run(self, start: str, end: str) -> dict[str, int]:
        """Backfill every snapshot's missing intervals, each as soon as its
        in-DAG parents finish (concurrent_apply_to_dag analog). A failure
        skips only its descendants; once the pool drains, the first failure
        in DAG order re-raises with a note naming the failed and skipped
        models. Returns {model: n_batches_executed}."""
        order = snapshots_to_dag(self.snapshots)
        mapping = model_relations(self.snapshots)
        known = set(order)
        parents = {n: set(self.snapshots[n].parents) & known for n in order}
        children: dict[str, list[str]] = {n: [] for n in order}
        for n in order:
            for p in parents[n]:
                children[p].append(n)
        executed: dict[str, int] = {}
        failed: dict[str, Exception] = {}
        # Models whose data this run rewrote: a wholesale child rebuilds
        # over them even when its own window is processed. An EMBEDDED
        # model passes its parents' changes on (it is inlined, not built).
        changed: set[str] = set()
        ready = [n for n in order if not parents[n]]
        running: dict[Future, str] = {}
        with ThreadPoolExecutor(max_workers=MAX_WORKERS) as pool:
            while ready or running:
                for n in ready:
                    running[pool.submit(
                        self._run_snapshot, self.snapshots[n], start, end, mapping,
                        upstream_changed=bool(parents[n] & changed),
                    )] = n
                finished, _ = wait(running, return_when=FIRST_COMPLETED)
                ready = []
                for future in finished:
                    n = running.pop(future)
                    try:
                        executed[n] = future.result()
                    except Exception as exc:
                        failed[n] = exc  # its descendants never become ready
                        continue
                    if executed[n] or (
                        self.snapshots[n].model.kind == ModelKind.EMBEDDED
                        and parents[n] & changed
                    ):
                        changed.add(n)
                    ready += [c for c in children[n] if parents[c] <= executed.keys()]
        if failed:
            names = [n for n in order if n in failed]
            skipped = [n for n in order if n not in executed and n not in failed]
            failed[names[0]].add_note(f"failed: {names}; skipped descendants: {skipped}")
            raise failed[names[0]]
        return executed

    def _run_snapshot(
        self,
        snapshot: Snapshot,
        start: str,
        end: str,
        mapping: Mapping[str, Relation],
        upstream_changed: bool = False,
    ) -> int:
        model = snapshot.model
        if self.backfill_models is not None and model.name not in self.backfill_models:
            return 0
        if model.kind in (ModelKind.EMBEDDED, ModelKind.EXTERNAL):
            return 0
        processed = self.state.get_intervals(model.name, snapshot.version)

        # Periodic auto-restatement (kind.py auto_restatement_cron /
        # auto_restatement_intervals; recorded in _auto_restatements): when
        # a new auto-restatement period begins, the trailing N model-cron
        # intervals are dropped from state so this run recomputes them —
        # scheduled healing for slowly-settling upstream data, without a
        # manual restate.
        ar_cron = model.kind_args.get("auto_restatement_cron", "").strip("'\"")
        if ar_cron and processed:
            ar_n = int(model.kind_args.get("auto_restatement_intervals", "1").strip("'\"") or 1)
            # Weekly crons ('0 0 * * 1': dow restricted, dom free) have no
            # rung on the interval-unit ladder — interval_unit would floor
            # them to DAY and fire the restatement EVERY day (7× the
            # intended recompute). Use a fixed 7-day cadence for them.
            ar_fields = ar_cron.split()
            if (
                len(ar_fields) == 5
                and ar_fields[2] == "*"
                and ar_fields[4] not in ("*", "?")
                # `*/N` step fields fire multiple days a week — not a
                # weekly cadence; they stay on the interval-unit ladder.
                and not ar_fields[4].startswith("*")
            ):
                boundary = _weekly_cron_boundary(to_epoch(end), ar_fields[4])
            else:
                boundary = floor_to(to_epoch(end), interval_unit(ar_cron))
            last = self.state.get_auto_restatement(model.name, snapshot.version)
            if last is None or last < boundary:
                hi = max(e for _, e in processed)
                lo = hi
                for _ in range(ar_n):
                    lo = prev_unit(lo, model_interval_unit(model))
                self.state.remove_intervals(model.name, snapshot.version, lo, hi)
                self.state.put_auto_restatement(model.name, snapshot.version, boundary)
                processed = self.state.get_intervals(model.name, snapshot.version)

        chunks = missing_chunks(model, start, end, processed, self.ignore_cron)
        if model.signals and chunks:
            # Signal gating (scheduler.py:950 _check_ready_intervals): only
            # admitted chunks run; the rest stay missing. A model whose
            # signals veto every missing chunk does no work this run.
            chunks = check_ready_intervals(model.signals, chunks)
            if not chunks:
                return 0
        # A batch is (start, end, the intervals it records).
        if model.kind in WHOLESALE_KINDS:
            # Wholesale kinds rebuild the whole table in one batch over the
            # requested window, but only when the window holds a cron
            # interval this version has not processed (or none is recorded
            # yet), or when an upstream model rewrote data in this run: a
            # rerun over a processed window does no work, while a longer
            # window, a restatement, a new version or a parent that ran
            # (late signal, auto-restatement, catch-up) rebuilds.
            if processed and not chunks and not upstream_changed:
                return 0
            batches = [(model.start or start, end, merge_intervals(chunks))]
            audit_window: tuple = ()  # the whole table
        else:
            batches = [
                (from_epoch(bs), from_epoch(be), [(bs, be)])
                for bs, be in batch_intervals(chunks, model.batch_size)
            ]
            if not batches:
                return 0
            audit_window = (batches[0][0], batches[-1][1])
        # Audits gate interval recording (reference scheduler.py:191→:254:
        # evaluate → audits → add_interval): an audited model records its
        # batches after one audit over them all passes, so a blocking-audit
        # failure leaves them UNRECORDED and the next run redoes them (those
        # writes are idempotent per interval). Anything no audit can veto
        # records each batch once written, so a failure at batch k keeps
        # 1..k-1 — including INCREMENTAL_UNMANAGED, whose appends are NOT
        # idempotent: its audit runs last and only alerts. An incremental
        # audit scans just the written union, O(batch) rather than O(table).
        vetoable = bool(model.audits) and model.kind != ModelKind.INCREMENTAL_UNMANAGED
        failures: list[str] = []
        owed: list[tuple[int, int]] = []
        for n, (b_start, b_end, intervals) in enumerate(batches):
            self.evaluator.evaluate(snapshot, b_start, b_end, mapping, not processed and n == 0)
            owed += intervals
            if vetoable and n + 1 < len(batches):
                continue
            if vetoable and (failures := self.evaluator.run_audits(snapshot, *audit_window)):
                break
            for i_start, i_end in owed:
                self.state.add_interval(model.name, snapshot.version, i_start, i_end)
            owed = []
        if model.audits and not vetoable:
            failures = self.evaluator.run_audits(snapshot)
        if failures:
            raise AuditError(f"audits failed on {model.name}: {failures}")
        return len(batches)
