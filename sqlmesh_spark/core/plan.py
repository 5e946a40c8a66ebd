"""Plan/apply: context diff → categorization → stages → virtual layer.

Reference: ContextDiff.create (context_diff.py:93), categorize_change
(snapshot/categorizer.py:10), PlanBuilder.build (plan/builder.py:280),
build_plan_stages (plan/stages.py:698). Stages here:

  1. snapshot records            (CreateSnapshotRecordsStage:47)
  2. physical tables + backfill  (PhysicalLayerUpdateStage:58 + BackfillStage:119)
  3. virtual layer view swap     (VirtualLayerUpdateStage:165 — THE atomic
                                  deployment: env views repoint to new
                                  physical tables only after data is ready)
  4. finalize environment        (FinalizeEnvironmentStage:195)
"""

from __future__ import annotations

import dataclasses
import re
from dataclasses import dataclass, field
from typing import Mapping, Optional, Sequence

from pyspark.sql import SparkSession

from sqlmesh_spark.adapter import SparkAdapter, TableLayout
from sqlmesh_spark.core.model import Model
from sqlmesh_spark.core.scheduler import (
    MAX_WORKERS,
    WHOLESALE_KINDS,
    Scheduler,
    SnapshotEvaluator,
    model_relations,
    render_model_sql,
)
from sqlmesh_spark.core.snapshot import (
    Snapshot,
    env_schema,
    fingerprint_model,
    merge_intervals,
    snapshots_to_dag,
    subtract_intervals,
)
from sqlmesh_spark.core.state import StateStore
from sqlmesh_spark.diff import SchemaChangeRefused, SchemaDiffer, quote_ident


class PlanError(Exception):
    """A plan cannot be applied as requested (policy violation)."""


def _layout_record(layout: TableLayout) -> dict:
    """A layout as it is kept in a snapshot's state record (JSON)."""
    fields = dataclasses.asdict(layout).items()
    return {k: list(v) if isinstance(v, tuple) else v for k, v in fields}


# Kind args that only choose the table's layout (Model.layout).
_LAYOUT_KIND_ARGS = ("partition_by_time_column", "partition_by_current")


def _own_record(model: Model) -> dict:
    """What a snapshot record keeps of the model itself: its query text, its
    layout and the fingerprint of the rest (kind, kind args, variables,
    statements, stamp, ...; no parents)."""
    args = {k: v for k, v in model.kind_args.items() if k not in _LAYOUT_KIND_ARGS}
    rest = dataclasses.replace(model, query="", partitioned_by=(), clustered_by=(), buckets=0,
                               storage_format="parquet", kind_args=args)
    return {"query": model.query, "rest_fingerprint": fingerprint_model(rest),
            "layout": _layout_record(model.layout)}


def _own_changes(old: dict, model: Model) -> tuple[bool, bool]:
    """Whether ``model`` changed, against its stored record, outside its
    query text and layout, and whether its layout changed. A record stored
    before the rest fingerprint reports neither."""
    if "rest_fingerprint" not in old:
        return False, False
    new = _own_record(model)
    return old["rest_fingerprint"] != new["rest_fingerprint"], old["layout"] != new["layout"]


@dataclass
class ContextDiff:
    """context_diff.py:42 — local project vs environment state."""

    added: list[str] = field(default_factory=list)
    removed: list[str] = field(default_factory=list)
    modified: list[str] = field(default_factory=list)
    unchanged: list[str] = field(default_factory=list)
    # Children reverted to their old version by the NON_BREAKING
    # categorization: no data work, but they are part of the change
    # surface and must still be virtual-updated (even under
    # include_unmodified=False).
    indirectly_modified: list[str] = field(default_factory=list)

    @property
    def has_changes(self) -> bool:
        return bool(self.added or self.removed or self.modified)


@dataclass
class Plan:
    environment: str
    start: str
    end: str
    snapshots: dict[str, Snapshot]
    diff: ContextDiff
    # Forward-only (plan/stages.py:150 MigrateSchemasStage + the
    # forward_only plan flag): modified models KEEP their physical table
    # (pinned to the previous version), additive schema changes apply as
    # ALTERs, and history is not recomputed — only new intervals run.
    forward_only: bool = False
    # no_gaps (plan/builder.py:72): refuse promotion of a replacement
    # snapshot whose processed intervals don't cover its predecessor's.
    no_gaps: bool = False
    # skip_backfill (plan/builder.py:73-80): record snapshots and promote
    # whatever physical data already exists WITHOUT processing intervals —
    # the operator explicitly accepts missing data (mutually exclusive
    # with no_gaps in the reference; enforced here too).
    skip_backfill: bool = False
    # empty_backfill: create the physical tables with the models' schemas
    # but NO rows, marking the plan window processed — onboarding lever
    # for models whose history will arrive later via restatement.
    empty_backfill: bool = False
    # backfill_models (plan arg): only these models process intervals;
    # the rest get snapshots + views over whatever data already exists.
    backfill_models: Optional[tuple] = None
    # include_unmodified (plan arg): when False, a new environment gets
    # views only for ADDED/MODIFIED models (leaner dev envs).
    include_unmodified: bool = True
    # ignore_cron (reference run arg): process the trailing partial unit
    # regardless of cron completion for this one execution.
    ignore_cron: bool = False
    # Forward-only schema migrations computed at plan time, EXECUTED at
    # apply time (table → ALTER statements): plan() stays read-only, so a
    # dry-run never alters the serving table (MigrateSchemasStage:150).
    pending_migrations: dict = field(default_factory=dict)
    # execution_time (plan arg): pins @execution_ts/@execution_ds in
    # rendered SQL (defaults to each interval's end) — reproducible runs.
    execution_time: Optional[str] = None
    # effective_from (plan/builder.py: effective_from; snapshot
    # definition's effective_from): on a forward-only plan, the date the
    # new logic takes effect — processed intervals from it onward are
    # dropped from the pinned snapshot so they recompute with the new
    # query; history before it is preserved as-is.
    effective_from: Optional[str] = None


def _categorize(old_query: str | None, new_query: str, dialect: str = "") -> str:
    """NON_BREAKING iff the change is additive-projections-only
    (categorizer.py:10: added projections ⇒ NON_BREAKING): both queries are
    single outer SELECTs over an IDENTICAL tail (FROM onward), and the new
    projection list is a superset of the old. Comparison is over CANONICAL
    TOKEN STREAMS (core/sqlparse.py), so whitespace, comments, and
    identifier case never make an additive change read as breaking.
    Anything unlexable falls back to the textual splitter; anything
    unsplittable is BREAKING (conservative)."""
    if old_query is None:
        return "BREAKING"
    old_parts = _projection_split(old_query, dialect)
    new_parts = _projection_split(new_query, dialect)
    if not old_parts or not new_parts:
        return "BREAKING"
    if old_parts[1] == new_parts[1] and old_parts[0] <= new_parts[0]:
        return "NON_BREAKING"
    return "BREAKING"


def _projection_split(q: str, dialect: str = ""):
    """(projection set, tail) for a single outer SELECT, both as canonical
    token strings; None when the shape doesn't apply."""
    from sqlmesh_spark.core.sqlparse import SqlParseError, tokenize

    try:
        toks = tokenize(q, dialect)
    except SqlParseError:
        return _projection_split_textual(q)
    while toks and toks[-1].kind == "op" and toks[-1].value == ";":
        toks.pop()
    if not toks or toks[0].upper != "SELECT":
        return None
    projections: set[str] = set()
    cur: list[str] = []
    depth = 0
    i = 1
    n = len(toks)
    while i < n:
        t = toks[i]
        if t.kind == "op" and t.value == "(":
            depth += 1
        elif t.kind == "op" and t.value == ")":
            depth -= 1
            if depth < 0:
                return None  # not a single outer SELECT
        elif depth == 0 and t.kind == "op" and t.value == ",":
            projections.add(" ".join(cur))
            cur = []
            i += 1
            continue
        elif depth == 0 and t.kind == "ident" and t.upper == "FROM":
            break
        cur.append(t.value)
        i += 1
    if i == n:
        return None  # no top-level FROM
    if cur:
        projections.add(" ".join(cur))
    tail = " ".join(t.value for t in toks[i:])
    return projections, tail


def _projection_split_textual(q: str):
    """Legacy splitter for unlexable (macro-soup) queries."""
    from sqlmesh_spark.macros import split_top_level

    s = q.strip().rstrip(";").strip()
    if not s.upper().startswith("SELECT"):
        return None
    body = s[6:]
    for m in re.finditer(r"\bFROM\b", body, re.IGNORECASE):
        prefix = body[: m.start()]
        if prefix.count("(") == prefix.count(")") and prefix.count("'") % 2 == 0:
            projections = {p.strip() for p in split_top_level(prefix)}
            tail = re.sub(r"\s+", " ", body[m.start() :]).strip()
            return projections, tail
    return None


def build_snapshots(models: Mapping[str, Model]) -> dict[str, Snapshot]:
    """Fingerprint in DAG order so parent hashes feed child hashes
    (snapshot/definition.py:1891-1901 recursive fingerprints)."""
    # Restrict depends_on to actual models (externals don't version us).
    known = set(models)
    pseudo = {
        name: Snapshot(model=m, version="", parents=tuple(sorted(m.depends_on & known)))
        for name, m in models.items()
    }
    order = snapshots_to_dag(pseudo)
    fps: dict[str, str] = {}
    out: dict[str, Snapshot] = {}
    for name in order:
        m = models[name]
        parents = tuple(sorted(m.depends_on & known))
        fp = fingerprint_model(m, [fps[p] for p in parents])
        fps[name] = fp
        out[name] = Snapshot(model=m, version=fp, parents=parents)
    return out


def context_diff(
    snapshots: Mapping[str, Snapshot], env_state: Mapping[str, str]
) -> ContextDiff:
    diff = ContextDiff()
    for name, snap in snapshots.items():
        if name not in env_state:
            diff.added.append(name)
        elif env_state[name] != snap.version:
            diff.modified.append(name)
        else:
            diff.unchanged.append(name)
    diff.removed = [n for n in env_state if n not in snapshots]
    return diff


class PlanEvaluator:
    """plan/evaluator.py:85 BuiltInPlanEvaluator."""

    def __init__(self, spark: SparkSession, state: StateStore, custom_audits=None):
        self.spark = spark
        self.state = state
        self.adapter = SparkAdapter(spark)
        # Live reference to the project's custom model-audit definitions.
        self.custom_audits = custom_audits if custom_audits is not None else {}

    def plan(
        self,
        models: Mapping[str, Model],
        environment: str,
        start: str,
        end: str,
        forward_only: bool = False,
        select_models: Optional[Sequence[str]] = None,
        no_gaps: bool = False,
        effective_from: Optional[str] = None,
        skip_backfill: bool = False,
        empty_backfill: bool = False,
        create_from: Optional[str] = None,
        allow_destructive_models: Optional[Sequence[str]] = None,
        allow_additive_models: Optional[Sequence[str]] = None,
        execution_time: Optional[str] = None,
        backfill_models: Optional[Sequence[str]] = None,
        include_unmodified: bool = True,
        ignore_cron: bool = False,
        no_auto_categorization: bool = False,
    ) -> Plan:
        env_state = self.state.get_environment(environment)
        if not env_state and create_from:
            # create_from (reference plan:1314 arg): a brand-new target
            # environment diffs/categorizes against ANOTHER environment's
            # state instead of empty — branching envs off staging rather
            # than recomputing everything.
            env_state = self.state.get_environment(create_from)
        if select_models is not None:
            # Selection happens at the MODEL level BEFORE fingerprinting
            # (reference node_selector semantics): a deferred parent's model
            # text is restored to its applied definition so every child
            # fingerprint embeds the pinned parent's OLD fingerprint. Pinning
            # versions after build_snapshots instead would give a selected
            # child a version embedding the parent's NEW fingerprint while
            # it is built from the parent's OLD table — a later full plan
            # applying the parent would then see the child's fingerprint
            # unchanged and never rebuild it (permanently stale).
            models = self._select_models(models, env_state, select_models)
        self._check_view_names(models)
        snapshots = build_snapshots(models)
        self._warn_unpartitioned_merges(models)
        diff = context_diff(snapshots, env_state)
        # no_auto_categorization (reference plan arg): treat EVERY change
        # as breaking — teams that review categorization manually opt out
        # of the additive-projection heuristic entirely.
        if not no_auto_categorization:
            self._categorize_and_revert(snapshots, diff, env_state)
        if effective_from and not forward_only:
            raise PlanError("effective_from requires a forward-only plan")
        if skip_backfill and no_gaps:
            raise PlanError("skip_backfill and no_gaps are mutually exclusive")
        if skip_backfill and empty_backfill:
            raise PlanError("skip_backfill and empty_backfill are mutually exclusive")
        pending_migrations: dict[str, list[str]] = {}
        if forward_only:
            pending_migrations = self._pin_forward_only(
                snapshots,
                diff,
                env_state,
                allow_destructive={m.lower() for m in (allow_destructive_models or [])},
                allow_additive={m.lower() for m in (allow_additive_models or [])},
            )
            # effective_from's interval removal is deferred to apply():
            # plan() must stay read-only so a dry-run or abandoned plan
            # never mutates the serving version's processed state.
        return Plan(
            environment=environment,
            start=start,
            end=end,
            snapshots=snapshots,
            diff=diff,
            forward_only=forward_only,
            no_gaps=no_gaps,
            effective_from=effective_from,
            skip_backfill=skip_backfill,
            empty_backfill=empty_backfill,
            execution_time=execution_time,
            backfill_models=self._resolve_backfill_models(
                backfill_models, snapshots
            ),
            include_unmodified=include_unmodified,
            ignore_cron=ignore_cron,
            pending_migrations=pending_migrations,
        )

    @staticmethod
    def _check_view_names(models: Mapping[str, Model]) -> None:
        """An environment view is named by the last part of its model's
        name (``<env>_views.<view_name>``), so two models that share it
        would promote to one view: refuse the plan before any write."""
        owners: dict[str, str] = {}
        for name, model in sorted(models.items()):
            if model.kind.value in ("EMBEDDED", "EXTERNAL"):
                continue
            other = owners.setdefault(model.view_name.lower(), name)
            if other != name:
                raise PlanError(
                    f"models {other} and {name} would both promote to the "
                    f"environment view {model.view_name.lower()}; rename one"
                )

    def _warn_unpartitioned_merges(self, models: Mapping[str, Model]) -> None:
        """Plan-time layout warnings, once per plan. A MERGE/SCD2 model
        whose layout leaves the parquet backend on its full-rewrite tail is
        O(table) on every apply; the warning names the setting that moves
        that kind onto its copy-on-write path, so the cost is a choice, not
        a surprise (SCALE.md):

        - INCREMENTAL_BY_UNIQUE_KEY: ``partitioned_by`` — the merge then
          rewrites only touched partitions (backends.py merge);
        - SCD2: ``partition_by_current true`` — closed history becomes
          append-only (backends.py scd2_apply_cow). ``partitioned_by``
          alone keeps the full rewrite.

        A declared ``partitioned_by`` that Model.layout drops is named too."""
        import logging

        log = logging.getLogger("sqlmesh_spark.plan")
        for name, model in models.items():
            kind = model.kind.value
            kept = model.layout.partitioned_by
            dropped = [c for c in model.partitioned_by if c not in kept]
            if dropped:
                log.warning(
                    "model %s declares partitioned_by %s, which kind %s does "
                    "not keep: the table partitions on (%s)",
                    name, ", ".join(dropped), kind, ", ".join(kept),
                )
            if kind == "INCREMENTAL_BY_UNIQUE_KEY" and not model.partitioned_by:
                advice = "declare partitioned_by to enable the partition-scoped merge"
            elif kind.startswith("SCD_TYPE_2") and not model.partition_by_current:
                advice = (
                    "set partition_by_current true to enable the append-only "
                    "history tail"
                )
            else:
                continue
            log.warning(
                "model %s has kind %s without a copy-on-write layout: every "
                "apply rewrites the whole table (O(table)); %s",
                name,
                kind,
                advice,
            )

    def _select_models(
        self,
        models: Mapping[str, Model],
        env_state: Mapping[str, str],
        select_models: Sequence[str],
    ) -> dict[str, Model]:
        """`plan --select-model` (reference plan/builder.py selection via
        node_selector): only SELECTED models' changes enter the plan;
        unselected modified models are replaced by their stored (applied)
        definitions — deferring their change to a later full plan — and
        unselected brand-new models are excluded entirely (a change outside
        the stored query text cannot be deferred). `*` wildcards match like
        fnmatch. Returns the effective models map; fingerprinting runs AFTER
        this, so child versions embed the deferred parent's old fingerprint."""
        import fnmatch

        selected = {
            name
            for name in models
            for pat in select_models
            if fnmatch.fnmatch(name, pat.lower())
        }
        unknown = [
            p for p in select_models if not any(fnmatch.fnmatch(n, p.lower()) for n in models)
        ]
        if unknown:
            raise PlanError(f"select_models matched nothing: {unknown}")
        out = dict(models)
        for name, model in models.items():
            if name in selected:
                continue
            if name not in env_state:
                dependents = [
                    n
                    for n, m in models.items()
                    if name in m.depends_on and (n in selected or n in env_state)
                ]
                if dependents:
                    raise PlanError(
                        f"cannot exclude new model {name}: selected/applied "
                        f"models depend on it: {dependents}"
                    )
                del out[name]
                continue
            # Restore the QUERY TEXT to the applied state — wholesale kinds
            # rebuild whenever their window grows, and the deferred change
            # must not leak into the old table.
            old = self.state.get_snapshot(name, env_state[name]) or {}
            old_query = old.get("query")
            if old_query is None:
                raise PlanError(
                    f"cannot defer {name}: no stored snapshot for its "
                    f"applied version {env_state[name]}"
                )
            if old_query != model.query:
                out[name] = dataclasses.replace(model, query=old_query)
            if any(_own_changes(old, model)):
                raise PlanError(f"cannot defer {name}: it changed outside its query text")
        return out

    def _categorize_and_revert(
        self,
        snapshots: dict[str, Snapshot],
        diff: ContextDiff,
        env_state: Mapping[str, str],
    ) -> None:
        """Change categorization (snapshot/categorizer.py:10): a directly
        modified model whose change only ADDS projections (same FROM/WHERE
        tail, projection superset) or only its layout is NON_BREAKING — its
        children's data cannot change, so children whose own definition is
        unchanged keep their existing version/physical table and are only
        virtual-updated. BREAKING changes (any other) taint every
        descendant, which rebuilds as usual.
        """
        taint: dict[str, bool] = {}
        for name in snapshots_to_dag(snapshots):
            snap = snapshots[name]
            if name not in env_state or env_state[name] == snap.version:
                taint[name] = False
                continue
            old = self.state.get_snapshot(name, env_state[name]) or {}
            old_query = old.get("query")
            rest_changed, layout_changed = _own_changes(old, snap.model)
            if "rest_fingerprint" not in old:
                # A record stored before the rest fingerprint: the model is
                # unchanged in itself if it still hashes, over its parents'
                # current versions, to its stored version. Otherwise its table
                # may predate its layout, so it rebuilds.
                parents = [env_state.get(p, "") for p in snap.parents]
                layout_changed = fingerprint_model(snap.model, parents) != env_state[name]
            query_changed = old_query is None or old_query != snap.model.query
            parent_taint = any(taint.get(p, False) for p in snap.parents)
            if query_changed or rest_changed or layout_changed:
                breaking = rest_changed or query_changed and (
                    _categorize(old_query, snap.model.query, snap.model.dialect) == "BREAKING"
                )
                taint[name] = breaking or parent_taint
            elif not parent_taint:
                # Modified only via a NON_BREAKING ancestor: revert to the
                # old version — zero recompute, view keeps pointing at the
                # existing table (the indirect-non-breaking contract).
                snapshots[name] = Snapshot(
                    model=snap.model, version=env_state[name], parents=snap.parents
                )
                diff.modified.remove(name)
                diff.unchanged.append(name)
                diff.indirectly_modified.append(name)
                taint[name] = False
            else:
                taint[name] = True

    def _pin_forward_only(
        self,
        snapshots: dict[str, Snapshot],
        diff: ContextDiff,
        env_state: Mapping[str, str],
        allow_destructive: Optional[set] = None,
        allow_additive: Optional[set] = None,
    ) -> dict[str, list[str]]:
        """Pin modified models to their previous version (same physical
        table), migrate the table schema additively, and carry the old
        version's processed intervals — the forward-only contract
        (evaluator.py:1105-1233 migrate). Destructive changes (dropped
        columns, narrowing types) are governed by the model's
        on_destructive_change policy (model/kind.py:195-226): error
        rejects the plan before any mutation; warn/allow proceed with the
        column RETAINED on disk (parquet cannot DROP COLUMN) — history
        keeps its values and new intervals null-fill it."""
        pending: dict[str, list[str]] = {}
        for name in diff.modified:
            old_version = env_state[name]
            new = snapshots[name]
            pinned = Snapshot(model=new.model, version=old_version, parents=new.parents)
            # The pinned table keeps its layout; only WHOLESALE_KINDS rebuild it.
            # A record stored before layouts were has none: every field differs.
            recorded = (self.state.get_snapshot(name, old_version) or {}).get("layout", {})
            layout = _layout_record(new.model.layout)
            changed = [k for k in layout if recorded.get(k) != layout[k]]
            if changed and new.model.kind not in WHOLESALE_KINDS:
                raise PlanError(
                    f"forward-only plan for {name} changes the recorded layout of its "
                    f"pinned table ({', '.join(changed)}); plan it without forward_only"
                )
            if self.adapter.table_exists(pinned.table_name):
                current_cols = self.adapter.columns(pinned.table_name)
                target_cols = self._query_schema(
                    pinned, model_relations(snapshots), snapshots
                )
                if target_cols is not None:
                    target_cols.update(new.model.layout.managed_columns)
                    # Plan-level overrides (reference plan args
                    # allow_destructive_models / allow_additive_models)
                    # accept the change for THIS plan only.
                    differ = SchemaDiffer(
                        on_destructive_change="allow"
                        if name in (allow_destructive or set())
                        else new.model.on_destructive_change,
                        on_additive_change="allow"
                        if name in (allow_additive or set())
                        else new.model.on_additive_change,
                    )
                    try:
                        stmts = differ.alter_statements(
                            pinned.table_name, current_cols, target_cols
                        )
                    except SchemaChangeRefused as e:
                        raise PlanError(f"forward-only plan for {name} {e}") from None
                    if stmts:
                        # Collected, not executed: plan() is read-only —
                        # apply() runs these (a dry-run must never alter
                        # the serving table's schema).
                        pending[pinned.table_name] = stmts
            snapshots[name] = pinned
        return pending

    def _empty_backfill(self, plan: Plan) -> dict[str, int]:
        """Create each snapshot's physical table with the model's analyzed
        schema and zero rows, then mark the plan window processed for
        interval-recording kinds — the scheduler will never revisit it
        (backfill-later models use restatement to fill real data).

        Tables are created by the evaluator's one creation point, so they
        have the layout an evaluation builds (time-range incrementals get
        the derived ``_ds`` partition, and later writes stay
        partition-pruned). SCD2 kinds are REFUSED: their history only
        starts with a real evaluation, whose first batch truncates."""
        from sqlmesh_spark.core.snapshot import to_epoch

        relations = model_relations(plan.snapshots)
        evaluator = SnapshotEvaluator(self.spark, self.adapter)
        executed: dict[str, int] = {}
        for name, snap in plan.snapshots.items():
            model = snap.model
            if model.kind.value in ("EMBEDDED", "EXTERNAL", "VIEW", "SEED"):
                continue
            if plan.backfill_models is not None and name not in plan.backfill_models:
                continue
            if model.kind.value.startswith("SCD"):
                raise PlanError(
                    f"empty_backfill is unsupported for {model.kind.value} "
                    f"({name}): SCD2 history columns require a real evaluation"
                )
            if not self.adapter.table_exists(snap.table_name):
                cols = self._query_schema(snap, relations, plan.snapshots)
                if cols is None:
                    continue
                evaluator.create_schema(snap.physical_schema)
                evaluator.create_table(snap, cols)
            if model.kind.value.startswith("INCREMENTAL"):
                self.state.add_interval(
                    name, snap.version, to_epoch(plan.start), to_epoch(plan.end)
                )
            executed[name] = 0
        return executed

    def _apply_effective_from(
        self,
        snapshots: dict[str, Snapshot],
        diff: ContextDiff,
        effective_from: str,
    ) -> None:
        """Drop the pinned snapshots' processed intervals from
        ``effective_from`` onward: the scheduler then sees them as missing
        and recomputes exactly that span with the NEW query over the OLD
        physical table — the reference's effective_from contract (the
        forward-only change 'takes effect' at a chosen date instead of
        only for future intervals)."""
        from sqlmesh_spark.core.snapshot import to_epoch

        efrom = to_epoch(effective_from)
        horizon = 2**62  # clear everything after efrom
        for name in diff.modified:
            snap = snapshots[name]
            self.state.remove_intervals(name, snap.version, efrom, horizon)

    def _query_schema(
        self, snapshot: Snapshot, relations, snapshots: Mapping[str, Snapshot]
    ) -> dict[str, str] | None:
        """Analyze (don't execute) the rendered query for its schema."""
        if snapshot.model.python_fn is not None:
            return None
        try:
            sql = SnapshotEvaluator(self.spark, self.adapter).render(
                snapshot, "1970-01-01", "1970-01-02", relations
            )
            return dict(self.spark.sql(sql).dtypes)
        except Exception:
            # Upstream physical tables may not exist yet (plan precedes
            # backfill) — fall back to pure inference over empty views.
            try:
                from sqlmesh_spark.core.inference import infer_columns_to_types

                models = {n: s.model for n, s in snapshots.items()}
                return infer_columns_to_types(self.spark, models, snapshot.model.name)
            except Exception:
                return None

    def _resolve_backfill_models(
        self,
        backfill_models: Optional[Sequence[str]],
        snapshots: Mapping[str, Snapshot],
    ) -> Optional[tuple]:
        """Expand/validate the backfill allow-list (same fnmatch wildcard
        semantics as select_models). A pattern matching nothing is a
        PlanError — a typo must not silently promote an empty backfill.
        Selecting a model whose NOT-selected parent has no physical table
        yet is also an error: its evaluation would crash mid-apply."""
        if backfill_models is None:
            return None
        import fnmatch

        selected = {
            name
            for name in snapshots
            for pat in backfill_models
            if fnmatch.fnmatch(name, pat.lower())
        }
        unknown = [
            p
            for p in backfill_models
            if not any(fnmatch.fnmatch(n, p.lower()) for n in snapshots)
        ]
        if unknown:
            raise PlanError(f"backfill_models matched nothing: {unknown}")
        for name in sorted(selected):
            for parent in snapshots[name].parents:
                if parent in selected or parent not in snapshots:
                    continue
                psnap = snapshots[parent]
                if psnap.model.kind.value in ("EMBEDDED", "EXTERNAL", "SEED"):
                    continue
                if not self.adapter.table_exists(psnap.table_name):
                    raise PlanError(
                        f"backfill_models selects {name} but excludes its "
                        f"parent {parent}, which has no physical table yet"
                    )
        return tuple(sorted(selected))

    def _ensure_no_gaps(self, plan: Plan) -> None:
        """For each model whose version CHANGES in this environment and
        whose kind records intervals, the new version's processed set must
        cover the old version's — otherwise raise PlanError and leave the
        environment's views untouched (reference promote(no_gaps)
        semantics, state_sync/base.py:419-422)."""
        env_state = self.state.get_environment(plan.environment)
        problems: list[str] = []
        for name, snap in plan.snapshots.items():
            old_version = env_state.get(name)
            if old_version is None or old_version == snap.version:
                continue
            if snap.model.kind in WHOLESALE_KINDS:
                continue  # each rebuild covers the whole table
            old_iv = merge_intervals(self.state.get_intervals(name, old_version))
            gaps = subtract_intervals(old_iv, self.state.get_intervals(name, snap.version))
            if gaps:
                problems.append(f"{name}: {len(gaps)} gap(s) vs previous version")
        if problems:
            raise PlanError(
                "no_gaps violation — replacement snapshots do not cover "
                "their predecessors' processed intervals: " + "; ".join(problems)
            )

    def apply(self, plan: Plan) -> dict[str, int]:
        # Stage 1: snapshot records — one bulk state write for the whole
        # plan (the per-snapshot loop rewrote the snapshots file N times,
        # O(N²) bytes in model count; see StateStore.put_snapshots).
        self.state.put_snapshots(
            {
                (name, snap.version): {
                    "kind": snap.model.kind.value,
                    "parents": list(snap.parents),
                    # What the next plan compares in _categorize_and_revert
                    # and _pin_forward_only.
                    **_own_record(snap.model),
                }
                for name, snap in plan.snapshots.items()
            }
        )
        # Stage 2: physical layer + backfill. Unchanged snapshots keep their
        # physical tables and processed intervals — the virtual-environment
        # zero-recompute property: only new versions do work.
        scheduler = Scheduler(
            self.spark,
            self.state,
            plan.snapshots,
            custom_audits=self.custom_audits,
            execution_time=plan.execution_time,
            backfill_models=set(plan.backfill_models)
            if plan.backfill_models is not None
            else None,
            ignore_cron=plan.ignore_cron,
        )
        # Forward-only schema migrations (MigrateSchemasStage:150): the
        # ALTERs plan() computed run now, before any backfill reads the
        # pinned tables.
        for table, stmts in plan.pending_migrations.items():
            self.adapter.alter_table(table, stmts)
        if plan.forward_only and plan.effective_from:
            self._apply_effective_from(plan.snapshots, plan.diff, plan.effective_from)
        if plan.forward_only:
            # A pinned wholesale snapshot keeps its version and table but
            # carries the new query: forget what the old query built so
            # this apply rebuilds the table with the new one.
            self.state.forget_snapshots(
                [
                    (name, plan.snapshots[name].version)
                    for name in plan.diff.modified
                    if plan.snapshots[name].model.kind in WHOLESALE_KINDS
                ]
            )
        if plan.skip_backfill:
            executed = {}
        elif plan.empty_backfill:
            executed = self._empty_backfill(plan)
        else:
            executed = scheduler.run(plan.start, plan.end)
        # no_gaps promotion guard (reference state_sync/base.py:407-426
        # promote(no_gaps_snapshot_names), plan/builder.py:72): a snapshot
        # REPLACING one already serving this environment must cover every
        # interval its predecessor had processed — otherwise promoting it
        # would silently serve a table with data gaps. Checked BEFORE the
        # view swap so a violation leaves the environment untouched.
        if plan.no_gaps:
            self._ensure_no_gaps(plan)
        # Stage 3: virtual layer swap — views repoint atomically after data
        # exists (plan/stages.py:165).
        views = env_schema(plan.environment)
        modified = set(plan.diff.modified)
        modified_or_added = (
            set(plan.diff.added) | modified | set(plan.diff.indirectly_modified)
        )
        candidates = [
            (name, snap)
            for name, snap in plan.snapshots.items()
            if snap.model.kind.value not in ("EMBEDDED", "EXTERNAL")
            and (plan.include_unmodified or name in modified_or_added)
        ]
        # An env view already serving this version stays as it is, unless
        # a forward-only change altered its table (plan.diff.modified under
        # a pinned version) or the model has a comment or on_virtual_update
        # statements to apply. Existence comes from one listing of the env
        # schema rather than one probe per model; SHOW VIEWS is a catalog
        # command, where catalog.listTables launches Spark jobs. A pointer
        # an earlier apply moved without a table to promote (signals gated
        # every interval, backfill_models left the model out) is recorded
        # as unpromoted: its view still serves the previous version.
        env_state = self.state.get_environment(plan.environment)
        unpromoted = set(
            self.state.get_environment_meta(plan.environment).get("unpromoted", ())
        )
        existing_views: set[str] = set()
        if any(env_state.get(name) == snap.version for name, snap in candidates):
            from pyspark.errors import AnalysisException

            try:
                existing_views = {
                    r.viewName.lower()
                    for r in self.spark.sql(f"SHOW VIEWS IN {views}").collect()
                    if not r.isTemporary
                }
            except AnalysisException:  # env schema dropped outside of plans
                pass

        def _view_is_current(name: str, snap) -> bool:
            model = snap.model
            return (
                env_state.get(name) == snap.version
                and model.view_name.lower() in existing_views
                and name not in modified
                and name not in unpromoted
                and not (
                    model.description
                    or model.column_descriptions
                    or model.on_virtual_update
                )
            )

        to_promote = [(n, s) for n, s in candidates if not _view_is_current(n, s)]
        if to_promote:
            self.adapter.create_schema(views)

        def _promote_one(name: str, snap) -> Optional[str]:
            """Repoint one env view; returns its name, or None when the
            snapshot has no physical data to point at."""
            if not self.adapter.table_exists(snap.table_name):
                # Signals may have gated every interval — the snapshot has
                # no physical data yet; leave the env view where it was
                # (possibly absent) rather than pointing at nothing.
                return None
            self._register_comments(snap)
            env_view = f"{views}.{snap.model.view_name}"
            # The view exposes the MODEL's schema: the engine-managed columns
            # the layout partitions on (`_ds`, the SCD2-COW `_is_current`) stay
            # behind it, as the reference's Iceberg/Delta partitioning is table
            # metadata. The layout names them, so no column list is read.
            layout = snap.model.layout
            hidden = [c for c in layout.partitioned_by if c in layout.managed_columns]
            select = f"* EXCEPT ({', '.join(map(quote_ident, hidden))})" if hidden else "*"
            self.adapter.create_view(env_view, f"SELECT {select} FROM {snap.table_name}")
            return env_view

        # Promotion is per-model independent (stage 2 is complete), so the
        # N× (table_exists + CREATE VIEW) catalog round-trips overlap on a
        # pool as wide as the scheduler's (the serial loop was ~40% of a
        # 1,000-model apply, tools/scale_orchestration.py). Exceptions
        # propagate on iteration.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=MAX_WORKERS) as pool:
            promoted = list(pool.map(lambda kv: _promote_one(*kv), to_promote))
        # on_virtual_update statements (definition.py:158; rendered with
        # @this_model bound to the ENV VIEW — :452) run after every view
        # has repointed, one after another in DAG-dict order: grants,
        # invalidations, notifies.
        relations = model_relations(plan.snapshots)
        for (_, snap), env_view in zip(to_promote, promoted):
            if env_view is None:
                continue
            for stmt in snap.model.on_virtual_update:
                self.spark.sql(
                    render_model_sql(
                        self.spark, stmt, plan.start, plan.end, relations,
                        model=snap.model, this_model=env_view,
                        execution_time=plan.execution_time,
                    )
                )
        # Stage 4: finalize environment pointers.
        self.state.put_environment(
            plan.environment, {n: s.version for n, s in plan.snapshots.items()}
        )
        attempted = {name for name, _ in to_promote}
        still_unpromoted = sorted(
            {name for name in unpromoted - attempted if name in plan.snapshots}
            | {name for (name, _), view in zip(to_promote, promoted) if view is None}
        )
        if still_unpromoted != sorted(unpromoted):
            self.state.put_environment_meta(
                plan.environment, unpromoted=still_unpromoted
            )
        return executed

    def _register_comments(self, snap: Snapshot) -> None:
        """Comment registration (reference base.py COMMENT creation;
        spark.py:545-554 ALTER COLUMN ... COMMENT), once per model per
        promotion — it lands even when no batch ran (a description-only
        edit is metadata-only: no new version, but the comment updates)."""
        model, tbl = snap.model, snap.table_name
        if model.kind.value == "VIEW":
            return
        if model.description:
            c = model.description.replace("'", "''")
            self.spark.sql(f"ALTER TABLE {tbl} SET TBLPROPERTIES ('comment' = '{c}')")
        existing = set(self.adapter.columns(tbl)) if model.column_descriptions else ()
        for col, desc in sorted(model.column_descriptions.items()):
            if col in existing:  # a description of a column the table lacks is skipped
                c = desc.replace("'", "''")
                self.spark.sql(f"ALTER TABLE {tbl} ALTER COLUMN {quote_ident(col)} COMMENT '{c}'")
