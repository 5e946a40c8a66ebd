"""Context — the user-facing facade (reference: sqlmesh/core/context.py).

Loads a project directory of .sql model files (loader.py:481 SqlMeshLoader
walks models/ audits/ macros/ seeds/), builds snapshots, and exposes
plan/apply/run/render/evaluate.
"""

from __future__ import annotations

import glob
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from sqlmesh_spark.core.model import Model, ModelKind, extract_depends_on
from sqlmesh_spark.core.plan import Plan, PlanEvaluator
from sqlmesh_spark.core.scheduler import (
    SnapshotEvaluator,
    model_relations,
    render_model_sql,
)
from sqlmesh_spark.core.snapshot import env_schema, physical_table
from sqlmesh_spark.core.state import StateStore


def _model_defaults_from_cfg(cfg) -> dict:
    """``model_defaults`` from an already-parsed config mapping. LOUD on a
    non-mapping value: silently dropping a malformed ``model_defaults``
    would e.g. lose the project dialect and lex every model under the
    wrong literal grammar."""
    if not isinstance(cfg, dict):
        raise ValueError("config.yaml must be a YAML mapping")
    defaults = cfg.get("model_defaults")
    if defaults is None:
        return {}
    if not isinstance(defaults, dict):
        raise ValueError(
            f"model_defaults must be a mapping, got {type(defaults).__name__}"
        )
    return defaults


def load_model_defaults(project_dir: str) -> dict:
    """``model_defaults`` from the project's config.yaml — the ONE
    resolution shared by the loader and SparkSession-free callers (the
    CLI formatter needs the project dialect). A missing file means no
    defaults ({}); a malformed file raises (callers decide how to
    surface it)."""
    path = os.path.join(project_dir, "config.yaml")
    try:
        import yaml

        with open(path) as f:
            cfg = yaml.safe_load(f)
    except FileNotFoundError:
        return {}
    return _model_defaults_from_cfg(cfg if cfg is not None else {})


class Context:
    def __init__(
        self,
        spark: SparkSession,
        project_dir: Optional[str] = None,
        state_dir: Optional[str] = None,
        models: Optional[dict[str, Model]] = None,
        before_all: Optional[list[str]] = None,
        after_all: Optional[list[str]] = None,
        environment_ttl: Optional[int] = None,
        gateway: Optional[str] = None,
    ):
        self.spark = spark
        self.project_dir = project_dir
        self.models: dict[str, Model] = dict(models or {})
        # Semantic-layer metrics (metric/definition.py:68), loaded from
        # metrics/*.sql; evaluated via evaluate_metrics.
        self.metrics: dict[str, "Metric"] = {}
        # Standalone audits (audit/definition.py:157) — scheduled after
        # their upstream models, reported (never blocking).
        self.standalone_audits: dict[str, "StandaloneAudit"] = {}
        # Custom model audits (definition.py:121 ModelAudit) — named
        # violation queries models attach via audits(name(arg = val)).
        self.custom_audits: dict[str, "ModelAuditDef"] = {}
        # Environment statements (environment.py:264 EnvironmentStatements):
        # run before/after every plan application for the environment.
        self.before_all: list[str] = list(before_all or [])
        self.after_all: list[str] = list(after_all or [])
        # Non-prod environments expire this many seconds after their last
        # apply (config.environment_ttl; _environments.expiration_ts) —
        # the janitor reclaims them like the reference's cleanup of
        # expired environments.
        self.environment_ttl = environment_ttl
        # Multi-gateway config (reference core/config/root.py `gateways:` +
        # `default_gateway:`; connection.py per-gateway connections). In a
        # Spark-only engine a gateway is a NAMED SESSION PROFILE, not a new
        # cluster: Spark confs applied for the context's lifetime, an
        # optional state_dir (separate deployment state per gateway), and
        # an optional default database. test_connection() is the analog of
        # the reference's per-gateway connection check (test/runner.py:43).
        self.gateways: dict[str, dict] = {}
        self.default_gateway: Optional[str] = None
        if project_dir:
            self._load(project_dir)
        self.gateway = self._apply_gateway(gateway)
        gw_state = (self.gateways.get(self.gateway or "") or {}).get("state_dir")
        state_dir = state_dir or gw_state or os.path.join(project_dir or ".", ".sqlmesh_state")
        self.state = StateStore(state_dir)
        self._evaluator = PlanEvaluator(spark, self.state, self.custom_audits)

    # -- load (context.py:629 → loader.py:191) ------------------------------

    def _load(self, project_dir: str) -> None:
        from sqlmesh_spark.core.model import parse_model_text_all

        self._load_config(project_dir)
        for path in sorted(glob.glob(os.path.join(project_dir, "models", "**", "*.sql"), recursive=True)):
            with open(path) as f:
                for model in parse_model_text_all(f.read()):
                    self._apply_model_defaults(model)
                    self.models[model.name] = model
        for path in sorted(glob.glob(os.path.join(project_dir, "seeds", "*.csv"))):
            name = os.path.splitext(os.path.basename(path))[0]
            # Seeds referenced as seed_schema.<name> by convention unless a
            # model file claims them explicitly.
            with open(path) as f:
                csv_text = f.read()
            header = csv_text.splitlines()[0].split(",")
            model = Model(
                name=f"seed.{name}",
                kind=ModelKind.SEED,
                query="",
                seed_csv=csv_text,
                columns={c: "STRING" for c in header},
            )
            self.models.setdefault(model.name, model)
        # external_models.yaml (reference loader reads the schema file
        # `create_external_models` writes — schema.yaml/external_models.yaml,
        # loader.py external model resolution): each entry becomes an
        # EXTERNAL-kind model with declared columns, so linting, schema
        # inference, and star expansion see the external table's shape
        # without touching the catalog at load time.
        ext_path = os.path.join(project_dir, "external_models.yaml")
        if os.path.exists(ext_path):
            import yaml

            with open(ext_path) as f:
                for entry in yaml.safe_load(f) or []:
                    name = str(entry["name"]).lower()
                    model = Model(
                        name=name,
                        kind=ModelKind.EXTERNAL,
                        query="",
                        columns={
                            str(c): str(t) for c, t in (entry.get("columns") or {}).items()
                        },
                    )
                    self.models.setdefault(name, model)
        for path in sorted(glob.glob(os.path.join(project_dir, "audits", "*.sql"))):
            with open(path) as f:
                self.add_audit(f.read())
        # Metric definitions (reference loader walks metrics/*.sql —
        # definition.py:18 load_metric_ddl).
        from sqlmesh_spark.metrics import parse_metric_text

        for path in sorted(glob.glob(os.path.join(project_dir, "metrics", "*.sql"))):
            with open(path) as f:
                for metric in parse_metric_text(f.read(), set(self.metrics)):
                    self.metrics[metric.name] = metric
        # Re-resolve depends_on now that all model names are known.
        known = set(self.models)
        for m in self.models.values():
            m.depends_on = extract_depends_on(m.query, known, m.dialect) | m.declared_depends_on

    def _load_config(self, project_dir: str) -> None:
        """Project config.yaml (reference core/config/root.py — the
        Spark-relevant core): ``model_defaults`` (start/cron/owner/
        session_properties filled onto models that don't declare them),
        ``environment_ttl`` (seconds), ``before_all``/``after_all``
        environment statements. Gateways/dialects don't apply — the
        engine IS Spark."""
        path = os.path.join(project_dir, "config.yaml")
        if not os.path.exists(path):
            self.model_defaults: dict = {}
            return
        import yaml

        with open(path) as f:
            cfg = yaml.safe_load(f) or {}
        self.model_defaults = _model_defaults_from_cfg(cfg)
        # Global @VAR values (reference config `variables:`): available to
        # every model's render; a model's own (blueprint) bindings win.
        # They merge into model.variables, which is FINGERPRINTED — so
        # changing a global variable rebuilds exactly the models whose
        # rendered SQL could change.
        self.config_variables = {
            str(k): str(v) for k, v in (cfg.get("variables") or {}).items()
        }
        if cfg.get("environment_ttl") is not None and self.environment_ttl is None:
            self.environment_ttl = int(cfg["environment_ttl"])
        self.before_all = list(cfg.get("before_all") or []) + self.before_all
        self.after_all = list(cfg.get("after_all") or []) + self.after_all
        # Gateways: each entry may carry `connection: {spark_conf: {...},
        # database: ...}` and `state_dir:`. default_gateway falls back to
        # the first declared one (reference root.py gateway selection).
        raw_gateways = cfg.get("gateways") or {}
        self.gateways = {str(k): dict(v or {}) for k, v in raw_gateways.items()}
        self.default_gateway = cfg.get("default_gateway") or (
            next(iter(self.gateways)) if self.gateways else None
        )

    def _apply_gateway(self, gateway: Optional[str]) -> Optional[str]:
        """Select and apply a gateway profile: session confs set for this
        context's lifetime, optional default database. Returns the selected
        gateway name (None when the project declares no gateways)."""
        name = gateway or self.default_gateway
        if name is None:
            return None
        if name not in self.gateways:
            raise ValueError(
                f"unknown gateway {name!r}; configured: {sorted(self.gateways)}"
            )
        conn = self.gateways[name].get("connection") or {}
        for k, v in (conn.get("spark_conf") or {}).items():
            self.spark.conf.set(str(k), str(v))
        db = conn.get("database")
        if db:
            self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
            self.spark.catalog.setCurrentDatabase(str(db))
        return name

    def test_connection(self, gateway: Optional[str] = None) -> bool:
        """Per-gateway connection check (reference test/runner.py:43-77
        get_test_connection → create_engine_adapter): validates the named
        gateway's profile applies cleanly and the session answers a
        trivial query. Raises on an unknown gateway; returns True on
        success. A PROBE, not a switch: every conf it touches and the
        current database are restored afterward, so checking a different
        gateway never re-points the live context's work."""
        name = gateway or self.gateway
        if name is None:
            return self.spark.sql("SELECT 1").collect()[0][0] == 1
        if name not in self.gateways:
            raise ValueError(
                f"unknown gateway {name!r}; configured: {sorted(self.gateways)}"
            )
        conn = self.gateways[name].get("connection") or {}
        touched = list((conn.get("spark_conf") or {}).keys())
        saved: dict[str, Optional[str]] = {}
        for k in touched:
            try:
                saved[k] = self.spark.conf.get(k)
            except Exception:  # noqa: BLE001 - unset conf
                saved[k] = None
        try:
            for k, v in (conn.get("spark_conf") or {}).items():
                self.spark.conf.set(str(k), str(v))
            # Validate (never create) the gateway's database: a health
            # check must not mutate the catalog — a typo'd database name
            # should FAIL here, not be permanently created.
            db = conn.get("database")
            if db and not self.spark.catalog.databaseExists(str(db)):
                raise ValueError(
                    f"gateway {name!r} database {db!r} does not exist"
                )
            return self.spark.sql("SELECT 1").collect()[0][0] == 1
        finally:
            for k, v in saved.items():
                if v is None:
                    self.spark.conf.unset(k)
                else:
                    self.spark.conf.set(k, v)

    def _apply_model_defaults(self, model: Model) -> None:
        gvars = getattr(self, "config_variables", None) or {}
        if gvars:
            model.variables = {**gvars, **model.variables}
        d = getattr(self, "model_defaults", None) or {}
        if not d:
            return
        if model.start is None and "start" in d:
            model.start = str(d["start"])
        if model.cron == "@daily" and "cron" in d:
            model.cron = str(d["cron"])
        if model.owner is None and "owner" in d:
            model.owner = str(d["owner"])
        # model_defaults.dialect is the reference's standard way to set a
        # project-wide read dialect (config/model.py ModelDefaultsConfig —
        # it is REQUIRED there); a model's own `dialect` property wins.
        if not model.dialect and "dialect" in d:
            model.dialect = str(d["dialect"]).lower()
        if "session_properties" in d:
            merged = {str(k): str(v) for k, v in d["session_properties"].items()}
            merged.update(model.session_properties)
            model.session_properties = merged

    def add_audit(self, text: str):
        """AUDIT(...) artifact: ``standalone true`` audits schedule on
        their own; others register as named model audits for
        ``audits (name(...))`` attachments."""
        from sqlmesh_spark.core.audit_def import StandaloneAudit, parse_audit_text

        audit = parse_audit_text(text)
        if isinstance(audit, StandaloneAudit):
            self.standalone_audits[audit.name] = audit
        else:
            # The evaluator holds a live reference to this dict.
            self.custom_audits[audit.name] = audit
        return audit

    # Backwards-compatible alias.
    add_standalone_audit = add_audit

    def add_model(self, text: str, seed_csv: Optional[str] = None,
                  columns: Optional[dict[str, str]] = None) -> Model:
        """Returns the (first) parsed model; a ``blueprints`` header adds
        one model per blueprint mapping (definition.py:2054)."""
        from sqlmesh_spark.core.model import parse_model_text_all

        models = parse_model_text_all(text)
        for model in models:
            if seed_csv is not None:
                model.seed_csv = seed_csv
                if columns:
                    model.columns = columns
            self.models[model.name] = model
        known = set(self.models)
        for m in self.models.values():
            m.depends_on = extract_depends_on(m.query, known, m.dialect) | m.declared_depends_on
        return models[0]

    # -- plan/apply (context.py:plan/apply) ---------------------------------

    def plan(
        self,
        environment: str = "prod",
        start: str = "1992-01-01",
        end: str = "1998-12-31",
        forward_only: bool = False,
        select_models: Optional[list[str]] = None,
        no_gaps: bool = False,
        effective_from: Optional[str] = None,
        skip_backfill: bool = False,
        empty_backfill: bool = False,
        create_from: Optional[str] = None,
        allow_destructive_models: Optional[list[str]] = None,
        allow_additive_models: Optional[list[str]] = None,
        skip_tests: bool = False,
        skip_linter: bool = False,
        execution_time: Optional[str] = None,
        backfill_models: Optional[list[str]] = None,
        include_unmodified: bool = True,
        ignore_cron: bool = False,
        no_auto_categorization: bool = False,
    ) -> Plan:
        # The reference's plan gates (context.py:1314 plan args
        # skip_tests/skip_linter): project YAML tests must pass before a
        # plan is produced; lint violations are surfaced as warnings.
        if not skip_tests:
            failures = self._run_project_tests()
            if failures:
                from sqlmesh_spark.core.plan import PlanError

                raise PlanError(
                    "model tests failed (pass skip_tests=True to bypass): "
                    + "; ".join(failures[:5])
                )
        if not skip_linter:
            import logging

            from sqlmesh_spark.core.linter import lint_models

            for v in lint_models(self.models):
                logging.getLogger("sqlmesh_spark.plan").warning(
                    "lint %s on %s: %s", v.rule, v.model, v.message
                )
        return self._evaluator.plan(
            self.models, environment, start, end, forward_only, select_models,
            no_gaps=no_gaps, effective_from=effective_from,
            skip_backfill=skip_backfill, empty_backfill=empty_backfill,
            create_from=create_from,
            allow_destructive_models=allow_destructive_models,
            allow_additive_models=allow_additive_models,
            execution_time=execution_time,
            backfill_models=backfill_models,
            include_unmodified=include_unmodified,
            ignore_cron=ignore_cron,
            no_auto_categorization=no_auto_categorization,
        )

    def _run_project_tests(self) -> list[str]:
        """Run the project's YAML model tests (tests/*.yaml|yml); returns
        failure descriptions (empty = green or no tests)."""
        if not self.project_dir:
            return []
        paths = sorted(
            glob.glob(os.path.join(self.project_dir, "tests", "*.yaml"))
        ) + sorted(glob.glob(os.path.join(self.project_dir, "tests", "*.yml")))
        if not paths:
            return []
        from sqlmesh_spark.core.model_test import ModelTestRunner

        runner = ModelTestRunner(self.spark)
        failures: list[str] = []
        for path in paths:
            try:
                with open(path) as f:
                    for r in runner.run_yaml(f.read(), self.models):
                        if not r.passed:
                            failures.append(
                                f"{os.path.basename(path)}::{r.name}: "
                                + "; ".join(r.failures)
                            )
            except Exception as exc:  # noqa: BLE001 - broken spec = failure
                failures.append(
                    f"{os.path.basename(path)}: unrunnable test spec "
                    f"({type(exc).__name__}: {exc})"
                )
        return failures

    def apply(self, plan: Plan) -> dict[str, int]:
        """Environment statements bracket the application (BeforeAllStage /
        AfterAllStage, plan/evaluator.py:127/:141); standalone audits run
        after backfill, against the environment's physical tables."""
        from sqlmesh_spark.macros import MacroEvaluator, temporal_variables

        variables = temporal_variables(
            plan.start, plan.end, execution=plan.execution_time
        )
        # Pre-quoted like the temporal _ds/_ts vars — the renderer never
        # substitutes inside quoted strings, so statements use it bare.
        variables["this_env"] = f"'{plan.environment}'"
        ev = MacroEvaluator(variables=variables)
        if self.before_all or self.after_all:
            self.state.put_environment_statements(
                plan.environment, self.before_all, self.after_all
            )
        for stmt in self.before_all:
            self.spark.sql(ev.render(stmt))
        executed = self._evaluator.apply(plan)
        self._run_standalone_audits(plan, variables["this_env"])
        for stmt in self.after_all:
            self.spark.sql(ev.render(stmt))
        if self.environment_ttl is not None and plan.environment != "prod":
            import time

            self.state.put_environment_meta(
                plan.environment,
                expiration_ts=int(time.time()) + self.environment_ttl,
            )
        return executed

    def invalidate_environment(self, name: str, protect_prod: bool = True) -> None:
        """Mark an environment for janitor removal (state_sync/base.py:378):
        views and unreferenced snapshots go on the next janitor run. Prod
        is protected unless explicitly overridden."""
        if protect_prod and name == "prod":
            raise ValueError("cannot invalidate the prod environment")
        if not self.state.get_environment(name):
            raise KeyError(f"unknown environment {name!r}")
        self.state.put_environment_meta(name, invalidated=True)

    def _run_standalone_audits(self, plan: Plan, this_env: str) -> None:
        """Render each audit's query against the plan's physical tables;
        violation counts are recorded and warned about, never blocking
        (audit/definition.py:189)."""
        import logging

        relations = model_relations(plan.snapshots)
        for audit in self.standalone_audits.values():
            sql = render_model_sql(
                self.spark, audit.query, plan.start, plan.end, relations,
                execution_time=plan.execution_time,
                variables={"this_env": this_env},
            )
            n_bad = self.spark.sql(sql).count()
            self.state.put_audit_result(plan.environment, audit.name, n_bad)
            if n_bad:
                logging.getLogger("sqlmesh_spark").warning(
                    "standalone audit %s found %d violation(s)", audit.name, n_bad
                )

    def run(
        self,
        environment: str = "prod",
        start: str = "1992-01-01",
        end: str = "1998-12-31",
        forward_only: bool = False,
        select_models: Optional[list[str]] = None,
        ignore_cron: bool = False,
    ) -> dict[str, int]:
        """plan+apply in one step (context.py:756 run semantics: process
        missing intervals for the environment). Scheduled execution — the
        test/linter gates belong to plan(), not run (a failing YAML test
        must not block cron runs; matches the reference, whose run path
        never test-gates). ignore_cron (reference run arg) processes the
        trailing partial unit without waiting for cron completion."""
        return self.apply(
            self.plan(
                environment, start, end, forward_only, select_models,
                skip_tests=True, skip_linter=True, ignore_cron=ignore_cron,
            )
        )

    def restate(
        self,
        model_names: list[str],
        start: str,
        end: str,
        environment: str = "prod",
    ) -> dict[str, int]:
        """Restatement (plan/builder.py:369): clear processed intervals of
        the named models AND their downstream dependents for [start, end),
        then re-run — late-arriving/corrected source data reprocesses
        exactly that window, at the versions the run's own plan serves (a
        child that categorization reverted keeps its old version)."""
        from sqlmesh_spark.core.snapshot import snapshots_to_dag, to_epoch

        plan = self.plan(environment, start, end, skip_tests=True, skip_linter=True)
        targets = {n.lower() for n in model_names}
        # Downstream closure, in one pass since parents come first.
        for name in snapshots_to_dag(plan.snapshots):
            if targets.intersection(plan.snapshots[name].parents):
                targets.add(name)
        for name in targets:
            self.state.remove_intervals(
                name, plan.snapshots[name].version, to_epoch(start), to_epoch(end)
            )
        return self.apply(plan)

    # -- render / evaluate (context.py:1099/1168) ---------------------------

    def render(self, model_name: str, start: str = "1992-01-01", end: str = "1998-12-31") -> str:
        from sqlmesh_spark.core.plan import build_snapshots

        snaps = build_snapshots(self.models)
        return SnapshotEvaluator(self.spark).render(
            snaps[model_name.lower()], start, end, model_relations(snaps)
        )

    def evaluate(self, model_name: str, start: str = "1992-01-01", end: str = "1998-12-31") -> DataFrame:
        return self.spark.sql(self.render(model_name, start, end))

    def table_diff(
        self,
        model_name: str,
        source_env: str,
        target_env: str,
        on: Optional[list[str]] = None,
        decimal_scale: int = 4,
    ) -> DataFrame:
        """`sqlmesh table_diff source_env:target_env model` (reference
        context.py table_diff → table_diff.py:219 row_diff): ONE full-outer
        -join stats frame comparing the model's data between two
        environments' views — the only shape that scales (a single
        co-partitioned shuffle on the grain, never a row fetch loop)."""
        from sqlmesh_spark.diff import row_diff_query

        model = self.models[model_name.lower()]
        keys = on or list(model.grain)
        if not keys:
            raise ValueError(
                f"table_diff needs join keys: pass on=[...] or set grain on {model_name}"
            )

        def env_view(env: str) -> str:
            return f"{env_schema(env)}.{model.view_name}"

        src, tgt = env_view(source_env), env_view(target_env)
        value_cols = [c for c in self.spark.table(src).columns if c not in keys]
        sql = row_diff_query(
            f"SELECT * FROM {src}",
            f"SELECT * FROM {tgt}",
            on=keys,
            value_columns=value_cols,
            decimal_scale=decimal_scale,
        )
        return self.spark.sql(sql)

    def rewrite(self, sql: str, dialect: str = "", environment: str = "prod") -> str:
        """`sqlmesh rewrite` (cli/main.py:1057 → context.rewrite): turn a
        semantic query — ``SELECT ds, METRIC(total_orders) FROM
        __semantic.__table GROUP BY ds`` — into the executable joined-
        aggregates SQL. Projections that aren't METRIC(...) calls are the
        dimensions. ``dialect`` transpiles the INPUT before extraction
        (the reference's --read); output is always Spark SQL."""
        import re as _re

        if dialect and dialect != "spark":
            from sqlmesh_spark.core.transpile import transpile

            sql = transpile(sql, dialect)
        metric_names = [
            m.group(1).lower()
            for m in _re.finditer(
                r"\bMETRIC\s*\(\s*([A-Za-z_][\w]*)\s*\)", sql, _re.IGNORECASE
            )
        ]
        if not metric_names:
            raise ValueError("no METRIC(...) references in query")
        m = _re.search(r"\bSELECT\s+(.*?)\s+FROM\b", sql, _re.IGNORECASE | _re.DOTALL)
        dimensions = []
        if m:
            from sqlmesh_spark.macros import split_top_level

            for proj in split_top_level(m.group(1)):
                if proj and not _re.search(r"\bMETRIC\s*\(", proj, _re.IGNORECASE):
                    dimensions.append(
                        _re.split(r"\s+AS\s+", proj, flags=_re.IGNORECASE)[0].strip()
                    )
        return self._metric_query(metric_names, dimensions, environment)

    def evaluate_metrics(
        self,
        metric_names: list[str],
        dimensions: list[str],
        environment: str = "prod",
    ) -> DataFrame:
        """Evaluate loaded metrics grouped by shared dimensions — the
        semantic-layer query surface (reference rewriter.py:21-120 via
        `SELECT METRIC(...)` rewriting)."""
        return self.spark.sql(
            self._metric_query(metric_names, dimensions, environment)
        )

    def _metric_query(
        self,
        metric_names: list[str],
        dimensions: list[str],
        environment: str = "prod",
    ) -> str:
        """Build the joined-aggregates SQL for the requested metrics
        grouped by shared dimensions. Base metrics aggregate their own
        source (a model's environment view or an external table); derived
        metrics compose in the outer projection. Dimensions must be
        columns of every involved source."""
        from sqlmesh_spark.metrics import rewrite

        requested = []
        frontier = [n.lower() for n in metric_names]
        while frontier:
            n = frontier.pop()
            m = self.metrics[n]
            if m not in requested:
                requested.append(m)
            if m.source is None:
                # pull in base metrics the derived expr references
                for name in self.metrics:
                    if name != n and name in m.expr and self.metrics[name] not in requested:
                        frontier.append(name)
        views = env_schema(environment)

        def resolve(rel: str) -> str:
            if rel in self.models:
                return f"{views}.{self.models[rel].view_name}"
            return rel

        sources: dict[str, str] = {}
        for m in requested:
            if m.source is None:
                continue
            parts = m.source.split("|")
            if len(parts) == 1:
                sources[m.source] = f"SELECT * FROM {resolve(parts[0])}"
                continue
            # Multi-table metric: derive the join from the models' shared
            # GRAIN (the reference's references/grain join graph). Every
            # involved table must be a model declaring a grain, and the
            # grains must intersect.
            grains = []
            for p in parts:
                if p not in self.models or not self.models[p].grain:
                    raise ValueError(
                        f"metric {m.name!r} spans {parts}; every table must be "
                        f"a model with a declared grain to derive the join "
                        f"({p!r} is not)"
                    )
                grains.append(set(self.models[p].grain))
            shared = set.intersection(*grains)
            if not shared:
                raise ValueError(
                    f"metric {m.name!r}: models {parts} share no grain "
                    f"columns — no join path"
                )
            keys = sorted(shared)
            aliases = [f"__s{i}" for i in range(len(parts))]
            join = f"{resolve(parts[0])} {aliases[0]}"
            for i in range(1, len(parts)):
                on = " AND ".join(
                    f"{aliases[0]}.{k} = {aliases[i]}.{k}" for k in keys
                )
                join += f" JOIN {resolve(parts[i])} {aliases[i]} ON {on}"
            # project every column once: the first relation wins the shared
            # grain columns, each relation contributes its own columns
            cols: list[str] = []
            seen_cols: set[str] = set()
            for alias, p in zip(aliases, parts):
                for c in self.spark.table(resolve(p)).columns:
                    if c.lower() in seen_cols:
                        continue
                    seen_cols.add(c.lower())
                    cols.append(f"{alias}.{c}")
            sources[m.source] = f"SELECT {', '.join(cols)} FROM {join}"
        # base metrics before derived so rewrite() finds a base to build on
        ordered = [m for m in requested if m.source is not None] + [
            m for m in requested if m.source is None
        ]
        return rewrite(ordered, dimensions, sources)

    def columns_to_types(self, model_name: str) -> Optional[dict[str, str]]:
        """Render-time inferred schema (definition.py:1449-1482): analyzed,
        never executed — model upstreams need no physical tables."""
        from sqlmesh_spark.core.inference import infer_columns_to_types

        return infer_columns_to_types(self.spark, self.models, model_name)

    def clear_caches(self) -> None:
        """`sqlmesh clean` (cli/main.py:1086 → context.clear_caches):
        drops every derived cache — the render cache (re-renders on next
        plan), Spark's relation cache, and the project's on-disk .cache
        dir if one exists. State and physical tables are untouched."""
        import shutil

        from sqlmesh_spark.core import scheduler as _sched

        _sched._RENDER_CACHE.clear()
        self.spark.catalog.clearCache()
        if self.project_dir:
            shutil.rmtree(
                os.path.join(self.project_dir, ".cache"), ignore_errors=True
            )

    def migrate(self) -> bool:
        """`sqlmesh migrate` (cli/main.py:938): upgrade the state store's
        schema to the running version (pre-migration backup retained for
        rollback)."""
        return self.state.migrate()

    def rollback(self) -> None:
        """`sqlmesh rollback` (cli/main.py:943): restore the state backup
        taken by the last migrate."""
        self.state.rollback()

    def janitor(self) -> list[str]:
        """Drop (1) environments that are invalidated or past their TTL —
        their view schemas go too — then (2) physical snapshot tables no
        remaining environment references, with their recorded intervals
        (the reference's cleanup of expired environments and snapshots —
        virtual envs keep old versions alive only while some environment
        points at them).
        Returns the dropped object names (views schemas and tables)."""
        import time

        dropped_envs: list[str] = []
        now = int(time.time())
        for env in list(self.state.get_environments()):
            meta = self.state.get_environment_meta(env)
            expired = meta.get("expiration_ts") is not None and meta["expiration_ts"] <= now
            if meta.get("invalidated") or expired:
                views = env_schema(env)
                self.spark.sql(f"DROP DATABASE IF EXISTS {views} CASCADE")
                self.state.delete_environment(env)
                dropped_envs.append(views)

        live = {
            physical_table(name, version)
            for env_pointers in self.state.get_environments().values()
            for name, version in env_pointers.items()
        }
        dropped = []
        forgotten: list[tuple[str, str]] = []
        for name, version in self.state.get_snapshots():
            table = physical_table(name, version)
            if table not in live and self._evaluator.adapter.table_exists(table):
                self._evaluator.adapter.drop_table(table)
                dropped.append(table)
                forgotten.append((name, version))
        # Intervals go with their table: kept, they would read as processed
        # for an environment that later points back at this version.
        self.state.forget_snapshots(forgotten)
        return dropped_envs + dropped

    def generate_test(
        self,
        model_name: str,
        input_limits: int = 5,
        start: str = "1992-01-01",
        end: str = "1998-12-31",
    ) -> dict:
        """create_test (reference context.py:2183): sample live upstream
        rows as fixtures and record the model's output on them — a YAML-
        ready golden test spec generated from reality."""
        import re as _re

        model = self.models[model_name.lower()]
        inputs: dict[str, dict] = {}
        for dep in sorted(model.depends_on):
            if dep in self.models or not _re.match(r"[\w.]+$", dep):
                continue  # only external leaf tables become fixtures
            rows = [r.asDict() for r in self.spark.table(dep).limit(input_limits).collect()]
            inputs[dep] = {"rows": rows}
        from sqlmesh_spark.core.model_test import ModelTestRunner

        runner = ModelTestRunner(self.spark)
        body = {
            "model": model.name,
            "inputs": inputs,
            "vars": {"start": start, "end": end},
            "outputs": {},
        }
        # The golden output: the model rendered over the sampled fixtures.
        sql = runner.render(body, self.models)
        body["outputs"]["query"] = {"rows": [r.asDict() for r in self.spark.sql(sql).collect()]}
        spec = {f"test_{model.view_name}": body}
        # The generated spec must round-trip through the runner.
        results = runner.run_spec(spec, self.models)
        assert all(r.passed for r in results), [r.failures for r in results]
        return spec

    # -- lineage (core/lineage.py analog, table level) ----------------------

    def lineage(self, model_name: str) -> list[str]:
        """Upstream closure in dependency order."""
        seen: list[str] = []

        def walk(name: str) -> None:
            for dep in sorted(self.models[name].depends_on):
                if dep in self.models and dep not in seen:
                    walk(dep)
            if name not in seen:
                seen.append(name)

        walk(model_name.lower())
        return seen
