"""Command-line surface — a minimal mirror of the reference's CLI
(sqlmesh/cli/main.py: plan / run / diff / render / evaluate / test /
invalidate / janitor) wrapping ``core.context.Context``.

    python -m sqlmesh_spark -p <project_dir> plan  [env] [--start --end] [--forward-only] [--select-model ...] [--auto-apply/--dry-run]
    python -m sqlmesh_spark -p <project_dir> run   [env] [--start --end]
    python -m sqlmesh_spark -p <project_dir> diff  [env]
    python -m sqlmesh_spark -p <project_dir> test
    python -m sqlmesh_spark -p <project_dir> render   <model> [--start --end]
    python -m sqlmesh_spark -p <project_dir> evaluate <model> [--start --end] [--limit N]
    python -m sqlmesh_spark -p <project_dir> restate <model>... --start --end
    python -m sqlmesh_spark -p <project_dir> environments | table_name <model>
    python -m sqlmesh_spark -p <project_dir> fetchdf <sql> | lint
    python -m sqlmesh_spark -p <project_dir> audit [model] | check_intervals
    python -m sqlmesh_spark -p <project_dir> dag | info | create_external_models
    python -m sqlmesh_spark -p <project_dir> create_test <model> | table_diff src:tgt <model>
    python -m sqlmesh_spark -p <project_dir> metrics [name...] [--dim d]
    python -m sqlmesh_spark -p <project_dir> state export|import <file>
    python -m sqlmesh_spark -p <project_dir> init | format [--check]
    python -m sqlmesh_spark -p <project_dir> janitor | destroy --yes
    python -m sqlmesh_spark -p <project_dir> invalidate <env>
    python -m sqlmesh_spark -p <project_dir> rewrite <sql> [--read duckdb]
    python -m sqlmesh_spark -p <project_dir> clean | migrate | rollback

argparse instead of click (no extra deps in the sandbox); commands map
1:1 onto Context methods so programmatic and CLI behavior can't drift.
Exit codes: 0 success, 1 failure (plan errors, failed tests).
"""

from __future__ import annotations

import argparse
import glob
import os
import sys
from typing import Optional


def _build_spark(cpus: Optional[int]):
    from sqlmesh_spark.session import build_session

    return build_session(cpus=cpus)


def _context(args):
    from sqlmesh_spark.core.context import Context

    spark = _build_spark(args.cpus)
    return Context(spark, project_dir=args.project, gateway=getattr(args, "gateway", None))


def _plan_summary(plan) -> str:
    lines = [f"plan: environment={plan.environment} [{plan.start} .. {plan.end}]"]
    diff = plan.diff
    for name in diff.added:
        lines.append(f"  + {name} (added)")
    for name in diff.modified:
        lines.append(f"  ~ {name} (modified)")
    for name in diff.removed:
        lines.append(f"  - {name} (removed)")
    if not diff.has_changes:
        lines.append("  no changes")
    return "\n".join(lines)


def cmd_plan(args) -> int:
    ctx = _context(args)
    plan = ctx.plan(
        environment=args.environment,
        start=args.start,
        end=args.end,
        forward_only=args.forward_only,
        select_models=args.select_model or None,
        no_gaps=getattr(args, "no_gaps", False),
        effective_from=getattr(args, "effective_from", None),
        skip_backfill=getattr(args, "skip_backfill", False),
        empty_backfill=getattr(args, "empty_backfill", False),
        create_from=getattr(args, "create_from", None),
        execution_time=getattr(args, "execution_time", None),
        allow_destructive_models=getattr(args, "allow_destructive_model", None),
        allow_additive_models=getattr(args, "allow_additive_model", None),
        skip_tests=getattr(args, "skip_tests", False),
        skip_linter=getattr(args, "skip_linter", False),
        backfill_models=getattr(args, "backfill_model", None),
        include_unmodified=getattr(args, "include_unmodified", True),
        no_auto_categorization=getattr(args, "no_auto_categorization", False),
    )
    print(_plan_summary(plan))
    if args.dry_run:
        return 0
    executed = ctx.apply(plan)
    for name, n in sorted(executed.items()):
        print(f"  applied {name}: {n} interval(s)")
    return 0


def cmd_run(args) -> int:
    ctx = _context(args)
    executed = ctx.run(
        environment=args.environment, start=args.start, end=args.end,
        ignore_cron=getattr(args, "ignore_cron", False),
    )
    for name, n in sorted(executed.items()):
        print(f"  ran {name}: {n} interval(s)")
    return 0


def cmd_diff(args) -> int:
    """Show the context diff against an environment WITHOUT applying —
    reference `sqlmesh diff` (main.py diff command)."""
    ctx = _context(args)
    plan = ctx.plan(environment=args.environment, start=args.start, end=args.end)
    print(_plan_summary(plan))
    return 0 if not plan.diff.has_changes else 2  # 2 = changes pending


def cmd_render(args) -> int:
    ctx = _context(args)
    print(ctx.render(args.model, start=args.start, end=args.end))
    return 0


def cmd_evaluate(args) -> int:
    ctx = _context(args)
    df = ctx.evaluate(args.model, start=args.start, end=args.end)
    print(df.limit(args.limit).toPandas().to_string(index=False))
    return 0


def cmd_test(args) -> int:
    """Run the project's YAML model tests (tests/*.yaml) — reference
    `sqlmesh test` (core/test/definition.py)."""
    from sqlmesh_spark.core.model_test import ModelTestRunner

    ctx = _context(args)
    runner = ModelTestRunner(ctx.spark)
    paths = sorted(glob.glob(os.path.join(args.project, "tests", "*.yaml"))) + sorted(
        glob.glob(os.path.join(args.project, "tests", "*.yml"))
    )
    if not paths:
        print("no tests found")
        return 0
    n_pass = n_fail = 0
    for path in paths:
        with open(path) as f:
            results = runner.run_yaml(f.read(), ctx.models)
        for r in results:
            status = "PASS" if r.passed else "FAIL"
            print(f"  {status} {os.path.basename(path)}::{r.name}")
            for msg in r.failures:
                print(f"       {msg}")
            n_pass += r.passed
            n_fail += not r.passed
    print(f"{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


def cmd_restate(args) -> int:
    """Clear processed intervals for the named models (and dependents)
    over [start, end) and re-run — reference `sqlmesh plan --restate-model`."""
    ctx = _context(args)
    executed = ctx.restate(
        args.model, start=args.start, end=args.end, environment=args.environment
    )
    for name, n in sorted(executed.items()):
        print(f"  restated {name}: {n} interval(s)")
    return 0


def cmd_environments(args) -> int:
    """List environments with their model→version pointer sets —
    reference `sqlmesh environments`."""
    ctx = _context(args)
    envs = ctx.state.get_environments()
    if not envs:
        print("no environments")
        return 0
    for env in sorted(envs):
        meta = ctx.state.get_environment_meta(env)
        flags = []
        if meta.get("invalidated"):
            flags.append("invalidated")
        if meta.get("expiration_ts"):
            flags.append(f"expires@{meta['expiration_ts']}")
        suffix = f" [{', '.join(flags)}]" if flags else ""
        print(f"{env}{suffix}")
        for model, version in sorted(envs[env].items()):
            print(f"  {model} -> {version}")
    return 0


def _served_snapshots(ctx, *window: str):
    """The snapshots a prod plan over ``window`` (start, end; the plan's
    default window when omitted) serves: after categorization reverts, a
    child of a NON_BREAKING change keeps the version prod points at."""
    return ctx.plan("prod", *window, skip_tests=True, skip_linter=True).snapshots


def cmd_table_name(args) -> int:
    """Print the physical snapshot table backing a model — reference
    `sqlmesh table_name`."""
    ctx = _context(args)
    snaps = _served_snapshots(ctx)
    name = args.model.lower()
    if name not in snaps:
        print(f"error: unknown model {args.model!r}", file=sys.stderr)
        return 1
    print(snaps[name].table_name)
    return 0


def cmd_fetchdf(args) -> int:
    """Run an ad-hoc SQL query and print rows — reference `sqlmesh fetchdf`."""
    ctx = _context(args)
    print(ctx.spark.sql(args.sql).limit(args.limit).toPandas().to_string(index=False))
    return 0


def cmd_lint(args) -> int:
    """Run the builtin lint rules over the project's models — reference
    `sqlmesh lint`. Exit 1 when violations exist."""
    from sqlmesh_spark.core.linter import lint_models

    ctx = _context(args)
    violations = lint_models(ctx.models)
    for v in violations:
        print(f"  {v.model}: {v.rule} — {v.message}")
    print(f"{len(violations)} violation(s)")
    return 1 if violations else 0


def cmd_audit(args) -> int:
    """Run a model's attached audits against its physical table —
    reference `sqlmesh audit`. Exit 1 on blocking failures."""
    from sqlmesh_spark.core.scheduler import SnapshotEvaluator

    ctx = _context(args)
    snaps = _served_snapshots(ctx)
    ev = SnapshotEvaluator(ctx.spark)
    ev.custom_audits = ctx.custom_audits
    names = [args.model.lower()] if args.model else [
        n for n, m in ctx.models.items() if m.audits
    ]
    n_fail = 0
    for name in names:
        snap = snaps[name]
        if not ev.adapter.table_exists(snap.table_name):
            print(f"  SKIP {name} (no physical table — run plan first)")
            continue
        failures = ev.run_audits(snap)
        if failures:
            n_fail += len(failures)
            for f in failures:
                print(f"  FAIL {name}: {f}")
        else:
            print(f"  PASS {name} ({len(snap.model.audits)} audit(s))")
    return 1 if n_fail else 0


def cmd_check_intervals(args) -> int:
    """Show missing (unprocessed) intervals per model over [start, end) —
    reference `sqlmesh check_intervals`: the versions a prod run's plan
    serves, and what the scheduler's own missing_chunks says they owe."""
    import datetime as dt

    from sqlmesh_spark.core.scheduler import WHOLESALE_KINDS, missing_chunks

    def iso(ts: int) -> str:
        return dt.datetime.fromtimestamp(ts, dt.timezone.utc).strftime("%Y-%m-%d %H:%M")

    ctx = _context(args)
    snaps = _served_snapshots(ctx, args.start, args.end)
    any_missing = False
    for name in sorted(snaps):
        snap = snaps[name]
        processed = ctx.state.get_intervals(name, snap.version)
        missing = missing_chunks(snap.model, args.start, args.end, processed)
        if snap.model.kind in WHOLESALE_KINDS:
            # Wholesale kinds rebuild the whole table in one batch whenever
            # their window gains a cron interval: no backlog to list.
            due = "rebuilds on the next run" if missing else "up to date"
            print(f"{name}: wholesale kind ({snap.model.kind.value}), {due}")
        elif missing:
            any_missing = True
            print(f"{name}: {len(missing)} missing interval(s)")
            for s, e in missing[:5]:
                print(f"  [{iso(s)} .. {iso(e)})")
            if len(missing) > 5:
                print(f"  ... and {len(missing) - 5} more")
        else:
            print(f"{name}: up to date")
    return 2 if any_missing else 0


def cmd_dag(args) -> int:
    """Print the model DAG as indented parent lists — reference
    `sqlmesh dag` (text form instead of the HTML render)."""
    ctx = _context(args)
    known = set(ctx.models)
    for name in sorted(ctx.models):
        print(name)
        for dep in sorted(ctx.models[name].depends_on):
            marker = "" if dep in known else "  (external)"
            print(f"  <- {dep}{marker}")
    return 0


def cmd_info(args) -> int:
    """Project summary — reference `sqlmesh info`."""
    from collections import Counter

    ctx = _context(args)
    kinds = Counter(m.kind.value for m in ctx.models.values())
    print(f"project: {args.project}")
    print(f"models: {len(ctx.models)}")
    for kind, n in sorted(kinds.items()):
        print(f"  {kind}: {n}")
    print(f"audits: {len(ctx.custom_audits)} custom, {len(ctx.standalone_audits)} standalone")
    envs = ctx.state.get_environments()
    print(f"environments: {len(envs)}" + (f" ({', '.join(sorted(envs))})" if envs else ""))
    return 0


def cmd_destroy(args) -> int:
    """Drop every managed object (snapshot schemas, environment view
    schemas) and the state store — reference `sqlmesh destroy`. Requires
    --yes (the reference prompts)."""
    import shutil

    if not args.yes:
        print("error: destroy is irreversible; pass --yes to confirm", file=sys.stderr)
        return 1
    ctx = _context(args)
    dropped = []
    for db in ctx.spark.catalog.listDatabases():
        if db.name.startswith("sqlmesh__") or db.name.endswith("_views"):
            ctx.spark.sql(f"DROP DATABASE IF EXISTS {db.name} CASCADE")
            dropped.append(db.name)
    shutil.rmtree(ctx.state.path, ignore_errors=True)
    for db in dropped:
        print(f"  dropped {db}")
    print(f"destroy: {len(dropped)} schema(s) + state removed")
    return 0


def cmd_create_external_models(args) -> int:
    """Write external_models.yaml describing every non-model dependency's
    schema from the live catalog — reference `sqlmesh create_external_models`
    (context.py create_external_models)."""
    import yaml

    ctx = _context(args)
    known = set(ctx.models)
    externals = sorted(
        {d for m in ctx.models.values() for d in m.depends_on if d not in known}
    )
    entries = []
    for name in externals:
        try:
            cols = {
                f.name: f.dataType.simpleString()
                for f in ctx.spark.table(name).schema
            }
        except Exception:
            print(f"  SKIP {name} (not in catalog)")
            continue
        entries.append({"name": name, "columns": cols})
    out_path = os.path.join(args.project, "external_models.yaml")
    with open(out_path, "w") as f:
        yaml.safe_dump(entries, f, sort_keys=False)
    print(f"wrote {len(entries)} external model(s) to {out_path}")
    return 0


def cmd_create_test(args) -> int:
    """Generate a golden YAML test for a model from live upstream data —
    reference `sqlmesh create_test` (context.py:2183)."""
    import yaml

    ctx = _context(args)
    spec = ctx.generate_test(args.model, input_limits=args.limit)
    os.makedirs(os.path.join(args.project, "tests"), exist_ok=True)
    name = args.model.rsplit(".", 1)[-1]
    out_path = os.path.join(args.project, "tests", f"test_{name}.yaml")
    with open(out_path, "w") as f:
        yaml.safe_dump(spec, f, sort_keys=False, default_flow_style=False)
    print(f"wrote {out_path}")
    return 0


def cmd_table_diff(args) -> int:
    """Row-diff a model between two environments — reference
    `sqlmesh table_diff src:tgt model`."""
    src, sep, tgt = args.envs.partition(":")
    if not sep:
        print("error: envs must be source:target", file=sys.stderr)
        return 1
    ctx = _context(args)
    df = ctx.table_diff(args.model, src, tgt, on=args.on or None)
    print(df.toPandas().to_string(index=False))
    return 0


def cmd_state_export(args) -> int:
    """Dump the state store to a JSON file — reference `sqlmesh state export`."""
    import json

    ctx = _context(args)
    with open(args.file, "w") as f:
        json.dump(ctx.state.export_state(), f, indent=2)
    print(f"state exported to {args.file}")
    return 0


def cmd_state_import(args) -> int:
    """Load a state blob into the store — reference `sqlmesh state import`."""
    import json

    ctx = _context(args)
    with open(args.file) as f:
        ctx.state.import_state(json.load(f))
    print(f"state imported from {args.file}")
    return 0


def cmd_init(args) -> int:
    """Scaffold a new project (models/ audits/ seeds/ tests/ + a working
    example pipeline) — reference `sqlmesh init` (cli/project_init.py
    init_example_project, 'default' template)."""
    proj = args.project
    for sub in ("models", "audits", "seeds", "tests"):
        os.makedirs(os.path.join(proj, sub), exist_ok=True)
    seed_path = os.path.join(proj, "seeds", "seed_data.csv")
    if os.path.exists(os.path.join(proj, "models", "full_model.sql")):
        print("error: project already initialized", file=sys.stderr)
        return 1
    with open(seed_path, "w") as f:
        f.write("id,item_id,event_date\n1,2,2020-01-01\n2,1,2020-01-01\n3,3,2020-01-03\n")
    with open(os.path.join(proj, "config.yaml"), "w") as f:
        f.write("model_defaults:\n  start: '2020-01-01'\n")
    with open(os.path.join(proj, "models", "incremental_model.sql"), "w") as f:
        f.write(
            """MODEL (
  name example.incremental_model,
  kind INCREMENTAL_BY_TIME_RANGE (time_column event_date),
  start '2020-01-01',
  cron '@daily',
  grain (id, event_date)
);
SELECT id, item_id, CAST(event_date AS TIMESTAMP) AS event_date
FROM seed.seed_data
WHERE CAST(event_date AS TIMESTAMP) >= CAST(@start_ts AS TIMESTAMP)
  AND CAST(event_date AS TIMESTAMP) <  CAST(@end_ts AS TIMESTAMP)
"""
        )
    with open(os.path.join(proj, "models", "full_model.sql"), "w") as f:
        f.write(
            """MODEL (
  name example.full_model,
  kind FULL,
  cron '@daily',
  grain item_id,
  audits (not_null(columns = (item_id)))
);
SELECT item_id, COUNT(DISTINCT id) AS num_orders
FROM example.incremental_model
GROUP BY item_id
"""
        )
    print(f"initialized project at {proj} (2 models, 1 seed)")
    print("next: python -m sqlmesh_spark -p", proj, "plan")
    return 0


def _format_tokens(sql: str, dialect: str = "") -> str:
    """Canonical formatting from the token stream: UPPERCASE keywords,
    one top-level clause per line, single-space elsewhere. String
    literals keep their exact bytes."""
    from sqlmesh_spark.core.sqlparse import tokenize

    _CLAUSES = {
        "SELECT", "FROM", "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT",
        "UNION", "INTERSECT", "EXCEPT", "WITH", "QUALIFY", "WINDOW",
    }
    _KEYWORDS = {
        "SELECT", "FROM", "WHERE", "GROUP", "BY", "HAVING", "ORDER",
        "LIMIT", "JOIN", "LEFT", "RIGHT", "FULL", "INNER", "OUTER",
        "CROSS", "SEMI", "ANTI", "ON", "USING", "AS", "AND", "OR", "NOT",
        "CASE", "WHEN", "THEN", "ELSE", "END", "NULL", "TRUE", "FALSE",
        "IS", "IN", "LIKE", "BETWEEN", "EXISTS", "DISTINCT", "UNION",
        "ALL", "INTERSECT", "EXCEPT", "WITH", "RECURSIVE", "CAST",
        "INTERVAL", "OVER", "PARTITION", "ROWS", "RANGE", "ASC", "DESC",
        "QUALIFY", "WINDOW", "LATERAL", "VIEW", "VALUES", "NULLS",
        "FIRST", "LAST", "IGNORE", "RESPECT",
    }
    toks = tokenize(sql, dialect)
    pieces: list[str] = []
    depth = 0
    prev = None
    for i, t in enumerate(toks):
        nxt = toks[i + 1] if i + 1 < len(toks) else None
        is_call = (
            t.kind == "ident"
            and t.upper not in _KEYWORDS
            and nxt is not None
            and nxt.kind == "op"
            and nxt.value == "("
        )
        if t.kind == "ident":
            # keywords AND function-call names uppercase (sqlglot style)
            word = t.upper if (t.upper in _KEYWORDS or is_call) else t.value
        elif t.kind == "qident":
            word = f"`{t.value}`"
        else:
            word = t.value
        newline = (
            depth == 0
            and t.kind == "ident"
            and t.upper in _CLAUSES
            and pieces
            and not (prev is not None and prev.upper in ("UNION", "INTERSECT", "EXCEPT", "ALL"))
        )
        no_space = (
            prev is None
            or word in (",", ")", ".", ";")
            or (prev.kind == "op" and prev.value in ("(", "."))
            # function call / struct access: attach '(' to the callee
            or (
                word == "("
                and prev.kind in ("ident", "qident")
                and prev.upper not in _KEYWORDS
            )
        )
        if newline:
            pieces.append("\n" + word)
        elif no_space and pieces:
            pieces.append(word)
        else:
            pieces.append((" " if pieces else "") + word)
        if t.kind == "op" and t.value == "(":
            depth += 1
        elif t.kind == "op" and t.value == ")":
            depth -= 1
        prev = t
    return "".join(pieces).strip() + "\n"


def cmd_format(args) -> int:
    """Rewrite model-file SQL bodies into canonical form — reference
    `sqlmesh format`. --check reports files that would change (exit 2)
    without writing."""
    from sqlmesh_spark.core.context import load_model_defaults
    from sqlmesh_spark.core.model import _unquote, parse_model_header_props
    from sqlmesh_spark.core.sqlparse import SqlParseError

    # model_defaults.dialect is the project-wide read dialect (the same
    # resolution the loader does, context.py _apply_model_defaults) —
    # formatting with the wrong literal grammar could rewrite bytes
    # INSIDE escaped-quote literals. A broken config must fail LOUDLY:
    # silently formatting with dialect "" would skip (or mis-lex) every
    # dialect model while --check reports green.
    try:
        default_dialect = str(
            load_model_defaults(args.project).get("dialect", "")
        ).lower()
    except Exception as exc:  # noqa: BLE001 - malformed config.yaml
        print(
            f"error: cannot resolve model_defaults from config.yaml: {exc}",
            file=sys.stderr,
        )
        return 1

    changed = []
    for path in sorted(glob.glob(os.path.join(args.project, "models", "**", "*.sql"), recursive=True)):
        with open(path) as f:
            text = f.read()
        # split header MODEL(...) ; body
        idx = text.find(";")
        if idx < 0:
            continue
        header, body = text[: idx + 1], text[idx + 1 :]
        try:
            props = parse_model_header_props(text)
            # same unquoting the loader applies (model.py parse_model_text)
            dialect = _unquote(props.get("dialect", "")).lower() or default_dialect
        except Exception:  # noqa: BLE001 - header the loader can't parse
            continue  # leave untouched rather than guess the grammar
        try:
            formatted = _format_tokens(body, dialect)
        except SqlParseError:
            continue  # macro-heavy body: leave untouched
        new_text = header + "\n" + formatted
        if new_text != text:
            changed.append(path)
            if not args.check:
                with open(path, "w") as f:
                    f.write(new_text)
    for path in changed:
        print(("would format " if args.check else "formatted ") + path)
    if args.check and changed:
        return 2
    print(f"{len(changed)} file(s) {'need formatting' if args.check else 'formatted'}")
    return 0


def cmd_metrics(args) -> int:
    """List loaded metrics, or evaluate them grouped by dimensions —
    the semantic-layer query surface over metrics/*.sql."""
    ctx = _context(args)
    if not ctx.metrics:
        print("no metrics defined (add metrics/*.sql)")
        return 0
    if not args.name:
        for name, m in sorted(ctx.metrics.items()):
            kind = f"base over {m.source}" if m.source else "derived"
            owner = f"  [{m.owner}]" if m.owner else ""
            print(f"{name}: {kind}{owner}\n    {m.expr}")
        return 0
    df = ctx.evaluate_metrics(args.name, dimensions=args.dim or [],
                              environment=args.environment)
    print(df.limit(args.limit).toPandas().to_string(index=False))
    return 0


def cmd_janitor(args) -> int:
    ctx = _context(args)
    removed = ctx.janitor()
    for obj in removed:
        print(f"  removed {obj}")
    print(f"janitor: {len(removed)} object(s) removed")
    return 0


def cmd_rewrite(args) -> int:
    """`sqlmesh rewrite` (reference cli/main.py:1057): semantic METRIC(...)
    query -> executable joined-aggregates SQL; --read transpiles the input
    dialect first. The write dialect is always Spark SQL."""
    ctx = _context(args)
    if args.write not in ("", "spark"):
        print(f"unsupported write dialect {args.write!r}: this engine emits Spark SQL")
        return 2
    print(ctx.rewrite(args.sql, dialect=args.read, environment=args.environment))
    return 0


def cmd_clean(args) -> int:
    """`sqlmesh clean` (reference cli/main.py:1086): clear caches/artifacts."""
    ctx = _context(args)
    ctx.clear_caches()
    print("caches cleared")
    return 0


def cmd_migrate(args) -> int:
    """`sqlmesh migrate` (reference cli/main.py:938): upgrade state schema."""
    ctx = _context(args)
    ran = ctx.migrate()
    print(
        "state migrated to version "
        f"{ctx.state.SCHEMA_VERSION}" if ran else "state already current"
    )
    return 0


def cmd_rollback(args) -> int:
    """`sqlmesh rollback` (reference cli/main.py:943): restore pre-migration state."""
    ctx = _context(args)
    ctx.rollback()
    print("state rolled back to pre-migration backup")
    return 0


def cmd_invalidate(args) -> int:
    ctx = _context(args)
    ctx.invalidate_environment(args.environment)
    print(f"environment {args.environment} invalidated (janitor will clean it)")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="sqlmesh_spark",
        description="PySpark-native sqlmesh-class transformation framework",
    )
    p.add_argument("-p", "--project", required=True, help="project directory")
    p.add_argument(
        "--cpus",
        type=int,
        default=None,
        help="local Spark cores (default: SPARK_GRAFT_CPUS, else the usable cores)",
    )
    p.add_argument(
        "--gateway",
        default=None,
        help="named gateway profile from config.yaml (default: default_gateway)",
    )
    sub = p.add_subparsers(dest="command", required=True)

    def common(sp, env_positional: bool = True):
        if env_positional:
            sp.add_argument("environment", nargs="?", default="prod")
        sp.add_argument("--start", default="1992-01-01")
        sp.add_argument("--end", default="1998-12-31")

    sp = sub.add_parser("plan", help="compute and apply a plan")
    common(sp)
    sp.add_argument("--forward-only", action="store_true")
    sp.add_argument("--create-from", default=None,
                    help="seed a new environment's baseline from another environment")
    sp.add_argument("--execution-time", default=None,
                    help="pin @execution_ts/@execution_ds in rendered SQL")
    sp.add_argument("--allow-destructive-model", action="append", default=None,
                    help="permit a destructive forward-only change on this model")
    sp.add_argument("--allow-additive-model", action="append", default=None,
                    help="permit an additive forward-only change on this model")
    sp.add_argument("--skip-tests", action="store_true",
                    help="skip the project YAML model tests gate")
    sp.add_argument("--skip-linter", action="store_true",
                    help="skip lint warnings during planning")
    sp.add_argument("--no-auto-categorization", action="store_true",
                    help="treat every change as breaking (no additive heuristic)")
    sp.add_argument("--backfill-model", action="append", default=None,
                    help="restrict interval processing to this model (repeatable)")
    sp.add_argument("--no-include-unmodified", dest="include_unmodified",
                    action="store_false", default=True,
                    help="create/refresh environment views only for models in "
                    "this plan's change surface (added/modified/indirect)")
    sp.add_argument("--skip-backfill", action="store_true",
                    help="record snapshots and promote without processing intervals")
    sp.add_argument("--empty-backfill", action="store_true",
                    help="create empty tables and mark the window processed")
    sp.add_argument(
        "--effective-from",
        default=None,
        help="forward-only plans: date the new logic takes effect; intervals "
        "from it onward recompute with the new query",
    )
    sp.add_argument(
        "--no-gaps",
        action="store_true",
        help="refuse promotion when a replacement snapshot misses intervals "
        "its predecessor had processed",
    )
    sp.add_argument("--select-model", action="append")
    sp.add_argument("--dry-run", action="store_true", help="show the plan, don't apply")
    sp.set_defaults(fn=cmd_plan)

    sp = sub.add_parser("run", help="plan+apply missing intervals")
    common(sp)
    sp.set_defaults(fn=cmd_run)

    sp.add_argument("--ignore-cron", action="store_true",
                    help="process the trailing partial interval without waiting for cron")
    sp = sub.add_parser("diff", help="show pending changes vs an environment")
    common(sp)
    sp.set_defaults(fn=cmd_diff)

    sp = sub.add_parser("render", help="render a model's SQL")
    sp.add_argument("model")
    common(sp, env_positional=False)
    sp.set_defaults(fn=cmd_render)

    sp = sub.add_parser("evaluate", help="execute a model's query and print rows")
    sp.add_argument("model")
    common(sp, env_positional=False)
    sp.add_argument("--limit", type=int, default=20)
    sp.set_defaults(fn=cmd_evaluate)

    sp = sub.add_parser("test", help="run YAML model tests")
    sp.set_defaults(fn=cmd_test)

    sp = sub.add_parser("restate", help="re-process a window for models + dependents")
    sp.add_argument("model", nargs="+")
    sp.add_argument("environment", nargs="?", default="prod")
    sp.add_argument("--start", required=True)
    sp.add_argument("--end", required=True)
    sp.set_defaults(fn=cmd_restate)

    sp = sub.add_parser("environments", help="list environments and their pointers")
    sp.set_defaults(fn=cmd_environments)

    sp = sub.add_parser("table_name", help="physical snapshot table for a model")
    sp.add_argument("model")
    sp.set_defaults(fn=cmd_table_name)

    sp = sub.add_parser("fetchdf", help="run ad-hoc SQL and print rows")
    sp.add_argument("sql")
    sp.add_argument("--limit", type=int, default=20)
    sp.set_defaults(fn=cmd_fetchdf)

    sp = sub.add_parser("lint", help="run builtin lint rules over the project")
    sp.set_defaults(fn=cmd_lint)

    sp = sub.add_parser("audit", help="run model audits against physical tables")
    sp.add_argument("model", nargs="?")
    sp.set_defaults(fn=cmd_audit)

    sp = sub.add_parser("check_intervals", help="show missing intervals per model")
    sp.add_argument("--start", default="1992-01-01")
    sp.add_argument("--end", default="1998-12-31")
    sp.set_defaults(fn=cmd_check_intervals)

    sp = sub.add_parser("dag", help="print the model dependency graph")
    sp.set_defaults(fn=cmd_dag)

    sp = sub.add_parser("info", help="project summary")
    sp.set_defaults(fn=cmd_info)

    sp = sub.add_parser("destroy", help="drop all managed objects and state")
    sp.add_argument("--yes", action="store_true")
    sp.set_defaults(fn=cmd_destroy)

    sp = sub.add_parser(
        "create_external_models", help="write external_models.yaml from the catalog"
    )
    sp.set_defaults(fn=cmd_create_external_models)

    sp = sub.add_parser("create_test", help="generate a golden YAML test for a model")
    sp.add_argument("model")
    sp.add_argument("--limit", type=int, default=5)
    sp.set_defaults(fn=cmd_create_test)

    sp = sub.add_parser("table_diff", help="row-diff a model between environments")
    sp.add_argument("envs", help="source:target")
    sp.add_argument("model")
    sp.add_argument("--on", action="append", help="join key (repeatable)")
    sp.set_defaults(fn=cmd_table_diff)

    sp = sub.add_parser("state", help="export/import the state store")
    ssub = sp.add_subparsers(dest="state_cmd", required=True)
    se = ssub.add_parser("export")
    se.add_argument("file")
    se.set_defaults(fn=cmd_state_export)
    si = ssub.add_parser("import")
    si.add_argument("file")
    si.set_defaults(fn=cmd_state_import)

    sp = sub.add_parser("metrics", help="list metrics or evaluate them by dimensions")
    sp.add_argument("name", nargs="*")
    sp.add_argument("--dim", action="append")
    sp.add_argument("environment", nargs="?", default="prod")
    sp.add_argument("--limit", type=int, default=20)
    sp.set_defaults(fn=cmd_metrics)

    sp = sub.add_parser("init", help="scaffold a new project with example models")
    sp.set_defaults(fn=cmd_init)

    sp = sub.add_parser("format", help="canonically format model SQL bodies")
    sp.add_argument("--check", action="store_true", help="report only, exit 2 if dirty")
    sp.set_defaults(fn=cmd_format)

    sp = sub.add_parser("janitor", help="clean expired environments/snapshots")
    sp.set_defaults(fn=cmd_janitor)

    sp = sub.add_parser("rewrite", help="rewrite a METRIC(...) semantic query to executable SQL")
    sp.add_argument("sql")
    sp.add_argument("--read", default="", help="input dialect (duckdb/postgres/ansi)")
    sp.add_argument("--write", default="", help="output dialect (spark only)")
    sp.add_argument("--environment", default="prod")
    sp.set_defaults(fn=cmd_rewrite)

    sp = sub.add_parser("clean", help="clear caches and build artifacts")
    sp.set_defaults(fn=cmd_clean)

    sp = sub.add_parser("migrate", help="migrate the state store schema")
    sp.set_defaults(fn=cmd_migrate)

    sp = sub.add_parser("rollback", help="restore the pre-migration state backup")
    sp.set_defaults(fn=cmd_rollback)

    sp = sub.add_parser("invalidate", help="mark an environment for cleanup")
    sp.add_argument("environment")
    sp.set_defaults(fn=cmd_invalidate)
    return p


def main(argv: Optional[list[str]] = None) -> int:
    args = build_parser().parse_args(argv)
    try:
        return args.fn(args)
    except Exception as exc:  # noqa: BLE001 - CLI boundary
        print(f"error: {exc}", file=sys.stderr)
        return 1


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
