"""CLI end-to-end: plan → apply → diff → run → test on a temp project
(reference surface: sqlmesh/cli/main.py), driving cli.main() exactly as
``python -m sqlmesh_spark`` does."""

from __future__ import annotations

import os
import uuid

import pytest

from sqlmesh_spark.cli import main


@pytest.fixture()
def project(tmp_path, spark):
    """A two-model project + a YAML test, with a unique schema per run."""
    schema = f"cli{uuid.uuid4().hex[:6]}"
    os.makedirs(tmp_path / "models")
    os.makedirs(tmp_path / "tests")
    (tmp_path / "models" / "daily.sql").write_text(
        f"MODEL (name {schema}.daily, kind FULL);\n"
        "SELECT * FROM (VALUES ('2024-01-01', 5), ('2024-01-02', 7)) AS t(ds, n)\n"
    )
    (tmp_path / "models" / "monthly.sql").write_text(
        f"MODEL (name {schema}.monthly, kind FULL);\n"
        "SELECT substring(ds, 1, 7) AS month, SUM(n) AS n_total "
        f"FROM {schema}.daily GROUP BY substring(ds, 1, 7)\n"
    )
    (tmp_path / "tests" / "test_monthly.yaml").write_text(
        f"""
test_monthly:
  model: {schema}.monthly
  inputs:
    {schema}.daily:
      rows:
        - {{ds: '2024-01-01', n: 5}}
        - {{ds: '2024-01-02', n: 7}}
  outputs:
    query:
      rows:
        - {{month: '2024-01', n_total: 12}}
"""
    )
    return str(tmp_path), schema


def test_cli_plan_apply_run_diff_test(project, capsys):
    proj, schema = project

    # dry-run plan: both models show as added, nothing applied
    assert main(["-p", proj, "plan", "--dry-run"]) == 0
    out = capsys.readouterr().out
    assert f"+ {schema}.daily (added)" in out
    assert f"+ {schema}.monthly (added)" in out

    # plan (applies)
    assert main(["-p", proj, "plan"]) == 0
    out = capsys.readouterr().out
    assert f"applied {schema}.daily" in out
    assert f"applied {schema}.monthly" in out

    # diff after apply: clean (exit 0, 'no changes')
    assert main(["-p", proj, "diff"]) == 0
    assert "no changes" in capsys.readouterr().out

    # run: no new intervals for FULL models already applied this window
    assert main(["-p", proj, "run"]) == 0
    capsys.readouterr()

    # evaluate prints the materialized-model query result
    assert main(["-p", proj, "evaluate", f"{schema}.monthly"]) == 0
    out = capsys.readouterr().out
    assert "2024-01" in out and "12" in out

    # YAML model tests pass
    assert main(["-p", proj, "test"]) == 0
    out = capsys.readouterr().out
    assert "PASS" in out and "1 passed, 0 failed" in out

    # edit the monthly model → diff flags it (exit 2), plan applies it
    with open(os.path.join(proj, "models", "monthly.sql")) as f:
        text = f.read()
    with open(os.path.join(proj, "models", "monthly.sql"), "w") as f:
        f.write(text.replace("SUM(n) AS n_total", "SUM(n) + 0 AS n_total"))
    assert main(["-p", proj, "diff"]) == 2
    assert f"~ {schema}.monthly (modified)" in capsys.readouterr().out
    assert main(["-p", proj, "plan"]) == 0
    capsys.readouterr()
    assert main(["-p", proj, "diff"]) == 0
    assert "no changes" in capsys.readouterr().out


def test_cli_test_failure_exit_code(project, capsys):
    proj, schema = project
    with open(os.path.join(proj, "tests", "test_monthly.yaml")) as f:
        text = f.read()
    with open(os.path.join(proj, "tests", "test_monthly.yaml"), "w") as f:
        f.write(text.replace("n_total: 12", "n_total: 999"))
    assert main(["-p", proj, "test"]) == 1
    assert "FAIL" in capsys.readouterr().out


def test_cli_render(project, capsys):
    proj, schema = project
    assert main(["-p", proj, "render", f"{schema}.monthly"]) == 0
    out = capsys.readouterr().out
    assert "GROUP BY" in out.upper()


def test_cli_unknown_model_errors(project, capsys):
    proj, schema = project
    assert main(["-p", proj, "render", "no.such_model"]) == 1


def test_cli_table_name_environments_fetchdf_lint(project, capsys):
    proj, schema = project
    assert main(["-p", proj, "plan"]) == 0
    capsys.readouterr()

    # table_name prints the snapshot-versioned physical table
    assert main(["-p", proj, "table_name", f"{schema}.monthly"]) == 0
    out = capsys.readouterr().out.strip()
    assert out.startswith(f"sqlmesh__{schema}.")

    # environments lists prod with both model pointers
    assert main(["-p", proj, "environments"]) == 0
    out = capsys.readouterr().out
    assert "prod" in out and f"{schema}.monthly ->" in out

    # fetchdf runs ad-hoc SQL through the session
    assert main(["-p", proj, "fetchdf", "SELECT 41 + 1 AS answer"]) == 0
    assert "42" in capsys.readouterr().out

    # lint: both models are materialized with no audits → violations, exit 1
    assert main(["-p", proj, "lint"]) == 1
    out = capsys.readouterr().out
    assert "no_missing_audits" in out


def test_cli_restate(project, capsys):
    proj, schema = project
    assert main(["-p", proj, "plan"]) == 0
    capsys.readouterr()
    assert main(
        ["-p", proj, "restate", f"{schema}.daily",
         "--start", "1992-01-01", "--end", "1998-12-31"]
    ) == 0
    out = capsys.readouterr().out
    assert f"restated {schema}.daily" in out


def test_cli_dag_info_check_intervals(project, capsys):
    proj, schema = project
    assert main(["-p", proj, "dag"]) == 0
    out = capsys.readouterr().out
    assert f"{schema}.monthly" in out and f"<- {schema}.daily" in out

    assert main(["-p", proj, "info"]) == 0
    out = capsys.readouterr().out
    assert "models: 2" in out and "FULL: 2" in out

    # FULL models are wholesale — interval accounting doesn't apply
    assert main(["-p", proj, "check_intervals",
                 "--start", "2024-01-01", "--end", "2024-01-03"]) == 0
    out = capsys.readouterr().out
    assert "wholesale kind" in out

    # an incremental model: missing before its window runs, clean after
    with open(os.path.join(proj, "models", "inc.sql"), "w") as f:
        f.write(
            f"MODEL (name {schema}.inc, kind INCREMENTAL_BY_TIME_RANGE "
            "(time_column ts), start '2024-01-01');\n"
            "SELECT CAST('2024-01-01 12:00:00' AS TIMESTAMP) AS ts, 1 AS v\n"
            "WHERE CAST('2024-01-01 12:00:00' AS TIMESTAMP) >= CAST(@start_ts AS TIMESTAMP)\n"
            "  AND CAST('2024-01-01 12:00:00' AS TIMESTAMP) <  CAST(@end_ts AS TIMESTAMP)\n"
        )
    assert main(["-p", proj, "check_intervals",
                 "--start", "2024-01-01", "--end", "2024-01-03"]) == 2
    assert "missing interval" in capsys.readouterr().out
    assert main(["-p", proj, "run", "--start", "2024-01-01", "--end", "2024-01-03"]) == 0
    capsys.readouterr()
    assert main(["-p", proj, "check_intervals",
                 "--start", "2024-01-01", "--end", "2024-01-03"]) == 0
    assert "up to date" in capsys.readouterr().out


def test_cli_check_intervals_agrees_with_run_on_model_start(project, capsys):
    """A model whose own start is after the window's start: once a run
    has nothing left to do, check_intervals reports nothing missing (it
    used to list the pre-start day forever, which no run processes)."""
    proj, schema = project
    with open(os.path.join(proj, "models", "late.sql"), "w") as f:
        f.write(
            f"MODEL (name {schema}.late, kind INCREMENTAL_BY_TIME_RANGE "
            "(time_column ts), cron '@daily', start '1995-01-02');\n"
            "SELECT CAST(@start_ts AS TIMESTAMP) AS ts, 1 AS v\n"
        )
    window = ["--start", "1995-01-01", "--end", "1995-01-04"]
    assert main(["-p", proj, "check_intervals", *window]) == 2
    out = capsys.readouterr().out
    assert f"{schema}.late: 2 missing interval(s)" in out
    assert "[1995-01-02 00:00 .. 1995-01-03 00:00)" in out
    assert main(["-p", proj, "run", *window]) == 0
    assert f"ran {schema}.late: 1 interval(s)" in capsys.readouterr().out
    assert main(["-p", proj, "run", *window]) == 0
    assert f"ran {schema}.late: 0 interval(s)" in capsys.readouterr().out
    assert main(["-p", proj, "check_intervals", *window]) == 0
    assert f"{schema}.late: up to date" in capsys.readouterr().out


def test_cli_state_export_import_and_destroy(project, capsys, tmp_path):
    proj, schema = project
    assert main(["-p", proj, "plan"]) == 0
    capsys.readouterr()
    blob = str(tmp_path / "state.json")
    assert main(["-p", proj, "state", "export", blob]) == 0
    capsys.readouterr()
    assert main(["-p", proj, "state", "import", blob]) == 0
    capsys.readouterr()
    # destroy refuses without --yes
    assert main(["-p", proj, "destroy"]) == 1
    capsys.readouterr()
    assert main(["-p", proj, "destroy", "--yes"]) == 0
    out = capsys.readouterr().out
    assert f"sqlmesh__{schema}" in out
    # after destroy: diff sees everything as added again
    assert main(["-p", proj, "diff"]) == 2
    capsys.readouterr()


def test_cli_create_test_roundtrip(project, capsys):
    proj, schema = project
    # daily has no external deps (VALUES literal), so the generated test
    # has empty inputs and a captured golden output; it must round-trip.
    assert main(["-p", proj, "create_test", f"{schema}.daily"]) == 0
    capsys.readouterr()
    assert main(["-p", proj, "test"]) == 0
    out = capsys.readouterr().out
    assert "0 failed" in out


def test_cli_audit_skips_unmaterialized(project, capsys):
    proj, schema = project
    assert main(["-p", proj, "audit", f"{schema}.daily"]) == 0
    out = capsys.readouterr().out
    assert "SKIP" in out or "PASS" in out


def test_cli_init_scaffold_runs_end_to_end(tmp_path, capsys, spark):
    proj = str(tmp_path / "newproj")
    os.makedirs(proj)
    assert main(["-p", proj, "init"]) == 0
    capsys.readouterr()
    # re-init refuses
    assert main(["-p", proj, "init"]) == 1
    capsys.readouterr()
    # the scaffold must plan/apply cleanly end-to-end
    assert main(["-p", proj, "plan", "--start", "2020-01-01", "--end", "2020-01-05"]) == 0
    out = capsys.readouterr().out
    assert "applied example.full_model" in out
    assert main(["-p", proj, "evaluate", "example.full_model",
                 "--start", "2020-01-01", "--end", "2020-01-05"]) == 0
    assert "num_orders" in capsys.readouterr().out


def test_cli_format_canonicalizes_and_check_mode(project, capsys):
    proj, schema = project
    messy = os.path.join(proj, "models", "messy.sql")
    with open(messy, "w") as f:
        f.write(
            f"MODEL (name {schema}.messy, kind FULL);\n"
            "select   a.ds ,  sum( a.n )   as  total\n"
            f"from {schema}.daily   a group   by a.ds -- trailing comment\n"
        )
    # check mode: dirty → exit 2, file untouched
    before = open(messy).read()
    assert main(["-p", proj, "format", "--check"]) == 2
    capsys.readouterr()
    assert open(messy).read() == before
    # write mode
    assert main(["-p", proj, "format"]) == 0
    capsys.readouterr()
    text = open(messy).read()
    assert "SELECT a.ds, SUM(a.n) AS total" in text
    assert "\nFROM " in text and "\nGROUP BY" in text
    # idempotent: second format changes nothing
    assert main(["-p", proj, "format", "--check"]) == 0
    capsys.readouterr()
    # the formatted model still parses and plans
    assert main(["-p", proj, "plan", "--dry-run"]) == 0
    assert f"{schema}.messy" in capsys.readouterr().out


def test_project_config_yaml_model_defaults(project, capsys):
    """config.yaml model_defaults fill unset model fields (reference
    core/config/root.py): start/owner apply, a model's own declarations
    win, and before_all statements run on apply."""
    proj, schema = project
    with open(os.path.join(proj, "config.yaml"), "w") as f:
        f.write(
            "model_defaults:\n"
            "  start: '2024-01-01'\n"
            "  owner: data-eng\n"
            "environment_ttl: 3600\n"
        )
    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.session import build_session

    ctx = Context(build_session(cpus=4), project_dir=proj)
    m = ctx.models[f"{schema}.daily"]
    assert m.start == "2024-01-01"
    assert m.owner == "data-eng"
    assert ctx.environment_ttl == 3600
    # CLI path loads the same config
    assert main(["-p", proj, "plan", "--dry-run"]) == 0
    capsys.readouterr()


def test_cli_metrics(project, capsys, spark):
    proj, schema = project
    os.makedirs(os.path.join(proj, "metrics"))
    with open(os.path.join(proj, "metrics", "m.sql"), "w") as f:
        f.write(
            f"METRIC (name total_n, expression CAST(SUM({schema}.daily.n) AS BIGINT));\n"
        )
    # listing
    assert main(["-p", proj, "metrics"]) == 0
    out = capsys.readouterr().out
    assert "total_n" in out and f"base over {schema}.daily" in out
    # evaluation against the materialized environment view
    assert main(["-p", proj, "plan"]) == 0
    capsys.readouterr()
    assert main(["-p", proj, "metrics", "total_n", "--dim", "ds"]) == 0
    out = capsys.readouterr().out
    assert "total_n" in out and ("5" in out and "7" in out)


def test_config_variables_render_in_models(project, capsys):
    """config.yaml `variables:` bind as @VAR defaults in every model's
    render (reference config variables)."""
    proj, schema = project
    with open(os.path.join(proj, "config.yaml"), "w") as f:
        f.write("variables:\n  min_n: '6'\n")
    with open(os.path.join(proj, "models", "filtered.sql"), "w") as f:
        f.write(
            f"MODEL (name {schema}.filtered, kind FULL);\n"
            f"SELECT ds, n FROM {schema}.daily WHERE n >= @VAR('min_n', '0')\n"
        )
    assert main(["-p", proj, "plan"]) == 0
    capsys.readouterr()
    assert main(["-p", proj, "evaluate", f"{schema}.filtered"]) == 0
    out = capsys.readouterr().out
    assert "7" in out and " 5" not in out  # min_n=6 keeps only the n=7 row


def test_state_migrate_and_rollback(tmp_path):
    """migrate() is a no-op at the current schema, runs hooks + backup when
    behind, and rollback() restores the pre-migration data and version."""
    from sqlmesh_spark.core.state import StateStore

    s = StateStore(str(tmp_path / "state"))
    s.put_environment("prod", {"m": "v1"})
    assert s.migrate() is False  # already current

    # Simulate an old store: version 0 stored + a hook for version 1.
    blob = s.export_state()
    blob["tables"]["meta"] = {"schema_version": 0}
    s.import_state(blob)
    assert s.current_version() == 0
    called = []
    StateStore._MIGRATIONS[1] = lambda store: called.append(True)
    try:
        assert s.migrate() is True
    finally:
        StateStore._MIGRATIONS.pop(1, None)
    assert called == [True]
    assert s.current_version() == StateStore.SCHEMA_VERSION
    assert s.get_environment("prod") == {"m": "v1"}  # data survived

    # Mutate, then roll back to the pre-migration snapshot.
    s.put_environment("prod", {"m": "v2"})
    s.rollback()
    assert s.get_environment("prod") == {"m": "v1"}
    assert s.current_version() == 0  # pre-migration meta restored

    import pytest

    with pytest.raises(ValueError, match="no migration backup"):
        s.rollback()


def test_cli_clean_command(spark, tmp_path):
    """`clean` clears the render cache and .cache dir, leaves state alone."""
    import os

    from sqlmesh_spark.core import scheduler as sched
    from sqlmesh_spark.core.context import Context

    (tmp_path / "models").mkdir()
    (tmp_path / ".cache").mkdir()
    (tmp_path / ".cache" / "junk").write_text("x")
    ctx = Context(spark, project_dir=str(tmp_path))
    sched._RENDER_CACHE[("k",)] = "v"
    ctx.clear_caches()
    assert not sched._RENDER_CACHE
    assert not os.path.exists(tmp_path / ".cache")


def test_context_rewrite_semantic_query(spark, tmp_path):
    """Context.rewrite turns SELECT dim, METRIC(name) into the executable
    joined-aggregates SQL (reference cli/main.py:1057 rewrite)."""
    from sqlmesh_spark.core.context import Context

    (tmp_path / "models").mkdir()
    (tmp_path / "metrics").mkdir()
    (tmp_path / "metrics" / "m.sql").write_text(
        "METRIC (name total_rows, expression COUNT(demo_rw.t.k));\n"
    )
    (tmp_path / "models" / "t.sql").write_text(
        "MODEL (name demo_rw.t, kind FULL);\nSELECT 1 AS k, 'x' AS ds"
    )
    ctx = Context(spark, project_dir=str(tmp_path),
                  state_dir=str(tmp_path / "state"))
    sql = ctx.rewrite(
        "SELECT ds, METRIC(total_rows) FROM __semantic.__table GROUP BY ds"
    )
    assert "total_rows" in sql and "GROUP BY" in sql and "METRIC(" not in sql

    import pytest

    with pytest.raises(ValueError, match="no METRIC"):
        ctx.rewrite("SELECT 1")


def test_external_models_yaml_roundtrip(spark, tmp_path):
    """create_external_models' output file loads back as EXTERNAL models
    with declared columns — lint's no_missing_external_models then passes
    for declared externals (reference loader schema-file round trip)."""
    import yaml

    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.linter import lint_models
    from sqlmesh_spark.core.model import ModelKind

    (tmp_path / "models").mkdir()
    (tmp_path / "models" / "m.sql").write_text(
        "MODEL (name demo_ext2.m, kind FULL, audits (not_null(columns = (k))));\n"
        "SELECT k FROM raw.src_events"
    )
    # without the schema file: lint flags the unknown dependency
    ctx0 = Context(spark, project_dir=str(tmp_path),
                   state_dir=str(tmp_path / "s0"))
    assert any(
        v.rule == "no_missing_external_models" for v in lint_models(ctx0.models)
    )

    (tmp_path / "external_models.yaml").write_text(
        yaml.safe_dump([{"name": "raw.src_events", "columns": {"k": "int"}}])
    )
    ctx = Context(spark, project_dir=str(tmp_path),
                  state_dir=str(tmp_path / "s1"))
    ext = ctx.models["raw.src_events"]
    assert ext.kind == ModelKind.EXTERNAL
    assert ext.columns == {"k": "int"}
    assert not [
        v for v in lint_models(ctx.models)
        if v.rule == "no_missing_external_models"
    ]


def test_rewrite_lowercase_metric(spark, tmp_path):
    from sqlmesh_spark.core.context import Context

    (tmp_path / "models").mkdir()
    (tmp_path / "metrics").mkdir()
    (tmp_path / "metrics" / "m.sql").write_text(
        "METRIC (name total_rows, expression COUNT(demo_rwl.t.k));\n"
    )
    (tmp_path / "models" / "t.sql").write_text(
        "MODEL (name demo_rwl.t, kind FULL);\nSELECT 1 AS k, 'x' AS ds"
    )
    ctx = Context(spark, project_dir=str(tmp_path), state_dir=str(tmp_path / "state"))
    sql = ctx.rewrite("select ds, metric(total_rows) from __semantic.__table group by ds")
    assert "total_rows" in sql and "metric(" not in sql.lower().replace("metric(total", "")


def test_cli_format_respects_default_dialect(project, capsys):
    # model_defaults.dialect governs the literal grammar: a snowflake
    # model with escaped-quote literals must format without corrupting
    # literal bytes (the std grammar would mis-pair the quotes).
    proj, schema = project
    with open(os.path.join(proj, "config.yaml"), "w") as f:
        f.write("model_defaults:\n  dialect: snowflake\n")
    sf = os.path.join(proj, "models", "sf_lit.sql")
    with open(sf, "w") as f:
        f.write(
            f"MODEL (name {schema}.sf_lit, kind FULL);\n"
            "select   'O\\'Brien'  as  a ,  'O\\'DELL'   as b\n"
        )
    assert main(["-p", proj, "format"]) == 0
    capsys.readouterr()
    text = open(sf).read()
    assert "'O\\'Brien'" in text and "'O\\'DELL'" in text
    assert "SELECT" in text
    os.remove(os.path.join(proj, "config.yaml"))


def test_cli_format_fails_loudly_on_broken_config(project, capsys):
    # malformed / non-mapping config.yaml must fail LOUDLY (exit 1), not
    # silently format with dialect "" while --check reports green
    proj, schema = project
    cfg = os.path.join(proj, "config.yaml")
    with open(cfg, "w") as f:
        f.write("model_defaults: snowflake\n")  # string, not a mapping
    assert main(["-p", proj, "format", "--check"]) == 1
    assert "model_defaults" in capsys.readouterr().err
    with open(cfg, "w") as f:
        f.write(":\t bad yaml [\n")
    assert main(["-p", proj, "format", "--check"]) == 1
    capsys.readouterr()
    os.remove(cfg)
