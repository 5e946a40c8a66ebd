"""Model text → Spark SQL goes through one function
(``core/scheduler.render_model_sql``), whichever surface asks: the
scheduler's evaluation, ``Context.render``, schema inference and YAML
tests. Each test here pins a case where a surface used to render with its
own copy of the pipeline and got a different answer than the scheduler."""

from __future__ import annotations

import os
import tempfile

from sqlmesh_spark.core.context import Context


def _project(files: dict[str, str]) -> str:
    root = tempfile.mkdtemp(prefix="render_pipeline_")
    for rel, text in files.items():
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)
    return root


def _drop(spark, *dbs: str) -> None:
    for db in dbs:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_embedded_model_renders_with_the_interval(spark):
    """An EMBEDDED parent is inlined with the child's interval bound: its
    ``@start_ds`` reads the batch start, not an unrendered variable, for
    SQL children and for a Python model's ``context.table``."""
    from sqlmesh_spark.core.python_model import python_model

    _drop(spark, "sqlmesh__rp_emb", "rp_emb_views")
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        "MODEL (name rp_emb.day, kind EMBEDDED);\n"
        "SELECT CAST(@start_ds AS DATE) AS d"
    )
    ctx.add_model("MODEL (name rp_emb.out, kind FULL);\nSELECT d FROM rp_emb.day")

    @python_model(name="rp_emb.py_out", depends_on=("rp_emb.day",))
    def py_out(context):
        return context.table("rp_emb.day")

    ctx.models[py_out.name] = py_out
    ctx.run(environment="rp_emb", start="1995-01-01", end="1995-01-02")
    for view in ("rp_emb_views.out", "rp_emb_views.py_out"):
        assert [str(r.d) for r in spark.table(view).collect()] == ["1995-01-01"]
    sql = ctx.render("rp_emb.out", start="1996-03-04", end="1996-03-05")
    assert "'1996-03-04'" in sql and "rp_emb.day" not in sql


def test_render_cache_key_covers_embedded_parent_text(spark):
    """The same child snapshot over a changed EMBEDDED parent query must
    not be served from the render cache."""
    from sqlmesh_spark.core.model import parse_model_text
    from sqlmesh_spark.core.plan import build_snapshots
    from sqlmesh_spark.core.scheduler import SnapshotEvaluator, model_relations

    parent = parse_model_text("MODEL (name rp_key.p, kind EMBEDDED);\nSELECT 1 AS x")
    child = parse_model_text("MODEL (name rp_key.c, kind FULL);\nSELECT x FROM rp_key.p")
    child.depends_on = frozenset({"rp_key.p"})
    snaps = build_snapshots({"rp_key.p": parent, "rp_key.c": child})
    evaluator = SnapshotEvaluator(spark)
    relations = model_relations(snaps)
    first = evaluator.render(snaps["rp_key.c"], "2024-01-01", "2024-01-02", relations)
    parent.query = "SELECT 2 AS x"
    second = evaluator.render(snaps["rp_key.c"], "2024-01-01", "2024-01-02", relations)
    assert "SELECT 1 AS x" in first
    assert "SELECT 2 AS x" in second


def test_columns_to_types_transpiles_the_read_dialect(spark):
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        "MODEL (name rp_ddb.m, kind FULL, dialect duckdb);\n"
        "SELECT strftime(DATE '2024-01-02', '%Y-%m') AS ym"
    )
    assert "date_format" in ctx.render("rp_ddb.m")
    assert ctx.columns_to_types("rp_ddb.m") == {"ym": "string"}


def test_columns_to_types_binds_config_variables(spark):
    root = _project(
        {
            "config.yaml": "variables:\n  k: 5\n",
            "models/m.sql": "MODEL (name rp_var.m, kind FULL);\nSELECT @k AS v",
        }
    )
    ctx = Context(spark, project_dir=root)
    assert ctx.render("rp_var.m") == "SELECT 5 AS v"
    assert ctx.columns_to_types("rp_var.m") == {"v": "int"}


def test_render_resolves_external_models_to_themselves(spark):
    """EXTERNAL models read themselves; one without declared columns is
    typed from the live relation."""
    spark.sql("CREATE DATABASE IF NOT EXISTS rp_extsrc")
    spark.sql("CREATE OR REPLACE VIEW rp_extsrc.u AS SELECT 'x' AS b")
    root = _project(
        {
            "external_models.yaml": (
                "- name: extsrc.t\n  columns:\n    a: int\n- name: rp_extsrc.u\n"
            ),
            "models/m.sql": "MODEL (name rp_ext.m, kind FULL);\nSELECT a FROM extsrc.t",
            "models/n.sql": "MODEL (name rp_ext.n, kind FULL);\nSELECT b FROM rp_extsrc.u",
        }
    )
    ctx = Context(spark, project_dir=root)
    sql = ctx.render("rp_ext.m")
    assert "FROM extsrc.t" in sql and "sqlmesh__extsrc" not in sql
    assert ctx.columns_to_types("rp_ext.m") == {"a": "int"}
    assert ctx.columns_to_types("rp_ext.n") == {"b": "string"}


def test_references_built_by_variables_resolve(spark):
    """Resolution runs over the rendered text, so a model name that only
    appears once a variable is bound still resolves."""
    from sqlmesh_spark.core.scheduler import render_model_sql

    sql = render_model_sql(
        spark, "SELECT * FROM @src JOIN rp_ref.b", "2024-01-01", "2024-01-02",
        {"rp_ref.a": "sqlmesh__rp_ref.a__1", "rp_ref.b": "sqlmesh__rp_ref.b__2"},
        variables={"src": "rp_ref.a"},
    )
    assert sql == "SELECT * FROM sqlmesh__rp_ref.a__1 JOIN sqlmesh__rp_ref.b__2"


def test_jinja_bodied_model_renders(spark):
    """A JINJA_QUERY_BEGIN … JINJA_END body expands before macros run, so
    the scheduler executes the rendered SQL, not the template text."""
    _drop(spark, "sqlmesh__rp_jinja", "rp_jinja_views")
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        "MODEL (name rp_jinja.m, kind FULL);\n"
        "JINJA_QUERY_BEGIN;\nSELECT {{ 1 + 1 }} AS v\nJINJA_END;"
    )
    ctx.run(environment="rp_jinja", start="1995-01-01", end="1995-01-02")
    assert [r.v for r in spark.table("rp_jinja_views.m").collect()] == [2]
