"""A snapshot table has the layout its model declares: a change outside
the query text gets a new version (its children keep theirs only when
the change is to the layout alone), a forward-only pin cannot take a new
layout, and the virtual layer needs no column list read back."""

from __future__ import annotations

import dataclasses

import pytest

from catalog_layout import read_layout
from sqlmesh_spark.core.context import Context
from sqlmesh_spark.core.plan import PlanError

# A FROM clause lets categorization compare the projections: a change that
# leaves them as they are is NON_BREAKING, so the child keeps its version.
QUERY = "SELECT 1 AS k, 'x' AS v, CAST(@start_ds AS TIMESTAMP) AS ts FROM (SELECT 1 AS one)"
CHILD = "MODEL (name demo_lo.child, kind FULL, cron '@daily');\nSELECT k, v FROM demo_lo.parent"
WINDOW = {"start": "1995-01-01", "end": "1995-01-02"}

# The parent's kind and layout properties before and after a change that
# leaves its query text as it is.
LAYOUT_CHANGES = {
    "partitioned_by": ("FULL", "FULL, partitioned_by (v)"),
    "storage_format": ("FULL", "FULL, storage_format orc"),
    "partition_by_time_column": (
        "INCREMENTAL_BY_TIME_RANGE (time_column ts)",
        "INCREMENTAL_BY_TIME_RANGE (time_column ts, partition_by_time_column false)",
    ),
}


def _context(spark, tmp_path, *texts) -> Context:
    for db in ("sqlmesh__demo_lo", "env_lo_views", "prod_views"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    ctx = Context(spark, state_dir=str(tmp_path / "state"))
    for text in texts:
        ctx.add_model(text)
    return ctx


def _parent(kind: str) -> str:
    return f"MODEL (name demo_lo.parent, kind {kind}, cron '@daily');\n{QUERY}"


def _declared(ctx: Context, name: str):
    """The layout the catalog can report: Model.layout without its
    engine-managed columns, which are not table metadata."""
    return dataclasses.replace(ctx.models[name].layout, managed_columns={})


@pytest.mark.parametrize("change", list(LAYOUT_CHANGES))
def test_layout_change_outside_the_query_text_gets_a_new_version(spark, tmp_path, change):
    before, after = LAYOUT_CHANGES[change]
    ctx = _context(spark, tmp_path, _parent(before), CHILD)
    first = ctx.plan(environment="env_lo", skip_tests=True, **WINDOW)
    ctx.apply(first)
    ctx.add_model(_parent(after))
    second = ctx.plan(environment="env_lo", skip_tests=True, **WINDOW)
    parent = second.snapshots["demo_lo.parent"]
    assert parent.version != first.snapshots["demo_lo.parent"].version
    assert "demo_lo.parent" in second.diff.modified
    assert second.snapshots["demo_lo.child"].version == first.snapshots["demo_lo.child"].version
    ctx.apply(second)
    assert read_layout(spark, parent.table_name) == _declared(ctx, "demo_lo.parent")
    assert read_layout(spark, parent.table_name) != read_layout(
        spark, first.snapshots["demo_lo.parent"].table_name
    )
    assert [r.k for r in spark.table("env_lo_views.parent").collect()] == [1]
    assert [r.k for r in spark.table("env_lo_views.child").collect()] == [1]


def test_layout_change_keeps_the_child_of_a_query_categorization_cannot_split(spark, tmp_path):
    """With the query text unchanged, the query is not categorized at all."""
    parent = "MODEL (name demo_lo.parent, kind {kind}, cron '@daily');\nSELECT 1 AS k, 'x' AS v"
    ctx = _context(spark, tmp_path, parent.format(kind="FULL"), CHILD)
    first = ctx.plan(environment="env_lo", skip_tests=True, **WINDOW)
    ctx.apply(first)
    ctx.add_model(parent.format(kind="FULL, partitioned_by (v)"))
    second = ctx.plan(environment="env_lo", skip_tests=True, **WINDOW)
    assert "demo_lo.parent" in second.diff.modified
    assert second.snapshots["demo_lo.child"].version == first.snapshots["demo_lo.child"].version


def test_forward_only_layout_change_on_an_incremental_model_is_refused(spark, tmp_path):
    kind = "INCREMENTAL_BY_UNIQUE_KEY (unique_key k)"
    ctx = _context(spark, tmp_path, _parent(kind))
    first = ctx.plan(environment="env_lo", skip_tests=True, **WINDOW)
    ctx.apply(first)
    table = first.snapshots["demo_lo.parent"].table_name
    layout = read_layout(spark, table)
    tables = sorted(r.tableName for r in spark.sql("SHOW TABLES IN sqlmesh__demo_lo").collect())
    env = ctx.state.get_environment("env_lo")
    records = ctx.state.get_snapshots()

    ctx.add_model(_parent(f"{kind}, partitioned_by (v)"))
    with pytest.raises(PlanError, match="partitioned_by"):
        ctx.plan(environment="env_lo", forward_only=True, skip_tests=True, **WINDOW)
    assert ctx.state.get_environment("env_lo") == env
    assert ctx.state.get_snapshots() == records
    assert sorted(
        r.tableName for r in spark.sql("SHOW TABLES IN sqlmesh__demo_lo").collect()
    ) == tables
    assert read_layout(spark, table) == layout
    assert [r.k for r in spark.table(table).collect()] == [1]


def test_forward_only_layout_change_on_a_full_model_rebuilds_the_table(spark, tmp_path):
    ctx = _context(spark, tmp_path, _parent("FULL"))
    first = ctx.plan(environment="env_lo", skip_tests=True, **WINDOW)
    ctx.apply(first)
    ctx.add_model(_parent("FULL, partitioned_by (v), storage_format orc"))
    plan = ctx.plan(environment="env_lo", forward_only=True, skip_tests=True, **WINDOW)
    table = plan.snapshots["demo_lo.parent"].table_name
    assert table == first.snapshots["demo_lo.parent"].table_name  # pinned
    ctx.apply(plan)
    assert read_layout(spark, table) == _declared(ctx, "demo_lo.parent")
    assert [r.k for r in spark.table("env_lo_views.parent").collect()] == [1]


def test_column_names_that_need_quoting_survive_the_lifecycle(spark, tmp_path):
    """Column names with a space or a reserved word go through promotion,
    a forward-only added column and a column description."""
    header = "MODEL (name demo_lo.quoted, kind FULL, cron '@daily'{extra});\n"
    ctx = _context(spark, tmp_path, header.format(extra="") + "SELECT 1 AS `my col`, 2 AS `order`")
    ctx.apply(ctx.plan(environment="env_lo", skip_tests=True, **WINDOW))
    assert [tuple(r) for r in spark.table("env_lo_views.quoted").collect()] == [(1, 2)]

    ctx.add_model(
        header.format(extra=", column_descriptions ('my col' = 'the first')")
        + "SELECT 1 AS `my col`, 2 AS `order`, 3 AS `new col`"
    )
    plan = ctx.plan(environment="env_lo", forward_only=True, skip_tests=True, **WINDOW)
    table = plan.snapshots["demo_lo.quoted"].table_name
    assert plan.pending_migrations[table] == [
        f"ALTER TABLE {table} ADD COLUMN `new col` int"
    ]
    ctx.apply(plan)
    view = spark.table("env_lo_views.quoted")
    assert view.columns == ["my col", "order", "new col"]
    assert [tuple(r) for r in view.collect()] == [(1, 2, 3)]
    comments = {f.name: f.metadata.get("comment") for f in spark.table(table).schema}
    assert comments["my col"] == "the first"


# A parent change with the query text unchanged that is not a layout change
# can change the parent's rows, so the child rebuilds too.
BREAKING_CHANGES = {
    "kind": ("FULL", "INCREMENTAL_BY_UNIQUE_KEY (unique_key k)"),
    "kind_args": (
        "INCREMENTAL_BY_UNIQUE_KEY (unique_key k)",
        "INCREMENTAL_BY_UNIQUE_KEY (unique_key (k, v))",
    ),
    "stamp": ("FULL", "FULL, stamp 'v2'"),
}


@pytest.mark.parametrize("change", list(BREAKING_CHANGES))
def test_change_outside_the_query_text_and_layout_rebuilds_the_child(spark, tmp_path, change):
    before, after = BREAKING_CHANGES[change]
    ctx = _context(spark, tmp_path, _parent(before), CHILD)
    first = ctx.plan(environment="env_lo", skip_tests=True, **WINDOW)
    ctx.apply(first)
    ctx.add_model(_parent(after))
    second = ctx.plan(environment="env_lo", skip_tests=True, **WINDOW)
    assert {"demo_lo.parent", "demo_lo.child"} <= set(second.diff.modified)
    assert second.snapshots["demo_lo.child"].version != first.snapshots["demo_lo.child"].version
    ctx.apply(second)
    assert [r.k for r in spark.table("env_lo_views.child").collect()] == [1]


def test_blueprint_variable_change_rebuilds_the_child(spark, tmp_path):
    parent = (
        "MODEL (name demo_lo.parent, kind FULL, cron '@daily', blueprints ((lo = {lo})));\n"
        "SELECT one AS k, 'x' AS v FROM (SELECT 1 AS one) WHERE one >= @lo"
    )
    ctx = _context(spark, tmp_path, parent.format(lo=1), CHILD)
    first = ctx.plan(environment="env_lo", skip_tests=True, **WINDOW)
    ctx.apply(first)
    assert [r.k for r in spark.table("env_lo_views.child").collect()] == [1]
    ctx.add_model(parent.format(lo=2))
    second = ctx.plan(environment="env_lo", skip_tests=True, **WINDOW)
    assert second.snapshots["demo_lo.child"].version != first.snapshots["demo_lo.child"].version
    ctx.apply(second)
    assert spark.table("env_lo_views.child").collect() == []


def _strip_records(ctx: Context, plan) -> None:
    """Rewrite the plan's snapshot records as they were stored before the
    rest fingerprint and the layout were: kind, parents and query."""
    ctx.state.put_snapshots(
        {
            (name, snap.version): {
                k: v
                for k, v in ctx.state.get_snapshot(name, snap.version).items()
                if k in ("kind", "parents", "query")
            }
            for name, snap in plan.snapshots.items()
        }
    )


def test_record_without_layout_refuses_a_forward_only_pin(spark, tmp_path):
    kind = "INCREMENTAL_BY_UNIQUE_KEY (unique_key k)"
    ctx = _context(spark, tmp_path, _parent(kind))
    first = ctx.plan(environment="env_lo", skip_tests=True, **WINDOW)
    ctx.apply(first)
    _strip_records(ctx, first)
    records = ctx.state.get_snapshots()
    ctx.add_model(_parent(f"{kind}, partitioned_by (v)"))
    with pytest.raises(PlanError, match="storage_format.*without forward_only"):
        ctx.plan(environment="env_lo", forward_only=True, skip_tests=True, **WINDOW)
    assert ctx.state.get_snapshots() == records
    # One plan without forward_only rebuilds the table in the declared layout.
    plan = ctx.plan(environment="env_lo", skip_tests=True, **WINDOW)
    ctx.apply(plan)
    table = plan.snapshots["demo_lo.parent"].table_name
    assert read_layout(spark, table) == _declared(ctx, "demo_lo.parent")


def test_record_without_rest_fingerprint_is_judged_by_its_query_text(spark, tmp_path):
    """A child whose stored record predates the rest fingerprint keeps its
    version under an additive parent change, as it did then."""
    ctx = _context(spark, tmp_path, _parent("FULL"), CHILD)
    first = ctx.plan(environment="env_lo", skip_tests=True, **WINDOW)
    ctx.apply(first)
    _strip_records(ctx, first)
    ctx.add_model(
        "MODEL (name demo_lo.parent, kind FULL, cron '@daily');\n"
        + QUERY.replace("AS ts", "AS ts, 2 AS extra")
    )
    second = ctx.plan(environment="env_lo", skip_tests=True, **WINDOW)
    assert "demo_lo.parent" in second.diff.modified
    assert second.snapshots["demo_lo.child"].version == first.snapshots["demo_lo.child"].version
    assert "demo_lo.child" in second.diff.indirectly_modified


def test_record_without_rest_fingerprint_rebuilds_a_layout_change(spark, tmp_path):
    """A layout change with the query text unchanged is not reverted onto a
    table whose stored record cannot tell its layout."""
    kind = "INCREMENTAL_BY_UNIQUE_KEY (unique_key k)"
    ctx = _context(spark, tmp_path, _parent(kind), CHILD)
    first = ctx.plan(environment="env_lo", skip_tests=True, **WINDOW)
    ctx.apply(first)
    _strip_records(ctx, first)
    ctx.add_model(_parent(f"{kind}, partitioned_by (v)"))
    second = ctx.plan(environment="env_lo", skip_tests=True, **WINDOW)
    parent = second.snapshots["demo_lo.parent"]
    assert parent.version != first.snapshots["demo_lo.parent"].version
    assert second.snapshots["demo_lo.child"].version == first.snapshots["demo_lo.child"].version
    ctx.apply(second)
    assert read_layout(spark, parent.table_name) == _declared(ctx, "demo_lo.parent")
