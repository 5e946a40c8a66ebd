"""Materialization operators: parity + SCD2 semantic spot checks."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from catalog_layout import read_layout
from sqlmesh_spark.adapter import PARQUET, SparkAdapter, TableLayout
from sqlmesh_spark.operators.scd2 import empty_target_sql, scd_type_2_query
from sqlmesh_spark.parity import compare_case
from sqlmesh_spark.registry import load_all


def _cases():
    return [(n, c) for n, c in load_all().items() if "materialization" in c.tags]


@pytest.mark.parametrize("name,case", _cases(), ids=lambda x: x if isinstance(x, str) else "")
def test_materialization_parity(spark, sf_dir, name, case):
    r = compare_case(spark, sf_dir, name, case.fn, case.oracle)
    assert r["match"], r["detail"]


EPOCH = dt.datetime(1970, 1, 1)
JAN1 = dt.datetime(2024, 1, 1)
FEB1 = dt.datetime(2024, 2, 1)
EXEC2 = dt.datetime(2024, 2, 2)


def _run_scd2_two_steps(spark, batch1_rows, batch2_rows):
    """Tiny in-memory two-step SCD2 by time; returns {(id, valid_from): row}."""
    spark.createDataFrame(batch1_rows, "id int, status string, updated_at timestamp") \
        .createOrReplaceTempView("b1")
    spark.createDataFrame(batch2_rows, "id int, status string, updated_at timestamp") \
        .createOrReplaceTempView("b2")
    common = dict(
        unique_key=("id",), columns=("id", "status", "updated_at"), updated_at_col="updated_at"
    )
    empty = empty_target_sql(
        ("id", "status", "updated_at", "valid_from", "valid_to"),
        ("INT", "STRING", "TIMESTAMP", "TIMESTAMP", "TIMESTAMP"),
    )
    q1 = scd_type_2_query(empty, "SELECT * FROM b1", execution_ts="2024-01-02 00:00:00",
                          truncate=True, **common)
    spark.sql(q1).createOrReplaceTempView("state1")
    q2 = scd_type_2_query("SELECT * FROM state1", "SELECT * FROM b2",
                          execution_ts="2024-02-02 00:00:00", **common)
    rows = spark.sql(q2).collect()
    return {(r.id, r.valid_from): r for r in rows}, rows


def test_scd2_semantics(spark):
    b1 = [(1, "a", JAN1), (2, "a", JAN1), (3, "a", JAN1)]
    # id=1 unchanged; id=2 updated; id=3 deleted; id=4 new
    b2 = [(1, "a", JAN1), (2, "b", FEB1), (4, "a", FEB1)]
    state, rows = _run_scd2_two_steps(spark, b1, b2)
    assert len(rows) == 5

    unchanged = state[(1, EPOCH)]
    assert unchanged.valid_to is None and unchanged.status == "a"

    closed = state[(2, EPOCH)]
    assert closed.valid_to == FEB1 and closed.status == "a"
    reopened = state[(2, FEB1)]
    assert reopened.valid_to is None and reopened.status == "b"

    deleted = state[(3, EPOCH)]
    assert deleted.valid_to == EXEC2  # hard delete closed at execution time

    new = state[(4, EPOCH)]  # brand-new key starts at epoch0 (by_time default)
    assert new.valid_to is None


def test_scd2_revival_uses_deleted_watermark(spark):
    """A key deleted then re-appearing must start at max(deleted.valid_to,
    updated_at) — the latest_deleted branch (base.py:1987-2012)."""
    # State after a hard delete: id=1 closed at EXEC2.
    spark.createDataFrame(
        [(1, "a", JAN1, EPOCH, EXEC2)],
        "id int, status string, updated_at timestamp, valid_from timestamp, valid_to timestamp",
    ).createOrReplaceTempView("post_delete")
    # The key re-appears with updated_at BEFORE the deletion watermark.
    spark.createDataFrame(
        [(1, "back", dt.datetime(2024, 1, 15))], "id int, status string, updated_at timestamp"
    ).createOrReplaceTempView("b3")
    q = scd_type_2_query(
        "SELECT * FROM post_delete", "SELECT * FROM b3", execution_ts="2024-03-01 00:00:00",
        unique_key=("id",), columns=("id", "status", "updated_at"), updated_at_col="updated_at",
    )
    rows = {(r.id, r.valid_from): r for r in spark.sql(q).collect()}
    # revived row: valid_from = deletion watermark (EXEC2 > updated_at Jan 15)
    revived = rows[(1, EXEC2)]
    assert revived.status == "back" and revived.valid_to is None
    # closed history retained
    assert rows[(1, EPOCH)].valid_to == EXEC2


def test_adapter_merge_dedups_source(spark):
    adapter = SparkAdapter(spark)
    spark.sql("DROP TABLE IF EXISTS default.t_merge_dedup")
    adapter.ctas("default.t_merge_dedup",
                 spark.createDataFrame([(1, "old")], "id int, v string"))
    src = spark.createDataFrame([(1, "n1"), (1, "n1"), (2, "n2")], "id int, v string")
    adapter.merge("default.t_merge_dedup", src, unique_key=("id",), layout=PARQUET)
    got = {r.id: r.v for r in spark.table("default.t_merge_dedup").collect()}
    assert got == {1: "n1", 2: "n2"}
    adapter.drop_table("default.t_merge_dedup")


def test_optimize_compact_layout(spark, sf_dir):
    """After compaction: ≤ target files, each owning a disjoint sorted key
    range (min/max footer pruning actually works)."""
    import os
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from sqlmesh_spark.operators.materialize_cases import mat_optimize_compact

    mat_optimize_compact(spark, sf_dir)
    tbl = "sqlmesh_case_compact.fact"
    loc = urlparse(
        spark.sql(f"DESCRIBE DETAIL {tbl}").first().location
        if False
        else spark.sql(f"DESCRIBE EXTENDED {tbl}")
        .filter("col_name = 'Location'")
        .first()
        .data_type
    ).path
    files = [f for f in os.listdir(loc) if f.endswith(".parquet")]
    assert 0 < len(files) <= 8
    ranges = (
        spark.read.parquet(loc)
        .withColumn("file", F.input_file_name())
        .groupBy("file")
        .agg(F.min("ship_ds").alias("lo"), F.max("ship_ds").alias("hi"))
        .collect()
    )
    spans = sorted([(r.lo, r.hi) for r in ranges])
    for (alo, ahi), (blo, bhi) in zip(spans, spans[1:]):
        assert ahi <= blo  # disjoint (boundary date may be shared)


def test_delete_from_preserves_partition_layout(spark):
    """delete_from (and every _atomic_rewrite caller) must keep the
    table's partition columns — flattening would lock later interval
    writes into full-table rewrites."""
    a = SparkAdapter(spark)
    t = "default.part_preserve_test"
    a.drop_table(t)
    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-02")], "id int, ds string"
    )
    a.ctas(t, df, TableLayout(partitioned_by=("ds",)))
    a.delete_from(t, "id = 1", TableLayout(partitioned_by=("ds",)))
    part_cols = read_layout(spark, t).partitioned_by
    assert part_cols == ("ds",), part_cols
    assert {r.id for r in spark.table(t).collect()} == {2}
    a.drop_table(t)


def test_creation_reclaims_orphan_files_in_a_located_database(spark, tmp_path):
    """Files a crash left at a managed table's location, in a database
    created with LOCATION, are reclaimed by both creation forms: the
    location comes from the catalog's error, not from the warehouse dir."""
    import os

    from sqlmesh_spark.adapter import SparkAdapter

    a = SparkAdapter(spark)
    spark.sql("DROP DATABASE IF EXISTS orphan_loc CASCADE")
    spark.sql(f"CREATE DATABASE orphan_loc LOCATION '{tmp_path}/orphan_loc.db'")
    df = spark.createDataFrame([(1, "x")], "id int, v string")
    for create in (
        lambda t: a.ctas(t, df),
        lambda t: a.create_table(t, {"id": "int", "v": "string"}),
    ):
        t = "orphan_loc.t"
        location = os.path.join(str(tmp_path), "orphan_loc.db", "t")
        os.makedirs(location)
        with open(os.path.join(location, "part-orphan.parquet"), "w") as f:
            f.write("left by a crash")
        create(t)
        assert a.table_exists(t)
        a.drop_table(t)
    spark.sql("DROP DATABASE orphan_loc CASCADE")


def test_unmanaged_records_intervals_despite_audit_failure(spark, tmp_path):
    """INCREMENTAL_UNMANAGED appends are not idempotent: a blocking-audit
    failure must still record the written interval so the next run cannot
    re-append duplicates."""
    import pytest

    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.plan import build_snapshots
    from sqlmesh_spark.core.scheduler import AuditError
    from sqlmesh_spark.sources.tables import register_views

    register_views(spark, "/root/testdata/sf0.001", ("orders",))
    for db in ("sqlmesh__demo_unm2", "env_unm2_views"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    text = """
MODEL (
  name demo_unm2.log,
  kind INCREMENTAL_UNMANAGED,
  cron '@daily',
  audits (number_of_rows(threshold = 100000))
);
SELECT o_orderkey, o_orderdate AS event_ts FROM orders
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o_orderdate <  CAST(@end_ts AS TIMESTAMP)
"""
    ctx = Context(spark, state_dir=str(tmp_path / "s"))
    ctx.add_model(text)
    with pytest.raises(Exception) as ei:
        ctx.run(environment="env_unm2", start="1995-01-01", end="1995-01-31")
    assert "audit" in str(ei.value).lower()
    snap = build_snapshots(ctx.models)["demo_unm2.log"]
    n1 = spark.table(snap.table_name).count()
    assert n1 > 0  # the batch WAS written
    # second run: intervals already recorded → clean no-op, NO duplicate
    # append (and no batches means the audit doesn't re-fire)
    executed = ctx.run(environment="env_unm2", start="1995-01-01", end="1995-01-31")
    assert executed["demo_unm2.log"] == 0
    assert spark.table(snap.table_name).count() == n1


# Every table-building kind: (kind clause, extra header, partition columns
# the snapshot table must carry). Each model also declares orc storage and
# 4 buckets on k, which every table must keep through every write.
LAYOUT_KINDS = {
    "full": ("FULL", "", []),
    "managed": ("MANAGED", "", []),
    "seed": ("SEED", ", columns (k INT, v STRING)", []),
    "time_range": ("INCREMENTAL_BY_TIME_RANGE (time_column ts)", "", ["_ds"]),
    "time_range_unpartitioned": (
        "INCREMENTAL_BY_TIME_RANGE (time_column ts, partition_by_time_column false)", "", [],
    ),
    "unique_key": ("INCREMENTAL_BY_UNIQUE_KEY (unique_key k)", "", []),
    "unique_key_partitioned": (
        "INCREMENTAL_BY_UNIQUE_KEY (unique_key k)", ", partitioned_by (v)", ["v"],
    ),
    "by_partition": ("INCREMENTAL_BY_PARTITION", ", partitioned_by (v)", ["v"]),
    "unmanaged": ("INCREMENTAL_UNMANAGED", "", []),
    "scd2": ("SCD_TYPE_2_BY_TIME (unique_key k, updated_at_name ts)", "", []),
    "scd2_current": (
        "SCD_TYPE_2_BY_TIME (unique_key k, updated_at_name ts, partition_by_current true)",
        "", ["_is_current"],
    ),
}


def _assert_layout(spark, table: str, partitions: list[str]) -> None:
    assert read_layout(spark, table) == TableLayout(tuple(partitions), ("k",), 4, "orc")


def _layout_context(spark, case: str):
    """A fresh project holding the one LAYOUT_KINDS model ``case``."""
    import tempfile

    from sqlmesh_spark.core.context import Context

    kind, extra, _ = LAYOUT_KINDS[case]
    for db in ("sqlmesh__demo_lay", "env_lay_views", "dev_lay_views"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        f"MODEL (name demo_lay.{case}, kind {kind}, cron '@daily',"
        f" storage_format orc, clustered_by (k), buckets 4{extra});\n"
        "SELECT 1 AS k, 'x' AS v, CAST(@start_ds AS TIMESTAMP) AS ts",
        seed_csv="k,v\n1,x\n" if kind == "SEED" else None,
    )
    return ctx


@pytest.mark.parametrize("case", list(LAYOUT_KINDS))
def test_model_keeps_its_declared_layout(spark, case):
    """Every kind builds the table its model declares (format, buckets and
    partitions, all in the fingerprint) on the first build, keeps it on a
    later write, and empty_backfill builds the same table."""
    kind, _, partitions = LAYOUT_KINDS[case]
    ctx = _layout_context(spark, case)
    table = ctx.plan(skip_tests=True).snapshots[f"demo_lay.{case}"].table_name
    for end in ("1995-01-02", "1995-01-03"):  # first build, then a later write
        ctx.run(environment="env_lay", start="1995-01-01", end=end)
        _assert_layout(spark, table, partitions)
    assert spark.table(f"env_lay_views.{case}").collect()[0].k == 1
    if kind.startswith("SCD") or kind == "SEED":
        return  # empty_backfill refuses SCD2 and skips seeds
    ctx = _layout_context(spark, case)
    ctx.apply(ctx.plan(environment="env_lay", start="1995-01-01",
                       end="1995-01-02", empty_backfill=True))
    _assert_layout(spark, table, partitions)


@pytest.mark.parametrize("case", list(LAYOUT_KINDS))
def test_lifecycle_reads_no_layout_or_columns_back(spark, monkeypatch, case):
    """plan → apply → run → dev plan → restate takes every table's layout
    from its model: no DESCRIBE statement and no SparkAdapter.columns call,
    and the table still has its declared layout."""
    from pyspark.sql import SparkSession

    ctx = _layout_context(spark, case)
    statements: list[str] = []
    columns_calls: list[str] = []
    sql = SparkSession.sql

    def spy_sql(self, query, *args, **kwargs):
        statements.append(query)
        return sql(self, query, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "sql", spy_sql)
    columns = SparkAdapter.columns
    monkeypatch.setattr(
        SparkAdapter, "columns", lambda self, t: columns_calls.append(t) or columns(self, t)
    )
    window = {"start": "1995-01-01", "end": "1995-01-02", "skip_tests": True}
    plan = ctx.plan(environment="env_lay", **window)
    ctx.apply(plan)
    ctx.run(environment="env_lay", start="1995-01-01", end="1995-01-03")
    ctx.apply(ctx.plan(environment="dev_lay", **window))
    ctx.restate([f"demo_lay.{case}"], "1995-01-01", "1995-01-02", environment="env_lay")
    monkeypatch.undo()

    assert statements, "the spy saw no statement"
    assert [q for q in statements if q.lstrip().upper().startswith("DESCRIBE")] == []
    assert columns_calls == []
    _assert_layout(spark, plan.snapshots[f"demo_lay.{case}"].table_name, LAYOUT_KINDS[case][2])
    for env in ("env_lay", "dev_lay"):
        assert spark.table(f"{env}_views.{case}").collect()[0].k == 1


def test_discovered_seed_loads_string_columns_as_text(spark):
    """A seeds/*.csv without a model file declares every column STRING;
    the load reads those columns as text, so '1' lands as '1' with no
    Arrow fallback warning."""
    import os
    import tempfile
    import warnings

    from sqlmesh_spark.core.context import Context

    for db in ("sqlmesh__seed", "env_sdt_views"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    root = tempfile.mkdtemp(prefix="seed_types_")
    os.makedirs(os.path.join(root, "seeds"))
    with open(os.path.join(root, "seeds", "sdt_rows.csv"), "w") as f:
        f.write("id,name\n1,a\n2,b\n")
    ctx = Context(spark, project_dir=root)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        ctx.run(environment="env_sdt", start="1995-01-01", end="1995-01-02")
    rows = spark.table("env_sdt_views.sdt_rows").orderBy("name").collect()
    assert [(r.id, r.name) for r in rows] == [("1", "a"), ("2", "b")]
