"""WAP, the interval overwrite on every layout, restatements."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from catalog_layout import read_layout
from sqlmesh_spark.adapter import PARQUET, SparkAdapter
from sqlmesh_spark import audits


def test_wap_write_audit_publish(spark):
    adapter = SparkAdapter(spark)
    spark.sql("DROP TABLE IF EXISTS default.t_wap")
    adapter.ctas("default.t_wap", spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"))

    staging = adapter.wap_prepare("default.t_wap", PARQUET)
    adapter.insert_append(staging, spark.createDataFrame([(3, "c")], "id int, v string"))
    # Audit the staging branch BEFORE publish; main is untouched meanwhile.
    assert spark.sql(audits.not_null(staging, ["id", "v"])).count() == 0
    assert spark.table("default.t_wap").count() == 2
    adapter.wap_publish("default.t_wap", staging, PARQUET)
    assert spark.table("default.t_wap").count() == 3
    adapter.drop_table("default.t_wap")


def test_wap_and_clone_keep_the_table_layout(spark):
    """A published WAP branch and a clone are tables in the source's
    layout (format, partitions, buckets), and the published partitions
    read back."""
    from sqlmesh_spark.adapter import TableLayout

    adapter = SparkAdapter(spark)
    layout = TableLayout(("v",), ("id",), 2, "orc")
    for t in ("default.t_wap_layout", "default.t_wap_layout_clone"):
        adapter.drop_table(t)
    adapter.ctas(
        "default.t_wap_layout",
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"),
        layout,
    )
    staging = adapter.wap_prepare("default.t_wap_layout", layout)
    adapter.insert_append(staging, spark.createDataFrame([(3, "c")], "id int, v string"))
    adapter.wap_publish("default.t_wap_layout", staging, layout)
    adapter.clone_table("default.t_wap_layout_clone", "default.t_wap_layout", layout)
    for t in ("default.t_wap_layout", "default.t_wap_layout_clone"):
        assert read_layout(spark, t) == layout
        assert sorted(r.id for r in spark.table(t).collect()) == [1, 2, 3]
        adapter.drop_table(t)


def test_wap_abandon_on_audit_failure(spark):
    adapter = SparkAdapter(spark)
    spark.sql("DROP TABLE IF EXISTS default.t_wap2")
    adapter.ctas("default.t_wap2", spark.createDataFrame([(1, "a")], "id int, v string"))
    staging = adapter.wap_prepare("default.t_wap2", PARQUET)
    adapter.insert_append(staging, spark.createDataFrame([(None, "bad")], "id int, v string"))
    assert spark.sql(audits.not_null(staging, ["id"])).count() > 0
    # Don't publish — drop the branch; main unchanged.
    adapter.drop_table(staging)
    assert spark.table("default.t_wap2").count() == 1
    adapter.drop_table("default.t_wap2")


# Batch shapes: (interval start, interval end, batch rows, ids left).
# The table holds id 1/2/3 at midnight of 2024-01-01/02/03.
SHAPES = {
    "replacing_row": ("2024-01-02", "2024-01-03", [(99, "2024-01-02 12:00:00")], [1, 3, 99]),
    "empty_batch": ("2024-01-02", "2024-01-03", [], [1, 3]),
    "batch_covers_one_of_two_days": (
        "2024-01-02", "2024-01-04", [(99, "2024-01-02 12:00:00")], [1, 99],
    ),
    "subday_interval_empties_its_day": (
        "2024-01-02 00:00:00", "2024-01-02 12:00:00", [], [1, 3],
    ),
    "subday_interval_keeps_its_day_siblings": (
        "2024-01-02 12:00:00", "2024-01-03 00:00:00", [], [1, 2, 3],
    ),
}


@pytest.mark.parametrize("shape", SHAPES)
@pytest.mark.parametrize("partitioned", [False, True], ids=["unpartitioned", "_ds"])
def test_insert_overwrite_by_time_leaves_exactly_the_interval_batch(spark, partitioned, shape):
    """The interval's old rows go and its batch lands, whatever the batch
    covers: on an unpartitioned table by the delete-insert fallback, on a
    ``_ds``-partitioned one by replacing the day partitions the interval
    owns, which drops the days the batch leaves empty."""
    from sqlmesh_spark.adapter import TableLayout

    start, end, rows, expected = SHAPES[shape]
    adapter = SparkAdapter(spark)
    table = "default.t_di"
    adapter.drop_table(table)

    def frame(data):
        df = spark.createDataFrame(data, "id int, ts string")
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df.withColumn("_ds", F.date_format("ts", "yyyy-MM-dd")) if partitioned else df

    base = [(1, "2024-01-01 00:00:00"), (2, "2024-01-02 00:00:00"), (3, "2024-01-03 00:00:00")]
    layout = TableLayout(("_ds",) if partitioned else ())
    adapter.ctas(table, frame(base), layout)
    adapter.insert_overwrite_by_time_partition(table, frame(rows), "ts", start, end, layout)
    assert sorted(r.id for r in spark.table(table).collect()) == expected
    adapter.drop_table(table)


def test_restatement_recomputes_window_and_downstream(spark, sf_dir):
    from sqlmesh_spark.core.context import Context

    orders = f"parquet.`{sf_dir}/orders.parquet`"
    ctx = Context(spark, state_dir=tempfile.mkdtemp())
    ctx.add_model(
        f"""
MODEL (name restate.daily, kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts));
SELECT o_orderdate AS event_ts, o_orderkey, o_totalprice
FROM {orders}
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP) AND o_orderdate < CAST(@end_ts AS TIMESTAMP)
"""
    )
    ctx.add_model(
        """
MODEL (name restate.rollup, kind FULL);
SELECT COUNT(*) AS n FROM restate.daily
"""
    )
    r1 = ctx.run(environment="restate_env", start="1995-01-01", end="1995-01-10")
    assert r1["restate.daily"] >= 1
    r2 = ctx.run(environment="restate_env", start="1995-01-01", end="1995-01-10")
    assert r2["restate.daily"] == 0  # fully processed

    r3 = ctx.restate(
        ["restate.daily"], "1995-01-03", "1995-01-05", environment="restate_env"
    )
    # Exactly the cleared window re-executes (one contiguous batch).
    assert r3["restate.daily"] == 1
    n = spark.table("restate_env_views.rollup").collect()[0].n
    expected = spark.sql(
        f"SELECT COUNT(*) AS n FROM {orders} "
        "WHERE o_orderdate >= '1995-01-01' AND o_orderdate < '1995-01-10'"
    ).collect()[0].n
    assert n == expected


def test_restatement_reaches_a_child_that_categorization_reverted(spark):
    """A NON_BREAKING parent change leaves its child on the child's old
    version. Restating the parent must clear and recompute that served
    version, not the child's new fingerprint, which no environment serves."""
    import uuid

    from sqlmesh_spark.core.context import Context

    db = f"rs{uuid.uuid4().hex[:6]}"
    src = f"default.{db}_src"

    def load_source(values):
        spark.createDataFrame(
            [(f"1995-01-0{i + 1} 00:00:00", v) for i, v in enumerate(values)],
            "ts string, v int",
        ).selectExpr("CAST(ts AS TIMESTAMP) AS ts", "v").write.mode(
            "overwrite"
        ).saveAsTable(src)

    window = " WHERE ts >= CAST(@start_ts AS TIMESTAMP) AND ts < CAST(@end_ts AS TIMESTAMP)"
    parent = (
        f"MODEL (name {db}.p, kind INCREMENTAL_BY_TIME_RANGE (time_column ts));\n"
        "SELECT ts, v{extra} FROM " + src + window
    )
    load_source([1, 2])
    ctx = Context(spark, state_dir=tempfile.mkdtemp())
    ctx.add_model(parent.format(extra=""))
    ctx.add_model(
        f"MODEL (name {db}.c, kind INCREMENTAL_BY_TIME_RANGE (time_column ts));\n"
        f"SELECT ts, v FROM {db}.p" + window
    )
    span = {"start": "1995-01-01", "end": "1995-01-03"}
    ctx.run(environment=db, **span)
    ctx.add_model(parent.format(extra=", v * 2 AS w"))
    plan = ctx.plan(db, skip_tests=True, **span)
    assert plan.diff.indirectly_modified == [f"{db}.c"]
    ctx.apply(plan)

    load_source([10, 20])
    ctx.restate([f"{db}.p"], environment=db, **span)
    for model in ("p", "c"):
        rows = spark.table(f"{db}_views.{model}").collect()
        assert sorted(r.v for r in rows) == [10, 20], model
    spark.sql(f"DROP TABLE IF EXISTS {src}")
