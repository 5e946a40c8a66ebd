"""A rerun over an already-processed window does no work: no DDL, no Spark
job, no render and no state change. A longer window, a restatement, a
parent that ran, a metadata edit, a forward-only change, a view left
unpromoted and a janitor-then-revert still do the work they need."""

from __future__ import annotations

import collections

import pytest

from sqlmesh_spark.adapter import SparkAdapter
from sqlmesh_spark.core.context import Context
from sqlmesh_spark.core.plan import build_snapshots
from sqlmesh_spark.core.scheduler import SnapshotEvaluator

ENV = "env_nr"
VIEWS = f"{ENV}_views"
START, END = "1995-01-01", "1995-01-04"

DDL = (
    "create_view", "create_schema", "create_table", "ctas", "drop_table",
    "drop_view", "drop_schema", "rename_table", "alter_table",
)

STG = """MODEL (name nr.stg, kind VIEW);
SELECT o_orderkey, o_orderdate, o_totalprice FROM parquet.`{sf}/orders.parquet`"""

DAILY = """MODEL (
  name nr.daily,
  kind INCREMENTAL_BY_TIME_RANGE (time_column ds),
  cron '@daily'
);
SELECT o_orderdate AS ds, CAST(COUNT(*) AS BIGINT) AS n{extra}
FROM nr.stg
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o_orderdate < CAST(@end_ts AS TIMESTAMP)
GROUP BY o_orderdate"""

TOTAL = """MODEL (name nr.total, kind FULL{meta});
SELECT CAST(SUM(n) AS BIGINT) AS n{extra} FROM nr.daily"""


@pytest.fixture
def ctx(spark, sf_dir, tmp_path):
    for db in ("sqlmesh__nr", VIEWS):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    c = Context(spark, state_dir=str(tmp_path / "state"))
    c.add_model(STG.format(sf=sf_dir))
    c.add_model(DAILY.format(extra=""))
    c.add_model(TOTAL.format(meta="", extra=""))
    assert c.run(ENV, START, END) == {"nr.stg": 1, "nr.daily": 1, "nr.total": 1}
    yield c
    for db in ("sqlmesh__nr", VIEWS):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


@pytest.fixture
def calls(monkeypatch):
    """Counts adapter DDL and model renders."""
    counts: collections.Counter = collections.Counter()

    def count(owner, attr):
        orig = getattr(owner, attr)

        def counted(self, *args, **kwargs):
            counts[attr] += 1
            return orig(self, *args, **kwargs)

        monkeypatch.setattr(owner, attr, counted)

    for attr in DDL:
        count(SparkAdapter, attr)
    count(SnapshotEvaluator, "render")
    return counts


def _orders(spark, sf_dir, start, end) -> int:
    return spark.sql(
        f"SELECT COUNT(*) FROM parquet.`{sf_dir}/orders.parquet` "
        f"WHERE o_orderdate >= '{start}' AND o_orderdate < '{end}'"
    ).collect()[0][0]


def _total(spark) -> int:
    return spark.table(f"{VIEWS}.total").collect()[0].n


def test_noop_rerun_runs_no_ddl_jobs_or_renders(spark, ctx, calls):
    # The DAG scheduler's job counter moves when a job is submitted; the
    # status tracker learns of jobs through the asynchronous listener bus,
    # so it can list the fixture's last jobs late.
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    jobs_before = dag.numTotalJobs()
    intervals_before = ctx.state.export_state()["tables"].get("intervals")
    assert ctx.run(ENV, START, END) == {"nr.stg": 0, "nr.daily": 0, "nr.total": 0}
    assert not calls, dict(calls)
    assert dag.numTotalJobs() == jobs_before
    assert ctx.state.export_state()["tables"].get("intervals") == intervals_before


def test_first_build_creates_each_schema_once(calls, ctx):
    """The first run's three models share one physical schema: it is
    created once, and the environment's view schema once."""
    assert calls["create_schema"] == 2


def test_full_model_reruns_on_longer_window_and_restatement(spark, sf_dir, ctx):
    assert _total(spark) == _orders(spark, sf_dir, START, END)
    longer = "1995-01-05"
    assert ctx.run(ENV, START, longer) == {"nr.stg": 1, "nr.daily": 1, "nr.total": 1}
    assert _total(spark) == _orders(spark, sf_dir, START, longer)
    restated = ctx.restate(["nr.daily"], "1995-01-02", "1995-01-03", environment=ENV)
    assert restated == {"nr.stg": 0, "nr.daily": 1, "nr.total": 1}
    assert _total(spark) == _orders(spark, sf_dir, START, longer)


def test_description_only_edit_lands_its_comment(spark, ctx):
    ctx.add_model(TOTAL.format(meta=", description 'all orders'", extra=""))
    assert ctx.run(ENV, START, END)["nr.total"] == 0
    table = build_snapshots(ctx.models)["nr.total"].table_name
    detail = {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    }
    assert "all orders" in detail.get("Comment", "")


def test_forward_only_additive_change_repromotes_view(spark, ctx):
    ctx.add_model(DAILY.format(extra=", CAST(MAX(o_totalprice) AS DOUBLE) AS max_price"))
    ctx.run(ENV, START, END, forward_only=True)
    assert "max_price" in spark.table(f"{VIEWS}.daily").columns


def test_janitor_then_revert_rebuilds_dropped_version(spark, sf_dir, ctx):
    expected = _orders(spark, sf_dir, START, END)
    ctx.add_model(TOTAL.format(meta="", extra=", 1 AS v2"))
    assert ctx.run(ENV, START, END)["nr.total"] == 1
    ctx.janitor()
    ctx.add_model(TOTAL.format(meta="", extra=""))
    assert ctx.run(ENV, START, END)["nr.total"] == 1
    assert spark.table(f"{VIEWS}.total").columns == ["n"]
    assert _total(spark) == expected


def test_full_model_rebuilds_when_parent_runs_over_processed_window(
    spark, sf_dir, tmp_path
):
    """A signal admits a parent interval on the second run over the same
    window: the FULL child's own intervals are all processed, yet it
    rebuilds because its parent wrote data in this run."""
    from sqlmesh_spark.core.signal import signal
    from sqlmesh_spark.core.snapshot import to_epoch

    cutoff = {"epoch": to_epoch("1995-01-03")}

    @signal("nr_late_ready")
    def nr_late_ready(batch):
        return [iv for iv in batch if iv[1] <= cutoff["epoch"]]

    for db in ("sqlmesh__nrs", "env_nrs_views"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    ctx = Context(spark, state_dir=str(tmp_path / "state"))
    ctx.add_model(
        f"""MODEL (
  name nrs.daily,
  kind INCREMENTAL_BY_TIME_RANGE (time_column ds),
  signals (nr_late_ready)
);
SELECT o_orderdate AS ds, CAST(COUNT(*) AS BIGINT) AS n
FROM parquet.`{sf_dir}/orders.parquet`
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o_orderdate < CAST(@end_ts AS TIMESTAMP)
GROUP BY o_orderdate"""
    )
    ctx.add_model(
        "MODEL (name nrs.total, kind FULL);\n"
        "SELECT CAST(SUM(n) AS BIGINT) AS n FROM nrs.daily"
    )
    ctx.run("env_nrs", START, END)
    total = lambda: spark.table("env_nrs_views.total").collect()[0].n
    assert total() == _orders(spark, sf_dir, START, "1995-01-03")
    cutoff["epoch"] = to_epoch(END)
    assert ctx.run("env_nrs", START, END) == {"nrs.daily": 1, "nrs.total": 1}
    assert total() == _orders(spark, sf_dir, START, END)
    assert ctx.run("env_nrs", START, END) == {"nrs.daily": 0, "nrs.total": 0}
    for db in ("sqlmesh__nrs", "env_nrs_views"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_view_left_unpromoted_by_backfill_models_is_promoted_later(spark, tmp_path):
    """A modified model left out of backfill_models has no table, so its
    view keeps serving the old version; the apply that builds the table
    repoints the view even though the pointer did not move."""
    for db in ("sqlmesh__bfm", "env_bfm_views"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    ctx = Context(spark, state_dir=str(tmp_path / "state"))
    ctx.add_model("MODEL (name bfm.a, kind FULL);\nSELECT 1 AS v")
    ctx.add_model("MODEL (name bfm.b, kind FULL);\nSELECT 1 AS w")
    ctx.run("env_bfm", START, END)
    ctx.add_model("MODEL (name bfm.a, kind FULL);\nSELECT 2 AS v")
    ctx.apply(ctx.plan(environment="env_bfm", backfill_models=["bfm.b"]))
    assert spark.table("env_bfm_views.a").collect()[0].v == 1
    assert ctx.run("env_bfm", START, END)["bfm.a"] == 1
    assert spark.table("env_bfm_views.a").collect()[0].v == 2
    for db in ("sqlmesh__bfm", "env_bfm_views"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_on_virtual_update_runs_after_every_view_is_promoted(spark, tmp_path):
    """A model's on_virtual_update statement may read another model's env
    view promoted in the same apply: statements run after the pool."""
    for db in ("sqlmesh__ovu", "env_ovu_views"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    ctx = Context(spark, state_dir=str(tmp_path / "state"))
    ctx.add_model(
        "MODEL (name ovu.a, kind FULL);\nSELECT 1 AS n;\n"
        "ON_VIRTUAL_UPDATE_BEGIN;\n"
        "CREATE OR REPLACE VIEW env_ovu_views.a_sees_z AS SELECT n FROM env_ovu_views.z;\n"
        "ON_VIRTUAL_UPDATE_END"
    )
    ctx.add_model("MODEL (name ovu.z, kind FULL);\nSELECT 2 AS n")
    ctx.run("env_ovu", START, END)
    assert spark.table("env_ovu_views.a_sees_z").collect()[0].n == 2
    for db in ("sqlmesh__ovu", "env_ovu_views"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
