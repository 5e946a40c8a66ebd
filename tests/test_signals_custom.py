"""Signals, custom materializations, janitor, generated tests."""

from __future__ import annotations

import tempfile

from sqlmesh_spark.core.signal import check_ready_intervals, freshness, signal
from sqlmesh_spark.core.snapshot import DAY, to_epoch


def test_freshness_signal_blocks_future_intervals():
    past = (to_epoch("2020-01-01"), to_epoch("2020-01-02"))
    future = (to_epoch("2099-01-01"), to_epoch("2099-01-02"))
    assert check_ready_intervals(["freshness"], [past, future]) == [past]


def test_custom_signal_registration_and_intersection():
    @signal("only_even_days")
    def only_even_days(batch):
        return [iv for iv in batch if (iv[0] // DAY) % 2 == 0]

    ivs = [(0, DAY), (DAY, 2 * DAY), (2 * DAY, 3 * DAY)]
    assert check_ready_intervals(["only_even_days"], ivs) == [ivs[0], ivs[2]]
    # Intersection with freshness (all past) keeps the same set.
    assert check_ready_intervals(["only_even_days", "freshness"], ivs) == [ivs[0], ivs[2]]


def test_signal_gates_scheduler_run(spark, sf_dir):
    from sqlmesh_spark.core.context import Context

    @signal("nothing_ready")
    def nothing_ready(batch):
        return False

    orders = f"parquet.`{sf_dir}/orders.parquet`"
    ctx = Context(spark, state_dir=tempfile.mkdtemp())
    ctx.add_model(
        f"""
MODEL (name sig.daily, kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts),
       signals (nothing_ready));
SELECT o_orderdate AS event_ts, o_orderkey FROM {orders}
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP) AND o_orderdate < CAST(@end_ts AS TIMESTAMP)
"""
    )
    executed = ctx.run(environment="sig_env", start="1995-01-01", end="1995-01-05")
    assert executed["sig.daily"] == 0  # every interval gated out


def test_signal_gates_wholesale_kinds(spark, sf_dir):
    """A FULL model's signals gate its rebuild as they gate an incremental
    model's batches: nothing is built or promoted until they admit."""
    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.plan import build_snapshots

    ready = {"value": False}

    @signal("sigf_ready")
    def sigf_ready(batch):
        return ready["value"]

    for db in ("sqlmesh__sigf", "sigf_env_views"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    nation = f"parquet.`{sf_dir}/nation.parquet`"
    ctx = Context(spark, state_dir=tempfile.mkdtemp())
    ctx.add_model(
        f"""
MODEL (name sigf.m, kind FULL, cron '@daily', signals (sigf_ready));
SELECT n_nationkey, n_name FROM {nation}
"""
    )
    snap = build_snapshots(ctx.models)["sigf.m"]
    executed = ctx.run(environment="sigf_env", start="1995-01-01", end="1995-01-05")
    assert executed["sigf.m"] == 0
    assert not spark.catalog.tableExists(snap.table_name)
    assert not spark.catalog.tableExists("sigf_env_views.m")
    assert ctx.state.get_environment_meta("sigf_env")["unpromoted"] == ["sigf.m"]

    ready["value"] = True
    executed = ctx.run(environment="sigf_env", start="1995-01-01", end="1995-01-05")
    assert executed["sigf.m"] == 1
    assert spark.table("sigf_env_views.m").count() == 25
    assert ctx.state.get_environment_meta("sigf_env")["unpromoted"] == []


def test_custom_materialization(spark, sf_dir):
    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.scheduler import register_custom_materialization

    def append_with_tag(evaluator, snapshot, df, start, end):
        from pyspark.sql import functions as F

        tagged = df.withColumn("mat", F.lit("custom"))
        evaluator.adapter.replace_query(snapshot.table_name, tagged, snapshot.model.layout)

    register_custom_materialization("tagging", append_with_tag)

    nation = f"parquet.`{sf_dir}/nation.parquet`"
    ctx = Context(spark, state_dir=tempfile.mkdtemp())
    ctx.add_model(
        f"""
MODEL (name cm.tagged, kind CUSTOM (materialization tagging));
SELECT n_nationkey, n_name FROM {nation}
"""
    )
    ctx.run(environment="cm_env", start="1995-01-01", end="1995-01-02")
    rows = spark.table("cm_env_views.tagged").collect()
    assert len(rows) == 25 and all(r.mat == "custom" for r in rows)


def test_janitor_drops_unreferenced_snapshots(spark, sf_dir):
    from sqlmesh_spark.core.context import Context

    nation = f"parquet.`{sf_dir}/nation.parquet`"
    ctx = Context(spark, state_dir=tempfile.mkdtemp())
    text = f"MODEL (name jan.m, kind FULL);\nSELECT n_nationkey FROM {nation}"
    ctx.add_model(text)
    ctx.run(environment="jan_env", start="1995-01-01", end="1995-01-02")
    v1_table = next(iter(ctx.plan("jan_env").snapshots.values())).table_name

    # Modify → new version; env pointer moves; v1 becomes garbage.
    ctx.models.clear()
    ctx.add_model(text.replace("n_nationkey", "n_nationkey, n_name"))
    ctx.run(environment="jan_env", start="1995-01-01", end="1995-01-02")

    dropped = ctx.janitor()
    assert v1_table in dropped
    assert not spark.catalog.tableExists(v1_table)
    assert spark.table("jan_env_views.m").count() == 25  # live version intact


def test_generate_test_round_trips(spark, sf_dir):
    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.model_test import ModelTestRunner

    ctx = Context(spark, state_dir=tempfile.mkdtemp())
    # Register 'nation' as a queryable name for fixture sampling.
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView("src_nation")
    ctx.add_model(
        "MODEL (name gen.regions, kind FULL);\n"
        "SELECT n_regionkey, COUNT(*) AS n FROM src.nation GROUP BY n_regionkey"
    )
    # src.nation resolves via a real catalog table (adapter handles orphan
    # warehouse locations from prior sessions).
    from sqlmesh_spark.adapter import PARQUET, SparkAdapter

    adapter = SparkAdapter(spark)
    adapter.create_schema("src")
    adapter.replace_query("src.nation", spark.read.parquet(f"{sf_dir}/nation.parquet"), PARQUET)

    spec = ctx.generate_test("gen.regions")
    body = spec["test_regions"]
    assert body["inputs"]["src.nation"]["rows"]
    assert body["outputs"]["query"]["rows"]
    results = ModelTestRunner(spark).run_spec(spec, ctx.models)
    assert all(r.passed for r in results)


def test_forward_only_schema_migration(spark, sf_dir):
    """Forward-only plan: a modified incremental model keeps its physical
    table, gains the new column via ALTER (NULL for history), and only new
    intervals compute with the new projection."""
    import tempfile

    from sqlmesh_spark.core.context import Context

    orders = f"parquet.`{sf_dir}/orders.parquet`"
    base = f"""
MODEL (name fo.daily, kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts));
SELECT o_orderdate AS event_ts, o_orderkey{{extra}}
FROM {orders}
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP) AND o_orderdate < CAST(@end_ts AS TIMESTAMP)
"""
    ctx = Context(spark, state_dir=tempfile.mkdtemp())
    ctx.add_model(base.format(extra=""))
    ctx.run(environment="fo_env", start="1995-01-01", end="1995-01-05")
    v1 = ctx.plan("fo_env").snapshots["fo.daily"].version

    # Additive change: new projection column.
    ctx.models.clear()
    ctx.add_model(base.format(extra=", o_custkey"))
    executed = ctx.run(
        environment="fo_env", start="1995-01-01", end="1995-01-08", forward_only=True
    )
    plan = ctx.plan("fo_env", forward_only=True)
    assert plan.snapshots["fo.daily"].version == v1  # table reused

    df = spark.table("fo_env_views.daily")
    assert "o_custkey" in df.columns
    jan_1_4 = df.filter("event_ts < '1995-01-05'")
    jan_5_7 = df.filter("event_ts >= '1995-01-05'")
    # History NOT recomputed → new column NULL there; new intervals filled.
    assert jan_1_4.count() > 0 and jan_1_4.filter("o_custkey IS NOT NULL").count() == 0
    assert jan_5_7.count() > 0 and jan_5_7.filter("o_custkey IS NULL").count() == 0


def test_dev_environment_reuses_prod_snapshots(spark, sf_dir):
    """Virtual data environments: a dev env over unchanged models points
    views at the SAME physical tables as prod — zero recompute
    (docs/blog/virtual_data_environments.md)."""
    import tempfile

    from sqlmesh_spark.core.context import Context

    nation = f"parquet.`{sf_dir}/nation.parquet`"
    ctx = Context(spark, state_dir=tempfile.mkdtemp())
    ctx.add_model(f"MODEL (name ve.m, kind FULL);\nSELECT n_nationkey, n_name FROM {nation}")
    prod_exec = ctx.run(environment="prod", start="1995-01-01", end="1995-01-02")
    assert prod_exec["ve.m"] == 1

    prod_table = ctx.plan("prod").snapshots["ve.m"].table_name
    mtime_before = spark.sql(f"SELECT COUNT(*) FROM {prod_table}").collect()[0][0]

    # Dev env: same fingerprints → same physical table, only views created.
    ctx.run(environment="dev", start="1995-01-01", end="1995-01-02")
    dev_plan = ctx.plan("dev")
    assert dev_plan.snapshots["ve.m"].table_name == prod_table
    assert dev_plan.diff.unchanged == ["ve.m"]
    assert spark.table("dev_views.m").count() == mtime_before
    assert spark.table("prod_views.m").count() == mtime_before


def test_non_blocking_audit_warns_not_fails(spark, sf_dir):
    import tempfile

    from sqlmesh_spark.core.context import Context

    cust = f"parquet.`{sf_dir}/customer.parquet`"
    ctx = Context(spark, state_dir=tempfile.mkdtemp())
    ctx.add_model(
        f"""
MODEL (name nb.m, kind FULL,
       audits (accepted_range(column = c_acctbal, low = 0, high = 1, blocking = false)));
SELECT c_custkey, c_acctbal FROM {cust} WHERE c_custkey <= 10
"""
    )
    # Audit certainly fails, but non-blocking → run completes.
    ctx.run(environment="nb_env", start="1995-01-01", end="1995-01-02")
    assert spark.table("nb_env_views.m").count() == 11  # custkeys 0..10


def test_model_kind_name_variable(spark, sf_dir):
    import tempfile

    from sqlmesh_spark.core.context import Context

    ctx = Context(spark, state_dir=tempfile.mkdtemp())
    ctx.add_model(
        "MODEL (name kv.m, kind FULL);\nSELECT @model_kind_name AS kind_name"
    )
    rendered = ctx.render("kv.m")
    assert rendered == "SELECT 'FULL' AS kind_name"


def test_audit_scoped_to_written_interval(spark, sf_dir):
    """Audits on incremental models scope to the just-written interval:
    a corrupt historical row outside the new batch window must not block
    new batches (O(batch) audit cost), while an unscoped whole-table
    audit still flags it."""
    import tempfile

    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.scheduler import SnapshotEvaluator

    orders = f"parquet.`{sf_dir}/orders.parquet`"
    ctx = Context(spark, state_dir=tempfile.mkdtemp())
    ctx.add_model(
        f"""
MODEL (name sa.daily, kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts),
       audits (accepted_range(column = qty, low = 0, high = 1000)));
SELECT o_orderdate AS event_ts, o_orderkey, CAST(1 AS INT) AS qty FROM {orders}
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP) AND o_orderdate < CAST(@end_ts AS TIMESTAMP)
"""
    )
    ctx.run(environment="sa_env", start="1995-01-02", end="1995-01-04")
    snap = ctx.plan("sa_env").snapshots["sa.daily"]

    # Corrupt a row INSIDE already-processed history (simulates late
    # upstream corruption the scheduler is not responsible for re-auditing).
    spark.sql(
        f"INSERT INTO {snap.table_name} (event_ts, o_orderkey, qty, _ds) "
        "VALUES (TIMESTAMP '1995-01-02 00:00:00', -1, CAST(9999 AS INT), '1995-01-02')"
    )

    # New window runs clean: the scoped audit ignores the corrupt history.
    executed = ctx.run(environment="sa_env", start="1995-01-02", end="1995-01-06")
    assert executed["sa.daily"] == 1  # the merged new [01-04, 01-06) batch ran

    ev = SnapshotEvaluator(spark)
    # Unscoped (whole-table) audit still sees the corruption.
    assert ev.run_audits(snap) != []
    # Scoped to the clean window: passes.
    assert ev.run_audits(snap, "1995-01-04", "1995-01-06") == []
