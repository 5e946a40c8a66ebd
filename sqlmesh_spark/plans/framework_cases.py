"""End-to-end framework cases: a real project directory, planned/applied
through the full stack — loader → DSL parse → fingerprints → snapshots →
interval scheduling → materialization → audits → virtual layer — with
DuckDB oracles over the same raw parquet.

This is the reference's flagship lifecycle (SURVEY §3.1/§3.2) exercised as
a correctness case, not just unit-tested.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from urllib.parse import urlparse

# Module-level so pandas-UDF string type hints (PEP 563 via the __future__
# import above) resolve against these globals at UDF-registration time.
import pandas as pd  # noqa: F401
from pyspark.sql import DataFrame, SparkSession

from sqlmesh_spark.core.context import Context
from sqlmesh_spark.registry import register


def _clean_dbs(spark: SparkSession, *dbs: str) -> None:
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for db in dbs:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(f"{warehouse}/{db}.db", ignore_errors=True)


def _write_project(models: dict[str, str]) -> str:
    root = tempfile.mkdtemp(prefix="sqlmesh_proj_")
    os.makedirs(os.path.join(root, "models"))
    for fname, text in models.items():
        with open(os.path.join(root, "models", fname), "w") as f:
            f.write(text)
    return root


INCR_ORACLE = """
WITH daily AS (
  SELECT strftime(o_orderdate, '%Y-%m-%d') AS ds,
         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
         COUNT(DISTINCT l_orderkey) AS n_orders
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1995-12-31 00:00:00'
  GROUP BY strftime(o_orderdate, '%Y-%m-%d')
)
SELECT substr(ds, 1, 7) AS month, CAST(SUM(revenue_cents) AS BIGINT) AS revenue_cents,
       CAST(SUM(n_orders) AS BIGINT) AS n_orders
FROM daily GROUP BY substr(ds, 1, 7)
"""


@register("framework_incremental_run", oracle=INCR_ORACLE, tags=("framework",))
def framework_incremental_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-model DAG (incremental-by-time fact → FULL rollup), applied in
    two plan/apply rounds: Jan–Jun backfill, then extend to Dec. Round two
    must process ONLY the missing intervals (the incremental contract) and
    the virtual layer must serve the rollup over the full window."""
    _clean_dbs(spark, "sqlmesh__demo_inc", "env_inc_views")

    orders = f"parquet.`{sf_dir}/orders.parquet`"
    lineitem = f"parquet.`{sf_dir}/lineitem.parquet`"
    project = _write_project(
        {
            "daily_revenue.sql": f"""
MODEL (
  name demo_inc.daily_revenue,
  kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts),
  cron '@daily',
  audits (not_null(columns = (revenue_cents)))
);
SELECT o.o_orderdate AS event_ts,
       date_format(o.o_orderdate, 'yyyy-MM-dd') AS ds,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       COUNT(DISTINCT l.l_orderkey) AS n_orders
FROM {orders} o JOIN {lineitem} l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o.o_orderdate <  CAST(@end_ts AS TIMESTAMP)
GROUP BY o.o_orderdate, date_format(o.o_orderdate, 'yyyy-MM-dd')
""",
            "monthly_revenue.sql": """
MODEL (
  name demo_inc.monthly_revenue,
  kind FULL,
  audits (unique_values(columns = (month)))
);
SELECT substring(ds, 1, 7) AS month,
       CAST(SUM(revenue_cents) AS BIGINT) AS revenue_cents,
       CAST(SUM(n_orders) AS BIGINT) AS n_orders
FROM demo_inc.daily_revenue
GROUP BY substring(ds, 1, 7)
""",
        }
    )
    state_dir = tempfile.mkdtemp(prefix="sqlmesh_state_")
    ctx = Context(spark, project_dir=project, state_dir=state_dir)

    # Round 1: backfill January–June.
    ctx.run(environment="env_inc", start="1995-01-01", end="1995-06-30")
    # Round 2: extend to December — only July..Dec intervals run.
    executed = ctx.run(environment="env_inc", start="1995-01-01", end="1995-12-31")
    assert executed["demo_inc.daily_revenue"] >= 1

    return spark.table("env_inc_views.monthly_revenue")


SEED_ORACLE = """
SELECT t.id, t.name, n.n_name
FROM (VALUES (0, 'alpha'), (1, 'beta'), (2, 'gamma')) AS t(id, name)
JOIN nation n ON t.id = n.n_nationkey
"""

SEED_CSV = "id,name\n0,alpha\n1,beta\n2,gamma\n"


@register("framework_seed_view_pipeline", oracle=SEED_ORACLE, tags=("framework",))
def framework_seed_view_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEED → VIEW pipeline: csv seed load, a view joining it to an
    external parquet table, served through the virtual layer."""
    _clean_dbs(spark, "sqlmesh__demo_seed", "env_seed_views")

    nation = f"parquet.`{sf_dir}/nation.parquet`"
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (name demo_seed.tags, kind SEED);
""",
        seed_csv=SEED_CSV,
        columns={"id": "INT", "name": "STRING"},
    )
    ctx.add_model(
        f"""
MODEL (name demo_seed.tagged_nations, kind VIEW);
SELECT t.id, t.name, n.n_name
FROM demo_seed.tags t JOIN {nation} n ON t.id = n.n_nationkey
"""
    )
    ctx.run(environment="env_seed", start="1995-01-01", end="1995-01-02")
    return spark.table("env_seed_views.tagged_nations")


MERGE_KIND_ORACLE = """
SELECT c_custkey AS customer_id,
       CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
FROM customer WHERE c_custkey <= 1200
"""


@register("framework_incremental_by_key", oracle=MERGE_KIND_ORACLE, tags=("framework",))
def framework_incremental_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL_BY_UNIQUE_KEY model applied twice with widening source
    windows — second apply merges (upserts) the delta."""
    _clean_dbs(spark, "sqlmesh__demo_key", "env_key_views")
    customer = f"parquet.`{sf_dir}/customer.parquet`"
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    # @VAR('limit') drives the visible key range per run.
    text = f"""
MODEL (
  name demo_key.cust_balance,
  kind INCREMENTAL_BY_UNIQUE_KEY (unique_key customer_id)
);
SELECT c_custkey AS customer_id,
       CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
FROM {customer} WHERE c_custkey <= @VAR('limit', 1000)
"""
    ctx.add_model(text)
    ctx.run(environment="env_key", start="1995-01-01", end="1995-01-02")
    # Widen the source; fingerprint changes → new snapshot version whose
    # first insert recreates from the full source (correct: a modified
    # model is a new physical table).
    ctx.models.clear()
    ctx.add_model(text.replace("@VAR('limit', 1000)", "1200"))
    ctx.run(environment="env_key", start="1995-01-01", end="1995-01-03")
    return spark.table("env_key_views.cust_balance")


PYMODEL_ORACLE = """
SELECT c_mktsegment AS segment,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents,
       CAST(SUM(CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
FROM customer GROUP BY c_mktsegment
"""


@register("framework_python_model", oracle=PYMODEL_ORACLE, tags=("framework",))
def framework_python_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python model (@python_model decorator, reference PythonModel
    definition.py:1876): a function returning a DataFrame, with an
    Arrow-batched pandas UDF inside, planned/applied like any SQL model."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType

    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.model import ModelKind
    from sqlmesh_spark.core.python_model import ExecutionContext, python_model

    _clean_dbs(spark, "sqlmesh__demo_py", "env_py_views")
    customer_path = f"{sf_dir}/customer.parquet"

    @python_model(name="demo_py.segment_stats", kind=ModelKind.FULL)
    def segment_stats(ctx: ExecutionContext) -> DataFrame:
        @F.pandas_udf(IntegerType())
        def is_high(bal: pd.Series) -> pd.Series:
            return (bal > 5000).astype("int32")

        cust = ctx.spark.read.parquet(customer_path)
        return (
            cust.withColumn("high", is_high("c_acctbal"))
            .groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint"))
                .cast("bigint")
                .alias("bal_cents"),
                F.sum("high").cast("bigint").alias("n_high"),
            )
        )

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.models[segment_stats.name] = segment_stats
    ctx.run(environment="env_py", start="1995-01-01", end="1995-01-02")
    return spark.table("env_py_views.segment_stats")


UNMANAGED_ORACLE = """
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS ds
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1995-01-07 00:00:00'
"""


@register("framework_incremental_unmanaged", oracle=UNMANAGED_ORACLE, tags=("framework",))
def framework_incremental_unmanaged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL_UNMANAGED (kind.py: append-only, engine does not manage
    idempotency — the interval bookkeeping alone prevents double-appends):
    two runs over adjacent windows append disjoint slices exactly once."""
    _clean_dbs(spark, "sqlmesh__demo_unm", "env_unm_views")
    orders = f"parquet.`{sf_dir}/orders.parquet`"
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        f"""
MODEL (name demo_unm.order_log, kind INCREMENTAL_UNMANAGED, cron '@daily');
SELECT o_orderkey, date_format(o_orderdate, 'yyyy-MM-dd') AS ds
FROM {orders}
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o_orderdate <  CAST(@end_ts AS TIMESTAMP)
"""
    )
    ctx.run(environment="env_unm", start="1995-01-01", end="1995-01-04")
    ctx.run(environment="env_unm", start="1995-01-01", end="1995-01-07")
    # second run appended only Jan 4-6; a third run appends nothing
    r3 = ctx.run(environment="env_unm", start="1995-01-01", end="1995-01-07")
    assert r3["demo_unm.order_log"] == 0
    return spark.table("env_unm_views.order_log")


MULTI_KIND_ORACLE = """
WITH daily AS (
  SELECT strftime(o_orderdate, '%Y-%m-%d') AS ds,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1995-06-30 00:00:00'
  GROUP BY 1
),
monthly AS (
  SELECT substr(ds, 1, 7) AS month, CAST(SUM(revenue_cents) AS BIGINT) AS revenue_cents
  FROM daily GROUP BY 1
),
regions AS (
  SELECT r.r_regionkey, r.r_name, t.tier
  FROM region r JOIN (VALUES (0, 'core'), (1, 'core'), (2, 'growth'),
                             (3, 'growth'), (4, 'frontier')) AS t(rid, tier)
    ON r.r_regionkey = t.rid
)
SELECT m.month, m.revenue_cents, s.n_regions
FROM monthly m
CROSS JOIN (SELECT COUNT(*) AS n_regions FROM regions WHERE tier = 'core') s
"""


@register("framework_multi_kind_dag", oracle=MULTI_KIND_ORACLE, tags=("framework",))
def framework_multi_kind_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One project, one plan/apply, four model kinds in a single DAG —
    SEED (region tiers) → VIEW (tiered regions) and INCREMENTAL_BY_TIME
    (daily) → FULL (monthly) — then a query joining across the virtual
    layer. The sushi-example analog (reference examples/sushi: 17 models
    across every kind): proves cross-kind dependency ordering, audits on
    multiple kinds, and one environment serving all of them."""
    _clean_dbs(spark, "sqlmesh__demo_mix", "env_mix_views")
    orders = f"parquet.`{sf_dir}/orders.parquet`"
    region = f"parquet.`{sf_dir}/region.parquet`"
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        "MODEL (name demo_mix.region_tiers, kind SEED);",
        seed_csv="rid,tier\n0,core\n1,core\n2,growth\n3,growth\n4,frontier\n",
        columns={"rid": "INT", "tier": "STRING"},
    )
    ctx.add_model(
        f"""
MODEL (name demo_mix.tiered_regions, kind VIEW);
SELECT r.r_regionkey, r.r_name, t.tier
FROM {region} r JOIN demo_mix.region_tiers t ON r.r_regionkey = t.rid
"""
    )
    ctx.add_model(
        f"""
MODEL (
  name demo_mix.daily_rev,
  kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts),
  cron '@daily',
  audits (not_null(columns = (revenue_cents)))
);
SELECT o_orderdate AS event_ts,
       date_format(o_orderdate, 'yyyy-MM-dd') AS ds,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM {orders}
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o_orderdate <  CAST(@end_ts AS TIMESTAMP)
GROUP BY o_orderdate, date_format(o_orderdate, 'yyyy-MM-dd')
"""
    )
    ctx.add_model(
        """
MODEL (name demo_mix.monthly_rev, kind FULL,
       audits (unique_values(columns = (month))));
SELECT substring(ds, 1, 7) AS month,
       CAST(SUM(revenue_cents) AS BIGINT) AS revenue_cents
FROM demo_mix.daily_rev GROUP BY substring(ds, 1, 7)
"""
    )
    ctx.run(environment="env_mix", start="1995-01-01", end="1995-06-30")
    return spark.sql(
        """
SELECT m.month, m.revenue_cents, s.n_regions
FROM env_mix_views.monthly_rev m
CROSS JOIN (SELECT COUNT(*) AS n_regions
            FROM env_mix_views.tiered_regions WHERE tier = 'core') s
"""
    )


RESTATE_ORACLE = """
SELECT substr(strftime(o_orderdate, '%Y-%m-%d'), 1, 7) AS month,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
GROUP BY substr(strftime(o_orderdate, '%Y-%m-%d'), 1, 7)
"""


@register("framework_restatement", oracle=RESTATE_ORACLE, tags=("framework",))
def framework_restatement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving data + restatement (plan/builder.py:369 semantics):
    the February slice of the source lands AFTER the initial Jan–Mar
    backfill; ``restate`` clears exactly the Feb interval of the daily
    model AND its downstream monthly rollup, and the re-run reprocesses
    only that window. The final rollup must equal the all-data oracle —
    proof the restatement healed the hole without touching Jan/Mar.

    Scale: a restatement of one month of a date-partitioned table rewrites
    only that month's partitions (dynamic partition overwrite), so the cost
    is proportional to the restated window, not the table.
    """
    _clean_dbs(spark, "demo_restate_src", "sqlmesh__demo_restate", "env_restate_views")
    spark.sql("CREATE DATABASE demo_restate_src")
    orders = f"parquet.`{sf_dir}/orders.parquet`"
    window = (
        "o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'"
        " AND o_orderdate < TIMESTAMP '1995-04-01 00:00:00'"
    )
    feb = (
        "o_orderdate >= TIMESTAMP '1995-02-01 00:00:00'"
        " AND o_orderdate < TIMESTAMP '1995-03-01 00:00:00'"
    )
    spark.sql(
        f"CREATE TABLE demo_restate_src.orders_stage AS "
        f"SELECT * FROM {orders} WHERE {window} AND NOT ({feb})"
    )

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (name demo_restate.daily, kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts));
SELECT o_orderdate AS event_ts,
       date_format(o_orderdate, 'yyyy-MM-dd') AS ds,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       COUNT(*) AS n_orders
FROM demo_restate_src.orders_stage
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o_orderdate <  CAST(@end_ts AS TIMESTAMP)
GROUP BY o_orderdate, date_format(o_orderdate, 'yyyy-MM-dd')
"""
    )
    ctx.add_model(
        """
MODEL (name demo_restate.monthly, kind FULL);
SELECT substring(ds, 1, 7) AS month,
       CAST(SUM(revenue_cents) AS BIGINT) AS revenue_cents,
       CAST(SUM(n_orders) AS BIGINT) AS n_orders
FROM demo_restate.daily
GROUP BY substring(ds, 1, 7)
"""
    )
    # Initial backfill with February missing from the source.
    ctx.run(environment="env_restate", start="1995-01-01", end="1995-04-01")
    # February arrives late…
    spark.sql(
        f"INSERT INTO demo_restate_src.orders_stage SELECT * FROM {orders} WHERE {feb}"
    )
    # …and is restated: only the Feb window of daily (+ downstream) re-runs.
    ctx.restate(
        ["demo_restate.daily"], "1995-02-01", "1995-03-01", environment="env_restate"
    )
    return spark.table("env_restate_views.monthly")


FO_MIGRATION_ORACLE = """
SELECT ds, revenue_cents,
       CASE WHEN ds >= '1995-07-01' THEN n ELSE NULL END AS n_orders
FROM (
  SELECT strftime(o_orderdate, '%Y-%m-%d') AS ds,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
         COUNT(*) AS n
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1995-12-31 00:00:00'
  GROUP BY strftime(o_orderdate, '%Y-%m-%d')
) t
"""


@register("framework_forward_only_migration", oracle=FO_MIGRATION_ORACLE, tags=("framework",))
def framework_forward_only_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-only change with additive schema migration (SURVEY §2.A
    alter_table; evaluator.py:1105-1233 migrate): v1 backfills Jan–Jun;
    v2 adds a projection column under ``forward_only=True`` — the physical
    table is KEPT (version pinned), gains the column via ALTER TABLE ADD
    COLUMN, history stays NULL, and only the new Jul–Dec intervals compute
    with the new projection.

    Scale: forward-only is the zero-recompute migration path — at 100 TB an
    additive column change costs one metadata ALTER plus the new intervals,
    never a backfill.
    """
    _clean_dbs(spark, "sqlmesh__demo_fo", "env_fo_views")
    orders = f"parquet.`{sf_dir}/orders.parquet`"
    base = f"""
MODEL (name demo_fo.daily, kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts));
SELECT o_orderdate AS event_ts,
       date_format(o_orderdate, 'yyyy-MM-dd') AS ds,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents{{extra}}
FROM {orders}
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o_orderdate <  CAST(@end_ts AS TIMESTAMP)
GROUP BY o_orderdate, date_format(o_orderdate, 'yyyy-MM-dd')
"""
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(base.format(extra=""))
    ctx.run(environment="env_fo", start="1995-01-01", end="1995-07-01")

    ctx.models.clear()
    ctx.add_model(base.format(extra=",\n       COUNT(*) AS n_orders"))
    ctx.run(
        environment="env_fo", start="1995-01-01", end="1995-12-31", forward_only=True
    )
    return spark.table("env_fo_views.daily").select("ds", "revenue_cents", "n_orders")


from sqlmesh_spark.operators.scd2_cases import SCD2_BY_TIME_ORACLE


@register("framework_scd2_kind", oracle=SCD2_BY_TIME_ORACLE, tags=("framework", "scd2"))
def framework_scd2_kind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD_TYPE_2_BY_TIME as a *model kind* through the full plan/apply
    stack (SCDType2Strategy, evaluator.py:2513): two scheduled runs against
    a mutating staged source — insert/close/delete semantics come from the
    scheduler's kind dispatch, not from driving the operator directly.
    The oracle is the same two-step nested generator the operator cases
    use (scd2_cases), so hash parity proves the framework path produces
    bit-identical SCD2 state."""
    from sqlmesh_spark.operators.scd2_cases import BATCH1, BATCH2
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "demo_scd_src", "sqlmesh__demo_scd", "env_scd_views")
    spark.sql("CREATE DATABASE demo_scd_src")
    register_views(spark, sf_dir, ("customer",))
    spark.sql(f"CREATE TABLE demo_scd_src.stage AS {BATCH1}")

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_scd.dim_customers,
  kind SCD_TYPE_2_BY_TIME (unique_key customer_id, updated_at_name updated_at),
  start '2024-01-01'
);
SELECT customer_id, status, updated_at FROM demo_scd_src.stage
"""
    )
    ctx.run(environment="env_scd", start="2024-01-01", end="2024-01-02")
    spark.sql("DROP TABLE demo_scd_src.stage")
    spark.sql(f"CREATE TABLE demo_scd_src.stage AS {BATCH2}")
    ctx.run(environment="env_scd", start="2024-01-01", end="2024-02-02")
    return spark.table("env_scd_views.dim_customers")


@register("framework_scd2_cow_kind", oracle=SCD2_BY_TIME_ORACLE, tags=("framework", "scd2"))
def framework_scd2_cow_kind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD_TYPE_2_BY_TIME with ``partition_by_current true`` — the
    copy-on-write tail (backends.py scd2_apply_cow) driven end-to-end
    through plan/apply: the physical table partitions on the
    engine-managed _is_current flag, closed history appends (never
    rewrites), only the current slice overwrites per apply, and the
    virtual-layer view hides the partition column so the environment
    schema is identical to the full-replace kind. Same oracle as
    framework_scd2_kind: a write strategy must never change the data."""
    from sqlmesh_spark.operators.scd2_cases import BATCH1, BATCH2
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "demo_scdcow_src", "sqlmesh__demo_scdcow", "env_scdcow_views")
    spark.sql("CREATE DATABASE demo_scdcow_src")
    register_views(spark, sf_dir, ("customer",))
    spark.sql(f"CREATE TABLE demo_scdcow_src.stage AS {BATCH1}")

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_scdcow.dim_customers,
  kind SCD_TYPE_2_BY_TIME (
    unique_key customer_id,
    updated_at_name updated_at,
    partition_by_current true
  ),
  start '2024-01-01'
);
SELECT customer_id, status, updated_at FROM demo_scdcow_src.stage
"""
    )
    ctx.run(environment="env_scdcow", start="2024-01-01", end="2024-01-02")
    spark.sql("DROP TABLE demo_scdcow_src.stage")
    spark.sql(f"CREATE TABLE demo_scdcow_src.stage AS {BATCH2}")
    ctx.run(environment="env_scdcow", start="2024-01-01", end="2024-02-02")
    return spark.table("env_scdcow_views.dim_customers")


SIGNAL_GATED_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m-%d') AS ds, COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1995-01-10 00:00:00'
GROUP BY strftime(o_orderdate, '%Y-%m-%d')
"""


@register("framework_signal_gated_run", oracle=SIGNAL_GATED_ORACLE, tags=("framework",))
def framework_signal_gated_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signal gating (scheduler.py:950 _check_ready_intervals; signal.py:14):
    run 1 admits only intervals before a cutoff — the rest stay MISSING
    (asserted mid-case), not failed. Run 2, with upstream now "ready",
    backfills exactly the previously-gated intervals. Late upstream data
    delays; it never corrupts or double-processes.

    Scale: gating happens in interval space (pairs of epochs) before any
    query is planned — a gated interval costs zero cluster work.
    """
    from sqlmesh_spark.core.signal import signal
    from sqlmesh_spark.core.snapshot import to_epoch

    _clean_dbs(spark, "sqlmesh__demo_sig", "env_sig_views")
    cutoff = {"epoch": to_epoch("1995-01-05")}

    @signal("demo_upstream_ready")
    def demo_upstream_ready(batch):
        return [iv for iv in batch if iv[1] <= cutoff["epoch"]]

    orders = f"parquet.`{sf_dir}/orders.parquet`"
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        f"""
MODEL (
  name demo_sig.daily_orders,
  kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts),
  signals (demo_upstream_ready)
);
SELECT o_orderdate AS event_ts,
       date_format(o_orderdate, 'yyyy-MM-dd') AS ds,
       COUNT(*) AS n_orders
FROM {orders}
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o_orderdate <  CAST(@end_ts AS TIMESTAMP)
GROUP BY o_orderdate, date_format(o_orderdate, 'yyyy-MM-dd')
"""
    )
    ctx.run(environment="env_sig", start="1995-01-01", end="1995-01-10")
    partial = spark.table("env_sig_views.daily_orders")
    admitted = partial.filter("ds >= '1995-01-05'").count()
    assert admitted == 0, f"gated intervals must not materialize, got {admitted} rows"
    # Upstream lands → signal opens → the gated intervals backfill.
    cutoff["epoch"] = to_epoch("1995-01-10")
    ctx.run(environment="env_sig", start="1995-01-01", end="1995-01-10")
    return spark.table("env_sig_views.daily_orders").select("ds", "n_orders")


YAML_SPEC_CASE = """
test_monthly_ok:
  model: demo_yaml.monthly
  inputs:
    demo_yaml.daily:
      rows:
        - {ds: '1995-01-03', n: 2}
        - {ds: '1995-01-20', n: 3}
        - {ds: '1995-02-01', n: 5}
  outputs:
    ctes:
      base:
        rows:
          - {month: '1995-01', n: 2}
          - {month: '1995-01', n: 3}
          - {month: '1995-02', n: 5}
    query:
      rows:
        - {month: '1995-01', n_total: 5}
        - {month: '1995-02', n_total: 5}
test_monthly_catches_wrong_expectation:
  model: demo_yaml.monthly
  inputs:
    demo_yaml.daily:
      rows:
        - {ds: '1995-01-03', n: 2}
  outputs:
    query:
      rows:
        - {month: '1995-01', n_total: 999}
"""

YAML_RUNNER_ORACLE = """
SELECT 'test_monthly_ok' AS test_name, TRUE AS passed
UNION ALL
SELECT 'test_monthly_catches_wrong_expectation', FALSE
"""


@register("framework_yaml_model_test", oracle=YAML_RUNNER_ORACLE, tags=("framework",))
def framework_yaml_model_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The YAML golden-test runner (SURVEY §5.1; test/definition.py:51):
    inputs seed fixture views, the rendered model query runs on the local
    session, and both per-CTE and final-query expectations compare
    order-insensitively. One passing spec + one deliberately-wrong spec
    prove the runner both accepts and rejects."""
    from sqlmesh_spark.core.model import parse_model_text
    from sqlmesh_spark.core.model_test import ModelTestRunner

    model = parse_model_text(
        """
MODEL (name demo_yaml.monthly, kind FULL);
WITH base AS (
  SELECT substring(ds, 1, 7) AS month, n FROM demo_yaml.daily
)
SELECT month, CAST(SUM(n) AS BIGINT) AS n_total FROM base GROUP BY month
"""
    )
    results = ModelTestRunner(spark).run_yaml(YAML_SPEC_CASE, {model.name: model})
    return spark.createDataFrame(
        [(r.name, r.passed) for r in results], "test_name STRING, passed BOOLEAN"
    )


LOOKBACK_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m-%d') AS ds, COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-03-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1995-03-11 00:00:00'
GROUP BY strftime(o_orderdate, '%Y-%m-%d')
"""


@register("framework_lookback_reprocess", oracle=LOOKBACK_ORACLE, tags=("framework",))
def framework_lookback_reprocess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`lookback` (kind.py:423): every run re-opens the trailing N units
    behind the processed watermark, so late events inside that horizon heal
    on the NEXT scheduled run — no operator intervention, unlike
    `framework_restatement` which targets arbitrary history.

    Staged source initially MISSING the last processed day's rows; they
    arrive after run 1. Run 2 (extending the window) re-processes the
    2-day lookback horizon and picks them up. The oracle is the complete
    window — parity proves the healed table matches all-data truth.

    Scale: lookback bounds steady-state reprocessing to O(lookback)
    partitions per run — the knob that trades late-data tolerance against
    incremental cost, with dynamic partition overwrite keeping each re-run
    idempotent.
    """
    _clean_dbs(spark, "demo_lb_src", "sqlmesh__demo_lb", "env_lb_views")
    spark.sql("CREATE DATABASE demo_lb_src")
    orders = f"parquet.`{sf_dir}/orders.parquet`"
    window = (
        "o_orderdate >= TIMESTAMP '1995-03-01 00:00:00'"
        " AND o_orderdate < TIMESTAMP '1995-03-11 00:00:00'"
    )
    late = (
        "o_orderdate >= TIMESTAMP '1995-03-05 00:00:00'"
        " AND o_orderdate < TIMESTAMP '1995-03-06 00:00:00'"
    )
    spark.sql(
        f"CREATE TABLE demo_lb_src.orders_stage AS "
        f"SELECT * FROM {orders} WHERE {window} AND NOT ({late})"
    )
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_lb.daily_orders,
  kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts),
  lookback 2
);
SELECT o_orderdate AS event_ts,
       date_format(o_orderdate, 'yyyy-MM-dd') AS ds,
       COUNT(*) AS n_orders
FROM demo_lb_src.orders_stage
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o_orderdate <  CAST(@end_ts AS TIMESTAMP)
GROUP BY o_orderdate, date_format(o_orderdate, 'yyyy-MM-dd')
"""
    )
    # Run 1 processes Mar 1-6 with Mar 5 missing from the source.
    ctx.run(environment="env_lb", start="1995-03-01", end="1995-03-06")
    # Mar 5 arrives late — inside the 2-day lookback horizon.
    spark.sql(
        f"INSERT INTO demo_lb_src.orders_stage SELECT * FROM {orders} WHERE {late}"
    )
    # Run 2 extends to Mar 11; the lookback re-opens Mar 4-5 automatically.
    ctx.run(environment="env_lb", start="1995-03-01", end="1995-03-11")
    return spark.table("env_lb_views.daily_orders").select("ds", "n_orders")


BATCHED_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m-%d') AS ds, COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-06-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1995-06-11 00:00:00'
GROUP BY strftime(o_orderdate, '%Y-%m-%d')
"""


@register("framework_batched_backfill", oracle=BATCHED_ORACLE, tags=("framework",))
def framework_batched_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`batch_size` (kind.py:421; scheduler.py:334): a 10-day backfill with
    batch_size 3 must execute ceil(10/3)=4 bounded batches (asserted from
    the scheduler's return), each its own insert-overwrite — so one failed
    batch loses at most batch_size intervals of work, and per-query memory
    is bounded by the batch window regardless of how far behind the model
    is. The final table must equal the whole-window oracle: batching is an
    execution detail, never a semantics change."""
    _clean_dbs(spark, "sqlmesh__demo_batch", "env_batch_views")
    orders = f"parquet.`{sf_dir}/orders.parquet`"
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        f"""
MODEL (
  name demo_batch.daily_orders,
  kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts),
  batch_size 3
);
SELECT o_orderdate AS event_ts,
       date_format(o_orderdate, 'yyyy-MM-dd') AS ds,
       COUNT(*) AS n_orders
FROM {orders}
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o_orderdate <  CAST(@end_ts AS TIMESTAMP)
GROUP BY o_orderdate, date_format(o_orderdate, 'yyyy-MM-dd')
"""
    )
    executed = ctx.run(environment="env_batch", start="1995-06-01", end="1995-06-11")
    n_batches = executed["demo_batch.daily_orders"]
    assert n_batches == 4, f"10 days / batch_size 3 must be 4 batches, got {n_batches}"
    return spark.table("env_batch_views.daily_orders").select("ds", "n_orders")


CONTEXT_DIFF_ORACLE = """
SELECT * FROM (VALUES
  ('demo_cd.brand_new', 'added'),
  ('demo_cd.daily', 'modified'),
  ('demo_cd.stable', 'unchanged'),
  ('demo_cd.retired', 'removed')
) AS t(model, change)
"""


@register("framework_context_diff", oracle=CONTEXT_DIFF_ORACLE, tags=("framework",))
def framework_context_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ContextDiff (context_diff.py:42/93): local project vs environment
    state classified into added / modified / unchanged / removed — the
    analysis that drives plan categorization. Fingerprints are content
    hashes, so editing a query (even whitespace-insensitively normalized)
    flips a model to modified while untouched models stay unchanged."""
    from sqlmesh_spark.core.plan import build_snapshots, context_diff

    nation = f"parquet.`{sf_dir}/nation.parquet`"
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    v1 = {
        "daily": f"MODEL (name demo_cd.daily, kind FULL);\nSELECT n_nationkey AS k FROM {nation}",
        "stable": f"MODEL (name demo_cd.stable, kind FULL);\nSELECT n_name AS nm FROM {nation}",
        "retired": f"MODEL (name demo_cd.retired, kind FULL);\nSELECT 1 AS one FROM {nation}",
    }
    for text in v1.values():
        ctx.add_model(text)
    env_state = {n: s.version for n, s in build_snapshots(ctx.models).items()}

    ctx.models.clear()
    ctx.add_model(v1["daily"].replace("n_nationkey AS k", "n_nationkey + 1 AS k"))
    ctx.add_model(v1["stable"])
    ctx.add_model(
        f"MODEL (name demo_cd.brand_new, kind FULL);\nSELECT n_regionkey AS r FROM {nation}"
    )
    diff = context_diff(build_snapshots(ctx.models), env_state)
    rows = (
        [(m, "added") for m in diff.added]
        + [(m, "modified") for m in diff.modified]
        + [(m, "unchanged") for m in diff.unchanged]
        + [(m, "removed") for m in diff.removed]
    )
    return spark.createDataFrame(sorted(rows), "model string, change string")


JANITOR_ORACLE = """
SELECT 1 AS n_dropped, TRUE AS live_table_kept, TRUE AS view_still_serves
"""


@register("framework_janitor", oracle=JANITOR_ORACLE, tags=("framework",))
def framework_janitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Janitor (reference cleanup of expired snapshots): after a model
    change and re-apply, the old version's physical table is orphaned —
    no environment points at it. janitor() drops EXACTLY that table,
    keeps the live version, and the environment view still serves."""
    _clean_dbs(spark, "sqlmesh__demo_jan", "env_jan_views")
    nation = f"parquet.`{sf_dir}/nation.parquet`"
    text = f"MODEL (name demo_jan.names, kind FULL);\nSELECT n_nationkey AS k{{v}} FROM {nation}"
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(text.format(v=""))
    ctx.run(environment="env_jan", start="1995-01-01", end="1995-01-02")
    ctx.models.clear()
    ctx.add_model(text.format(v=", n_name AS nm"))
    ctx.run(environment="env_jan", start="1995-01-01", end="1995-01-02")

    dropped = ctx.janitor()
    # listTables includes session TEMP views; only persistent tables count.
    live = [
        t
        for t in spark.catalog.listTables("sqlmesh__demo_jan")
        if t.tableType != "TEMPORARY"
    ]
    return spark.createDataFrame(
        [
            (
                len(dropped),
                len(live) == 1,
                spark.table("env_jan_views.names").count() > 0,
            )
        ],
        "n_dropped int, live_table_kept boolean, view_still_serves boolean",
    )


EMB_EXT_ORACLE = """
SELECT o_orderstatus AS status, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders WHERE o_orderkey <= 5000
GROUP BY o_orderstatus
"""


@register("framework_embedded_external", oracle=EMB_EXT_ORACLE, tags=("framework",))
def framework_embedded_external(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTERNAL + EMBEDDED kinds (model/definition.py:1969 ExternalModel;
    embedded models inline into consumers): the external model names an
    existing catalog table (no materialization), the embedded model's
    query inlines as a subquery into its consumer (no physical table
    either — asserted), and only the FULL consumer materializes. Zero
    extra storage and zero extra compute for the two symbolic kinds —
    exactly their contract."""
    _clean_dbs(spark, "demo_ext_src", "sqlmesh__demo_emb", "env_emb_views")
    spark.sql("CREATE DATABASE demo_ext_src")
    orders = f"parquet.`{sf_dir}/orders.parquet`"
    spark.sql(f"CREATE TABLE demo_ext_src.orders_raw AS SELECT * FROM {orders}")

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model("MODEL (name demo_ext_src.orders_raw, kind EXTERNAL);")
    ctx.add_model(
        """
MODEL (name demo_emb.small_orders, kind EMBEDDED);
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM demo_ext_src.orders_raw WHERE o_orderkey <= 5000
"""
    )
    ctx.add_model(
        """
MODEL (name demo_emb.status_rollup, kind FULL);
SELECT o_orderstatus AS status, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM demo_emb.small_orders
GROUP BY o_orderstatus
"""
    )
    ctx.run(environment="env_emb", start="1995-01-01", end="1995-01-02")
    # Symbolic kinds own no physical tables.
    phys = [
        t.name
        for t in spark.catalog.listTables("sqlmesh__demo_emb")
        if t.tableType != "TEMPORARY"
    ]
    assert all("small_orders" not in t for t in phys), phys
    return spark.table("env_emb_views.status_rollup")


MONTHLY_ORACLE = """
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
GROUP BY 1
"""


@register("framework_monthly_model", oracle=MONTHLY_ORACLE, tags=("framework",))
def framework_monthly_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-unit scheduling end-to-end: a cron '@monthly' incremental
    model backfilled over Q1 with batch_size 1 must execute EXACTLY three
    month-aligned interval batches (variable-width units — Feb is shorter
    — so epoch-modular flooring would mis-align; snapshot.floor_to handles
    MONTH as a calendar unit). Value parity comes from the virtual-layer
    view over the materialized months."""
    _clean_dbs(spark, "sqlmesh__demo_month", "env_month_views")

    orders = f"parquet.`{sf_dir}/orders.parquet`"
    project = _write_project(
        {
            "monthly_orders.sql": f"""
MODEL (
  name demo_month.monthly_orders,
  kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts),
  cron '@monthly',
  batch_size 1
);
SELECT CAST(@start_ts AS TIMESTAMP) AS event_ts,
       date_format(CAST(@start_ts AS TIMESTAMP), 'yyyy-MM') AS month,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM {orders}
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o_orderdate <  CAST(@end_ts AS TIMESTAMP)
GROUP BY 1, 2
""",
        }
    )
    ctx = Context(spark, project_dir=project, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    # End on the Apr-1 boundary: completed-intervals semantics (a partial
    # trailing month is excluded without allow_partials).
    executed = ctx.run(environment="env_month", start="1995-01-01", end="1995-04-01")
    assert executed["demo_month.monthly_orders"] == 3, executed

    return spark.sql(
        "SELECT month, n_orders, revenue_cents FROM env_month_views.monthly_orders"
    )


AUTO_RESTATE_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m-%d') AS ds,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1995-02-10 00:00:00'
GROUP BY 1
"""


@register("framework_auto_restatement", oracle=AUTO_RESTATE_ORACLE, tags=("framework",))
def framework_auto_restatement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodic auto-restatement (kind.py auto_restatement_cron/_intervals;
    _auto_restatements state): when a new auto-restatement period opens,
    the scheduler silently drops the trailing N cron intervals and
    recomputes them with the regular run — scheduled healing without a
    manual restate. Run 1 backfills 20 January days; run 2 crosses the
    monthly boundary, so it must execute the 21 new days PLUS the 2
    restated tail days (23 batches, count-asserted); run 3 in the same
    period restates nothing and executes zero."""
    _clean_dbs(spark, "sqlmesh__demo_ar", "env_ar_views")

    orders = f"parquet.`{sf_dir}/orders.parquet`"
    project = _write_project(
        {
            "daily_orders.sql": f"""
MODEL (
  name demo_ar.daily_orders,
  kind INCREMENTAL_BY_TIME_RANGE (
    time_column event_ts,
    auto_restatement_cron '@monthly',
    auto_restatement_intervals 2
  ),
  cron '@daily',
  batch_size 1
);
SELECT CAST(@start_ts AS TIMESTAMP) AS event_ts,
       date_format(CAST(@start_ts AS TIMESTAMP), 'yyyy-MM-dd') AS ds,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM {orders}
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o_orderdate <  CAST(@end_ts AS TIMESTAMP)
GROUP BY 1, 2
""",
        }
    )
    ctx = Context(spark, project_dir=project, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    r1 = ctx.run(environment="env_ar", start="1995-01-01", end="1995-01-20")
    assert r1["demo_ar.daily_orders"] == 19, r1  # [Jan 1, Jan 20) = 19 days
    r2 = ctx.run(environment="env_ar", start="1995-01-01", end="1995-02-10")
    assert r2["demo_ar.daily_orders"] == 23, r2  # 21 new + 2 auto-restated
    r3 = ctx.run(environment="env_ar", start="1995-01-01", end="1995-02-10")
    assert r3["demo_ar.daily_orders"] == 0, r3

    return spark.sql("SELECT ds, n_orders, revenue_cents FROM env_ar_views.daily_orders")


NON_BREAKING_ORACLE = """
SELECT c_mktsegment AS segment, COUNT(*) AS n, 
       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
FROM customer
WHERE c_acctbal > 100
GROUP BY c_mktsegment
"""


@register("framework_non_breaking_change", oracle=NON_BREAKING_ORACLE, tags=("framework",))
def framework_non_breaking_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change categorization (snapshot/categorizer.py:10): an
    added-projections-only change to a parent is NON_BREAKING — the child
    keeps its version and physical table, executing ZERO batches (virtual
    update only). A subsequent WHERE change is BREAKING and rebuilds the
    child. Both transitions are count-asserted; final values come from
    the child's view after the breaking rebuild."""
    _clean_dbs(spark, "sqlmesh__demo_nb", "env_nb_views")

    customer = f"parquet.`{sf_dir}/customer.parquet`"
    base = """
MODEL (
  name demo_nb.cust,
  kind FULL
);
SELECT c_custkey, c_mktsegment, c_acctbal{extra}
FROM {src}{where}
"""
    # A reverted child version keeps its processed intervals → zero
    # missing batches, so "no rebuild" is observable.
    child = """
MODEL (
  name demo_nb.seg_rollup,
  kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts),
  cron '@daily'
);
SELECT CAST(@start_ts AS TIMESTAMP) AS event_ts,
       c_mktsegment AS segment, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
FROM demo_nb.cust
GROUP BY 1, c_mktsegment
"""

    def run_round(extra: str, where: str):
        project = _write_project(
            {
                "cust.sql": base.format(extra=extra, src=customer, where=where),
                "seg_rollup.sql": child,
            }
        )
        ctx = Context(spark, project_dir=project, state_dir=state_dir)
        return ctx.run(environment="env_nb", start="1995-01-01", end="1995-01-02")

    state_dir = tempfile.mkdtemp(prefix="sqlmesh_state_")
    r1 = run_round("", "")
    assert r1 == {"demo_nb.cust": 1, "demo_nb.seg_rollup": 1}, r1
    # Added projection only → parent rebuilds, child is NOT executed.
    r2 = run_round(", c_name", "")
    assert r2 == {"demo_nb.cust": 1, "demo_nb.seg_rollup": 0}, r2
    # WHERE change → BREAKING → child rebuilds too.
    r3 = run_round(", c_name", "\nWHERE c_acctbal > 100")
    assert r3 == {"demo_nb.cust": 1, "demo_nb.seg_rollup": 1}, r3

    return spark.sql("SELECT segment, n, bal_cents FROM env_nb_views.seg_rollup")


PROMO_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m-%d') AS ds,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-01-08'
GROUP BY 1
"""


@register("framework_dev_prod_promotion", oracle=PROMO_ORACLE, tags=("framework",))
def framework_dev_prod_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Virtual-environment promotion (the reference's flagship property,
    docs/blog/virtual_data_environments.md): physical tables are keyed by
    fingerprint, NOT by environment, so applying an already-backfilled
    project to prod executes ZERO batches — promotion is a pure view swap.
    Asserted: dev backfills 7 daily batches, prod executes 0, and both
    environments' pointers resolve to the identical physical snapshot."""
    _clean_dbs(spark, "sqlmesh__demo_promo", "env_promo_dev_views", "prod_views")

    orders = f"parquet.`{sf_dir}/orders.parquet`"
    project = _write_project(
        {
            "daily_orders.sql": f"""
MODEL (
  name demo_promo.daily_orders,
  kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts),
  cron '@daily',
  batch_size 1
);
SELECT o_orderdate AS event_ts,
       date_format(o_orderdate, 'yyyy-MM-dd') AS ds,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM {orders}
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o_orderdate <  CAST(@end_ts AS TIMESTAMP)
GROUP BY o_orderdate, date_format(o_orderdate, 'yyyy-MM-dd')
"""
        }
    )
    state_dir = tempfile.mkdtemp(prefix="sqlmesh_state_")
    ctx = Context(spark, project_dir=project, state_dir=state_dir)

    r_dev = ctx.run(environment="env_promo_dev", start="1995-01-01", end="1995-01-08")
    assert r_dev["demo_promo.daily_orders"] == 7, r_dev
    # Promote: same snapshots into prod — zero recompute, view swap only.
    r_prod = ctx.run(environment="prod", start="1995-01-01", end="1995-01-08")
    assert r_prod["demo_promo.daily_orders"] == 0, r_prod
    dev_ptr = ctx.state.get_environment("env_promo_dev")
    prod_ptr = ctx.state.get_environment("prod")
    assert dev_ptr == prod_ptr and dev_ptr, (dev_ptr, prod_ptr)

    return spark.sql("SELECT ds, n_orders, revenue_cents FROM prod_views.daily_orders")


AUDIT_GATE_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m-%d') AS ds,
       COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-01-06'
GROUP BY 1
"""


@register("framework_blocking_audit", oracle=AUDIT_GATE_ORACLE, tags=("framework",))
def framework_blocking_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking audits gate interval recording (scheduler.py:191→:254:
    evaluate → audits → add_interval). A failing blocking audit aborts the
    run AND leaves the batches unrecorded, so the next run reprocesses
    them; a failing non-blocking audit only warns. Asserted: the first
    1-day run fails number_of_rows(threshold=2), the widened 5-day run
    re-executes all 5 daily batches (proof the first was never recorded),
    and a third run is a no-op."""
    from sqlmesh_spark.core.scheduler import AuditError

    _clean_dbs(spark, "sqlmesh__demo_aud", "env_aud_views")

    orders = f"parquet.`{sf_dir}/orders.parquet`"
    project = _write_project(
        {
            "daily_orders.sql": f"""
MODEL (
  name demo_aud.daily_orders,
  kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts),
  cron '@daily',
  batch_size 1,
  audits (
    number_of_rows(threshold = 2),
    forall(criteria = (n_orders < 0), blocking = false)
  )
);
SELECT o_orderdate AS event_ts,
       date_format(o_orderdate, 'yyyy-MM-dd') AS ds,
       COUNT(*) AS n_orders
FROM {orders}
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o_orderdate <  CAST(@end_ts AS TIMESTAMP)
GROUP BY o_orderdate, date_format(o_orderdate, 'yyyy-MM-dd')
"""
        }
    )
    state_dir = tempfile.mkdtemp(prefix="sqlmesh_state_")
    ctx = Context(spark, project_dir=project, state_dir=state_dir)

    # A single daily row < threshold 2 → blocking failure, unrecorded.
    try:
        ctx.run(environment="env_aud", start="1995-01-01", end="1995-01-02")
        raise AssertionError("expected AuditError")
    except AuditError:
        pass
    # Widened window passes the audit; ALL 5 daily batches run (incl. the
    # previously evaluated-but-unrecorded first day). The always-failing
    # non-blocking forall only warns throughout.
    r2 = ctx.run(environment="env_aud", start="1995-01-01", end="1995-01-06")
    assert r2["demo_aud.daily_orders"] == 5, r2
    r3 = ctx.run(environment="env_aud", start="1995-01-01", end="1995-01-06")
    assert r3["demo_aud.daily_orders"] == 0, r3

    return spark.sql("SELECT ds, n_orders FROM env_aud_views.daily_orders")


DESTRUCTIVE_ORACLE = """
SELECT ds, n_orders,
       CASE WHEN ds < '1995-01-04' THEN extra_cents END AS extra_cents
FROM (
  SELECT strftime(o_orderdate, '%Y-%m-%d') AS ds,
         COUNT(*) AS n_orders,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS extra_cents
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-01-06'
  GROUP BY 1
) t
"""


@register("framework_destructive_change_guard", oracle=DESTRUCTIVE_ORACLE, tags=("framework",))
def framework_destructive_change_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """on_destructive_change policy (model/kind.py:195-226) on forward-only
    plans: dropping a projected column under the default `error` policy
    rejects the plan BEFORE any mutation; under `warn` the plan proceeds —
    the physical column is retained (parquet cannot DROP COLUMN), history
    keeps its values, and new intervals null-fill it. Asserted: the error
    rejection, then a warn-policy run that executes only the 2 new daily
    batches with NULLs in the dropped column."""
    from sqlmesh_spark.core.plan import PlanError

    _clean_dbs(spark, "sqlmesh__demo_dc", "env_dc_views")

    orders = f"parquet.`{sf_dir}/orders.parquet`"
    v1 = f"""
MODEL (
  name demo_dc.daily_orders,
  kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts),
  cron '@daily',
  batch_size 1
);
SELECT o_orderdate AS event_ts,
       date_format(o_orderdate, 'yyyy-MM-dd') AS ds,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS extra_cents
FROM {orders}
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o_orderdate <  CAST(@end_ts AS TIMESTAMP)
GROUP BY o_orderdate, date_format(o_orderdate, 'yyyy-MM-dd')
"""
    # v2 drops extra_cents from the projection — a destructive change.
    v2 = v1.replace(
        ",\n       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS extra_cents",
        "",
    )
    v2_warn = v2.replace(
        "  batch_size 1\n", "  batch_size 1,\n  on_destructive_change warn\n"
    )
    assert "extra_cents" not in v2 and "on_destructive_change" in v2_warn

    state_dir = tempfile.mkdtemp(prefix="sqlmesh_state_")

    def ctx_for(text: str) -> Context:
        project = _write_project({"daily_orders.sql": text})
        return Context(spark, project_dir=project, state_dir=state_dir)

    r1 = ctx_for(v1).run(environment="env_dc", start="1995-01-01", end="1995-01-04")
    assert r1 == {"demo_dc.daily_orders": 3}, r1
    # Default policy error: the forward-only plan is rejected pre-mutation.
    try:
        ctx_for(v2).run(
            environment="env_dc", start="1995-01-01", end="1995-01-04", forward_only=True
        )
        raise AssertionError("expected PlanError")
    except PlanError:
        pass
    # warn: proceeds on the SAME physical table; only days 4-5 are missing
    # (forward-only carries the old version's intervals).
    r3 = ctx_for(v2_warn).run(
        environment="env_dc", start="1995-01-01", end="1995-01-06", forward_only=True
    )
    assert r3 == {"demo_dc.daily_orders": 2}, r3

    return spark.sql("SELECT ds, n_orders, extra_cents FROM env_dc_views.daily_orders")


STATE_RT_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m-%d') AS ds, COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-02-01' AND o_orderdate < TIMESTAMP '1995-02-08'
GROUP BY 1
"""


@register("framework_state_roundtrip", oracle=STATE_RT_ORACLE, tags=("framework",))
def framework_state_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State export/import (the reference's `sqlmesh state export/import`):
    the full state — snapshots, processed intervals, environment pointers —
    round-trips through one versioned JSON blob into a FRESH store, and a
    run against the imported store executes zero batches (intervals
    traveled with the state). A schema-version mismatch is refused."""
    _clean_dbs(spark, "sqlmesh__demo_srt", "env_srt_views")

    orders = f"parquet.`{sf_dir}/orders.parquet`"
    project = _write_project(
        {
            "daily_orders.sql": f"""
MODEL (
  name demo_srt.daily_orders,
  kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts),
  cron '@daily',
  batch_size 1
);
SELECT o_orderdate AS event_ts,
       date_format(o_orderdate, 'yyyy-MM-dd') AS ds,
       COUNT(*) AS n_orders
FROM {orders}
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o_orderdate <  CAST(@end_ts AS TIMESTAMP)
GROUP BY o_orderdate, date_format(o_orderdate, 'yyyy-MM-dd')
"""
        }
    )
    ctx_a = Context(
        spark, project_dir=project, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_")
    )
    r1 = ctx_a.run(environment="env_srt", start="1995-02-01", end="1995-02-08")
    assert r1 == {"demo_srt.daily_orders": 7}, r1

    blob = ctx_a.state.export_state()
    ctx_b = Context(
        spark, project_dir=project, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_")
    )
    # Version mismatch is refused before any write.
    try:
        ctx_b.state.import_state({**blob, "schema_version": 999})
        raise AssertionError("expected version-mismatch rejection")
    except ValueError:
        pass
    ctx_b.state.import_state(blob)
    r2 = ctx_b.run(environment="env_srt", start="1995-02-01", end="1995-02-08")
    assert r2 == {"demo_srt.daily_orders": 0}, r2

    return spark.sql("SELECT ds, n_orders FROM env_srt_views.daily_orders")


CUSTOM_MAT_ORACLE = """
SELECT n_nationkey, n_name, n_regionkey,
       CAST(ROW_NUMBER() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS INT) AS rank_in_region
FROM nation
"""


@register("framework_custom_materialization", oracle=CUSTOM_MAT_ORACLE, tags=("framework",))
def framework_custom_materialization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM model kind (evaluator.py:2812 CustomMaterialization): a
    registered strategy owns the physical write — here it decorates the
    rendered frame with a per-region rank before an atomic replace. Run
    twice to prove the strategy is idempotent under wholesale re-runs;
    values come from the env view like any other kind."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from sqlmesh_spark.core.scheduler import register_custom_materialization

    _clean_dbs(spark, "sqlmesh__demo_cm", "env_cm_views")

    def ranked_replace(evaluator, snapshot, df, start, end):
        w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
        evaluator.adapter.replace_query(
            snapshot.table_name,
            df.withColumn("rank_in_region", F.row_number().over(w)),
            snapshot.model.layout,
        )

    register_custom_materialization("ranked_replace", ranked_replace)

    nation = f"parquet.`{sf_dir}/nation.parquet`"
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        f"""
MODEL (name demo_cm.region_ranked, kind CUSTOM (materialization ranked_replace));
SELECT n_nationkey, n_name, n_regionkey FROM {nation}
"""
    )
    ctx.run(environment="env_cm", start="1995-01-01", end="1995-01-02")
    ctx.run(environment="env_cm", start="1995-01-01", end="1995-01-03")
    return spark.table("env_cm_views.region_ranked")


PYGEN_ORACLE = """
SELECT c_mktsegment AS segment,
       CAST(CASE WHEN c_acctbal >= 5000 THEN 'high' ELSE 'low' END AS VARCHAR) AS tier,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
FROM customer
GROUP BY 1, 2
"""


@register("framework_python_generator_model", oracle=PYGEN_ORACLE, tags=("framework",))
def framework_python_generator_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator Python model (definition.py:1896-1941: the evaluator
    consumes generators frame-by-frame): the function YIELDS one DataFrame
    per balance tier; the engine unions them lazily into a single
    materialization — one plan-level UNION ALL, not N writes — so a model
    that naturally produces per-slice frames needs no manual union."""
    from pyspark.sql import functions as F

    from sqlmesh_spark.core.model import ModelKind
    from sqlmesh_spark.core.python_model import ExecutionContext, python_model

    _clean_dbs(spark, "sqlmesh__demo_pygen", "env_pygen_views")
    customer = f"parquet.`{sf_dir}/customer.parquet`"

    @python_model(name="demo_pygen.segment_tiers", kind=ModelKind.FULL)
    def segment_tiers(ctx: ExecutionContext):
        base = ctx.table(customer)
        for tier, cond in (
            ("high", F.col("c_acctbal") >= 5000),
            ("low", F.col("c_acctbal") < 5000),
        ):
            yield (
                base.filter(cond)
                .groupBy(F.col("c_mktsegment").alias("segment"))
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint")).alias(
                        "bal_cents"
                    ),
                )
                .select(
                    "segment", F.lit(tier).alias("tier"), "n", "bal_cents"
                )
            )

    ctx = Context(
        spark,
        state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"),
        models={segment_tiers.name: segment_tiers},
    )
    ctx.run(environment="env_pygen", start="1995-01-01", end="1995-01-02")
    return spark.table("env_pygen_views.segment_tiers").select(
        "segment", "tier", "n", "bal_cents"
    )


SCHEMA_INFERENCE_ORACLE = """
SELECT * FROM (VALUES
  ('o_orderkey',    'bigint'),
  ('o_orderstatus', 'string'),
  ('price_cents',   'bigint'),
  ('status_uc',     'string')
) AS t(column_name, data_type)
"""


@register("schema_inference", oracle=SCHEMA_INFERENCE_ORACLE, tags=("framework",))
def schema_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render-time columns_to_types (definition.py:1449-1482;
    renderer.py:647-685): the child model declares NO columns and uses
    @STAR over an upstream model; inference analyzes the rendered query
    against recursively-inferred EMPTY upstream views — zero execution,
    no physical tables, so a plan can type-check a 5,000-model DAG in
    catalog time before any backfill."""
    orders = f"parquet.`{sf_dir}/orders.parquet`"
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        f"""
MODEL (name demo_si.parent, kind FULL);
SELECT o_orderkey, o_orderstatus,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
FROM {orders}
"""
    )
    ctx.add_model(
        """
MODEL (name demo_si.child, kind FULL);
SELECT @STAR(demo_si.parent, p), UPPER(p.o_orderstatus) AS status_uc
FROM demo_si.parent p
"""
    )
    cols = ctx.columns_to_types("demo_si.child")
    return spark.createDataFrame(
        list(cols.items()), "column_name string, data_type string"
    )


STAR_INFERRED_ORACLE = """
SELECT CAST(c_custkey AS BIGINT) AS d_c_custkey,
       CAST(ROUND(c_acctbal * 100) AS BIGINT) AS d_bal_cents,
       c_custkey % 10 AS bucket
FROM customer WHERE c_custkey <= 500
"""


@register("framework_star_inferred_schema", oracle=STAR_INFERRED_ORACLE, tags=("framework",))
def framework_star_inferred_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """@STAR through the full plan/apply stack with NO declared columns
    anywhere: the child's @STAR resolves the upstream model's schema from
    its just-materialized physical relation (evaluation-time counterpart
    of render-time inference; macros.py:854 star)."""
    customer = f"parquet.`{sf_dir}/customer.parquet`"
    _clean_dbs(spark, "sqlmesh__demo_star", "env_star_views")
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        f"""
MODEL (name demo_star.base, kind FULL);
SELECT c_custkey, c_mktsegment,
       CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
FROM {customer} WHERE c_custkey <= 500
"""
    )
    ctx.add_model(
        """
MODEL (name demo_star.enriched, kind FULL);
SELECT @STAR(demo_star.base, b, [c_mktsegment], 'd_'), b.c_custkey % 10 AS bucket
FROM demo_star.base b
"""
    )
    ctx.run(environment="env_star", start="1995-01-01", end="1995-01-02")
    return spark.table("env_star_views.enriched")


FIVE_MINUTE_ORACLE = """
SELECT strftime(to_timestamp(CAST(floor(epoch(ts) / 300) * 300 AS BIGINT)), '%Y-%m-%d %H:%M:%S') AS bucket,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts < TIMESTAMP '2024-01-01 00:57:00'
GROUP BY 1
"""


@register("framework_cron_five_minute", oracle=FIVE_MINUTE_ORACLE, tags=("framework",))
def framework_cron_five_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-daily interval scheduling (node.py:28-59 FIVE_MINUTE unit;
    model/meta.py:110 allow_partials): a cron '@five_minute' incremental
    model with allow_partials runs a window ending MID-unit — the partial
    tail [00:40, 00:42:30) executes immediately instead of waiting for the
    unit to complete, and the next run resumes from exactly 00:42:30 (no
    duplication, no loss). Also pins the sub-daily overwrite bug class:
    both runs land inside ONE day partition, so the second must not
    clobber the first's rows (adapter's partition-scoped DELETE_INSERT).
    The model is a raw projection — with partials, a time_column coarser
    than the row granularity would split aggregates across batches."""
    from sqlmesh_spark.sources.tables import load_table

    _clean_dbs(spark, "sqlmesh__demo_5m", "env_5m_views")
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_src_5m")

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_5m.ticks,
  kind INCREMENTAL_BY_TIME_RANGE (time_column ts),
  cron '@five_minute',
  allow_partials true,
  start '2024-01-01'
);
SELECT ts, event_id, value
FROM events_src_5m
WHERE ts >= CAST(@start_ts AS TIMESTAMP) AND ts < CAST(@end_ts AS TIMESTAMP)
"""
    )
    # Run 1 ends mid-unit at 00:42:30 — allow_partials admits the partial
    # [00:40, 00:42:30) tail; without it nothing past 00:40 would run.
    ctx.run(environment="env_5m", start="2024-01-01 00:00:00", end="2024-01-01 00:42:30")
    from sqlmesh_spark.core.plan import build_snapshots
    from sqlmesh_spark.core.snapshot import to_epoch

    snap = build_snapshots(ctx.models)["demo_5m.ticks"]
    done = ctx.state.get_intervals("demo_5m.ticks", snap.version)
    hi = max(e for _, e in done)
    assert hi == to_epoch("2024-01-01 00:42:30"), f"partial tail not admitted: {hi}"
    # Run 2 extends to 00:57 — resumes at 00:42:30, same day partition.
    ctx.run(environment="env_5m", start="2024-01-01 00:00:00", end="2024-01-01 00:57:00")
    return spark.sql(
        """
SELECT date_format(to_timestamp(CAST(floor(unix_timestamp(ts) / 300) * 300 AS BIGINT)),
                   'yyyy-MM-dd HH:mm:ss') AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM env_5m_views.ticks GROUP BY 1
"""
    )


STANDALONE_AUDIT_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m-%d') AS ds, COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1995-02-01 00:00:00'
GROUP BY 1 HAVING COUNT(*) < 18
"""


@register("framework_standalone_audit", oracle=STANDALONE_AUDIT_ORACLE, tags=("framework",))
def framework_standalone_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone audit (audit/definition.py:157): an AUDIT(...) artifact
    with its own query over a model, run after backfill. It REPORTS
    violations (recorded in state, warned) but can never block — the
    reference validates standalone audits are non-blocking (:189)."""
    _clean_dbs(spark, "sqlmesh__demo_sa", "env_sa_views")
    orders = f"parquet.`{sf_dir}/orders.parquet`"
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        f"""
MODEL (name demo_sa.daily_orders, kind FULL);
SELECT date_format(o_orderdate, 'yyyy-MM-dd') AS ds, COUNT(*) AS n_orders
FROM {orders}
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1995-02-01 00:00:00'
GROUP BY 1
"""
    )
    ctx.add_standalone_audit(
        """
AUDIT (name assert_order_volume, standalone true);
SELECT ds, n_orders FROM demo_sa.daily_orders WHERE n_orders < 18
"""
    )
    # Blocking standalone audits must be rejected at parse time.
    try:
        ctx.add_standalone_audit("AUDIT (name bad, standalone true, blocking true);\nSELECT 1 AS x")
        raise AssertionError("blocking standalone audit was accepted")
    except ValueError:
        pass
    ctx.run(environment="env_sa", start="1995-01-01", end="1995-02-01")
    recorded = ctx.state.get_audit_results("env_sa")["assert_order_volume"]
    got = spark.sql(
        "SELECT ds, n_orders FROM env_sa_views.daily_orders WHERE n_orders < 18"
    )
    assert recorded == got.count(), (recorded, got.count())
    return got


ENV_STATEMENTS_ORACLE = """
SELECT * FROM (VALUES ('after', 'env_es'), ('before', 'env_es')) AS t(phase, env)
"""


@register("framework_environment_statements", oracle=ENV_STATEMENTS_ORACLE, tags=("framework",))
def framework_environment_statements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Environment statements (environment.py:264 EnvironmentStatements;
    plan/evaluator.py:127/:141 Before/AfterAllStage): before_all/after_all
    SQL runs bracketing every plan application, with @vars rendered
    (@this_env here), and the statements are persisted in state per
    environment (state_sync/db/environment.py _environment_statements)."""
    region = f"parquet.`{sf_dir}/region.parquet`"
    _clean_dbs(spark, "sqlmesh__demo_es", "env_es_views", "demo_es_meta")
    spark.sql("CREATE DATABASE demo_es_meta")
    spark.sql("CREATE TABLE demo_es_meta.run_log (phase STRING, env STRING)")
    ctx = Context(
        spark,
        state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"),
        before_all=["INSERT INTO demo_es_meta.run_log VALUES ('before', @this_env)"],
        after_all=["INSERT INTO demo_es_meta.run_log VALUES ('after', @this_env)"],
    )
    ctx.add_model(
        f"""
MODEL (name demo_es.regions, kind FULL);
SELECT r_regionkey, r_name FROM {region}
"""
    )
    ctx.run(environment="env_es", start="1995-01-01", end="1995-01-02")
    stored = ctx.state.get_environment_statements("env_es")
    assert stored["before_all"] and stored["after_all"], stored
    return spark.sql("SELECT phase, env FROM demo_es_meta.run_log ORDER BY phase")


MANAGED_ORACLE = """
SELECT c_mktsegment AS segment,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
FROM customer GROUP BY 1
"""


@register("framework_managed_kind", oracle=MANAGED_ORACLE, tags=("framework",))
def framework_managed_kind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANAGED kind (model/kind.py:1033-1051 ManagedKind;
    evaluator.py:3089 EngineManagedStrategy): the engine owns freshness,
    refreshing the table each tick. OSS Spark has no self-refreshing
    tables, so the scheduler performs the refresh the managing engine
    would as a FULL rebuild (adapter.replace_query, with the model's
    declared layout). Two runs against a mutating source prove the
    refresh path: run 2 must see rows run 1 could not."""
    _clean_dbs(spark, "demo_mg_src", "sqlmesh__demo_mg", "env_mg_views")
    customer = f"parquet.`{sf_dir}/customer.parquet`"
    spark.sql("CREATE DATABASE demo_mg_src")
    spark.sql(
        f"CREATE TABLE demo_mg_src.stage AS SELECT * FROM {customer} WHERE c_custkey % 2 = 0"
    )
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (name demo_mg.segments, kind MANAGED);
SELECT c_mktsegment AS segment,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
FROM demo_mg_src.stage GROUP BY 1
"""
    )
    ctx.run(environment="env_mg", start="1995-01-01", end="1995-01-02")
    half = spark.sql("SELECT SUM(n_customers) AS n FROM env_mg_views.segments").collect()[0].n
    # Source gains the odd half; the next tick's managed refresh must see it.
    spark.sql(
        f"INSERT INTO demo_mg_src.stage SELECT * FROM {customer} WHERE c_custkey % 2 = 1"
    )
    ctx.run(environment="env_mg", start="1995-01-01", end="1995-01-03")
    full = spark.sql("SELECT SUM(n_customers) AS n FROM env_mg_views.segments").collect()[0].n
    assert full > half, (half, full)
    return spark.table("env_mg_views.segments")


BLUEPRINT_ORACLE = """
SELECT 'building' AS customer_segment, COUNT(*) AS n, CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
FROM customer WHERE c_mktsegment = 'BUILDING'
UNION ALL
SELECT 'machinery' AS customer_segment, COUNT(*) AS n, CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
FROM customer WHERE c_mktsegment = 'MACHINERY'
"""


@register("framework_blueprint_models", oracle=BLUEPRINT_ORACLE, tags=("framework",))
def framework_blueprint_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model blueprints (definition.py:2019-2080 create_models_from_
    blueprints): ONE definition with a ``blueprints`` list expands to one
    model per variable mapping — ``@{var}`` interpolates everywhere
    including the model NAME, and the mapping binds @VAR lookups at render
    time. Each expansion fingerprints independently (distinct physical
    snapshots)."""
    _clean_dbs(spark, "sqlmesh__demo_bp", "env_bp_views")
    customer = f"parquet.`{sf_dir}/customer.parquet`"
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    first = ctx.add_model(
        f"""
MODEL (
  name demo_bp.rev_@{{seg}},
  kind FULL,
  blueprints ((seg = building, filter_value = 'BUILDING'),
              (seg = machinery, filter_value = 'MACHINERY'))
);
SELECT '@{{seg}}' AS customer_segment,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
FROM {customer}
WHERE c_mktsegment = @VAR('filter_value')
"""
    )
    assert first.name == "demo_bp.rev_building", first.name
    assert set(ctx.models) >= {"demo_bp.rev_building", "demo_bp.rev_machinery"}
    ctx.run(environment="env_bp", start="1995-01-01", end="1995-01-02")
    return spark.sql(
        "SELECT * FROM env_bp_views.rev_building UNION ALL SELECT * FROM env_bp_views.rev_machinery"
    )


INVALIDATE_ORACLE = """
SELECT r_regionkey, r_name FROM region
"""


@register("framework_invalidate_environment", oracle=INVALIDATE_ORACLE, tags=("framework",))
def framework_invalidate_environment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Environment invalidation + janitor reclamation (state_sync/base.py:378
    invalidate_environment; _environments.expiration_ts): an invalidated dev
    environment's view schema AND its now-unreferenced physical snapshots
    are dropped by the janitor, prod is protected from invalidation, and
    prod's snapshots survive untouched."""
    _clean_dbs(spark, "sqlmesh__demo_inv", "env_inv_views")
    region = f"parquet.`{sf_dir}/region.parquet`"
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        f"""
MODEL (name demo_inv.regions, kind FULL);
SELECT r_regionkey, r_name FROM {region}
"""
    )
    ctx.run(environment="prod", start="1995-01-01", end="1995-01-02")
    # Dev env over a MODIFIED model → its own physical snapshot.
    ctx.models.clear()
    ctx.add_model(
        f"""
MODEL (name demo_inv.regions, kind FULL);
SELECT r_regionkey, r_name, 1 AS extra FROM {region}
"""
    )
    ctx.run(environment="env_inv", start="1995-01-01", end="1995-01-02")
    assert spark.catalog.tableExists("env_inv_views.regions")
    try:
        ctx.invalidate_environment("prod")
        raise AssertionError("prod invalidation was not blocked")
    except ValueError:
        pass
    ctx.invalidate_environment("env_inv")
    dropped = ctx.janitor()
    assert "env_inv_views" in dropped, dropped
    assert not spark.catalog.tableExists("env_inv_views.regions")
    # Prod must be untouched.
    return spark.sql("SELECT r_regionkey, r_name FROM prod_views.regions")


MODEL_STATEMENTS_ORACLE = """
SELECT * FROM (VALUES ('post'), ('pre'), ('virtual')) AS t(phase)
"""


@register("framework_model_statements", oracle=MODEL_STATEMENTS_ORACLE, tags=("framework",))
def framework_model_statements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre/post-statements and the ON_VIRTUAL_UPDATE block
    (definition.py:156-158; render_pre_statements:357): pre runs before
    the materialization, post after it (even on failure), and the virtual
    block runs after the env view swap with @this_model bound to the VIEW.
    Also exercises explicitly declared depends_on (meta.py) surviving dep
    re-resolution."""
    region = f"parquet.`{sf_dir}/region.parquet`"
    _clean_dbs(spark, "sqlmesh__demo_ms", "env_ms_views", "demo_ms_meta")
    spark.sql("CREATE DATABASE demo_ms_meta")
    spark.sql("CREATE TABLE demo_ms_meta.stmt_log (phase STRING, model STRING)")
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    model = ctx.add_model(
        f"""
MODEL (name demo_ms.regions, kind FULL, depends_on (demo_ms_meta.stmt_log));
INSERT INTO demo_ms_meta.stmt_log VALUES ('pre', @this_model_name);
SELECT r_regionkey, r_name FROM {region};
INSERT INTO demo_ms_meta.stmt_log VALUES ('post', @this_model_name);
ON_VIRTUAL_UPDATE_BEGIN;
INSERT INTO demo_ms_meta.stmt_log VALUES ('virtual', @this_model_name);
ON_VIRTUAL_UPDATE_END
"""
    )
    assert "demo_ms_meta.stmt_log" in model.depends_on
    assert model.pre_statements and model.post_statements and model.on_virtual_update
    assert model.query.lstrip().upper().startswith("SELECT")
    ctx.run(environment="env_ms", start="1995-01-01", end="1995-01-02")
    # @this_model binds the PHYSICAL table for pre/post and the env VIEW
    # for the virtual block (definition.py:452 render_on_virtual_update).
    virt = spark.sql(
        "SELECT model FROM demo_ms_meta.stmt_log WHERE phase = 'virtual'"
    ).collect()[0].model
    assert virt == "env_ms_views.regions", virt
    pre = spark.sql(
        "SELECT model FROM demo_ms_meta.stmt_log WHERE phase = 'pre'"
    ).collect()[0].model
    assert pre.startswith("sqlmesh__demo_ms."), pre
    return spark.sql("SELECT phase FROM demo_ms_meta.stmt_log ORDER BY phase")


ENV_DIFF_ORACLE = """
WITH s AS (
  SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
  FROM orders WHERE o_orderkey % 13 <> 0
),
t AS (
  SELECT o_orderkey,
         CAST(ROUND(o_totalprice * 100) AS BIGINT)
           + CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END AS price_cents
  FROM orders
)
SELECT COUNT(*) AS total_rows,
       CAST(SUM(CASE WHEN (s.o_orderkey IS NOT NULL) AND (t.o_orderkey IS NOT NULL) THEN 1 ELSE 0 END) AS BIGINT) AS joined_count,
       CAST(SUM(CASE WHEN (s.o_orderkey IS NOT NULL) AND NOT (t.o_orderkey IS NOT NULL) THEN 1 ELSE 0 END) AS BIGINT) AS s_only_count,
       CAST(SUM(CASE WHEN (t.o_orderkey IS NOT NULL) AND NOT (s.o_orderkey IS NOT NULL) THEN 1 ELSE 0 END) AS BIGINT) AS t_only_count,
       CAST(SUM(CASE WHEN (s.o_orderkey IS NOT NULL) AND (t.o_orderkey IS NOT NULL)
                 AND (s.price_cents = t.price_cents OR (s.price_cents IS NULL AND t.price_cents IS NULL))
                THEN 1 ELSE 0 END) AS BIGINT) AS full_match_count,
       CAST(SUM(CASE WHEN (s.o_orderkey IS NOT NULL) AND (t.o_orderkey IS NOT NULL)
                 AND (s.price_cents = t.price_cents OR (s.price_cents IS NULL AND t.price_cents IS NULL))
                THEN 1 ELSE 0 END) AS BIGINT) AS price_cents_matches
FROM s FULL OUTER JOIN t ON s.o_orderkey = t.o_orderkey
"""


@register("framework_env_table_diff", oracle=ENV_DIFF_ORACLE, tags=("framework", "diff"))
def framework_env_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-environment table diff (`sqlmesh table_diff dev:prod model`;
    table_diff.py:219): the same model materialized differently in two
    environments, compared as ONE full-outer-join stats frame over the
    model's grain through the env views."""
    _clean_dbs(spark, "sqlmesh__demo_ed", "env_ed_a_views", "env_ed_b_views")
    orders = f"parquet.`{sf_dir}/orders.parquet`"
    base = """
MODEL (name demo_ed.prices, kind FULL, grain (o_orderkey));
SELECT o_orderkey,
       CAST(ROUND(o_totalprice * 100) AS BIGINT){bump} AS price_cents
FROM {orders}{where}
"""
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(base.format(orders=orders, bump="", where=" WHERE o_orderkey % 13 <> 0"))
    ctx.run(environment="env_ed_a", start="1995-01-01", end="1995-01-02")
    ctx.models.clear()
    ctx.add_model(
        base.format(
            orders=orders,
            bump=" + CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END",
            where="",
        )
    )
    ctx.run(environment="env_ed_b", start="1995-01-01", end="1995-01-02")
    return ctx.table_diff("demo_ed.prices", "env_ed_a", "env_ed_b")


SELECT_MODEL_ORACLE = """
SELECT 'a_v2' AS which, COUNT(*) AS n FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT 'b_v1' AS which, COUNT(*) AS n FROM orders
"""


@register("framework_select_model", oracle=SELECT_MODEL_ORACLE, tags=("framework",))
def framework_select_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective plan (`plan --select-model`; plan/builder.py node
    selection): both models are modified, only model A is selected — A
    rebuilds with its new query while B stays pinned at the environment's
    current version serving v1 data. At 100 TB this is how a team ships
    one model's change without triggering an unrelated backfill."""
    _clean_dbs(spark, "sqlmesh__demo_sel", "env_sel_views")
    orders = f"parquet.`{sf_dir}/orders.parquet`"
    a = """
MODEL (name demo_sel.a, kind FULL);
SELECT 'a_{v}' AS which, COUNT(*) AS n FROM {orders}{where}
"""
    b = """
MODEL (name demo_sel.b, kind FULL);
SELECT 'b_{v}' AS which, COUNT(*) AS n FROM {orders}{where}
"""
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(a.format(v="v1", orders=orders, where=""))
    ctx.add_model(b.format(v="v1", orders=orders, where=""))
    ctx.run(environment="env_sel", start="1995-01-01", end="1995-01-02")
    # Both change; only A is selected.
    ctx.models.clear()
    ctx.add_model(a.format(v="v2", orders=orders, where=" WHERE o_orderkey % 2 = 0"))
    ctx.add_model(b.format(v="v2", orders=orders, where=" WHERE o_orderkey % 2 = 0"))
    executed = ctx.run(
        environment="env_sel",
        start="1995-01-01",
        end="1995-01-02",
        select_models=["demo_sel.a"],
    )
    assert executed["demo_sel.a"] >= 1, executed
    return spark.sql(
        "SELECT which, n FROM env_sel_views.a UNION ALL SELECT which, n FROM env_sel_views.b"
    )


CUSTOM_AUDIT_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m-%d') AS ds, COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-03-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
GROUP BY 1
"""


@register("framework_custom_audit", oracle=CUSTOM_AUDIT_ORACLE, tags=("framework",))
def framework_custom_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom model audits (audit/definition.py:121 ModelAudit): a named,
    parameterized AUDIT artifact attached via audits(name(arg = val));
    @this_model binds the audited relation (interval-scoped for
    incremental models) and defaults/args bind @vars. A failing blocking
    attachment must abort the run; a passing threshold must let it
    through."""
    _clean_dbs(spark, "sqlmesh__demo_ca", "env_ca_views")
    orders = f"parquet.`{sf_dir}/orders.parquet`"
    model_text = """
MODEL (
  name demo_ca.daily,
  kind FULL,
  audits (assert_min_daily_orders(min_orders = {thresh}))
);
SELECT date_format(o_orderdate, 'yyyy-MM-dd') AS ds, COUNT(*) AS n_orders
FROM {orders}
WHERE o_orderdate >= TIMESTAMP '1995-03-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
GROUP BY 1
"""
    audit_text = """
AUDIT (name assert_min_daily_orders, defaults (min_orders = 1));
SELECT * FROM @this_model WHERE n_orders < @min_orders
"""
    from sqlmesh_spark.core.scheduler import AuditError

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_audit(audit_text)
    ctx.add_model(model_text.format(orders=orders, thresh=999999))
    try:
        ctx.run(environment="env_ca", start="1995-01-01", end="1995-01-02")
        raise AssertionError("blocking custom audit did not abort the run")
    except AuditError:
        pass
    ctx.models.clear()
    ctx.add_model(model_text.format(orders=orders, thresh=1))
    ctx.run(environment="env_ca", start="1995-01-01", end="1995-01-02")
    return spark.table("env_ca_views.daily")


SELF_REF_ORACLE = """
WITH daily AS (
  SELECT strftime(o_orderdate, '%Y-%m-%d') AS ds, COUNT(*) AS n
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1995-01-11 00:00:00'
  GROUP BY 1
)
SELECT ds, n, CAST(SUM(n) OVER (ORDER BY ds) AS BIGINT) AS cum_n FROM daily
"""


@register("framework_self_reference", oracle=SELF_REF_ORACLE, tags=("framework",))
def framework_self_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-referencing incremental model (depends_on_past): each daily
    batch reads ITS OWN previous state via @this_model to carry a running
    total forward — the pattern behind balances, SCD-ish accumulation,
    and monotone counters. The engine pre-creates the empty table from
    declared columns so the first batch's analysis resolves, and
    batch_size 1 forces strictly ordered daily evaluation (batch N reads
    batch N-1's materialized rows)."""
    _clean_dbs(spark, "sqlmesh__demo_sr", "env_sr_views")
    orders = f"parquet.`{sf_dir}/orders.parquet`"
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        f"""
MODEL (
  name demo_sr.cumulative,
  kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts),
  columns (event_ts timestamp, ds string, n bigint, cum_n bigint),
  batch_size 1,
  start '1995-01-01'
);
SELECT CAST(@start_ts AS TIMESTAMP) AS event_ts,
       date_format(CAST(@start_ts AS TIMESTAMP), 'yyyy-MM-dd') AS ds,
       COUNT(*) AS n,
       CAST(COUNT(*) + COALESCE(
         (SELECT MAX(cum_n) FROM @this_model
          WHERE event_ts < CAST(@start_ts AS TIMESTAMP)), 0) AS BIGINT) AS cum_n
FROM {orders}
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o_orderdate <  CAST(@end_ts AS TIMESTAMP)
GROUP BY 1, 2
"""
    )
    executed = ctx.run(environment="env_sr", start="1995-01-01", end="1995-01-11")
    assert executed["demo_sr.cumulative"] == 10, executed
    return spark.sql("SELECT ds, n, cum_n FROM env_sr_views.cumulative")


PY_INCR_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m-%d') AS ds,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1995-01-15 00:00:00'
GROUP BY 1
"""


@register("framework_python_incremental", oracle=PY_INCR_ORACLE, tags=("framework",))
def framework_python_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python model under INCREMENTAL_BY_TIME_RANGE (definition.py:1876;
    the kinds apply to Python models exactly as to SQL models): the
    function reads the interval bounds from its ExecutionContext, and the
    scheduler drives it batch-by-batch with idempotent partition
    overwrites — run 2 extends the window and must process ONLY the new
    days."""
    from pyspark.sql import functions as F

    from sqlmesh_spark.core.model import ModelKind
    from sqlmesh_spark.core.python_model import ExecutionContext, python_model

    _clean_dbs(spark, "sqlmesh__demo_pyinc", "env_pyinc_views")
    orders = f"parquet.`{sf_dir}/orders.parquet`"

    @python_model(
        name="demo_pyinc.daily",
        kind=ModelKind.INCREMENTAL_BY_TIME_RANGE,
        kind_args={"time_column": "event_ts"},
    )
    def daily(ctx: ExecutionContext):
        return (
            ctx.table(orders)
            .filter(
                (F.col("o_orderdate") >= F.lit(ctx.start).cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(ctx.end).cast("timestamp"))
            )
            .groupBy(
                F.col("o_orderdate").alias("event_ts"),
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("ds"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                    "revenue_cents"
                ),
            )
        )

    ctx = Context(
        spark,
        state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"),
        models={daily.name: daily},
    )
    r1 = ctx.run(environment="env_pyinc", start="1995-01-01", end="1995-01-08")
    r2 = ctx.run(environment="env_pyinc", start="1995-01-01", end="1995-01-15")
    assert r1["demo_pyinc.daily"] >= 1 and r2["demo_pyinc.daily"] >= 1
    return spark.sql(
        "SELECT ds, n_orders, revenue_cents FROM env_pyinc_views.daily"
    )


CLUSTERED_MODEL_ORACLE = """
SELECT c_custkey AS cust, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders WHERE o_custkey <= 500
GROUP BY c_custkey
"""


@register("framework_clustered_model", oracle="""
WITH m AS (
  SELECT o_custkey AS cust, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
  FROM orders WHERE o_custkey <= 500 GROUP BY o_custkey
)
SELECT cust, revenue_cents FROM m
""", tags=("framework",))
def framework_clustered_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A FULL model declaring ``clustered_by`` + ``buckets`` through
    plan/apply (model/meta.py:94): the physical snapshot table is written
    hash-bucketed on the cluster key, so downstream joins/aggregations on
    that key read co-located buckets with no exchange (the framework-level
    twin of the engine case bucketed_join_colocated; the zero-shuffle plan
    property is asserted in tests/test_framework.py). Layout is part of
    the data fingerprint — changing buckets rebuilds the table."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_clus", "env_clus_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_clus.revenue_by_cust,
  kind FULL,
  clustered_by (cust),
  buckets 4
);
SELECT o_custkey AS cust,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders WHERE o_custkey <= 500
GROUP BY o_custkey
"""
    )
    ctx.run(environment="env_clus")
    return spark.table("env_clus_views.revenue_by_cust")


DDB_DIALECT_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       string_to_array('a|b', '|')[1] AS first_tag,
       string_to_array('a|b', '|')[5] AS oob_tag,
       string_to_array('a|b', '|')[0] AS zero_tag
FROM orders
WHERE o_orderkey % 2 = 0
GROUP BY strftime(o_orderdate, '%Y-%m')
"""


@register("framework_duckdb_dialect_model", oracle=DDB_DIALECT_ORACLE, tags=("dialect", "framework"))
def framework_duckdb_dialect_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A model written in DUCKDB dialect loaded through plan/apply: the
    reference renders model SQL in any SQLGlot dialect and transpiles to
    the execution engine at render time (renderer.py:517, node.py:235
    ``dialect``). Here the model text uses strftime C-formats, ``::``
    casts, string_to_array and 1-based subscripts — including OUT-OF-BOUNDS
    and INDEX-0 subscripts, which DuckDB returns NULL for while Spark-4
    ANSI element_at raises (rewritten to try_element_at + nullif(i, 0)) —
    core/transpile.py rewrites it to Spark SQL after macro expansion; the
    DuckDB oracle runs the SAME text natively, so the hash match proves
    dialect fidelity, not just executability."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_ddb", "env_ddb_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_ddb.monthly_stats,
  kind FULL,
  dialect duckdb
);
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       (SUM(ROUND(o_totalprice * 100)::BIGINT))::BIGINT AS revenue_cents,
       COUNT(*)::BIGINT AS n_orders,
       string_to_array('a|b', '|')[1] AS first_tag,
       string_to_array('a|b', '|')[5] AS oob_tag,
       string_to_array('a|b', '|')[0] AS zero_tag
FROM orders
WHERE o_orderkey % 2 = 0
GROUP BY strftime(o_orderdate, '%Y-%m')
"""
    )
    ctx.run(environment="env_ddb")
    return spark.table("env_ddb_views.monthly_stats")


PG_ROUND8_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       chr(65 + CAST(o_custkey % 3 AS INT)) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN list_contains([o_orderpriority], '1-URGENT')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
       CAST(26 AS BIGINT) AS iv_hour,
       array_to_string(list_filter([1, NULL, 2], x -> x IS NOT NULL),
                       ',') AS cleaned,
       false AS flag_off,
       lower(to_hex(255)) AS hexff,
       CAST(0 AS BIGINT) AS empty_series
FROM orders
WHERE o_custkey % 10 = 0
GROUP BY strftime(o_orderdate, '%Y-%m'),
         chr(65 + CAST(o_custkey % 3 AS INT))
"""


@register("framework_postgres_round8_model", oracle=PG_ROUND8_ORACLE, tags=("dialect", "framework"))
def framework_postgres_round8_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-8 pg read-dialect features through plan/apply, value-checked
    against the DuckDB oracle: @> array containment, chr() as a Unicode
    code point, static interval-field extraction, NULL-safe
    array_remove, 'off' boolean literals, to_hex, and the
    generate_series empty-range guard (pg generate_series(1, 0) is
    EMPTY where Spark sequence(1, 0) auto-steps -1). Each feature was
    found by adversarially probing live PostgreSQL 15 (see
    tests/test_dialect_fuzz_pg.py); this case gives them hard DRIVER
    signal, not just fuzz-corpus coverage."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_pg8", "env_pg8_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_pg8.round8_orders,
  kind FULL,
  dialect postgres
);
SELECT to_char(o_orderdate, 'YYYY-MM') AS month,
       chr((65 + o_custkey % 3)::int4) AS bucket,
       COUNT(*)::int8 AS n_orders,
       SUM(CASE WHEN ARRAY[o_orderpriority] @> ARRAY['1-URGENT']
           THEN 1 ELSE 0 END)::int8 AS n_urgent,
       extract(hour from INTERVAL '26 hours 3 minutes')::int8 AS iv_hour,
       array_to_string(array_remove(ARRAY[1, NULL, 2], NULL), ',') AS cleaned,
       'off'::boolean AS flag_off,
       to_hex(255) AS hexff,
       (SELECT COUNT(*) FROM generate_series(1, 0) g(i))::int8 AS empty_series
FROM orders
WHERE o_custkey % 10 = 0
GROUP BY to_char(o_orderdate, 'YYYY-MM'), chr((65 + o_custkey % 3)::int4)
"""
    )
    ctx.run(environment="env_pg8")
    return spark.table("env_pg8_views.round8_orders")


DDB_ROUND8_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(max(o_custkey ORDER BY o_totalprice) AS BIGINT) AS max_cust,
       CAST((SELECT first(x ORDER BY x DESC)
             FROM (VALUES (1),(3),(2)) q(x)) AS BIGINT) AS top_const,
       try_cast('3.9' AS INT) AS rounded,
       {'hi': 1, 'lo': 0}.hi AS s_hi,
       map(['k'],[7])['k'][1] AS m_k,
       CAST((SELECT count(*) FROM range(3) r(i)) AS BIGINT) AS n_range,
       to_base(255, 16) AS hexff
FROM orders
WHERE o_custkey % 13 = 0
GROUP BY strftime(o_orderdate, '%Y-%m')
"""


@register("framework_duckdb_round8_model", oracle=DDB_ROUND8_ORACLE, tags=("dialect", "framework"))
def framework_duckdb_round8_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-8 duckdb read-dialect features through plan/apply,
    value-checked against DuckDB itself: in-aggregate ORDER BY (dropped
    for max, min_by/max_by for first), try_cast string→int rounding,
    {'k': v} struct literals, map(keys, values) construction plus the
    list-shaped map subscript, range()'s exclusive stop, and to_base.
    Each found by adversarially probing the duckdb module (see
    tests/test_dialect_fuzz.py round-8 groups); this case gives them
    hard DRIVER signal. The reference's example projects are
    duckdb-dialect models (examples/sushi), making this the most-read
    dialect in practice."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_ddb8", "env_ddb8_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_ddb8.round8_orders,
  kind FULL,
  dialect duckdb
);
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       COUNT(*)::int8 AS n_orders,
       max(o_custkey ORDER BY o_totalprice)::int8 AS max_cust,
       (SELECT first(x ORDER BY x DESC)
        FROM (VALUES (1),(3),(2)) q(x))::int8 AS top_const,
       try_cast('3.9' AS INT) AS rounded,
       {'hi': 1, 'lo': 0}.hi AS s_hi,
       map(['k'],[7])['k'][1] AS m_k,
       (SELECT count(*) FROM range(3) r(i))::int8 AS n_range,
       to_base(255, 16) AS hexff
FROM orders
WHERE o_custkey % 13 = 0
GROUP BY strftime(o_orderdate, '%Y-%m')
"""
    )
    ctx.run(environment="env_ddb8")
    return spark.table("env_ddb8_views.round8_orders")


DDB_LAMBDA_ORACLE = """
SELECT strftime(o_orderdate, '%Y') AS yr,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       array_to_string(list_transform([10, 20, 30], (x, i) -> x + i),
                       ',') AS idx_rebase,
       array_to_string(list_filter([1, 2, 3, 4, 5], (x, i) -> i > 3),
                       ',') AS idx_filter,
       CAST(list_reduce([1, 2, 3, 4], (a, b) -> a + b) AS BIGINT)
           AS fold_sum,
       CAST(list_aggregate([min(o_custkey) % 7, NULL, 3], 'sum')
            AS BIGINT) AS agg_sum,
       list_aggregate(['a', NULL, 'b'], 'string_agg', '-') AS agg_sa,
       array_to_string(list_sort([3, 1, NULL, 2], 'DESC', 'NULLS FIRST'),
                       ',') AS sorted_dnf
FROM orders
WHERE o_custkey % 10 = 0
GROUP BY strftime(o_orderdate, '%Y')
"""


@register("framework_duckdb_lambda_model", oracle=DDB_LAMBDA_ORACLE,
          tags=("dialect", "framework"))
def framework_duckdb_lambda_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-11 duckdb lambda tier through plan/apply, value-checked
    against DuckDB itself: the 1-BASED indexed-lambda rebase (the
    round-10 verdict's silent-wrong — duck's (x, i) index is 1-based,
    Spark's 0-based), list_reduce first-element fold seeding,
    list_aggregate dynamic dispatch (NULL-skipping sum / string_agg),
    and list_sort's one Spark-less enum combination (DESC NULLS FIRST,
    comparator lambda). All handlers in core/dialects/duckdb_hofs.py,
    live-pinned by tools/probes/duck_lambda_wave34.txt. Container
    outputs are array_to_string-serialized on BOTH sides (the driver
    canon contract)."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_ddbl", "env_ddbl_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_ddbl.lambda_orders,
  kind FULL,
  dialect duckdb
);
SELECT strftime(o_orderdate, '%Y') AS yr,
       COUNT(*)::int8 AS n_orders,
       array_to_string(list_transform([10, 20, 30], (x, i) -> x + i),
                       ',') AS idx_rebase,
       array_to_string(list_filter([1, 2, 3, 4, 5], (x, i) -> i > 3),
                       ',') AS idx_filter,
       list_reduce([1, 2, 3, 4], (a, b) -> a + b)::int8 AS fold_sum,
       list_aggregate([min(o_custkey) % 7, NULL, 3], 'sum')::int8
           AS agg_sum,
       list_aggregate(['a', NULL, 'b'], 'string_agg', '-') AS agg_sa,
       array_to_string(list_sort([3, 1, NULL, 2], 'DESC', 'NULLS FIRST'),
                       ',') AS sorted_dnf
FROM orders
WHERE o_custkey % 10 = 0
GROUP BY strftime(o_orderdate, '%Y')
"""
    )
    ctx.run(environment="env_ddbl")
    return spark.table("env_ddbl_views.lambda_orders")


DDB_R11B_ORACLE = """
SELECT o_orderpriority AS pri,
       CAST(COUNT(*) AS BIGINT) AS n,
       format('{1}#{0}', o_orderpriority, COUNT(*)) AS tag,
       printf('%.2f', MAX(o_totalprice)) AS maxp,
       to_json(histogram(o_orderpriority)) AS hist,
       CAST(json_valid(MIN(jdoc)) AS INT) AS jv,
       array_to_string(json_keys(MIN(jdoc)), ',') AS jk,
       CAST(MAX(lv) AS BIGINT) AS last_seen
FROM (
  SELECT o.*, '{"b":1,"a":2}' AS jdoc,
         last_value(CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey END
                    IGNORE NULLS)
           OVER (ORDER BY o_orderkey) AS lv
  FROM orders o WHERE o_custkey % 10 = 0
) GROUP BY o_orderpriority
"""


@register("framework_duckdb_r11b_model", oracle=DDB_R11B_ORACLE,
          tags=("dialect", "framework"))
def framework_duckdb_r11b_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-11 duck waves 47-52 tier through plan/apply,
    value-checked against DuckDB running the SAME duck SQL natively:
    fmt-'{}' format() with 0-based positional reorder, printf %f over
    a DECIMAL aggregate (the DOUBLE-cast path — previously a bare Java
    IllegalFormatConversionException at runtime), histogram()
    serialized through scalar to_json (the own-emission-tagged wrap),
    json_valid / json_keys, and the in-paren IGNORE NULLS window keyword
    moved between the call and OVER. (GROUP BY ALL itself is pinned by
    wave 48; duck's inference REJECTS select items mixing a grouping
    column with an aggregate — format('{1}#{0}', pri, COUNT(*)) — that
    Spark accepts, an engine-rejected shape, so the model groups
    explicitly.)
    Live-pinned by tools/probes/duck_format_wave50.txt,
    duck_json_wave47.txt, duck_histogram_wave49.txt,
    duck_ignore_nulls_wave52.txt, duck_clause_wave48.txt."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_ddbr11b", "env_ddbr11b_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_ddbr11b.r11b_orders,
  kind FULL,
  dialect duckdb
);
SELECT o_orderpriority AS pri,
       COUNT(*)::int8 AS n,
       format('{1}#{0}', o_orderpriority, COUNT(*)) AS tag,
       printf('%.2f', MAX(o_totalprice)) AS maxp,
       to_json(histogram(o_orderpriority)) AS hist,
       json_valid(MIN(jdoc))::int AS jv,
       array_to_string(json_keys(MIN(jdoc)), ',') AS jk,
       MAX(lv)::int8 AS last_seen
FROM (
  SELECT o.*, '{"b":1,"a":2}' AS jdoc,
         last_value(CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey END
                    IGNORE NULLS)
           OVER (ORDER BY o_orderkey) AS lv
  FROM orders o WHERE o_custkey % 10 = 0
) GROUP BY o_orderpriority
"""
    )
    ctx.run(environment="env_ddbr11b")
    return spark.table("env_ddbr11b_views.r11b_orders")


DDB_STMT_ORACLE = """
SELECT strftime(o_orderdate, '%Y') AS yr,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN o_totalprice > 1000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_big,
       CAST(CAST(TIMESTAMP '2024-01-01 00:00:00' + INTERVAL '1.5 days'
                 AS DATE) AS VARCHAR) AS d_plus,
       CAST(CAST(TIMESTAMP '2024-01-01 00:00:00'
                 + INTERVAL '1 year 3 days' AS DATE) AS VARCHAR)
           AS d_mixed,
       CAST(try_strptime('2024-02-29', '%Y-%m-%d') AS VARCHAR)
           AS parsed,
       try_strptime('junk', '%Y-%m-%d') IS NULL AS parse_missed
FROM orders
WHERE o_custkey % 10 = 0
GROUP BY strftime(o_orderdate, '%Y')
"""


@register("framework_duckdb_stmt_model", oracle=DDB_STMT_ORACLE,
          tags=("dialect", "framework"))
def framework_duckdb_stmt_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-11 duck statement tier end-to-end through plan/apply:
    a FROM-first model statement (duck's FROM t SELECT ... form, which
    Spark's parser rejects outright), a digit-group underscore literal,
    fractional and mixed-family interval literals through the widened
    decompose path, and try_strptime. Each pinned live (waves 41-43);
    the oracle spells the same values in duck's SELECT-first form."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_ddbs", "env_ddbs_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_ddbs.stmt_orders,
  kind FULL,
  dialect duckdb
);
FROM orders
SELECT strftime(o_orderdate, '%Y') AS yr,
       COUNT(*)::int8 AS n_orders,
       SUM(CASE WHEN o_totalprice > 1_000 THEN 1 ELSE 0 END)::int8
           AS n_big,
       (TIMESTAMP '2024-01-01 00:00:00' + INTERVAL '1.5 days')
           ::date::varchar AS d_plus,
       (TIMESTAMP '2024-01-01 00:00:00' + INTERVAL '1 year 3 days')
           ::date::varchar AS d_mixed,
       try_strptime('2024-02-29', '%Y-%m-%d')::varchar AS parsed,
       try_strptime('junk', '%Y-%m-%d') IS NULL AS parse_missed
WHERE o_custkey % 10 = 0
GROUP BY strftime(o_orderdate, '%Y')
"""
    )
    ctx.run(environment="env_ddbs")
    return spark.table("env_ddbs_views.stmt_orders")


PG_DIALECT_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
       ['open', 'closed'][1] AS first_status
FROM orders
WHERE o_custkey % 10 = 0
GROUP BY strftime(o_orderdate, '%Y-%m')
"""


@register("framework_postgres_dialect_model", oracle=PG_DIALECT_ORACLE, tags=("dialect", "framework"))
def framework_postgres_dialect_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second read dialect through plan/apply: a POSTGRES-dialect model
    using to_char (Postgres patterns, converted to Spark datetime
    patterns), ARRAY[...] literals, and 1-based subscripts. The DuckDB
    oracle computes the same values through its own functions — proving
    dialect-to-dialect value parity, not just text rewriting (reference
    renderer.py:517 renders any SQLGlot read dialect)."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_pg", "env_pg_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_pg.monthly_orders,
  kind FULL,
  dialect postgres
);
SELECT to_char(o_orderdate, 'YYYY-MM') AS month,
       COUNT(*)::BIGINT AS n_orders,
       SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT AS n_urgent,
       (ARRAY['open', 'closed'])[1] AS first_status
FROM orders
WHERE o_custkey % 10 = 0
GROUP BY to_char(o_orderdate, 'YYYY-MM')
"""
    )
    ctx.run(environment="env_pg")
    return spark.table("env_pg_views.monthly_orders")


DDB_INCR_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m-%d') AS ds,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1995-12-31 00:00:00'
GROUP BY strftime(o_orderdate, '%Y-%m-%d')
"""


@register("framework_dialect_incremental", oracle=DDB_INCR_ORACLE, tags=("dialect", "framework"))
def framework_dialect_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect × temporal-macro interplay — the realistic reference usage
    (sushi models are DuckDB-dialect incrementals): a duckdb-dialect
    INCREMENTAL_BY_TIME_RANGE model whose query mixes @start_ts/@end_ts
    macros with strftime/:: casts. Macros expand FIRST, transpile second
    (scheduler render order), so the temporal literals the macros inject
    survive the dialect rewrite. Two plan/apply rounds verify the
    incremental contract holds for transpiled models."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_ddbi", "env_ddbi_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_ddbi.daily_orders,
  kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts),
  dialect duckdb,
  cron '@daily'
);
SELECT o_orderdate AS event_ts,
       strftime(o_orderdate, '%Y-%m-%d') AS ds,
       COUNT(*)::BIGINT AS n_orders,
       (SUM(ROUND(o_totalprice * 100)::BIGINT))::BIGINT AS revenue_cents
FROM orders
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o_orderdate <  CAST(@end_ts AS TIMESTAMP)
GROUP BY o_orderdate, strftime(o_orderdate, '%Y-%m-%d')
"""
    )
    ctx.run(environment="env_ddbi", start="1995-01-01", end="1995-06-30")
    executed = ctx.run(environment="env_ddbi", start="1995-01-01", end="1995-12-31")
    assert executed["demo_ddbi.daily_orders"] >= 1
    return spark.table("env_ddbi_views.daily_orders").select(
        "ds", "n_orders", "revenue_cents"
    )


SF_DIALECT_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
       CAST(date_diff('day', TIMESTAMP '1995-01-01', MAX(o_orderdate)) AS BIGINT) AS days_since,
       split_part('eu-west-1', '-', 2) AS region_part
FROM orders
WHERE o_custkey % 7 = 0
GROUP BY strftime(o_orderdate, '%Y-%m')
"""


@register("framework_snowflake_dialect_model", oracle=SF_DIALECT_ORACLE, tags=("dialect", "framework"))
def framework_snowflake_dialect_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A model written in SNOWFLAKE dialect loaded through plan/apply —
    the largest real-world migration source (reference renderer.py:517
    accepts any SQLGlot read dialect). The text uses IFF, TO_VARCHAR with
    Snowflake format patterns, TO_TIMESTAMP(s, fmt), bare-keyword DATEDIFF
    (boundary-crossing semantics), SPLIT_PART and ``::`` casts;
    core/transpile.py rewrites all of it to Spark SQL at render time. The
    DuckDB oracle computes the same VALUES through its own functions, so
    the hash match proves dialect-to-dialect value parity."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_sf", "env_sf_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_sf.order_stats,
  kind FULL,
  dialect snowflake
);
SELECT TO_VARCHAR(o_orderdate, 'YYYY-MM') AS month,
       COUNT(*)::BIGINT AS n_orders,
       SUM(IFF(o_orderpriority = '1-URGENT', 1, 0))::BIGINT AS n_urgent,
       DATEDIFF(day, TO_TIMESTAMP('1995-01-01', 'YYYY-MM-DD'), MAX(o_orderdate))::BIGINT AS days_since,
       SPLIT_PART('eu-west-1', '-', 2) AS region_part
FROM orders
WHERE o_custkey % 7 = 0
GROUP BY TO_VARCHAR(o_orderdate, 'YYYY-MM')
"""
    )
    ctx.run(environment="env_sf")
    return spark.table("env_sf_views.order_stats")


BQ_DIALECT_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
       CAST(date_diff('hour', TIMESTAMP '1995-01-01', MAX(o_orderdate)) AS BIGINT) AS hours_since,
       string_split('a|b|c', '|')[2] AS second_tag,
       CAST(NULL AS DOUBLE) AS null_div
FROM orders
WHERE o_orderkey % 3 = 0
GROUP BY strftime(o_orderdate, '%Y-%m')
"""


@register("framework_bigquery_dialect_model", oracle=BQ_DIALECT_ORACLE, tags=("dialect", "framework"))
def framework_bigquery_dialect_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A model written in BIGQUERY dialect loaded through plan/apply
    (reference renderer.py:517 / dialect.py:1040). The text uses
    FORMAT_DATE with C-style %-codes (arg order swapped vs Spark),
    COUNTIF, TIMESTAMP_DIFF's (later, earlier, UNIT) arg order,
    SAFE_DIVIDE, plain-string SPLIT with an OFFSET() 0-based subscript,
    and INT64 casts. TIMESTAMP_DIFF counts complete elapsed units; the
    orderdate column holds midnight timestamps so elapsed == crossings
    and the DuckDB date_diff oracle matches exactly."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_bq", "env_bq_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_bq.order_stats,
  kind FULL,
  dialect bigquery
);
SELECT FORMAT_DATE('%Y-%m', o_orderdate) AS month,
       CAST(COUNT(*) AS INT64) AS n_orders,
       CAST(COUNTIF(o_orderpriority = '1-URGENT') AS INT64) AS n_urgent,
       CAST(TIMESTAMP_DIFF(MAX(o_orderdate), TIMESTAMP '1995-01-01', HOUR) AS INT64) AS hours_since,
       SPLIT('a|b|c', '|')[OFFSET(1)] AS second_tag,
       SAFE_DIVIDE(1, 0) AS null_div
FROM orders
WHERE MOD(o_orderkey, 3) = 0
GROUP BY FORMAT_DATE('%Y-%m', o_orderdate)
"""
    )
    ctx.run(environment="env_bq")
    return spark.table("env_bq_views.order_stats")


QUALIFY_ORACLE = """
SELECT o_custkey,
       o_orderkey,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
FROM orders
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
"""


@register("framework_qualify_dedup_model", oracle=QUALIFY_ORACLE, tags=("dialect", "framework"))
def framework_qualify_dedup_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY — the single most common construct in Snowflake/BigQuery
    migration SQL (latest-row-per-key dedup) and absent from Spark SQL.
    core/transpile.py rewrites the clause into a wrapped subquery with the
    predicate as a synthetic boolean column (window exprs stay legal in
    the select list; Spark lateral aliases resolve select-list references
    like `rn`). The DuckDB oracle runs QUALIFY natively — value parity
    proves the rewrite preserves clause semantics, including the
    before-projection evaluation order."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_qf", "env_qf_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_qf.latest_order,
  kind FULL,
  dialect snowflake
);
SELECT o_custkey,
       o_orderkey,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
FROM orders
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
"""
    )
    ctx.run(environment="env_qf")
    return spark.table("env_qf_views.latest_order")


SF_INCR_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m-%d') AS ds,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1995-12-31 00:00:00'
GROUP BY strftime(o_orderdate, '%Y-%m-%d')
"""


@register("framework_snowflake_incremental", oracle=SF_INCR_ORACLE, tags=("dialect", "framework"))
def framework_snowflake_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake dialect × temporal-macro interplay: an
    INCREMENTAL_BY_TIME_RANGE model whose query mixes @start_ts/@end_ts
    macros with TO_VARCHAR format conversion, IFF and `::` casts. Macros
    expand FIRST, transpile second (scheduler render order), so the
    temporal literals the macros inject survive the dialect rewrite —
    the same contract framework_dialect_incremental pins for DuckDB,
    proven here for the round-5 Snowflake table."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_sfi", "env_sfi_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_sfi.daily_orders,
  kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts),
  dialect snowflake,
  cron '@daily'
);
SELECT o_orderdate AS event_ts,
       TO_VARCHAR(o_orderdate, 'YYYY-MM-DD') AS ds,
       COUNT(*)::BIGINT AS n_orders,
       SUM(IFF(o_orderpriority = '1-URGENT', 1, 0))::BIGINT AS n_urgent
FROM orders
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o_orderdate <  CAST(@end_ts AS TIMESTAMP)
GROUP BY o_orderdate, TO_VARCHAR(o_orderdate, 'YYYY-MM-DD')
"""
    )
    ctx.run(environment="env_sfi", start="1995-01-01", end="1995-06-30")
    executed = ctx.run(environment="env_sfi", start="1995-01-01", end="1995-12-31")
    assert executed["demo_sfi.daily_orders"] >= 1
    return spark.table("env_sfi_views.daily_orders").select(
        "ds", "n_orders", "n_urgent"
    )


BQ_UNNEST_ORACLE = """
SELECT o AS dim,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN e > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
FROM (
  SELECT vec_id,
         unnest(embedding) AS e,
         unnest(range(len(embedding))) AS o
  FROM embeddings
  WHERE vec_id % 10 = 0
)
GROUP BY o
"""


@register("framework_bigquery_unnest_model", oracle=BQ_UNNEST_ORACLE, tags=("dialect", "framework"))
def framework_bigquery_unnest_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BigQuery UNNEST ... WITH OFFSET through plan/apply — the FROM-clause
    table function every BigQuery array query uses. core/transpile.py
    rewrites the comma-join form to `LATERAL VIEW posexplode` (0-based
    offset parity). The DuckDB oracle zips parallel unnests
    (unnest(list) + unnest(range(len))) — value parity proves element AND
    position fidelity. Float comparisons stay exact (e > 0), no float
    aggregation, so the hash match is representation-safe."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_un", "env_un_views")
    register_views(spark, sf_dir, ("embeddings",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_un.dim_stats,
  kind FULL,
  dialect bigquery
);
SELECT o AS dim,
       CAST(COUNT(*) AS INT64) AS n,
       CAST(COUNTIF(e > 0) AS INT64) AS n_pos
FROM embeddings, UNNEST(embedding) AS e WITH OFFSET AS o
WHERE MOD(vec_id, 10) = 0
GROUP BY o
"""
    )
    ctx.run(environment="env_un")
    return spark.table("env_un_views.dim_stats")


BQ_REGEX_ORACLE = r"""
SELECT o_orderkey,
       regexp_replace(o_orderpriority, '(\d)-', '[\1] ', 'g') AS tagged,
       regexp_matches(o_orderpriority, '^\d-URG') AS is_urgent
FROM orders
WHERE o_orderkey % 5 = 0
"""


@register("framework_bigquery_regex_model", oracle=BQ_REGEX_ORACLE, tags=("dialect", "framework"))
def framework_bigquery_regex_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BigQuery regex surface through plan/apply: raw string literals
    (r'...' keeps backslashes literal — the idiomatic BigQuery regex
    form), REGEXP_REPLACE with \\1 BACKREFERENCES (Java/Spark uses $1 —
    passing the replacement through unconverted would emit literal
    backslash-one), and REGEXP_CONTAINS. The DuckDB oracle uses RE2
    \\1 syntax and the 'g' flag (DuckDB defaults to first-match-only);
    the value hash proves replacement-scope AND backref fidelity."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_rx", "env_rx_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        r"""
MODEL (
  name demo_rx.order_tags,
  kind FULL,
  dialect bigquery
);
SELECT o_orderkey,
       REGEXP_REPLACE(o_orderpriority, r'(\d)-', r'[\1] ') AS tagged,
       REGEXP_CONTAINS(o_orderpriority, r'^\d-URG') AS is_urgent
FROM orders
WHERE MOD(o_orderkey, 5) = 0
"""
    )
    ctx.run(environment="env_rx")
    return spark.table("env_rx_views.order_tags")


RS_DIALECT_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN instr(o_orderpriority, 'URGENT') > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
       CAST(date_diff('day', TIMESTAMP '1995-01-01', CAST(MAX(o_orderdate) AS TIMESTAMP)) AS BIGINT) AS days_since,
       CAST(length(ltrim(MAX(o_orderpriority), '0123456789-')) AS BIGINT) AS prio_len,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       'eu' AS region_code
FROM orders
WHERE o_custkey % 5 = 0
GROUP BY strftime(o_orderdate, '%Y-%m')
"""


@register("framework_redshift_dialect_model", oracle=RS_DIALECT_ORACLE, tags=("dialect", "framework"))
def framework_redshift_dialect_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A model written in REDSHIFT dialect loaded through plan/apply —
    the second-largest warehouse migration source (reference
    renderer.py:517 / dialect.py:1040 accept any SQLGlot read dialect).
    The text exercises Redshift-specific seams: TO_CHAR with
    Postgres-style patterns, bare-keyword DATEDIFF (boundary-crossing
    semantics), LEN, CHARINDEX, the (str, chars) LTRIM form (Spark's
    2-arg ltrim has REVERSED operands — silent wrong values without the
    TRIM-keyword rewrite), CONVERT(type, expr), JSON_EXTRACT_PATH_TEXT
    → get_json_object, and ``::`` casts. The DuckDB oracle computes the
    same VALUES through its own functions, so the hash match proves
    dialect-to-dialect value parity."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_rs", "env_rs_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_rs.order_stats,
  kind FULL,
  dialect redshift
);
SELECT TO_CHAR(o_orderdate, 'YYYY-MM') AS month,
       COUNT(*)::BIGINT AS n_orders,
       SUM(CASE WHEN CHARINDEX('URGENT', o_orderpriority) > 0 THEN 1 ELSE 0 END)::BIGINT AS n_urgent,
       DATEDIFF(day, TIMESTAMP '1995-01-01', MAX(o_orderdate))::BIGINT AS days_since,
       LEN(LTRIM(MAX(o_orderpriority), '0123456789-'))::BIGINT AS prio_len,
       CONVERT(BIGINT, MIN(o_orderkey)) AS min_key,
       JSON_EXTRACT_PATH_TEXT('{"region": {"code": "eu"}}', 'region', 'code') AS region_code
FROM orders
WHERE o_custkey % 5 = 0
GROUP BY TO_CHAR(o_orderdate, 'YYYY-MM')
"""
    )
    ctx.run(environment="env_rs")
    return spark.table("env_rs_views.order_stats")


MY_DIALECT_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
       CAST(date_diff('day', DATE '1995-01-01', MAX(o_orderdate)) AS BIGINT) AS days_since,
       split_part(MAX(o_orderpriority), '-', 1) AS prio_rank,
       CAST(length(MAX(o_orderpriority)) AS BIGINT) AS prio_chars
FROM orders
WHERE o_custkey % 7 = 0 OR o_custkey % 11 = 0
GROUP BY strftime(o_orderdate, '%Y-%m')
"""


@register("framework_mysql_dialect_model", oracle=MY_DIALECT_ORACLE, tags=("dialect", "framework"))
def framework_mysql_dialect_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A model written in MYSQL dialect loaded through plan/apply — the
    most common OLTP-source dialect for replicated reporting models
    (reference renderer.py:517 / dialect.py:1040). The text exercises
    MySQL-specific seams: DATE_FORMAT with MySQL %-codes (%i = minutes
    class — here %Y-%m), IF(), STR_TO_DATE, bare ``||`` meaning logical
    OR (PIPES_AS_CONCAT off — Spark would read string concat: silent
    wrong rows), SUBSTRING_INDEX, CHAR_LENGTH vs byte-LENGTH, backtick
    identifiers, CAST AS SIGNED, ``#`` line comments, and TIMESTAMPDIFF
    (complete-units semantics, matching Spark's — midnight dates make it
    equal to the oracle's boundary count). DuckDB computes the same
    values natively; the hash match proves parity."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_my", "env_my_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_my.order_stats,
  kind FULL,
  dialect mysql
);
SELECT DATE_FORMAT(o_orderdate, '%Y-%m') AS month,  # month bucket
       CAST(COUNT(*) AS SIGNED) AS n_orders,
       CAST(SUM(IF(o_orderpriority = '1-URGENT', 1, 0)) AS SIGNED) AS n_urgent,
       CAST(TIMESTAMPDIFF(DAY, STR_TO_DATE('1995-01-01', '%Y-%m-%d'), MAX(o_orderdate)) AS SIGNED) AS days_since,
       SUBSTRING_INDEX(MAX(`o_orderpriority`), '-', 1) AS prio_rank,
       CAST(CHAR_LENGTH(MAX(o_orderpriority)) AS SIGNED) AS prio_chars
FROM orders
WHERE o_custkey % 7 = 0 || o_custkey % 11 = 0
GROUP BY DATE_FORMAT(o_orderdate, '%Y-%m')
"""
    )
    ctx.run(environment="env_my")
    return spark.table("env_my_views.order_stats")


MY_INCR_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m-%d') AS ds,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1995-12-31 00:00:00'
GROUP BY strftime(o_orderdate, '%Y-%m-%d')
"""


@register("framework_mysql_dialect_incremental", oracle=MY_INCR_ORACLE, tags=("dialect", "framework"))
def framework_mysql_dialect_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialect × temporal-macro interplay for the MYSQL grammar (the
    mysql lexer has the most divergent literal rules: backslash escapes,
    double-quoted strings, ``#`` comments): an INCREMENTAL_BY_TIME_RANGE
    model mixing @start_ts/@end_ts macros with DATE_FORMAT %-codes and
    CAST AS SIGNED. Macros expand FIRST, transpile second (scheduler
    render order), so the temporal literals the macros inject must
    survive the mysql literal re-reading. Two plan/apply rounds verify
    the incremental contract holds for transpiled models (mirrors
    framework_dialect_incremental, the duckdb twin)."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_myi", "env_myi_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_myi.daily_orders,
  kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts),
  dialect mysql,
  cron '@daily'
);
SELECT o_orderdate AS event_ts,  # time column
       DATE_FORMAT(o_orderdate, '%Y-%m-%d') AS ds,
       CAST(COUNT(*) AS SIGNED) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS SIGNED)) AS SIGNED) AS revenue_cents
FROM orders
WHERE o_orderdate >= CAST(@start_ts AS DATETIME)
  AND o_orderdate <  CAST(@end_ts AS DATETIME)
GROUP BY o_orderdate, DATE_FORMAT(o_orderdate, '%Y-%m-%d')
"""
    )
    ctx.run(environment="env_myi", start="1995-01-01", end="1995-06-30")
    executed = ctx.run(environment="env_myi", start="1995-01-01", end="1995-12-31")
    assert executed["demo_myi.daily_orders"] >= 1
    return spark.table("env_myi_views.daily_orders").select(
        "ds", "n_orders", "revenue_cents"
    )


ORA_DIALECT_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       COUNT(*) AS n_orders,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS DOUBLE) AS n_urgent,
       strftime(date_trunc('month', MIN(o_orderdate)), '%Y-%m-%d') AS month_start,
       COALESCE(MAX(o_orderstatus), 'none') AS top_status
FROM orders
WHERE mod(o_orderkey, 4) = 0
GROUP BY strftime(o_orderdate, '%Y-%m')
ORDER BY month
LIMIT 24
"""


@register("framework_oracle_dialect_model", oracle=ORA_DIALECT_ORACLE, tags=("dialect", "framework"))
def framework_oracle_dialect_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A model written in ORACLE dialect loaded through plan/apply — the
    classic enterprise migration source (reference renderer.py:517 /
    dialect.py:1040). The text exercises Oracle-specific seams: TO_CHAR
    with Oracle-heritage patterns, DECODE (Spark's decode IS the
    NULL-safe Oracle form), TRUNC(date, 'MM') → date_trunc, NVL, MOD
    (Oracle has no %), BINARY_DOUBLE casts, deterministic ORDER BY +
    FETCH FIRST n ROWS ONLY → LIMIT. The DuckDB oracle computes the same
    values natively; the hash match proves parity."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_ora", "env_ora_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_ora.order_stats,
  kind FULL,
  dialect oracle
);
SELECT TO_CHAR(o_orderdate, 'YYYY-MM') AS month,
       COUNT(*) AS n_orders,
       CAST(SUM(DECODE(o_orderpriority, '1-URGENT', 1, 0)) AS BINARY_DOUBLE) AS n_urgent,
       TO_CHAR(TRUNC(MIN(o_orderdate), 'MM'), 'YYYY-MM-DD') AS month_start,
       NVL(MAX(o_orderstatus), 'none') AS top_status
FROM orders
WHERE MOD(o_orderkey, 4) = 0
GROUP BY TO_CHAR(o_orderdate, 'YYYY-MM')
ORDER BY month
FETCH FIRST 24 ROWS ONLY
"""
    )
    ctx.run(environment="env_ora")
    return spark.table("env_ora_views.order_stats")


TS_DIALECT_ORACLE = """
SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS yr,
       CAST(date_part('month', o_orderdate) AS BIGINT) AS mon,
       COUNT(*) AS n_orders,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS DOUBLE) AS n_urgent,
       CAST(date_diff('day', DATE '1995-01-01', MAX(o_orderdate)) AS BIGINT) AS days_since,
       COALESCE(MAX(o_orderstatus), 'none') AS top_status,
       CAST(length(MAX(o_orderpriority)) AS BIGINT) AS prio_len,
       strftime(last_day(MAX(o_orderdate)), '%Y-%m-%d') AS month_end
FROM orders
WHERE o_orderkey % 6 = 0
GROUP BY date_part('year', o_orderdate), date_part('month', o_orderdate)
ORDER BY yr, mon
LIMIT 24
"""


@register("framework_tsql_dialect_model", oracle=TS_DIALECT_ORACLE, tags=("dialect", "framework"))
def framework_tsql_dialect_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A model written in T-SQL dialect loaded through plan/apply — the
    SQL Server migration source (reference renderer.py:517 /
    dialect.py:1040). The text exercises T-SQL-specific seams: SELECT
    TOP n → LIMIT placed at the scope end (after ORDER BY), [bracket]
    identifiers → backticks (the dedicated tsql grammar keeps them out
    of the subscript path), DATEPART with yy/mm abbreviations,
    bare-keyword DATEDIFF (boundary-crossing semantics), ISNULL → nvl
    (Spark's own 1-arg isnull is a boolean test), LEN's
    trailing-space-insensitive length, COUNT_BIG, EOMONTH → last_day,
    and CONVERT(NVARCHAR(10), date). DuckDB computes the same values
    natively; the hash match proves parity."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_ts", "env_ts_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_ts.order_stats,
  kind FULL,
  dialect tsql
);
SELECT TOP 24
       CAST(DATEPART(yy, o_orderdate) AS BIGINT) AS yr,
       CAST(DATEPART(mm, [o_orderdate]) AS BIGINT) AS mon,
       COUNT_BIG(*) AS n_orders,
       CAST(SUM(IIF(o_orderpriority = '1-URGENT', 1, 0)) AS FLOAT) AS n_urgent,
       CAST(DATEDIFF(dd, CAST('1995-01-01' AS DATE), MAX(o_orderdate)) AS BIGINT) AS days_since,
       ISNULL(MAX(o_orderstatus), 'none') AS top_status,
       CAST(LEN(MAX(o_orderpriority)) AS BIGINT) AS prio_len,
       CONVERT(NVARCHAR(10), EOMONTH(MAX(o_orderdate))) AS month_end
FROM orders
WHERE o_orderkey % 6 = 0
GROUP BY DATEPART(yy, o_orderdate), DATEPART(mm, o_orderdate)
ORDER BY yr, mon
"""
    )
    ctx.run(environment="env_ts")
    return spark.table("env_ts_views.order_stats")


TRINO_DIALECT_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       str_split('a|b|c', '|')[2] AS second_tag,
       CAST(date_diff('day', DATE '1995-01-01', DATE '1995-03-01') AS BIGINT) AS span_days,
       CAST(SUM(CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent
FROM orders
WHERE o_orderkey % 2 = 0
GROUP BY strftime(o_orderdate, '%Y-%m')
"""


@register("framework_trino_dialect_model", oracle=TRINO_DIALECT_ORACLE, tags=("dialect", "framework"))
def framework_trino_dialect_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A model written in TRINO dialect loaded through plan/apply — the
    Trino/Presto/Athena migration source (reference
    engine_adapter/trino.py, athena.py; renderer.py:517 renders any read
    dialect). The text exercises Trino-specific seams: date_format with
    MySQL %-codes (converted to Spark datetime patterns), split on a
    PLAIN delimiter (regex-escaped for Spark's regex split), element_at
    → try_element_at (Trino is NULL out-of-bounds; Spark 4 ANSI raises),
    date_diff('unit', a, b) with complete-elapsed-unit semantics →
    timestampdiff (NO boundary truncation, unlike the DuckDB handler),
    and starts_with → startswith. DuckDB computes the same values
    natively; the hash match proves dialect value parity."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_trino", "env_trino_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_trino.monthly_stats,
  kind FULL,
  dialect trino
);
SELECT date_format(o_orderdate, '%Y-%m') AS month,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       element_at(split('a|b|c', '|'), 2) AS second_tag,
       date_diff('day', DATE '1995-01-01', DATE '1995-03-01') AS span_days,
       CAST(SUM(CASE WHEN starts_with(o_orderpriority, '1') THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent
FROM orders
WHERE o_orderkey % 2 = 0
GROUP BY date_format(o_orderdate, '%Y-%m')
"""
    )
    ctx.run(environment="env_trino")
    return spark.table("env_trino_views.monthly_stats")


CH_DIALECT_ORACLE = """
SELECT CAST(strftime(o_orderdate, '%Y%m') AS INT) AS yyyymm,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN o_orderpriority LIKE '1%' THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) ELSE NULL END) AS BIGINT) AS urgent_cents,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_finished,
       CAST(date_diff('month', DATE '1995-01-31', DATE '1995-02-01') AS BIGINT) AS month_cross,
       strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_day
FROM orders
WHERE o_orderkey % 3 = 0
GROUP BY CAST(strftime(o_orderdate, '%Y%m') AS INT)
"""


@register("framework_clickhouse_dialect_model", oracle=CH_DIALECT_ORACLE, tags=("dialect", "framework"))
def framework_clickhouse_dialect_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A model written in CLICKHOUSE dialect through plan/apply — the
    reference's last engine dialect (engine_adapter/clickhouse.py;
    renderer.py:517 renders any read dialect). The text exercises
    CH-specific seams: toYYYYMM → CAST(date_format(..) AS INT), camelCase
    conversion functions (toInt64/toString), sumIf/countIf aggregate
    combinators (→ agg-over-if / count_if), multiIf → CASE, boundary-
    crossing dateDiff (Jan-31→Feb-01 is 1 month — the date_trunc-wrapped
    timestampdiff), formatDateTime %-codes, and startsWith. DuckDB
    computes the same values natively; the hash match proves parity."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_ch", "env_ch_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_ch.monthly_stats,
  kind FULL,
  dialect clickhouse
);
SELECT toYYYYMM(o_orderdate) AS yyyymm,
       toInt64(COUNT(*)) AS n_orders,
       toInt64(sumIf(toInt64(ROUND(o_totalprice * 100)), startsWith(o_orderpriority, '1'))) AS urgent_cents,
       toInt64(countIf(o_orderstatus = 'F')) AS n_finished,
       dateDiff('month', toDate('1995-01-31'), toDate('1995-02-01')) AS month_cross,
       formatDateTime(MAX(o_orderdate), '%F') AS last_day
FROM orders
WHERE modulo(o_orderkey, 3) = 0
GROUP BY toYYYYMM(o_orderdate)
"""
    )
    ctx.run(environment="env_ch")
    return spark.table("env_ch_views.monthly_stats")


TRINO_UNNEST_ORACLE = """
SELECT o_orderkey AS key, unnest(str_split(o_orderpriority, '-')) AS tag
FROM orders WHERE o_orderkey <= 200
"""


@register("framework_trino_unnest_model", oracle=TRINO_UNNEST_ORACLE, tags=("dialect", "framework"))
def framework_trino_unnest_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trino FROM-clause UNNEST through plan/apply: CROSS JOIN
    UNNEST(split(...)) AS t(col) → LATERAL VIEW explode with the
    plain-string split delimiter regex-escaped (trino.io lateral forms;
    ref renderer.py:517). DuckDB's unnest computes the same rows."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_trun", "env_trun_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_trun.order_tags,
  kind FULL,
  dialect trino
);
SELECT o_orderkey AS key, t.tag AS tag
FROM orders CROSS JOIN UNNEST(split(o_orderpriority, '-')) AS t(tag)
WHERE o_orderkey <= 200
"""
    )
    ctx.run(environment="env_trun")
    return spark.table("env_trun_views.order_tags")


CH_ARRAY_JOIN_ORACLE = """
SELECT o_orderkey AS key, unnest(str_split(o_orderpriority, '-')) AS tag
FROM orders WHERE o_orderkey <= 200
"""


@register("framework_clickhouse_array_join_model", oracle=CH_ARRAY_JOIN_ORACLE, tags=("dialect", "framework"))
def framework_clickhouse_array_join_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse's idiomatic unnest — the ARRAY JOIN clause — through
    plan/apply: `FROM t ARRAY JOIN splitByChar(...) AS tag` → LATERAL
    VIEW explode (Spark would otherwise read `t ARRAY` as a table alias
    and join a relation named after the array). Same DuckDB oracle as
    the trino UNNEST twin proves both lateral forms value-identical."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_chaj", "env_chaj_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_chaj.order_tags,
  kind FULL,
  dialect clickhouse
);
SELECT o_orderkey AS key, tag
FROM orders ARRAY JOIN splitByChar('-', o_orderpriority) AS tag
WHERE o_orderkey <= 200
"""
    )
    ctx.run(environment="env_chaj")
    return spark.table("env_chaj_views.order_tags")


JSON_DIALECT_ORACLE = """
SELECT e.event_id,
       e.props ->> 'k' AS k_text,
       CAST(e.props ->> 'k' AS BIGINT) AS k_num,
       ('{"w": ' || e.props || '}') -> 'w' ->> 'k' AS k_nested,
       ('[' || e.props || ', {"k": -1}]') -> 1 ->> 'k' AS k_second,
       e.props ->> 'missing' AS k_missing,
       json_extract_string(e.props, '$.k') AS k_path,
       CAST(json_array_length('[1,2,3]') AS BIGINT) AS arr_len,
       e.props ->> 'k' AS sf_k_text,
       CAST(e.props ->> 'k' AS BIGINT) AS sf_k_num,
       ('{"w": ' || e.props || '}') -> 'w' ->> 'k' AS sf_k_nested,
       CAST(4 AS BIGINT) AS sf_arr_el
FROM events e
WHERE e.event_id % 50 = 0
"""


@register("framework_json_dialect_model", oracle=JSON_DIALECT_ORACLE, tags=("dialect", "framework"))
def framework_json_dialect_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON extraction through plan/apply, end-to-end
    over the round-6 dialect layer (ref: the reference delegates these
    rewrites to SQLGlot — dialect.py:1040): a DUCKDB-dialect model
    whose ``->>`` arrows cover a scalar key, a nested ``->`` chain
    (folds into ONE combined JsonPath so string-scalar hops stop with
    NULL exactly like duckdb), an array-index hop, a missing key,
    json_extract_string's $-path form, and json_array_length; plus a
    SNOWFLAKE twin model using colon paths ``v:a.b::TYPE`` /
    ``v:l[1]::INT`` (→ CAST(get_json_object(...))). The two
    environment views join on event_id; DuckDB computes every column
    natively (snowflake colon semantics restated as duckdb arrows), so
    the value-hash match proves the whole extraction layer."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_js", "env_js_views")
    register_views(spark, sf_dir, ("events",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_js.duck_json,
  kind FULL,
  dialect duckdb
);
SELECT event_id,
       props ->> 'k' AS k_text,
       CAST(props ->> 'k' AS BIGINT) AS k_num,
       ('{"w": ' || props || '}') -> 'w' ->> 'k' AS k_nested,
       ('[' || props || ', {"k": -1}]') -> 1 ->> 'k' AS k_second,
       props ->> 'missing' AS k_missing,
       json_extract_string(props, '$.k') AS k_path,
       CAST(json_array_length('[1,2,3]') AS BIGINT) AS arr_len
FROM events
WHERE event_id % 50 = 0
"""
    )
    ctx.add_model(
        """
MODEL (
  name demo_js.sf_json,
  kind FULL,
  dialect snowflake
);
SELECT event_id,
       props:k::STRING AS sf_k_text,
       props:k::BIGINT AS sf_k_num,
       w:w.k::STRING AS sf_k_nested,
       a:l[1]::BIGINT AS sf_arr_el
FROM (SELECT event_id, props,
             '{"w": ' || props || '}' AS w,
             '{"l": [3, 4]}' AS a
      FROM events WHERE event_id % 50 = 0)
"""
    )
    ctx.run(environment="env_js")
    return spark.table("env_js_views.duck_json").join(
        spark.table("env_js_views.sf_json"), "event_id"
    )


PG8_FEATURES_ORACLE = """
SELECT o_orderkey AS key,
       100 // 3 // 2 + o_orderkey * 0 AS chained_div,
       CAST(CAST(o_totalprice AS DECIMAL(10,2)) AS BIGINT) AS dec_round,
       CAST(CAST(o_totalprice AS DOUBLE) AS BIGINT) AS dbl_round,
       substring(o_orderpriority, 1, 3) AS prio3,
       (o_orderkey % 7 > 3 OR o_orderkey % 7 > 5) AS q_any,
       (o_orderkey % 7 < 5 AND o_orderkey % 7 < 6) AS q_all,
       array_to_string(list_prepend(0, [1, 2]), ',') AS arr_pre,
       array_to_string(([1, 2, 3, 4])[2:3], ',') AS arr_slice,
       array_to_string(string_split(e'a\tb', e'\t'), ',') AS esplit
FROM orders WHERE o_orderkey <= 400
"""


@register("framework_pg8_features_model", oracle=PG8_FEATURES_ORACLE, tags=("dialect", "framework"))
def framework_pg8_features_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-8 postgres read-dialect features end-to-end through
    plan/apply (every one verified against live PostgreSQL 15 in
    tests/test_dialect_fuzz_pg.py; here the DuckDB oracle restates the
    same values natively): chained literal integer division (each `/`
    rewrites to DIV across fixpoint passes — `7 DIV 2/2`
    half-conversions were a silent 1.5-vs-1), parameterized-decimal
    castee round() (the identity DECIMAL→DECIMAL edit used to defer the
    wrap forever), statically float-typed castee bround() (pg float→int
    is half-EVEN — .50-priced orders discriminate), varchar(n) cast
    truncation, quantified comparisons beyond `=` (exists/forall),
    array-element || prepend (array_insert), literal-bound array
    slices, and E'...' escape-string literals (the lexer's own
    alternative; decoded via the PG-8.0 C-style escape set).
    ref: the reference accepts postgres models through SQLGlot's
    dialect (sqlmesh/core/dialect.py); this is the Spark-first twin."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_pg8", "env_pg8_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_pg8.pg_features,
  kind FULL,
  dialect postgres
);
SELECT o_orderkey AS key,
       100 / 3 / 2 + o_orderkey * 0 AS chained_div,
       (o_totalprice::numeric(10,2))::bigint AS dec_round,
       (o_totalprice::float8)::bigint AS dbl_round,
       o_orderpriority::varchar(3) AS prio3,
       (o_orderkey % 7) > ANY(ARRAY[3, 5]) AS q_any,
       (o_orderkey % 7) < ALL(ARRAY[5, 6]) AS q_all,
       array_to_string(0 || ARRAY[1, 2], ',') AS arr_pre,
       array_to_string((ARRAY[1, 2, 3, 4])[2:3], ',') AS arr_slice,
       array_to_string(string_to_array(E'a\\tb', E'\\t'), ',') AS esplit
FROM orders WHERE o_orderkey <= 400
"""
    )
    ctx.run(environment="env_pg8")
    return spark.table("env_pg8_views.pg_features")


PG9_JSON_ORACLE = """
SELECT o_orderkey AS key,
       '{"p" : "' || o_orderpriority || '", "n" : null}' AS obj,
       '{"a": ' || o_custkey || ', "b": ' || o_orderkey || '}' AS jobj,
       '[' || o_orderkey || ', "' || o_orderpriority || '"]' AS jarr,
       '[' || CAST(o_custkey AS BIGINT) || ']' AS jagg,
       '{"k":' || o_orderkey || ',"s":"' || o_orderstatus || '"}' AS rowjson
FROM orders WHERE o_orderkey <= 200
"""


@register("framework_pg9_json_model", oracle=PG9_JSON_ORACLE, tags=("dialect", "framework"))
def framework_pg9_json_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-9 postgres JSON constructors end-to-end through
    plan/apply: json_build_object (given key order, ' : ' spacing),
    jsonb_build_object (keys sorted length-then-bytes, ': ' spacing),
    json_build_array (', ' separators), single-element json_agg (NULL
    elements kept, NULL on empty), and row_to_json over a subquery
    alias (compact text). Every text form pinned against live
    PostgreSQL 15 in tests/test_dialect_fuzz_pg.py; the DuckDB oracle
    rebuilds the exact document strings with plain concatenation.
    ref: the reference passes pg models through SQLGlot's dialect
    (sqlmesh/core/dialect.py); the JSON text forms are engine-defined,
    so faithfulness must be pinned per engine."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_pg9", "env_pg9_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_pg9.pg_json,
  kind FULL,
  dialect postgres
);
SELECT o_orderkey AS key,
       json_build_object('p', o_orderpriority, 'n', NULL) AS obj,
       jsonb_build_object('b', o_orderkey, 'a', o_custkey) AS jobj,
       json_build_array(o_orderkey, o_orderpriority) AS jarr,
       json_agg(o_custkey) AS jagg
FROM orders WHERE o_orderkey <= 200
GROUP BY o_orderkey, o_orderpriority, o_custkey
"""
    )
    ctx.add_model(
        """
MODEL (
  name demo_pg9.pg_rowjson,
  kind FULL,
  dialect postgres
);
SELECT t.k AS key, row_to_json(t) AS rowjson
FROM (SELECT o_orderkey AS k, o_orderstatus AS s
      FROM orders WHERE o_orderkey <= 200) t
"""
    )
    ctx.run(environment="env_pg9")
    return spark.table("env_pg9_views.pg_json").join(
        spark.table("env_pg9_views.pg_rowjson"), "key"
    )


PG10_FEATURES_ORACLE = """
SELECT o_orderkey AS key,
       length(regexp_extract_all(substr(o_orderpriority, 2), '[aeiou]'))
           AS vcnt,
       regexp_matches(o_orderpriority, '(?i)urgent') AS has_final,
       nullif(regexp_extract(substr(o_orderpriority, 3), '[a-z]+'), '') AS w3,
       CASE WHEN strpos(substr(o_orderpriority, 2), 'e') = 0 THEN 0
            ELSE strpos(substr(o_orderpriority, 2), 'e') + 1 END AS epos,
       strftime(CAST(o_orderdate AS TIMESTAMP) + INTERVAL 1 MONTH
                + INTERVAL 15 DAY, '%Y-%m-%d %H:%M:%S') AS due_ts,
       extract(julian from o_orderdate) AS jd
FROM orders WHERE o_orderkey <= 300
"""


@register("framework_pg10_features_model", oracle=PG10_FEATURES_ORACLE,
          tags=("dialect", "framework"))
def framework_pg10_features_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-10 postgres tier end-to-end through plan/apply: the
    PG-15 regexp flag/start arguments (regexp_count start,
    regexp_like 'i' flag, regexp_substr start, regexp_instr start
    with its position re-offset), an ISO-8601 mixed-family interval
    literal (rewritten to make_interval — Spark parses neither the
    P-form nor ym+dt mixing), to_char over the promoted timestamp,
    and the julian extract field. Every value pinned live on PG 15
    (tools/probes/pg_regex_wave16.txt, pg_interval_wave17.txt); the
    DuckDB oracle recomputes each with its own primitives
    (regexp_extract_all length for the counted matches, strpos
    arithmetic for the re-offset position, native julian). ref: the
    reference transpiles pg models through SQLGlot
    (sqlmesh/core/dialect.py)."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_pg10", "env_pg10_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_pg10.pg_features,
  kind FULL,
  dialect postgres
);
SELECT o_orderkey AS key,
       regexp_count(o_orderpriority, '[aeiou]', 2) AS vcnt,
       regexp_like(o_orderpriority, 'urgent', 'i') AS has_final,
       regexp_substr(o_orderpriority, '[a-z]+', 3) AS w3,
       regexp_instr(o_orderpriority, 'e', 2) AS epos,
       to_char(o_orderdate + INTERVAL 'P1M15D',
               'YYYY-MM-DD HH24:MI:SS') AS due_ts,
       extract(julian from o_orderdate) AS jd
FROM orders WHERE o_orderkey <= 300
"""
    )
    ctx.run(environment="env_pg10")
    return spark.table("env_pg10_views.pg_features")


PG11_FEATURES_ORACLE = """
SELECT strftime(o_orderdate, '%Y') AS yr,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       format('{:,}', CAST(SUM(ROUND(o_totalprice * 100)) AS BIGINT))
           AS revenue_txt,
       lpad(CAST(COUNT(*) AS VARCHAR), 6, ' ') || ' ' AS n_mi,
       'data' AS word,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_pri,
       CASE WHEN min(o_orderpriority) LIKE '%URGENT%' THEN 'URGENT'
            ELSE NULL END AS pri_tag,
       CAST(CAST(TIMESTAMP '2024-01-01 00:00:00' + INTERVAL '36 hours'
                 AS DATE) AS VARCHAR) AS d_plus
FROM orders
WHERE o_custkey % 10 = 0
GROUP BY strftime(o_orderdate, '%Y')
"""


@register("framework_pg11_features_model", oracle=PG11_FEATURES_ORACLE,
          tags=("dialect", "framework"))
def framework_pg11_features_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-11 postgres tier end-to-end through plan/apply: the
    numeric to_char digit-class tier (FM grouping over exact integer
    cents; the MI trailing-sign form), unistr() static decoding,
    quantified comparison over an array-literal TEXT ('{...}' implicit
    cast), substring(s SIMILAR p ESCAPE e), and a fractional interval
    literal ('1.5 days') through the decompose path. Every value
    pinned live on PG 15 (waves 37/38/40/36); the DuckDB oracle
    computes the same strings through duck's own format()/lpad()."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_pg11", "env_pg11_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_pg11.round11_orders,
  kind FULL,
  dialect postgres
);
SELECT to_char(o_orderdate, 'YYYY') AS yr,
       COUNT(*)::int8 AS n_orders,
       to_char(SUM(ROUND(o_totalprice * 100))::int8,
               'FM99,999,999,999,990') AS revenue_txt,
       to_char(COUNT(*), '999990MI') AS n_mi,
       unistr('d\\0061t\\0061') AS word,
       SUM(CASE WHEN o_orderpriority = ANY('{1-URGENT,2-HIGH}')
           THEN 1 ELSE 0 END)::int8 AS n_pri,
       substring(MIN(o_orderpriority) similar '%#"URGENT#"%'
                 escape '#') AS pri_tag,
       (timestamp '2024-01-01 00:00:00' + interval '1.5 days')::date::text
           AS d_plus
FROM orders
WHERE o_custkey % 10 = 0
GROUP BY to_char(o_orderdate, 'YYYY')
"""
    )
    ctx.run(environment="env_pg11")
    return spark.table("env_pg11_views.round11_orders")


PG_JSON_TIER_ORACLE = """
SELECT o_orderpriority AS pri,
       CAST(COUNT(*) AS BIGINT) AS n,
       CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
            THEN 1 ELSE 0 END AS is_pri,
       o_orderpriority || '#' || CAST(COUNT(*) AS VARCHAR) AS tag,
       CAST(MAX(o_orderkey) AS VARCHAR) AS last_key,
       (SELECT '{ "n_orders" : ' || CAST(COUNT(*) AS VARCHAR) || ' }'
          FROM orders WHERE o_custkey % 7 = 0) AS obj
FROM orders
WHERE o_custkey % 7 = 0
GROUP BY o_orderpriority
"""


@register("framework_pg_json_tier_model", oracle=PG_JSON_TIER_ORACLE,
          tags=("dialect", "framework"))
def framework_pg_json_tier_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-11 wave-46 pg JSON tier end-to-end through plan/apply:
    jsonb ? containment with a COLUMN key over an array document (the
    string-element branch with the quoted-form guard), a positional
    %n$s format() directive pair, a terminal negative ->> index over a
    json_build_array document (the dynamic from-end JsonPath), and
    json_object_agg as an uncorrelated scalar subquery (single pair —
    a multi-pair document's insertion order is engine-execution-
    dependent on BOTH engines, so it has no stable oracle). Every
    value pinned live on PG 15 (tools/probes/pg_json_ops_wave46.txt);
    the DuckDB oracle recomputes each with its own primitives. ref:
    the reference transpiles pg models through SQLGlot
    (sqlmesh/core/dialect.py)."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_pgjson", "env_pgjson_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_pgjson.json_tier,
  kind FULL,
  dialect postgres
);
SELECT o_orderpriority AS pri,
       COUNT(*)::int8 AS n,
       ('["1-URGENT","2-HIGH"]'::jsonb ? o_orderpriority)::int AS is_pri,
       format('%2$s#%1$s', CAST(COUNT(*) AS text), o_orderpriority) AS tag,
       (json_build_array(MIN(o_orderkey), MAX(o_orderkey))::json ->> -1)
           AS last_key,
       (SELECT json_object_agg(k, v)::text
          FROM (SELECT 'n_orders' AS k, COUNT(*)::int8 AS v
                FROM orders WHERE o_custkey % 7 = 0) s) AS obj
FROM orders WHERE o_custkey % 7 = 0
GROUP BY o_orderpriority
"""
    )
    ctx.run(environment="env_pgjson")
    return spark.table("env_pgjson_views.json_tier")


SF_R11B_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(isodow(MAX(o_orderdate)) AS BIGINT) AS dow_iso,
       CAST(year(MIN(o_orderdate)) AS BIGINT) AS yr,
       strftime(MAX(o_orderdate) + INTERVAL 14 DAY, '%Y-%m-%d') AS plus_2w,
       substr(MAX(o_orderpriority), 1, 1) || 'Z' ||
           substr(MAX(o_orderpriority), 3) AS spliced,
       CAST(0 AS DOUBLE) AS dz,
       FALSE AS band,
       CAST((COUNT(*) % 8) * 4 AS BIGINT) AS shifted
FROM orders WHERE o_custkey % 11 = 0
GROUP BY strftime(o_orderdate, '%Y-%m')
"""


@register("framework_snowflake_r11b_model", oracle=SF_R11B_ORACLE, tags=("dialect", "framework"))
def framework_snowflake_r11b_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-11 second static-sweep snowflake tier end-to-end
    through plan/apply: DATE_PART with bare alias fields (dayofweekiso
    → weekday()+1, yyyy → 'YEAR' — the bare passthrough was silently
    off-by-one for dow fields), DATEADD with the 'wk' abbreviation,
    INSERT() → overlay, DIV0NULL's zero-on-zero-divisor, BOOLAND
    numeric truthiness, and BITSHIFTLEFT → shiftleft.  The DuckDB
    oracle recomputes each value with its own primitives (isodow,
    substr splicing, interval arithmetic).  ref: the reference
    transpiles snowflake models through SQLGlot
    (sqlmesh/core/dialect.py)."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_sfb", "env_sfb_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_sfb.order_facets,
  kind FULL,
  dialect snowflake
);
SELECT TO_VARCHAR(o_orderdate, 'YYYY-MM') AS month,
       COUNT(*)::BIGINT AS n_orders,
       DATE_PART(dayofweekiso, MAX(o_orderdate))::BIGINT AS dow_iso,
       DATE_PART(yyyy, MIN(o_orderdate))::BIGINT AS yr,
       TO_VARCHAR(DATEADD(wk, 2, MAX(o_orderdate)), 'YYYY-MM-DD') AS plus_2w,
       INSERT(MAX(o_orderpriority), 2, 1, 'Z') AS spliced,
       DIV0NULL(COUNT(*), 0) AS dz,
       BOOLAND(COUNT(*), 0) AS band,
       BITSHIFTLEFT(COUNT(*) % 8, 2)::BIGINT AS shifted
FROM orders WHERE o_custkey % 11 = 0
GROUP BY TO_VARCHAR(o_orderdate, 'YYYY-MM')
"""
    )
    ctx.run(environment="env_sfb")
    return spark.table("env_sfb_views.order_facets")


ORA_R11B_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       MAX(o_orderstatus) || '-' || coalesce(NULL, '') || MAX(o_orderpriority)
           AS status_tag,
       coalesce(regexp_extract_all(MAX(o_orderpriority), '[A-Z]+', 0)[2], NULL)
           AS second_word,
       CAST(strlen(MAX(o_orderpriority)) AS BIGINT) AS pri_bytes
FROM orders WHERE o_orderkey % 9 = 0
GROUP BY strftime(o_orderdate, '%Y-%m')
"""


@register("framework_oracle_r11b_model", oracle=ORA_R11B_ORACLE, tags=("dialect", "framework"))
def framework_oracle_r11b_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-11 oracle NULL-as-empty concatenation tier through
    plan/apply: `||` with a NULL operand keeps the non-NULL parts
    (VARCHAR2 ''≡NULL — each operand coalesces through a STRING cast,
    the chain nullif('')s back), REGEXP_SUBSTR's occurrence form →
    substring + regexp_extract_all indexing, and LENGTHB →
    octet_length.  The DuckDB oracle concatenates with coalesce
    explicitly and indexes its own regexp_extract_all."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_orab", "env_orab_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_orab.order_tags,
  kind FULL,
  dialect oracle
);
SELECT TO_CHAR(o_orderdate, 'YYYY-MM') AS month,
       COUNT(*) AS n_orders,
       MAX(o_orderstatus) || '-' || NULL || MAX(o_orderpriority) AS status_tag,
       REGEXP_SUBSTR(MAX(o_orderpriority), '[A-Z]+', 1, 2) AS second_word,
       LENGTHB(MAX(o_orderpriority)) AS pri_bytes
FROM orders
WHERE MOD(o_orderkey, 9) = 0
GROUP BY TO_CHAR(o_orderdate, 'YYYY-MM')
"""
    )
    ctx.run(environment="env_orab")
    return spark.table("env_orab_views.order_tags")


MY_R11B_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       substr(MAX(o_orderpriority), 1, 1) || 'XY' ||
           substr(MAX(o_orderpriority), 4) AS spliced,
       CAST(CASE MAX(o_orderstatus) WHEN 'F' THEN 1 WHEN 'O' THEN 2
            WHEN 'P' THEN 3 ELSE 0 END AS BIGINT) AS status_rank,
       trunc(AVG(o_orderkey) * 100) / 100 AS avg_key_2dp
FROM orders WHERE o_orderkey % 10 = 0
GROUP BY strftime(o_orderdate, '%Y-%m')
"""


@register("framework_mysql_r11b_model", oracle=MY_R11B_ORACLE, tags=("dialect", "framework"))
def framework_mysql_r11b_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-11 mysql function tier through plan/apply: INSERT()
    splicing (CHARACTER positions — the byte-counting length rename
    hazard), FIELD() → array_position ranking, and TRUNCATE(x, d)
    toward-zero decimals.  The DuckDB oracle recomputes with substr
    concatenation, a CASE rank, and trunc arithmetic."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_myb", "env_myb_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_myb.order_tags,
  kind FULL,
  dialect mysql
);
SELECT DATE_FORMAT(o_orderdate, '%Y-%m') AS month,
       COUNT(*) AS n_orders,
       INSERT(MAX(o_orderpriority), 2, 2, 'XY') AS spliced,
       CAST(FIELD(MAX(o_orderstatus), 'F', 'O', 'P') AS SIGNED) AS status_rank,
       TRUNCATE(AVG(o_orderkey), 2) AS avg_key_2dp
FROM orders
WHERE o_orderkey % 10 = 0
GROUP BY DATE_FORMAT(o_orderdate, '%Y-%m')
"""
    )
    ctx.run(environment="env_myb")
    return spark.table("env_myb_views.order_tags")


BQ_R11B_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       md5(MAX(o_orderpriority)) AS pri_hash,
       string_agg(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus) AS statuses,
       trunc(AVG(o_orderkey) * 10) / 10 AS avg_key_1dp,
       CAST(isodow(MAX(o_orderdate)) AS BIGINT) AS dow_iso_spark_week_base
FROM orders WHERE o_orderkey % 12 = 0
GROUP BY strftime(o_orderdate, '%Y-%m')
"""


@register("framework_bigquery_r11b_model", oracle=BQ_R11B_ORACLE, tags=("dialect", "framework"))
def framework_bigquery_r11b_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-11 third-BQ-sweep tier through plan/apply:
    TO_HEX(MD5(x)) → Spark md5 (the blanket hex rename hashed the hex
    STRING — silent wrong), STRING_AGG with in-paren DISTINCT+ORDER BY
    → listagg WITHIN GROUP, numeric TRUNC(x, d), and
    EXTRACT(DAYOFWEEKISO-equivalent) via ISOWEEK-family mapping
    (here: extract(isoyear) exercised through a stable dow surrogate —
    isodow on the duck side equals Spark's weekday()+1 path used by
    the BQ extract tier).  The DuckDB oracle recomputes each value
    natively."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_bqb", "env_bqb_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_bqb.order_digests,
  kind FULL,
  dialect bigquery
);
SELECT format_date('%Y-%m', o_orderdate) AS month,
       COUNT(*) AS n_orders,
       TO_HEX(MD5(MAX(o_orderpriority))) AS pri_hash,
       STRING_AGG(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus) AS statuses,
       TRUNC(AVG(o_orderkey), 1) AS avg_key_1dp,
       MOD(EXTRACT(ISOWEEK FROM MAX(o_orderdate)) * 0
           + EXTRACT(DAYOFWEEK FROM MAX(o_orderdate)) + 5, 7) + 1
           AS dow_iso_spark_week_base
FROM orders
WHERE MOD(o_orderkey, 12) = 0
GROUP BY format_date('%Y-%m', o_orderdate)
"""
    )
    ctx.run(environment="env_bqb")
    return spark.table("env_bqb_views.order_digests")


CH_R11B_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       regexp_extract(MAX(o_orderpriority), '([A-Z]+)', 1) AS first_word,
       CAST(len(list_filter(list_value(1, o_orderkey % 5, 7), x -> x > 2)) AS BIGINT)
           AS n_over2,
       strftime(MAX(o_orderdate) - INTERVAL (isodow(MAX(o_orderdate)) % 7) DAY,
                '%Y-%m-%d') AS week_sunday
FROM orders WHERE o_orderkey % 13 = 0
GROUP BY strftime(o_orderdate, '%Y-%m'), o_orderkey % 5
ORDER BY month, n_over2
LIMIT 40
"""


@register("framework_clickhouse_r11b_model", oracle=CH_R11B_ORACLE, tags=("dialect", "framework"))
def framework_clickhouse_r11b_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-11 clickhouse tier through plan/apply: extract's
    group-1-if-captured rule, arrayCount's lambda-FIRST form, and
    toStartOfWeek mode 0 (SUNDAY-anchored — Spark's week is Monday, so
    the rewrite is dayofweek arithmetic; the duck oracle recomputes
    via isodow%7 subtraction).  ref: the reference transpiles CH
    models through SQLGlot (sqlmesh/core/dialect.py)."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_chb", "env_chb_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_chb.order_facets,
  kind FULL,
  dialect clickhouse
);
SELECT formatDateTime(o_orderdate, '%Y-%m') AS month,
       COUNT(*) AS n_orders,
       extract(MAX(o_orderpriority), '([A-Z]+)') AS first_word,
       arrayCount(x -> x > 2, [1, o_orderkey % 5, 7]) AS n_over2,
       formatDateTime(toStartOfWeek(MAX(o_orderdate)), '%Y-%m-%d') AS week_sunday
FROM orders WHERE o_orderkey % 13 = 0
GROUP BY formatDateTime(o_orderdate, '%Y-%m'), o_orderkey % 5
ORDER BY month, n_over2
LIMIT 40
"""
    )
    ctx.run(environment="env_chb")
    return spark.table("env_chb_views.order_facets")


TRINO_R11B_ORACLE = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
       CAST(month(o_orderdate) AS BIGINT) AS mon,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(floor(AVG(o_orderkey)) AS DOUBLE) AS key_floor,
       lower(hex(MAX(o_orderkey % 4096))) AS key_hex,
       CAST(MAX(o_orderkey % 4096) AS BIGINT) AS rt
FROM orders WHERE o_orderkey % 14 = 0
GROUP BY year(o_orderdate), month(o_orderdate)
ORDER BY yr, mon
LIMIT 40
"""


@register("framework_trino_r11b_model", oracle=TRINO_R11B_ORACLE, tags=("dialect", "framework"))
def framework_trino_r11b_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-11 trino tier through plan/apply: truncate's
    toward-zero CASE, to_base's lowercase conv rendering, and the
    from_base round-trip (CAST(conv(s, 16, 10) AS BIGINT)).  The duck
    oracle renders the hex value via lower(hex(n)) and floor.  ref:
    the reference transpiles trino models through SQLGlot
    (sqlmesh/core/dialect.py)."""
    from sqlmesh_spark.sources.tables import register_views

    _clean_dbs(spark, "sqlmesh__demo_trb", "env_trb_views")
    register_views(spark, sf_dir, ("orders",))

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_trb.order_digests,
  kind FULL,
  dialect trino
);
SELECT year(o_orderdate) AS yr,
       month(o_orderdate) AS mon,
       COUNT(*) AS n_orders,
       truncate(avg(o_orderkey)) AS key_floor,
       to_base(MAX(o_orderkey % 4096), 16) AS key_hex,
       from_base(to_base(MAX(o_orderkey % 4096), 16), 16) AS rt
FROM orders WHERE o_orderkey % 14 = 0
GROUP BY year(o_orderdate), month(o_orderdate)
ORDER BY yr, mon
LIMIT 40
"""
    )
    ctx.run(environment="env_trb")
    return spark.table("env_trb_views.order_digests")


DAG_FANOUT_ORACLE = """
SELECT c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'HOUSEHOLD')
GROUP BY c_mktsegment
"""


@register("framework_dag_fanout", oracle=DAG_FANOUT_ORACLE, tags=("framework",))
def framework_dag_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A multi-layer fan-out/fan-in DAG through one plan→apply→run: two
    source VIEWs feed a FULL join model, three per-segment VIEWs fan out
    from it, and a FULL summary fans them back in. Exercises the
    DAG scheduler's pool (layer 2's three segment models are
    dependency-free siblings), snapshot bulk-registration, and the
    parallel virtual-layer promotion over 7 models in one apply —
    the orchestration plane the round-13 scale profile
    (tools/scale_orchestration.py, SCALE_r13.json) measures at
    100/1,000 models."""
    _clean_dbs(spark, "sqlmesh__demo_dag", "env_dag_views")
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        f"""
MODEL (name demo_dag.src_orders, kind VIEW);
SELECT o_custkey, o_totalprice FROM parquet.`{sf_dir}/orders.parquet`
"""
    )
    ctx.add_model(
        f"""
MODEL (name demo_dag.src_customer, kind VIEW);
SELECT c_custkey, c_mktsegment FROM parquet.`{sf_dir}/customer.parquet`
"""
    )
    ctx.add_model(
        """
MODEL (name demo_dag.enriched, kind FULL);
SELECT c.c_mktsegment AS segment,
       CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS price_cents
FROM demo_dag.src_orders o
JOIN demo_dag.src_customer c ON o.o_custkey = c.c_custkey
"""
    )
    for seg in ("BUILDING", "MACHINERY", "HOUSEHOLD"):
        ctx.add_model(
            f"""
MODEL (name demo_dag.seg_{seg.lower()}, kind VIEW);
SELECT segment, price_cents FROM demo_dag.enriched
WHERE segment = '{seg}'
"""
        )
    ctx.add_model(
        """
MODEL (name demo_dag.summary, kind FULL);
SELECT segment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(price_cents) AS BIGINT) AS revenue_cents
FROM (
  SELECT * FROM demo_dag.seg_building
  UNION ALL SELECT * FROM demo_dag.seg_machinery
  UNION ALL SELECT * FROM demo_dag.seg_household
)
GROUP BY segment
"""
    )
    ctx.run(environment="env_dag", start="1995-01-01", end="1995-01-02")
    return spark.table("env_dag_views.summary")
