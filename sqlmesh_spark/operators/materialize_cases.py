"""End-to-end scenario cases for the materialization operators (§2.A).

Each case drives the real write path — scratch database, managed parquet
tables, the SparkAdapter primitive under test — then returns the final
table state. The DuckDB oracle computes the same final state directly from
the raw parquet in one query, so the comparison validates the *semantics*
of the materialization (what ends up in the table), not its mechanics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlmesh_spark.adapter import PARQUET, SparkAdapter, TableLayout
from sqlmesh_spark.registry import register
from sqlmesh_spark.sources.tables import load_table, register_views


def _scratch_db(spark: SparkSession, name: str) -> str:
    """Fresh scratch database. The in-memory catalog forgets tables across
    sessions while the warehouse directory persists, so DROP CASCADE alone
    can leave orphan files that break the next CREATE — clear both."""
    import shutil
    from urllib.parse import urlparse

    db = f"sqlmesh_case_{name}"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{warehouse}/{db}.db", ignore_errors=True)
    spark.sql(f"CREATE DATABASE {db}")
    return db


# --------------------------------------------------------------------------
# insert_overwrite_by_time_partition — the core incremental op
# --------------------------------------------------------------------------

IOT_ORACLE = """
SELECT o_orderkey, o_custkey,
       CAST(ROUND(CASE WHEN o_orderdate >= TIMESTAMP '1995-03-01 00:00:00'
                        AND o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
                  THEN o_totalprice * 2 ELSE o_totalprice END * 100) AS BIGINT) AS price_cents,
       strftime(o_orderdate, '%Y-%m-%d') AS ds
FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
"""


@register("mat_insert_overwrite_by_time", oracle=IOT_ORACLE, tags=("materialization",))
def mat_insert_overwrite_by_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial load < 1997, then restate [1995-03, 1995-04) with doubled
    prices. Dynamic partition overwrite must replace exactly March's daily
    partitions and leave everything else untouched."""
    adapter = SparkAdapter(spark)
    db = _scratch_db(spark, "iot")
    table = f"{db}.daily_orders"
    orders = load_table(spark, sf_dir, "orders")

    def project(df: DataFrame, factor: int) -> DataFrame:
        return df.select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice") * factor * 100).cast("bigint").alias("price_cents"),
            F.col("o_orderdate").alias("event_ts"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("ds"),
        )

    # Spread by partition key before the partitioned write: a 1-split
    # local scan would make ONE task create all ~730 daily partition dirs
    # serially (the dominant cost of this scenario); hashing ds across the
    # cluster writes them in parallel, one file per (task, day).
    n_part = max(spark.sparkContext.defaultParallelism, 8)
    initial = project(orders.filter(F.col("o_orderdate") < "1997-01-01"), 1).repartition(
        n_part, "ds"
    )
    layout = TableLayout(partitioned_by=("ds",))
    adapter.ctas(table, initial, layout)

    batch = project(
        orders.filter(
            (F.col("o_orderdate") >= "1995-03-01") & (F.col("o_orderdate") < "1995-04-01")
        ),
        2,
    )
    adapter.insert_overwrite_by_time_partition(
        table, batch, "event_ts", "1995-03-01", "1995-04-01", layout
    )
    return spark.table(table).select("o_orderkey", "o_custkey", "price_cents", "ds")


# --------------------------------------------------------------------------
# insert_overwrite_by_partition
# --------------------------------------------------------------------------

IOP_ORACLE = """
SELECT p_partkey, p_brand, p_size FROM part
WHERE p_brand NOT IN ('Brand#11', 'Brand#22')
UNION ALL
SELECT p_partkey, p_brand, p_size FROM part
WHERE p_brand IN ('Brand#11', 'Brand#22') AND p_size > 25
"""


@register("mat_insert_overwrite_by_partition", oracle=IOP_ORACLE, tags=("materialization",))
def mat_insert_overwrite_by_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replace two whole brand partitions with a filtered recomputation;
    other partitions must survive byte-for-byte."""
    adapter = SparkAdapter(spark)
    db = _scratch_db(spark, "iop")
    table = f"{db}.parts_by_brand"
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_size", "p_brand")
    adapter.ctas(table, part, TableLayout(partitioned_by=("p_brand",)))

    batch = part.filter(F.col("p_brand").isin("Brand#11", "Brand#22") & (F.col("p_size") > 25))
    adapter.insert_overwrite_by_partition(table, batch)
    return spark.table(table).select("p_partkey", "p_brand", "p_size")


# --------------------------------------------------------------------------
# merge (INCREMENTAL_BY_UNIQUE_KEY)
# --------------------------------------------------------------------------

MERGE_ORACLE = """
SELECT c_custkey,
       CAST(ROUND(CASE WHEN c_custkey >= 500 THEN c_acctbal + 1000 ELSE c_acctbal END * 100) AS BIGINT) AS bal_cents,
       c_mktsegment
FROM customer WHERE c_custkey <= 1500
"""


@register("mat_merge_by_key", oracle=MERGE_ORACLE, tags=("materialization", "bench"))
def mat_merge_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert: keys 500-1000 updated, 1001-1500 inserted, <500 untouched —
    the logical-merge (anti-join + union) path."""
    adapter = SparkAdapter(spark)
    db = _scratch_db(spark, "merge")
    table = f"{db}.cust"
    customer = load_table(spark, sf_dir, "customer")

    def project(df: DataFrame, bump: int) -> DataFrame:
        return df.select(
            "c_custkey",
            F.round((F.col("c_acctbal") + bump) * 100).cast("bigint").alias("bal_cents"),
            "c_mktsegment",
        )

    adapter.ctas(table, project(customer.filter(F.col("c_custkey") <= 1000), 0))
    source = project(
        customer.filter((F.col("c_custkey") >= 500) & (F.col("c_custkey") <= 1500)), 1000
    )
    adapter.merge(table, source, ("c_custkey",), PARQUET)
    return spark.table(table)


# --------------------------------------------------------------------------
# replace_query (FULL refresh) + view + append + delete/update + lifecycle
# --------------------------------------------------------------------------

FULL_ORACLE = """
SELECT n_name, COUNT(*) AS n FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


@register("mat_full_refresh", oracle=FULL_ORACLE, tags=("materialization",))
def mat_full_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """replace_query twice: stale content then the real query — the final
    state must be exactly the last query (atomic swap)."""
    adapter = SparkAdapter(spark)
    db = _scratch_db(spark, "full")
    table = f"{db}.cust_by_nation"
    register_views(spark, sf_dir, ("customer", "nation"))
    adapter.replace_query(table, "SELECT 'stale' AS n_name, CAST(0 AS BIGINT) AS n", PARQUET)
    adapter.replace_query(
        table,
        "SELECT n_name, COUNT(*) AS n FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "GROUP BY n_name",
        PARQUET,
    )
    return spark.table(table)


VIEW_ORACLE = """
SELECT r_name, COUNT(*) AS n_nations FROM region JOIN nation ON r_regionkey = n_regionkey
GROUP BY r_name
"""


@register("mat_view", oracle=VIEW_ORACLE, tags=("materialization",))
def mat_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIEW materialization: CREATE OR REPLACE VIEW with replace semantics
    (second definition wins — the virtual-layer primitive). Persistent
    views reference storage paths / persistent tables, never temp views."""
    adapter = SparkAdapter(spark)
    db = _scratch_db(spark, "view")
    region = f"parquet.`{sf_dir}/region.parquet`"
    nation = f"parquet.`{sf_dir}/nation.parquet`"
    adapter.create_view(f"{db}.nations_per_region", "SELECT 1 AS stale")
    adapter.create_view(
        f"{db}.nations_per_region",
        f"SELECT r_name, COUNT(*) AS n_nations FROM {region} r JOIN {nation} n "
        "ON r.r_regionkey = n.n_regionkey GROUP BY r_name",
    )
    return spark.table(f"{db}.nations_per_region")


APPEND_ORACLE = """
SELECT s_suppkey, s_nationkey FROM supplier
"""


@register("mat_insert_append", oracle=APPEND_ORACLE, tags=("materialization",))
def mat_insert_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    adapter = SparkAdapter(spark)
    db = _scratch_db(spark, "append")
    table = f"{db}.supp"
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    adapter.ctas(table, supplier.filter(F.col("s_suppkey") <= 50))
    adapter.insert_append(table, supplier.filter(F.col("s_suppkey") > 50))
    return spark.table(table)


DELUPD_ORACLE = """
SELECT s_suppkey,
       CAST(ROUND(CASE WHEN s_nationkey = 3 THEN 0 ELSE s_acctbal END * 100) AS BIGINT) AS bal_cents
FROM supplier WHERE s_acctbal >= 0
"""


@register("mat_delete_update", oracle=DELUPD_ORACLE, tags=("materialization",))
def mat_delete_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE FROM ... WHERE + UPDATE ... SET — the parquet rewrite path."""
    adapter = SparkAdapter(spark)
    db = _scratch_db(spark, "delupd")
    table = f"{db}.supp"
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )
    adapter.ctas(table, supplier)
    adapter.delete_from(table, "s_acctbal < 0", PARQUET)
    adapter.update_table(table, {"s_acctbal": "0.0"}, "s_nationkey = 3", PARQUET)
    return spark.table(table).select(
        "s_suppkey",
        F.round(F.col("s_acctbal") * 100).cast("bigint").alias("bal_cents"),
    )


SEED_ORACLE = """
SELECT * FROM (VALUES (1, 'Toby', TRUE), (2, 'Tyson', FALSE), (3, 'Ryan', TRUE))
AS t(id, name, active)
"""

SEED_CSV = "id,name,active\n1,Toby,true\n2,Tyson,false\n3,Ryan,true\n"


@register("mat_seed", oracle=SEED_ORACLE, tags=("materialization",))
def mat_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEED kind: CSV → typed table (model/seed.py:91 CsvSeedReader)."""
    adapter = SparkAdapter(spark)
    db = _scratch_db(spark, "seed")
    table = f"{db}.waiter_names"
    seed = adapter.seed_frame(SEED_CSV, {"id": "INT", "name": "STRING", "active": "BOOLEAN"})
    adapter.ctas(table, seed)
    return spark.table(table)


LIFECYCLE_ORACLE = """
SELECT r_regionkey AS id, r_name AS name, 'x' AS tag FROM region
"""


@register("mat_table_lifecycle", oracle=LIFECYCLE_ORACLE, tags=("materialization",))
def mat_table_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """create_table (typed DDL) → insert_append → alter_table ADD COLUMN →
    update backfill → clone_table; returns the clone to prove the whole
    lifecycle (base.py:619/1183/1059)."""
    adapter = SparkAdapter(spark)
    db = _scratch_db(spark, "lifecycle")
    table, clone = f"{db}.t", f"{db}.t_clone"
    adapter.create_table(table, {"id": "INT", "name": "STRING"})
    region = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("id"), F.col("r_name").alias("name")
    )
    adapter.insert_append(table, region)
    adapter.alter_table(table, [f"ALTER TABLE {table} ADD COLUMN tag STRING"])
    adapter.update_table(table, {"tag": "'x'"}, "TRUE", PARQUET)
    adapter.clone_table(clone, table, PARQUET)
    assert adapter.table_exists(clone)
    assert set(adapter.columns(clone)) == {"id", "name", "tag"}
    return spark.table(clone)


# --------------------------------------------------------------------------
# optimize_compact — sorted-layout table maintenance
# --------------------------------------------------------------------------

COMPACT_ORACLE = """
SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m-%d') AS ship_ds,
       CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_cents
FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
"""


@register("mat_optimize_compact", oracle=COMPACT_ORACLE, tags=("materialization",))
def mat_optimize_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTAS a messy many-small-files table, then optimize_compact it into 8
    range-sorted files; the oracle checks content is untouched, the layout
    property (disjoint per-file key ranges) is asserted in tests."""
    db = _scratch_db(spark, "compact")
    adapter = SparkAdapter(spark)
    src = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") < "1996-01-01")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_ds"),
            F.round(F.col("l_quantity") * 100).cast("bigint").alias("qty_cents"),
        )
        # Deliberately fragment: many tiny unsorted files.
        .repartition(64)
    )
    adapter.ctas(f"{db}.fact", src)
    adapter.optimize_compact(f"{db}.fact", ["ship_ds", "l_orderkey"], 8, PARQUET)
    return spark.table(f"{db}.fact")


# --------------------------------------------------------------------------
# write-audit-publish + clone — dev-preview and safe-publish ops
# --------------------------------------------------------------------------

WAP_ORACLE = """
SELECT n_nationkey, n_name,
       CASE WHEN n_nationkey < 10 THEN 'audited' ELSE 'existing' END AS origin
FROM nation
"""


@register("mat_wap_publish", oracle=WAP_ORACLE, tags=("materialization",))
def mat_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full write-audit-publish cycle (reference base.py:2452-2492;
    Iceberg branches spark.py:492-534): stage a branch, write new rows to
    it, AUDIT the staging (not_null + key-range check) while readers still
    see the old table, then publish atomically. Oracle = the final table
    the cycle must produce."""
    db = _scratch_db(spark, "wap")
    adapter = SparkAdapter(spark)
    n = load_table(spark, sf_dir, "nation")
    # Seed the "existing" production table: nations >= 10.
    adapter.ctas(
        f"{db}.dim",
        n.filter(F.col("n_nationkey") >= 10).select(
            "n_nationkey", "n_name", F.lit("existing").alias("origin")
        ),
    )
    staging = adapter.wap_prepare(f"{db}.dim", PARQUET)
    adapter.insert_append(
        staging,
        n.filter(F.col("n_nationkey") < 10).select(
            "n_nationkey", "n_name", F.lit("audited").alias("origin")
        ),
    )
    # Audit the branch before anyone sees it: no NULL keys, no dupes.
    bad = spark.sql(
        f"SELECT n_nationkey FROM {staging} WHERE n_nationkey IS NULL "
        f"UNION ALL SELECT n_nationkey FROM {staging} GROUP BY n_nationkey HAVING COUNT(*) > 1"
    ).count()
    assert bad == 0, "WAP audit failed; branch must be abandoned"
    adapter.wap_publish(f"{db}.dim", staging, PARQUET)
    return spark.table(f"{db}.dim")


CLONE_ORACLE = """
SELECT r_regionkey, r_name, 'clone' AS via FROM region
"""


@register("mat_clone_table", oracle=CLONE_ORACLE, tags=("materialization",))
def mat_clone_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clone_table for dev previews (reference base.py:1059; Delta SHALLOW
    CLONE): the clone is immediately queryable and independent — mutating
    it must not touch the source (checked here by deleting from the clone
    and returning the SOURCE, re-cloned, with a marker)."""
    db = _scratch_db(spark, "clone")
    adapter = SparkAdapter(spark)
    adapter.ctas(f"{db}.src", load_table(spark, sf_dir, "region"))
    adapter.clone_table(f"{db}.dev", f"{db}.src", PARQUET)
    adapter.delete_from(f"{db}.dev", "r_regionkey >= 0", PARQUET)  # trash the preview
    assert spark.table(f"{db}.dev").count() == 0
    adapter.clone_table(f"{db}.dev2", f"{db}.src", PARQUET)  # source unharmed
    return spark.table(f"{db}.dev2").select(
        "r_regionkey", "r_name", F.lit("clone").alias("via")
    )


# --------------------------------------------------------------------------
# scale-shaped merge: current table and batch are the WHOLE orders table
# --------------------------------------------------------------------------

MERGE_SCALE_ORACLE = """
SELECT o_orderkey,
       CAST(ROUND(CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 10
                       ELSE o_totalprice END * 100) AS BIGINT) AS total_cents,
       o_orderstatus
FROM orders
"""


@register("merge_scale_orders", oracle=MERGE_SCALE_ORACLE,
          tags=("materialization",))
def merge_scale_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-by-key whose current table AND batch are the whole orders
    table (no key cap): unlike mat_merge_by_key's fixed 1500-customer
    window, both merge legs grow with the input, so tools/scale_run.py
    can measure the logical replace-by-key (anti-join + union) at 100x.
    Half the keys update (+10 on the total, integer-cents), half carry
    through untouched."""
    adapter = SparkAdapter(spark)
    db = _scratch_db(spark, "merge_scale")
    table = f"{db}.orders_cur"
    orders = load_table(spark, sf_dir, "orders")

    def project(df: DataFrame, bump: int) -> DataFrame:
        return df.select(
            "o_orderkey",
            F.round((F.col("o_totalprice") + bump) * 100)
            .cast("bigint").alias("total_cents"),
            "o_orderstatus",
        )

    adapter.ctas(table, project(orders, 0))
    source = project(orders.filter(F.col("o_orderkey") % 2 == 0), 10)
    adapter.merge(table, source, ("o_orderkey",), PARQUET)
    return spark.table(table)
