"""SCD Type 2 scenario cases: two-step dimension evolution with oracles.

The Spark side drives the adapter write path (initial load then merge of a
changed snapshot). The oracle NESTS the same dialect-agnostic generator —
step 1's query becomes step 2's target relation — so DuckDB computes the
identical two-step evolution in one statement. Validates inserts, updates
(close+reopen), hard deletes, revival watermarks, and unchanged carries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sqlmesh_spark.adapter import PARQUET, SparkAdapter, TableLayout
from sqlmesh_spark.operators.materialize_cases import _scratch_db
from sqlmesh_spark.operators.scd2 import empty_target_sql, scd_type_2_query
from sqlmesh_spark.registry import register
from sqlmesh_spark.sources.tables import register_views

# Batch 1: snapshot of customers 1..1000, all updated 2024-01-01.
BATCH1 = """
SELECT c_custkey AS customer_id, c_mktsegment AS status,
       TIMESTAMP '2024-01-01 00:00:00' AS updated_at
FROM customer WHERE c_custkey <= 1000
"""

# Batch 2: keys %7=0 hard-deleted, %10=0 changed (updated 2024-02-01),
# 1001..1200 newly appear.
BATCH2 = """
SELECT c_custkey AS customer_id,
       CASE WHEN c_custkey % 10 = 0 THEN 'CHANGED' ELSE c_mktsegment END AS status,
       CASE WHEN c_custkey % 10 = 0 THEN TIMESTAMP '2024-02-01 00:00:00'
            ELSE TIMESTAMP '2024-01-01 00:00:00' END AS updated_at
FROM customer WHERE c_custkey <= 1200 AND c_custkey % 7 <> 0
"""

BATCH1_NO_TS = """
SELECT c_custkey AS customer_id, c_mktsegment AS status
FROM customer WHERE c_custkey <= 1000
"""

BATCH2_NO_TS = """
SELECT c_custkey AS customer_id,
       CASE WHEN c_custkey % 10 = 0 THEN 'CHANGED' ELSE c_mktsegment END AS status
FROM customer WHERE c_custkey <= 1200 AND c_custkey % 7 <> 0
"""

EXEC1 = "2024-01-02 00:00:00"
EXEC2 = "2024-02-02 00:00:00"


def _by_time_queries(target1: str, target2_placeholder: str) -> tuple[str, str]:
    common = dict(
        unique_key=("customer_id",),
        columns=("customer_id", "status", "updated_at"),
        updated_at_col="updated_at",
    )
    q1 = scd_type_2_query(
        target_sql=target1, source_sql=BATCH1, execution_ts=EXEC1, truncate=True, **common
    )
    q2 = scd_type_2_query(
        target_sql=target2_placeholder, source_sql=BATCH2, execution_ts=EXEC2, **common
    )
    return q1, q2


EMPTY_BY_TIME = empty_target_sql(
    ("customer_id", "status", "updated_at", "valid_from", "valid_to"),
    ("BIGINT", "STRING", "TIMESTAMP", "TIMESTAMP", "TIMESTAMP"),
)

_Q1_TIME, _ = _by_time_queries(EMPTY_BY_TIME, "__placeholder__")
SCD2_BY_TIME_ORACLE = _by_time_queries(EMPTY_BY_TIME, f"({_Q1_TIME})")[1]


@register("scd_type_2_by_time", oracle=SCD2_BY_TIME_ORACLE, tags=("materialization", "scd2", "bench"))
def scd_type_2_by_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 driven by a source updated_at column (kind SCD_TYPE_2_BY_TIME,
    reference base.py:1738/model/kind.py:700s)."""
    register_views(spark, sf_dir, ("customer",))
    adapter = SparkAdapter(spark)
    db = _scratch_db(spark, "scd2_time")
    table = f"{db}.dim_customer"

    q1, q2 = _by_time_queries(EMPTY_BY_TIME, f"SELECT * FROM {table}")
    adapter.replace_query(table, spark.sql(q1), PARQUET)
    adapter.replace_query(table, spark.sql(q2), PARQUET)
    return spark.table(table)


def _by_column_queries(target1: str, target2_placeholder: str) -> tuple[str, str]:
    common = dict(
        unique_key=("customer_id",),
        columns=("customer_id", "status"),
        check_columns=("status",),
    )
    q1 = scd_type_2_query(
        target_sql=target1, source_sql=BATCH1_NO_TS, execution_ts=EXEC1, truncate=True, **common
    )
    q2 = scd_type_2_query(
        target_sql=target2_placeholder, source_sql=BATCH2_NO_TS, execution_ts=EXEC2, **common
    )
    return q1, q2


EMPTY_BY_COL = empty_target_sql(
    ("customer_id", "status", "valid_from", "valid_to"),
    ("BIGINT", "STRING", "TIMESTAMP", "TIMESTAMP"),
)

_Q1_COL, _ = _by_column_queries(EMPTY_BY_COL, "__placeholder__")
SCD2_BY_COLUMN_ORACLE = _by_column_queries(EMPTY_BY_COL, f"({_Q1_COL})")[1]


@register("scd_type_2_by_column", oracle=SCD2_BY_COLUMN_ORACLE, tags=("materialization", "scd2"))
def scd_type_2_by_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 driven by null-safe change detection on check_columns (kind
    SCD_TYPE_2_BY_COLUMN, base.py:1774, change check base.py:1928-1959)."""
    register_views(spark, sf_dir, ("customer",))
    adapter = SparkAdapter(spark)
    db = _scratch_db(spark, "scd2_col")
    table = f"{db}.dim_customer"

    q1, q2 = _by_column_queries(EMPTY_BY_COL, f"SELECT * FROM {table}")
    adapter.replace_query(table, spark.sql(q1), PARQUET)
    adapter.replace_query(table, spark.sql(q2), PARQUET)
    return spark.table(table)


@register("scd2_cow_partitioned", oracle=SCD2_BY_TIME_ORACLE, tags=("materialization", "scd2"))
def scd2_cow_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME two-step by-time evolution as scd_type_2_by_time, written
    through the copy-on-write backend tail (backends.py scd2_apply_cow):
    target partitioned by _is_current, closed rows APPEND into the history
    partition, only the current slice rewrites — per-apply cost
    O(|current| + |batch|), independent of history size. The oracle is the
    unchanged full-replace generator: a write strategy must never change
    the data (test_backends.py asserts the history files are also
    byte-untouched)."""
    register_views(spark, sf_dir, ("customer",))
    adapter = SparkAdapter(spark)
    db = _scratch_db(spark, "scd2_cow")
    table = f"{db}.dim_customer"
    adapter.create_table(
        table,
        {
            "customer_id": "BIGINT",
            "status": "STRING",
            "updated_at": "TIMESTAMP",
            "valid_from": "TIMESTAMP",
            "valid_to": "TIMESTAMP",
            "_is_current": "INT",
        },
        TableLayout(partitioned_by=("_is_current",)),
    )
    common = dict(
        unique_key=("customer_id",),
        columns=("customer_id", "status", "updated_at"),
        updated_at_col="updated_at",
    )
    tgt = (
        f"SELECT customer_id, status, updated_at, valid_from, valid_to FROM {table}"
    )
    ch1 = spark.sql(scd_type_2_query(
        target_sql=EMPTY_BY_TIME, source_sql=BATCH1, execution_ts=EXEC1,
        truncate=True, changes_only=True, **common,
    ))
    adapter.backend.scd2_apply_cow(table, ch1)
    ch2 = spark.sql(scd_type_2_query(
        target_sql=tgt, source_sql=BATCH2, execution_ts=EXEC2,
        changes_only=True, **common,
    ))
    adapter.backend.scd2_apply_cow(table, ch2)
    return spark.table(table).select(
        "customer_id", "status", "updated_at", "valid_from", "valid_to"
    )


# --------------------------------------------------------------------------
# scale-shaped SCD2: the batch is the WHOLE (replicable) orders table
# --------------------------------------------------------------------------

SCALE_BATCH1 = """
SELECT o_orderkey AS customer_id, o_orderstatus AS status,
       TIMESTAMP '2024-01-01 00:00:00' AS updated_at
FROM orders
"""

# 1-in-10 keys change (new version + close old); the other 90% arrive
# with an UNCHANGED updated_at and must carry through untouched
SCALE_BATCH2 = """
SELECT o_orderkey AS customer_id,
       CASE WHEN o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END AS status,
       CASE WHEN o_orderkey % 10 = 0 THEN TIMESTAMP '2024-02-01 00:00:00'
            ELSE TIMESTAMP '2024-01-01 00:00:00' END AS updated_at
FROM orders
"""


def _scale_by_time_queries(target1: str, target2_placeholder: str) -> tuple[str, str]:
    common = dict(
        unique_key=("customer_id",),
        columns=("customer_id", "status", "updated_at"),
        updated_at_col="updated_at",
    )
    q1 = scd_type_2_query(
        target_sql=target1, source_sql=SCALE_BATCH1, execution_ts=EXEC1,
        truncate=True, **common
    )
    q2 = scd_type_2_query(
        target_sql=target2_placeholder, source_sql=SCALE_BATCH2,
        execution_ts=EXEC2, **common
    )
    return q1, q2


_SQ1_TIME, _ = _scale_by_time_queries(EMPTY_BY_TIME, "__placeholder__")
SCD2_SCALE_ORACLE = _scale_by_time_queries(EMPTY_BY_TIME, f"({_SQ1_TIME})")[1]


@register("scd2_scale_orders", oracle=SCD2_SCALE_ORACLE,
          tags=("materialization", "scd2"))
def scd2_scale_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2-by-time whose batch is the ENTIRE orders table (no key cap):
    unlike scd_type_2_by_time's fixed 1200-customer batch, the work here
    grows with the input, so tools/scale_run.py can measure the apply at
    100x — the FULL-outer change-detection join is bounded by
    |current slice| + |batch|, both of which replicate. 1-in-10 keys
    version (close + reopen); 90% carry through unchanged. Same
    dialect-agnostic two-step oracle nesting as the fixed cases."""
    register_views(spark, sf_dir, ("orders",))
    adapter = SparkAdapter(spark)
    db = _scratch_db(spark, "scd2_scale")
    table = f"{db}.dim_orders"

    q1, q2 = _scale_by_time_queries(EMPTY_BY_TIME, f"SELECT * FROM {table}")
    adapter.replace_query(table, spark.sql(q1), PARQUET)
    adapter.replace_query(table, spark.sql(q2), PARQUET)
    return spark.table(table)
