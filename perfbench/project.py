"""The TPC-H-derived five-model project ``project_lifecycle`` runs.

Models read the generated parquet directly. Money is integer cents and
discounts integer percent, so Spark and the DuckDB oracle agree bit for
bit. ``oracles`` gives, for a processed window, the expected content of
every environment view (SCD2: its current rows).
"""

from __future__ import annotations

SCHEMA = "bench_proj"
PHYSICAL_SCHEMA = f"sqlmesh__{SCHEMA}"

STG = """
MODEL (name bench_proj.stg_lineitem, kind VIEW);
SELECT l_orderkey, l_suppkey, l_returnflag, l_shipdate,
       CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_cents,
       CAST(ROUND(l_discount * 100) AS BIGINT) AS disc_pct
FROM parquet.`{data}/lineitem.parquet`
"""

FCT = """
MODEL (
  name bench_proj.fct_supplier_daily,
  kind INCREMENTAL_BY_TIME_RANGE (time_column ship_day),
  cron '@daily',
  batch_size 1
);
SELECT l_shipdate AS ship_day,
       l_suppkey AS supp_key,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(price_cents * (100 - disc_pct)) AS BIGINT) AS net_cents_x100
FROM bench_proj.stg_lineitem
WHERE l_shipdate >= CAST(@start_ts AS TIMESTAMP)
  AND l_shipdate < CAST(@end_ts AS TIMESTAMP)
GROUP BY l_shipdate, l_suppkey
"""

DIM = """
MODEL (
  name bench_proj.dim_customer,
  kind INCREMENTAL_BY_UNIQUE_KEY (unique_key customer_id),
  cron '@daily',
  batch_size 1
);
SELECT o_custkey AS customer_id,
       MAX(o_orderdate) AS last_order_ts,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_cents
FROM parquet.`{data}/orders.parquet`
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o_orderdate < CAST(@end_ts AS TIMESTAMP)
GROUP BY o_custkey
"""

SCD = """
MODEL (
  name bench_proj.scd_customer_tier,
  kind SCD_TYPE_2_BY_TIME (unique_key customer_id, updated_at_name updated_at),
  cron '@daily'
);
SELECT customer_id,
       CASE WHEN spend_cents >= {tier_cents} THEN 'gold' ELSE 'base' END AS tier,
       last_order_ts AS updated_at
FROM bench_proj.dim_customer
"""

AGG = """
MODEL (
  name bench_proj.agg_nation_revenue,
  kind FULL,
  audits (not_null(columns = (nation_key, net_cents_x100)), unique_values(columns = (nation_key)))
);
SELECT s.s_nationkey AS nation_key,
       CAST(COUNT(DISTINCT f.ship_day) AS BIGINT) AS n_days,
       CAST(SUM(f.n_lines) AS BIGINT) AS n_lines,
       CAST(SUM(f.net_cents_x100) AS BIGINT) AS net_cents_x100{extra}
FROM bench_proj.fct_supplier_daily AS f
JOIN parquet.`{data}/supplier.parquet` AS s ON f.supp_key = s.s_suppkey
GROUP BY s.s_nationkey
"""

TIER_CENTS = 25_000_000

# Edit cycles apply each of these: a change to one model's text (key in
# model_texts) that a dev plan must pick up as a new version.
EDITS = {
    "agg_nation_revenue": ("agg", lambda text: text.replace(
        "AS net_cents_x100\n", "AS net_cents_x100,\n       CAST(MAX(f.n_lines) AS BIGINT) AS max_lines\n"
    )),
    "scd_customer_tier": ("scd", lambda text: text.replace(str(TIER_CENTS), str(TIER_CENTS * 2))),
}


def model_texts(data_dir: str) -> dict[str, str]:
    return {
        "stg": STG.format(data=data_dir),
        "fct": FCT,
        "dim": DIM.format(data=data_dir),
        "scd": SCD.format(tier_cents=TIER_CENTS),
        "agg": AGG.format(data=data_dir, extra=""),
    }


def oracles(start: str, end: str, tier_cents: int = TIER_CENTS) -> dict[str, str]:
    """DuckDB SQL per environment view over the window [start, end)."""
    lines = (
        "SELECT l_shipdate, l_suppkey, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_cents, "
        "CAST(ROUND(l_discount * 100) AS BIGINT) AS disc_pct FROM lineitem "
        f"WHERE l_shipdate >= TIMESTAMP '{start}' AND l_shipdate < TIMESTAMP '{end}'"
    )
    fct = (
        "SELECT l_shipdate AS ship_day, l_suppkey AS supp_key, CAST(COUNT(*) AS BIGINT) AS n_lines, "
        "CAST(SUM(price_cents * (100 - disc_pct)) AS BIGINT) AS net_cents_x100 "
        f"FROM ({lines}) GROUP BY 1, 2"
    )
    daily = (
        "SELECT o_custkey AS customer_id, CAST(o_orderdate AS DATE) AS d, MAX(o_orderdate) AS last_order_ts, "
        "CAST(COUNT(*) AS BIGINT) AS n_orders, "
        "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_cents FROM orders "
        f"WHERE o_orderdate >= TIMESTAMP '{start}' AND o_orderdate < TIMESTAMP '{end}' GROUP BY 1, 2"
    )
    dim = (
        "SELECT customer_id, last_order_ts, n_orders, spend_cents FROM "
        f"(SELECT *, ROW_NUMBER() OVER (PARTITION BY customer_id ORDER BY d DESC) AS rn FROM ({daily})) "
        "WHERE rn = 1"
    )
    return {
        "fct_supplier_daily": fct,
        "dim_customer": dim,
        "scd_customer_tier": (
            f"SELECT customer_id, CASE WHEN spend_cents >= {tier_cents} THEN 'gold' ELSE 'base' END AS tier, "
            f"last_order_ts AS updated_at FROM ({dim})"
        ),
        "agg_nation_revenue": (
            "SELECT s.s_nationkey AS nation_key, CAST(COUNT(DISTINCT f.ship_day) AS BIGINT) AS n_days, "
            "CAST(SUM(f.n_lines) AS BIGINT) AS n_lines, CAST(SUM(f.net_cents_x100) AS BIGINT) AS net_cents_x100 "
            f"FROM ({fct}) AS f JOIN supplier AS s ON f.supp_key = s.s_suppkey GROUP BY 1"
        ),
    }
