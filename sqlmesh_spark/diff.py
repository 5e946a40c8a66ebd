"""Diff operators: schema diff (ALTER planning) and row-level table diff.

Reference: SchemaDiffer (sqlmesh/core/schema_diff.py:311, operations at
:723) and TableDiff.row_diff (sqlmesh/core/table_diff.py:219, join/stat
queries :341-500). The row diff is ONE full-outer-join aggregate over the
grain key — at 100 TB that's a single co-partitioned shuffle, which is the
only shape that scales (never row-by-row comparison driver-side).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Mapping, Sequence

# ---------------------------------------------------------------------------
# Schema diff
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class SchemaDelta:
    op: str  # 'add' | 'drop' | 'alter_type'
    column: str
    current_type: str | None
    new_type: str | None


# Type widenings that are always safe (no data rewrite) — the compatibility
# lattice the reference encodes in schema_diff.py's type coercion table.
_SAFE_WIDENINGS = {
    ("tinyint", "smallint"),
    ("tinyint", "int"),
    ("tinyint", "bigint"),
    ("smallint", "int"),
    ("smallint", "bigint"),
    ("int", "bigint"),
    ("float", "double"),
}


class SchemaChangeRefused(ValueError):
    """A column change the table's 'error' policy forbids."""


class SchemaDiffer:
    """Compute ALTER operations between two column->type mappings
    (schema_diff.py:723 _get_operations), governed by destructive/additive
    policies (model/kind.py:195-226)."""

    def __init__(
        self,
        on_destructive_change: str = "error",  # error | warn | allow
        on_additive_change: str = "allow",
    ):
        self.on_destructive_change = on_destructive_change
        self.on_additive_change = on_additive_change

    def compare(
        self, current: Mapping[str, str], new: Mapping[str, str]
    ) -> list[SchemaDelta]:
        deltas: list[SchemaDelta] = []
        cur = {c.lower(): t.lower() for c, t in current.items()}
        tgt = {c.lower(): t.lower() for c, t in new.items()}
        for col, t in tgt.items():
            if col not in cur:
                deltas.append(SchemaDelta("add", col, None, t))
            elif cur[col] != t:
                deltas.append(SchemaDelta("alter_type", col, cur[col], t))
        for col, t in cur.items():
            if col not in tgt:
                deltas.append(SchemaDelta("drop", col, t, None))
        return deltas

    def is_destructive(self, delta: SchemaDelta) -> bool:
        if delta.op == "drop":
            return True
        if delta.op == "alter_type":
            return (delta.current_type, delta.new_type) not in _SAFE_WIDENINGS
        return False

    def alter_statements(
        self, table: str, current: Mapping[str, str], new: Mapping[str, str]
    ) -> list[str]:
        """ALTER TABLE plan for a table migrated in place, governed by BOTH
        policies (model/kind.py:195-226) for destructive and additive
        changes alike: 'error' raises SchemaChangeRefused, 'warn' logs,
        'allow' proceeds silently. Only column ADDs are emitted: a dropped or
        retyped column is RETAINED on disk (parquet cannot drop or retype
        a column in place) — history keeps its values and new rows
        null-fill it."""
        import logging

        deltas = self.compare(current, new)
        additive = [d for d in deltas if d.op == "add"]
        for kind, found, policy, detail in (
            (
                "destructive",
                [d for d in deltas if self.is_destructive(d)],
                self.on_destructive_change,
                lambda d: f"{d.op} {d.column} ({d.current_type} -> {d.new_type})",
            ),
            (
                "additive",
                additive,
                self.on_additive_change,
                lambda d: f"add {d.column} {d.new_type}",
            ),
        ):
            if found and policy == "error":
                raise SchemaChangeRefused(
                    f"requires {kind} change(s) [{', '.join(map(detail, found))}] "
                    f"but on_{kind}_change=error"
                )
            if found and policy == "warn":
                logging.getLogger("sqlmesh_spark").warning(
                    "forward-only %s change(s) on %s: %s", kind, table, found
                )
        return [
            f"ALTER TABLE {table} ADD COLUMN {quote_ident(d.column)} {d.new_type}"
            for d in additive
        ]


def quote_ident(name: str) -> str:
    """A column name quoted for Spark DDL."""
    return "`" + name.replace("`", "``") + "`"


# ---------------------------------------------------------------------------
# Row-level table diff
# ---------------------------------------------------------------------------


def row_diff_query(
    source: str,
    target: str,
    on: Sequence[str],
    value_columns: Sequence[str],
    decimal_columns: Sequence[str] = (),
    decimal_scale: int = 4,
) -> str:
    """One FULL OUTER JOIN stats query (table_diff.py:341-500 shape):
    row counts, join/only counts, full-match count, per-column match
    counts. Dialect-agnostic (runs on Spark and DuckDB verbatim).

    ``decimal_columns`` compare after scaled-integer normalization
    (mixins.py:440-585 RowDiffMixin decimal normalization) — a price that
    differs only below `decimal_scale` places counts as a match.
    """
    key_eq = " AND ".join(f"s.{k} = t.{k}" for k in on)
    s_key = " AND ".join(f"s.{k} IS NOT NULL" for k in on)
    t_key = " AND ".join(f"t.{k} IS NOT NULL" for k in on)
    unit = 10 ** decimal_scale

    def _norm(side: str, c: str) -> str:
        if c in decimal_columns:
            return f"CAST(ROUND({side}.{c} * {unit}) AS BIGINT)"
        return f"{side}.{c}"

    col_match = {
        c: (
            f"({_norm('s', c)} = {_norm('t', c)}"
            f" OR (s.{c} IS NULL AND t.{c} IS NULL))"
        )
        for c in value_columns
    }
    all_match = " AND ".join(col_match.values())
    per_col = ",\n       ".join(
        f"CAST(SUM(CASE WHEN ({s_key}) AND ({t_key}) AND {m} THEN 1 ELSE 0 END) AS BIGINT) AS {c}_matches"
        for c, m in col_match.items()
    )
    return f"""
SELECT COUNT(*) AS total_rows,
       CAST(SUM(CASE WHEN ({s_key}) AND ({t_key}) THEN 1 ELSE 0 END) AS BIGINT) AS joined_count,
       CAST(SUM(CASE WHEN ({s_key}) AND NOT ({t_key}) THEN 1 ELSE 0 END) AS BIGINT) AS s_only_count,
       CAST(SUM(CASE WHEN ({t_key}) AND NOT ({s_key}) THEN 1 ELSE 0 END) AS BIGINT) AS t_only_count,
       CAST(SUM(CASE WHEN ({s_key}) AND ({t_key}) AND {all_match} THEN 1 ELSE 0 END) AS BIGINT) AS full_match_count,
       {per_col}
FROM ({source}) s FULL OUTER JOIN ({target}) t ON {key_eq}
"""


def sample_mismatches_query(
    source: str,
    target: str,
    on: Sequence[str],
    value_columns: Sequence[str],
    limit: int = 20,
    decimal_columns: Sequence[str] = (),
    decimal_scale: int = 4,
) -> str:
    """Deterministic sample of mismatching rows (table_diff.py samples) —
    ordered by key so the sample is stable across engines/runs. The SAME
    decimal normalization as row_diff_query applies: a row the stats
    count as matching must never appear in the sample."""
    key_eq = " AND ".join(f"s.{k} = t.{k}" for k in on)
    unit = 10 ** decimal_scale

    def _norm(side: str, c: str) -> str:
        if c in decimal_columns:
            return f"CAST(ROUND({side}.{c} * {unit}) AS BIGINT)"
        return f"{side}.{c}"

    any_diff = " OR ".join(
        f"NOT ({_norm('s', c)} = {_norm('t', c)}"
        f" OR (s.{c} IS NULL AND t.{c} IS NULL))"
        for c in value_columns
    )
    keys = ", ".join(f"s.{k} AS {k}" for k in on)
    cols = ", ".join(f"s.{c} AS s_{c}, t.{c} AS t_{c}" for c in value_columns)
    order = ", ".join(on)
    return f"""
SELECT {keys}, {cols}
FROM ({source}) s JOIN ({target}) t ON {key_eq}
WHERE {any_diff}
ORDER BY {order}
LIMIT {limit}
"""


# ---------------------------------------------------------------------------
# Registry cases
# ---------------------------------------------------------------------------

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from sqlmesh_spark.registry import register  # noqa: E402
from sqlmesh_spark.sources.tables import register_views  # noqa: E402

# Target = orders with every 13th row dropped and every 7th price bumped;
# source = orders as-is. Exercises joined/s_only/full-match/per-column stats.
_DIFF_SOURCE = """
SELECT o_orderkey, o_orderstatus, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
FROM orders
"""
_DIFF_TARGET = """
SELECT o_orderkey, o_orderstatus,
       CAST(ROUND(o_totalprice * 100) AS BIGINT)
         + CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END AS price_cents
FROM orders WHERE o_orderkey % 13 <> 0
"""

_ROW_DIFF_SQL = row_diff_query(
    _DIFF_SOURCE, _DIFF_TARGET, on=("o_orderkey",), value_columns=("o_orderstatus", "price_cents")
)

_SAMPLE_SQL = sample_mismatches_query(
    _DIFF_SOURCE, _DIFF_TARGET, on=("o_orderkey",), value_columns=("price_cents",)
)


@register("table_diff_stats", oracle=_ROW_DIFF_SQL, tags=("diff",))
def table_diff_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(_ROW_DIFF_SQL)


@register("table_diff_samples", oracle=_SAMPLE_SQL, tags=("diff",))
def table_diff_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(_SAMPLE_SQL)


SCHEMA_DIFF_ORACLE = """
SELECT * FROM (VALUES
  ('add',        'loyalty_tier', CAST(NULL AS VARCHAR), 'string'),
  ('alter_type', 'c_nationkey',  'int',                 'bigint'),
  ('drop',       'c_mktsegment', 'string',              CAST(NULL AS VARCHAR))
) AS t(op, column_name, current_type, new_type)
"""


@register("schema_diff", oracle=SCHEMA_DIFF_ORACLE, tags=("diff",))
def schema_diff_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SchemaDiffer against the live customer schema: one add, one safe
    widening, one (destructive) drop."""
    from sqlmesh_spark.sources.tables import load_table

    current = {f.name: f.dataType.simpleString() for f in load_table(spark, sf_dir, "customer").schema}
    new = dict(current)
    del new["c_mktsegment"]
    new["c_nationkey"] = "bigint"
    new["loyalty_tier"] = "string"
    deltas = SchemaDiffer(on_destructive_change="warn").compare(current, new)
    rows = [(d.op, d.column, d.current_type, d.new_type) for d in deltas]
    df = spark.createDataFrame(
        rows, "op string, column_name string, current_type string, new_type string"
    )
    return df.orderBy("op")
