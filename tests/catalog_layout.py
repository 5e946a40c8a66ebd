"""A table's physical layout as the catalog reports it, for tests that
check what was built. The package never reads a layout back: every write
takes it from its caller (Model.layout for snapshot tables)."""

from __future__ import annotations

import re

from sqlmesh_spark.adapter import TableLayout


def read_layout(spark, table: str) -> TableLayout:
    """Partitions, buckets and format from ``DESCRIBE TABLE EXTENDED``.
    Engine-managed columns are not table metadata, so they stay empty."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    names = [r.col_name for r in rows]
    info = dict(zip(names, (r.data_type for r in rows)))
    partitioned_by: list[str] = []
    if "# Partition Information" in info:
        # the section header, a "# col_name" row, then the columns up to
        # the blank row before "# Detailed Table Information"
        partitioned_by = names[names.index("# Partition Information") + 2 :]
        partitioned_by = partitioned_by[: partitioned_by.index("")]
    return TableLayout(
        partitioned_by=tuple(partitioned_by),
        clustered_by=tuple(re.findall(r"`([^`]*)`", info.get("Bucket Columns", ""))),
        buckets=int(info.get("Num Buckets", 0)),
        storage_format=info.get("Provider", "parquet").lower(),
    )
