"""Table-format backend seam — where Delta / Iceberg native operations
plug into the adapter.

The reference keeps format-native operations in its Spark adapter behind
feature checks: Iceberg branch WAP (engine_adapter/spark.py:492-534,
``ALTER TABLE ... CREATE BRANCH`` + ``system.cherrypick_snapshot``),
native ``MERGE INTO`` for merge-capable targets (base.py:2203 vs the
logical fallback base.py:2910), and zero-copy clones. This sandbox ships
no Delta/Iceberg jars, so the default backend is a parquet emulation —
but every call site that a real format would replace dispatches through
this seam, so swapping in Delta/Iceberg is a constructor argument, not a
rewrite:

    SparkAdapter(spark)                          # parquet emulation
    SparkAdapter(spark, backend_cls=DeltaBackend)    # native MERGE/CLONE
    SparkAdapter(spark, backend_cls=IcebergBackend)  # branch WAP

``DeltaBackend``/``IcebergBackend`` build the exact native statements
and probe the session for format support; without the jars they raise
``UnsupportedTableFormatError`` carrying the statement they would have
run, which doubles as executable documentation of the swap-in.

The parquet backend is not a toy: its ``merge`` is a partition-scoped
COPY-ON-WRITE — it rewrites only partitions that contain a matched key
or receive an incoming row, which is the same file-pruning discipline a
Delta MERGE achieves with min/max stats. Same for ``scd2_apply_cow``:
closed history is append-only; only the current slice rewrites.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:  # pragma: no cover
    from sqlmesh_spark.adapter import SparkAdapter, TableLayout

_log = __import__("logging").getLogger("sqlmesh_spark.backends")

# COW merge collects the touched-partition VALUES to the driver (bounded
# by the table's partition count, not its rows). A merge touching more
# partitions than this cap falls back to the full logical rewrite: at that
# point the COW rewrite would reprocess ~the whole table anyway, and a
# 100 TB table with hourly partitions must not materialize a six-figure
# value list on the driver.
MAX_COW_PARTITIONS = 10_000


class UnsupportedTableFormatError(NotImplementedError):
    """Raised when a native-format operation is requested without the
    format available in the session. ``.statement`` carries the SQL the
    backend would have executed."""

    def __init__(self, message: str, statement: str = ""):
        super().__init__(message if not statement else f"{message}\nwould run: {statement}")
        self.statement = statement


class TableFormatBackend:
    """Parquet emulation — the sandbox default. Subclasses override the
    four format-native operations; everything else (DDL, inserts,
    introspection) stays on the adapter."""

    name = "parquet"

    def __init__(self, adapter: "SparkAdapter"):
        self.adapter = adapter
        self.spark = adapter.spark

    # -- merge (base.py:2203; fallback base.py:2910 _replace_by_key) -------

    def merge(
        self,
        target: str,
        source: DataFrame,
        unique_key: Sequence[str],
        merge_filter: Optional[str] = None,
    ) -> None:
        """Upsert. Partitioned targets take the copy-on-write path:

        1. touched partitions = partitions holding a matched key (semi
           join, read-only probe) ∪ partitions incoming rows land in;
        2. within touched partitions only: anti-join out matched keys
           (honoring ``merge_filter``'s frozen rows), union the source;
        3. replace the touched partitions (adapter._replace_partitions) —
           untouched partitions' files are never read for rewrite, never
           rewritten, and a touched partition the merge empties (every row
           claimed by a source row landing elsewhere) is dropped.

        Unpartitioned targets keep the reference's logical-merge full
        rewrite (anti join + union + atomic swap).
        """
        adapter = self.adapter
        keys = list(unique_key)
        src = source.dropDuplicates(keys)
        tgt = self.spark.table(target)
        layout = adapter.table_layout(target)
        part_cols = layout.partitioned_by
        if not part_cols:
            self._merge_full_rewrite(target, src, keys, merge_filter, layout)
            return
        # -- copy-on-write path --
        key_rows = src.select(*keys).dropDuplicates(keys)
        touched_tgt = (
            tgt.join(F.broadcast(key_rows), on=keys, how="left_semi")
            .select(*part_cols)
            .distinct()
        )
        touched_src = src.select(*part_cols).distinct()
        # limit(cap+1) bounds the driver-side list before collecting, and
        # under an aggregate it runs as one job, not a root limit's
        # incremental take over the distinct's shuffle partitions.
        touched_rows = (
            touched_tgt.union(touched_src)
            .distinct()
            .limit(MAX_COW_PARTITIONS + 1)
            .agg(F.collect_list(F.struct(*part_cols)))
            .collect()[0][0]
        )
        if len(touched_rows) > MAX_COW_PARTITIONS:
            _log.warning(
                "merge into %s touches more than %d partitions; "
                "falling back to the full logical rewrite",
                target,
                MAX_COW_PARTITIONS,
            )
            self._merge_full_rewrite(target, src, keys, merge_filter, layout)
            return
        touched = [r.asDict() for r in touched_rows]
        if not touched:
            return
        out = self._merged(
            tgt.filter(self._partition_predicate(touched)), src, keys, merge_filter
        )
        adapter._replace_partitions(target, out, touched)

    def _merge_full_rewrite(
        self,
        target: str,
        src: DataFrame,
        keys: list[str],
        merge_filter: Optional[str],
        layout: "TableLayout",
    ) -> None:
        out = self._merged(self.spark.table(target), src, keys, merge_filter)
        self.adapter._atomic_rewrite(target, out, layout)

    def _merged(
        self,
        base: DataFrame,
        src: DataFrame,
        keys: list[str],
        merge_filter: Optional[str],
    ) -> DataFrame:
        """``base`` with its key-matched rows replaced by ``src``. Rows
        outside ``merge_filter`` are frozen: kept even when matched."""
        if merge_filter:
            mf = self._filter_for_dataframe(merge_filter)
            eligible = base.filter(mf)
            frozen = base.filter(f"NOT ({mf})")
        else:
            eligible, frozen = base, None
        kept = eligible.join(src, on=keys, how="left_anti")
        out = kept.unionByName(src.select(*base.columns))
        if frozen is not None:
            out = frozen.unionByName(out)
        return out

    @staticmethod
    def _partition_predicate(specs: list[dict]):
        preds = None
        for spec in specs:
            p = None
            for c, v in spec.items():
                cond = F.col(c).isNull() if v is None else (F.col(c) == F.lit(v))
                p = cond if p is None else (p & cond)
            preds = p if preds is None else (preds | p)
        return preds if preds is not None else F.lit(False)

    # merge_filter contract (both backends): written against TARGET
    # columns, bare (`ds >= '2024-01-01'`) or qualified with the
    # reference's target alias (`__MERGE_TARGET__.ds >= ...`). The
    # parquet path strips the alias for DataFrame.filter; the Delta path
    # qualifies bare refs so the MERGE ON clause is unambiguous.
    @staticmethod
    def _filter_for_dataframe(merge_filter: str) -> str:
        import re as _re

        return _re.sub(r"\b__MERGE_TARGET__\.", "", merge_filter)

    @staticmethod
    def _filter_for_merge_on(merge_filter: str, columns: Sequence[str]) -> str:
        import re as _re

        cols = sorted(set(columns), key=len, reverse=True)
        pattern = _re.compile(r"(?<![\w.])(" + "|".join(_re.escape(c) for c in cols) + r")\b")
        # rewrite only outside string literals
        parts = _re.split(r"('(?:[^']|'')*')", merge_filter)
        for idx in range(0, len(parts), 2):
            parts[idx] = pattern.sub(r"__MERGE_TARGET__.\1", parts[idx])
        return "".join(parts)

    # -- clone (base.py:1059; Delta SHALLOW CLONE) --------------------------

    def clone(self, target: str, source: str) -> None:
        """Parquet has no zero-copy clone; a CTAS copy in the source's
        layout preserves the semantics (isolated writable copy) at the
        cost of a data copy."""
        self.adapter.ctas(target, self.spark.table(source), self.adapter.table_layout(source))

    # -- write-audit-publish (base.py:2452-2492; spark.py:492-534) ----------

    def wap_prepare(self, table: str) -> str:
        """Open a WAP 'branch': a physical staging table writers target —
        same contract as an Iceberg branch (audit before publish, publish
        atomic), emulated with a clone."""
        staging = self.adapter._tmp_name(f"{table}__wap")
        layout = self.adapter.table_layout(table)
        self.adapter.ctas(staging, self.spark.table(table), layout)
        return staging

    def wap_publish(self, table: str, staging: str) -> None:
        self.adapter._swap(table, staging, self.adapter.table_layout(staging))

    # -- SCD2 copy-on-write tail (kills the O(table) replace) --------------

    CURRENT_COL = "_is_current"

    def scd2_apply_cow(
        self,
        table: str,
        changes: DataFrame,
        valid_to_col: str = "valid_to",
    ) -> None:
        """Apply an SCD2 changes frame (scd_type_2_query(changes_only=True):
        updated_rows ∪ inserted_rows) to a target partitioned by
        ``_is_current``:

        - rows with non-NULL valid_to were closed THIS run → append into
          the _is_current=0 partition (closed history is APPEND-ONLY:
          its existing files are never read for rewrite, never touched);
        - rows with NULL valid_to are the complete next current slice →
          replace the _is_current=1 partition, which the apply owns: with
          every key deleted the slice is dropped.

        Per-apply cost is O(|current| + |batch|), independent of history
        size — the copy-on-write discipline a Delta/Iceberg MERGE gets
        from file stats, expressed with one partition boundary. On a
        1000-executor cluster the history partition of a 100 TB dimension
        is the dominant mass; this never rewrites it.
        """
        adapter = self.adapter
        cur = F.col(valid_to_col).isNull()
        closed_now = changes.filter(~cur).withColumn(self.CURRENT_COL, F.lit(0))
        new_current = changes.filter(cur).withColumn(self.CURRENT_COL, F.lit(1))
        adapter.insert_append(table, closed_now)
        adapter._replace_partitions(table, new_current, [{self.CURRENT_COL: 1}])


class DeltaBackend(TableFormatBackend):
    """Delta Lake: native MERGE INTO / SHALLOW CLONE. Builds the real
    statements; raises with them attached when the session lacks Delta
    (this sandbox ships no delta jars — ref base.py:2203 merge,
    Databricks SHALLOW CLONE for base.py:1059 clone)."""

    name = "delta"

    def _require(self, statement: str) -> None:
        extensions = self.spark.conf.get("spark.sql.extensions", "") or ""
        if "DeltaSparkSessionExtension" not in extensions:
            raise UnsupportedTableFormatError(
                "Delta is not available in this Spark session", statement
            )

    # Alias convention of the reference's merge builder (base.py:2203;
    # acceptance spec tests/core/engine_adapter/test_base.py:1140): target
    # aliased __MERGE_TARGET__, source __MERGE_SOURCE__, ON is the
    # key-equality conjunction (merge_filter ANDed in), UPDATE SET lists
    # every column target-qualified, INSERT lists bare columns with
    # source-qualified VALUES.
    TARGET_ALIAS = "__MERGE_TARGET__"
    SOURCE_ALIAS = "__MERGE_SOURCE__"

    def merge_statement(
        self,
        target: str,
        source_view: str,
        unique_key: Sequence[str],
        columns: Sequence[str],
        merge_filter: Optional[str] = None,
    ) -> str:
        t, s = self.TARGET_ALIAS, self.SOURCE_ALIAS
        on = " AND ".join(f"{t}.{k} = {s}.{k}" for k in unique_key)
        if merge_filter:
            on = f"({on}) AND ({self._filter_for_merge_on(merge_filter, columns)})"
        sets = ", ".join(f"{t}.{c} = {s}.{c}" for c in columns)
        cols = ", ".join(columns)
        vals = ", ".join(f"{s}.{c}" for c in columns)
        return (
            f"MERGE INTO {target} AS {t} USING {source_view} AS {s} ON {on} "
            f"WHEN MATCHED THEN UPDATE SET {sets} "
            f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
        )

    def merge(
        self,
        target: str,
        source: DataFrame,
        unique_key: Sequence[str],
        merge_filter: Optional[str] = None,
    ) -> None:
        with self.adapter.temp_view(source.dropDuplicates(list(unique_key)), "merge_src") as v:
            stmt = self.merge_statement(
                target, v, unique_key, source.columns, merge_filter
            )
            self._require(stmt)
            self.spark.sql(stmt)

    def clone(self, target: str, source: str) -> None:
        stmt = f"CREATE TABLE {target} SHALLOW CLONE {source}"
        self._require(stmt)
        self.spark.sql(stmt)


class IcebergBackend(TableFormatBackend):
    """Iceberg: branch-based WAP exactly as the reference's Spark adapter
    does it (engine_adapter/spark.py:492-534) — writes target a branch via
    spark.wap.branch, audits run against the branch, publish cherry-picks
    the branch snapshot onto main."""

    name = "iceberg"

    def _require(self, statement: str) -> None:
        extensions = self.spark.conf.get("spark.sql.extensions", "") or ""
        if "IcebergSparkSessionExtensions" not in extensions:
            raise UnsupportedTableFormatError(
                "Iceberg is not available in this Spark session", statement
            )

    # Branch-name + statement forms mirror the reference byte-for-byte
    # (engine_adapter/spark.py:499-534; acceptance spec
    # tests/core/engine_adapter/test_spark.py:790-827): branch `wap_{id}`,
    # writes target `{catalog}.{db}.{table}.branch_wap_{id}`, publish is
    # refs-lookup → cherrypick with the RESOLVED snapshot id → drop branch.
    BRANCH_PREFIX = "branch_"

    def _fqn(self, table: str) -> str:
        """Fully qualify to catalog.db.table (reference _ensure_fqn,
        spark.py:536-544) — a bare name picks up BOTH the current catalog
        and the current database, so a later catalog/database switch
        between prepare and publish can't re-point the refs lookup or the
        cherry-pick at a different table."""
        parts = table.count(".")
        if parts >= 2:
            return table
        catalog = self.spark.catalog.currentCatalog()
        if parts == 1:
            return f"{catalog}.{table}"
        db = self.spark.catalog.currentDatabase()
        return f"{catalog}.{db}.{table}"

    @staticmethod
    def wap_branch_name(wap_id: str) -> str:
        return f"wap_{wap_id}"

    def wap_table_name(self, table: str, wap_id: str) -> str:
        return f"{self._fqn(table)}.{self.BRANCH_PREFIX}{self.wap_branch_name(wap_id)}"

    def wap_prepare_statement(self, table: str, wap_id: str) -> str:
        return f"ALTER TABLE {self._fqn(table)} CREATE BRANCH {self.wap_branch_name(wap_id)}"

    def wap_snapshot_query(self, table: str, wap_id: str) -> str:
        return (
            f"SELECT snapshot_id FROM {self._fqn(table)}.refs "
            f"WHERE name = '{self.wap_branch_name(wap_id)}'"
        )

    def wap_publish_statements(
        self, table: str, wap_id: str, snapshot_id: int
    ) -> list[str]:
        fqn = self._fqn(table)
        catalog, rest = fqn.split(".", 1)
        return [
            f"CALL {catalog}.system.cherrypick_snapshot('{rest}', {snapshot_id})",
            f"ALTER TABLE {fqn} DROP BRANCH {self.wap_branch_name(wap_id)}",
        ]

    def wap_prepare(self, table: str) -> str:
        wap_id = self.adapter._tmp_name("b").split("_")[-1]
        stmt = self.wap_prepare_statement(table, wap_id)
        self._require(stmt)
        self.spark.sql(stmt)
        # Route subsequent writes to the branch for the audit window.
        self.spark.conf.set("spark.wap.branch", self.wap_branch_name(wap_id))
        return self.wap_branch_name(wap_id)

    def wap_publish(self, table: str, staging: str) -> None:
        wap_id = staging.removeprefix("wap_")
        query = self.wap_snapshot_query(table, wap_id)
        self._require(query)
        # Un-route writes from the branch BEFORE any failure path: a
        # publish that raises (branch already dropped, retry after partial
        # publish) must not leave the session writing to a dead branch.
        self.spark.conf.unset("spark.wap.branch")
        rows = self.spark.sql(query).collect()
        if not rows:
            raise UnsupportedTableFormatError(
                f"could not find Iceberg branch '{staging}'", query
            )
        for stmt in self.wap_publish_statements(table, wap_id, rows[0][0]):
            self.spark.sql(stmt)

    def merge(
        self,
        target: str,
        source: DataFrame,
        unique_key: Sequence[str],
        merge_filter: Optional[str] = None,
    ) -> None:
        delta_like = DeltaBackend(self.adapter)
        with self.adapter.temp_view(source.dropDuplicates(list(unique_key)), "merge_src") as v:
            stmt = delta_like.merge_statement(
                target, v, unique_key, source.columns, merge_filter
            )
            self._require(stmt)
            self.spark.sql(stmt)
