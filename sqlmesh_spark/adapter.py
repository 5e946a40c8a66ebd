"""SparkAdapter — the materialization-primitive surface of the engine.

The reference routes every physical operation through an EngineAdapter
(sqlmesh/core/engine_adapter/base.py:84; Spark subclass spark.py:47). This
is the equivalent surface implemented directly on a SparkSession with
parquet-backed managed tables:

- ``insert_overwrite_by_time_partition`` — the core incremental op — uses
  dynamic partition overwrite (the same InsertOverwriteStrategy the
  reference picks for Spark, spark.py:52), so only the day partitions the
  interval owns are replaced. At 100 TB this is what keeps a daily
  backfill from rewriting the table.
- Every partition-scoped write (time-range, by-partition, copy-on-write
  merge, SCD2 current slice) goes through ``_replace_partitions``: it
  replaces the partitions the new rows produce and drops the partitions
  the write owns but leaves empty, so an emptied interval or slice keeps
  no old rows.
- ``merge`` — no Delta in this environment, so upserts use the reference's
  own logical-merge fallback (mixins.py:35 LogicalMergeMixin →
  base.py:2910 _replace_by_key): anti-join out matched keys, append the
  deduped source, atomically swap.
- ``replace_query`` / table swaps emulate CREATE OR REPLACE atomicity by
  staging to a temp table and renaming — the same immutable-table+pointer
  discipline the reference uses for its virtual layer.
- A table is created in a ``TableLayout`` (format, partitions, buckets,
  engine-managed columns). Every rewrite, clone or stage of it takes that
  layout from its caller (``Model.layout`` for a snapshot table), never
  from the catalog. Creation reclaims files a crash left there.

All DDL goes through ``spark.sql`` so the catalog (in-memory here,
Hive/Glue/Unity in production) stays the source of truth.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Iterable, Mapping, Optional, Sequence, Union

from pyspark.errors import SparkRuntimeException
from pyspark.sql import DataFrame, DataFrameWriter, Observation, SparkSession
from pyspark.sql import functions as F


def _touched_days(start: str, end: str) -> tuple[list[str], bool]:
    """The 'yyyy-MM-dd' days [start, end) touches, and whether both bounds
    sit on day boundaries."""
    import datetime as dt

    s, e = dt.datetime.fromisoformat(start), dt.datetime.fromisoformat(end)
    aligned = s.time() == e.time() == dt.time()
    if e <= s:
        return [], aligned
    first, last = s.date(), (e - dt.timedelta(microseconds=1)).date()
    return [str(first + dt.timedelta(days=i)) for i in range((last - first).days + 1)], aligned


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return str(v)
    return "'" + str(v).replace("'", "''") + "'"


QueryOrDF = Union[str, DataFrame]


@dataclass(frozen=True)
class TableLayout:
    """A table's physical layout (base.py:619 create_table arguments):
    what creating the table fixes and every rewrite of it keeps.
    ``managed_columns`` (name → type) are the engine-managed columns a
    created table carries beyond its query's output."""

    partitioned_by: tuple[str, ...] = ()
    clustered_by: tuple[str, ...] = ()
    buckets: int = 0
    storage_format: str = "parquet"
    managed_columns: Mapping[str, str] = field(default_factory=dict)


PARQUET = TableLayout()


class SparkAdapter:
    def __init__(self, spark: SparkSession, backend_cls=None):
        from sqlmesh_spark.backends import TableFormatBackend

        self.spark = spark
        # Format-native operations (merge, clone, WAP, SCD2 tail) dispatch
        # through the backend seam — parquet emulation by default,
        # DeltaBackend/IcebergBackend for native MERGE INTO / SHALLOW
        # CLONE / branch WAP (see backends.py).
        self.backend = (backend_cls or TableFormatBackend)(self)
        # Dynamic overwrite is the contract for insert_overwrite_*; set at
        # runtime so the adapter works under any host session.
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    # -- helpers -----------------------------------------------------------

    def _df(self, query_or_df: QueryOrDF) -> DataFrame:
        if isinstance(query_or_df, str):
            return self.spark.sql(query_or_df)
        return query_or_df

    def _tmp_name(self, base: str) -> str:
        return f"{base}__sqlmesh_tmp_{uuid.uuid4().hex[:8]}"

    # -- namespace DDL (base.py:1380-1452) ---------------------------------

    def create_schema(self, name: str) -> None:
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")

    def create_catalog(self, name: str) -> None:
        """base.py:1452 — catalog creation. Spark catalogs are session
        configuration (``spark.sql.catalog.<name>`` plugin classes), not
        DDL-creatable at runtime; the reference's Spark adapter likewise
        has no create_catalog. Raise the clear unsupported error the
        reference raises for engines without catalog DDL."""
        from sqlmesh_spark.backends import UnsupportedTableFormatError

        raise UnsupportedTableFormatError(
            f"create_catalog({name!r}): Spark catalogs are configured via "
            "spark.sql.catalog.* session configs (Iceberg/Unity/Glue "
            "plugins), not created by DDL"
        )

    def drop_schema(self, name: str, cascade: bool = True) -> None:
        self.spark.sql(f"DROP DATABASE IF EXISTS {name}{' CASCADE' if cascade else ''}")

    # -- table DDL (base.py:619-780, 1059-1196) ----------------------------

    def create_table(
        self,
        table: str,
        columns_to_types: Mapping[str, str],
        layout: TableLayout = PARQUET,
    ) -> None:
        """CREATE TABLE from ``columns_to_types`` plus the layout's
        engine-managed columns, in the layout."""
        columns = {**columns_to_types, **layout.managed_columns}
        cols = ", ".join(f"`{c}` {t}" for c, t in columns.items())
        ddl = f"CREATE TABLE IF NOT EXISTS {table} ({cols}) USING {layout.storage_format}"
        if layout.partitioned_by:
            ddl += f" PARTITIONED BY ({', '.join(layout.partitioned_by)})"
        if layout.clustered_by and layout.buckets:
            # Bucketing co-locates later joins/aggs on these keys without a
            # shuffle — the parquet-era answer to Delta CLUSTER BY.
            keys = ", ".join(layout.clustered_by)
            ddl += f" CLUSTERED BY ({keys}) SORTED BY ({keys}) INTO {layout.buckets} BUCKETS"
        self._create(lambda: self.spark.sql(ddl))

    def ctas(self, table: str, query_or_df: QueryOrDF, layout: TableLayout = PARQUET) -> None:
        writer = self._writer(self._df(query_or_df), layout).mode("errorifexists")
        self._create(lambda: writer.saveAsTable(table))

    @staticmethod
    def _writer(df: DataFrame, layout: TableLayout) -> DataFrameWriter:
        writer = df.write.format(layout.storage_format)
        if layout.partitioned_by:
            writer = writer.partitionBy(*layout.partitioned_by)
        if layout.clustered_by and layout.buckets:
            # Hash-bucketed layout: later joins/aggs on these keys read
            # co-located buckets with no exchange (bucketed_join_colocated
            # plan-asserts the zero-shuffle property).
            writer = writer.bucketBy(layout.buckets, *layout.clustered_by).sortBy(
                *layout.clustered_by
            )
        return writer

    @staticmethod
    def _create(create: Callable[[], object]) -> None:
        """Run a table-creating statement. A crash or a catalog restart
        can leave files at a managed table's location without a catalog
        entry (content-addressed snapshot names make re-collision
        routine); the catalog is the source of truth, so the location the
        creation names — wherever its database lives — is reclaimed and
        the creation runs once more."""
        import shutil
        from urllib.parse import urlparse

        try:
            create()
        except SparkRuntimeException as e:
            if e.getCondition() != "LOCATION_ALREADY_EXISTS":
                raise
            location = urlparse(e.getMessageParameters()["location"].strip("'"))
            if location.scheme not in ("", "file"):
                raise
            shutil.rmtree(location.path, ignore_errors=True)
            create()

    def create_view(self, name: str, query_or_df: QueryOrDF, replace: bool = True) -> None:
        if isinstance(query_or_df, str):
            self.spark.sql(
                f"CREATE {'OR REPLACE ' if replace else ''}VIEW {name} AS {query_or_df}"
            )
        else:
            # Persistent catalog views cannot reference temp objects, so a
            # DataFrame source becomes a (session-scoped) temp view. The
            # framework's virtual layer always passes SQL over physical
            # tables, which takes the persistent branch above.
            query_or_df.createOrReplaceTempView(name.replace(".", "__"))

    def drop_table(self, table: str) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {table}")

    def drop_view(self, name: str) -> None:
        self.spark.sql(f"DROP VIEW IF EXISTS {name}")

    def rename_table(self, old: str, new: str) -> None:
        self.spark.sql(f"ALTER TABLE {old} RENAME TO {new}")

    def clone_table(self, target: str, source: str, layout: TableLayout) -> None:
        """base.py:1059 — dev-preview clone. Dispatches through the format
        backend: parquet emulation copies (CTAS), DeltaBackend runs
        SHALLOW CLONE (zero-copy)."""
        self.backend.clone(target, source, layout)

    def alter_table(self, table: str, alter_expressions: Iterable[str]) -> None:
        """Apply SchemaDiffer operations (base.py:1183)."""
        for expr in alter_expressions:
            self.spark.sql(expr)

    # -- catalog introspection (base.py:1468-1497, spark.py:354-390) -------

    def table_exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(table)

    def columns(self, table: str) -> dict[str, str]:
        return {f.name: f.dataType.simpleString() for f in self.spark.table(table).schema}

    def get_data_objects(self, schema: str) -> list[dict]:
        out = []
        for t in self.spark.catalog.listTables(schema):
            out.append({"name": t.name, "schema": schema, "type": t.tableType.lower()})
        return out

    # -- DML ---------------------------------------------------------------

    def _project_to_table(self, df: DataFrame, table: str) -> DataFrame:
        """Align df to the table's declared column order; columns the query
        no longer produces (retained after a warn-policy destructive change
        — parquet cannot DROP COLUMN) null-fill at the table's type."""
        have = {c.lower() for c in df.columns}
        out = []
        for f_ in self.spark.table(table).schema:
            if f_.name.lower() in have:
                out.append(F.col(f_.name))
            else:
                out.append(F.lit(None).cast(f_.dataType).alias(f_.name))
        return df.select(*out)

    def insert_append(self, table: str, query_or_df: QueryOrDF) -> None:
        """base.py:1500 — plain INSERT INTO. v1 insertInto matches columns
        positionally, so project into the table's declared order first."""
        df = self._df(query_or_df)
        self._project_to_table(df, table).write.insertInto(table, overwrite=False)

    def insert_overwrite_by_time_partition(
        self,
        table: str,
        query_or_df: QueryOrDF,
        time_column: str,
        start: str,
        end: str,
        layout: TableLayout,
    ) -> None:
        """base.py:1580 — THE incremental op: replace exactly the rows of
        [start, end) in time_column; an interval whose batch is empty
        keeps none of its old rows.

        A table partitioned on the derived day ``_ds``
        (partition_by_time_column, kind.py:471) owns the day partitions
        [start, end) touches: ``_replace_partitions`` overwrites the days
        the batch fills and drops the owned days it leaves empty — no full
        rewrite. A table partitioned on its own columns replaces only the
        partitions the batch produces. Unpartitioned tables fall back to
        the reference's DELETE_INSERT strategy (shared.py:235-247): keep
        the complement of the interval, union the batch, swap atomically —
        because a dynamic overwrite on an unpartitioned table would
        clobber ALL history. The incoming frame is defensively re-filtered
        to the interval, the same WHERE the reference injects
        (base.py:1609).
        """
        in_interval = (F.col(time_column) >= F.lit(start).cast("timestamp")) & (
            F.col(time_column) < F.lit(end).cast("timestamp")
        )
        df = self._df(query_or_df).filter(in_interval)
        if "_ds" in layout.partitioned_by:
            days, aligned = _touched_days(start, end)
            if not aligned:
                # Sub-daily interval inside day partitions: the touched days
                # also hold sibling sub-day batches. Partition-scoped
                # DELETE_INSERT: read ONLY the touched day partitions
                # (pruned scan) and keep their rows outside the interval —
                # cost is O(touched days), never O(table).
                kept = self.spark.table(table).filter(
                    F.col("_ds").isin(days) & ~in_interval
                )
                df = kept.unionByName(self._project_to_table(df, table))
            self._replace_partitions(table, df, [{"_ds": d} for d in days])
        elif layout.partitioned_by:
            self._replace_partitions(table, df)
        else:
            kept = self.spark.table(table).filter(~in_interval)
            self._atomic_rewrite(
                table, kept.unionByName(self._project_to_table(df, table)), layout
            )

    def insert_overwrite_by_partition(self, table: str, query_or_df: QueryOrDF) -> None:
        """base.py:1551 — INCREMENTAL_BY_PARTITION: replace whole partitions
        present in the incoming data."""
        self._replace_partitions(table, self._df(query_or_df))

    def _replace_partitions(
        self, table: str, df: DataFrame, owned: Sequence[Mapping[str, object]] = ()
    ) -> None:
        """The one partition overwrite: replace the partitions ``df``
        produces, then drop the ``owned`` partitions (each a partition
        column → value spec) that ``df`` left empty, in one DDL statement
        and only when one needs dropping. With partitionOverwriteMode=
        dynamic (set in __init__) the overwrite cannot write an empty
        partition, so without the drop an emptied partition would keep its
        old rows. Which partitions ``df`` produced comes from an
        Observation on the same write: no second job."""
        df = self._project_to_table(df, table)
        seen = Observation()
        if owned:
            df = df.observe(seen, F.collect_set(F.struct(*owned[0])).alias("produced"))
        df.write.insertInto(table, overwrite=True)
        produced = {tuple(r) for r in seen.get["produced"]} if owned else set()
        empty = [spec for spec in owned if tuple(spec.values()) not in produced]
        if empty:
            self.spark.sql(
                f"ALTER TABLE {table} DROP IF EXISTS "
                + ", ".join(
                    "PARTITION ("
                    + ", ".join(f"{c} = {_sql_literal(v)}" for c, v in spec.items())
                    + ")"
                    for spec in empty
                )
            )

    def delete_from(self, table: str, where: str, layout: TableLayout) -> None:
        """base.py:1497 — parquet path: rewrite keeping the complement."""
        kept = self.spark.table(table).filter(f"NOT ({where})")
        self._atomic_rewrite(table, kept, layout)

    def update_table(
        self, table: str, set_exprs: Mapping[str, str], where: str, layout: TableLayout
    ) -> None:
        """base.py:1715 — parquet path: CASE-projection rewrite."""
        cols = []
        for c in self.columns(table):
            if c in set_exprs:
                cols.append(F.expr(f"CASE WHEN {where} THEN {set_exprs[c]} ELSE {c} END").alias(c))
            else:
                cols.append(F.col(c))
        self._atomic_rewrite(table, self.spark.table(table).select(*cols), layout)

    def merge(
        self,
        target: str,
        source: QueryOrDF,
        unique_key: Sequence[str],
        layout: TableLayout,
        merge_filter: Optional[str] = None,
    ) -> None:
        """base.py:2203 upsert via the logical-merge fallback the reference
        uses for MERGE-less engines (_replace_by_key, base.py:2910):

        1. dedup source by key (latest wins is the caller's ordering duty;
           here ROW_NUMBER over the key with no order = arbitrary-but-
           deterministic pick, matching reference semantics for unordered
           sources),
        2. keep target rows whose key is NOT in the source (anti join),
        3. union the deduped source, swap atomically.

        ``merge_filter`` (kind.py:516) narrows which *target* rows are
        eligible for replacement — the pushdown that keeps a key-merge from
        scanning all history at scale.

        Dispatches through the format backend: the parquet backend runs
        the logical merge COPY-ON-WRITE (partitioned targets rewrite only
        partitions holding a matched key or receiving a row — see
        backends.py), DeltaBackend/IcebergBackend run native MERGE INTO.
        """
        self.backend.merge(target, self._df(source), unique_key, layout, merge_filter)

    def replace_query(
        self,
        table: str,
        query_or_df: QueryOrDF,
        layout: TableLayout,
    ) -> None:
        """base.py:459 — atomic full refresh (CREATE OR REPLACE TABLE) in
        ``layout``."""
        df = self._df(query_or_df)
        if self.table_exists(table):
            self._atomic_rewrite(table, df, layout)
        else:
            self.ctas(table, df, layout)

    def _atomic_rewrite(self, table: str, df: DataFrame, layout: TableLayout) -> None:
        """Stage to a temp table, then swap via rename — the no-transaction
        atomicity discipline (immutable tables + pointer swap) the
        reference's virtual layer uses (plan/stages.py:165).

        The rewrite keeps the whole ``layout`` its caller passes, so no
        rewrite silently flattens a partitioned, bucketed or non-parquet
        table (a lost partition would lock every later interval write into
        full-table rewrites)."""
        tmp = self._tmp_name(table)
        self._writer(df, layout).saveAsTable(tmp)
        self._swap(table, tmp, layout)

    def _swap(self, table: str, staged: str, layout: TableLayout) -> None:
        """Replace ``table`` by ``staged``, a table written in ``layout``."""
        self.drop_table(table)
        self.rename_table(staged, table)
        if layout.partitioned_by:
            # RENAME moves a managed table's directory but leaves the
            # catalog's per-partition locations pointing at the OLD path
            # (the table reads empty) — re-register partitions from the
            # filesystem after the swap.
            self.spark.sql(f"MSCK REPAIR TABLE {table}")

    def optimize_compact(
        self, table: str, sort_by: list[str], target_files: int, layout: TableLayout
    ) -> None:
        """Table-maintenance rewrite: compact into ``target_files``
        range-partitioned files sorted within each on ``sort_by`` — the
        parquet-era analog of Delta OPTIMIZE ZORDER / Iceberg rewrite
        (SURVEY §4: reference delegates maintenance to the engine).
        Afterward each file owns a disjoint key range, so min/max footer
        stats prune file reads for key predicates — at 100 TB the
        difference between touching 1/N files and touching all of them.
        Content is unchanged; the swap reuses the atomic stage+rename."""
        df = (
            self.spark.table(table)
            .repartitionByRange(target_files, *[F.col(c) for c in sort_by])
            .sortWithinPartitions(*sort_by)
        )
        self._atomic_rewrite(table, df, layout)

    # -- write-audit-publish (base.py:2452-2492; Iceberg impl
    # -- spark.py:492-534 uses branches + cherrypick) -----------------------

    def wap_prepare(self, table: str, layout: TableLayout) -> str:
        """Open a WAP 'branch'. Backend seam: IcebergBackend issues
        ALTER TABLE ... CREATE BRANCH (spark.py:492-534); the parquet
        emulation stages to a physical clone with the same contract —
        audit before publish, publish is atomic."""
        return self.backend.wap_prepare(table, layout)

    def wap_publish(self, table: str, staging: str, layout: TableLayout) -> None:
        """Atomically promote the audited staging state (Iceberg:
        system.cherrypick_snapshot; parquet: drop + rename swap)."""
        self.backend.wap_publish(table, staging, layout)

    # -- seeds (model/seed.py:91, evaluator.py:2421) -----------------------

    def seed_frame(self, csv_text: str, columns_to_types: Mapping[str, str]) -> DataFrame:
        """CSV seed → typed frame. Parsed driver-side (seeds are small by
        definition); schema declared, never inferred: columns declared
        STRING are read as text, so '1' stays '1'."""
        import io

        import pandas as pd

        text_cols = {c: str for c, t in columns_to_types.items() if t.upper() == "STRING"}
        pdf = pd.read_csv(io.StringIO(csv_text), dtype=text_cols)
        schema = ", ".join(f"{c} {t}" for c, t in columns_to_types.items())
        return self.spark.createDataFrame(pdf[[c for c in columns_to_types]], schema=schema)

    # -- fetch (base.py:2381-2450, spark.py:342-352) -----------------------

    def fetchdf(self, query: str):
        return self.spark.sql(query).toPandas()

    def fetchone(self, query: str):
        rows = self.spark.sql(query).limit(1).collect()
        return tuple(rows[0]) if rows else None

    def fetch_pyspark_df(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    # -- temp tables (base.py:2650, spark.py:329) --------------------------

    @contextmanager
    def temp_view(self, df: DataFrame, base: str = "tmp"):
        name = self._tmp_name(base)
        df.createOrReplaceTempView(name)
        try:
            yield name
        finally:
            self.spark.catalog.dropTempView(name)
