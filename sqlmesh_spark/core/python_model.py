"""Python models — @model-decorated functions returning DataFrames.

Reference: the @model decorator (sqlmesh/core/model/decorator.py) and
PythonModel (model/definition.py:1876); the reference's Spark adapter
explicitly accepts PySpark DataFrames from Python models (spark.py:224-231
is_pyspark_df). Here a Python model is a function

    (ExecutionContext) -> DataFrame

with the same kinds/materializations as SQL models; pandas UDFs and any
DataFrame API are fair game inside (the pyspark-native upgrade the
reference gets for free on its Spark engine).
"""

from __future__ import annotations

import hashlib
import inspect
from dataclasses import dataclass
from typing import TYPE_CHECKING, Callable, Mapping, Optional

from pyspark.sql import DataFrame, SparkSession

from sqlmesh_spark.core.model import Model, ModelKind

if TYPE_CHECKING:
    from sqlmesh_spark.core.scheduler import Relation


@dataclass
class ExecutionContext:
    """What a Python model sees at evaluation time (reference
    ExecutionContext: resolve upstream tables + interval bounds)."""

    spark: SparkSession
    start: str
    end: str
    _table_mapping: Mapping[str, Relation]

    def table(self, name: str) -> DataFrame:
        """Resolve a logical model/table name to a DataFrame over what a
        SQL model's reference to it reads (an EMBEDDED model's query
        renders for this interval)."""
        from sqlmesh_spark.core.scheduler import render_model_sql

        return self.spark.sql(
            render_model_sql(
                self.spark, f"SELECT * FROM {name}", self.start, self.end,
                self._table_mapping,
            )
        )


def python_model(
    name: str,
    kind: ModelKind = ModelKind.FULL,
    kind_args: Optional[dict] = None,
    depends_on: tuple[str, ...] = (),
    cron: str = "@daily",
    audits: tuple = (),
) -> Callable[[Callable[[ExecutionContext], DataFrame]], Model]:
    """Decorator: the function becomes a Model whose fingerprint hashes its
    SOURCE CODE (the Python analog of query-text fingerprinting), so
    editing the function produces a new snapshot version."""

    def deco(fn: Callable[[ExecutionContext], DataFrame]) -> Model:
        source = inspect.getsource(fn)
        return Model(
            name=name.lower(),
            kind=kind,
            # The query slot carries the source hash: fingerprint_model
            # hashes the query text, so code edits version the snapshot.
            query=f"-- python:{hashlib.md5(source.encode()).hexdigest()}",
            kind_args=kind_args or {},
            cron=cron,
            audits=audits,
            depends_on=frozenset(d.lower() for d in depends_on),
            python_fn=fn,
        )

    return deco
