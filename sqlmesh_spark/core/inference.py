"""Render-time schema inference (``columns_to_types``).

Reference: sqlmesh/core/model/definition.py:1449-1482 (columns_to_types
walks the optimized expression tree) and renderer.py:647-685 (qualify ->
annotate_types -> simplify). With no sqlglot in this environment the same
information comes from Spark's own analyzer: render the model query with
dummy interval variables, point model references at EMPTY temp views that
carry the upstream models' (recursively inferred) schemas, and read
``spark.sql(query).dtypes`` — pure analysis, zero execution, so a 5,000
model DAG infers in catalog time, never data time.

Precedence matches the reference: explicitly declared ``columns`` win;
SEED models use their declared header; Python models can't be analyzed
without executing, so they fall back to declared columns or None.
"""

from __future__ import annotations

from typing import Mapping, Optional

from pyspark.sql import SparkSession

from sqlmesh_spark.core.model import Model, ModelKind
from sqlmesh_spark.core.scheduler import render_model_sql

_DUMMY_START, _DUMMY_END = "1970-01-01", "1970-01-02"


def _empty_view_sql(schema: Mapping[str, str]) -> str:
    casts = ", ".join(f"CAST(NULL AS {t}) AS {c}" for c, t in schema.items())
    return f"SELECT {casts} WHERE FALSE"


def _infer_view_name(model_name: str) -> str:
    return "_infer__" + model_name.replace(".", "__")


def _dep_closure(models: Mapping[str, Model], target: str) -> list[str]:
    """Dependency closure of ``target`` in parents-first topological order."""
    order: list[str] = []
    seen: set[str] = set()

    def walk(name: str) -> None:
        if name in seen:
            return
        seen.add(name)
        for dep in sorted(models[name].depends_on):
            if dep in models:
                walk(dep)
        order.append(name)

    walk(target)
    return order


def infer_columns_to_types(
    spark: SparkSession,
    models: Mapping[str, Model],
    name: str,
) -> Optional[dict[str, str]]:
    """column -> Spark type string for ``name``'s query, or None when the
    model is Python-backed or EXTERNAL with no declared columns.

    External (non-model) references resolve through the live catalog, so
    leaf tables must exist; model references never need physical tables —
    this is what lets a plan categorize schema changes BEFORE backfilling.
    """
    models = {k.lower(): v for k, v in models.items()}
    target = name.lower()
    if target not in models:
        raise KeyError(f"unknown model {name!r}")
    schemas: dict[str, dict[str, str]] = {}
    mapping: dict[str, str] = {}
    for mname in _dep_closure(models, target):
        schema = _infer_one(spark, models[mname], mapping)
        if schema is None:
            if mname == target:
                return None
            # An un-inferable upstream (python or EXTERNAL model, no
            # declared columns) poisons nothing unless the target actually reads from it —
            # Spark's analyzer will raise then, surfaced as ValueError below.
            continue
        schemas[mname] = schema
        view = _infer_view_name(mname)
        spark.sql(_empty_view_sql(schema)).createOrReplaceTempView(view)
        mapping[mname] = view
    return schemas[target]


def _infer_one(
    spark: SparkSession,
    model: Model,
    mapping: Mapping[str, str],
) -> Optional[dict[str, str]]:
    if model.columns:
        return {c: t.lower() for c, t in model.columns.items()}
    if model.kind == ModelKind.SEED:
        header = (model.seed_csv or "").splitlines()
        return {c: "string" for c in header[0].split(",")} if header else None
    if model.python_fn is not None or model.kind == ModelKind.EXTERNAL:
        # An EXTERNAL model without declared columns has no query: its
        # dependents read the live table itself.
        return None
    sql = render_model_sql(
        spark, model.query, _DUMMY_START, _DUMMY_END, mapping,
        model=model, this_model=_infer_view_name(model.name),
    )
    try:
        return dict(spark.sql(sql).limit(0).dtypes)
    except Exception as exc:
        raise ValueError(f"cannot infer schema for {model.name}: {exc}") from exc
