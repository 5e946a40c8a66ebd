"""Live Delta / Iceberg execution tests — skip-gated on jar availability.

The ``DeltaBackend`` / ``IcebergBackend`` statements (``MERGE INTO``,
``SHALLOW CLONE``, branch-WAP — ref engine_adapter/spark.py:492-534,
base.py:1059/2203) are golden-tested byte-exact in ``tests/test_backends.py``
but this sandbox ships no Delta/Iceberg jars and no network, so they have
never EXECUTED. This module is the proof-seam for the day the environment
allows it: ``pip install delta-spark`` (or drop an iceberg-spark-runtime
jar into $SPARK_HOME/jars) and these tests run the real statements
end-to-end. Each test builds its session in a SUBPROCESS so the required
``spark.sql.extensions`` apply cleanly regardless of the shared
session-scoped fixture's configuration (extensions bind at JVM session
creation and cannot be added to an existing session).

Gate documented in SCALE.md §"Table-format conformance".
"""

from __future__ import annotations

import glob
import importlib.util
import os
import subprocess
import sys
import tempfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _has_delta() -> bool:
    return importlib.util.find_spec("delta") is not None


def _iceberg_jar() -> str | None:
    spark_home = os.environ.get("SPARK_HOME", "")
    candidates = glob.glob(
        os.path.join(spark_home, "jars", "iceberg-spark-runtime*.jar")
    ) + glob.glob(
        os.path.join(os.environ.get("SPARK_ICEBERG_JAR", "/nonexistent"))
    )
    return candidates[0] if candidates else None


def _run(script: str) -> None:
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
        env={**os.environ, "PYTHONPATH": REPO},
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr}"


@pytest.mark.skipif(not _has_delta(), reason="delta-spark not installed (no jars/network in this sandbox)")
def test_delta_merge_into_and_shallow_clone_live():
    """Real Delta MERGE INTO + SHALLOW CLONE through DeltaBackend."""
    warehouse = tempfile.mkdtemp(prefix="delta_wh_")
    _run(
        f"""
import sys
sys.path.insert(0, {REPO!r})
from delta import configure_spark_with_delta_pip
from pyspark.sql import SparkSession

builder = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension")
    .config("spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog")
    .config("spark.sql.warehouse.dir", {warehouse!r})
)
spark = configure_spark_with_delta_pip(builder).getOrCreate()
from sqlmesh_spark.adapter import PARQUET, SparkAdapter
from sqlmesh_spark.backends import DeltaBackend

adapter = SparkAdapter(spark)
spark.sql("CREATE TABLE t_delta (id INT, v STRING) USING delta")
spark.sql("INSERT INTO t_delta VALUES (1, 'a'), (2, 'b')")
backend = DeltaBackend(adapter)

src = spark.createDataFrame([(2, 'B'), (3, 'c')], "id int, v string")
backend.merge("t_delta", src, ["id"], PARQUET)
rows = {{(r.id, r.v) for r in spark.table("t_delta").collect()}}
assert rows == {{(1, 'a'), (2, 'B'), (3, 'c')}}, rows

backend.clone("t_delta_clone", "t_delta", PARQUET)
assert spark.table("t_delta_clone").count() == 3
print("delta live OK")
"""
    )


@pytest.mark.skipif(_iceberg_jar() is None, reason="no iceberg-spark-runtime jar (no jars/network in this sandbox)")
def test_iceberg_branch_wap_live():
    """Real Iceberg branch-WAP (CREATE BRANCH → write → cherrypick/publish)
    through IcebergBackend against a hadoop catalog."""
    warehouse = tempfile.mkdtemp(prefix="iceberg_wh_")
    jar = _iceberg_jar()
    _run(
        f"""
import sys
sys.path.insert(0, {REPO!r})
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.jars", {jar!r})
    .config("spark.sql.extensions",
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions")
    .config("spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog")
    .config("spark.sql.catalog.local.type", "hadoop")
    .config("spark.sql.catalog.local.warehouse", {warehouse!r})
    .getOrCreate()
)
from sqlmesh_spark.adapter import PARQUET, SparkAdapter
from sqlmesh_spark.backends import IcebergBackend

adapter = SparkAdapter(spark)
spark.sql("CREATE TABLE local.db.t_ice (id INT, v STRING) USING iceberg")
spark.sql("INSERT INTO local.db.t_ice VALUES (1, 'a')")
backend = IcebergBackend(adapter)

staging = backend.wap_prepare("local.db.t_ice", PARQUET)
spark.sql(f"INSERT INTO {{staging}} VALUES (2, 'b')")
assert spark.table("local.db.t_ice").count() == 1  # main untouched
backend.wap_publish("local.db.t_ice", staging, PARQUET)
assert spark.table("local.db.t_ice").count() == 2
print("iceberg live OK")
"""
    )


def test_backends_raise_with_statement_attached(spark):
    """In THIS sandbox the backends must refuse loudly, attaching the exact
    statement they would have run — the golden contract that keeps the
    skip-gated tests honest (same statement text, never executed)."""
    from sqlmesh_spark.adapter import PARQUET, SparkAdapter
    from sqlmesh_spark.backends import DeltaBackend, UnsupportedTableFormatError

    adapter = SparkAdapter(spark)
    backend = DeltaBackend(adapter)
    src = spark.createDataFrame([(1, "a")], "id int, v string")
    with pytest.raises(UnsupportedTableFormatError) as exc_info:
        backend.merge("default.t_never_exists", src, ["id"], PARQUET)
    assert "MERGE INTO default.t_never_exists" in exc_info.value.statement
