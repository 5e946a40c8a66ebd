"""Generated-code reuse: a repeated query must not recompile.

Spark caches the classes its whole-stage codegen compiles, keyed by the
generated source. ``build_session`` sizes that cache above one headline
pass's working set, and the engine's own probe queries avoid plans whose
generated code can never repeat (a LIMIT names a per-query counter).
"""

from __future__ import annotations

import logging
import re
import tempfile
from pathlib import Path

import pytest

from sqlmesh_spark.core.context import Context
from sqlmesh_spark.core.scheduler import AuditError, SnapshotEvaluator
from sqlmesh_spark.registry import load_all

PKG = Path(__file__).resolve().parents[1] / "sqlmesh_spark"

GUARD_CASES = ("daily_revenue", "mat_merge_by_key", "scd_type_2_by_time")


def _compiles(spark) -> int:
    """Classes Janino compiled in this JVM so far (cache misses)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _audited_full_model(sf_dir: str, schema: str, audits: str) -> str:
    return f"""
MODEL (name {schema}.nations, kind FULL, audits ({audits}));
SELECT n_nationkey, n_name, n_regionkey FROM parquet.`{sf_dir}/nation.parquet`
"""


def _guard_pass(spark, sf_dir: str, i: int) -> None:
    cases = load_all()
    for name in GUARD_CASES:
        cases[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    # A fresh state and physical schema per pass, so the FULL model and
    # its audits really run again (a rerun over recorded intervals skips).
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        _audited_full_model(
            sf_dir,
            f"cg_guard_{i}",
            "not_null(columns = (n_nationkey, n_name)), "
            "unique_values(columns = (n_nationkey))",
        )
    )
    executed = ctx.run(environment=f"cg_guard_{i}", start="2024-01-01", end="2024-01-02")
    assert executed[f"cg_guard_{i}.nations"] == 1


def test_second_identical_pass_compiles_nothing(spark, sf_dir):
    """The second pass over the same queries hits the codegen cache for
    every class: no Janino compile, so no recompile or re-JIT cost."""
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 1000
    _guard_pass(spark, sf_dir, 0)
    before = _compiles(spark)
    _guard_pass(spark, sf_dir, 1)
    assert _compiles(spark) == before


def test_audit_probe_blocking_and_non_blocking(spark, sf_dir, caplog):
    """A violating blocking audit fails, a violating non-blocking one only
    warns, and a passing audit reports nothing."""
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        _audited_full_model(
            sf_dir,
            "cg_audit",
            # 25 nations over 5 regions: n_regionkey repeats.
            "unique_values(columns = (n_regionkey)), "
            "unique_values(columns = (n_regionkey), blocking = false), "
            "not_null(columns = (n_name))",
        )
    )
    with pytest.raises(AuditError, match="unique_values"):
        ctx.run(environment="cg_audit", start="2024-01-01", end="2024-01-02")

    snap = ctx.plan("cg_audit").snapshots["cg_audit.nations"]
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="sqlmesh_spark"):
        failures = SnapshotEvaluator(spark).run_audits(snap)
    assert failures == ["unique_values"]
    warned = [r.getMessage() for r in caplog.records]
    assert warned == ["non-blocking audit unique_values failed on cg_audit.nations"]


def test_engine_code_has_no_limit_count_probe():
    """Engine code must not probe with ``.limit(<n>).count()``: the LIMIT's
    generated code names a per-query ``_limit_counter_N``, so the class
    never hits the codegen cache and recompiles on every call. Use
    ``DataFrame.isEmpty()`` or ``take(n)``."""
    files = sorted((PKG / "core").glob("*.py")) + [
        PKG / name for name in ("adapter.py", "backends.py", "audits.py")
    ]
    pattern = re.compile(r"\.limit\([^()]*\)\s*\.count\(\)")
    hits = [
        f"{path.relative_to(PKG.parent)}:{n}"
        for path in files
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not hits, (
        "limit(n).count() compiles a fresh class per call (its generated "
        f"code carries a per-query _limit_counter); use isEmpty()/take(): {hits}"
    )
