"""Per-layer metrics of a traced run, and the map from each layer metric
to the end-to-end metric it should move.

Every workload reports every per-layer metric; a layer a workload does
not exercise reads 0 there (``headline_queries`` makes no scheduler
batches, ``project_lifecycle`` runs no registry case).
"""

from __future__ import annotations

from perfbench import trace
from perfbench.headline import LLM_CASES
from perfbench.measure import median

BENCH_CASES = (
    "daily_revenue", "q1_pricing_summary", "q3_shipping_priority",
    "q5_local_supplier_volume", "q6_forecast_revenue", "q8_market_share",
    "q10_returned_items", "q21_lone_fault_supplier", "topk_per_group",
    "rolling_range_window", "scd_type_2_by_time", "mat_merge_by_key",
) + LLM_CASES

# layer metric -> (end-to-end metrics it should move, workloads that exercise
# it). Named metrics are on the detail line; the gated ones are the result's
# CPU twins: on project_lifecycle primary = backfill + daily runs and
# secondary = no-op reruns + dev plan/apply; on headline_queries primary =
# relational cases and secondary = LLM cases.
LC = "project_lifecycle"
HQ = "headline_queries"
PLAN = (["setup_s", "dev_plan_apply_s", "secondary_cpu_s"], [LC])
ORCH = (["noop_run_s", "dev_plan_apply_s", "secondary_cpu_s", "total_cpu_s"], [LC])
WRITE = (["backfill_s", "daily_run_s", "primary_cpu_s"], [LC])
RENDER = (["daily_run_s", "noop_run_s", "primary_cpu_s", "secondary_cpu_s"], [LC])
DATA = (["relational_s", "llm_ops_s", "primary_cpu_s", "secondary_cpu_s"], [HQ])
EXEC = (["relational_s", "backfill_s", "warehouse_bytes", "primary_cpu_s"], [HQ, LC])
LAYER_MAP = {
    "context.add_model_s": PLAN,
    "plan.plan_s": PLAN,
    "plan.apply_self_s": ORCH,
    "adapter.catalog_calls": ORCH,
    "adapter.catalog_s": ORCH,
    "adapter.ddl_calls": ORCH,
    "state.calls": ORCH,
    "state.s": ORCH,
    "scheduler.batches": WRITE,
    "scheduler.evaluate_s": WRITE,
    "scheduler.audit_s": WRITE,
    "adapter.write_calls": WRITE,
    "adapter.write_s": WRITE,
    "scheduler.render_s": RENDER,
    "scheduler.render_cache_hit_ratio": RENDER,
    "macros.render_calls": RENDER,
    "macros.render_s": RENDER,
    "state.dir_bytes": (["daily_run_s", "primary_cpu_s"], [LC]),
    "spark.construct_s": DATA,
    "spark.catalyst_s": DATA,
    "spark.execute_s": DATA,
    **{f"query.{c}_s": DATA for c in BENCH_CASES},
    "spark.jobs": EXEC,
    "spark.tasks": EXEC,
    "spark.executor_run_s": EXEC,
    "spark.shuffle_bytes": EXEC,
    "spark.spill_bytes": EXEC,
    "trace.overhead_ratio": ([], [LC, HQ]),
    "trace.gap_ratio": ([], [LC, HQ]),
}


def unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def per_layer(rec, wl, traced: list[float], untraced: list[float], events_dir: str) -> dict[str, float]:
    """Per traced rep: sums over the traced reps divided by their number."""
    n = len(traced)
    spans = trace.summarize(rec.tracer.spans)

    def secs(name: str, key: str = "s") -> float:
        return spans.get(name, {}).get(key, 0.0) / n

    def calls(name: str) -> float:
        return spans.get(name, {}).get("calls", 0) / n

    hits, misses = rec.tracer.render_hits, rec.tracer.render_misses
    ops = [v for k, v in spans.items() if k.startswith("op.") and k != "op.setup_s"]
    jvm = trace.spark_jvm_metrics(events_dir, rec.windows)
    out = {
        "context.add_model_s": secs("context.add_model"),
        "plan.plan_s": secs("plan.plan"),
        "plan.apply_self_s": secs("plan.apply", "self_s"),
        "adapter.catalog_calls": calls("adapter.catalog") + calls("adapter.ddl"),
        "adapter.catalog_s": secs("adapter.catalog") + secs("adapter.ddl"),
        "adapter.ddl_calls": calls("adapter.ddl"),
        "state.calls": calls("state"),
        "state.s": secs("state"),
        "scheduler.batches": calls("scheduler.evaluate"),
        "scheduler.evaluate_s": secs("scheduler.evaluate"),
        "scheduler.audit_s": secs("scheduler.audit"),
        "adapter.write_calls": calls("adapter.write"),
        "adapter.write_s": secs("adapter.write"),
        "scheduler.render_s": secs("scheduler.render"),
        "scheduler.render_cache_hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
        "macros.render_calls": calls("macros.render"),
        "macros.render_s": secs("macros.render"),
        "state.dir_bytes": median(rec.traced_samples.get("state.dir_bytes") or [0]),
        "spark.construct_s": secs("spark.construct"),
        "spark.catalyst_s": getattr(wl, "catalyst_s", 0.0) / n,
        "spark.execute_s": secs("spark.execute"),
    }
    for c in BENCH_CASES:
        out[f"query.{c}_s"] = median(rec.samples.get(f"query.{c}") or [0])
    out.update({f"spark.{k}": v / n for k, v in jvm.items()})
    out["trace.overhead_ratio"] = median(traced) / median(untraced)
    op_total = sum(v["s"] for v in ops)
    out["trace.gap_ratio"] = sum(v["self_s"] for v in ops) / op_total if op_total else 0.0
    if set(out) != set(LAYER_MAP):
        raise RuntimeError(f"per-layer metrics out of step with LAYER_MAP: {set(out) ^ set(LAYER_MAP)}")
    return out


def blocking_path(rec, n: int) -> dict[str, dict[str, float]]:
    """Calls, inclusive and self seconds per span name, per traced rep."""
    return {
        k: {m: round(v[m] / n, 6) for m in ("calls", "s", "self_s")}
        for k, v in sorted(trace.summarize(rec.tracer.spans).items())
    }
