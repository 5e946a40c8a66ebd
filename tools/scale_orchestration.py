"""Orchestration-at-scale profile: plan→apply→run over a synthetic
N-model DAG, 1× vs 10× model count (r12 verdict #7 / carried r11 #8).

What it measures — the ORCHESTRATION plane, not the data plane: model
parsing, fingerprinting/snapshot building, plan categorization, state
store traffic (the StateStore's own file read/write/byte counters),
DAG scheduling, and the per-model DDL the virtual layer needs. Models
are trivial (layer-0 SELECTs of literals; upper layers reference 1-2
parents) so the engine work per model is a catalog op, not a job.

    python tools/scale_orchestration.py --models 100 --out /dev/stdout
    python tools/scale_orchestration.py --models 100,1000 --out SCALE_r13.json

Phases per size:
  build   — parse N model texts into Context
  plan    — Context.plan (fingerprints, diff vs empty env, categorize)
  apply   — PlanEvaluator.apply (N snapshot records, scheduler backfill
            in DAG order, virtual-layer view swap)
  rerun   — Context.run again (no-op plan: unchanged fingerprints; the
            zero-recompute property should make this the cheap path)
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sqlmesh_spark.session import build_session


def model_text(layer: int, idx: int, parents: list[str]) -> str:
    name = f"orch_demo.m_l{layer}_{idx}"
    if not parents:
        body = f"SELECT {idx} AS k, CAST({layer} AS BIGINT) AS v"
    else:
        refs = " UNION ALL ".join(f"SELECT k, v FROM {p}" for p in parents)
        body = f"SELECT k, SUM(v) AS v FROM ({refs}) GROUP BY k"
    return f"MODEL (name {name}, kind VIEW);\n{body}\n"


def build_dag(n: int, layers: int) -> list[str]:
    """Layered DAG: ~n/layers models per layer; each upper-layer model
    references two models of the layer below (wrap-around)."""
    per = max(1, n // layers)
    texts: list[str] = []
    prev: list[str] = []
    total = 0
    layer = 0
    while total < n:
        cur: list[str] = []
        for j in range(min(per, n - total)):
            parents = []
            if prev:
                parents = [prev[j % len(prev)], prev[(j + 1) % len(prev)]]
            texts.append(model_text(layer, j, parents))
            cur.append(f"orch_demo.m_l{layer}_{j}")
            total += 1
        prev = cur
        layer += 1
    return texts


def profile(spark, n: int, layers: int) -> dict:
    from sqlmesh_spark.core.context import Context

    spark.sql("DROP DATABASE IF EXISTS sqlmesh__orch_demo CASCADE")
    spark.sql("DROP DATABASE IF EXISTS orch_env_views CASCADE")
    state_dir = tempfile.mkdtemp(prefix="sqlmesh_orch_state_")
    ctx = Context(spark, state_dir=state_dir)
    st = ctx.state
    base = (st.reads, st.writes, st.bytes_written)

    def counters() -> dict:
        """State file traffic since the context opened, as the store
        counts it."""
        return {
            "reads": st.reads - base[0],
            "writes": st.writes - base[1],
            "write_bytes": st.bytes_written - base[2],
        }

    out: dict = {"models": n, "layers": layers}

    t0 = time.perf_counter()
    for text in build_dag(n, layers):
        ctx.add_model(text)
    out["build_sec"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    plan = ctx.plan("orch_env", start="1995-01-01", end="1995-01-02",
                    skip_tests=True, skip_linter=True)
    out["plan_sec"] = round(time.perf_counter() - t0, 3)
    out["plan_state_ops"] = counters()

    t0 = time.perf_counter()
    ctx.apply(plan)
    out["apply_sec"] = round(time.perf_counter() - t0, 3)
    out["apply_state_ops"] = {
        k: v - out["plan_state_ops"][k] for k, v in counters().items()
    }

    t0 = time.perf_counter()
    ctx.run(environment="orch_env", start="1995-01-01", end="1995-01-02")
    out["rerun_sec"] = round(time.perf_counter() - t0, 3)
    out["total_state_ops"] = counters()
    out["rerun_state_ops"] = {
        k: v - out["plan_state_ops"][k] - out["apply_state_ops"][k]
        for k, v in out["total_state_ops"].items()
    }
    out["total_sec"] = round(
        out["build_sec"] + out["plan_sec"] + out["apply_sec"] + out["rerun_sec"], 3
    )
    # sanity: every view exists and the top layer computes
    top = [m for m in ctx.models if m.startswith("orch_demo.m_l0_")]
    assert spark.table("orch_env_views." + top[0].split(".", 1)[1].replace(
        "m_l0_", "m_l0_")).count() >= 1
    shutil.rmtree(state_dir, ignore_errors=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--models", default="100,1000")
    ap.add_argument("--layers", type=int, default=10)
    ap.add_argument("--out", default="SCALE_r13.json")
    args = ap.parse_args()
    spark = build_session(app_name="sqlmesh_spark_scale_orch")
    spark.sparkContext.setLogLevel("ERROR")
    sizes = [int(s) for s in str(args.models).split(",")]
    results = []
    for n in sizes:
        spark.sparkContext.setJobDescription(f"orchestration scale n={n}")
        results.append(profile(spark, n, args.layers))
        print(json.dumps(results[-1]), flush=True)
    blob = {
        "what": (
            "orchestration plane at scale: plan->apply->run over a "
            "synthetic layered VIEW DAG; wall per phase + state-store op "
            "counts (the StateStore's file reads, writes and bytes written)"
        ),
        "sizes": results,
    }
    with open(args.out, "w") as f:
        json.dump(blob, f, indent=1)
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
