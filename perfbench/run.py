"""Benchmark entry point.

    python3 perfbench/run.py --workload project_lifecycle --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. It generates the workload's
inputs from ``--seed`` under ``.perfbench_work/`` in the checkout, starts
one local Spark session on every core, runs a checked warm-up, then
measured reps (at least MIN_REPS, more until ``--seconds`` have passed),
and deletes its work directory. The last line of stdout is the result JSON: end-to-end metrics
with ``--trace 0``; with ``--trace 1``, per-layer metrics from reps that
alternate untraced and traced. The line before it holds every named
metric with its sample count. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time


# Reps measured at least, whatever --seconds says: the JVM is still warming
# after the warm-up, so a rep count left to the clock would shift the medians.
MIN_REPS = 2


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _isolate(work: str) -> dict[str, str]:
    """Point every scratch location of Python, Spark and the JVM inside
    ``work``; return the Spark confs that do so."""
    for sub in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")
    # Every JVM started from here (spark-submit's launcher and Spark itself):
    # temp files in the work dir, and no hsperfdata file in the system /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    return {"spark.local.dir": os.path.join(work, "local"), "spark.driver.memory": "2g"}


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _log(msg: str, t0: float) -> None:
    print(f"perfbench: {msg} at {time.perf_counter() - t0:.1f}s", file=sys.stderr, flush=True)


def main() -> int:
    args = _parse()
    # On SIGTERM unwind through the finally blocks: stop the JVM, delete work.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "sqlmesh_spark", "__init__.py")):
        print("perfbench: run from the root of a sqlmesh_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import datagen, layers
    from perfbench.headline import Headline
    from perfbench.lifecycle import Lifecycle
    from perfbench.measure import Recorder, group_sums, host_cpu_jiffies, median, one_rep, summary
    from perfbench.trace import Tracer

    workloads = {
        "project_lifecycle": Lifecycle,
        "headline_queries": Headline,
    }
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cls = workloads[args.workload]
    work = os.path.join(root, ".perfbench_work", str(os.getpid()))
    data_dir = os.path.join(work, "data")
    rec = Recorder(Tracer())
    untraced: list[float] = []
    traced: list[float] = []
    spark = None
    start = time.perf_counter()
    try:
        conf = _isolate(work)
        if args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        datagen.generate(data_dir, cls.scale, args.seed)
        _log(f"generated scale {cls.scale} inputs", start)
        from sqlmesh_spark.session import build_session

        cpus = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        spark = build_session(app_name="perfbench", cpus=cpus, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        rec.jvm_pid = spark.sparkContext._gateway.proc.pid
        _log(f"Spark session on {cpus} cores up", start)
        wl = cls(spark, data_dir, work, args.seed, rec)
        if hasattr(wl, "warmup"):
            wl.warmup()
        else:
            one_rep(wl, 0, rec, record=False)
        _log("checked warm-up done", start)
        steal0 = host_cpu_jiffies()
        deadline = time.perf_counter() + args.seconds
        rep = 1
        while True:
            use_trace = bool(args.trace) and len(traced) < len(untraced)
            total = one_rep(wl, rep, rec, traced=use_trace)
            rep += 1
            _log(f"rep {rep - 1} {'traced ' if use_trace else ''}done", start)
            if total is not None:
                (traced if use_trace else untraced).append(total)
            # A traced run brackets each traced rep between untraced ones.
            enough = len(untraced) >= MIN_REPS and (
                not args.trace or (traced and len(untraced) > len(traced))
            )
            # Failed reps are retried, but only a couple of times.
            if time.perf_counter() >= deadline and (enough or rep > MIN_REPS + 3):
                break
        if not untraced or (args.trace and not traced):
            print("perfbench: no rep completed", file=sys.stderr)
            return 1
        steal1 = host_cpu_jiffies()
        samples = rec.samples
        detail = {k: dict(summary(v), unit=layers.unit(k)) for k, v in sorted(samples.items())}
        groups = group_sums(samples, wl.groups)
        detail.update({k: {"value": v, "unit": layers.unit(k)} for k, v in groups.items()})
        primary, secondary = wl.groups
        if args.trace:
            _stop(spark)
            spark = None
            metrics = layers.per_layer(rec, wl, traced, untraced, os.path.join(work, "events"))
            detail["blocking_path"] = layers.blocking_path(rec, len(traced))
            detail["layer_map"] = layers.LAYER_MAP
        else:
            metrics = {
                "setup_s": min(samples["setup_s"]),
                "total_cpu_s": median(samples["total_cpu_s"]),
                "primary_cpu_s": groups[f"{primary}_cpu_s"],
                "secondary_cpu_s": groups[f"{secondary}_cpu_s"],
                "ok_ops_ratio": (rec.attempted - rec.failed) / rec.attempted,
            }
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "scale": cls.scale,
            "primary": primary, "secondary": secondary,
            "session_start_s": session_s, "reps": len(untraced) + len(traced),
            "host_steal_ratio": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "named": detail,
        }))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps({
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {k: {"value": v, "unit": layers.unit(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
