"""Fourth measured-SCALE family (round 11): the STATEFUL STREAMING
operators at N× replayed micro-batches.

SCALE_r8 measured dedup/ANN, r9 text/sessionization(batch)/topk, r10
the applies (SCD2/merge). This harness measures the streaming tier the
r10 verdict called asserted-but-unmeasured: state-size-per-key and
watermark-drop behavior when the SAME user population replays N× the
events across multiple micro-batches.

    python tools/scale_stream.py --factor 100 \
        --base /root/testdata/sf0.01 --out SCALE_r11.json

Three operators, each run at 1× and N× (events replicated key-shifted
on event_id with user_id kept — same users, N× events/user — via
scale_run._replicate, the same recipe as every prior SCALE round):

  sessionize   applyInPandasWithState gap sessionization, 5 time-sliced
               micro-batches (mtime-backdated so FileStreamSource
               replays them in order). The claim under test: state rows
               == |users| (CONSTANT under 100×) because state is three
               int64s per user, never buffered events.
  upsert       foreachBatch recency-merge into a keyed latest-state
               table, 5 slices. State lives in the TABLE; rows == |users|.
  watermark    1-day tumbling window + 2-day watermark over 3 batches
               (full history, replayed tail, replayed head): the head
               replay must be DROPPED (numRowsDroppedByWatermark > 0)
               and state stays O(open windows), not O(history).

Per op and scale the JSON records wall seconds, micro-batch count, the
final/max stateOperators numRowsTotal, numRowsDroppedByWatermark,
result rows, and the N×/1× wall ratio.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

_TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_TOOLS))
sys.path.insert(0, _TOOLS)

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: E402

from scale_run import _replicate  # noqa: E402
from sqlmesh_spark.session import build_session  # noqa: E402
from sqlmesh_spark.sources.tables import load_table  # noqa: E402


def _sliced_source(df: DataFrame, ts_col: str, n_slices: int) -> str:
    """Write ``df`` into ``n_slices`` time-ordered parquet files whose
    mtimes ascend (FileStreamSource orders batches by modification
    time), so maxFilesPerTrigger=1 replays history in time order —
    the per-user ordered-arrival contract stream_sessionize documents."""
    src = tempfile.mkdtemp(prefix="scale_stream_src_")
    shutil.rmtree(src, ignore_errors=True)
    qs = [i / n_slices for i in range(1, n_slices)]
    bounds = df.approxQuantile(ts_col, qs, 0.001) if qs else []
    lo = float("-inf")
    for i, hi in enumerate(list(bounds) + [float("inf")]):
        part = df.filter(
            (F.col(ts_col) > F.lit(lo)) & (F.col(ts_col) <= F.lit(hi))
            if hi != float("inf") else F.col(ts_col) > F.lit(lo)
        )
        part.coalesce(1).write.mode("append").parquet(src)
        now = time.time()
        for k, f in enumerate(sorted(os.listdir(src))):
            if f.endswith(".parquet"):
                p = os.path.join(src, f)
                os.utime(p, (now - 3600 + k, now - 3600 + k))
        lo = hi
    return src


def _progress_state(q) -> dict:
    batches = 0
    max_state = 0
    dropped = 0
    for pr in q.recentProgress:
        batches += 1
        for so in pr.get("stateOperators") or []:
            max_state = max(max_state, so.get("numRowsTotal", 0))
            dropped += so.get("numRowsDroppedByWatermark", 0)
    return {"batches": batches, "max_state_rows": max_state,
            "rows_dropped_by_watermark": dropped}


def run_sessionize(spark: SparkSession, sf_dir: str, tag: str) -> dict:
    from sqlmesh_spark.streaming.stateful import stream_sessionize

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts_ns"
    )
    n_in = events.count()
    src = _sliced_source(events, "ts_ns", 5)
    ckpt = tempfile.mkdtemp(prefix="scale_stream_ckpt_")
    t0 = time.perf_counter()
    q = (
        stream_sessionize(spark, src, schema=events.schema,
                          max_files_per_trigger=1)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(f"scale_sess_{tag}")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.perf_counter() - t0
    rows = spark.sql(
        f"SELECT user_id, max(n_sessions) AS s FROM scale_sess_{tag} "
        "GROUP BY user_id"
    ).count()
    out = {"wall_sec": round(wall, 3), "result_rows": rows,
           "input_rows": n_in}
    out.update(_progress_state(q))
    return out


def run_upsert(spark: SparkSession, sf_dir: str, tag: str) -> dict:
    from pyspark.sql.window import Window as W

    from sqlmesh_spark.adapter import PARQUET, SparkAdapter

    adapter = SparkAdapter(spark)
    adapter.create_schema("scale_stream")
    target = f"scale_stream.latest_{tag}"
    adapter.drop_table(target)
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value", "ts_ns"
    )
    n_in = events.count()
    src = _sliced_source(events, "ts_ns", 5)
    ckpt = tempfile.mkdtemp(prefix="scale_stream_ckpt_")
    rn_w = W.partitionBy("user_id").orderBy(F.desc("ts_ns"), F.desc("event_id"))

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        latest = (
            batch_df.withColumn("rn", F.row_number().over(rn_w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        if adapter.table_exists(target):
            combined = spark.table(target).unionByName(latest)
            latest = (
                combined.withColumn("rn", F.row_number().over(rn_w))
                .filter(F.col("rn") == 1)
                .drop("rn")
            )
        adapter.replace_query(target, latest, PARQUET)

    t0 = time.perf_counter()
    q = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.perf_counter() - t0
    rows = spark.table(target).count()
    out = {"wall_sec": round(wall, 3), "result_rows": rows,
           "input_rows": n_in}
    out.update(_progress_state(q))
    return out


def run_watermark(spark: SparkSession, sf_dir: str, tag: str) -> dict:
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "value",
        F.timestamp_micros((F.col("ts_ns") / 1000).cast("bigint")).alias(
            "event_ts"
        ),
    )
    n_in = events.count()
    lo, hi = events.agg(
        F.min(F.col("event_ts").cast("date")),
        F.max(F.col("event_ts").cast("date")),
    ).collect()[0]
    src = tempfile.mkdtemp(prefix="scale_stream_wm_")
    shutil.rmtree(src, ignore_errors=True)

    def append(df: DataFrame, step: int) -> None:
        for f in os.listdir(src) if os.path.isdir(src) else ():
            if f.endswith(".parquet"):
                p = os.path.join(src, f)
                t = os.path.getmtime(p) - step
                os.utime(p, (t, t))
        df.coalesce(1).write.mode("append").parquet(src)

    append(events, 60)                                         # history
    append(events.filter(F.col("event_ts").cast("date") == hi), 60)
    append(events.filter(F.col("event_ts").cast("date") == lo), 60)

    ckpt = tempfile.mkdtemp(prefix="scale_stream_ckpt_")
    agg = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("event_ts", "2 days")
        .groupBy(F.window("event_ts", "1 day"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))
    )
    t0 = time.perf_counter()
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(f"scale_wm_{tag}")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.perf_counter() - t0
    rows = spark.sql(f"SELECT * FROM scale_wm_{tag}").count()
    out = {"wall_sec": round(wall, 3), "result_rows": rows,
           "input_rows": n_in}
    out.update(_progress_state(q))
    return out


_OPS = {
    "sessionize": run_sessionize,
    "upsert": run_upsert,
    "watermark": run_watermark,
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--factor", type=int, default=100)
    ap.add_argument("--ops", nargs="+", default=list(_OPS))
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    spark = build_session(app_name="sqlmesh_spark_scale_stream")
    scratch = tempfile.mkdtemp(prefix="sqlmesh_scale_stream_")
    _replicate(spark, args.base, scratch, args.factor)

    report: dict = {"family": "streaming_stateful", "factor": args.factor,
                    "base_dir": args.base, "ops": {}}
    for op in args.ops:
        fn = _OPS[op]
        fn(spark, args.base, f"{op}_w")  # warm codegen/Arrow paths
        base = fn(spark, args.base, f"{op}_b")
        big = fn(spark, scratch, f"{op}_r")
        report["ops"][op] = {
            "base": base,
            "replicated": big,
            "wall_ratio": (
                round(big["wall_sec"] / base["wall_sec"], 2)
                if base["wall_sec"] > 0 else None
            ),
        }
    print(json.dumps(report))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
