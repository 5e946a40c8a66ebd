"""Streaming correctness case: availableNow drain with watermark-closed
tumbling windows, oracled by computing the closed-window subset in SQL.

Append-mode emission semantics are deterministic given static input: a
window emits iff window_end <= max(event_time) - watermark. That predicate
is plain SQL, so even the *streaming* operator gets a value-level oracle.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlmesh_spark.registry import register
from sqlmesh_spark.streaming.incremental import stream_incremental_aggregate

STREAMING_ORACLE = """
WITH daily AS (
  SELECT CAST(strftime(o_orderdate, '%Y-%m-%d') AS VARCHAR) AS ds,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1996-02-01 00:00:00'
  GROUP BY 1
),
mx AS (
  SELECT MAX(o_orderdate) AS max_ts FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1996-02-01 00:00:00'
)
SELECT d.ds, d.n_orders, d.revenue_cents
FROM daily d CROSS JOIN mx
-- append mode emits only watermark-closed windows:
WHERE CAST(d.ds AS TIMESTAMP) + INTERVAL 1 DAY <= mx.max_ts - INTERVAL 2 DAY
"""


@register("streaming_daily_counts", oracle=STREAMING_ORACLE, tags=("streaming",))
def streaming_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One availableNow drain of a bounded January-1996 order stream into
    daily windows with a 2-day watermark; output = the closed windows."""
    src = tempfile.mkdtemp(prefix="stream_case_src_")
    ckpt = tempfile.mkdtemp(prefix="stream_case_ckpt_")

    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(
            (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-02-01")
        )
        .select("o_orderkey", "o_totalprice", F.col("o_orderdate").alias("event_ts"))
    )
    orders.write.mode("overwrite").parquet(src)

    agg = stream_incremental_aggregate(
        spark,
        source_dir=src,
        schema=orders.schema,
        time_col="event_ts",
        window_duration="1 day",
        watermark="2 days",
        agg_exprs={
            "n_orders": "count(1)",
            "revenue_cents": "sum(cast(round(o_totalprice * 100) as bigint))",
        },
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_case_out")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(
        "SELECT date_format(window_start, 'yyyy-MM-dd') AS ds, n_orders, revenue_cents "
        "FROM stream_case_out"
    )


STREAM_SESSION_ORACLE = """
WITH flagged AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR epoch_ns(ts) - epoch_ns(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                      > 1800000000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
)
SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM flagged GROUP BY user_id
"""


@register("streaming_sessionization", oracle=STREAM_SESSION_ORACLE, tags=("streaming",))
def streaming_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) draining the full
    event history in one availableNow pass: per-user gap sessionization
    whose final update-mode emission equals the batch window answer — so
    even arbitrary stateful streaming gets a value-level oracle."""
    from sqlmesh_spark.sources.tables import load_table
    from sqlmesh_spark.streaming.stateful import stream_sessionize

    src = tempfile.mkdtemp(prefix="stream_sess_src_")
    ckpt = tempfile.mkdtemp(prefix="stream_sess_ckpt_")
    events = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts_ns")
    # One file → one micro-batch: the final update per user is the total.
    events.coalesce(1).write.mode("overwrite").parquet(src)

    sessions = stream_sessionize(spark, src, schema=events.schema)
    q = (
        sessions.writeStream.outputMode("update")
        .format("memory")
        .queryName("stream_sess_out")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(
        "SELECT user_id, n_sessions, n_events FROM stream_sess_out"
    )


STREAM_UPSERT_ORACLE = """
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
       CAST(ROUND(value * 100) AS BIGINT) AS value_cents
FROM (
  SELECT user_id, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) t WHERE rn = 1
"""


@register("streaming_upsert_merge", oracle=STREAM_UPSERT_ORACLE, tags=("streaming",))
def streaming_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming INCREMENTAL_BY_UNIQUE_KEY: a file stream drained with
    ``availableNow`` + ``maxFilesPerTrigger=1`` (multiple real micro-
    batches) foreachBatch-merged into a keyed latest-state table.

    The merge rule is recency-correct, not last-batch-wins: within the
    union of (existing target ∪ batch) the row with the greatest
    (ts_ns, event_id) per user survives, so the result is independent of
    batch arrival order — the property that makes the operator safe under
    out-of-order replay. That also makes the bounded-input run exactly
    SQL-expressible: final state = argmax per key over all events.

    Scale: each micro-batch merge touches |keys-in-batch| + |target| rows
    via anti-join+union (adapter.merge's logical MERGE; on Delta/Iceberg
    this becomes a partition-pruned MERGE INTO). State lives in the table,
    not executor memory — arbitrarily many keys.
    """
    import shutil

    from pyspark.sql.window import Window as W

    from sqlmesh_spark.adapter import PARQUET, SparkAdapter
    from sqlmesh_spark.sources.tables import load_table

    adapter = SparkAdapter(spark)
    adapter.create_schema("stream_upsert")
    adapter.drop_table("stream_upsert.latest_state")

    src = tempfile.mkdtemp(prefix="stream_upsert_src_")
    ckpt = tempfile.mkdtemp(prefix="stream_upsert_ckpt_")
    shutil.rmtree(src, ignore_errors=True)

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value", "ts_ns"
    )
    # Three time-ordered slices → three files → three micro-batches.
    bounds = events.selectExpr(
        "percentile_approx(ts_ns, 0.34) AS p1", "percentile_approx(ts_ns, 0.67) AS p2"
    ).collect()[0]
    for i, cond in enumerate(
        (
            F.col("ts_ns") <= bounds.p1,
            (F.col("ts_ns") > bounds.p1) & (F.col("ts_ns") <= bounds.p2),
            F.col("ts_ns") > bounds.p2,
        )
    ):
        events.filter(cond).coalesce(1).write.mode("append").parquet(src)

    target = "stream_upsert.latest_state"
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
    return spark.table(target).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
    )


STREAM_DEDUP_ORACLE = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM (SELECT DISTINCT event_id, user_id, value FROM events)
GROUP BY user_id
"""


@register("streaming_dedup_exactly_once", oracle=STREAM_DEDUP_ORACLE, tags=("streaming",))
def streaming_dedup_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-micro-batch exactly-once dedup: the source stream carries
    ~20% duplicated events (each file re-emits a slice of the previous
    one — the classic at-least-once replay), and `dropDuplicates` on the
    event key inside the stream removes them across batch boundaries via
    the state store. The downstream per-user aggregate must equal the
    DISTINCT-based oracle — duplicates charged once, never twice.

    Scale: dedup state is one entry per key in the state store (RocksDB
    in production), sharded by the same hash shuffle as the aggregate;
    with a watermark the store evicts keys older than the horizon, so
    steady-state size is bounded by the dedup window, not the stream.
    """
    import shutil

    from sqlmesh_spark.sources.tables import load_table

    src = tempfile.mkdtemp(prefix="stream_dedup_src_")
    ckpt = tempfile.mkdtemp(prefix="stream_dedup_ckpt_")
    shutil.rmtree(src, ignore_errors=True)

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "ts_ns"
    )
    third = events.count() // 3
    # File 1: first third. File 2: second third PLUS a replayed tail of
    # file 1. File 3: final third PLUS a replayed tail of file 2.
    b1 = events.filter(F.col("event_id") < third)
    b2 = events.filter((F.col("event_id") >= third) & (F.col("event_id") < 2 * third))
    b3 = events.filter(F.col("event_id") >= 2 * third)
    replay1 = b1.filter(F.col("event_id") >= third - third // 5)
    replay2 = b2.filter(F.col("event_id") >= 2 * third - third // 5)
    for batch in (b1, b2.unionByName(replay1), b3.unionByName(replay2)):
        batch.coalesce(1).write.mode("append").parquet(src)

    deduped = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .dropDuplicates(["event_id"])
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
        )
    )
    q = (
        deduped.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_dedup_out")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql("SELECT user_id, n_events, value_cents FROM stream_dedup_out")


STREAM_ENRICH_ORACLE = """
SELECT c_mktsegment AS segment, COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events JOIN customer ON user_id % 1000 = c_custkey
GROUP BY c_mktsegment
"""


@register("streaming_dim_enrichment", oracle=STREAM_ENRICH_ORACLE, tags=("streaming",))
def streaming_dim_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriches against a static
    dimension table inside the streaming query (the canonical lookup
    pattern — Spark re-plans the static side per micro-batch, so dimension
    updates between batches are picked up automatically).

    Scale: the static side broadcasts per batch when small (as here);
    a large dimension becomes a shuffle join per batch — or pre-bucketed
    state via foreachBatch merge (streaming_upsert_merge) when the lookup
    must be O(1). The aggregate carries complete-mode state of
    |segments| rows only.
    """
    import shutil

    from sqlmesh_spark.sources.tables import load_table

    src = tempfile.mkdtemp(prefix="stream_enrich_src_")
    ckpt = tempfile.mkdtemp(prefix="stream_enrich_ckpt_")
    shutil.rmtree(src, ignore_errors=True)

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    half = events.count() // 2
    events.filter(F.col("event_id") < half).coalesce(1).write.mode("append").parquet(src)
    events.filter(F.col("event_id") >= half).coalesce(1).write.mode("append").parquet(src)

    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .join(customer, F.col("user_id") % 1000 == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
        )
    )
    q = (
        enriched.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_enrich_out")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql("SELECT segment, n_events, value_cents FROM stream_enrich_out")


STREAM_STREAM_JOIN_ORACLE = """
SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id,
       CAST((epoch_ns(c.ts) - epoch_ns(v.ts)) // 1000000000 AS BIGINT)
         AS lag_seconds
FROM (SELECT * FROM events WHERE event_type = 'view') v
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts
 AND c.ts <= v.ts + INTERVAL 1 HOUR
"""


@register("streaming_stream_stream_join", oracle=STREAM_STREAM_JOIN_ORACLE, tags=("streaming",))
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join: a view stream joins a click
    stream on user within a 1-hour event-time range — the attribution
    pattern (click within an hour of a view). Both sides carry watermarks
    and the join predicate carries the event-time range, so Spark bounds
    the buffered state; inner-join matches emit as soon as both rows
    arrive. Input files are time-ordered slices (3 micro-batches) with the
    watermark (3h) exceeding the join range (1h), so no valid match can be
    state-evicted before its partner arrives — making the bounded drain
    exactly equal to the batch range join the oracle computes.

    Scale: state per side is bounded by (watermark + range) of stream
    history, sharded by the join key's hash shuffle — the knob is the
    watermark, not the stream length. Event times are micro-precision so
    the truncated-to-micros Spark timestamps equal the oracle's
    nanosecond timestamps bit-for-bit.
    """
    import shutil

    from sqlmesh_spark.sources.tables import load_table

    src = tempfile.mkdtemp(prefix="stream_ssj_src_")
    ckpt = tempfile.mkdtemp(prefix="stream_ssj_ckpt_")
    shutil.rmtree(src, ignore_errors=True)

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "ts_ns"
    )
    # Three strictly time-ordered slices → three micro-batches.
    bounds = events.selectExpr(
        "percentile_approx(ts_ns, 0.34) AS p1", "percentile_approx(ts_ns, 0.67) AS p2"
    ).collect()[0]
    for cond in (
        F.col("ts_ns") <= bounds.p1,
        (F.col("ts_ns") > bounds.p1) & (F.col("ts_ns") <= bounds.p2),
        F.col("ts_ns") > bounds.p2,
    ):
        events.filter(cond).coalesce(1).write.mode("append").parquet(src)

    def side(event_type: str, alias: str) -> DataFrame:
        return (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .filter(F.col("event_type") == event_type)
            .withWatermark("ts", "3 hours")
            .select(
                F.col("event_id").alias(f"{alias}_id"),
                F.col("user_id").alias(f"{alias}_user"),
                F.col("ts").alias(f"{alias}_ts"),
            )
        )

    views, clicks = side("view", "view"), side("click", "click")
    joined = views.join(
        clicks,
        (F.col("view_user") == F.col("click_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_ssj_out")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(
        "SELECT view_id, click_id, view_user AS user_id, "
        "CAST(unix_micros(click_ts) - unix_micros(view_ts) AS BIGINT) DIV 1000000 "
        "AS lag_seconds FROM stream_ssj_out"
    )


STREAM_LATE_DROP_ORACLE = """
WITH in_window AS (
  SELECT strftime(o_orderdate, '%Y-%m-%d') AS ds,
         o_orderdate,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1996-02-01 00:00:00'
),
mx AS (SELECT MAX(o_orderdate) AS max_ts FROM in_window)
-- Closed windows of the DUPLICATE-FREE base: neither replay file may
-- change any emitted value.
SELECT ds, COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS revenue_cents
FROM in_window CROSS JOIN mx
WHERE CAST(ds AS TIMESTAMP) + INTERVAL 1 DAY <= mx.max_ts - INTERVAL 2 DAY
GROUP BY ds
"""


@register("streaming_late_data_drop", oracle=STREAM_LATE_DROP_ORACLE, tags=("streaming",))
def streaming_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data discipline under at-least-once replay, pinned to
    Spark's exact filter timing (the late-record filter uses the PREVIOUS
    batch's eviction watermark, one batch behind the displayed one):

      batch 0  all of January            -> watermark advances to max-2d
      batch 1  replays the LAST day      -> merges into a still-OPEN window
               (end > watermark, never emitted: replay is invisible)
      batch 2  replays the FIRST day     -> filter is armed now; every row
               is dropped (numRowsDroppedByWatermark counts the filtered
               partial-aggregate rows, asserted) and the
               long-evicted window is NOT re-emitted

    The memory sink therefore holds exactly the closed windows of the
    duplicate-free base — replays charged zero — which is the oracle.

    Scale: watermark-bounded state is what makes a 100 TB/day stream
    feasible — state is O(open windows), not O(history) — and this case
    pins both halves of the contract that sizing depends on: merged
    updates while a window is open, guaranteed drops after eviction."""
    import os
    import shutil

    src = tempfile.mkdtemp(prefix="stream_late_src_")
    ckpt = tempfile.mkdtemp(prefix="stream_late_ckpt_")
    shutil.rmtree(src, ignore_errors=True)

    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(
            (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-02-01")
        )
        .select(
            "o_orderkey",
            "o_totalprice",
            F.col("o_orderdate").cast("timestamp").alias("event_ts"),
        )
    )
    lo, hi = orders.agg(F.min("event_ts"), F.max("event_ts")).collect()[0]

    def append_backdating_previous(df: DataFrame, step: int) -> None:
        # FileStreamSource orders batches by modification time: push every
        # already-present file earlier before adding the next one.
        for f in os.listdir(src) if os.path.isdir(src) else ():
            if f.endswith(".parquet"):
                path = os.path.join(src, f)
                t = os.path.getmtime(path) - step
                os.utime(path, (t, t))
        df.coalesce(1).write.mode("append").parquet(src)

    append_backdating_previous(orders, 60)
    append_backdating_previous(orders.filter(F.col("event_ts") == hi), 60)
    late = orders.filter(F.col("event_ts") == lo)
    # The drop metric counts rows reaching the stateful operator — i.e.
    # post-partial-aggregation rows, one per (window, mapper); with a
    # single-file batch that is exactly the distinct late windows.
    n_late_windows = late.select(F.col("event_ts").cast("date")).distinct().count()
    append_backdating_previous(late, 60)

    agg = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("event_ts", "2 days")
        .groupBy(F.window("event_ts", "1 day"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "revenue_cents"
            ),
        )
        .select(F.col("window.start").alias("window_start"), "n_orders", "revenue_cents")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_late_out")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped == n_late_windows, (dropped, n_late_windows)
    return spark.sql(
        "SELECT date_format(window_start, 'yyyy-MM-dd') AS ds, n_orders, revenue_cents "
        "FROM stream_late_out"
    )
