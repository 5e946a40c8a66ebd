"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video content is modeled as a ``binary`` column plus a typed
metadata struct. The Spark-side plumbing — schema, partition-friendly
batch shapes, Arrow-batched pandas UDF signatures over ``mapInPandas`` —
is real and tested; there is no media decode. ``extract_features`` is the
deterministic stand-in the tests and oracle use (byte length + first/last
byte), exercising the exact same mapInPandas path a real decoder would.

At scale the mapInPandas stage is the pattern that matters: media bytes
stay in executor-side Arrow batches; nothing ever collects to the driver,
and the decode parallelism is the scan parallelism.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlmesh_spark.registry import register
from sqlmesh_spark.sources.tables import load_table, register_views

FEATURE_SCHEMA = "doc_id bigint, n_bytes int, first_byte int, last_byte int"


def attach_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Model a media payload: utf-8 bytes of the text stand in for image
    bytes; metadata struct mirrors what an ingest service would attach."""
    return df.select(
        "doc_id",
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            F.length(F.encode(F.col(text_col), "utf-8")).alias("n_bytes"),
            F.lit("application/octet-stream").alias("mime"),
            F.col("source").alias("origin"),
        ).alias("media_meta"),
    )


def extract_features(df: DataFrame) -> DataFrame:
    """Deterministic stand-in 'decoder': per-payload byte stats, per Arrow
    batch on executors — the exact shape a resize/frame-sample/embedding
    extractor would use.

    The batch function is a CLOSURE, not a module-level function: cloudpickle
    then serializes it by value, so Spark's Python workers never need
    sqlmesh_spark importable (the driver process may run from anywhere).
    """

    def fake_feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            payloads = pdf["payload"]
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(len).astype("int32"),
                    "first_byte": payloads.map(lambda b: b[0] if len(b) else -1).astype("int32"),
                    "last_byte": payloads.map(lambda b: b[-1] if len(b) else -1).astype("int32"),
                }
            )

    return df.mapInPandas(fake_feature_batches, schema=FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# Registry cases
# ---------------------------------------------------------------------------

MULTIMODAL_META_ORACLE = """
SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes,
       'application/octet-stream' AS mime, source AS origin
FROM documents
"""


@register("multimodal_metadata", oracle=MULTIMODAL_META_ORACLE, tags=("llm", "multimodal"))
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    attached = attach_binary_payload(docs)
    return attached.select(
        "doc_id",
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.mime").alias("mime"),
        F.col("media_meta.origin").alias("origin"),
    )


# Documents are ASCII, so first/last byte == ascii() of first/last char —
# giving the pandas-UDF path a true SQL oracle.
MULTIMODAL_FEATURES_ORACLE = """
SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes,
       ascii(substr(text, 1, 1)) AS first_byte,
       ascii(substr(text, length(text), 1)) AS last_byte
FROM documents
"""


@register("multimodal_features", oracle=MULTIMODAL_FEATURES_ORACLE, tags=("llm", "multimodal"))
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    docs = load_table(spark, sf_dir, "documents")
    return extract_features(attach_binary_payload(docs))


# ---------------------------------------------------------------------------
# Frame sampling (video-shaped payloads)
# ---------------------------------------------------------------------------

FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_md5 string, frame_len int"


def sample_frames(df: DataFrame, frame_size: int = 64, every_n: int = 4) -> DataFrame:
    """Video-frame-sampling plumbing: split each payload into fixed-size
    frames and keep every Nth — the exact batch shape a real keyframe
    extractor uses (decode stubbed per environment; frames here are byte
    slices and the 'feature' is their md5).

    One input row fans out to ceil(n_bytes/frame_size)/every_n output rows
    INSIDE the executor's Arrow batch — no shuffle, no driver involvement,
    and memory is bounded by batch_size × payload size regardless of
    corpus scale."""

    def frame_batches(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import hashlib

        import pandas as _pd

        for pdf in batches:
            ids, idxs, md5s, lens = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = (len(payload) + frame_size - 1) // frame_size
                for i in range(0, n_frames, every_n):
                    chunk = payload[i * frame_size : (i + 1) * frame_size]
                    ids.append(doc_id)
                    idxs.append(i)
                    md5s.append(hashlib.md5(chunk).hexdigest())
                    lens.append(len(chunk))
            yield _pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_md5": md5s, "frame_len": lens}
            )

    return df.mapInPandas(frame_batches, schema=FRAME_SCHEMA)


# ASCII text ⇒ byte slices == char slices, so the pandas-UDF frame path
# has a true SQL oracle (md5 over the same bytes in both engines).
MULTIMODAL_FRAMES_ORACLE = """
SELECT doc_id, CAST(i AS INT) AS frame_idx,
       md5(substr(text, CAST(i AS INT) * 64 + 1, 64)) AS frame_md5,
       LENGTH(substr(text, CAST(i AS INT) * 64 + 1, 64)) AS frame_len
FROM documents,
     unnest(generate_series(0, (LENGTH(text) - 1) // 64)) AS _i(i)
WHERE i % 4 = 0
"""


@register("multimodal_frame_sample", oracle=MULTIMODAL_FRAMES_ORACLE, tags=("llm", "multimodal"))
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(attach_binary_payload(docs))


# ---------------------------------------------------------------------------
# Resize (image-shaped payloads)
# ---------------------------------------------------------------------------

RESIZE_SCHEMA = "doc_id bigint, orig_len int, resized_len int, resized_md5 string"


def resize_payloads(df: DataFrame, target: int = 64) -> DataFrame:
    """Image-resize plumbing: nearest-neighbor downsample of each payload
    to ≤``target`` bytes (stride = ceil(len/target), keep every stride-th
    byte) — the 1-D analog of nearest-neighbor image resampling, with no
    pixel decode. The shape is exactly what a real thumbnailer needs:
    per-payload bounded output inside the executor's Arrow batch, no
    shuffle, memory bounded by batch_size × payload size at any corpus
    scale."""

    def resize_batches(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import hashlib

        import pandas as _pd

        for pdf in batches:
            ids, olens, rlens, md5s = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                stride = max(1, -(-n // target))  # ceil(n/target)
                sampled = payload[::stride]
                ids.append(doc_id)
                olens.append(n)
                rlens.append(len(sampled))
                md5s.append(hashlib.md5(sampled).hexdigest())
            yield _pd.DataFrame(
                {"doc_id": ids, "orig_len": olens, "resized_len": rlens, "resized_md5": md5s}
            )

    return df.mapInPandas(resize_batches, schema=RESIZE_SCHEMA)


# ASCII text ⇒ byte stride == char stride: DuckDB rebuilds the sampled
# byte string with a stepped generate_series and hashes the same bytes.
MULTIMODAL_RESIZE_ORACLE = """
WITH r AS (
  SELECT doc_id, text, LENGTH(text) AS n,
         GREATEST(CAST(CEIL(LENGTH(text) / 64.0) AS BIGINT), 1) AS stride
  FROM documents
),
s AS (
  SELECT doc_id, n,
         list_transform(generate_series(1, n, stride), i -> substr(text, CAST(i AS INT), 1)) AS picked
  FROM r
)
SELECT doc_id, CAST(n AS INT) AS orig_len,
       CAST(len(picked) AS INT) AS resized_len,
       md5(array_to_string(picked, '')) AS resized_md5
FROM s
"""


@register("multimodal_resize", oracle=MULTIMODAL_RESIZE_ORACLE, tags=("llm", "multimodal"))
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    docs = load_table(spark, sf_dir, "documents")
    return resize_payloads(attach_binary_payload(docs))


TREND_ORACLE = """
WITH pts AS (
  SELECT user_id,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
         CAST(ROUND(value * 100) AS BIGINT) AS y
  FROM events
)
SELECT user_id,
       COUNT(*) AS n,
       CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS BIGINT) AS slope_num,
       CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS BIGINT) AS slope_den
FROM pts GROUP BY user_id
"""


def _trend_case(spark, sf_dir):
    """Per-group OLS trend via applyInPandas (Arrow group-map): each user's
    events become one pandas frame; the slope's numerator/denominator are
    kept as exact int64 rationals (n·Σxy − Σx·Σy over n·Σx² − (Σx)²), so
    the Python path is value-oracled by the closed-form SQL — the §2.F
    extension surface (reference model/definition.py:1876 PythonModel;
    our python models allow pandas UDFs for free) with a hard contract.

    Scale: group-map shuffles once on the key and Arrow-streams each
    group through the Python worker; per-group state is one frame. For
    groups too large for a worker, the same rational sums downgrade to
    plain SQL aggregates (the oracle IS that formulation)."""
    import pandas as _pd

    from sqlmesh_spark.sources.tables import load_table

    e = (
        load_table(spark, sf_dir, "events")
        .selectExpr(
            "user_id",
            "CAST(datediff(to_date(ts), DATE '2024-01-01') AS BIGINT) AS x",
            "CAST(ROUND(value * 100) AS BIGINT) AS y",
        )
    )

    def trend(pdf: "_pd.DataFrame") -> "_pd.DataFrame":
        # Closure (pickled by value): workers can't import this repo.
        n = len(pdf)
        x = pdf.x.astype("int64")
        y = pdf.y.astype("int64")
        return _pd.DataFrame(
            {
                "user_id": [int(pdf.user_id.iloc[0])],
                "n": [n],
                "slope_num": [int(n * (x * y).sum() - x.sum() * y.sum())],
                "slope_den": [int(n * (x * x).sum() - x.sum() * x.sum())],
            }
        )

    return e.groupBy("user_id").applyInPandas(
        trend, "user_id bigint, n bigint, slope_num bigint, slope_den bigint"
    )


register("pandas_udf_group_trend", oracle=TREND_ORACLE, tags=("llm", "python"))(_trend_case)
