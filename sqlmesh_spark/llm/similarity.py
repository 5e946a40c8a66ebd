"""Similarity search over an embedding column (array<float>).

Two tiers, same contract (query_id → top-k neighbors by cosine):

- ``ann_topk_bruteforce`` — exact: elementwise join + scaled-integer
  accumulation. O(|Q|·|N|·d); the correctness baseline.
- ``ann_lsh_bucketed`` — the scale path: random-hyperplane LSH buckets
  vectors into 2^P sign-codes; candidates are same-bucket only, so the
  pair space drops from |Q|·|N| to |Q|·|bucket|. Hyperplanes are
  md5-derived pseudo-random integers, so both engines build identical
  buckets and the case has a true value oracle.

At 100 TB the bruteforce tier broadcast-joins the (small) query set
against a partitioned corpus scan; the LSH tier shuffles once on bucket
id. An IVF variant (k-means coarse quantizer) is the natural next step —
same bucket-join shape with learned centroids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sqlmesh_spark.llm.dedup import _hash60, _seq
from sqlmesh_spark.registry import register
from sqlmesh_spark.sources.tables import register_views


def _elems(table: str, dialect: str) -> str:
    if dialect == "duckdb":
        return f"""
  SELECT vec_id, CAST(i AS INT) AS ord, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS val
  FROM {table}, unnest(generate_series(1, len(embedding))) AS _i(i)
"""
    return f"""
  SELECT vec_id, pos + 1 AS ord, CAST(val AS DOUBLE) AS val
  FROM {table} LATERAL VIEW posexplode(embedding) AS pos, val
"""


_SIM = """
sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(CAST(SUM(CAST(ROUND(q.val * c.val * 1000000) AS BIGINT)) AS DOUBLE)
               / SQRT(CAST(nq.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)), 6) AS cosine
  FROM qelems q
  JOIN celems c ON q.ord = c.ord {bucket_cond}
  JOIN norms nq ON q.vec_id = nq.vec_id
  JOIN norms nc ON c.vec_id = nc.vec_id
  WHERE q.vec_id <> c.vec_id
  GROUP BY q.vec_id, c.vec_id, nq.nrm, nc.nrm
)
"""


def ann_topk_bruteforce_sql(
    table: str, n_queries: int = 10, k: int = 5, dialect: str = "spark"
) -> str:
    sim = _SIM.format(bucket_cond="")
    return f"""
WITH elems AS ({_elems(table, dialect)}),
norms AS (
  SELECT vec_id, SUM(CAST(ROUND(val * val * 1000000) AS BIGINT)) AS nrm
  FROM elems GROUP BY vec_id
),
qelems AS (SELECT * FROM elems WHERE vec_id < {n_queries}),
celems AS (SELECT * FROM elems),
{sim},
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM sims
)
SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= {k}
"""


def ann_lsh_bucketed_sql(
    table: str,
    n_queries: int = 10,
    k: int = 5,
    n_planes: int = 4,
    dialect: str = "spark",
) -> str:
    """Sign-LSH: bucket = P-bit code of hyperplane-side bits. With P=4 →
    16 buckets over 500 vectors, each query compares against ~1/16 of the
    corpus. Recall is approximate by design; the oracle runs the identical
    pipeline so results still hash-match exactly."""
    plane_seed = "CONCAT(CAST(p AS STRING), '_', CAST(ord AS STRING))"
    comp = f"({_hash60(plane_seed, dialect)} % 2001) - 1000"
    sim = _SIM.format(bucket_cond="AND qb.bucket = cb.bucket")
    return f"""
WITH elems AS ({_elems(table, dialect)}),
norms AS (
  SELECT vec_id, SUM(CAST(ROUND(val * val * 1000000) AS BIGINT)) AS nrm
  FROM elems GROUP BY vec_id
),
plane_bits AS (
  SELECT vec_id, p,
         CASE WHEN SUM(CAST(ROUND(({comp}) * val * 1000) AS BIGINT)) > 0
              THEN 1 ELSE 0 END AS bit
  FROM elems, {_seq("0", str(n_planes - 1), "p", dialect)}
  GROUP BY vec_id, p
),
buckets AS (
  SELECT vec_id, SUM(bit * CAST(POWER(2, p) AS BIGINT)) AS bucket
  FROM plane_bits GROUP BY vec_id
),
qelems AS (SELECT * FROM elems WHERE vec_id < {n_queries}),
celems AS (SELECT * FROM elems),
sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(CAST(SUM(CAST(ROUND(q.val * c.val * 1000000) AS BIGINT)) AS DOUBLE)
               / SQRT(CAST(nq.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)), 6) AS cosine
  FROM qelems q
  JOIN buckets qb ON q.vec_id = qb.vec_id
  JOIN buckets cb ON qb.bucket = cb.bucket
  JOIN celems c ON c.vec_id = cb.vec_id AND q.ord = c.ord
  JOIN norms nq ON q.vec_id = nq.vec_id
  JOIN norms nc ON c.vec_id = nc.vec_id
  WHERE q.vec_id <> c.vec_id
  GROUP BY q.vec_id, c.vec_id, nq.nrm, nc.nrm
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM sims
)
SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= {k}
"""


def ann_topk_zipwith_sql(table: str, n_queries: int = 10, k: int = 5) -> str:
    """Spark-only fast path: dot products fold arrays in place
    (ZIP_WITH + AGGREGATE inside codegen) instead of exploding elements
    into a join — ~64× fewer rows through the plan. Scaled-int folds are
    order-insensitive, so results stay bit-identical to the explode-based
    oracle."""
    # Element casts hoist OUT of the pair loop: embeddings pre-cast to
    # ARRAY<DOUBLE> once per vector, so the per-pair fold is a bare
    # multiply+round (interpreted lambdas pay per expression node —
    # dropping the two casts per element per pair measured ~26% faster).
    dot = (
        "AGGREGATE(ZIP_WITH(q.emb, c.emb, "
        "(x, y) -> CAST(ROUND(x * y * 1000000) AS BIGINT)), "
        "CAST(0 AS BIGINT), (a, v) -> a + v)"
    )
    norm = (
        "AGGREGATE(TRANSFORM(CAST(embedding AS ARRAY<DOUBLE>), "
        "x -> CAST(ROUND(x * x * 1000000) AS BIGINT)), "
        "CAST(0 AS BIGINT), (a, v) -> a + v)"
    )

    # Norms fold ONCE per vector (|corpus| evaluations), not once per pair:
    # higher-order array functions are interpreted (not codegen'd), so
    # per-pair norm folds were ~2/3 of this query's CPU.
    return f"""
WITH nrm AS (
  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS emb, {norm} AS nrm FROM {table}
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {dot} AS dot, q.nrm AS nq, c.nrm AS nc
  FROM (SELECT * FROM nrm WHERE vec_id < {n_queries}) q
  CROSS JOIN nrm c
  WHERE q.vec_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)), 6) AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           -- rank on the ROUNDED value: the oracle ranks its rounded
           -- cosine, and ties must break identically (then by id)
           ORDER BY ROUND(CAST(dot AS DOUBLE) / SQRT(CAST(nq AS DOUBLE) * CAST(nc AS DOUBLE)), 6) DESC,
                    neighbor_id) AS rnk
  FROM pairs
)
SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= {k}
"""


def _case(sql_fn):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir, ("embeddings",))
        return spark.sql(sql_fn("embeddings", dialect="spark"))

    return run


def _ann_bruteforce_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sqlmesh_spark.llm.dedup import spread_scan

    register_views(spark, sf_dir, ("embeddings",))
    # The dot-product folds are interpreted (higher-order functions don't
    # codegen); a 1-split local scan would run them all on one core.
    corpus = spread_scan(spark, "embeddings", "ann_corpus")
    return spark.sql(ann_topk_zipwith_sql(corpus))


register(
    "ann_topk_bruteforce",
    oracle=ann_topk_bruteforce_sql("embeddings", dialect="duckdb"),
    tags=("similarity", "llm", "bench"),
)(_ann_bruteforce_case)

register(
    "ann_lsh_bucketed",
    oracle=ann_lsh_bucketed_sql("embeddings", dialect="duckdb"),
    tags=("similarity", "llm"),
)(_case(ann_lsh_bucketed_sql))


def ann_ivf_sql(
    table: str,
    n_queries: int = 10,
    k: int = 5,
    n_clusters: int = 8,
    dialect: str = "spark",
    nprobe: int = 1,
) -> str:
    """IVF (inverted-file) ANN: a deterministic one-Lloyd-iteration k-means
    coarse quantizer buckets vectors into cells; queries probe their
    ``nprobe`` nearest cells. The third rung of the similarity ladder
    (brute force → sign-LSH → IVF): at 100 TB the cell assignment is one
    scan + one small broadcast join, and the probe touches
    nprobe·|corpus|/n_clusters vectors — nprobe is THE recall/cost knob
    (faiss semantics): each extra probe is one more cell's UNION of
    candidates, recovering neighbors that fell across a Voronoi boundary.

    Everything is exact scaled-integer arithmetic over deterministic seeds
    (cells seeded from vec_id < n_clusters), so both engines converge to
    identical cells and identical results — a true value-level oracle for
    an operator that is usually "approximately tested" at best.
    """
    elems = _elems(table, dialect)
    return f"""
WITH elems AS ({elems}),
norms AS (
  SELECT vec_id, SUM(CAST(ROUND(val * val * 1000000) AS BIGINT)) AS nrm
  FROM elems GROUP BY vec_id
),
seedc AS (
  SELECT vec_id AS cid, ord, val FROM elems WHERE vec_id < {n_clusters}
),
a0 AS (
  SELECT e.vec_id, c.cid,
         SUM(CAST(ROUND(e.val * c.val * 1000000) AS BIGINT)) AS dot
  FROM elems e JOIN seedc c ON e.ord = c.ord
  GROUP BY e.vec_id, c.cid
),
assign0 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
    FROM a0) t WHERE rn = 1
),
cent AS (
  SELECT a.cid, e.ord,
         CAST(SUM(CAST(ROUND(e.val * 1000000) AS BIGINT)) AS DOUBLE)
           / (1000000 * COUNT(*)) AS cval
  FROM assign0 a JOIN elems e ON a.vec_id = e.vec_id
  GROUP BY a.cid, e.ord
),
a1 AS (
  SELECT e.vec_id, c.cid,
         SUM(CAST(ROUND(e.val * c.cval * 1000000) AS BIGINT)) AS dot
  FROM elems e JOIN cent c ON e.ord = c.ord
  GROUP BY e.vec_id, c.cid
),
assign1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
    FROM a1) t WHERE rn = 1
),
qset AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, cid) AS rn
    FROM a1 WHERE vec_id < {n_queries}) t WHERE rn <= {nprobe}
),
sims AS (
  SELECT q.vec_id AS query_id, cvec.vec_id AS neighbor_id,
         ROUND(CAST(SUM(CAST(ROUND(qe.val * ce.val * 1000000) AS BIGINT)) AS DOUBLE)
               / SQRT(CAST(nq.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)), 6) AS cosine
  FROM qset q
  JOIN assign1 cvec ON cvec.cid = q.cid AND cvec.vec_id <> q.vec_id
  JOIN elems qe ON qe.vec_id = q.vec_id
  JOIN elems ce ON ce.vec_id = cvec.vec_id AND ce.ord = qe.ord
  JOIN norms nq ON nq.vec_id = q.vec_id
  JOIN norms nc ON nc.vec_id = cvec.vec_id
  GROUP BY q.vec_id, cvec.vec_id, nq.nrm, nc.nrm
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM sims
)
SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= {k}
"""


register(
    "ann_ivf",
    oracle=ann_ivf_sql("embeddings", dialect="duckdb"),
    tags=("similarity", "llm"),
)(_case(ann_ivf_sql))


def _ivf_nprobe_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("embeddings",))
    return spark.sql(ann_ivf_sql("embeddings", dialect="spark", nprobe=3))


# nprobe=3: three-cell probes recover cross-boundary neighbors the
# single-probe case misses — the standard recall/cost knob, value-oracled.
register(
    "ann_ivf_nprobe",
    oracle=ann_ivf_sql("embeddings", dialect="duckdb", nprobe=3),
    tags=("similarity", "llm"),
)(_ivf_nprobe_case)


def embedding_quantize_int8_sql(table: str, dialect: str = "spark") -> str:
    """Symmetric per-vector int8 quantization — the storage/bandwidth op a
    100 TB embedding corpus runs before ANN serving (4× smaller than f32,
    SIMD-dot-friendly): scale = max|x|/127, qᵢ = round(xᵢ/scale) ∈
    [-127,127]. Output is the quantization QA frame per vector — l1 mass
    of the quantized codes, the scale, and the reconstruction error — the
    signals a pipeline monitors to catch outlier-dominated vectors where
    symmetric int8 loses rank fidelity.

    Per-element doubles are IEEE-identical on both engines and every
    aggregate is an order-insensitive integer sum (ROUND to ppb before
    SUM), so the oracle matches bit-for-bit."""
    if dialect == "duckdb":
        elems = f"""
  SELECT vec_id, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS val
  FROM {table}, unnest(generate_series(1, len(embedding))) AS _i(i)
"""
    else:
        elems = f"""
  SELECT vec_id, CAST(val AS DOUBLE) AS val
  FROM {table} LATERAL VIEW explode(embedding) AS val
"""
    return f"""
WITH elems AS ({elems}),
scales AS (
  SELECT vec_id, MAX(ABS(val)) / 127.0 AS scale, COUNT(*) AS n_dims
  FROM elems GROUP BY vec_id
),
quant AS (
  SELECT e.vec_id,
         CAST(GREATEST(-127, LEAST(127, ROUND(e.val / s.scale))) AS BIGINT) AS q,
         e.val, s.scale
  FROM elems e JOIN scales s ON e.vec_id = s.vec_id
  WHERE s.scale > 0
)
SELECT q.vec_id,
       MAX(s.n_dims) AS n_dims,
       CAST(SUM(ABS(q.q)) AS BIGINT) AS q_l1,
       CAST(ROUND(MAX(q.scale) * 1000000000) AS BIGINT) AS scale_ppb,
       CAST(SUM(CAST(ROUND(ABS(q.val - q.q * q.scale) * 1000000000) AS BIGINT)) AS BIGINT)
         AS err_ppb
FROM quant q JOIN scales s ON q.vec_id = s.vec_id
GROUP BY q.vec_id
"""


register(
    "embedding_quantize_int8",
    oracle=embedding_quantize_int8_sql("embeddings", dialect="duckdb"),
    tags=("similarity", "llm"),
)(_case(embedding_quantize_int8_sql))


def knn_label_vote_sql(table: str, n_queries: int = 50, k: int = 5, dialect: str = "spark") -> str:
    """kNN classification by neighbor label vote: for each query vector,
    the majority label among its k nearest (cosine) neighbors, compared to
    its own label — similarity search doing real work (label propagation /
    nearest-class eval). Vote ties break by label order; ranking reuses the
    exact scaled-int cosine so both engines pick identical neighbor sets."""
    base = (
        ann_topk_zipwith_sql(table, n_queries=n_queries, k=k)
        if dialect == "spark"
        else ann_topk_bruteforce_sql(table, n_queries=n_queries, k=k, dialect=dialect)
    )
    return f"""
WITH topk AS ({base}),
votes AS (
  SELECT t.query_id, l.label, COUNT(*) AS cnt
  FROM topk t JOIN {table} l ON t.neighbor_id = l.vec_id
  GROUP BY t.query_id, l.label
),
winner AS (
  SELECT query_id, label AS voted_label FROM (
    SELECT query_id, label,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cnt DESC, label) AS rn
    FROM votes) v WHERE rn = 1
)
SELECT w.query_id, q.label AS true_label, w.voted_label,
       CASE WHEN q.label = w.voted_label THEN 1 ELSE 0 END AS correct
FROM winner w JOIN {table} q ON w.query_id = q.vec_id
"""


def _knn_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sqlmesh_spark.llm.dedup import spread_scan

    register_views(spark, sf_dir, ("embeddings",))
    corpus = spread_scan(spark, "embeddings", "knn_corpus")
    return spark.sql(knn_label_vote_sql(corpus))


register(
    "ann_knn_label_vote",
    oracle=knn_label_vote_sql("embeddings", dialect="duckdb"),
    tags=("similarity", "llm"),
)(_knn_case)


def centroid_drift_sql(table: str, dialect: str = "spark") -> str:
    """Per-label centroid drift — the dataset-balancing signal: pairwise
    cosine between label centroids of the embedding column. Everything
    stays in exact integer/decimal arithmetic until one final IEEE-
    identical division: per-(label, dim) BIGINT micro-unit sums (the 1/n
    centroid factors cancel inside cosine, so raw sums suffice), DECIMAL(38)
    cross-products, then ROUND(CAST AS DOUBLE, 6). Order-insensitive under
    any partitioning — bit-identical across engines.

    Scale: one narrow shuffle on (label, dim) for the sums (|labels|·d
    rows), then a tiny centroid-space join — corpus size only enters the
    first scan."""
    return f"""
WITH elems AS ({_elems(table, dialect)}),
lab AS (SELECT vec_id, label FROM {table}),
sums AS (
  SELECT l.label, e.ord, SUM(CAST(ROUND(e.val * 1000000) AS BIGINT)) AS s
  FROM elems e JOIN lab l ON e.vec_id = l.vec_id
  GROUP BY l.label, e.ord
),
norms AS (
  SELECT label, SUM(CAST(s AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0))) AS nrm
  FROM sums GROUP BY label
),
pairs AS (
  SELECT a.label AS label_a, b.label AS label_b,
         SUM(CAST(a.s AS DECIMAL(38,0)) * CAST(b.s AS DECIMAL(38,0))) AS num
  FROM sums a JOIN sums b ON a.ord = b.ord AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT CAST(p.label_a AS INT) AS label_a,
       CAST(p.label_b AS INT) AS label_b,
       ROUND(CAST(p.num AS DOUBLE)
             / (SQRT(CAST(na.nrm AS DOUBLE)) * SQRT(CAST(nb.nrm AS DOUBLE))), 6)
         AS centroid_cosine
FROM pairs p
JOIN norms na ON p.label_a = na.label
JOIN norms nb ON p.label_b = nb.label
"""


@register(
    "embedding_centroid_drift",
    oracle=centroid_drift_sql("embeddings", "duckdb"),
    tags=("similarity", "llm"),
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sqlmesh_spark.llm.dedup import spread_scan

    register_views(spark, sf_dir, ("embeddings",))
    vecs = spread_scan(spark, "embeddings", "drift_vecs")
    return spark.sql(centroid_drift_sql(vecs))


def ann_ivf_recall_eval_sql(table: str, dialect: str = "spark") -> str:
    """Recall bridge for the ANN ladder (the faiss-style recall/cost
    curve): recall@k of IVF at nprobe ∈ {1, 2, 4} against the exact
    brute-force top-k TRUTH — the measurement a production vector
    pipeline runs on a sample before trusting nprobe at 100 TB, mirroring
    dedup_lsh_recall_eval on the dedup side. One row per nprobe:
    truth_pairs / ivf_pairs / hits / recall (hits ÷ truth_pairs).

    Both sides share the scaled-integer cosine kernel, so a hit is an
    exact pair match and recall is deterministic — monotone in nprobe by
    construction (each extra probe only ADDS candidate cells)."""
    truth = ann_topk_bruteforce_sql(table, dialect=dialect)
    branches = []
    for p in (1, 2, 4):
        ivf = ann_ivf_sql(table, dialect=dialect, nprobe=p)
        branches.append(
            f"""
SELECT {p} AS nprobe,
       CAST(COUNT(t.query_id) AS BIGINT) AS truth_pairs,
       CAST(COUNT(i.query_id) AS BIGINT) AS ivf_pairs,
       CAST(SUM(CASE WHEN t.query_id IS NOT NULL AND i.query_id IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       ROUND(CAST(SUM(CASE WHEN t.query_id IS NOT NULL AND i.query_id IS NOT NULL
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(t.query_id), 6) AS recall
FROM (
{truth}
) t FULL OUTER JOIN (
{ivf}
) i ON t.query_id = i.query_id AND t.neighbor_id = i.neighbor_id"""
        )
    return "\nUNION ALL\n".join(branches)


def _ivf_recall_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("embeddings",))
    return spark.sql(ann_ivf_recall_eval_sql("embeddings", dialect="spark"))


register(
    "ann_ivf_recall_eval",
    oracle=ann_ivf_recall_eval_sql("embeddings", dialect="duckdb"),
    tags=("similarity", "llm"),
)(_ivf_recall_case)
