"""Dedup clustering: connected components over near-duplicate pairs.

Pairwise dedup (MinHash/SimHash) yields edges; keeping one doc per
*cluster* needs the transitive closure — A~B, B~C ⇒ {A,B,C} dedupe
together. This is the step most pair-level dedup pipelines bolt on with a
driver-side union-find, which dies at 100 TB; here it is distributed
min-label propagation:

    label(v) ← min(label(v), min over neighbors' labels)

iterated to fixpoint. Each round is one join + one aggregate (both shuffle
on doc id); rounds ≤ cluster diameter, and each iteration localCheckpoints
to truncate lineage (the classic iterative-Spark failure mode is a plan
that doubles every round). At extreme diameters the same loop upgrades to
large-star/small-star (Kiveris et al., "Connected Components in MapReduce
and Beyond") — identical per-round shape, O(log n) rounds.

The DuckDB oracle computes the same components with a recursive CTE, so
even the iterative operator gets a value-level hash check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlmesh_spark.llm.dedup import (
    _minhash_case,
    embedding_lsh_pairs_sql,
    minhash_lsh_sql,
    sign_lsh_pairs,
)
from sqlmesh_spark.registry import register


def connected_components(
    edges: DataFrame, src: str = "d1", dst: str = "d2", max_iter: int = 25
) -> DataFrame:
    """(doc_id, component) with component = min doc id reachable via
    undirected edges. Isolated nodes absent from `edges` are absent here
    (callers union them back if needed).

    Each round combines min-label propagation (one hop through edges) with
    POINTER JUMPING (component ← label(component)), so label paths halve
    every round and convergence is O(log diameter) — a 1M-node path graph
    converges in ~20 rounds, where plain propagation needs 1M (Kiveris et
    al. large-star/small-star achieves the same bound; pointer jumping is
    the same idea expressed on the label table instead of the edge set).
    Raises RuntimeError if the fixpoint is not reached within ``max_iter``
    rounds — silently returning half-merged clusters would dedupe wrongly.
    """
    both = edges.selectExpr(f"{src} AS u", f"{dst} AS v").unionByName(
        edges.selectExpr(f"{dst} AS u", f"{src} AS v")
    )
    both = both.distinct().localCheckpoint()
    labels = (
        both.select("u").distinct().select(F.col("u"), F.col("u").alias("component"))
    )
    for _ in range(max_iter):
        # One hop: min over neighbors' labels. Alias both sides so the
        # self-join columns resolve unambiguously.
        neighbor_min = (
            both.alias("e")
            .join(labels.alias("l"), F.col("e.v") == F.col("l.u"))
            .groupBy(F.col("e.u").alias("u"))
            .agg(F.min("l.component").alias("nmin"))
        )
        hopped = labels.join(neighbor_min, "u", "left").select(
            "u",
            F.least(F.col("component"), F.coalesce("nmin", F.col("component"))).alias(
                "component"
            ),
        )
        # Pointer jump: follow the label one more step (component ←
        # label(component)) — this is what turns O(diameter) into O(log).
        jump = hopped.select(
            F.col("u").alias("j_u"), F.col("component").alias("j_comp")
        )
        new_labels = (
            hopped.alias("a")
            .join(jump.alias("b"), F.col("a.component") == F.col("b.j_u"), "left")
            .select(
                F.col("a.u").alias("u"),
                F.least(
                    F.col("a.component"),
                    F.coalesce(F.col("b.j_comp"), F.col("a.component")),
                ).alias("component"),
            )
        )
        # Truncate lineage each round; one small driver-side count gates
        # convergence (an aggregate, not a collect of data).
        new_labels = new_labels.localCheckpoint()
        n_changed = (
            new_labels.join(
                labels.withColumnRenamed("component", "old_component"), "u"
            )
            .filter(F.col("component") != F.col("old_component"))
            .count()
        )
        labels = new_labels
        if n_changed == 0:
            return labels.select(F.col("u").alias("doc_id"), "component")
    raise RuntimeError(
        f"connected_components did not converge within {max_iter} rounds — "
        "raise max_iter (rounds scale with log of the largest cluster diameter)"
    )


CLUSTER_ORACLE = (
    """
WITH RECURSIVE pairs AS ("""
    + minhash_lsh_sql("documents", dialect="duckdb")
    + """),
edges AS (
  SELECT d1 AS u, d2 AS v FROM pairs
  UNION
  SELECT d2 AS u, d1 AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u
)
SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u
"""
)


@register("dedup_cluster_components", oracle=CLUSTER_ORACLE, tags=("llm", "dedup"))
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Components over the MinHash-LSH near-dup pairs: the full
    shingle→LSH→verify→transitive-closure dedup pipeline as one case.
    The pairs are dedup_minhash_lsh's (cached docsets + cached bands)."""
    return connected_components(_minhash_case(spark, sf_dir))


EMB_CLUSTER_ORACLE = (
    """
WITH RECURSIVE pairs AS ("""
    + embedding_lsh_pairs_sql("embeddings", dialect="duckdb", threshold=0.42)
    + """),
edges AS (
  SELECT v1 AS u, v2 AS v FROM pairs
  UNION
  SELECT v2 AS u, v1 AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u
)
SELECT u AS vec_id, MIN(v) AS component FROM reach GROUP BY u
"""
)


@register("dedup_embedding_clusters", oracle=EMB_CLUSTER_ORACLE, tags=("llm", "dedup"))
def dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END embedding dedup: sign-LSH bucketed candidate pairs
    (threshold-verified exact cosine, never an n² exchange) → distributed
    connected components → (vec_id, component) with component = the
    cluster keeper (min vec_id). The embedding twin of
    dedup_cluster_components: what a pipeline actually runs to drop
    semantic near-duplicates at corpus scale — pairs alone under-dedupe
    chains (A~B, B~C must collapse together)."""
    pairs = sign_lsh_pairs(spark, sf_dir, "embcl", threshold=0.42)
    out = connected_components(pairs, src="v1", dst="v2")
    return out.selectExpr("doc_id AS vec_id", "component")
