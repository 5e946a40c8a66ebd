"""SparkSession construction tuned for both local testing and cluster scale.

On a real cluster the same builder settings apply (AQE, UTC, Arrow); only
master/memory come from the environment. Local tests use local[N] with
shuffle partitions sized to cores — the 200 default is wrong at both ends
of the scale spectrum.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

def build_session(
    app_name: str = "sqlmesh_spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with scale-aware defaults.

    - AQE on (runtime coalescing, skew-join splitting) — at 100 TB the
      static planner cannot know post-filter sizes; AQE re-plans.
    - UTC session timezone — parquet timestamps compare cleanly against
      external oracles and across clusters in different zones.
    - Arrow enabled — every pandas interchange (createDataFrame/toPandas/
      pandas UDF) goes through columnar batches, not pickled rows.
    - Dynamic partition overwrite — INSERT OVERWRITE replaces only the
      partitions present in the incoming data, which is the core
      incremental-by-time materialization primitive.

    ``cpus`` defaults to SPARK_GRAFT_CPUS, else the cores this process may
    run on.
    """
    cpus = str(
        cpus or os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    shuffle = str(shuffle_partitions or max(int(cpus) if cpus.isdigit() else 32, 8))
    prefer_smj = os.environ.get("SPARK_GRAFT_PREFER_SMJ") == "1"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let the planner pick shuffled-hash over sort-merge when its size
        # conditions hold, and let AQE rewrite SMJ→SHJ for small
        # post-shuffle partitions (optimization guide §3.1/§9): on the
        # fact-fact joins (lineitem⋈orders) a hash build skips both sorts.
        # Local sf0.1 plans are broadcast-join dominated either way
        # (measured: no bench delta), so this is a cluster-shape setting
        # with a neutral local default; results are join-strategy
        # independent. Rollback knob for operators: an SHJ build side does
        # NOT spill, so a skewed or size-underestimated build partition
        # can OOM where sort-merge would have spilled — set
        # SPARK_GRAFT_PREFER_SMJ=1 to restore spill-safe sort-merge
        # everywhere: it turns off both the planner's shuffled-hash
        # preference and the AQE rewrite. See SCALE.md "Shuffled-hash
        # join and spill".
        .config(
            "spark.sql.join.preferSortMergeJoin",
            "true" if prefer_smj else "false",
        )
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "0" if prefer_smj else "128m",
        )
        # File-commit algorithm v2: task output moves to the destination at
        # task commit instead of being re-renamed sequentially by the
        # driver at job commit (guide §5 — the driver should do almost no
        # data work; v1's job-commit loop is O(files) driver-side). Both
        # interleaved A/B on the write-path bench cases (scd2 −5%/−19%
        # min/med, merge −24%/−28%) and the at-scale argument favor v2.
        # Caveat: a mid-job failure can leave partial task output visible
        # in the destination directory. CTAS/stage→swap targets tolerate
        # that (fresh temp dirs, never swapped in on failure), and dynamic
        # partition overwrites go through Spark's staging commit. The
        # adapter's insert_append does NOT: it writes straight into the
        # live table, so a failed job's committed task files stay and the
        # interval retry appends them again (ROADMAP item 3 owns the fix).
        # Set SPARK_GRAFT_COMMITTER_ALGO=1 to restore the slow-safe
        # default on stores without atomic task-level rename.
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
            os.environ.get("SPARK_GRAFT_COMMITTER_ALGO", "2"),
        )
        # Generated-code cache (a static conf: only a fresh JVM session
        # picks it up). The default of 100 entries is below the working
        # set: one pass over the 15 headline queries compiles about 250
        # classes and a lifecycle rep about 125, since local mode compiles
        # each source twice, once per classloader (when the plan is
        # prepared, and again in the executor task).
        # The LRU then never hits and every rerun recompiles every query
        # with Janino. At 1000 a second identical pass compiles nothing,
        # for about 1 MB more metaspace. See SCALE.md "Codegen cache".
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", _warehouse_dir())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _warehouse_dir() -> str:
    """Scratch warehouse outside the repo so test writes never dirty git.
    Per-PID so concurrent processes (pytest + a verify sweep) never race
    on the same managed-table directories."""
    d = os.environ.get("SPARK_GRAFT_WAREHOUSE")
    if not d:
        d = os.path.join(
            tempfile.gettempdir(), f"sqlmesh_spark_warehouse_{os.getpid()}"
        )
    os.makedirs(d, exist_ok=True)
    return d


def scratch_dir(suffix: str = "") -> str:
    """A throwaway directory for materialization outputs."""
    return tempfile.mkdtemp(prefix=f"sqlmesh_spark_{suffix}_")
