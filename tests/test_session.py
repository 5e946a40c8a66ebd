from __future__ import annotations

import os

from sqlmesh_spark.session import build_session

PREFER_SMJ = "spark.sql.join.preferSortMergeJoin"
SHJ_THRESHOLD = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"


def test_prefer_smj_restores_sort_merge_in_planner_and_aqe(spark):
    """SPARK_GRAFT_PREFER_SMJ=1 is the one join-strategy rollback knob:
    it restores the planner's sort-merge preference and turns off AQE's
    SMJ→SHJ rewrite."""
    saved_env = os.environ.get("SPARK_GRAFT_PREFER_SMJ")
    saved_conf = {k: spark.conf.get(k) for k in (PREFER_SMJ, SHJ_THRESHOLD)}
    os.environ["SPARK_GRAFT_PREFER_SMJ"] = "1"
    try:
        session = build_session(app_name="sqlmesh_spark_tests", cpus=8, shuffle_partitions=8)
        assert session.conf.get(PREFER_SMJ) == "true"
        assert session.conf.get(SHJ_THRESHOLD) == "0"
    finally:
        if saved_env is None:
            os.environ.pop("SPARK_GRAFT_PREFER_SMJ", None)
        else:
            os.environ["SPARK_GRAFT_PREFER_SMJ"] = saved_env
        for key, value in saved_conf.items():
            spark.conf.set(key, value)
