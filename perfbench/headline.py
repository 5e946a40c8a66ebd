"""``headline_queries``: the 15 ``bench``-tagged registry cases, each
written to the ``noop`` sink, with no scheduler, state or catalog.

The warm-up is the output check: every case once through
``parity.compare_case`` against its registered DuckDB oracle. A measured
pass then times each case in the seeded order, each from an empty Spark
cache. In a traced pass each case is split into DataFrame construction
(calling the case), Catalyst (forcing the physical plan and reading the
query-execution tracker's phase times) and execution (the ``noop``
write, which plans its own write command again).
"""

from __future__ import annotations

import random

from perfbench.measure import Recorder

LLM_CASES = ("dedup_minhash_lsh", "ann_topk_bruteforce", "pipeline_training_data")


def catalyst_seconds(df) -> float:
    """Force optimization and planning of ``df`` and return the summed
    duration of the tracker's phases (analysis, optimization, planning)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    it = phases.iterator()
    total_ms = 0
    while it.hasNext():
        total_ms += it.next()._2().durationMs()
    return total_ms / 1000


class Headline:
    scale = 0.01

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int, rec: Recorder):
        from sqlmesh_spark.registry import load_all

        self.spark, self.data_dir, self.rec = spark, data_dir, rec
        self.cases = {n: c for n, c in load_all().items() if "bench" in c.tags}
        self.order = sorted(self.cases)
        random.Random(seed).shuffle(self.order)
        self.groups = {
            "relational": tuple(f"query.{n}" for n in self.order if n not in LLM_CASES),
            "llm_ops": tuple(f"query.{n}" for n in self.order if n in LLM_CASES),
        }
        self.catalyst_s = 0.0

    def warmup(self) -> None:
        self.setup(0)
        for name in self.order:
            self.rec.check_call(f"oracle:{name}", self._oracle_check, name)

    def _oracle_check(self, name: str) -> tuple[bool, str]:
        from sqlmesh_spark.parity import compare_case

        case = self.cases[name]
        result = compare_case(self.spark, self.data_dir, name, case.fn, case.oracle)
        return result["match"], result["detail"][:300]

    def setup(self, rep: int) -> dict:
        from sqlmesh_spark.sources.tables import register_views

        self.spark.catalog.clearCache()
        register_views(self.spark, self.data_dir)
        return {}

    def _run_case(self, name: str) -> None:
        case, tracer = self.cases[name], self.rec.tracer
        if not tracer.active:
            case.fn(self.spark, self.data_dir).write.format("noop").mode("overwrite").save()
            return
        with tracer.span("spark.construct"):
            df = case.fn(self.spark, self.data_dir)
        with tracer.span("spark.catalyst_force"):
            self.catalyst_s += catalyst_seconds(df)
        with tracer.span("spark.execute"):
            df.write.format("noop").mode("overwrite").save()

    def run_rep(self, r: dict) -> None:
        # The LLM cases run twice per pass: their interpreted higher-order
        # functions spread more than the codegen'd relational cases. Some
        # cases cache intermediate relations (``dedup_minhash_lsh`` its
        # docsets and bands), so every case starts from an empty cache,
        # cleared outside the timed operation.
        for name in self.order + [n for n in self.order if n in LLM_CASES]:
            self.spark.catalog.clearCache()
            self.rec.op(f"query.{name}", self._run_case, name)

    def check(self, r: dict) -> None:
        pass

    def teardown(self, r: dict, record: bool) -> None:
        self.spark.catalog.clearCache()
