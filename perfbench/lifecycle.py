"""``project_lifecycle``: plan/apply backfill, daily runs with no-op
reruns, and dev edit cycles of the five-model TPC-H project.

Each rep starts from fresh state and a fresh physical schema whose
location is a per-rep directory, deleted after the rep. Reps use
consecutive, non-overlapping day windows, so every rep renders intervals
a real first run would render.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil

from perfbench import project
from perfbench.measure import Recorder

BACKFILL_DAYS = 2
DAILY_RUNS = 1
NOOP_RERUNS = 2
FIRST_DAY = dt.date(1995, 2, 1)
START_CHOICES = 1800  # window bases up to 2000-01; reps then move forward
ENV_VIEWS = ("prod_views", "dev_views")


def _day(d: dt.date) -> str:
    return d.isoformat()


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def frames_equal(spark_df, duck_df) -> tuple[bool, str]:
    from sqlmesh_spark.parity import canonical_rows

    got = sorted(canonical_rows(spark_df))
    want = sorted(canonical_rows(duck_df))
    if got == want:
        return True, ""
    diff = next((g, w) for g, w in zip(got + [None], want + [None]) if g != w)
    return False, f"{len(got)} rows vs oracle {len(want)}; first difference {diff}"


class Lifecycle:
    scale = 0.1
    # primary: operations that materialize intervals; secondary: operations
    # that only plan, swap views and re-run wholesale models.
    groups = {
        "materialize": ("backfill_s", "daily_run_s"),
        "orchestrate": ("noop_run_s", "dev_plan_apply_s"),
    }

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int, rec: Recorder):
        self.spark, self.data_dir, self.work_dir, self.rec = spark, data_dir, work_dir, rec
        rng = random.Random(seed)
        self.day0 = FIRST_DAY + dt.timedelta(days=rng.randrange(START_CHOICES))
        self.edits = list(project.EDITS)
        rng.shuffle(self.edits)
        self.texts = project.model_texts(data_dir)

    # -- one rep ---------------------------------------------------------

    def setup(self, rep: int) -> dict:
        from sqlmesh_spark.core.context import Context

        start = self.day0 + dt.timedelta(days=rep * (BACKFILL_DAYS + DAILY_RUNS))
        rep_dir = os.path.join(self.work_dir, f"rep{rep}")
        for db in (project.PHYSICAL_SCHEMA,) + ENV_VIEWS:
            self.spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        phys_dir = os.path.join(rep_dir, f"{project.PHYSICAL_SCHEMA}.db")
        self.spark.sql(f"CREATE DATABASE {project.PHYSICAL_SCHEMA} LOCATION '{phys_dir}'")
        ctx = Context(self.spark, state_dir=os.path.join(rep_dir, "state"))
        for text in self.texts.values():
            ctx.add_model(text)
        # The warm-up rep (rep 0) walks every code path once with fewer days.
        days = (1, 1) if rep == 0 else (BACKFILL_DAYS, DAILY_RUNS)
        return {"ctx": ctx, "start": start, "rep_dir": rep_dir, "phys_dir": phys_dir, "days": days}

    def run_rep(self, r: dict) -> None:
        ctx, start = r["ctx"], r["start"]
        backfill_days, daily_runs = r["days"]
        s = _day(start)
        end = _day(start + dt.timedelta(days=backfill_days))
        self.rec.op("backfill_s", self._plan_apply, ctx, "prod", s, end)
        for k in range(daily_runs):
            end = _day(start + dt.timedelta(days=backfill_days + k + 1))
            self.rec.op("daily_run_s", ctx.run, "prod", s, end)
            for _ in range(NOOP_RERUNS):
                self.rec.op("noop_run_s", ctx.run, "prod", s, end)
        r["dev_versions"] = []
        for name in self.edits:
            key, edit = project.EDITS[name]
            ctx.add_model(edit(self.texts[key]))
            try:
                plan = self.rec.op("dev_plan_apply_s", self._plan_apply, ctx, "dev", s, end)
            finally:
                ctx.add_model(self.texts[key])
            full = f"{project.SCHEMA}.{name}"
            r["dev_versions"].append((full, plan.snapshots[full].version))
        r["end"] = end

    @staticmethod
    def _plan_apply(ctx, env: str, start: str, end: str):
        plan = ctx.plan(env, start, end)
        ctx.apply(plan)
        return plan

    def check(self, r: dict) -> None:
        if "end" not in r:
            return
        from sqlmesh_spark.parity import duck_connection

        spark, rec = self.spark, self.rec
        s, end = _day(r["start"]), r["end"]
        con = duck_connection(self.data_dir)
        for view, sql in project.oracles(s, end).items():
            df = spark.table(f"prod_views.{view}")
            if view == "scd_customer_tier":
                df = df.where("valid_to IS NULL").select("customer_id", "tier", "updated_at")
            rec.check_call(f"oracle:{view}", lambda: frames_equal(df.toPandas(), con.execute(sql).df()))
        con.close()
        env = r["ctx"].state.get_environment("prod")
        days = (dt.date.fromisoformat(end) - r["start"]).days
        for name in ("bench_proj.fct_supplier_daily", "bench_proj.dim_customer"):
            got = sorted(r["ctx"].state.get_intervals(name, env[name]))
            rec.check(
                f"intervals_once:{name}",
                len(got) == days and len(set(got)) == days
                and all(b[0] == a[1] for a, b in zip(got, got[1:])),
                f"{len(got)} intervals recorded for {days} days",
            )
        leftovers = [
            t.name for t in spark.catalog.listTables(project.PHYSICAL_SCHEMA)
            if t.name.startswith("__sqlmesh_tmp_")
        ]
        rec.check("no_tmp_tables", not leftovers, str(leftovers))
        dev = r["ctx"].state.get_environment("dev")
        for full, version in r["dev_versions"]:
            rec.check(f"dev_edit_new_version:{full}", version != env[full], version)
        full, version = r["dev_versions"][-1]
        rec.check("dev_env_points_at_last_edit", dev.get(full) == version, f"{dev.get(full)} != {version}")

    def teardown(self, r: dict, record: bool) -> None:
        if record:
            self.rec.sample("warehouse_bytes", dir_bytes(r["phys_dir"]))
            self.rec.sample("state.dir_bytes", dir_bytes(os.path.join(r["rep_dir"], "state")))
        for db in (project.PHYSICAL_SCHEMA,) + ENV_VIEWS:
            self.spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(r["rep_dir"], ignore_errors=True)
