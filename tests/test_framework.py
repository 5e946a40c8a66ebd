"""Framework: DSL parsing, intervals, fingerprints, plan/apply, YAML tests,
linter."""

from __future__ import annotations

import tempfile

import pytest

from sqlmesh_spark.core.linter import lint_models
from sqlmesh_spark.core.model import Model, ModelKind, parse_model_text
from sqlmesh_spark.core.model_test import ModelTestRunner
from sqlmesh_spark.core.plan import _categorize, build_snapshots, context_diff
from sqlmesh_spark.core.snapshot import (
    DAY,
    batch_intervals,
    fingerprint_model,
    merge_intervals,
    missing_intervals,
    to_epoch,
)
from sqlmesh_spark.parity import compare_case
from sqlmesh_spark.registry import load_all


def _cases():
    return [(n, c) for n, c in load_all().items() if "framework" in c.tags]


@pytest.mark.parametrize("name,case", _cases(), ids=lambda x: x if isinstance(x, str) else "")
def test_framework_parity(spark, sf_dir, name, case):
    r = compare_case(spark, sf_dir, name, case.fn, case.oracle)
    assert r["match"], r["detail"]


MODEL_TEXT = """
MODEL (
  name demo.orders_daily,
  kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts),
  cron '@daily',
  start '2024-01-01',
  lookback 2,
  batch_size 7,
  grain (ds),
  audits (not_null(columns = (revenue)), number_of_rows(threshold = 1))
);
SELECT event_ts, SUM(x) AS revenue FROM src.events
WHERE event_ts BETWEEN @start_ts AND @end_ts GROUP BY event_ts
"""


def test_parse_model_header():
    m = parse_model_text(MODEL_TEXT)
    assert m.name == "demo.orders_daily"
    assert m.kind == ModelKind.INCREMENTAL_BY_TIME_RANGE
    assert m.time_column == "event_ts"
    assert m.cron == "@daily"
    assert m.start == "2024-01-01"
    assert m.lookback == 2 and m.batch_size == 7
    assert m.audits == (
        ("not_null", {"columns": ["revenue"]}),
        ("number_of_rows", {"threshold": "1"}),
    )
    assert "src.events" in m.depends_on
    assert m.query.lstrip().startswith("SELECT")
    assert m.on_destructive_change == "error"  # policy default
    m2 = parse_model_text(
        "MODEL (name s.a, kind FULL, on_destructive_change warn);\nSELECT 1 AS x"
    )
    assert m2.on_destructive_change == "warn"


def test_missing_intervals_and_batches():
    s, e = "2024-01-01", "2024-01-10"
    chunks = missing_intervals(s, e, [])
    assert len(chunks) == 9  # [Jan1, Jan10) in day units
    # Cover Jan 1-5, leave 5..10 missing
    processed = [(to_epoch("2024-01-01"), to_epoch("2024-01-05"))]
    miss = missing_intervals(s, e, processed)
    assert miss[0][0] == to_epoch("2024-01-05") and len(miss) == 5
    # lookback=1 re-opens the last covered day
    miss_lb = missing_intervals(s, e, processed, lookback=1)
    assert miss_lb[0][0] == to_epoch("2024-01-04") and len(miss_lb) == 6
    # batching
    batches = batch_intervals(miss, batch_size=2)
    assert batches[0] == (to_epoch("2024-01-05"), to_epoch("2024-01-07"))
    assert len(batches) == 3


def test_merge_intervals():
    out = merge_intervals([(0, DAY), (DAY, 2 * DAY), (5 * DAY, 6 * DAY)])
    assert out == [(0, 2 * DAY), (5 * DAY, 6 * DAY)]


def test_fingerprint_propagates_to_children():
    base = dict(kind=ModelKind.FULL, kind_args={})
    a1 = Model(name="s.a", query="SELECT 1 AS x", **base)
    a2 = Model(name="s.a", query="SELECT 2 AS x", **base)
    b = Model(name="s.b", query="SELECT x FROM s.a", depends_on=frozenset({"s.a"}), **base)
    snap1 = build_snapshots({"s.a": a1, "s.b": b})
    snap2 = build_snapshots({"s.a": a2, "s.b": b})
    assert snap1["s.a"].version != snap2["s.a"].version
    # b's own text didn't change, but its parent did → new version (breaking
    # propagation, categorizer default)
    assert snap1["s.b"].version != snap2["s.b"].version


def test_categorize_changes():
    old = "SELECT a, b FROM t WHERE a > 1"
    # Added projection, identical tail → NON_BREAKING (categorizer.py:10).
    assert _categorize(old, "SELECT a, b, c FROM t WHERE a > 1") == "NON_BREAKING"
    # Whitespace-only tail differences are normalized away.
    assert _categorize(old, "SELECT a, b, c\nFROM t\nWHERE  a > 1") == "NON_BREAKING"
    # Removed projection → BREAKING.
    assert _categorize(old, "SELECT a FROM t WHERE a > 1") == "BREAKING"
    # Changed WHERE tail → BREAKING.
    assert _categorize(old, "SELECT a, b FROM t WHERE a > 2") == "BREAKING"
    # New model (no prior query) → BREAKING.
    assert _categorize(None, "SELECT a FROM t") == "BREAKING"
    # Non-SELECT / unparseable → conservative BREAKING.
    assert _categorize(old, "WITH x AS (SELECT 1) SELECT * FROM x") == "BREAKING"
    # FROM inside a projection subquery must not be mistaken for the tail.
    assert (
        _categorize(
            "SELECT (SELECT max(x) FROM u) AS m, a FROM t",
            "SELECT (SELECT max(x) FROM u) AS m, a, b FROM t",
        )
        == "NON_BREAKING"
    )


def test_context_diff():
    base = dict(kind=ModelKind.FULL, kind_args={})
    a = Model(name="s.a", query="SELECT 1 AS x", **base)
    snaps = build_snapshots({"s.a": a})
    d = context_diff(snaps, {})
    assert d.added == ["s.a"] and d.has_changes
    d2 = context_diff(snaps, {"s.a": snaps["s.a"].version, "s.gone": "zzz"})
    assert d2.unchanged == ["s.a"] and d2.removed == ["s.gone"]


YAML_TEST = """
test_revenue_by_day:
  model: demo.revenue
  inputs:
    src.order_items:
      rows:
        - {order_id: 1, amount: 10.0, ds: '2024-01-01'}
        - {order_id: 2, amount: 5.0, ds: '2024-01-01'}
        - {order_id: 3, amount: 7.0, ds: '2024-01-02'}
  outputs:
    ctes:
      totals:
        rows:
          - {ds: '2024-01-01', revenue: 15.0}
          - {ds: '2024-01-02', revenue: 7.0}
    query:
      rows:
        - {ds: '2024-01-01', revenue: 15.0}
"""

REV_MODEL = """
MODEL (name demo.revenue, kind FULL);
WITH totals AS (
  SELECT ds, SUM(amount) AS revenue FROM src.order_items GROUP BY ds
)
SELECT ds, revenue FROM totals WHERE revenue > 10
"""


def test_yaml_model_test_runner(spark):
    model = parse_model_text(REV_MODEL)
    runner = ModelTestRunner(spark)
    results = runner.run_yaml(YAML_TEST, {model.name: model})
    assert len(results) == 1
    assert results[0].passed, results[0].failures


def test_yaml_model_test_runner_catches_failure(spark):
    model = parse_model_text(REV_MODEL)
    bad = YAML_TEST.replace("revenue: 15.0}", "revenue: 999.0}")
    results = ModelTestRunner(spark).run_yaml(bad, {model.name: model})
    assert not results[0].passed


def test_linter(spark):
    star = parse_model_text("MODEL (name s.star, kind FULL);\nSELECT * FROM s.base")
    base = parse_model_text(
        "MODEL (name s.base, kind FULL, audits (number_of_rows(threshold = 1)));\nSELECT 1 AS x"
    )
    orphan = parse_model_text("MODEL (name s.orphan, kind FULL);\nSELECT y FROM no.such_table")
    starexp = parse_model_text(
        "MODEL (name s.starexp, kind VIEW);\nSELECT * FROM no.such_table"
    )
    violations = lint_models({m.name: m for m in (star, base, orphan, starexp)})
    rules = {(v.model, v.rule) for v in violations}
    assert ("s.star", "no_select_star") in rules
    assert ("s.star", "no_missing_audits") in rules
    assert ("s.orphan", "no_missing_external_models") in rules
    assert ("s.base", "no_missing_audits") not in rules
    # InvalidSelectStarExpansion (builtin.py:83): star over an UNKNOWN schema
    # violates; star over a known model expands fine.
    assert ("s.starexp", "invalid_select_star_expansion") in rules
    assert ("s.star", "invalid_select_star_expansion") not in rules


def test_context_lineage(spark):
    from sqlmesh_spark.core.context import Context

    ctx = Context(spark, state_dir=tempfile.mkdtemp())
    ctx.add_model("MODEL (name s.a, kind FULL);\nSELECT 1 AS x")
    ctx.add_model("MODEL (name s.b, kind FULL);\nSELECT x FROM s.a")
    ctx.add_model("MODEL (name s.c, kind FULL);\nSELECT x FROM s.b JOIN s.a ON TRUE")
    assert ctx.lineage("s.c") == ["s.a", "s.b", "s.c"]


def test_linter_extra_rules():
    from sqlmesh_spark.core.linter import no_ambiguous_projections, no_missing_unit_test

    dup = parse_model_text(
        "MODEL (name s.dup, kind FULL);\nSELECT a AS x, b AS x FROM s.t"
    )
    ok = parse_model_text("MODEL (name s.ok, kind FULL);\nSELECT a AS x, b AS y FROM s.t")
    assert "duplicate" in no_ambiguous_projections(dup)
    assert no_ambiguous_projections(ok) is None
    assert no_missing_unit_test(ok, tested_models=set()) is not None
    assert no_missing_unit_test(ok, tested_models={"s.ok"}) is None


# One writer process of the cross-process arm below: waits for the go
# file, then alternates add_interval and put_environment calls.
_STATE_WRITER = """
import os, sys, time
from sqlmesh_spark.core.state import StateStore
path, worker, calls = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
store = StateStore(path)
while not os.path.exists(os.path.join(path, "go")):
    time.sleep(0.002)
for i in range(calls):
    if i % 2:
        store.put_environment(f"w{worker}_{i}", {"m": str(i)})
    else:
        store.add_interval("m", "v", worker * calls + i, worker * calls + i + 1)
"""


def test_state_store_concurrent_add_interval(tmp_path):
    """Parallel writers lose no update: threads of one process (the
    scheduler writes from DAG-level-parallel threads) and separate
    processes on one state directory (a run overlapping a plan)."""
    import os
    import subprocess
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from sqlmesh_spark.core.state import StateStore

    store = StateStore(str(tmp_path / "state"))
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            list(pool.map(lambda i: store.add_interval("m", "v", i, i + 1), range(64)))
    finally:
        sys.setswitchinterval(switch)
    got = sorted(store.get_intervals("m", "v"))
    assert got == [(i, i + 1) for i in range(64)]
    # the store counts its own traffic: one transaction per add_interval,
    # and the one read is get_intervals
    assert (store.writes, store.reads) == (64, 1)

    path, workers, calls = str(tmp_path / "shared"), 3, 300
    os.makedirs(path)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _STATE_WRITER, path, str(w), str(calls)], cwd=repo
        )
        for w in range(workers)
    ]
    try:
        open(os.path.join(path, "go"), "w").close()
        assert [p.wait(timeout=300) for p in procs] == [0] * workers
    finally:
        for p in procs:
            p.kill()
    shared = StateStore(path)
    assert sorted(shared.get_intervals("m", "v")) == [
        (w * calls + i, w * calls + i + 1)
        for w in range(workers)
        for i in range(0, calls, 2)
    ]
    assert set(shared.get_environments()) == {
        f"w{w}_{i}" for w in range(workers) for i in range(1, calls, 2)
    }


def test_state_store_opens_a_json_file_directory_once(tmp_path):
    """A state directory written before the SQLite store (one JSON file
    per table) is imported on first open, and only then."""
    import json

    from sqlmesh_spark.core.state import StateStore

    tables = {
        "snapshots": {"m@v1": {"kind": "FULL", "fingerprint": "f1"}},
        "intervals": {"m@v1": [[0, 86400], [86400, 172800]]},
        "environments": {"prod": {"m": "v1"}},
        "environment_meta": {"prod": {"expiration_ts": 5, "unpromoted": []}},
        "meta": {"schema_version": 1},
    }
    path = tmp_path / "state"
    path.mkdir()
    for name, data in tables.items():
        (path / f"_{name}.json").write_text(json.dumps(data, indent=1))
    want = {"schema_version": 1, "tables": tables}
    store = StateStore(str(path))
    assert store.export_state() == want
    assert store.get_intervals("m", "v1") == [(0, 86400), (86400, 172800)]
    store.add_interval("m", "v1", 172800, 259200)
    reopened = StateStore(str(path))
    assert reopened.writes == 0  # nothing imported again
    assert reopened.get_intervals("m", "v1")[-1] == (172800, 259200)
    assert len(reopened.get_intervals("m", "v1")) == 3


_STATE_CRASH = """
import os, sys
from sqlmesh_spark.core.state import StateStore
store = StateStore(sys.argv[1])
with store._write() as db:
    db.execute("INSERT INTO intervals VALUES ('m@v', 1, 0, 1)")
    os._exit(3)
"""


def test_state_store_crash_inside_a_transaction_leaves_no_row_or_lock(tmp_path):
    """A writer process that dies before COMMIT leaves neither its row nor
    the writer lock: another process writes promptly afterwards."""
    import os
    import subprocess
    import sys
    import time

    from sqlmesh_spark.core.state import StateStore

    path = str(tmp_path / "state")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    crash = subprocess.run([sys.executable, "-c", _STATE_CRASH, path], cwd=repo)
    assert crash.returncode == 3  # died inside the transaction, after the INSERT
    assert StateStore(path).get_intervals("m", "v") == []
    began = time.monotonic()
    StateStore(path).add_interval("m", "v", 5, 6)  # a held lock would wait 60 s
    assert time.monotonic() - began < 5
    assert StateStore(path).get_intervals("m", "v") == [(5, 6)]


def test_state_store_bulk_put_snapshots(tmp_path):
    """put_snapshots (the one-write bulk form plan application uses)
    round-trips its payloads, merges over existing entries, and an empty
    put writes nothing. The store creates its file on first use."""
    from sqlmesh_spark.core.state import StateStore

    store = StateStore(str(tmp_path / "state"))
    assert not (tmp_path / "state" / "state.db").exists()  # opened on first use
    store.put_snapshots({("pre", "v0"): {"kind": "VIEW"}})
    entries = {(f"m{i}", "v1"): {"kind": "FULL", "i": i} for i in range(20)}
    store.put_snapshots(entries)
    assert store.get_snapshots() == {("pre", "v0"): {"kind": "VIEW"}, **entries}
    assert store.get_snapshot("m7", "v1") == {"kind": "FULL", "i": 7}
    writes = store.writes
    store.put_snapshots({})
    assert store.writes == writes


def test_dep_candidates_memo_tracks_known_set():
    """The r13 memoized dependency lex must keep extract_depends_on
    exact: the SAME query string resolves differently as the known-model
    set grows (the reason add_model re-resolves every model per add),
    and the memo must never freeze an earlier answer."""
    from sqlmesh_spark.core.model import extract_depends_on

    q = "SELECT * FROM demo.base JOIN helper_cte USING (k)"
    assert extract_depends_on(q) == frozenset({"demo.base"})
    # same string, larger known set: the dotted ref still resolves and
    # nothing leaks from the cached candidates
    assert extract_depends_on(q, known_models={"demo.base"}) == frozenset(
        {"demo.base"}
    )
    q2 = "SELECT * FROM demo.base b JOIN demo.dim d ON b.k = d.k"
    assert extract_depends_on(q2, known_models=set()) == frozenset(
        {"demo.base", "demo.dim"}
    )
    assert extract_depends_on(q2, known_models={"demo.dim"}) == frozenset(
        {"demo.base", "demo.dim"}
    )


def test_empty_window_run_is_noop(spark, sf_dir):
    """start == end ⇒ zero missing intervals ⇒ zero evaluations, and a
    repeat run over a fully-processed window is also a no-op."""
    import tempfile

    from sqlmesh_spark.core.context import Context

    orders = f"parquet.`{sf_dir}/orders.parquet`"
    ctx = Context(spark, state_dir=tempfile.mkdtemp())
    ctx.add_model(
        f"""
MODEL (name noop.daily, kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts));
SELECT o_orderdate AS event_ts, o_orderkey FROM {orders}
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP) AND o_orderdate < CAST(@end_ts AS TIMESTAMP)
"""
    )
    assert ctx.run(environment="noop_env", start="1995-01-05", end="1995-01-05") == {
        "noop.daily": 0
    }
    ctx.run(environment="noop_env", start="1995-01-01", end="1995-01-05")
    again = ctx.run(environment="noop_env", start="1995-01-01", end="1995-01-05")
    assert again == {"noop.daily": 0}


def test_monthly_interval_unit_calendar_math():
    """MONTH/YEAR are calendar units (variable width): chunks land on the
    1st of each period, lookback steps back whole periods, and a partial
    trailing period ceils to the next boundary (node.py:28 IntervalUnit)."""
    from sqlmesh_spark.core.snapshot import (
        MONTH,
        YEAR,
        from_epoch,
        missing_intervals,
        to_epoch,
    )

    chunks = missing_intervals("2024-01-15", "2024-04-02", unit=MONTH)
    assert [(from_epoch(s)[:10], from_epoch(e)[:10]) for s, e in chunks] == [
        ("2024-01-01", "2024-02-01"),
        ("2024-02-01", "2024-03-01"),
        ("2024-03-01", "2024-04-01"),
    ]
    # allow_partials (model/meta.py:110): the partial trailing period runs
    # as a short chunk instead of waiting for the month to complete.
    partial = missing_intervals("2024-01-15", "2024-04-02", unit=MONTH, allow_partials=True)
    assert [(from_epoch(s)[:10], from_epoch(e)[:10]) for s, e in partial][-1] == (
        "2024-04-01",
        "2024-04-02",
    )
    # lookback=1 reopens the last covered month (late-arriving data heal).
    done = [(to_epoch("2024-01-01"), to_epoch("2024-03-01"))]
    redo = missing_intervals("2024-01-01", "2024-03-01", done, unit=MONTH, lookback=1)
    assert [(from_epoch(s)[:10], from_epoch(e)[:10]) for s, e in redo] == [
        ("2024-02-01", "2024-03-01")
    ]
    years = missing_intervals("2023-06-01", "2024-01-01", unit=YEAR)
    assert [(from_epoch(s)[:10], from_epoch(e)[:10]) for s, e in years] == [
        ("2023-01-01", "2024-01-01")
    ]


def test_subhour_interval_units():
    from sqlmesh_spark.core.snapshot import FIVE_MINUTE, interval_unit, missing_intervals

    assert interval_unit("@five_minute") == FIVE_MINUTE
    chunks = missing_intervals("2024-01-01 00:03:00", "2024-01-01 00:11:00", unit=FIVE_MINUTE)
    # Partial trailing unit [00:10, 00:11) excluded until the unit completes.
    assert len(chunks) == 2 and all(e - s == 300 for s, e in chunks)
    partial = missing_intervals(
        "2024-01-01 00:03:00", "2024-01-01 00:11:00", unit=FIVE_MINUTE, allow_partials=True
    )
    assert len(partial) == 3 and partial[-1][1] - partial[-1][0] == 60


def test_render_cache_skips_unchanged_models(spark):
    """Render/fingerprint cache (reference model/cache.py:1-234): a second
    run of an UNCHANGED project over the same window finds every interval
    processed and renders nothing at all; re-rendering the same interval
    (a restatement) hits the cache — the snapshot version hash covers
    query + kind + parents, so the cached SQL is exact."""
    import tempfile

    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.scheduler import RENDER_STATS

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model("MODEL (name demo_rc.m, kind FULL);\nSELECT 1 AS x")
    before = dict(RENDER_STATS)
    ctx.run(environment="env_rc", start="1995-01-01", end="1995-01-02")
    mid = dict(RENDER_STATS)
    assert mid["misses"] > before["misses"]
    ctx.run(environment="env_rc", start="1995-01-01", end="1995-01-02")
    assert dict(RENDER_STATS) == mid, "unchanged project re-rendered"
    ctx.restate(["demo_rc.m"], "1995-01-01", "1995-01-02", environment="env_rc")
    after = dict(RENDER_STATS)
    assert after["misses"] == mid["misses"]
    assert after["hits"] > mid["hits"]


def test_metadata_fields_do_not_change_version():
    """owner/description/tags are METADATA (model/meta.py): the reference
    hashes them into the metadata fingerprint, never the data hash — a
    description edit must not rebuild a 100 TB table."""
    from sqlmesh_spark.core.model import parse_model_text
    from sqlmesh_spark.core.plan import build_snapshots

    plain = parse_model_text("MODEL (name s.meta, kind FULL);\nSELECT 1 AS x")
    annotated = parse_model_text(
        "MODEL (name s.meta, kind FULL, description 'daily rollup', "
        "owner 'data-eng', tags (finance, daily));\nSELECT 1 AS x"
    )
    assert annotated.description == "daily rollup"
    assert annotated.owner == "data-eng"
    assert annotated.tags == ("finance", "daily")
    v1 = build_snapshots({"s.meta": plain})["s.meta"].version
    v2 = build_snapshots({"s.meta": annotated})["s.meta"].version
    assert v1 == v2


def test_interval_unit_from_real_cron():
    """5-field cron classifies onto the reference's unit ladder
    (node.py:28-59; reference estimates via croniter deltas)."""
    from sqlmesh_spark.core.snapshot import (
        DAY,
        FIVE_MINUTE,
        HALF_HOUR,
        HOUR,
        MONTH,
        QUARTER_HOUR,
        YEAR,
        interval_unit,
    )

    assert interval_unit("*/5 * * * *") == FIVE_MINUTE
    assert interval_unit("*/15 * * * *") == QUARTER_HOUR
    assert interval_unit("*/30 * * * *") == HALF_HOUR
    assert interval_unit("0 * * * *") == HOUR
    assert interval_unit("30 */6 * * *") == HOUR
    assert interval_unit("0 4 * * *") == DAY
    assert interval_unit("0 4 1 * *") == MONTH
    assert interval_unit("0 4 1 1 *") == YEAR
    assert interval_unit("* * * * *") == FIVE_MINUTE  # clamped to the floor
    assert interval_unit("not a cron") == DAY


def test_blueprint_expansion():
    """definition.py:2019-2080 — one definition, N models; @{var}
    interpolates in the name and body; mappings bind @VAR; fingerprints
    differ per expansion."""
    from sqlmesh_spark.core.model import parse_model_text_all
    from sqlmesh_spark.core.plan import build_snapshots

    models = parse_model_text_all(
        "MODEL (name s.m_@{kind}, kind FULL, "
        "blueprints ((kind = a, v = '1'), (kind = b, v = '2')));\n"
        "SELECT '@{kind}' AS k, @VAR('v') AS v"
    )
    assert [m.name for m in models] == ["s.m_a", "s.m_b"]
    assert models[0].variables == {"kind": "a", "v": "1"}
    assert "'a' AS k" in models[0].query and "'b' AS k" in models[1].query
    snaps = build_snapshots({m.name: m for m in models})
    assert snaps["s.m_a"].version != snaps["s.m_b"].version
    # No blueprints → single model, untouched.
    single = parse_model_text_all("MODEL (name s.one, kind FULL);\nSELECT 1 AS x")
    assert len(single) == 1 and single[0].variables == {}


def test_environment_ttl_expiry(spark):
    """config.environment_ttl → _environments.expiration_ts: an expired
    dev environment is reclaimed by the janitor; prod never expires."""
    import time

    from sqlmesh_spark.core.context import Context

    ctx = Context(
        spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"), environment_ttl=0
    )
    ctx.add_model("MODEL (name s_ttl.m, kind FULL);\nSELECT 1 AS x")
    ctx.run(environment="env_ttl", start="1995-01-01", end="1995-01-02")
    assert ctx.state.get_environment_meta("env_ttl")["expiration_ts"] <= int(time.time())
    dropped = ctx.janitor()
    assert "env_ttl_views" in dropped
    assert ctx.state.get_environment("env_ttl") == {}


def test_statement_splitting():
    """Pre/post/on_virtual_update extraction (definition.py:156-158):
    semicolons inside string literals must not split; jinja bodies stay
    whole; query = first SELECT/WITH statement."""
    from sqlmesh_spark.core.model import parse_model_text

    m = parse_model_text(
        "MODEL (name s.stmts, kind FULL);\n"
        "SET spark.sql.shuffle.partitions = 8;\n"
        "SELECT 'a;b' AS x;\n"
        "UNCACHE TABLE t;\n"
        "ON_VIRTUAL_UPDATE_BEGIN;\n"
        "INSERT INTO log VALUES ('done');\n"
        "ON_VIRTUAL_UPDATE_END"
    )
    assert m.pre_statements == ("SET spark.sql.shuffle.partitions = 8",)
    assert m.query == "SELECT 'a;b' AS x"
    assert m.post_statements == ("UNCACHE TABLE t",)
    assert m.on_virtual_update == ("INSERT INTO log VALUES ('done')",)
    # Plain model: no statements, query untouched.
    plain = parse_model_text("MODEL (name s.p, kind FULL);\nSELECT 1 AS x")
    assert plain.pre_statements == () and plain.post_statements == ()
    assert plain.query == "SELECT 1 AS x"
    # WITH-led query recognised.
    cte = parse_model_text(
        "MODEL (name s.c, kind FULL);\nWITH t AS (SELECT 1 AS x) SELECT x FROM t"
    )
    assert cte.query.upper().startswith("WITH")


def test_declared_depends_on():
    from sqlmesh_spark.core.model import parse_model_text

    m = parse_model_text(
        "MODEL (name s.d, kind FULL, depends_on (ext.hidden_src, other.t));\n"
        "SELECT 1 AS x"
    )
    assert {"ext.hidden_src", "other.t"} <= m.depends_on
    assert m.declared_depends_on == frozenset({"ext.hidden_src", "other.t"})


def test_select_model_wildcards_and_guards(spark):
    """--select-model edge semantics: wildcard expansion; unknown patterns
    raise; excluding a new model that selected models depend on raises."""
    import pytest as _pytest

    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.plan import PlanError

    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model("MODEL (name s_sel.base, kind FULL);\nSELECT 1 AS x")
    ctx.add_model("MODEL (name s_sel.child, kind FULL);\nSELECT x FROM s_sel.base")
    # Wildcard selects both; plan applies cleanly.
    plan = ctx.plan("env_selw", "1995-01-01", "1995-01-02", select_models=["s_sel.*"])
    assert set(plan.snapshots) == {"s_sel.base", "s_sel.child"}
    with _pytest.raises(PlanError, match="matched nothing"):
        ctx.plan("env_selw", "1995-01-01", "1995-01-02", select_models=["nope.*"])
    # child selected but its NEW parent excluded → refuse.
    with _pytest.raises(PlanError, match="depend on it"):
        ctx.plan("env_selw", "1995-01-01", "1995-01-02", select_models=["s_sel.child"])


def test_fingerprint_formatting_insensitive_but_literal_sensitive():
    """Fingerprints hash the canonical token stream: reformatting and
    comments don't change a version; string-literal CASE does (the old
    whole-text lower() conflated 'OPEN' with 'open')."""
    base = dict(kind=ModelKind.FULL, kind_args={})
    a = Model(name="s.a", query="SELECT x FROM t WHERE s = 'OPEN'", **base)
    reformatted = Model(
        name="s.a",
        query="SELECT  x\nFROM t  -- comment\nWHERE s = 'OPEN'",
        **base,
    )
    literal_changed = Model(name="s.a", query="SELECT x FROM t WHERE s = 'open'", **base)
    assert fingerprint_model(a) == fingerprint_model(reformatted)
    assert fingerprint_model(a) != fingerprint_model(literal_changed)


def test_categorize_is_formatting_insensitive():
    """Token-level categorization: reformatting/comments on an additive
    change must not flip NON_BREAKING to BREAKING (the old textual
    comparison required byte-identical tails)."""
    old = "SELECT a, b FROM t WHERE a > 1"
    reformatted_superset = "SELECT  A,\n  b,   c -- new col\nFROM t\nWHERE a > 1"
    assert _categorize(old, reformatted_superset) == "NON_BREAKING"
    # tail change is still breaking no matter the formatting
    assert _categorize(old, "SELECT a, b, c FROM t WHERE a > 2") == "BREAKING"
    # removed projection is breaking
    assert _categorize(old, "SELECT a FROM t WHERE a > 1") == "BREAKING"


def test_clustered_model_layout_and_zero_shuffle(spark, sf_dir):
    """framework_clustered_model's physical table must be hash-bucketed as
    declared, an aggregate on the cluster key must plan with ZERO
    exchanges, and changing buckets must change the version (layout is in
    the data fingerprint)."""
    case = load_all()["framework_clustered_model"]
    case.fn(spark, sf_dir)
    tables = spark.sql("SHOW TABLES IN sqlmesh__demo_clus").collect()
    t = f"sqlmesh__demo_clus.{tables[0].tableName}"
    desc = "\n".join(str(r) for r in spark.sql(f"DESCRIBE TABLE EXTENDED {t}").collect())
    assert "Num Buckets" in desc and "cust" in desc
    plan = (
        spark.sql(f"SELECT cust, COUNT(*) FROM {t} GROUP BY cust")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan

    base = parse_model_text(
        "MODEL (name s.c, kind FULL, clustered_by (k), buckets 4);\nSELECT 1 AS k"
    )
    assert base.clustered_by == ("k",) and base.buckets == 4
    # default bucket count when clustering is requested bare
    bare = parse_model_text(
        "MODEL (name s.c, kind FULL, clustered_by (k));\nSELECT 1 AS k"
    )
    assert bare.buckets == 8
    rebucketed = parse_model_text(
        "MODEL (name s.c, kind FULL, clustered_by (k), buckets 8);\nSELECT 1 AS k"
    )
    assert fingerprint_model(base) != fingerprint_model(rebucketed)


def test_storage_format_from_model_dsl(spark, sf_dir):
    """A FULL model declaring storage_format orc materializes as an ORC
    table (meta.py:95), and the format is part of the data fingerprint."""
    import tempfile as _tf

    from sqlmesh_spark.core.context import Context

    spark.sql("DROP DATABASE IF EXISTS sqlmesh__demo_fmt CASCADE")
    spark.sql("DROP DATABASE IF EXISTS env_fmt_views CASCADE")
    ctx = Context(spark, state_dir=_tf.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        "MODEL (name demo_fmt.t, kind FULL, storage_format orc);\n"
        "SELECT 1 AS k, 'x' AS v"
    )
    ctx.run(environment="env_fmt")
    tables = spark.sql("SHOW TABLES IN sqlmesh__demo_fmt").collect()
    t = f"sqlmesh__demo_fmt.{tables[0].tableName}"
    desc = "\n".join(str(r) for r in spark.sql(f"DESCRIBE TABLE EXTENDED {t}").collect())
    assert "orc" in desc.lower()
    assert spark.table("env_fmt_views.t").collect()[0].k == 1

    pq = parse_model_text("MODEL (name s.f, kind FULL);\nSELECT 1 AS k")
    orc = parse_model_text("MODEL (name s.f, kind FULL, storage_format orc);\nSELECT 1 AS k")
    assert fingerprint_model(pq) != fingerprint_model(orc)


def test_physical_and_session_properties(spark, sf_dir):
    """physical_properties land as TBLPROPERTIES on the snapshot table;
    session_properties hold ONLY during the model's evaluation (observed
    from inside a python model) and restore afterward; both are in the
    data fingerprint."""
    import tempfile as _tf

    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.python_model import python_model

    spark.sql("DROP DATABASE IF EXISTS sqlmesh__demo_props CASCADE")
    spark.sql("DROP DATABASE IF EXISTS env_props_views CASCADE")
    before = spark.conf.get("spark.sql.shuffle.partitions")

    @python_model(name="demo_props.probe")
    def probe(context):
        return context.spark.createDataFrame(
            [(context.spark.conf.get("spark.sql.shuffle.partitions"),)],
            "shuffle_parts string",
        )

    probe.physical_properties = {"owner.team": "data-eng", "pii": "false"}
    probe.session_properties = {"spark.sql.shuffle.partitions": "7"}

    ctx = Context(spark, state_dir=_tf.mkdtemp(prefix="sqlmesh_state_"),
                  models={probe.name: probe})
    ctx.run(environment="env_props")

    # observed inside evaluation: the per-model conf
    assert spark.table("env_props_views.probe").collect()[0].shuffle_parts == "7"
    # restored afterward
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # TBLPROPERTIES on the physical table
    tables = spark.sql("SHOW TABLES IN sqlmesh__demo_props").collect()
    t = f"sqlmesh__demo_props.{tables[0].tableName}"
    props = {r.key: r.value for r in spark.sql(f"SHOW TBLPROPERTIES {t}").collect()}
    assert props.get("owner.team") == "data-eng" and props.get("pii") == "false"
    # fingerprint sensitivity
    a = parse_model_text(
        "MODEL (name s.p, kind FULL, physical_properties (k = 'v'));\nSELECT 1 AS x"
    )
    b = parse_model_text(
        "MODEL (name s.p, kind FULL, physical_properties (k = 'w'));\nSELECT 1 AS x"
    )
    assert a.physical_properties == {"k": "v"}
    assert fingerprint_model(a) != fingerprint_model(b)


def test_stamp_forces_new_version():
    """node.py:131 stamp: same query, different stamp → different version."""
    a = parse_model_text("MODEL (name s.s, kind FULL, stamp 'v1');\nSELECT 1 AS x")
    b = parse_model_text("MODEL (name s.s, kind FULL, stamp 'v2');\nSELECT 1 AS x")
    plain = parse_model_text("MODEL (name s.s, kind FULL);\nSELECT 1 AS x")
    assert a.stamp == "v1"
    assert fingerprint_model(a) != fingerprint_model(b)
    assert fingerprint_model(a) != fingerprint_model(plain)


def test_interval_unit_override_and_unpartitioned_time_range(spark, sf_dir):
    """node.py:280 interval_unit: an hourly-cron model declaring
    interval_unit day batches daily; kind.py:471 partition_by_time_column
    false keeps the physical table unpartitioned (DELETE_INSERT path) with
    identical data."""
    import tempfile as _tf

    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.snapshot import DAY, HOUR, model_interval_unit

    m = parse_model_text(
        "MODEL (name s.iu, kind FULL, cron '@hourly', interval_unit 'day');\nSELECT 1 AS x"
    )
    assert model_interval_unit(m) == DAY
    plain = parse_model_text("MODEL (name s.iu, kind FULL, cron '@hourly');\nSELECT 1 AS x")
    assert model_interval_unit(plain) == HOUR
    with pytest.raises(ValueError, match="unknown interval_unit"):
        model_interval_unit(
            parse_model_text("MODEL (name s.iu, kind FULL, interval_unit 'fortnight');\nSELECT 1 AS x")
        )

    spark.sql("DROP DATABASE IF EXISTS sqlmesh__demo_nopart CASCADE")
    spark.sql("DROP DATABASE IF EXISTS env_nopart_views CASCADE")
    from sqlmesh_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("orders",))
    ctx = Context(spark, state_dir=tempfile.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        """
MODEL (
  name demo_nopart.daily,
  kind INCREMENTAL_BY_TIME_RANGE (time_column o_orderdate, partition_by_time_column false),
  start '1995-01-01'
);
SELECT o_orderkey, o_orderdate FROM orders
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o_orderdate <  CAST(@end_ts AS TIMESTAMP)
"""
    )
    ctx.run(environment="env_nopart", start="1995-01-01", end="1995-01-05")
    tables = spark.sql("SHOW TABLES IN sqlmesh__demo_nopart").collect()
    t = f"sqlmesh__demo_nopart.{tables[0].tableName}"
    desc = "\n".join(str(r) for r in spark.sql(f"DESCRIBE TABLE {t}").collect())
    assert "_ds" not in desc  # unpartitioned: no derived day column
    n1 = spark.table("env_nopart_views.daily").count()
    # second run over an overlapping window must be idempotent (DELETE_INSERT)
    ctx.run(environment="env_nopart", start="1995-01-01", end="1995-01-08")
    n2 = spark.table("env_nopart_views.daily").count()
    assert n2 >= n1
    # no duplicate keys after the overlapping re-run
    total = spark.table("env_nopart_views.daily").count()
    distinct = spark.table("env_nopart_views.daily").distinct().count()
    assert total == distinct


def test_on_additive_change_policy(spark, sf_dir):
    """kind.py:195-226 on_additive_change: error rejects a forward-only
    plan that would ADD a column; the default (allow) proceeds."""
    import tempfile as _tf

    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.plan import PlanError

    spark.sql("DROP DATABASE IF EXISTS sqlmesh__demo_addpol CASCADE")
    spark.sql("DROP DATABASE IF EXISTS env_addpol_views CASCADE")
    base = (
        "MODEL (name demo_addpol.t, kind FULL, on_additive_change error);\n"
        "SELECT 1 AS a{extra}"
    )
    ctx = Context(spark, state_dir=_tf.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(base.format(extra=""))
    ctx.run(environment="env_addpol")
    ctx.models.clear()
    ctx.add_model(base.format(extra=", 2 AS b"))
    with pytest.raises(PlanError, match="on_additive_change=error"):
        ctx.run(environment="env_addpol", forward_only=True)


def test_metrics_from_project_files(spark, sf_dir, tmp_path):
    """METRIC(...) definitions load from metrics/*.sql (reference
    definition.py:18 load_metric_ddl) and evaluate through
    Context.evaluate_metrics: base metrics derive their source from the
    fully-qualified refs, derived metrics compose, multi-table
    expressions are rejected loudly."""
    import os as _os

    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.metrics import parse_metric_text
    from sqlmesh_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("orders", "customer"))
    _os.makedirs(tmp_path / "metrics")
    _os.makedirs(tmp_path / "models")
    (tmp_path / "metrics" / "metrics.sql").write_text(
        """
METRIC (
  name total_revenue_cents,
  owner jen,
  expression CAST(SUM(CAST(ROUND(default.orders.o_totalprice * 100) AS BIGINT)) AS BIGINT)
);

METRIC (
  name n_orders,
  expression COUNT(default.orders.o_orderkey)
);

METRIC (
  name revenue_per_order,
  expression ROUND(CAST(total_revenue_cents AS DOUBLE) / n_orders, 4)
);
"""
    )
    spark.sql("CREATE DATABASE IF NOT EXISTS default")
    spark.table("orders").createOrReplaceTempView("orders")
    spark.sql("DROP TABLE IF EXISTS default.orders")
    spark.table("orders").write.saveAsTable("default.orders")
    ctx = Context(spark, project_dir=str(tmp_path))
    assert set(ctx.metrics) == {"total_revenue_cents", "n_orders", "revenue_per_order"}
    assert ctx.metrics["total_revenue_cents"].source == "default.orders"
    assert ctx.metrics["revenue_per_order"].source is None
    assert ctx.metrics["total_revenue_cents"].owner == "jen"

    df = ctx.evaluate_metrics(
        ["revenue_per_order"], dimensions=["o_orderstatus"]
    )
    rows = {r.o_orderstatus: r for r in df.collect()}
    # cross-check one group against direct SQL
    expect = spark.sql(
        "SELECT o_orderstatus, "
        "ROUND(CAST(CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS DOUBLE)"
        " / COUNT(o_orderkey), 4) AS rpo "
        "FROM default.orders GROUP BY o_orderstatus"
    ).collect()
    for e in expect:
        assert abs(rows[e.o_orderstatus].revenue_per_order - e.rpo) < 1e-9
    spark.sql("DROP TABLE IF EXISTS default.orders")

    # multi-table metrics parse with a composite source key
    [mt] = parse_metric_text(
        "METRIC (name cross, expression COUNT(IF(a.c.x = 1, b.d.y, NULL)));"
    )
    assert mt.source == "a.c|b.d"


def test_multi_table_metric_grain_join(spark, sf_dir, tmp_path):
    """A metric spanning two models joins them on their SHARED GRAIN —
    the reference's auto-derived join graph (rewriter join synthesis).
    Models without a grain are rejected with guidance."""
    import os as _os

    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("orders", "customer"))
    spark.sql("DROP DATABASE IF EXISTS sqlmesh__demo_mm CASCADE")
    spark.sql("DROP DATABASE IF EXISTS env_mm_views CASCADE")
    _os.makedirs(tmp_path / "metrics")
    (tmp_path / "metrics" / "m.sql").write_text(
        """
METRIC (
  name active_revenue_cents,
  expression CAST(SUM(CASE WHEN demo_mm.cust.c_acctbal > 0
                           THEN CAST(ROUND(demo_mm.ord.o_totalprice * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT)
);
"""
    )
    import tempfile as _tf

    ctx = Context(spark, project_dir=str(tmp_path),
                  state_dir=_tf.mkdtemp(prefix="sqlmesh_state_"))
    ctx.add_model(
        "MODEL (name demo_mm.ord, kind FULL, grain o_custkey);\n"
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders"
    )
    ctx.add_model(
        "MODEL (name demo_mm.cust, kind FULL, grain o_custkey);\n"
        "SELECT c_custkey AS o_custkey, c_acctbal FROM customer"
    )
    ctx.run(environment="env_mm")
    df = ctx.evaluate_metrics(
        ["active_revenue_cents"], dimensions=["o_orderstatus"], environment="env_mm"
    )
    got = {r.o_orderstatus: r.active_revenue_cents for r in df.collect()}
    expect = spark.sql(
        "SELECT o.o_orderstatus, CAST(SUM(CASE WHEN c.c_acctbal > 0 "
        "THEN CAST(ROUND(o.o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS v "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "GROUP BY o.o_orderstatus"
    ).collect()
    for e in expect:
        assert got[e.o_orderstatus] == e.v


def test_custom_lint_rule_registration():
    """User lint rules (reference linter/rule.py custom Rule classes)
    apply to every model after the builtins."""
    from sqlmesh_spark.core.linter import CUSTOM_RULES, lint_models, register_lint_rule

    def must_have_owner(model):
        return None if model.owner else "model has no owner"

    register_lint_rule("must_have_owner", must_have_owner)
    try:
        anon = parse_model_text("MODEL (name s.anon, kind VIEW);\nSELECT 1 AS x")
        owned = parse_model_text(
            "MODEL (name s.owned, kind VIEW, owner jen);\nSELECT 1 AS x"
        )
        rules = {(v.model, v.rule) for v in lint_models({m.name: m for m in (anon, owned)})}
        assert ("s.anon", "must_have_owner") in rules
        assert ("s.owned", "must_have_owner") not in rules
    finally:
        CUSTOM_RULES.clear()


class TestGateways:
    """Multi-gateway config (reference core/config/root.py gateways +
    default_gateway; per-gateway connection checks test/runner.py:43-77).
    A gateway here is a named session profile: Spark confs + state_dir +
    optional default database."""

    def _project(self, tmp_path):
        (tmp_path / "models").mkdir()
        (tmp_path / "config.yaml").write_text(
            """
default_gateway: dev
gateways:
  dev:
    connection:
      spark_conf:
        spark.sql.shuffle.partitions: "7"
    state_dir: {base}/state_dev
  prod:
    connection:
      spark_conf:
        spark.sql.shuffle.partitions: "13"
    state_dir: {base}/state_prod
""".format(base=tmp_path)
        )
        return str(tmp_path)

    def test_default_gateway_selected_and_applied(self, spark, tmp_path):
        from sqlmesh_spark.core.context import Context

        saved = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            ctx = Context(spark, project_dir=self._project(tmp_path))
            assert ctx.gateway == "dev"
            assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
            assert "state_dev" in ctx.state.path
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", saved)

    def test_explicit_gateway_overrides_default(self, spark, tmp_path):
        from sqlmesh_spark.core.context import Context

        saved = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            ctx = Context(spark, project_dir=self._project(tmp_path), gateway="prod")
            assert ctx.gateway == "prod"
            assert spark.conf.get("spark.sql.shuffle.partitions") == "13"
            assert "state_prod" in ctx.state.path
            assert ctx.test_connection() is True
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", saved)

    def test_unknown_gateway_raises(self, spark, tmp_path):
        import pytest

        from sqlmesh_spark.core.context import Context

        with pytest.raises(ValueError, match="unknown gateway"):
            Context(spark, project_dir=self._project(tmp_path), gateway="nope")


def test_test_connection_is_a_probe(spark, tmp_path):
    """test_connection of ANOTHER gateway must not re-point the session:
    confs and current database restore afterward."""
    from sqlmesh_spark.core.context import Context

    (tmp_path / "models").mkdir()
    (tmp_path / "config.yaml").write_text(
        """
default_gateway: dev
gateways:
  dev:
    connection:
      spark_conf:
        spark.sql.shuffle.partitions: "7"
  staging:
    connection:
      spark_conf:
        spark.sql.shuffle.partitions: "13"
"""
    )
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        ctx = Context(spark, project_dir=str(tmp_path),
                      state_dir=str(tmp_path / "s"))
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        assert ctx.test_connection("staging") is True
        # probe restored dev's conf
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        assert ctx.gateway == "dev"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def test_no_gaps_promotion_guard(spark, tmp_path):
    """A modified incremental model applied over a NARROWER window than
    its predecessor processed must be refused under no_gaps (reference
    promote(no_gaps_snapshot_names), state_sync/base.py:419-422) and
    admitted without the flag — and the guard failure leaves the
    environment's previous view intact."""
    import pytest

    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.plan import PlanError
    from sqlmesh_spark.sources.tables import register_views

    register_views(spark, "/root/testdata/sf0.001", ("orders",))
    for db in ("sqlmesh__demo_ng", "env_ng_views"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")

    def model_text(extra_col: str = "") -> str:
        return f"""
MODEL (
  name demo_ng.daily,
  kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts),
  cron '@daily'
);
SELECT o_orderdate AS event_ts, COUNT(*) AS n{extra_col}
FROM orders
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o_orderdate <  CAST(@end_ts AS TIMESTAMP)
GROUP BY o_orderdate
"""

    state = str(tmp_path / "state")
    ctx = Context(spark, state_dir=state)
    ctx.add_model(model_text())
    ctx.run(environment="env_ng", start="1995-01-01", end="1995-03-31")

    # Breaking change, applied over February only → January/March gaps.
    ctx2 = Context(spark, state_dir=state)
    ctx2.add_model(model_text(", SUM(o_totalprice) AS tp"))
    plan = ctx2.plan(environment="env_ng", start="1995-02-01", end="1995-02-28",
                     no_gaps=True)
    with pytest.raises(PlanError, match="no_gaps"):
        ctx2.apply(plan)
    # old view still serves the previous version (no tp column)
    assert "tp" not in spark.table("env_ng_views.daily").columns

    # Same narrow window WITHOUT the flag: promotion proceeds.
    ctx3 = Context(spark, state_dir=state)
    ctx3.add_model(model_text(", SUM(o_totalprice) AS tp"))
    ctx3.run(environment="env_ng", start="1995-02-01", end="1995-02-28")
    assert "tp" in spark.table("env_ng_views.daily").columns

    # Full-window re-apply with no_gaps: passes.
    ctx4 = Context(spark, state_dir=state)
    ctx4.add_model(model_text(", SUM(o_totalprice) AS tp"))
    plan4 = ctx4.plan(environment="env_ng", start="1995-01-01", end="1995-03-31",
                      no_gaps=True)
    ctx4.apply(plan4)


def test_effective_from_forward_only(spark, tmp_path):
    """effective_from on a forward-only plan: intervals from the date
    onward recompute with the NEW query over the SAME pinned table;
    history before it keeps the old logic's values."""
    import pytest

    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.plan import PlanError
    from sqlmesh_spark.sources.tables import register_views

    register_views(spark, "/root/testdata/sf0.001", ("orders",))
    for db in ("sqlmesh__demo_ef", "env_ef_views"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")

    def model_text(marker: str) -> str:
        return f"""
MODEL (
  name demo_ef.daily,
  kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts),
  cron '@daily'
);
SELECT o_orderdate AS event_ts, COUNT(*) AS n, '{marker}' AS logic
FROM orders
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o_orderdate <  CAST(@end_ts AS TIMESTAMP)
GROUP BY o_orderdate
"""

    state = str(tmp_path / "state")
    ctx = Context(spark, state_dir=state)
    ctx.add_model(model_text("v1"))
    ctx.run(environment="env_ef", start="1995-01-01", end="1995-03-31")

    # effective_from without forward-only is rejected
    ctx2 = Context(spark, state_dir=state)
    ctx2.add_model(model_text("v2"))
    with pytest.raises(PlanError, match="forward-only"):
        ctx2.plan(environment="env_ef", start="1995-01-01", end="1995-03-31",
                  effective_from="1995-02-01")

    plan = ctx2.plan(environment="env_ef", start="1995-01-01", end="1995-03-31",
                     forward_only=True, effective_from="1995-02-01")
    ctx2.apply(plan)
    logic = {
        r.month: set(r.logics)
        for r in spark.sql(
            "SELECT date_format(event_ts, 'yyyy-MM') AS month, "
            "collect_set(logic) AS logics FROM env_ef_views.daily GROUP BY 1"
        ).collect()
    }
    assert logic["1995-01"] == {"v1"}  # history before effective_from kept
    assert logic["1995-02"] == {"v2"}  # recomputed with new logic
    assert logic["1995-03"] == {"v2"}


def test_skip_and_empty_backfill(spark, tmp_path):
    """skip_backfill promotes without processing; empty_backfill creates
    schema-correct empty tables and marks the window processed so a later
    run computes nothing — restatement is the backfill lever."""
    import pytest

    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.plan import PlanError
    from sqlmesh_spark.sources.tables import register_views

    register_views(spark, "/root/testdata/sf0.001", ("orders",))
    for db in ("sqlmesh__demo_eb", "env_eb_views"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")

    text = """
MODEL (
  name demo_eb.daily,
  kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts),
  cron '@daily'
);
SELECT o_orderdate AS event_ts, COUNT(*) AS n
FROM orders
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o_orderdate <  CAST(@end_ts AS TIMESTAMP)
GROUP BY o_orderdate
"""
    state = str(tmp_path / "state")
    ctx = Context(spark, state_dir=state)
    ctx.add_model(text)
    with pytest.raises(PlanError, match="mutually exclusive"):
        ctx.plan(environment="env_eb", skip_backfill=True, no_gaps=True)

    plan = ctx.plan(environment="env_eb", start="1995-01-01", end="1995-01-31",
                    empty_backfill=True)
    ctx.apply(plan)
    assert spark.table("env_eb_views.daily").count() == 0
    # the window is marked processed: a normal run computes nothing new
    executed = ctx.run(environment="env_eb", start="1995-01-01", end="1995-01-31")
    assert executed.get("demo_eb.daily", 0) == 0
    # restatement fills real data
    ctx.restate(["demo_eb.daily"], start="1995-01-01", end="1995-01-31",
                environment="env_eb")
    assert spark.table("env_eb_views.daily").count() > 0


def test_table_and_column_comments_registered(spark, tmp_path):
    """description -> table comment, column_descriptions -> per-column
    comments on the physical snapshot table (reference spark.py:545-554
    ALTER COLUMN ... COMMENT form); metadata-only, not fingerprinted."""
    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.plan import build_snapshots
    from sqlmesh_spark.sources.tables import register_views

    register_views(spark, "/root/testdata/sf0.001", ("orders",))
    for db in ("sqlmesh__demo_cmt", "env_cmt_views"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")

    ctx = Context(spark, state_dir=str(tmp_path / "state"))
    ctx.add_model(
        """
MODEL (
  name demo_cmt.t,
  kind FULL,
  description 'daily order rollup',
  column_descriptions (n = 'order count')
);
SELECT COUNT(*) AS n FROM orders
"""
    )
    ctx.run(environment="env_cmt")
    snap = build_snapshots(ctx.models)["demo_cmt.t"]
    detail = {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {snap.table_name}").collect()
    }
    assert "daily order rollup" in detail.get("Comment", "")
    cols = {f.name: f.metadata for f in spark.table(snap.table_name).schema}
    assert cols["n"].get("comment") == "order count"

    # metadata-only: dropping the description must not change the version
    ctx2 = Context(spark, state_dir=str(tmp_path / "state2"))
    ctx2.add_model("MODEL (name demo_cmt.t, kind FULL);\nSELECT COUNT(*) AS n FROM orders")
    assert build_snapshots(ctx2.models)["demo_cmt.t"].version == snap.version


def test_plan_gates_and_create_from(spark, tmp_path):
    """plan runs project YAML tests first (PlanError on failure,
    skip_tests bypasses — reference context.plan gates), and create_from
    seeds a new environment's diff baseline from another environment."""
    import pytest

    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.plan import PlanError

    proj = tmp_path / "proj"
    (proj / "models").mkdir(parents=True)
    (proj / "tests").mkdir()
    (proj / "models" / "m.sql").write_text(
        "MODEL (name demo_gate.m, kind FULL);\nSELECT 1 AS x"
    )
    (proj / "tests" / "test_m.yaml").write_text(
        """
test_m:
  model: demo_gate.m
  inputs: {}
  outputs:
    query:
      rows:
        - x: 999
"""
    )
    ctx = Context(spark, project_dir=str(proj), state_dir=str(tmp_path / "s"))
    with pytest.raises(PlanError, match="tests failed"):
        ctx.plan(environment="env_gate")
    plan = ctx.plan(environment="env_gate", skip_tests=True)  # bypass works
    assert plan.snapshots

    # create_from: a new env diffs against staging's state
    ctx2 = Context(spark, state_dir=str(tmp_path / "s2"))
    ctx2.add_model("MODEL (name demo_cf.m, kind FULL);\nSELECT 1 AS x")
    ctx2.run(environment="env_cf_stage")
    plan_fresh = ctx2.plan(environment="env_cf_new")
    assert plan_fresh.diff.added == ["demo_cf.m"]  # empty baseline
    plan_branch = ctx2.plan(environment="env_cf_new", create_from="env_cf_stage")
    assert plan_branch.diff.unchanged == ["demo_cf.m"]  # staged baseline


def test_allow_destructive_models_override(spark, tmp_path):
    """allow_destructive_models lets ONE plan apply a destructive
    forward-only change on a model whose policy is error."""
    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.plan import PlanError
    import pytest

    for db in ("sqlmesh__demo_adm", "env_adm_views"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    state = str(tmp_path / "state")
    ctx = Context(spark, state_dir=state)
    ctx.add_model("MODEL (name demo_adm.m, kind FULL);\nSELECT 1 AS a, 2 AS b")
    ctx.run(environment="env_adm")

    ctx2 = Context(spark, state_dir=state)
    ctx2.add_model("MODEL (name demo_adm.m, kind FULL);\nSELECT 1 AS a")  # drops b
    with pytest.raises(PlanError, match="destructive"):
        ctx2.plan(environment="env_adm", forward_only=True)
    plan = ctx2.plan(environment="env_adm", forward_only=True,
                     allow_destructive_models=["demo_adm.m"])
    ctx2.apply(plan)


def test_execution_time_pins_execution_vars(spark, tmp_path):
    """plan(execution_time=...) pins @execution_ds in rendered SQL instead
    of defaulting to the interval end (reference plan/run execution_time)."""
    from sqlmesh_spark.core.context import Context

    for db in ("sqlmesh__demo_et", "env_et_views"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    ctx = Context(spark, state_dir=str(tmp_path / "state"))
    ctx.add_model(
        "MODEL (name demo_et.m, kind FULL);\n"
        "SELECT @execution_ds AS exec_ds, 1 AS x"
    )
    plan = ctx.plan(environment="env_et", start="1995-01-01", end="1995-01-31",
                    execution_time="2020-06-15")
    ctx.apply(plan)
    row = spark.table("env_et_views.m").collect()[0]
    assert row.exec_ds == "2020-06-15"


def test_effective_from_dry_run_is_stateless(spark, tmp_path):
    """plan() with effective_from must NOT mutate interval state — only
    apply() does (a dry-run or abandoned plan leaves the serving version
    untouched)."""
    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.plan import build_snapshots
    from sqlmesh_spark.sources.tables import register_views

    register_views(spark, "/root/testdata/sf0.001", ("orders",))
    for db in ("sqlmesh__demo_efd", "env_efd_views"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")

    def model_text(marker):
        return f"""
MODEL (
  name demo_efd.daily,
  kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts),
  cron '@daily'
);
SELECT o_orderdate AS event_ts, COUNT(*) AS n, '{marker}' AS logic
FROM orders
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o_orderdate <  CAST(@end_ts AS TIMESTAMP)
GROUP BY o_orderdate
"""

    state = str(tmp_path / "state")
    ctx = Context(spark, state_dir=state)
    ctx.add_model(model_text("v1"))
    ctx.run(environment="env_efd", start="1995-01-01", end="1995-02-28")
    version = build_snapshots(ctx.models)["demo_efd.daily"].version
    before = ctx.state.get_intervals("demo_efd.daily", version)

    ctx2 = Context(spark, state_dir=state)
    ctx2.add_model(model_text("v2"))
    ctx2.plan(environment="env_efd", start="1995-01-01", end="1995-02-28",
              forward_only=True, effective_from="1995-02-01")  # never applied
    assert ctx2.state.get_intervals("demo_efd.daily", version) == before


def test_run_is_not_test_gated(spark, tmp_path):
    """A failing YAML test blocks plan() but must not block run() —
    scheduled execution never test-gates (reference run path)."""
    import pytest

    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.plan import PlanError

    proj = tmp_path / "proj"
    (proj / "models").mkdir(parents=True)
    (proj / "tests").mkdir()
    (proj / "models" / "m.sql").write_text(
        "MODEL (name demo_rg.m, kind FULL);\nSELECT 1 AS x"
    )
    (proj / "tests" / "bad.yaml").write_text(
        "bad:\n  model: demo_rg.missing_model\n  inputs: {}\n  outputs:\n    query:\n      rows: []\n"
    )
    ctx = Context(spark, project_dir=str(proj), state_dir=str(tmp_path / "s"))
    # malformed spec surfaces as a PlanError, not a KeyError
    with pytest.raises(PlanError, match="tests failed"):
        ctx.plan(environment="env_rg")
    # run() bypasses the gate
    ctx.run(environment="env_rg")


def test_empty_backfill_scd2_refused_and_time_range_partitioned(spark, tmp_path):
    """empty_backfill refuses SCD2 kinds loudly; a time-range incremental
    gets the evaluator's _ds partition layout so later writes stay
    partition-pruned."""
    import pytest

    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.plan import PlanError, build_snapshots
    from sqlmesh_spark.sources.tables import register_views

    register_views(spark, "/root/testdata/sf0.001", ("orders",))
    for db in ("sqlmesh__demo_ebs",):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")

    ctx = Context(spark, state_dir=str(tmp_path / "s1"))
    ctx.add_model(
        """
MODEL (name demo_ebs.scd, kind SCD_TYPE_2_BY_TIME (unique_key id, updated_at_name event_ts));
SELECT 1 AS id, CAST('1995-01-01' AS TIMESTAMP) AS event_ts
"""
    )
    plan = ctx.plan(environment="env_ebs", empty_backfill=True)
    with pytest.raises(PlanError, match="SCD"):
        ctx.apply(plan)

    ctx2 = Context(spark, state_dir=str(tmp_path / "s2"))
    ctx2.add_model(
        """
MODEL (name demo_ebs.inc, kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts));
SELECT o_orderdate AS event_ts, COUNT(*) AS n FROM orders
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o_orderdate < CAST(@end_ts AS TIMESTAMP)
GROUP BY o_orderdate
"""
    )
    plan2 = ctx2.plan(environment="env_ebs2", start="1995-01-01",
                      end="1995-01-31", empty_backfill=True)
    ctx2.apply(plan2)
    snap = build_snapshots(ctx2.models)["demo_ebs.inc"]
    ddl = spark.sql(f"SHOW CREATE TABLE {snap.table_name}").collect()[0][0]
    assert "_ds" in ddl and "PARTITIONED BY" in ddl


def test_backfill_models_and_include_unmodified(spark, tmp_path):
    """backfill_models restricts interval processing; include_unmodified=
    False gives a new environment views only for changed models."""
    from sqlmesh_spark.core.context import Context

    for db in ("sqlmesh__demo_bm", "env_bm_views", "env_bm2_views"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    state = str(tmp_path / "state")
    ctx = Context(spark, state_dir=state)
    ctx.add_model("MODEL (name demo_bm.a, kind FULL);\nSELECT 1 AS x")
    ctx.add_model("MODEL (name demo_bm.b, kind FULL);\nSELECT 2 AS y")
    plan = ctx.plan(environment="env_bm", backfill_models=["demo_bm.a"])
    executed = ctx.apply(plan)
    assert executed["demo_bm.a"] >= 1
    assert executed["demo_bm.b"] == 0
    assert spark.catalog.tableExists("env_bm_views.a")
    assert not spark.catalog.tableExists("env_bm_views.b")  # no data yet

    # full apply to env_bm, then branch env_bm2 with only b modified
    ctx.run(environment="env_bm")
    ctx2 = Context(spark, state_dir=state)
    ctx2.add_model("MODEL (name demo_bm.a, kind FULL);\nSELECT 1 AS x")
    ctx2.add_model("MODEL (name demo_bm.b, kind FULL);\nSELECT 2 AS y, 3 AS z")
    plan2 = ctx2.plan(environment="env_bm2", create_from="env_bm",
                      include_unmodified=False)
    ctx2.apply(plan2)
    assert spark.catalog.tableExists("env_bm2_views.b")
    assert not spark.catalog.tableExists("env_bm2_views.a")  # unmodified skipped


def test_ignore_cron_processes_partial_interval(spark, tmp_path):
    """run(ignore_cron=True) processes the trailing partial unit a normal
    run would defer until the cron period completes."""
    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.sources.tables import register_views

    register_views(spark, "/root/testdata/sf0.001", ("orders",))
    for db in ("sqlmesh__demo_ic", "env_ic_views"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    text = """
MODEL (name demo_ic.daily, kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts), cron '@daily');
SELECT o_orderdate AS event_ts, COUNT(*) AS n FROM orders
WHERE o_orderdate >= CAST(@start_ts AS TIMESTAMP)
  AND o_orderdate < CAST(@end_ts AS TIMESTAMP)
GROUP BY o_orderdate
"""
    state = str(tmp_path / "s")
    ctx = Context(spark, state_dir=state)
    ctx.add_model(text)
    # mid-day end: the partial Jan-4 day is deferred normally...
    ctx.run(environment="env_ic", start="1995-01-01", end="1995-01-04 12:00:00")
    n1 = spark.table("env_ic_views.daily").count()
    assert n1 == 1  # only Jan 1 (Jan 4's order sits in the partial unit)
    # ...but processed under ignore_cron
    ctx.run(environment="env_ic", start="1995-01-01", end="1995-01-04 12:00:00",
            ignore_cron=True)
    n2 = spark.table("env_ic_views.daily").count()
    assert n2 == 2  # Jan 4 midnight order now included


def test_no_auto_categorization_treats_additive_as_breaking(spark, tmp_path):
    """With no_auto_categorization, an additive-projection change (normally
    NON_BREAKING → child keeps its version) rebuilds the child too."""
    from sqlmesh_spark.core.context import Context

    from sqlmesh_spark.sources.tables import register_views

    register_views(spark, "/root/testdata/sf0.001", ("region",))
    state = str(tmp_path / "state")
    ctx = Context(spark, state_dir=state)
    ctx.add_model("MODEL (name demo_nac.p, kind FULL);\nSELECT r_regionkey AS a FROM region")
    ctx.add_model("MODEL (name demo_nac.c, kind FULL);\nSELECT a FROM demo_nac.p")
    ctx.run(environment="env_nac")

    ctx2 = Context(spark, state_dir=state)
    ctx2.add_model("MODEL (name demo_nac.p, kind FULL);\nSELECT r_regionkey AS a, r_name AS b FROM region")
    ctx2.add_model("MODEL (name demo_nac.c, kind FULL);\nSELECT a FROM demo_nac.p")
    auto = ctx2.plan(environment="env_nac")
    assert "demo_nac.c" in auto.diff.unchanged  # additive heuristic reverts child
    manual = ctx2.plan(environment="env_nac", no_auto_categorization=True)
    assert "demo_nac.c" in manual.diff.modified  # everything breaking


def test_forward_only_dry_run_does_not_alter_schema(spark, tmp_path):
    """plan(forward_only) computes schema migrations but does NOT execute
    them — an abandoned plan leaves the serving table's schema untouched;
    apply() runs the ALTERs."""
    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.plan import build_snapshots

    for db in ("sqlmesh__demo_fod", "env_fod_views"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    state = str(tmp_path / "state")
    ctx = Context(spark, state_dir=state)
    ctx.add_model("MODEL (name demo_fod.m, kind FULL);\nSELECT 1 AS a")
    ctx.run(environment="env_fod")
    table = build_snapshots(ctx.models)["demo_fod.m"].table_name

    ctx2 = Context(spark, state_dir=state)
    ctx2.add_model("MODEL (name demo_fod.m, kind FULL);\nSELECT 1 AS a, 2 AS b")
    plan = ctx2.plan(environment="env_fod", forward_only=True)  # never applied
    assert plan.pending_migrations  # the migration is recorded...
    assert "b" not in spark.table(table).columns  # ...but NOT executed
    ctx2.apply(plan)
    assert "b" in spark.table(table).columns


def test_backfill_models_typo_and_parent_guard(spark, tmp_path):
    """A backfill_models pattern matching nothing raises; selecting a
    child while excluding its unbuilt parent raises at plan time."""
    import pytest

    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.plan import PlanError

    ctx = Context(spark, state_dir=str(tmp_path / "s"))
    ctx.add_model("MODEL (name demo_bg.p, kind FULL);\nSELECT 1 AS a")
    ctx.add_model("MODEL (name demo_bg.c, kind FULL);\nSELECT a FROM demo_bg.p")
    with pytest.raises(PlanError, match="matched nothing"):
        ctx.plan(environment="env_bg", backfill_models=["demo_bg.typo"])
    with pytest.raises(PlanError, match="excludes its parent"):
        ctx.plan(environment="env_bg", backfill_models=["demo_bg.c"])
    # wildcard selection works
    plan = ctx.plan(environment="env_bg", backfill_models=["demo_bg.*"])
    assert set(plan.backfill_models) == {"demo_bg.p", "demo_bg.c"}


def test_yaml_cte_chain_and_empty_fixture(spark):
    """CTE expectations resolve earlier CTEs in the chain, and an empty
    fixture with declared columns builds a typed empty DataFrame."""
    from sqlmesh_spark.core.model import parse_model_text
    from sqlmesh_spark.core.model_test import ModelTestRunner

    model = parse_model_text(
        """
MODEL (name demo_yt.m, kind FULL);
WITH a AS (SELECT id, v FROM raw.src),
b AS (SELECT id, v * 2 AS v2 FROM a)
SELECT b.id, b.v2 FROM b LEFT JOIN raw.empty e ON b.id = e.id
"""
    )
    spec = """
chain_test:
  model: demo_yt.m
  inputs:
    raw.src:
      columns: {id: bigint, v: bigint}
      rows:
        - {id: 1, v: 10}
    raw.empty:
      columns: {id: bigint}
      rows: []
  outputs:
    ctes:
      b:
        rows:
          - {id: 1, v2: 20}
    query:
      rows:
        - {id: 1, v2: 20}
"""
    results = ModelTestRunner(spark).run_yaml(spec, {"demo_yt.m": model})
    assert results[0].passed, results[0].failures


def test_post_statement_failure_propagates_after_success(spark, sf_dir):
    """Round-5 advice: PySpark's converted exceptions always carry
    __context__ (raised inside its own except handler), so the old
    __context__-based masking check swallowed REAL post-statement
    failures after a successful evaluation. They must propagate."""
    import tempfile

    from sqlmesh_spark.core.context import Context

    ctx = Context(spark, state_dir=tempfile.mkdtemp())
    ctx.add_model(
        """
MODEL (name poststmt.bad, kind FULL);
SELECT 1 AS id;
DROP VIEW nonexistent_view_post_xyz
"""
    )
    with pytest.raises(Exception) as exc_info:
        ctx.run(environment="env_poststmt")
    assert "nonexistent_view_post_xyz" in str(exc_info.value)


def test_post_statement_failure_never_masks_evaluation_error(spark, sf_dir):
    import tempfile

    from sqlmesh_spark.core.context import Context

    ctx = Context(spark, state_dir=tempfile.mkdtemp())
    ctx.add_model(
        """
MODEL (name poststmt.bothfail, kind FULL);
SELECT no_such_col FROM range(1);
DROP VIEW also_missing_post_xyz
"""
    )
    with pytest.raises(Exception) as exc_info:
        ctx.run(environment="env_poststmt2")
    # The EVALUATION error surfaces, not the post-statement one.
    assert "no_such_col" in str(exc_info.value)


def test_failure_skips_only_its_descendants(spark, tmp_path):
    """A failing model costs only its descendants: an independent branch,
    its child included, still builds and records, and the original
    AuditError re-raises with a note naming the failed and skipped models."""
    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.plan import build_snapshots
    from sqlmesh_spark.core.scheduler import AuditError

    for db in ("sqlmesh__iso", "env_iso_views"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    ctx = Context(spark, state_dir=str(tmp_path / "state"))
    ctx.add_model(
        "MODEL (name iso.bad, kind FULL, audits (number_of_rows(threshold = 5)));\n"
        "SELECT 1 AS a"
    )
    ctx.add_model("MODEL (name iso.bad_child, kind FULL);\nSELECT a FROM iso.bad")
    ctx.add_model("MODEL (name iso.good, kind FULL);\nSELECT 1 AS a")
    ctx.add_model("MODEL (name iso.good_child, kind FULL);\nSELECT a FROM iso.good")
    with pytest.raises(AuditError, match="audits failed on iso.bad") as exc_info:
        ctx.run(environment="env_iso", start="1995-01-01", end="1995-01-03")
    snaps = build_snapshots(ctx.models)
    for name in ("iso.good", "iso.good_child"):
        assert spark.table(snaps[name].table_name).count() == 1
        assert ctx.state.get_intervals(name, snaps[name].version)
    assert not spark.catalog.tableExists(snaps["iso.bad_child"].table_name)
    note = "\n".join(exc_info.value.__notes__)
    assert "failed: ['iso.bad']; skipped descendants: ['iso.bad_child']" in note


def test_batch_failure_keeps_earlier_batches_recorded(spark, tmp_path, monkeypatch):
    """An unaudited model records each batch as soon as it is written: a
    failure at batch 3 of 4 keeps batches 1-2, the rerun executes only the
    other two, and the result equals a clean one-shot run."""
    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.plan import build_snapshots
    from sqlmesh_spark.core.scheduler import SnapshotEvaluator

    for db in ("sqlmesh__resume", "sqlmesh__resume_ref", "env_resume_views",
               "env_resume_ref_views"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    hour = f"timestamp_seconds({to_epoch('1995-01-01')} + id * 3600)"
    text = f"""
MODEL (
  name {{name}},
  kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts),
  cron '@daily',
  batch_size 1
);
SELECT id, {hour} AS event_ts FROM range(96)
WHERE {hour} >= CAST(@start_ts AS TIMESTAMP) AND {hour} < CAST(@end_ts AS TIMESTAMP)
"""
    window = {"start": "1995-01-01", "end": "1995-01-05"}
    ctx = Context(spark, state_dir=str(tmp_path / "state"))
    ctx.add_model(text.format(name="resume.daily"))
    evaluate = SnapshotEvaluator.evaluate
    calls = []

    def fail_third_batch(self, *args, **kwargs):
        calls.append(args)
        if len(calls) == 3:
            raise RuntimeError("injected failure at batch 3")
        return evaluate(self, *args, **kwargs)

    monkeypatch.setattr(SnapshotEvaluator, "evaluate", fail_third_batch)
    with pytest.raises(RuntimeError, match="injected failure"):
        ctx.run(environment="env_resume", **window)
    monkeypatch.undo()
    snap = build_snapshots(ctx.models)["resume.daily"]
    assert len(ctx.state.get_intervals("resume.daily", snap.version)) == 2
    assert ctx.run(environment="env_resume", **window) == {"resume.daily": 2}
    days = [to_epoch(d) for d in ("1995-01-01", "1995-01-02", "1995-01-03", "1995-01-04")]
    recorded = ctx.state.get_intervals("resume.daily", snap.version)
    assert sorted(recorded) == [(d, d + DAY) for d in days]

    ref = Context(spark, state_dir=str(tmp_path / "ref_state"))
    ref.add_model(text.format(name="resume_ref.daily"))
    ref.run(environment="env_resume_ref", **window)
    ref_table = build_snapshots(ref.models)["resume_ref.daily"].table_name
    rows = sorted(spark.table(snap.table_name).select("id", "event_ts").collect())
    expected = sorted(spark.table(ref_table).select("id", "event_ts").collect())
    assert rows == expected and len(rows) == 96


def test_weekly_cron_boundary_anchored_to_dow():
    """Round-5 advice: epoch//7d floors to a Thursday grid; the weekly
    auto-restatement boundary must land on the cron's declared day."""
    from datetime import datetime, timezone

    from sqlmesh_spark.core.scheduler import _weekly_cron_boundary

    def epoch(s):
        return int(datetime.fromisoformat(s).replace(tzinfo=timezone.utc).timestamp())

    # 2024-01-10 is a Wednesday. Most recent Monday = 2024-01-08.
    b = _weekly_cron_boundary(epoch("2024-01-10"), "1")
    assert datetime.fromtimestamp(b, tz=timezone.utc).strftime("%Y-%m-%d %a") == "2024-01-08 Mon"
    # On the target day itself, the boundary is that day.
    assert _weekly_cron_boundary(epoch("2024-01-08"), "1") == epoch("2024-01-08")
    # Named day, Sunday as 0 and as 7, list takes first entry.
    b_sun = _weekly_cron_boundary(epoch("2024-01-10"), "SUN")
    assert datetime.fromtimestamp(b_sun, tz=timezone.utc).strftime("%a") == "Sun"
    assert _weekly_cron_boundary(epoch("2024-01-10"), "7") == b_sun
    assert _weekly_cron_boundary(epoch("2024-01-10"), "0") == b_sun
    b_list = _weekly_cron_boundary(epoch("2024-01-10"), "2,5")
    assert datetime.fromtimestamp(b_list, tz=timezone.utc).strftime("%a") == "Tue"


def test_yaml_test_dialect_key_routes_transpile(spark):
    """Round-5 directive: a YAML test can declare `dialect:` and the
    fixture query routes through core/transpile.py before execution
    (reference test/runner.py:43-77 runs tests in the model's dialect).
    The model text below is DuckDB SQL — strftime C-formats and a `::`
    cast — unrunnable on Spark without transpilation."""
    from sqlmesh_spark.core.model import parse_model_text

    model = parse_model_text(
        "MODEL (name demo.ddb_rev, kind FULL);\n"
        "SELECT strftime(ds::TIMESTAMP, '%Y-%m') AS month,\n"
        "       SUM(amount)::DOUBLE AS revenue\n"
        "FROM src.order_items GROUP BY strftime(ds::TIMESTAMP, '%Y-%m')"
    )
    yaml_text = """
test_ddb_rev:
  model: demo.ddb_rev
  dialect: duckdb
  inputs:
    src.order_items:
      rows:
        - {amount: 5.0, ds: '2024-01-01'}
        - {amount: 7.0, ds: '2024-02-01'}
  outputs:
    query:
      rows:
        - {month: '2024-01', revenue: 5.0}
        - {month: '2024-02', revenue: 7.0}
"""
    results = ModelTestRunner(spark).run_yaml(yaml_text, {model.name: model})
    assert results[0].passed, results[0].failures
    # Without the dialect key (and no model dialect) the raw DuckDB text
    # must fail on Spark — proving the transpile hop did the work.
    no_dialect = yaml_text.replace("  dialect: duckdb\n", "")
    results = ModelTestRunner(spark).run_yaml(no_dialect, {model.name: model})
    assert not results[0].passed


def test_yaml_test_snowflake_dialect(spark):
    from sqlmesh_spark.core.model import parse_model_text

    model = parse_model_text(
        "MODEL (name demo.sf_m, kind FULL, dialect snowflake);\n"
        "SELECT IFF(amount > 6, 'big', 'small') AS bucket,\n"
        "       COUNT(*)::BIGINT AS n\n"
        "FROM src.order_items GROUP BY IFF(amount > 6, 'big', 'small')"
    )
    yaml_text = """
test_sf_m:
  model: demo.sf_m
  inputs:
    src.order_items:
      rows:
        - {amount: 5.0}
        - {amount: 7.0}
        - {amount: 9.0}
  outputs:
    query:
      rows:
        - {bucket: small, n: 1}
        - {bucket: big, n: 2}
"""
    results = ModelTestRunner(spark).run_yaml(yaml_text, {model.name: model})
    assert results[0].passed, results[0].failures


def test_yaml_test_mysql_and_redshift_dialects(spark):
    """Round-5b: YAML unit tests route the two new read dialects through
    core/transpile.py exactly like scheduler render (reference
    test/runner.py:43-77 runs tests in the model's dialect)."""
    from sqlmesh_spark.core.model import parse_model_text

    my_model = parse_model_text(
        "MODEL (name demo.my_m, kind FULL, dialect mysql);\n"
        "SELECT DATE_FORMAT(d, '%Y-%m') AS ym,  # mysql comment\n"
        "       CAST(COUNT(*) AS SIGNED) AS n\n"
        "FROM src.events_in WHERE flag = 1 || flag = 3\n"
        "GROUP BY DATE_FORMAT(d, '%Y-%m')"
    )
    yaml_text = """
test_my_m:
  model: demo.my_m
  inputs:
    src.events_in:
      rows:
        - {d: 2024-01-05, flag: 1}
        - {d: 2024-01-09, flag: 2}
        - {d: 2024-02-01, flag: 3}
  outputs:
    query:
      rows:
        - {ym: '2024-01', n: 1}
        - {ym: '2024-02', n: 1}
"""
    results = ModelTestRunner(spark).run_yaml(yaml_text, {my_model.name: my_model})
    assert results[0].passed, results[0].failures

    rs_model = parse_model_text(
        "MODEL (name demo.rs_m, kind FULL, dialect redshift);\n"
        "SELECT TO_CHAR(d, 'YYYY-MM') AS ym,\n"
        "       LEN(LTRIM(tag, '0123456789'))::BIGINT AS tag_len\n"
        "FROM src.tagged"
    )
    rs_yaml = """
test_rs_m:
  model: demo.rs_m
  inputs:
    src.tagged:
      rows:
        - {d: 2024-03-05, tag: '42abc'}
  outputs:
    query:
      rows:
        - {ym: '2024-03', tag_len: 3}
"""
    results = ModelTestRunner(spark).run_yaml(rs_yaml, {rs_model.name: rs_model})
    assert results[0].passed, results[0].failures


def test_yaml_test_oracle_and_tsql_dialects(spark):
    """YAML unit tests route the round-5c dialects through
    core/transpile.py like scheduler render."""
    from sqlmesh_spark.core.model import parse_model_text

    ora_model = parse_model_text(
        "MODEL (name demo.ora_m, kind FULL, dialect oracle);\n"
        "SELECT TO_CHAR(d, 'YYYY-MM') AS ym,\n"
        "       NVL(MAX(tag), 'none') AS top_tag\n"
        "FROM src.ora_rows GROUP BY TO_CHAR(d, 'YYYY-MM')"
    )
    ora_yaml = """
test_ora_m:
  model: demo.ora_m
  inputs:
    src.ora_rows:
      rows:
        - {d: 2024-03-05, tag: 'x'}
        - {d: 2024-03-09, tag: null}
  outputs:
    query:
      rows:
        - {ym: '2024-03', top_tag: 'x'}
"""
    results = ModelTestRunner(spark).run_yaml(ora_yaml, {ora_model.name: ora_model})
    assert results[0].passed, results[0].failures

    ts_model = parse_model_text(
        "MODEL (name demo.ts_m, kind FULL, dialect tsql);\n"
        "SELECT TOP 1 [v] AS val, ISNULL([note], 'n/a') AS note\n"
        "FROM src.ts_rows ORDER BY [v] DESC"
    )
    ts_yaml = """
test_ts_m:
  model: demo.ts_m
  inputs:
    src.ts_rows:
      rows:
        - {v: 1, note: 'a'}
        - {v: 9, note: null}
  outputs:
    query:
      rows:
        - {val: 9, note: 'n/a'}
"""
    results = ModelTestRunner(spark).run_yaml(ts_yaml, {ts_model.name: ts_model})
    assert results[0].passed, results[0].failures


def test_yaml_test_trino_and_clickhouse_dialects(spark):
    """YAML unit tests route the trino and clickhouse dialects through
    core/transpile.py like scheduler render (ref test/runner.py:43-77
    runs model tests in the model's dialect)."""
    from sqlmesh_spark.core.model import parse_model_text

    tr_model = parse_model_text(
        "MODEL (name demo.tr_m, kind FULL, dialect trino);\n"
        "SELECT date_format(d, '%Y-%m') AS ym,\n"
        "       arbitrary(tag) AS a_tag,\n"
        "       date_diff('day', DATE '2024-03-01', MAX(d)) AS span\n"
        "FROM src.tr_rows GROUP BY date_format(d, '%Y-%m')"
    )
    tr_yaml = """
test_tr_m:
  model: demo.tr_m
  inputs:
    src.tr_rows:
      rows:
        - {d: 2024-03-05, tag: 'x'}
        - {d: 2024-03-05, tag: 'x'}
  outputs:
    query:
      rows:
        - {ym: '2024-03', a_tag: 'x', span: 4}
"""
    results = ModelTestRunner(spark).run_yaml(tr_yaml, {tr_model.name: tr_model})
    assert results[0].passed, results[0].failures

    ch_model = parse_model_text(
        "MODEL (name demo.ch_m, kind FULL, dialect clickhouse);\n"
        "SELECT toYYYYMM(d) AS ym,\n"
        "       toInt64(countIf(v > 1)) AS n_big,\n"
        "       multiIf(MAX(v) > 10, 'big', 'small') AS bucket\n"
        "FROM src.ch_rows GROUP BY toYYYYMM(d)"
    )
    ch_yaml = """
test_ch_m:
  model: demo.ch_m
  inputs:
    src.ch_rows:
      rows:
        - {d: 2024-03-05, v: 1}
        - {d: 2024-03-09, v: 5}
  outputs:
    query:
      rows:
        - {ym: 202403, n_big: 1, bucket: 'small'}
"""
    results = ModelTestRunner(spark).run_yaml(ch_yaml, {ch_model.name: ch_model})
    assert results[0].passed, results[0].failures


def test_yaml_test_partial_outputs_and_execution_time(spark):
    """outputs.partial compares only the columns the expected rows name
    (ref test/definition.py:228-235), per-output partial overrides, and
    vars.execution_time freezes @execution_* (ref definition.py:120)."""
    from sqlmesh_spark.core.model import parse_model_text

    model = parse_model_text(
        "MODEL (name demo.partial_m, kind FULL);\n"
        "SELECT id, val * 2 AS doubled, UPPER(tag) AS tag_up,\n"
        "       @execution_ds AS exec_day\n"
        "FROM src.p_rows"
    )
    yaml_text = """
test_partial:
  model: demo.partial_m
  vars:
    execution_time: 2024-06-15
  inputs:
    src.p_rows:
      rows:
        - {id: 1, val: 10, tag: 'a'}
        - {id: 2, val: 20, tag: 'b'}
  outputs:
    partial: true
    query:
      rows:
        - {id: 1, doubled: 20, exec_day: '2024-06-15'}
        - {id: 2, doubled: 40, exec_day: '2024-06-15'}
"""
    results = ModelTestRunner(spark).run_yaml(yaml_text, {model.name: model})
    assert results[0].passed, results[0].failures

    # without partial, the missing tag_up column must FAIL the test
    strict = yaml_text.replace("    partial: true\n", "")
    results = ModelTestRunner(spark).run_yaml(strict, {model.name: model})
    assert not results[0].passed


def test_yaml_test_input_shapes(spark, tmp_path):
    """Reference input shapes (test/definition.py:461-512): bare-list
    rows, SQL `query:` fixtures in the test dialect, inline CSV, and a
    yaml `path` file."""
    from sqlmesh_spark.core.model import parse_model_text

    model = parse_model_text(
        "MODEL (name demo.shapes_m, kind FULL);\n"
        "SELECT a.id AS id, a.v + b.v AS total\n"
        "FROM src.a_rows AS a JOIN src.b_rows AS b ON a.id = b.id"
    )
    yml = tmp_path / "rows.yaml"
    yml.write_text("rows:\n  - {id: 1, v: 10}\n  - {id: 2, v: 20}\n")
    spec = {
        "test_shapes": {
            "model": "demo.shapes_m",
            "inputs": {
                # yaml path file
                "src.a_rows": {"path": str(yml)},
                # bare-list shorthand
                "src.b_rows": [{"id": 1, "v": 1}, {"id": 2, "v": 2}],
            },
            "outputs": {
                "query": {"rows": [
                    {"id": 1, "total": 11}, {"id": 2, "total": 22},
                ]},
            },
        }
    }
    results = ModelTestRunner(spark).run_spec(spec, {model.name: model})
    assert results[0].passed, results[0].failures

    # SQL fixture in the model's dialect + inline CSV
    ddb_model = parse_model_text(
        "MODEL (name demo.shapes_q, kind FULL, dialect duckdb);\n"
        "SELECT a.id AS id, a.v + b.v AS total\n"
        "FROM src.qa AS a JOIN src.qb AS b ON a.id = b.id"
    )
    spec2 = {
        "test_shapes_q": {
            "model": "demo.shapes_q",
            "inputs": {
                # duckdb-dialect fixture query (// integer division)
                "src.qa": {"query": "SELECT 1 AS id, 21 // 2 AS v"},
                "src.qb": {
                    "format": "csv",
                    "rows": "id,v\n1,5\n",
                },
            },
            "outputs": {"query": {"rows": [{"id": 1, "total": 15}]}},
        }
    }
    results = ModelTestRunner(spark).run_spec(spec2, {ddb_model.name: ddb_model})
    assert results[0].passed, results[0].failures


def test_yaml_test_partial_validation_and_input_conflicts(spark, tmp_path):
    """Fifth review pass: a typo'd partial column FAILS (never a silent
    null-vs-null pass), ragged expected rows assert NULL for omitted
    columns, and conflicting input keys error with the right names."""
    from sqlmesh_spark.core.model import parse_model_text

    model = parse_model_text(
        "MODEL (name demo.pv_m, kind FULL);\n"
        "SELECT id, note FROM src.pv_rows"
    )
    base_inputs = {
        "src.pv_rows": {"rows": [
            {"id": 1, "note": "x"}, {"id": 2, "note": None},
        ]},
    }
    # typo'd column under partial → explicit failure
    spec = {"t": {"model": "demo.pv_m", "inputs": base_inputs, "outputs": {
        "partial": True,
        "query": {"rows": [{"id": 1, "nonexistent_col": None},
                           {"id": 2, "nonexistent_col": None}]},
    }}}
    res = ModelTestRunner(spark).run_spec(spec, {model.name: model})[0]
    assert not res.passed and "unknown column" in res.failures[0]

    # ragged rows: omitting a NULL column passes (pandas-normalization
    # semantics of the reference)
    spec = {"t": {"model": "demo.pv_m", "inputs": base_inputs, "outputs": {
        "partial": True,
        "query": {"rows": [{"id": 1, "note": "x"}, {"id": 2}]},
    }}}
    res = ModelTestRunner(spark).run_spec(spec, {model.name: model})[0]
    assert res.passed, res.failures

    # input conflicts / malformed csv report framework errors
    for bad_input, needle in [
        ({"format": "csv"}, "csv input"),
        ({"query": "SELECT 1 AS id, 'x' AS note", "rows": []}, "cannot combine"),
        ({"path": str(tmp_path / "r.yaml"), "rows": [{"id": 1}]}, "cannot set both"),
        ({"format": "csv", "path": str(tmp_path / "r.csv"),
          "rows": "id\n1\n"}, "cannot set both"),
    ]:
        spec = {"t": {"model": "demo.pv_m",
                      "inputs": {"src.pv_rows": bad_input},
                      "outputs": {"query": {"rows": []}}}}
        res = ModelTestRunner(spark).run_spec(spec, {model.name: model})[0]
        assert not res.passed and needle in res.failures[0], (bad_input, res.failures)

    # execution_time accepts ISO-8601 with T separator
    iso_model = parse_model_text(
        "MODEL (name demo.pv_iso, kind FULL);\n"
        "SELECT @execution_ds AS d FROM src.pv_rows"
    )
    spec = {"t": {"model": "demo.pv_iso",
                  "vars": {"execution_time": "2024-06-15T12:30:00+00:00"},
                  "inputs": {"src.pv_rows": [{"id": 1}]},
                  "outputs": {"query": {"rows": [{"d": "2024-06-15"}]}}}}
    res = ModelTestRunner(spark).run_spec(spec, {iso_model.name: iso_model})[0]
    assert res.passed, res.failures


def test_yaml_dialect_key_trino_clickhouse_grammars(spark):
    """Round-6 directive: the YAML `dialect:` key routes FIXTURE query SQL
    through each dialect's DEDICATED grammar, not just the function maps —
    ClickHouse `#` line comments and backslash-escaped string literals,
    Trino standard ''-doubled literals + plain-string split semantics
    (reference test/runner.py:43-77 runs tests in the declared dialect)."""
    from sqlmesh_spark.core.model import parse_model_text

    ch_model = parse_model_text(
        "MODEL (name demo.ch_g, kind FULL, dialect clickhouse);\n"
        "SELECT k, upper(s) AS u FROM src.ch_g_rows"
    )
    # the fixture query itself is ClickHouse SQL: a `#` comment (CH-only
    # grammar) and a backslash-escaped quote inside a literal
    ch_yaml = """
test_ch_g:
  model: demo.ch_g
  dialect: clickhouse
  inputs:
    src.ch_g_rows:
      query: |
        SELECT 1 AS k, 'a|b\\'c|d' AS s  # CH line comment
  outputs:
    query:
      rows:
        - {k: 1, u: "A|B'C|D"}
"""
    results = ModelTestRunner(spark).run_yaml(ch_yaml, {ch_model.name: ch_model})
    assert results[0].passed, results[0].failures

    tr_model = parse_model_text(
        "MODEL (name demo.tr_g, kind FULL, dialect trino);\n"
        "SELECT k, cardinality(split(s, '.')) AS n_parts\n"
        "FROM src.tr_g_rows"
    )
    # trino fixture: standard ''-doubled quote literal; split's plain
    # '.' separator must be regex-escaped by the trino pipeline
    tr_yaml = """
test_tr_g:
  model: demo.tr_g
  dialect: trino
  inputs:
    src.tr_g_rows:
      query: |
        SELECT 1 AS k, 'it''s.a.b' AS s
  outputs:
    query:
      rows:
        - {k: 1, n_parts: 3}
"""
    results = ModelTestRunner(spark).run_yaml(tr_yaml, {tr_model.name: tr_model})
    assert results[0].passed, results[0].failures


def test_from_first_model_query_round11():
    """A duck FROM-first model body (FROM t SELECT ...) is the QUERY,
    not a pre-statement — the SELECT/WITH-only recognition previously
    left the query empty (PARSE_EMPTY_STATEMENT through plan/apply).
    VALUES and TABLE statements count as queries too."""
    from sqlmesh_spark.core.model import parse_model_text

    m = parse_model_text(
        "MODEL (name d.m, kind FULL, dialect duckdb);\n"
        "FROM t SELECT a WHERE a > 1"
    )
    assert m.query.startswith("FROM t")
    assert not m.pre_statements
    m2 = parse_model_text(
        "MODEL (name d.v, kind FULL, dialect duckdb);\n"
        "VALUES (1, 'a'), (2, 'b')"
    )
    assert m2.query.startswith("VALUES")


def test_env_view_hides_only_the_managed_partition_columns(spark, tmp_path):
    """An environment view hides exactly the engine-managed columns its
    table's layout partitions on: a model's own `_`-prefixed columns stay
    visible, also when every column of the model starts with `_`."""
    from sqlmesh_spark.core.context import Context

    for db in ("sqlmesh__uv", "env_uv_views"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    ctx = Context(spark, state_dir=str(tmp_path / "state"))
    ctx.add_model("MODEL (name uv.mixed, kind FULL);\nSELECT 1 AS _row_id, 2 AS y")
    ctx.add_model("MODEL (name uv.hidden_only, kind FULL);\nSELECT 1 AS _a, 2 AS _b")
    ctx.add_model(
        "MODEL (name uv.daily, kind INCREMENTAL_BY_TIME_RANGE (time_column ts));\n"
        "SELECT CAST(@start_ts AS TIMESTAMP) AS ts, 1 AS _n"
    )
    ctx.run(environment="env_uv", start="1995-01-01", end="1995-01-02")
    views = {v: spark.table(f"env_uv_views.{v}").columns for v in ("mixed", "hidden_only", "daily")}
    assert views == {"mixed": ["_row_id", "y"], "hidden_only": ["_a", "_b"], "daily": ["ts", "_n"]}
    for db in ("sqlmesh__uv", "env_uv_views"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_models_sharing_an_env_view_are_refused_at_plan_time(spark, tmp_path):
    """raw.orders and sales.orders would both promote to
    <env>_views.orders: the plan names both and nothing is written."""
    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.plan import PlanError

    for db in ("sqlmesh__raw", "sqlmesh__sales", "env_dup_views"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    ctx = Context(spark, state_dir=str(tmp_path / "state"))
    ctx.add_model("MODEL (name raw.orders, kind FULL);\nSELECT 1 AS id")
    ctx.add_model("MODEL (name sales.orders, kind FULL);\nSELECT id FROM raw.orders")
    with pytest.raises(PlanError, match="raw.orders and sales.orders"):
        ctx.run(environment="env_dup", start="1995-01-01", end="1995-01-02")
    assert not any(
        spark.catalog.databaseExists(db)
        for db in ("sqlmesh__raw", "sqlmesh__sales", "env_dup_views")
    )
    assert not ctx.state.get_environment("env_dup")


def test_whole_table_rewrites_leave_no_staging_table(spark, tmp_path):
    """Every whole-table rewrite stages to a `<table>__sqlmesh_tmp_<hex>`
    table and renames it over the target; a second run rebuilds a FULL
    model, merges into an unpartitioned unique-key model and replaces an
    SCD2 table, a WAP branch is published, and no staging table is left
    in the catalog."""
    from sqlmesh_spark.adapter import SparkAdapter
    from sqlmesh_spark.core.context import Context
    from sqlmesh_spark.core.plan import build_snapshots

    schemas = ("sqlmesh__tmpchk", "env_tmpchk_views")
    for db in schemas:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    ctx = Context(spark, state_dir=str(tmp_path / "state"))
    ctx.add_model("MODEL (name tmpchk.full, kind FULL);\nSELECT 1 AS id, @end_ds AS v")
    ctx.add_model(
        "MODEL (name tmpchk.keyed, kind INCREMENTAL_BY_UNIQUE_KEY (unique_key id));\n"
        "SELECT 1 AS id, @end_ds AS v"
    )
    ctx.add_model(
        "MODEL (name tmpchk.dim, kind SCD_TYPE_2_BY_TIME (unique_key id));\n"
        "SELECT 1 AS id, @end_ds AS v, CAST(@end_ds AS TIMESTAMP) AS updated_at"
    )
    for end in ("1995-01-02", "1995-01-03"):
        ctx.run(environment="env_tmpchk", start="1995-01-01", end=end)
    snaps = build_snapshots(ctx.models)
    assert {r.v for r in spark.table(snaps["tmpchk.full"].table_name).collect()} == {"1995-01-03"}
    assert spark.table(snaps["tmpchk.dim"].table_name).count() == 2
    adapter = SparkAdapter(spark)
    keyed = snaps["tmpchk.keyed"].table_name
    staging = adapter.wap_prepare(keyed)
    adapter.insert_append(staging, spark.createDataFrame([(2, "x")], "id int, v string"))
    adapter.wap_publish(keyed, staging)
    assert spark.table(keyed).count() == 2
    leaked = [
        f"{db}.{t.name}"
        for db in schemas
        for t in spark.catalog.listTables(db)
        if "__sqlmesh_tmp_" in t.name
    ]
    assert not leaked
    for db in schemas:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
