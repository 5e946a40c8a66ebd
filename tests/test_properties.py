"""Property-based tests (hypothesis) for the engine's pure-math cores:
interval arithmetic and SCD2 invariants."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings, strategies as st

from sqlmesh_spark.core.snapshot import (
    DAY,
    batch_intervals,
    merge_intervals,
    missing_intervals,
)

days = st.integers(min_value=0, max_value=60)


@st.composite
def interval_sets(draw):
    n = draw(st.integers(min_value=0, max_value=6))
    out = []
    for _ in range(n):
        s = draw(days)
        e = draw(st.integers(min_value=s + 1, max_value=s + 10))
        out.append((s * DAY, e * DAY))
    return out


@given(interval_sets())
def test_merge_intervals_is_canonical(ivs):
    merged = merge_intervals(ivs)
    # sorted, non-overlapping, non-adjacent
    for (s1, e1), (s2, e2) in zip(merged, merged[1:]):
        assert e1 < s2
    # same coverage
    covered = set()
    for s, e in ivs:
        covered.update(range(s // DAY, e // DAY))
    covered2 = set()
    for s, e in merged:
        covered2.update(range(s // DAY, e // DAY))
    assert covered == covered2


@given(interval_sets(), days, st.integers(min_value=1, max_value=30))
def test_missing_plus_processed_covers_window(processed, start_day, span):
    start, end = start_day * DAY, (start_day + span) * DAY
    missing = missing_intervals(start, end, processed)
    # 1) chunks are unit-aligned, within window, disjoint
    seen = set()
    for s, e in missing:
        assert s % DAY == 0 and e - s == DAY
        assert start <= s < end
        assert s not in seen
        seen.add(s)
    # 2) processed ∪ missing ⊇ window; missing ∩ processed = ∅
    processed_days = set()
    for s, e in merge_intervals(processed):
        processed_days.update(range(s // DAY, e // DAY))
    window_days = set(range(start // DAY, end // DAY))
    missing_days = {s // DAY for s, _ in missing}
    assert missing_days == window_days - processed_days


@given(interval_sets(), st.integers(min_value=1, max_value=5))
def test_batches_preserve_chunks_exactly(processed, batch_size):
    missing = missing_intervals(0, 40 * DAY, processed)
    batches = batch_intervals(missing, batch_size)
    # batches are contiguous runs whose union equals the chunks
    rebuilt = []
    for s, e in batches:
        assert (e - s) // DAY <= batch_size
        t = s
        while t < e:
            rebuilt.append((t, t + DAY))
            t += DAY
    assert rebuilt == missing


# --- SCD2 invariants over random change histories ---------------------------

ids = st.integers(min_value=1, max_value=6)
statuses = st.sampled_from(["a", "b", "c"])


@st.composite
def snapshots_history(draw):
    """2-4 successive source snapshots: {id: status} maps."""
    n = draw(st.integers(min_value=2, max_value=4))
    return [
        draw(st.dictionaries(ids, statuses, min_size=0, max_size=5)) for _ in range(n)
    ]


@settings(max_examples=10, deadline=None)
@given(snapshots_history())
def test_scd2_invariants(spark_global, history):
    """After any change history: per key ≤1 open row, closed rows have
    valid_from <= valid_to, and the open row reflects the latest snapshot."""
    from sqlmesh_spark.operators.scd2 import empty_target_sql, scd_type_2_query

    spark = spark_global
    common = dict(unique_key=("id",), columns=("id", "status"), check_columns=("status",))
    target = empty_target_sql(
        ("id", "status", "valid_from", "valid_to"),
        ("INT", "STRING", "TIMESTAMP", "TIMESTAMP"),
    )
    state_sql = None
    for step, snap in enumerate(history):
        rows = [(k, v) for k, v in snap.items()]
        df = (
            spark.createDataFrame(rows, "id int, status string")
            if rows
            else spark.createDataFrame([], "id int, status string")
        )
        df.createOrReplaceTempView(f"prop_src_{step}")
        q = scd_type_2_query(
            target_sql=state_sql or target,
            source_sql=f"SELECT * FROM prop_src_{step}",
            execution_ts=f"2024-0{step + 1}-15 00:00:00",
            truncate=(step == 0),
            **common,
        )
        spark.sql(q).createOrReplaceTempView(f"prop_state_{step}")
        state_sql = f"SELECT * FROM prop_state_{step}"

    final = spark.sql(state_sql).collect()
    open_by_key: dict[int, list] = {}
    for r in final:
        if r.valid_to is None:
            open_by_key.setdefault(r.id, []).append(r)
        else:
            assert r.valid_from is None or r.valid_from <= r.valid_to
    for key, rows in open_by_key.items():
        assert len(rows) == 1, f"key {key} has {len(rows)} open rows"
    last = history[-1]
    # Every key present in the last snapshot has exactly one open row with
    # its latest status; absent keys have none.
    for k, v in last.items():
        assert k in open_by_key and open_by_key[k][0].status == v
    for k in open_by_key:
        assert k in last


# --- MinHash wide (array) formulation == narrow (explode) formulation -------

doc_texts = st.text(
    alphabet=st.sampled_from("ab c"),  # tiny alphabet → heavy shingle overlap
    min_size=1,
    max_size=40,
)


@settings(max_examples=8, deadline=None)
@given(st.lists(doc_texts, min_size=1, max_size=6))
def test_minhash_wide_matches_narrow(spark_global, texts):
    """The single-shuffle wide formulation (COLLECT_SET + ARRAY_MIN
    signatures + ARRAY_INTERSECT verify) must emit exactly the pairs the
    narrow explode-based formulation emits — including duplicate texts,
    texts shorter than the shingle width, and whitespace-only docs."""
    from sqlmesh_spark.llm.dedup import (
        docset_sql,
        minhash_bands_sql,
        minhash_lsh_sql,
        minhash_lsh_wide_sql,
    )

    spark = spark_global
    rows = [(i, t) for i, t in enumerate(texts)]
    spark.createDataFrame(rows, "doc_id int, text string").createOrReplaceTempView(
        "prop_docs"
    )
    narrow = {
        (r.d1, r.d2, r.jaccard)
        for r in spark.sql(minhash_lsh_sql("prop_docs", dialect="spark")).collect()
    }
    spark.sql(docset_sql("prop_docs", 5)).createOrReplaceTempView("prop_docsets")
    spark.sql(minhash_bands_sql("prop_docsets")).createOrReplaceTempView("prop_bands")
    wide = {
        (r.d1, r.d2, r.jaccard)
        for r in spark.sql(minhash_lsh_wide_sql("prop_docsets", "prop_bands")).collect()
    }
    assert wide == narrow


@given(
    interval_sets(),
    days,
    st.integers(min_value=1, max_value=30),
    st.integers(min_value=1, max_value=5),
)
def test_lookback_reopens_exactly_the_trailing_horizon(processed, start_day, span, lb):
    """lookback semantics (kind.py:423): relative to the no-lookback run,
    the ONLY extra reprocessed days are the last `lb` units immediately
    behind the processed watermark; nothing before that reopens, and
    nothing outside the requested window appears."""
    start, end = start_day * DAY, (start_day + span) * DAY
    plain = {s // DAY for s, _ in missing_intervals(start, end, processed)}
    with_lb = {s // DAY for s, _ in missing_intervals(start, end, processed, lookback=lb)}
    assert with_lb >= plain
    extra = with_lb - plain
    window_days = set(range(start // DAY, end // DAY))
    assert extra <= window_days
    merged = merge_intervals(processed)
    if not merged:
        assert extra == set()
        return
    watermark_day = merged[-1][1] // DAY
    horizon = set(range(watermark_day - lb, watermark_day))
    # Every extra day sits inside the lookback horizon and was processed.
    processed_days = set()
    for s, e in merged:
        processed_days.update(range(s // DAY, e // DAY))
    assert extra <= horizon & processed_days & window_days
    # And every processed day inside horizon ∩ window is in fact reopened.
    assert (horizon & processed_days & window_days) <= with_lb


_COLS = st.dictionaries(
    st.sampled_from([f"c{i}" for i in range(8)]),
    st.sampled_from(["int", "bigint", "double", "string", "date"]),
    max_size=6,
)


@given(_COLS, _COLS)
def test_schema_differ_statements_reach_target(current, target):
    """SchemaDiffer algebra: simulating its ALTER plan against `current`
    must yield `target`'s columns with every `current` column RETAINED
    (dropped and retyped columns stay on disk at their current type), each
    statement a quoted ADD COLUMN; each 'error' policy must refuse IFF a
    change of its kind exists."""
    import pytest

    from sqlmesh_spark.diff import SchemaChangeRefused, SchemaDiffer

    cur = {c.lower(): t.lower() for c, t in current.items()}
    tgt = {c.lower(): t.lower() for c, t in target.items()}
    differ = SchemaDiffer(on_destructive_change="allow")
    stmts = differ.alter_statements("t", current, target)
    state = dict(cur)
    for s in stmts:
        prefix, col, typ = s.rsplit(" ", 2)
        assert prefix == "ALTER TABLE t ADD COLUMN"
        assert col.startswith("`") and col.endswith("`")
        state[col.strip("`")] = typ
    assert state == {**tgt, **cur}

    deltas = differ.compare(current, target)
    for policy, found in (
        (
            {"on_destructive_change": "error"},
            any(differ.is_destructive(d) for d in deltas),
        ),
        (
            {"on_destructive_change": "allow", "on_additive_change": "error"},
            any(d.op == "add" for d in deltas),
        ),
    ):
        strict = SchemaDiffer(**policy)
        if found:
            with pytest.raises(SchemaChangeRefused):
                strict.alter_statements("t", current, target)
        else:
            assert strict.alter_statements("t", current, target) == stmts


_IDENT = st.from_regex(r"[a-z][a-z0-9_]{0,11}", fullmatch=True)


@st.composite
def model_headers(draw):
    schema = draw(_IDENT)
    name = draw(_IDENT)
    kind = draw(st.sampled_from(["FULL", "VIEW", "INCREMENTAL_BY_TIME_RANGE"]))
    props = [f"name {schema}.{name}"]
    if kind == "INCREMENTAL_BY_TIME_RANGE":
        tcol = draw(_IDENT)
        props.append(f"kind INCREMENTAL_BY_TIME_RANGE (time_column {tcol})")
    else:
        tcol = None
        props.append(f"kind {kind}")
    cron = draw(st.sampled_from(["@daily", "@hourly", "@monthly"]))
    props.append(f"cron '{cron}'")
    lookback = draw(st.integers(min_value=0, max_value=9))
    if lookback:
        props.append(f"lookback {lookback}")
    batch = draw(st.one_of(st.none(), st.integers(min_value=1, max_value=30)))
    if batch is not None:
        props.append(f"batch_size {batch}")
    text = "MODEL (\n  " + ",\n  ".join(props) + "\n);\nSELECT 1 AS one"
    return text, {
        "name": f"{schema}.{name}",
        "kind": kind,
        "cron": cron,
        "lookback": lookback,
        "batch_size": batch,
        "time_column": tcol,
    }


@given(model_headers())
def test_model_header_roundtrip(case):
    """The MODEL(...) DSL parser (dialect.py:123-150 semantics) must
    recover every property exactly, independent of property order,
    whitespace, and optional fields."""
    from sqlmesh_spark.core.model import parse_model_text

    text, expect = case
    m = parse_model_text(text)
    assert m.name == expect["name"]
    assert m.kind.value == expect["kind"]
    assert m.cron == expect["cron"]
    assert m.lookback == expect["lookback"]
    assert m.batch_size == expect["batch_size"]
    assert m.time_column == expect["time_column"]
    assert m.query.strip() == "SELECT 1 AS one"


@given(
    start=st.datetimes(
        min_value=dt.datetime(2020, 1, 1), max_value=dt.datetime(2025, 12, 31)
    ),
    span_months=st.integers(min_value=1, max_value=18),
)
@settings(max_examples=60, deadline=None)
def test_monthly_chunks_are_calendar_aligned(start, span_months):
    """MONTH chunks: disjoint, contiguous, every boundary is the 1st at
    midnight, the window [start, end) is covered, and Feb/leap-year widths
    are the true calendar widths (what epoch-modular flooring gets wrong)."""
    from sqlmesh_spark.core.snapshot import MONTH, missing_intervals, to_epoch

    y = start.year + (start.month - 1 + span_months) // 12
    m = (start.month - 1 + span_months) % 12 + 1
    end = start.replace(year=y, month=m, day=1, hour=0, minute=0, second=0)
    s_ep = to_epoch(start.replace(microsecond=0).strftime("%Y-%m-%d %H:%M:%S"))
    e_ep = to_epoch(end.strftime("%Y-%m-%d %H:%M:%S"))
    chunks = missing_intervals(s_ep, e_ep, unit=MONTH)
    assert chunks[0][0] <= s_ep and chunks[-1][1] >= e_ep
    for (s1, e1), (s2, _) in zip(chunks, chunks[1:]):
        assert e1 == s2  # contiguous, disjoint
    for s, e in chunks:
        d = dt.datetime.fromtimestamp(s, dt.timezone.utc)
        assert (d.day, d.hour, d.minute, d.second) == (1, 0, 0, 0)
        nxt = dt.datetime.fromtimestamp(e, dt.timezone.utc)
        width_days = (nxt - d).days
        assert 28 <= width_days <= 31


@given(interval_sets(), days, st.integers(min_value=1, max_value=30),
       st.integers(min_value=0, max_value=86399))
def test_missing_intervals_partial_tail_law(processed, start_day, span, tail_secs):
    """Completed-intervals law (model/meta.py:110): with a mid-unit end,
    the default EXCLUDES the partial tail (all chunks end on/before the
    floor) and allow_partials includes exactly one extra chunk ending at
    the raw end — never beyond it, never overlapping."""
    start = start_day * DAY
    end = (start_day + span) * DAY + tail_secs
    floor_end = end - (end % DAY)
    strict = missing_intervals(start, end, processed)
    assert all(e <= floor_end for _, e in strict)
    partial = missing_intervals(start, end, processed, allow_partials=True)
    assert all(e <= end for _, e in partial)
    if tail_secs and floor_end >= start:
        covered = any(s <= floor_end < e for s, e in merge_intervals(processed))
        has_tail = any(e == end for _, e in partial)
        assert has_tail != covered or not has_tail
    # Chunks in both modes are disjoint and sorted.
    for chunks in (strict, partial):
        for (s1, e1), (s2, e2) in zip(chunks, chunks[1:]):
            assert e1 <= s2


# ---------------------------------------------------------------------------
# sqlparse robustness: every model query goes through the tokenizer/scope
# walk at load time, so the ONLY exception it may ever raise is
# SqlParseError (callers fall back to regex on that; anything else would
# crash project loading).
# ---------------------------------------------------------------------------

_sql_atoms = st.sampled_from([
    "SELECT", "FROM", "WHERE", "JOIN", "ON", "GROUP", "BY", "WITH", "AS",
    "UNION", "ALL", "(", ")", ",", ".", "*", "=", "<", "'lit'", "1", "a",
    "b", "t1", "sch", "x", "--c\n", "/*c*/", "@m", "CASE", "END", "->",
    ";", "`q`", '"d"', "0L", "1.5e3",
])


@given(st.lists(_sql_atoms, min_size=0, max_size=30))
@settings(max_examples=300, deadline=None)
def test_parser_only_raises_sqlparse_error(parts):
    from sqlmesh_spark.core.sqlparse import SqlParseError, parse_query

    try:
        parse_query(" ".join(parts))
    except SqlParseError:
        pass  # the contracted failure mode


@given(st.text(max_size=120))
@settings(max_examples=300, deadline=None)
def test_depends_on_total_on_arbitrary_text(text):
    """extract_depends_on must be TOTAL: any text (valid SQL, macro soup,
    binary noise) yields a frozenset, never an exception."""
    from sqlmesh_spark.core.model import extract_depends_on

    deps = extract_depends_on(text, known_models={"demo.daily"})
    assert isinstance(deps, frozenset)


@given(st.text(max_size=120))
@settings(max_examples=200, deadline=None)
def test_fingerprint_normalization_total(text):
    """_normalize_sql (canonical-token fingerprint text) must accept any
    input — unlexable text falls back to regex normalization."""
    from sqlmesh_spark.core.snapshot import _normalize_sql

    assert isinstance(_normalize_sql(text), str)


@given(
    st.lists(
        st.sampled_from(["a", "b", "c", "revenue", "ds"]), min_size=1, max_size=4, unique=True
    ),
    st.sampled_from(["t1", "sch.t2", "ext.orders"]),
)
@settings(max_examples=100, deadline=None)
def test_lineage_of_simple_projection_is_exact(cols, table):
    """For a plain projection every output column's lineage is exactly its
    own (table, column) pair."""
    from sqlmesh_spark.core.sqlparse import query_lineage

    sql = f"SELECT {', '.join(cols)} FROM {table}"
    lin = query_lineage(sql)
    for c in cols:
        assert lin[c] == {(table, c)}


# ---------------------------------------------------------------------------
# Literal round-trip property for the escape-literal dialects (r5:
# clickhouse joined snowflake/bigquery/redshift/mysql): character content
# decoded per the READ grammar and re-emitted as a Spark literal must
# survive byte-identically when Spark evaluates it.
# ---------------------------------------------------------------------------

_lit_chars = st.text(
    alphabet=st.characters(
        codec="utf-8",
        # exclude lone surrogates; controls are in via explicit escapes
        categories=("L", "N", "P", "S", "Z"),
    ),
    max_size=24,
)


@given(_lit_chars)
@settings(max_examples=60, deadline=None)
def test_clickhouse_literal_roundtrip_through_spark(spark_global, content):
    from sqlmesh_spark.core.transpile import (
        _literal_content,
        _spark_string_literal,
    )

    lit = _spark_string_literal(content, "clickhouse")
    # the emitted literal must re-lex under the CH grammar to the same
    # content (fixpoint passes re-read our own output)...
    assert _literal_content(lit, "clickhouse") == content
    # ...and Spark must evaluate it to the same content
    got = spark_global.sql(f"SELECT {lit} AS v").collect()[0].v
    assert got == content


@given(_lit_chars)
@settings(max_examples=60, deadline=None)
def test_trino_literal_doubling_through_spark(spark_global, content):
    """Trino literals are standard SQL (backslash ordinary): the
    transpiler's doubling pass must make Spark read back the same
    characters the Trino grammar meant."""
    from sqlmesh_spark.core.transpile import transpile

    trino_lit = "'" + content.replace("'", "''") + "'"
    out = transpile(f"SELECT {trino_lit} AS v", "trino")
    got = spark_global.sql(out).collect()[0].v
    assert got == content
