"""Model definitions + the MODEL(...) DSL parser.

Reference: sqlmesh/core/model/definition.py:99 (_Model and subclasses),
model/kind.py:163-182 (ModelKindName), dialect.py:123-150 (header parse).
The reference parses the header with a SQLGlot dialect extension; with no
sqlglot in this environment the header is parsed with the same quote-aware
balanced-paren machinery the macro engine uses — the grammar is tiny:

    MODEL (
      name db.model_name,
      kind INCREMENTAL_BY_TIME_RANGE (time_column event_ts),
      cron '@daily',
      start '2024-01-01',
      audits (not_null(columns = (x, y)), unique_values(columns = (id,)))
    );
    SELECT ...
"""

from __future__ import annotations

from functools import lru_cache
import re
from dataclasses import dataclass, field
from enum import Enum
from typing import Optional

from sqlmesh_spark.adapter import TableLayout
from sqlmesh_spark.macros import split_top_level


class ModelKind(str, Enum):
    """model/kind.py:163-182 — the materialization strategies we support
    natively on Spark. MANAGED is emulated (no self-refreshing tables in
    OSS Spark — the scheduler performs the engine's refresh); only the
    dbt adapter kind is out of scope."""

    FULL = "FULL"
    MANAGED = "MANAGED"
    VIEW = "VIEW"
    EMBEDDED = "EMBEDDED"
    SEED = "SEED"
    EXTERNAL = "EXTERNAL"
    INCREMENTAL_BY_TIME_RANGE = "INCREMENTAL_BY_TIME_RANGE"
    INCREMENTAL_BY_UNIQUE_KEY = "INCREMENTAL_BY_UNIQUE_KEY"
    INCREMENTAL_BY_PARTITION = "INCREMENTAL_BY_PARTITION"
    INCREMENTAL_UNMANAGED = "INCREMENTAL_UNMANAGED"
    SCD_TYPE_2_BY_TIME = "SCD_TYPE_2_BY_TIME"
    SCD_TYPE_2_BY_COLUMN = "SCD_TYPE_2_BY_COLUMN"
    CUSTOM = "CUSTOM"


@dataclass
class Model:
    name: str
    kind: ModelKind
    query: str  # raw SQL body with @macros / @vars unexpanded
    kind_args: dict[str, str] = field(default_factory=dict)
    cron: str = "@daily"
    start: Optional[str] = None
    partitioned_by: tuple[str, ...] = ()
    # Physical clustering (model/meta.py:94 clustered_by): Spark CLUSTERED
    # BY ... INTO BUCKETS — co-locates joins/aggs on these keys with no
    # exchange (see bucketed_join_colocated). `buckets` defaults to 8 when
    # clustering is requested without an explicit count.
    clustered_by: tuple[str, ...] = ()
    buckets: int = 0
    # model/meta.py:95 storage_format: the physical file format of the
    # snapshot table (parquet default; orc/json/csv ride the same writer).
    storage_format: str = "parquet"
    # meta.py:107 physical_properties → TBLPROPERTIES on the snapshot
    # table; meta.py:109 session_properties → Spark confs set for the
    # duration of this model's evaluation (per-model tuning knobs like
    # spark.sql.shuffle.partitions) and restored afterward.
    physical_properties: dict[str, str] = field(default_factory=dict)
    session_properties: dict[str, str] = field(default_factory=dict)
    # node.py:131 stamp: arbitrary string that forces a new version
    # without any functional change (operator-driven rebuild lever).
    stamp: Optional[str] = None
    # Read dialect of the model's SQL (reference node.py:235 ``dialect``;
    # renderer.py:517 transpiles to the execution dialect at render time).
    # "" means UNDECLARED (model_defaults.dialect may fill it); "spark"
    # renders as-is; "duckdb"/"postgres"/"ansi" route through
    # core/transpile.py after macro expansion.
    dialect: str = ""
    # node.py:280 interval_unit: explicit interval duration overriding the
    # one computed from cron ('day', 'hour', 'half_hour', 'quarter_hour',
    # 'five_minute', 'month', 'year') — e.g. an hourly-cron model whose
    # data is day-grained.
    interval_unit_override: Optional[str] = None
    grain: tuple[str, ...] = ()
    audits: tuple[tuple[str, dict], ...] = ()
    signals: tuple[str, ...] = ()
    depends_on: frozenset[str] = frozenset()
    seed_csv: Optional[str] = None
    columns: dict[str, str] = field(default_factory=dict)
    lookback: int = 0
    batch_size: Optional[int] = None
    # model/meta.py:110 — include the trailing partial interval of a run
    # window instead of waiting for the unit to complete.
    allow_partials: bool = False
    # Metadata-only fields (model/meta.py owner/description/tags): hashed
    # into the METADATA fingerprint in the reference, never the data hash —
    # editing a description must not rebuild a 100 TB table. Mirrored here
    # by keeping them out of fingerprint_model entirely.
    description: Optional[str] = None
    # meta.py:100 column_descriptions: per-column comments, registered on
    # the physical table (ALTER COLUMN ... COMMENT); metadata-only.
    column_descriptions: dict[str, str] = field(default_factory=dict)
    owner: Optional[str] = None
    tags: tuple[str, ...] = ()
    # Blueprint-bound variables (definition.py:2035 _extract_blueprint_
    # variables): available to @VAR/@BLUEPRINT_VAR at render time.
    variables: dict[str, str] = field(default_factory=dict)
    # Statements around the query (definition.py:156-158): pre run before
    # each evaluation, post after it, on_virtual_update after the env view
    # swap (rendered with @this_model bound to the view).
    pre_statements: tuple[str, ...] = ()
    post_statements: tuple[str, ...] = ()
    on_virtual_update: tuple[str, ...] = ()
    # Explicitly declared dependencies (meta.py depends_on): unioned with
    # query-extracted references and preserved across re-resolution —
    # covers refs the scanner can't see (macro-built names, dynamic SQL).
    declared_depends_on: frozenset[str] = frozenset()
    # Change policies for forward-only migrations (model/kind.py:195-226
    # on_destructive_change / on_additive_change): error | warn | allow.
    on_destructive_change: str = "error"
    on_additive_change: str = "allow"
    # Python models (model/definition.py:1876): evaluated by calling this
    # instead of rendering `query` (which then only carries the code hash).
    python_fn: Optional[object] = None

    @property
    def schema_name(self) -> str:
        return self.name.rsplit(".", 1)[0] if "." in self.name else "default"

    @property
    def view_name(self) -> str:
        return self.name.rsplit(".", 1)[-1]

    @property
    def time_column(self) -> Optional[str]:
        return self.kind_args.get("time_column")

    @property
    def unique_key(self) -> tuple[str, ...]:
        raw = self.kind_args.get("unique_key", "")
        return tuple(k.strip() for k in raw.split(",") if k.strip())

    @property
    def partition_by_current(self) -> bool:
        """SCD2 opt-in to the copy-on-write tail: the table partitions on
        the engine-managed ``_is_current`` flag (backends.py
        scd2_apply_cow)."""
        return self.kind_args.get("partition_by_current", "").lower() in ("true", "1")

    @property
    def partition_by_time(self) -> bool:
        """kind.py:471 partition_by_time_column (default true): a time-range
        table partitions on a derived day column, so interval overwrites
        prune to the touched partitions. False keeps it unpartitioned, and
        interval overwrites take the adapter's DELETE_INSERT fallback
        (for models partitioned by something else entirely)."""
        flag = self.kind_args.get("partition_by_time_column", "true")
        return flag.strip("'\"").lower() != "false"

    @property
    def layout(self) -> TableLayout:
        """The physical table a snapshot of this model owns — the one
        place it is decided (evaluator.py:677 create stage →
        engine_adapter/base.py:619 create_table): engine-managed columns,
        partitions, buckets and storage format. A time-range table
        partitions on the derived day ``_ds`` (or on nothing, see
        partition_by_time); an SCD2 table carries its validity columns and
        partitions on ``_is_current`` under partition_by_current; every
        other kind partitions as declared."""
        managed: dict[str, str] = {}
        partitioned_by = self.partitioned_by
        if self.kind == ModelKind.INCREMENTAL_BY_TIME_RANGE:
            partitioned_by = ()
            if self.partition_by_time:
                managed["_ds"] = "string"
                partitioned_by = ("_ds",)
        elif self.kind in (ModelKind.SCD_TYPE_2_BY_TIME, ModelKind.SCD_TYPE_2_BY_COLUMN):
            managed = {"valid_from": "timestamp", "valid_to": "timestamp"}
            if self.partition_by_current:
                managed["_is_current"] = "int"
                partitioned_by = ("_is_current",)
        return TableLayout(
            partitioned_by=partitioned_by,
            clustered_by=self.clustered_by,
            buckets=self.buckets,
            storage_format=self.storage_format,
            managed_columns=managed,
        )


_MODEL_RE = re.compile(r"\bMODEL\s*\(", re.IGNORECASE)


def _find_close(text: str, open_idx: int) -> int:
    depth, i, n = 0, open_idx, len(text)
    while i < n:
        c = text[i]
        if c == "'":
            i += 1
            while i < n and text[i] != "'":
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    raise ValueError("unbalanced MODEL(...) header")


def _parse_props(body: str) -> dict[str, str]:
    props = {}
    for part in split_top_level(body):
        if not part:
            continue
        m = re.match(r"([A-Za-z_][A-Za-z0-9_]*)\s*(.*)", part, re.DOTALL)
        if not m:
            raise ValueError(f"unparseable MODEL property: {part!r}")
        props[m.group(1).lower()] = m.group(2).strip()
    return props


def _unquote(s: str) -> str:
    s = s.strip()
    if len(s) >= 2 and s[0] == "'" and s[-1] == "'":
        return s[1:-1]
    return s


def _parse_tuple(s: str) -> tuple[str, ...]:
    s = s.strip()
    if s.startswith("(") and s.endswith(")"):
        s = s[1:-1]
    return tuple(x.strip() for x in split_top_level(s) if x.strip())


def _parse_audits(s: str) -> tuple[tuple[str, dict], ...]:
    """audits (not_null(columns = (a, b)), number_of_rows(threshold = 10))"""
    out = []
    for call in _parse_tuple(s):
        m = re.match(r"([A-Za-z_][A-Za-z0-9_]*)\s*(\((.*)\))?\s*$", call, re.DOTALL)
        if not m:
            raise ValueError(f"unparseable audit: {call!r}")
        name, args = m.group(1).lower(), {}
        if m.group(3):
            for kv in split_top_level(m.group(3)):
                k, _, v = kv.partition("=")
                v = v.strip().lstrip(":").strip()  # allow := and =
                k = k.strip().rstrip(":").strip()
                if v.startswith("("):
                    args[k] = list(_parse_tuple(v))
                else:
                    # Keep the RAW token (quotes intact): downstream binding
                    # must distinguish a string literal ('foo') from a bare
                    # identifier (some_col) — a column reference in custom
                    # audit args. Builtin audits unquote at call time.
                    args[k] = v
        out.append((name, args))
    return tuple(out)


# Table references for depends_on extraction (dialect.py:1270 find_tables).
# Primary path: the tokenizer/scope walk in core/sqlparse.py — CTE names
# shadow models, string literals and comments never match, and nested
# subqueries resolve in their own scope. The regexes remain only as the
# fallback for macro-heavy text the structural parse rejects.
_TABLE_REF_RE = re.compile(
    r"\b(?:FROM|JOIN)\s+([A-Za-z_][\w]*(?:\.[A-Za-z_][\w]*)+)", re.IGNORECASE
)
_DOTTED_RE = re.compile(r"\b([A-Za-z_][\w]*\.[A-Za-z_][\w]*)\b")


@lru_cache(maxsize=4096)
def _dep_candidates(
    query: str, dialect: str
) -> tuple[frozenset[str], frozenset[str]]:
    """The lex half of extract_depends_on, memoized: the table scan and
    dotted-name scan depend only on (query, dialect), never on the known
    model set — but Context.add_model must re-resolve EVERY model's
    depends_on after each add (an earlier model may reference a
    later-added one), which made project loading O(N²) full re-lexes
    (72 s build at a 1,000-model DAG, tools/scale_orchestration.py).
    Memoizing the pure lex leaves only the cheap membership filter in
    the quadratic loop. Strings are immutable; lru_cache bounds memory."""
    from sqlmesh_spark.core.sqlparse import SqlParseError, dotted_names, find_tables

    try:
        # Keep only dotted externals: model references are schema-qualified
        # in this engine, and bare names (registered temp views, seeds) are
        # caught by the known_models membership scan below. The model's
        # read dialect selects literal lexing — snowflake/bigquery
        # backslash-escaped quotes would otherwise drop this to the lossy
        # regex fallback, which scans literals and comments too.
        deps = frozenset(t for t in find_tables(query, dialect) if "." in t)
        dotted = frozenset(dotted_names(query, dialect))
    except SqlParseError:
        deps = frozenset(m.group(1).lower() for m in _TABLE_REF_RE.finditer(query))
        dotted = frozenset(m.group(1).lower() for m in _DOTTED_RE.finditer(query))
    return deps, dotted


def extract_depends_on(
    query: str,
    known_models: Optional[set[str]] = None,
    dialect: str = "",
) -> frozenset[str]:
    deps, dotted = _dep_candidates(query, dialect)
    if known_models is not None:
        # Any dotted name that IS a model counts (covers macro-wrapped refs).
        return frozenset(deps | {d for d in dotted if d in known_models})
    return deps


def _parse_blueprints(raw: str) -> list[dict[str, str]]:
    """blueprints ((customer = c1, tier = gold), (customer = c2)) →
    one variable mapping per blueprint (definition.py:2019-2050)."""
    out: list[dict[str, str]] = []
    for entry in _parse_tuple(raw):
        mapping: dict[str, str] = {}
        body = entry[1:-1] if entry.startswith("(") and entry.endswith(")") else entry
        for kv in split_top_level(body):
            k, sep, v = kv.partition("=")
            if not sep:
                raise ValueError(f"blueprint entries need key = value, got {kv!r}")
            mapping[k.strip().rstrip(":").strip().lower()] = _unquote(v.strip())
        out.append(mapping)
    return out


def _parse_kv_props(raw: str) -> dict[str, str]:
    """physical_properties ('key' = 'value', other = 3) → {key: value}.
    Keys/values unquote; bare tokens pass through as written."""
    out: dict[str, str] = {}
    for kv in _parse_tuple(raw):
        k, sep, v = kv.partition("=")
        if not sep:
            raise ValueError(f"properties need key = value, got {kv!r}")
        out[_unquote(k.strip())] = _unquote(v.strip())
    return out


_CURLY_VAR_RE = re.compile(r"@\{([A-Za-z_][A-Za-z0-9_]*)\}")


def parse_model_text_all(text: str) -> list[Model]:
    """Blueprint expansion (definition.py:2054 create_models_from_
    blueprints): a MODEL header with ``blueprints`` yields ONE model per
    variable mapping — ``@{var}`` interpolates everywhere (name included),
    and the mapping is bound for @VAR/@BLUEPRINT_VAR at render time."""
    props, open_idx, close_idx = _parse_header(text)
    if "blueprints" not in props:
        return [parse_model_text(text)]
    bp_raw = props["blueprints"]
    # Drop the blueprints property from the header before re-parsing.
    header = text[open_idx + 1 : close_idx]
    parts = [
        p for p in split_top_level(header) if not p.lower().startswith("blueprints")
    ]
    stripped = text[: open_idx + 1] + ", ".join(parts) + text[close_idx:]
    models = []
    for mapping in _parse_blueprints(bp_raw):
        expanded = _CURLY_VAR_RE.sub(
            lambda mm: mapping.get(mm.group(1).lower(), mm.group(0)), stripped
        )
        model = parse_model_text(expanded)
        model.variables = dict(mapping)
        models.append(model)
    return models


def _split_statements(body: str) -> tuple[tuple[str, ...], str, tuple[str, ...], tuple[str, ...]]:
    """Split the post-header body into (pre_statements, query,
    post_statements, on_virtual_update) — definition.py:156-158 and the
    ON_VIRTUAL_UPDATE_BEGIN/END block (:158). The query is the first
    SELECT/WITH statement. Jinja-marked bodies are left whole (their
    semicolons belong to the embedded template)."""
    if re.search(r"JINJA_QUERY_BEGIN", body, re.IGNORECASE):
        return (), body.strip().rstrip(";"), (), ()
    stmts = [s for s in split_top_level(body, ";") if s]
    pre: list[str] = []
    post: list[str] = []
    virtual: list[str] = []
    query = None
    in_virtual = False
    for s in stmts:
        upper = s.upper()
        if upper == "ON_VIRTUAL_UPDATE_BEGIN":
            in_virtual = True
            continue
        if upper == "ON_VIRTUAL_UPDATE_END":
            in_virtual = False
            continue
        if in_virtual:
            virtual.append(s)
        elif query is None and re.match(
            # FROM-first (duck's FROM t [SELECT ...] form), VALUES and
            # TABLE statements are queries too (round 11) — they
            # previously fell into pre_statements, leaving the query
            # empty
            r"(SELECT|WITH|FROM|VALUES|TABLE)\b", s, re.IGNORECASE
        ):
            query = s
        elif query is None:
            pre.append(s)
        else:
            post.append(s)
    if query is None:
        # Seed/python models may carry no query at all.
        query = ""
    return tuple(pre), query, tuple(post), tuple(virtual)


def _parse_header(text: str) -> tuple[dict[str, str], int, int]:
    """(props, open_idx, close_idx) of the MODEL(...) header — the ONE
    extraction shared by parse_model_text / parse_model_text_all /
    parse_model_header_props."""
    m = _MODEL_RE.search(text)
    if not m:
        raise ValueError("no MODEL(...) header found")
    open_idx = text.index("(", m.start())
    close_idx = _find_close(text, open_idx)
    return _parse_props(text[open_idx + 1 : close_idx]), open_idx, close_idx


def parse_model_header_props(text: str) -> dict[str, str]:
    """Just the MODEL(...) header's raw properties — for callers (CLI
    format) that need e.g. the dialect without building the full Model
    (which tokenizes the whole body for depends_on)."""
    return _parse_header(text)[0]


def parse_model_text(text: str) -> Model:
    props, open_idx, close_idx = _parse_header(text)
    body = text[close_idx + 1 :].lstrip(" \t\n;").rstrip()
    pre_stmts, query, post_stmts, virtual_stmts = _split_statements(body)

    if "name" not in props or "kind" not in props:
        raise ValueError("MODEL header requires name and kind")
    kind_raw = props["kind"]
    kind_m = re.match(r"([A-Za-z_0-9]+)\s*(\((.*)\))?\s*$", kind_raw, re.DOTALL)
    kind = ModelKind(kind_m.group(1).upper())
    kind_args: dict[str, str] = {}
    if kind_m.group(3):
        for kv in split_top_level(kind_m.group(3)):
            k, _, v = kv.partition(" ")
            kind_args[k.strip().lower()] = v.strip().strip("()")

    columns = {}
    if "columns" in props:
        for cv in _parse_tuple(props["columns"]):
            cname, _, ctype = cv.partition(" ")
            columns[cname.strip()] = ctype.strip()

    return Model(
        name=props["name"].strip().lower(),
        kind=kind,
        query=query,
        kind_args=kind_args,
        cron=_unquote(props.get("cron", "'@daily'")),
        start=_unquote(props["start"]) if "start" in props else None,
        partitioned_by=_parse_tuple(props["partitioned_by"]) if "partitioned_by" in props else (),
        clustered_by=_parse_tuple(props["clustered_by"]) if "clustered_by" in props else (),
        buckets=int(props.get("buckets", "8" if "clustered_by" in props else "0") or 0),
        storage_format=_unquote(props.get("storage_format", "parquet")).lower(),
        physical_properties=_parse_kv_props(props.get("physical_properties", "")),
        session_properties=_parse_kv_props(props.get("session_properties", "")),
        stamp=_unquote(props["stamp"]) if "stamp" in props else None,
        dialect=_unquote(props["dialect"]).lower() if "dialect" in props else "",
        interval_unit_override=_unquote(props["interval_unit"]).lower()
        if "interval_unit" in props
        else None,
        grain=_parse_tuple(props["grain"]) if "grain" in props else (),
        audits=_parse_audits(props["audits"]) if "audits" in props else (),
        signals=tuple(x.lower() for x in _parse_tuple(props["signals"])) if "signals" in props else (),
        depends_on=extract_depends_on(
            query,
            dialect=_unquote(props["dialect"]).lower() if "dialect" in props else "",
        )
        | (
            frozenset(d.lower() for d in _parse_tuple(props["depends_on"]))
            if "depends_on" in props
            else frozenset()
        ),
        declared_depends_on=frozenset(
            d.lower() for d in _parse_tuple(props["depends_on"])
        )
        if "depends_on" in props
        else frozenset(),
        columns=columns,
        lookback=int(props.get("lookback", "0") or 0),
        batch_size=int(props["batch_size"]) if "batch_size" in props else None,
        allow_partials=_unquote(props.get("allow_partials", "false")).lower()
        in ("true", "1"),
        description=_unquote(props["description"]) if "description" in props else None,
        column_descriptions=_parse_kv_props(props.get("column_descriptions", "")),
        owner=_unquote(props["owner"]) if "owner" in props else None,
        tags=tuple(_unquote(t).lower() for t in _parse_tuple(props["tags"]))
        if "tags" in props
        else (),
        on_additive_change=_unquote(
            props.get("on_additive_change", "allow")
        ).lower(),
        on_destructive_change=_unquote(
            props.get("on_destructive_change", "error")
        ).lower(),
        pre_statements=pre_stmts,
        post_statements=post_stmts,
        on_virtual_update=virtual_stmts,
    )


def parse_model_file(path: str) -> Model:
    with open(path) as f:
        return parse_model_text(f.read())
