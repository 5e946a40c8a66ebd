"""Macro operators: SQL→SQL functions rendered before execution.

The reference evaluates ``@MACRO(...)`` calls and ``@var`` references inside
model SQL with a MacroEvaluator (sqlmesh/core/macros.py:154, builtins at
:695-1373) and predefined temporal variables (sqlmesh/utils/date.py:224-270).
This module re-implements that surface for Spark SQL output with a
hand-rolled, quote-aware tokenizer (no sqlglot dependency): macros expand
innermost-first, then the final text runs through ``spark.sql``.

Because macros run at *render time* they cost nothing at scale — the output
is plain Spark SQL that Catalyst optimizes like any other query.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable, Mapping, Optional

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")

# ---------------------------------------------------------------------------
# Parsing helpers
# ---------------------------------------------------------------------------


def _find_balanced(text: str, start: int) -> int:
    """Index just past the ')' matching the '(' at ``start`` (quote-aware)."""
    depth = 0
    i = start
    n = len(text)
    while i < n:
        ch = text[i]
        if ch == "'":
            i += 1
            while i < n:
                if text[i] == "'" and (i + 1 >= n or text[i + 1] != "'"):
                    break
                i += 2 if text[i] == "'" else 1
            i += 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    raise ValueError(f"unbalanced parentheses at {start}: {text[start:start+40]!r}")


def split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on top-level separators, respecting (), [] and quotes."""
    parts, depth, buf, i, n = [], 0, [], 0, len(s)
    while i < n:
        ch = s[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if s[j] == "'" and (j + 1 >= n or s[j + 1] != "'"):
                    break
                j += 2 if s[j] == "'" else 1
            buf.append(s[i : j + 1])
            i = j + 1
            continue
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == sep and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
        i += 1
    last = "".join(buf).strip()
    if last or parts:
        parts.append(last)
    return parts


def _parse_list(arg: str) -> list[str]:
    arg = arg.strip()
    if arg.startswith("[") and arg.endswith("]"):
        inner = arg[1:-1].strip()
        return split_top_level(inner) if inner else []
    return [arg]


def _unquote(s: str) -> str:
    s = s.strip()
    if len(s) >= 2 and s[0] == "'" and s[-1] == "'":
        return s[1:-1].replace("''", "'")
    return s


@dataclass
class Lambda:
    params: list[str]
    body: str

    @classmethod
    def parse(cls, text: str) -> "Lambda":
        head, _, body = text.partition("->")
        head = head.strip()
        if head.startswith("(") and head.endswith(")"):
            params = [p.strip() for p in head[1:-1].split(",")]
        else:
            params = [head]
        return cls(params=params, body=body.strip())

    def apply(self, *args: str) -> str:
        out = self.body
        for p, a in zip(self.params, args):
            # @{x} interpolates inside identifiers (sum_@{x} → sum_l_qty);
            # bare params substitute whole-word only so `x` won't hit `max`.
            out = out.replace("@{" + p + "}", a.strip())
            # callable replacement: an argument containing backslashes
            # (regex literals) must not be read as a re.sub template
            out = re.sub(
                rf"\b{re.escape(p)}\b", lambda _m, _a=a: _a.strip(), out
            )
        return out


def _pyeval(expr: str):
    """Restricted eval for macro-level conditions (@IF/@FILTER/@EVAL).

    Macro expressions come from trusted project files (same trust model as
    the reference, which evals macro python — macros.py:106); still, no
    builtins are exposed.
    """
    return eval(expr, {"__builtins__": {}}, {"true": True, "false": False, "null": None})


# ---------------------------------------------------------------------------
# Builtin macro implementations (SQL-text level)
# ---------------------------------------------------------------------------

NULL_KEY = "_sqlmesh_surrogate_key_null_"


def macro_each(args: list[str], ev: "MacroEvaluator") -> str:
    """@EACH(list, x -> expr) — map, joined by commas (macros.py:695)."""
    items = _parse_list(args[0])
    lam = Lambda.parse(args[1])
    return ", ".join(lam.apply(it) for it in items)


def macro_if(args: list[str], ev: "MacroEvaluator") -> str:
    """@IF(cond, then[, else]) (macros.py:717)."""
    cond = _pyeval(args[0])
    if cond:
        return args[1]
    return args[2] if len(args) > 2 else ""


def macro_reduce(args: list[str], ev: "MacroEvaluator") -> str:
    """@REDUCE(list, (acc, x) -> expr) — fold (macros.py:742)."""
    items = _parse_list(args[0])
    lam = Lambda.parse(args[1])
    if not items:
        return ""
    acc = items[0]
    for it in items[1:]:
        acc = lam.apply(acc, it)
    return acc


def macro_filter(args: list[str], ev: "MacroEvaluator") -> str:
    """@FILTER(list, x -> pycond) (macros.py:767)."""
    items = _parse_list(args[0])
    lam = Lambda.parse(args[1])
    kept = [it for it in items if _pyeval(lam.apply(it))]
    return "[" + ", ".join(kept) + "]"


def macro_eval(args: list[str], ev: "MacroEvaluator") -> str:
    """@EVAL(expr) — evaluate and splice the literal (macros.py:839)."""
    v = _pyeval(args[0])
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    return str(v)


def macro_sql(args: list[str], ev: "MacroEvaluator") -> str:
    """@SQL('text') — splice raw SQL (macros.py:106)."""
    return _unquote(args[0])


def macro_star(args: list[str], ev: "MacroEvaluator") -> str:
    """@STAR(relation[, alias[, except[, prefix[, suffix]]]]) — typed,
    casted column expansion using the registered schema (macros.py:854)."""
    rel = _unquote(args[0])
    alias = _unquote(args[1]) if len(args) > 1 and args[1] else rel
    except_ = {_unquote(c) for c in _parse_list(args[2])} if len(args) > 2 and args[2] else set()
    prefix = _unquote(args[3]) if len(args) > 3 else ""
    suffix = _unquote(args[4]) if len(args) > 4 else ""
    schema = ev.schemas.get(rel)
    if schema is None:
        raise KeyError(f"@STAR: no schema registered for relation {rel!r}")
    cols = [
        f"CAST({alias}.{c} AS {t}) AS {prefix}{c}{suffix}"
        for c, t in schema.items()
        if c not in except_
    ]
    return ", ".join(cols)


def macro_generate_surrogate_key(args: list[str], ev: "MacroEvaluator") -> str:
    """@GENERATE_SURROGATE_KEY(c1, ...) → md5 over null-coalesced casts
    (macros.py:936). md5 hex matches across Spark/DuckDB."""
    parts = [f"COALESCE(CAST({c} AS STRING), '{NULL_KEY}')" for c in args]
    return f"MD5(CONCAT({', '.join(parts)}))"


def macro_safe_add(args: list[str], ev: "MacroEvaluator") -> str:
    """@SAFE_ADD(a, b) (macros.py:979)."""
    a, b = args[0], args[1]
    return (
        f"CASE WHEN {a} IS NULL AND {b} IS NULL THEN NULL "
        f"ELSE COALESCE({a}, 0) + COALESCE({b}, 0) END"
    )


def macro_safe_sub(args: list[str], ev: "MacroEvaluator") -> str:
    """@SAFE_SUB(a, b) (macros.py:997)."""
    a, b = args[0], args[1]
    return (
        f"CASE WHEN {a} IS NULL AND {b} IS NULL THEN NULL "
        f"ELSE COALESCE({a}, 0) - COALESCE({b}, 0) END"
    )


def macro_safe_div(args: list[str], ev: "MacroEvaluator") -> str:
    """@SAFE_DIV(a, b) → a / NULLIF(b, 0) (macros.py:1015)."""
    return f"({args[0]}) / NULLIF({args[1]}, 0)"


def macro_union(args: list[str], ev: "MacroEvaluator") -> str:
    """@UNION('all'|'distinct', r1, r2, ...) — union over the columns
    common to all relations, aligned by name and casted (macros.py:1029)."""
    kind = _unquote(args[0]).upper()
    rels = [_unquote(a) for a in args[1:]]
    schemas = [ev.schemas[r] for r in rels]
    common = [c for c in schemas[0] if all(c in s for s in schemas[1:])]
    selects = []
    for r, s in zip(rels, schemas):
        cols = ", ".join(f"CAST({c} AS {schemas[0][c]}) AS {c}" for c in common)
        selects.append(f"SELECT {cols} FROM {r}")
    sep = " UNION ALL " if kind == "ALL" else " UNION "
    return sep.join(selects)


def macro_haversine_distance(args: list[str], ev: "MacroEvaluator") -> str:
    """@HAVERSINE_DISTANCE(lat1, lon1, lat2, lon2) — great-circle miles
    (macros.py:1104)."""
    # Parenthesize every spliced operand — macro args are arbitrary
    # expressions and must not re-associate with the template's operators.
    lat1, lon1, lat2, lon2 = (f"({a})" for a in args[:4])
    return (
        f"7922 * ASIN(SQRT("
        f"POWER(SIN(RADIANS(({lat2} - {lat1}) / 2)), 2) + "
        f"COS(RADIANS({lat1})) * COS(RADIANS({lat2})) * "
        f"POWER(SIN(RADIANS(({lon2} - {lon1}) / 2)), 2))) * 0.5"
    )


def macro_pivot(args: list[str], ev: "MacroEvaluator") -> str:
    """@PIVOT(column, [v1, v2, ...][, agg][, value_expr]) — static pivot to
    agg-CASE projection list (macros.py:1146)."""
    col = args[0]
    values = [_unquote(v) for v in _parse_list(args[1])]
    agg = _unquote(args[2]) if len(args) > 2 else "SUM"
    value_expr = args[3] if len(args) > 3 else "1"
    outs = []
    for v in values:
        safe = re.sub(r"[^A-Za-z0-9_]", "_", v)
        lit = v.replace("'", "''")  # re-escape after _unquote (O'Brien)
        outs.append(
            f"{agg}(CASE WHEN {col} = '{lit}' THEN {value_expr} ELSE NULL END) AS pivot_{safe}"
        )
    return ", ".join(outs)


def macro_and(args: list[str], ev: "MacroEvaluator") -> str:
    """@AND(c1, c2, ...) (macros.py:1195)."""
    conds = [a for a in args if a]
    return "(" + " AND ".join(conds) + ")" if conds else "TRUE"


def macro_or(args: list[str], ev: "MacroEvaluator") -> str:
    """@OR(c1, c2, ...) (macros.py:1206)."""
    conds = [a for a in args if a]
    return "(" + " OR ".join(conds) + ")" if conds else "TRUE"


def macro_var(args: list[str], ev: "MacroEvaluator") -> str:
    """@VAR('name'[, default]) (macros.py:1217)."""
    name = _unquote(args[0])
    if name in ev.variables:
        v = ev.variables[name]
        return "'" + v.replace("'", "''") + "'" if isinstance(v, str) else str(v)
    return args[1] if len(args) > 1 else "NULL"


def macro_deduplicate(args: list[str], ev: "MacroEvaluator") -> str:
    """@DEDUPLICATE(relation, [partition_cols], [order_exprs]) →
    ROW_NUMBER()=1 subquery (macros.py:1241; the reference emits QUALIFY,
    which Spark SQL lacks — subquery form is plan-identical)."""
    rel = _unquote(args[0])
    partition = ", ".join(_parse_list(args[1]))
    order = ", ".join(_parse_list(args[2]))
    return (
        f"(SELECT * EXCEPT (_dedup_rn) FROM ("
        f"SELECT *, ROW_NUMBER() OVER (PARTITION BY {partition} ORDER BY {order}) AS _dedup_rn "
        f"FROM {rel}) WHERE _dedup_rn = 1)"
    )


def macro_date_spine(args: list[str], ev: "MacroEvaluator") -> str:
    """@DATE_SPINE('day'|'week'|'month', start, end) — calendar relation
    (macros.py:1298). Spark: sequence() + explode — the SQLGlot
    GENERATE_DATE_ARRAY+UNNEST pair transpiles to exactly this."""
    unit = _unquote(args[0]).lower()
    start, end = _unquote(args[1]), _unquote(args[2])
    return (
        f"(SELECT explode(sequence(DATE '{start}', DATE '{end}', INTERVAL 1 {unit}))"
        f" AS date_{unit})"
    )


def macro_resolve_template(args: list[str], ev: "MacroEvaluator") -> str:
    """@RESOLVE_TEMPLATE('template') — physical-location templating
    (macros.py:1373): @{catalog}/@{schema}/@{table} placeholders."""
    template = _unquote(args[0])
    for k in ("catalog", "schema", "table"):
        template = template.replace("@{" + k + "}", str(ev.variables.get(k, k)))
    return "'" + template + "'"


BUILTIN_MACROS: dict[str, Callable[[list[str], "MacroEvaluator"], str]] = {
    "EACH": macro_each,
    "IF": macro_if,
    "REDUCE": macro_reduce,
    "FILTER": macro_filter,
    "EVAL": macro_eval,
    "SQL": macro_sql,
    "STAR": macro_star,
    "GENERATE_SURROGATE_KEY": macro_generate_surrogate_key,
    "SAFE_ADD": macro_safe_add,
    "SAFE_SUB": macro_safe_sub,
    "SAFE_DIV": macro_safe_div,
    "UNION": macro_union,
    "HAVERSINE_DISTANCE": macro_haversine_distance,
    "PIVOT": macro_pivot,
    "AND": macro_and,
    "OR": macro_or,
    "VAR": macro_var,
    "BLUEPRINT_VAR": macro_var,  # blueprint-scoped vars share the lookup (macros.py:1228)
    "DEDUPLICATE": macro_deduplicate,
    "DATE_SPINE": macro_date_spine,
    "RESOLVE_TEMPLATE": macro_resolve_template,
}


def temporal_variables(start: str, end: str, execution: Optional[str] = None) -> dict[str, str]:
    """The predefined interval variables (@start_ds, @end_ts, ... —
    utils/date.py:224-270): ds = date string, ts = timestamp string,
    epoch = seconds, millis."""
    import datetime as dt

    execution = execution or end

    def parse(s: str) -> dt.datetime:
        # accepts the full ISO-8601 family the reference's date utils do
        # (utils/date.py to_datetime): T or space separator, optional
        # seconds/fractions, trailing Z or a UTC offset (normalized to
        # the UTC wall clock, like to_datetime).
        try:
            d = dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
            if d.tzinfo is not None:
                d = d.astimezone(dt.timezone.utc).replace(tzinfo=None)
            return d
        except ValueError:
            pass
        for fmt in ("%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
            try:
                return dt.datetime.strptime(s, fmt)
            except ValueError:
                continue
        raise ValueError(f"unparseable date {s!r}")

    out: dict[str, str] = {}
    for prefix, val in (("start", start), ("end", end), ("execution", execution)):
        d = parse(val)
        # _ds/_ts render as quoted SQL literals (like the reference's
        # rendered dates) — the tokenizer never substitutes inside quotes,
        # so models use them bare: WHERE ds BETWEEN @start_ds AND @end_ds.
        out[f"{prefix}_ds"] = "'" + d.strftime("%Y-%m-%d") + "'"
        out[f"{prefix}_ts"] = "'" + d.strftime("%Y-%m-%d %H:%M:%S") + "'"
        out[f"{prefix}_date"] = f"DATE '{d.strftime('%Y-%m-%d')}'"
        out[f"{prefix}_epoch"] = str(int(d.replace(tzinfo=dt.timezone.utc).timestamp()))
        out[f"{prefix}_millis"] = str(int(d.replace(tzinfo=dt.timezone.utc).timestamp() * 1000))
    return out


@dataclass
class MacroEvaluator:
    """Renders @MACRO(...) calls and @var references to final Spark SQL.

    - ``variables``: @var substitutions (interval vars, project vars).
    - ``schemas``: relation → {column: spark_type} for @STAR/@UNION.
    - ``macros``: name → callable; users register more (reference
      macros.py:592 ``@macro()``).
    """

    variables: Mapping = field(default_factory=dict)
    schemas: Mapping[str, Mapping[str, str]] = field(default_factory=dict)
    macros: dict[str, Callable] = field(default_factory=dict)

    def __post_init__(self):
        merged = dict(BUILTIN_MACROS)
        merged.update({k.upper(): v for k, v in self.macros.items()})
        self.macros = merged

    def register(self, name: str, fn: Callable[[list[str], "MacroEvaluator"], str]) -> None:
        self.macros[name.upper()] = fn

    def render(self, sql: str) -> str:
        out = self._render(sql)
        # Collapse whitespace introduced by expansion for readability.
        return re.sub(r"[ \t]+", " ", out).strip()

    def _render(self, sql: str) -> str:
        i = 0
        out: list[str] = []
        n = len(sql)
        while i < n:
            ch = sql[i]
            # Comments pass through verbatim BEFORE the quote scan: an
            # apostrophe inside `-- user's note` or /* ... */ must not
            # open a phantom string literal that swallows the rest of the
            # query (silently disabling @macro expansion after it).
            if ch == "-" and i + 1 < n and sql[i + 1] == "-":
                j = sql.find("\n", i)
                j = n if j == -1 else j
                out.append(sql[i:j])
                i = j
                continue
            if ch == "/" and i + 1 < n and sql[i + 1] == "*":
                j = sql.find("*/", i + 2)
                j = n if j == -1 else j + 2
                out.append(sql[i:j])
                i = j
                continue
            if ch == "'":
                j = i + 1
                while j < n:
                    if sql[j] == "'" and (j + 1 >= n or sql[j + 1] != "'"):
                        break
                    j += 2 if sql[j] == "'" else 1
                out.append(sql[i : j + 1])
                i = j + 1
                continue
            if ch == "@":
                m = _IDENT.match(sql, i + 1)
                if m:
                    name = m.group(0)
                    after = m.end()
                    if after < n and sql[after] == "(" and name.upper() in self.macros:
                        close = _find_balanced(sql, after)
                        raw_args = sql[after + 1 : close - 1]
                        rendered_args = self._render(raw_args)
                        args = split_top_level(rendered_args)
                        result = self.macros[name.upper()](args, self)
                        out.append(result)
                        i = close
                        continue
                    if name in self.variables:
                        out.append(str(self.variables[name]))
                        i = after
                        continue
            out.append(ch)
            i += 1
        return "".join(out)


_JINJA_BEGIN = re.compile(r"JINJA_QUERY_BEGIN\s*;?", re.IGNORECASE)
_JINJA_END = re.compile(r"JINJA_END\s*;?", re.IGNORECASE)


def render_jinja(text: str, variables: Optional[Mapping] = None) -> str:
    """Render an embedded Jinja block (reference dialect.py:57-65 marks
    them with JINJA_QUERY_BEGIN/JINJA_END; utils/jinja.py evaluates).
    Exposed context mirrors the reference: interval variables as plain
    (unquoted) strings — models quote them as needed — plus ``var(name,
    default)`` for project variables; ``{% macro %}`` definitions and
    control flow are native jinja2."""
    from jinja2 import Environment, StrictUndefined

    vars_ = dict(variables or {})
    # Macro-layer _ds/_ts values are pre-quoted SQL literals; jinja context
    # wants the bare value ('{{ start_ds }}' quotes explicitly).
    bare = {
        k: (v[1:-1] if isinstance(v, str) and len(v) >= 2 and v[0] == v[-1] == "'" else v)
        for k, v in vars_.items()
        if isinstance(k, str) and k.isidentifier()
    }
    env = Environment(undefined=StrictUndefined, keep_trailing_newline=True)
    return env.from_string(text).render(
        var=lambda name, default=None: bare.get(name, default), **bare
    )


def expand_jinja(sql: str, variables: Mapping) -> str:
    """``sql`` with its Jinja-marked block (JINJA_QUERY_BEGIN ...
    JINJA_END) rendered to SQL text — loops/macros/{{ vars }} expand —
    so the @macro layer runs over the result afterwards and both
    templating systems compose exactly as in the reference."""
    begin = _JINJA_BEGIN.search(sql)
    if not begin:
        return sql
    end_m = _JINJA_END.search(sql, begin.end())
    if not end_m:
        raise ValueError("JINJA_QUERY_BEGIN without JINJA_END")
    body = sql[begin.end() : end_m.start()]
    return sql[: begin.start()] + render_jinja(body, variables) + sql[end_m.end() :]


def render_sql(
    sql: str,
    variables: Optional[Mapping] = None,
    schemas: Optional[Mapping] = None,
    start: Optional[str] = None,
    end: Optional[str] = None,
) -> str:
    """One-shot convenience: render model SQL with interval variables,
    Jinja first (expand_jinja), then macros."""
    vars_ = dict(variables or {})
    if start and end:
        vars_.update(temporal_variables(start, end))
    sql = expand_jinja(sql, vars_)
    return MacroEvaluator(variables=vars_, schemas=schemas or {}).render(sql)


# ---------------------------------------------------------------------------
# Registry cases — each macro exercised end-to-end: render → spark.sql →
# DuckDB oracle comparison.
# ---------------------------------------------------------------------------

from sqlmesh_spark.registry import register  # noqa: E402
from sqlmesh_spark.sources.tables import register_views  # noqa: E402

CUSTOMER_SCHEMA = {
    "c_custkey": "BIGINT",
    "c_name": "STRING",
    "c_nationkey": "INT",
    "c_acctbal": "DOUBLE",
    "c_mktsegment": "STRING",
}
SUPPLIER_SCHEMA = {
    "s_suppkey": "BIGINT",
    "s_name": "STRING",
    "s_nationkey": "INT",
    "s_acctbal": "DOUBLE",
}


def _macro_case(sql_template: str, tables: tuple[str, ...], schemas=None, variables=None):
    def run(spark, sf_dir):
        register_views(spark, sf_dir, tables)
        rendered = MacroEvaluator(
            variables=variables or {}, schemas=schemas or {}
        ).render(sql_template)
        return spark.sql(rendered)

    return run


MACRO_DEDUP_SQL = """
SELECT event_id, user_id, event_type
FROM @DEDUPLICATE(events, [user_id, event_type], [ts_ns DESC, event_id DESC])
"""

MACRO_DEDUP_ORACLE = """
SELECT event_id, user_id, event_type FROM (
  SELECT event_id, user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""

register("macro_deduplicate", oracle=MACRO_DEDUP_ORACLE, tags=("macro",))(
    _macro_case(MACRO_DEDUP_SQL, ("events",))
)


MACRO_DATE_SPINE_SQL = """
SELECT date_format(d.date_day, 'yyyy-MM-dd') AS ds, COUNT(o.o_orderkey) AS n_orders
FROM @DATE_SPINE('day', '1995-01-01', '1995-01-31') d
LEFT JOIN orders o ON date_format(o.o_orderdate, 'yyyy-MM-dd') = date_format(d.date_day, 'yyyy-MM-dd')
GROUP BY date_format(d.date_day, 'yyyy-MM-dd')
"""

MACRO_DATE_SPINE_ORACLE = """
SELECT strftime(d.date_day, '%Y-%m-%d') AS ds, COUNT(o.o_orderkey) AS n_orders
FROM (SELECT unnest(generate_series(DATE '1995-01-01', DATE '1995-01-31', INTERVAL 1 DAY)) AS date_day) d
LEFT JOIN orders o ON strftime(o.o_orderdate, '%Y-%m-%d') = strftime(d.date_day, '%Y-%m-%d')
GROUP BY strftime(d.date_day, '%Y-%m-%d')
"""

register("macro_date_spine", oracle=MACRO_DATE_SPINE_ORACLE, tags=("macro",))(
    _macro_case(MACRO_DATE_SPINE_SQL, ("orders",))
)


MACRO_PIVOT_SQL = """
SELECT o_orderpriority,
       @PIVOT(o_orderstatus, ['O', 'F', 'P'], SUM, CAST(ROUND(o_totalprice * 100) AS BIGINT))
FROM orders GROUP BY o_orderpriority
"""

MACRO_PIVOT_ORACLE = """
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) ELSE NULL END) AS BIGINT) AS pivot_O,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) ELSE NULL END) AS BIGINT) AS pivot_F,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) ELSE NULL END) AS BIGINT) AS pivot_P
FROM orders GROUP BY o_orderpriority
"""

register("macro_pivot", oracle=MACRO_PIVOT_ORACLE, tags=("macro",))(
    _macro_case(MACRO_PIVOT_SQL, ("orders",))
)


MACRO_STAR_SQL = """
SELECT @STAR(customer, c, [c_acctbal], 'dim_') FROM customer c WHERE c.c_custkey <= 100
"""

MACRO_STAR_ORACLE = """
SELECT CAST(c_custkey AS BIGINT) AS dim_c_custkey,
       CAST(c_name AS STRING) AS dim_c_name,
       CAST(c_nationkey AS INT) AS dim_c_nationkey,
       CAST(c_mktsegment AS STRING) AS dim_c_mktsegment
FROM customer WHERE c_custkey <= 100
"""

register("macro_star", oracle=MACRO_STAR_ORACLE, tags=("macro",))(
    _macro_case(MACRO_STAR_SQL, ("customer",), schemas={"customer": CUSTOMER_SCHEMA})
)


MACRO_SURROGATE_SQL = """
SELECT c_custkey, @GENERATE_SURROGATE_KEY(c_custkey, c_name, c_mktsegment) AS sk
FROM customer
"""

MACRO_SURROGATE_ORACLE = f"""
SELECT c_custkey,
       MD5(CONCAT(COALESCE(CAST(c_custkey AS STRING), '{NULL_KEY}'),
                  COALESCE(CAST(c_name AS STRING), '{NULL_KEY}'),
                  COALESCE(CAST(c_mktsegment AS STRING), '{NULL_KEY}'))) AS sk
FROM customer
"""

register("macro_generate_surrogate_key", oracle=MACRO_SURROGATE_ORACLE, tags=("macro",))(
    _macro_case(MACRO_SURROGATE_SQL, ("customer",))
)


MACRO_SAFE_SQL = """
SELECT l_orderkey, l_linenumber,
       CAST(ROUND((@SAFE_ADD(l_discount, l_tax)) * 10000) AS BIGINT) AS safe_add_bp,
       CAST(ROUND((@SAFE_SUB(l_tax, l_discount)) * 10000) AS BIGINT) AS safe_sub_bp,
       CAST(ROUND((@SAFE_DIV(l_extendedprice, l_quantity)) * 100) AS BIGINT) AS unit_price_cents
FROM lineitem WHERE l_orderkey <= 1000
"""

MACRO_SAFE_ORACLE = """
SELECT l_orderkey, l_linenumber,
       CAST(ROUND((CASE WHEN l_discount IS NULL AND l_tax IS NULL THEN NULL
             ELSE COALESCE(l_discount, 0) + COALESCE(l_tax, 0) END) * 10000) AS BIGINT) AS safe_add_bp,
       CAST(ROUND((CASE WHEN l_tax IS NULL AND l_discount IS NULL THEN NULL
             ELSE COALESCE(l_tax, 0) - COALESCE(l_discount, 0) END) * 10000) AS BIGINT) AS safe_sub_bp,
       CAST(ROUND(((l_extendedprice) / NULLIF(l_quantity, 0)) * 100) AS BIGINT) AS unit_price_cents
FROM lineitem WHERE l_orderkey <= 1000
"""

register("macro_safe_arithmetic", oracle=MACRO_SAFE_ORACLE, tags=("macro",))(
    _macro_case(MACRO_SAFE_SQL, ("lineitem",))
)


# @UNION aligns on the columns common to all relations — exercised on two
# projections of customer (high/low balance segments):
MACRO_UNION_SQL = """
SELECT * FROM (@UNION('distinct', high_bal, low_bal))
"""

MACRO_UNION_ORACLE = """
SELECT * FROM (
  SELECT CAST(c_custkey AS BIGINT) AS c_custkey, CAST(c_mktsegment AS STRING) AS c_mktsegment
  FROM customer WHERE c_acctbal > 9000
  UNION
  SELECT CAST(c_custkey AS BIGINT) AS c_custkey, CAST(c_mktsegment AS STRING) AS c_mktsegment
  FROM customer WHERE c_acctbal < 0
)
"""


def _macro_union_case(spark, sf_dir):
    register_views(spark, sf_dir, ("customer",))
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW high_bal AS "
        "SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 9000"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW low_bal AS "
        "SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal < 0"
    )
    sub_schema = {"c_custkey": "BIGINT", "c_mktsegment": "STRING"}
    ev = MacroEvaluator(schemas={"high_bal": sub_schema, "low_bal": sub_schema})
    return spark.sql(ev.render(MACRO_UNION_SQL))


register("macro_union", oracle=MACRO_UNION_ORACLE, tags=("macro",))(_macro_union_case)


MACRO_HAVERSINE_SQL = """
SELECT n1.n_nationkey AS from_key, n2.n_nationkey AS to_key,
       CAST(ROUND(@HAVERSINE_DISTANCE(
         n1.n_nationkey * 3.0 - 30, n1.n_regionkey * 20.0 - 50,
         n2.n_nationkey * 3.0 - 30, n2.n_regionkey * 20.0 - 50) * 1000) AS BIGINT) AS dist_mmi
FROM nation n1 CROSS JOIN nation n2 WHERE n1.n_nationkey < n2.n_nationkey
"""

MACRO_HAVERSINE_ORACLE = """
SELECT n1.n_nationkey AS from_key, n2.n_nationkey AS to_key,
       CAST(ROUND(7922 * ASIN(SQRT(
         POWER(SIN(RADIANS(((n2.n_nationkey * 3.0 - 30) - (n1.n_nationkey * 3.0 - 30)) / 2)), 2) +
         COS(RADIANS(n1.n_nationkey * 3.0 - 30)) * COS(RADIANS(n2.n_nationkey * 3.0 - 30)) *
         POWER(SIN(RADIANS(((n2.n_regionkey * 20.0 - 50) - (n1.n_regionkey * 20.0 - 50)) / 2)), 2)
       )) * 0.5 * 1000) AS BIGINT) AS dist_mmi
FROM nation n1 CROSS JOIN nation n2 WHERE n1.n_nationkey < n2.n_nationkey
"""

register("macro_haversine_distance", oracle=MACRO_HAVERSINE_ORACLE, tags=("macro",))(
    _macro_case(MACRO_HAVERSINE_SQL, ("nation",))
)


MACRO_EACH_SQL = """
SELECT l_returnflag,
       @EACH([l_quantity, l_extendedprice], x -> CAST(SUM(CAST(ROUND(x * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_@{x})
FROM lineitem GROUP BY l_returnflag
"""

MACRO_EACH_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_l_quantity,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_l_extendedprice
FROM lineitem GROUP BY l_returnflag
"""


def _macro_each_case(spark, sf_dir):
    register_views(spark, sf_dir, ("lineitem",))
    # `sum_x` in the lambda body names the output after the substituted column.
    ev = MacroEvaluator()
    sql = ev.render(MACRO_EACH_SQL)
    return spark.sql(sql)


register("macro_each", oracle=MACRO_EACH_ORACLE, tags=("macro",))(_macro_each_case)


MACRO_REDUCE_IF_SQL = """
SELECT o_orderstatus,
       @REDUCE(@FILTER([1, 2, 3, 4], x -> x < 4), (a, b) -> a + b) AS magic,
       @IF(1 > 0, COUNT(*), NULL) AS n
FROM orders GROUP BY o_orderstatus
"""

MACRO_REDUCE_IF_ORACLE = """
SELECT o_orderstatus, 1 + 2 + 3 AS magic, COUNT(*) AS n
FROM orders GROUP BY o_orderstatus
"""

register("macro_reduce_filter_if", oracle=MACRO_REDUCE_IF_ORACLE, tags=("macro",))(
    _macro_case(MACRO_REDUCE_IF_SQL, ("orders",))
)


MACRO_VARS_SQL = """
SELECT n_nationkey, n_name,
       @VAR('region_label', 'unset') AS region_label,
       @VAR('missing_var') AS missing_var,
       @EVAL(7 * 6) AS answer,
       @SQL('UPPER(n_name)') AS upper_name,
       @RESOLVE_TEMPLATE('@{catalog}/@{schema}/@{table}') AS physical_path
FROM nation
WHERE @AND(n_nationkey >= 0, @OR(n_nationkey < 3, n_nationkey > 20))
"""

MACRO_VARS_ORACLE = """
SELECT n_nationkey, n_name,
       'emea' AS region_label,
       NULL AS missing_var,
       42 AS answer,
       UPPER(n_name) AS upper_name,
       'spark_catalog/analytics/nation' AS physical_path
FROM nation
WHERE n_nationkey >= 0 AND (n_nationkey < 3 OR n_nationkey > 20)
"""

register("macro_var_and_or_eval", oracle=MACRO_VARS_ORACLE, tags=("macro",))(
    _macro_case(
        MACRO_VARS_SQL,
        ("nation",),
        variables={
            "region_label": "emea",
            "catalog": "spark_catalog",
            "schema": "analytics",
            "table": "nation",
        },
    )
)


JINJA_QUERY_SQL = """
JINJA_QUERY_BEGIN;
{% macro seg_sum(seg) %}
  SELECT '{{ seg }}' AS segment,
         CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents,
         COUNT(*) AS n
  FROM customer
  WHERE c_mktsegment = '{{ seg }}' AND c_acctbal >= {{ var('min_bal', 0) }}
{% endmacro %}
{% for seg in segments %}
{{ seg_sum(seg) }}{% if not loop.last %} UNION ALL {% endif %}
{% endfor %}
JINJA_END;
"""

JINJA_QUERY_ORACLE = """
SELECT 'BUILDING' AS segment,
       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents, COUNT(*) AS n
FROM customer WHERE c_mktsegment = 'BUILDING' AND c_acctbal >= 1000
UNION ALL
SELECT 'MACHINERY' AS segment,
       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents, COUNT(*) AS n
FROM customer WHERE c_mktsegment = 'MACHINERY' AND c_acctbal >= 1000
"""


def _jinja_case(spark, sf_dir):
    """Embedded Jinja query block (reference dialect.py:57-65 markers,
    utils/jinja.py evaluation): a {% macro %} definition fanned out by a
    {% for %} loop into a UNION ALL, with {{ var(...) }} project variables
    — rendered by render_sql's jinja pass, then executed as plain SQL."""
    register_views(spark, sf_dir, ("customer",))
    rendered = render_sql(
        JINJA_QUERY_SQL,
        variables={"segments": ["BUILDING", "MACHINERY"], "min_bal": 1000},
    )
    return spark.sql(rendered)


register("macro_jinja_query", oracle=JINJA_QUERY_ORACLE, tags=("macro",))(_jinja_case)
