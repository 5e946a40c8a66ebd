"""Static gate: every public operator function has a production caller.

ROADMAP aim 2 keeps one production path per operator; a variant that
lost its A/B leaves the package (git keeps it) instead of staying behind
as a test-only swap-in. This gate parses the package with ``ast``, so
comments and docstrings never count as references. A public top-level
function in ``llm/`` or ``operators/`` passes when package code calls,
imports or otherwise names it outside its own body, or when it carries
a ``@register(...)`` decorator.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "sqlmesh_spark"
GATED = ("llm", "operators")


def _is_register(decorator: ast.expr) -> bool:
    target = decorator.func if isinstance(decorator, ast.Call) else decorator
    if isinstance(target, ast.Attribute):
        return target.attr == "register"
    return isinstance(target, ast.Name) and target.id == "register"


def _collect(node: ast.AST, names: set[str], owner: str = "") -> None:
    """Add every name ``node`` loads, reads as an attribute or imports,
    except the name of the function whose body encloses it: a function
    naming itself is not a caller."""
    if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
        found = {node.id}
    elif isinstance(node, ast.Attribute):
        found = {node.attr}
    elif isinstance(node, ast.ImportFrom):
        found = {alias.name for alias in node.names}
    else:
        found = set()
    names.update(found - {owner})
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
        for outer in node.decorator_list + node.args.defaults:
            _collect(outer, names, owner)
        for inner in node.body:
            _collect(inner, names, node.name)
        return
    for child in ast.iter_child_nodes(node):
        _collect(child, names, owner)


def test_every_public_operator_function_has_a_production_reference():
    trees = {
        path: ast.parse(path.read_text(), filename=str(path))
        for path in sorted(PACKAGE.rglob("*.py"))
    }
    public = [
        (f"{path.relative_to(PACKAGE.parent)}:{node.lineno}", node)
        for path, tree in trees.items()
        if path.parent.parent == PACKAGE and path.parent.name in GATED
        for node in tree.body
        if isinstance(node, ast.FunctionDef) and not node.name.startswith("_")
    ]
    referenced: set[str] = set()
    for tree in trees.values():
        _collect(tree, referenced)
    orphans = sorted(
        f"{node.name} ({where})"
        for where, node in public
        if node.name not in referenced
        and not any(_is_register(d) for d in node.decorator_list)
    )
    assert not orphans, (
        "ROADMAP aim 2 keeps one production path per operator; these public "
        "functions have no call, import or @register from package code, so "
        "only tests reach them and they leave the package: " + ", ".join(orphans)
    )


# The reference resolver, under every name it has had: model references
# in rendered text become relations in exactly one place.
RESOLVERS = ("_replace_table_ref", "_replace_table_refs")


def _sites(node: ast.AST, where: str, match, out: set[str]) -> None:
    """Add ``where`` (module:function) for every node under ``node`` that
    ``match`` accepts; a nested def or class starts a new ``where``."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            sep = "." if ":" in where else ":"
            _sites(child, f"{where}{sep}{child.name}", match, out)
            continue
        if match(child):
            out.add(where)
        _sites(child, where, match, out)


def _calls_resolver(node: ast.AST) -> bool:
    if not isinstance(node, ast.Call):
        return False
    func = node.func
    return (func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", "")) in RESOLVERS


def test_model_references_resolve_in_one_function():
    callers: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        module = str(path.relative_to(PACKAGE.parent))
        _sites(ast.parse(path.read_text(), filename=str(path)), module, _calls_resolver, callers)
    assert len(callers) == 1, (
        "ROADMAP aim 2 keeps one render path: model text becomes Spark SQL "
        "in core/scheduler.render_model_sql, so the reference resolver "
        f"({' / '.join(RESOLVERS)}) has exactly one calling function; "
        f"found {len(callers)}: " + ", ".join(sorted(callers))
    )


# The model fields that fix a snapshot table's physical layout, and the
# functions that may read them: the layout decision and the fingerprint.
LAYOUT_FIELDS = ("storage_format", "clustered_by", "buckets")
LAYOUT_READERS = {
    "sqlmesh_spark/core/model.py:Model.layout",
    "sqlmesh_spark/core/snapshot.py:fingerprint_model",
}


def _reads_layout_field(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and isinstance(node.ctx, ast.Load)
        and node.attr in LAYOUT_FIELDS
    )


def test_table_layout_is_decided_in_one_function():
    readers: set[str] = set()
    for path in sorted((PACKAGE / "core").rglob("*.py")):
        module = str(path.relative_to(PACKAGE.parent))
        tree = ast.parse(path.read_text(), filename=str(path))
        _sites(tree, module, _reads_layout_field, readers)
    stray = sorted(readers - LAYOUT_READERS)
    assert not stray, (
        "ROADMAP aim 2 keeps one decision per fact: a snapshot table's "
        "layout comes from Model.layout, and only it and the fingerprint "
        f"read a model's {' / '.join(LAYOUT_FIELDS)}; also read in: "
        + ", ".join(stray)
    )


# A table's layout comes from its model (Model.layout), passed down to
# every write, and never back from the catalog: no DESCRIBE statement in
# the package. In core/ a table's column list is read only where the
# table itself is the question: the forward-only schema diff and comment
# registration, which skips columns the table lacks.
COLUMN_READERS = {
    "sqlmesh_spark/core/plan.py:PlanEvaluator._pin_forward_only",
    "sqlmesh_spark/core/plan.py:PlanEvaluator._register_comments",
}
_DESCRIBE = re.compile(r"\bDESCRIBE\b")


def _describes(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and bool(_DESCRIBE.search(node.value))
    )


def _calls_columns(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "columns"
    )


def test_no_layout_or_column_list_is_read_back_from_the_catalog():
    describes: set[str] = set()
    readers: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        module = str(path.relative_to(PACKAGE.parent))
        tree = ast.parse(path.read_text(), filename=str(path))
        _sites(tree, module, _describes, describes)
        if path.is_relative_to(PACKAGE / "core"):
            _sites(tree, module, _calls_columns, readers)
    assert not describes, (
        "a table's layout is passed down from Model.layout, not parsed "
        "from DESCRIBE; found a DESCRIBE string in: " + ", ".join(sorted(describes))
    )
    stray = sorted(readers - COLUMN_READERS)
    assert not stray, (
        "core/ reads a table's column list only in "
        + ", ".join(sorted(COLUMN_READERS))
        + "; also read in: "
        + ", ".join(stray)
    )


# The state store's one database connection: every other module goes
# through StateStore's public methods, and inside core/state.py every
# SELECT takes _read and every mutation _write, the one BEGIN IMMEDIATE
# transaction.
STATE_MODULE = "sqlmesh_spark/core/state.py"
STATE_PRIVATE = ("_read", "_write", "_db")
STATE_DB_USERS = {
    f"{STATE_MODULE}:StateStore.{fn}" for fn in ("__init__", "_read", "_write")
}


def _touches(names):
    """Matches any use of an attribute in ``names``: a call, or a
    reference taken to patch or pass it on."""
    return lambda node: isinstance(node, ast.Attribute) and node.attr in names


def _imports_sqlite3(node: ast.AST) -> bool:
    if isinstance(node, ast.Import):
        return any(alias.name.split(".")[0] == "sqlite3" for alias in node.names)
    return isinstance(node, ast.ImportFrom) and (node.module or "").startswith("sqlite3")


def _uses_own_db(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "_db"
        and isinstance(node.value, ast.Name)
        and node.value.id == "self"
    )


def _begins(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.lstrip().upper().startswith("BEGIN")
    )


def test_state_is_written_through_one_locked_path():
    root = PACKAGE.parent
    outside: set[str] = set()
    for path in sorted([*PACKAGE.rglob("*.py"), *(root / "tools").rglob("*.py")]):
        module = str(path.relative_to(root))
        if module != STATE_MODULE:
            tree = ast.parse(path.read_text(), filename=str(path))
            _sites(tree, module, _touches(STATE_PRIVATE), outside)
            _sites(tree, module, _imports_sqlite3, outside)
    state = ast.parse((root / STATE_MODULE).read_text(), filename=STATE_MODULE)
    db_users: set[str] = set()
    _sites(state, STATE_MODULE, _uses_own_db, db_users)
    begins: set[str] = set()
    _sites(state, STATE_MODULE, _begins, begins)
    assert not outside and db_users <= STATE_DB_USERS and len(begins) == 1, (
        "ROADMAP aim 2 keeps one path per decision: the state database is "
        "opened, read and written only inside core/state.py (sqlite3 or "
        "StateStore._read/_write/_db outside it: "
        + (", ".join(sorted(outside)) or "none")
        + "); there self._db is used only by __init__, _read and _write "
        "(also by: " + (", ".join(sorted(db_users - STATE_DB_USERS)) or "none")
        + "), and one function opens a transaction (BEGIN in: "
        + ", ".join(sorted(begins)) + ")"
    )


# Where processed intervals are recorded: the scheduler's one evaluate →
# audit → record tail, and the empty backfill that marks a window done
# without evaluating it.
SCHEDULER_MODULE = "sqlmesh_spark/core/scheduler.py"
INTERVAL_RECORDERS = {
    f"{SCHEDULER_MODULE}:Scheduler._run_snapshot",
    "sqlmesh_spark/core/plan.py:PlanEvaluator._empty_backfill",
}


def _calls_add_interval(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "add_interval"
    )


def test_intervals_are_recorded_in_one_place():
    root = PACKAGE.parent
    recorders: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        module = str(path.relative_to(root))
        _sites(ast.parse(path.read_text(), filename=str(path)), module,
               _calls_add_interval, recorders)
    scheduler = ast.parse((root / SCHEDULER_MODULE).read_text())
    calls = sum(_calls_add_interval(node) for node in ast.walk(scheduler))
    assert recorders == INTERVAL_RECORDERS and calls == 1, (
        "ROADMAP aim 2 keeps one path per decision: every snapshot kind "
        "records its intervals through the scheduler's one evaluate → audit "
        "→ record tail, so StateStore.add_interval has one call in "
        f"core/scheduler.py (found {calls}) and no other caller but the "
        "empty backfill (callers: " + ", ".join(sorted(recorders)) + ")"
    )


# The one partition overwrite: every partition-scoped write replaces the
# partitions it owns through SparkAdapter._replace_partitions.
PARTITION_WRITER = "sqlmesh_spark/adapter.py:SparkAdapter._replace_partitions"
_DROPS_PARTITION = re.compile(r"\bDROP\b.*\bPARTITION\b", re.DOTALL)


def _overwrites_partitions(node: ast.AST) -> bool:
    """An ``insertInto(..., overwrite=True)``, or a ``.sql(...)`` call whose
    statement text drops a partition."""
    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
        return False
    if node.func.attr == "insertInto":
        overwrite = [k.value for k in node.keywords if k.arg == "overwrite"]
        overwrite += node.args[1:2]
        return any(isinstance(v, ast.Constant) and v.value is True for v in overwrite)
    if node.func.attr == "sql":
        text = " ".join(
            n.value
            for arg in node.args
            for n in ast.walk(arg)
            if isinstance(n, ast.Constant) and isinstance(n.value, str)
        )
        return bool(_DROPS_PARTITION.search(text))
    return False


def test_partitions_are_overwritten_in_one_function():
    root = PACKAGE.parent
    writers: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        module = str(path.relative_to(root))
        _sites(ast.parse(path.read_text(), filename=str(path)), module,
               _overwrites_partitions, writers)
    assert writers == {PARTITION_WRITER}, (
        "ROADMAP aim 2 keeps one production path per operator: a dynamic "
        "partition overwrite and a partition drop happen only in "
        f"{PARTITION_WRITER}, which drops the partitions a write owns but "
        "leaves empty (found in: " + ", ".join(sorted(writers)) + ")"
    )
