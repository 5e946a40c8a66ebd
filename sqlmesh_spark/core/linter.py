"""Linter rules over model definitions (reference linter/rules/builtin.py).

Rules are pure checks over parsed models; violations are returned, never
raised — policy lives with the caller.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Mapping, Optional

from sqlmesh_spark.core.model import Model, ModelKind


@dataclass(frozen=True)
class LintViolation:
    rule: str
    model: str
    message: str


def no_select_star(model: Model) -> Optional[str]:
    """builtin.py:31 NoSelectStar: top-level SELECT * hides schema intent
    and breaks fingerprint stability on upstream widening."""
    if re.match(r"\s*SELECT\s+\*", model.query, re.IGNORECASE):
        return "top-level SELECT * (declare projections explicitly)"
    return None


def no_missing_audits(model: Model) -> Optional[str]:
    """builtin.py:111 NoMissingAudits."""
    materialized = model.kind not in (ModelKind.VIEW, ModelKind.EMBEDDED, ModelKind.EXTERNAL)
    if materialized and not model.audits:
        return "materialized model has no audits"
    return None


def no_missing_external_models(model: Model, known: set[str]) -> Optional[str]:
    """builtin.py:147: every dependency must be a model or an explicit
    external reference (parquet.`path` / catalog table)."""
    for dep in model.depends_on:
        if dep not in known and not dep.startswith("parquet."):
            return f"unknown dependency {dep!r} (not a model, not external)"
    return None


def invalid_select_star_expansion(model: Model, known: set[str]) -> Optional[str]:
    """builtin.py:83 InvalidSelectStarExpansion: a SELECT * can only be
    expanded to explicit columns when every upstream schema is known; a
    star over a dependency with no known schema leaves the model's output
    schema undefined at plan time (fingerprints, schema diffing, and
    column-level lineage all need the expansion)."""
    if not re.search(r"\bSELECT\s+\*", model.query, re.IGNORECASE):
        return None
    unknown = sorted(
        dep
        for dep in model.depends_on
        if dep not in known and not dep.startswith("parquet.")
    )
    if unknown:
        return (
            f"SELECT * cannot be expanded: missing schema(s) for {unknown} "
            "(declare them as models or external sources)"
        )
    return None


def undeclared_read_dialect(model: Model) -> Optional[str]:
    """Spark-specific extension rule: the model's SQL uses constructs that
    only exist in a non-Spark read dialect (strftime C-formats, epoch(),
    list_* functions, DuckDB bracket list literals) but the model declares
    no ``dialect`` — it will fail or silently misbehave at render time.
    The fix is one header property; core/transpile.py does the rest."""
    if model.dialect:
        return None
    non_spark = {
        "strftime", "strptime", "epoch", "epoch_ms", "list_contains",
        "list_value", "list_extract", "array_to_string", "string_to_array",
        "string_agg", "regexp_matches", "list_transform", "list_filter",
    }
    # Token-level call detection: an ident immediately followed by '(' —
    # never matches inside string literals or comments (a regex over raw
    # text flagged models MENTIONING these names in strings/comments).
    hits: set[str] = set()
    try:
        from sqlmesh_spark.core.sqlparse import SqlParseError, tokenize

        toks = tokenize(model.query)
        for i, t in enumerate(toks):
            if (
                t.kind == "ident"
                and t.value in non_spark
                and i + 1 < len(toks)
                and toks[i + 1].kind == "op"
                and toks[i + 1].value == "("
            ):
                hits.add(t.value)
    except SqlParseError:
        # unlexable text (macro-heavy): fall back to the raw scan
        hits = {
            m.lower()
            for m in re.findall(
                r"\b(" + "|".join(non_spark) + r")\s*\(", model.query, re.IGNORECASE
            )
        }
    hits = sorted(hits)
    if hits:
        return (
            f"query calls non-Spark function(s) {[h.lower() for h in hits]} "
            "but declares no dialect; add `dialect duckdb` (or postgres/ansi) "
            "to transpile at render time"
        )
    return None


# User-defined lint rules (reference linter/rule.py Rule subclasses,
# registered per-project): name → fn(model) -> Optional[str] (violation
# message or None). Applied to every model after the builtins.
CUSTOM_RULES: dict[str, "RuleFn"] = {}


def register_lint_rule(name: str, fn) -> None:
    CUSTOM_RULES[name.lower()] = fn


def lint_models(models: Mapping[str, Model]) -> list[LintViolation]:
    known = set(models)
    out: list[LintViolation] = []
    for name, model in models.items():
        for rule, msg in (
            *((rname, rfn(model)) for rname, rfn in sorted(CUSTOM_RULES.items())),
            ("no_select_star", no_select_star(model)),
            ("undeclared_read_dialect", undeclared_read_dialect(model)),
            ("no_missing_audits", no_missing_audits(model)),
            ("no_missing_external_models", no_missing_external_models(model, known)),
            (
                "invalid_select_star_expansion",
                invalid_select_star_expansion(model, known),
            ),
        ):
            if msg:
                out.append(LintViolation(rule=rule, model=name, message=msg))
    return out


def no_missing_unit_test(model: Model, tested_models: set[str]) -> Optional[str]:
    """builtin.py:132 NoMissingUnitTest — materialized models should have a
    golden YAML test; `tested_models` comes from the discovered test specs."""
    materialized = model.kind not in (ModelKind.VIEW, ModelKind.EMBEDDED, ModelKind.EXTERNAL)
    if materialized and model.name not in tested_models:
        return "model has no unit test"
    return None


def no_ambiguous_projections(model: Model) -> Optional[str]:
    """builtin.py:292 NoAmbiguousProjections — duplicate output names in the
    top-level projection shadow each other downstream."""
    from sqlmesh_spark.core.lineage import _out_name, _projection_list

    names = [_out_name(p, i) for i, p in enumerate(_projection_list(model.query))]
    dupes = {n for n in names if names.count(n) > 1}
    if dupes:
        return f"duplicate projection names: {sorted(dupes)}"
    return None
