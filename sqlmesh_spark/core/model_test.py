"""YAML golden model tests — the reference's user-facing test framework.

Reference: ModelTest (core/test/definition.py:51): YAML gives `inputs`
(rows per upstream table) and `outputs` (expected rows for the query and,
optionally, per-CTE). Fixtures land in temp views, the rendered model query
runs on the local SparkSession, and result rows compare order-insensitively
(or in order when `rows` are marked ordered). Format mirrors
examples/sushi/tests/test_customer_revenue_by_day.yaml:1-60.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Any, Mapping, Optional

import yaml
from pyspark.sql import SparkSession

from sqlmesh_spark.core.model import Model
from sqlmesh_spark.core.scheduler import render_model_sql


@dataclass
class ModelTestResult:
    name: str
    passed: bool
    failures: list[str] = field(default_factory=list)


def _rows_to_df(spark: SparkSession, rows: list[dict], types: Optional[Mapping[str, str]] = None):
    """Fixture rows -> DataFrame. When the upstream's column types are
    known (declared or inferred — test/definition.py types fixtures from
    columns_to_types), cast each column so YAML's stringly-typed literals
    behave like the real table (e.g. '2024-01-02' vs TIMESTAMP)."""
    import pandas as pd

    if not rows:
        # empty fixture (anti-join/left-join edge cases): build the schema
        # from the declared column types — pandas can't infer from nothing
        if not types:
            raise ValueError(
                "empty fixture rows need declared `columns` types"
            )
        schema = ", ".join(f"{c} {t}" for c, t in types.items())
        return spark.createDataFrame([], schema)
    df = spark.createDataFrame(pd.DataFrame(rows))
    if types:
        from pyspark.sql import functions as F

        df = df.select(
            *[
                F.col(c).cast(types[c]).alias(c) if c in types else F.col(c)
                for c in df.columns
            ]
        )
    return df


def _canon(rows: list[dict]) -> list[tuple]:
    out = []
    for r in rows:
        out.append(tuple((k, _canon_val(v)) for k, v in sorted(r.items())))
    return sorted(out)


def _canon_val(v: Any) -> str:
    import decimal
    import math

    if v is None:
        return "<null>"
    if isinstance(v, float):
        # NaN/Inf must canonicalize (a mismatch report), not crash int()
        if math.isnan(v) or math.isinf(v):
            return str(v)
        if v == int(v):
            return str(int(v))
    if isinstance(v, decimal.Decimal):
        # DECIMAL('1.50') and YAML 1.5 are the same value
        f = float(v)
        return str(int(f)) if f == int(f) else str(f)
    return str(v)


_CTE_RE = re.compile(r"\b([A-Za-z_][\w]*)\s+AS\s*\(", re.IGNORECASE)


def extract_cte(sql: str, name: str) -> Optional[str]:
    """Runnable SELECT for one CTE of the rendered query (outputs.ctes):
    the WITH chain is TRUNCATED at the target and selected from, so a CTE
    referencing earlier CTEs still resolves (`WITH a AS (...), b AS
    (SELECT * FROM a)` tests b as `WITH a AS (...), b AS (...) SELECT *
    FROM b`, never b's bare body)."""
    for m in _CTE_RE.finditer(sql):
        if m.group(1).lower() != name.lower():
            continue
        start = m.end() - 1
        depth, i = 0, start
        while i < len(sql):
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
                if depth == 0:
                    prefix = sql[: i + 1]
                    if not re.match(r"\s*WITH\b", prefix, re.IGNORECASE):
                        return sql[start + 1 : i]  # not a WITH chain
                    return f"{prefix} SELECT * FROM {name}"
            i += 1
    return None


class ModelTestRunner:
    def __init__(self, spark: SparkSession):
        self.spark = spark

    def run_spec(self, spec: Mapping[str, Any], models: Mapping[str, Model]) -> list[ModelTestResult]:
        # An execution error (unresolvable function, bad fixture SQL) is a
        # FAILED test result, not a crashed run — the reference runner
        # reports per-test errors the same way (test/result.py collects
        # errors alongside assertion failures).
        out = []
        for name, body in spec.items():
            try:
                out.append(self._run_one(name, body, models))
            except Exception as exc:  # noqa: BLE001
                out.append(
                    ModelTestResult(
                        name=name,
                        passed=False,
                        failures=[f"error: {type(exc).__name__}: {exc}"],
                    )
                )
        return out

    def run_yaml(self, text: str, models: Mapping[str, Model]) -> list[ModelTestResult]:
        return self.run_spec(yaml.safe_load(text), models)

    def render(self, body: Mapping[str, Any], models: Mapping[str, Model]) -> str:
        """Register the test's input fixtures as temp views and return the
        model query rendered over them."""
        model = models[body["model"].lower()]
        # Fixture views for upstreams (definition.py:112-117 uses a
        # randomized schema; temp views are the Spark-local equivalent).
        # Input shapes match the reference's _normalize_rows
        # (definition.py:461-512): a bare list is rows; `query:` is a SQL
        # fixture (routed through the same dialect pipeline as the model
        # query); `format: csv` reads inline text or `path` with optional
        # csv_settings; a yaml `path` loads rows from a file.
        test_dialect = body.get("dialect") or model.dialect

        def _to_spark_sql(sql_text: str) -> str:
            """Fixture queries transpile from the dialect the model
            query renders in (render_model_sql's ``dialect``)."""
            if test_dialect and test_dialect != "spark":
                from sqlmesh_spark.core.transpile import transpile

                return transpile(sql_text, test_dialect)
            return sql_text

        mapping = {}
        for upstream, data in (body.get("inputs") or {}).items():
            view = "test_" + upstream.replace(".", "__")
            if not isinstance(data, Mapping):
                data = {"rows": data}
            rows = data.get("rows")
            fmt = data.get("format")
            path = data.get("path")
            if data.get("query") is not None:
                if rows is not None or path is not None or fmt is not None:
                    raise ValueError(
                        f"cannot combine 'query' with 'rows'/'path'/"
                        f"'format' for {upstream}"
                    )
                self.spark.sql(
                    _to_spark_sql(data["query"])
                ).createOrReplaceTempView(view)
                mapping[upstream.lower()] = view
                continue
            if fmt == "csv":
                if path is not None and rows is not None:
                    raise ValueError(
                        f"cannot set both 'path' and 'rows' for {upstream}"
                    )
                if path is None and not isinstance(rows, str):
                    raise ValueError(
                        f"csv input for {upstream} needs a 'path' or an "
                        "inline CSV string in 'rows'"
                    )
                import io as _io

                import pandas as pd

                csv_settings = data.get("csv_settings") or {}
                rows = pd.read_csv(
                    path or _io.StringIO(rows), **csv_settings
                ).to_dict(orient="records")
            elif fmt in (None, "yaml") and path:
                if rows is not None:
                    raise ValueError(
                        f"cannot set both 'path' and 'rows' for {upstream}"
                    )
                with open(path) as fh:
                    loaded = yaml.safe_load(fh)
                rows = loaded.get("rows") if isinstance(loaded, Mapping) else loaded
            elif fmt not in (None, "yaml", "csv"):
                raise ValueError(f"unsupported input format {fmt!r} for {upstream}")
            if rows is None:
                raise ValueError(f"missing row data for {upstream}")
            types = data.get("columns")
            if types is None and upstream.lower() in models:
                up = models[upstream.lower()]
                types = {c: t for c, t in up.columns.items()} or None
            _rows_to_df(self.spark, rows, types).createOrReplaceTempView(view)
            mapping[upstream.lower()] = view

        test_vars = body.get("vars", {}) or {}
        # The production render over the FIXTURE views: @STAR/@UNION read
        # their schemas, and a test may declare its own `dialect:`
        # (reference test/runner.py:43-77 runs model tests on the test
        # connection in the model's dialect), which wins over the model's.
        # vars.execution_time freezes @execution_* like the reference
        # runner (test/definition.py:120 _execution_time).
        execution_time = test_vars.get("execution_time")
        return render_model_sql(
            self.spark,
            model.query,
            str(test_vars.get("start", "1970-01-01")),
            str(test_vars.get("end", "2100-01-01")),
            mapping,
            model=model,
            this_model=model.name,
            execution_time=None if execution_time is None else str(execution_time),
            dialect=test_dialect,
        )

    def _run_one(self, name: str, body: Mapping[str, Any], models: Mapping[str, Model]) -> ModelTestResult:
        sql = self.render(body, models)
        failures: list[str] = []
        outputs = body.get("outputs") or {}
        # outputs.partial: true compares only the columns the expected
        # rows spell out (reference test/definition.py:228-235, 456-510);
        # a per-output `partial` overrides the outputs-level default.
        partial_all = bool(outputs.get("partial"))

        def _check(sql_text: str, expected: Mapping[str, Any], label: str) -> None:
            df = self.spark.sql(sql_text)
            exp_rows = expected["rows"]
            partial = expected.get("partial", partial_all)
            if partial:
                # a typo'd expected column must FAIL, not compare a
                # silent NULL against a null expectation — checked
                # BEFORE collect() (analysis-only, no Spark job)
                cols = {k for row in exp_rows for k in row}
                unknown = sorted(cols - set(df.columns))
                if unknown:
                    failures.append(
                        f"{label}: partial output references unknown "
                        f"column(s) {unknown}"
                    )
                    return
            got = [r.asDict() for r in df.collect()]
            if partial:
                got = [{k: r.get(k) for k in cols} for r in got]
                # ragged expected rows: a row omitting a column asserts
                # NULL for it (the reference's pandas normalization)
                exp_rows = [{k: row.get(k) for k in cols} for row in exp_rows]
            if _canon(got) != _canon(exp_rows):
                failures.append(
                    f"{label}: expected {_canon(exp_rows)}, got {_canon(got)}"
                )

        def _norm_out(expected: Any) -> Mapping[str, Any]:
            # bare-list expected rows — same shorthand inputs accept
            # (reference _normalize_rows wraps non-dict values)
            return expected if isinstance(expected, Mapping) else {"rows": expected}

        for cte_name, expected in (outputs.get("ctes") or {}).items():
            cte_sql = extract_cte(sql, cte_name)
            if cte_sql is None:
                failures.append(f"cte {cte_name!r} not found")
                continue
            _check(cte_sql, _norm_out(expected), f"cte {cte_name}")

        if "query" in outputs:
            _check(sql, _norm_out(outputs["query"]), "query")

        return ModelTestResult(name=name, passed=not failures, failures=failures)
