"""HTTP/request facade — the reference's entry point #1 re-expressed.

Mirrors ``POST /rules/evaluate`` (RuleController.cs:12-28): the request body
carries a rule document plus inline rows (``EvaluateRequest {Rule, Users}``,
RuleController.cs:31-35); the response is the evaluated row list on 200 or
``{"Error": msg}`` on 400 (RuleController.cs:24-27).

Two layers:

* :func:`evaluate_request` — pure function: payload dict → response dict.
  The unit the controller wraps; usable in-process without any server.
* :func:`serve` — a stdlib ``ThreadingHTTPServer`` exposing the same JSON
  contract at ``POST /rules/evaluate`` (no web framework in the container;
  the facade is deliberately thin — all real work is the engine pipeline).

Inline-payload scale note: this path exists for reference parity and
small interactive calls. ``inline_table`` ships the rows to the JVM as one
Arrow table that Spark keeps in the plan as a ``LocalRelation``, so a
filter-only rule answers without a Spark job (Catalyst even evaluates the
filter at plan time). Grouped rules and multi-rule unions read the rows as
one partition, so their aggregate needs no shuffle and runs as one Spark
job. Above ``spark.sql.execution.arrow.localRelationThreshold``
(48 MiB by default) Spark holds the rows in an RDD instead. Large datasets
should flow through the table registry (Parquet scans with pushdown), not
the request body — same as the reference, whose in-memory list was its only
option (SURVEY.md §1.1).
"""

from __future__ import annotations

import json
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any, Mapping

from pyspark.sql import DataFrame, SparkSession

from .operators.executor import apply_rule, execute_rules
from .plans.model import RuleDefinition, _ci_get
from .sources.registry import inline_table


def evaluate_request(
    spark: SparkSession,
    payload: Mapping[str, Any],
    type_name: str = "User",
) -> dict[str, Any]:
    """Evaluate ``{Rule: ..., Users: [...]}`` (or ``Rules: [...]`` for the
    multi-rule batch executor, RuleDefinitionExecutor.cs:8-28).

    Returns ``{"status": 200, "rows": [...]}`` or
    ``{"status": 400, "Error": msg}`` — the reference's error envelope.
    """
    try:
        out = _request_frame(spark, payload, type_name)
        return {
            "status": 200,
            "rows": [row.asDict(recursive=True) for row in out.collect()],
        }
    except Exception as exc:  # any failure → 400 {Error} (RuleController.cs:24-27)
        return {"status": 400, "Error": str(exc)}


def explain_request(
    spark: SparkSession,
    payload: Mapping[str, Any],
    type_name: str = "User",
) -> dict[str, Any]:
    """Explain ``{Rule|Rules, Users}`` WITHOUT executing it: build the
    frame :func:`evaluate_request` would collect and return Catalyst's
    analyzed, optimized and physical plans — the introspection surface a
    rule author uses to confirm the predicate compiled and folded/pushed
    the way SCALE.md promises (the engine analog of ``EXPLAIN``). Over
    inline rows the optimizer evaluates a filter at plan time
    (``ConvertToLocalRelation``), so the compiled predicate shows in
    ``analyzed_plan`` while the optimized plan of a filter-only rule is
    the resulting ``LocalRelation``. Same 400 {Error} envelope as
    evaluate."""
    try:
        qe = _request_frame(spark, payload, type_name)._jdf.queryExecution()
        return {
            "status": 200,
            "analyzed_plan": qe.analyzed().toString(),
            "optimized_plan": qe.optimizedPlan().toString(),
            "physical_plan": qe.executedPlan().toString(),
        }
    except Exception as exc:
        return {"status": 400, "Error": str(exc)}


def _request_frame(
    spark: SparkSession, payload: Mapping[str, Any], type_name: str
) -> DataFrame:
    """The result frame of a request: its rule or ``Rules`` batch over its
    inline rows. A request that aggregates (a ``Rules`` union, or a rule
    whose ``GroupBy`` and ``Aggregation`` pass ``apply_rule``'s gate)
    reads the rows as one partition, so its aggregate needs no
    ``Exchange`` and runs as one Spark job instead of two; the filter
    still folds into the rows at plan time. A filter-only request keeps
    the bare ``LocalRelation``, which answers without a job."""
    rows = _ci_get(payload, "Users", "Rows")
    if not rows:
        raise ValueError("Request must include a non-empty 'Users' row list.")
    df = inline_table(spark, rows)
    params = _ci_get(payload, "ExternalParams", "Params")
    rules_raw = _ci_get(payload, "Rules")
    if rules_raw:
        rules = [RuleDefinition.from_dict(r) for r in rules_raw]
        return execute_rules(df.coalesce(1), rules, external_params=params)
    rule_raw = _ci_get(payload, "Rule")
    if rule_raw is None:
        raise ValueError("Request must include 'Rule' or 'Rules'.")
    rule = RuleDefinition.from_dict(rule_raw)
    if rule.group_by and rule.aggregation is not None:
        df = df.coalesce(1)
    return apply_rule(df, rule, external_params=params, type_name=type_name)


# Self-description payload — the engine's analog of the reference's
# Swagger/OpenAPI exposure (Program.cs:9-17): machine-readable inventory
# of endpoints, the 27 predicate operators, and the aggregation surface.
API_DESCRIPTION: dict[str, Any] = {
    "service": "dynamicqueryengine_spark",
    "endpoints": {
        "POST /rules/evaluate": "evaluate {Rule|Rules, Users} -> rows | 400 {Error}",
        "POST /rules/explain": (
            "compile {Rule|Rules, Users}; return Catalyst plans "
            "(analyzed_plan, optimized_plan, physical_plan), no execution"
        ),
        "GET /rules/describe": "this document",
    },
    "operators": [
        "Equal", "NotEqual", "GreaterThan", "GreaterThanOrEqual", "LessThan",
        "LessThanOrEqual", "In", "NotIn", "Contains", "NotContains",
        "StartsWith", "EndsWith", "Null", "NotNull", "NotEmpty", "Empty",
        "NullOrEmpty", "NotNullOrEmpty", "ContainIfCountIsGreater",
        "ContainIfCountIsLess", "MustContainIfCountIsGreater", "If",
        "DynamicEqual", "DynamicNullOrEmpty", "DynamicNotNullOrEmpty",
        "DynamicNotEmpty", "DynamicEmpty",
    ],
    "logical_operators": ["AND", "OR"],
    "aggregate_functions": ["Min", "Max", "Count"],
    "rule_shape": {
        "Name": "str?",
        "Conditions": {
            "LogicalOperator": "AND|OR",
            "Negate": "bool?",
            "Conditions": [{"Property": "str", "Operator": "str", "Value": "any"}],
            "Groups": ["(recursive)"],
        },
        "GroupBy": ["str"],
        "Aggregation": {"AggregateProperty": "str", "AggregateFunction": "Min|Max|Count"},
    },
}


def serve(
    spark: SparkSession, host: str = "127.0.0.1", port: int = 8080
) -> ThreadingHTTPServer:
    """Start the HTTP facade (non-blocking; call ``.shutdown()`` to stop)."""

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self) -> None:  # noqa: N802 (stdlib casing)
            if self.path.rstrip("/") != "/rules/describe":
                self.send_error(404)
                return
            data = json.dumps(API_DESCRIPTION).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_POST(self) -> None:  # noqa: N802 (stdlib casing)
            route = self.path.rstrip("/")
            if route not in ("/rules/evaluate", "/rules/explain"):
                self.send_error(404)
                return
            try:
                raw = self.headers.get("Content-Length", "0")
                if not raw.strip().isdigit():  # a negative one reads to EOF
                    raise ValueError(f"invalid Content-Length {raw!r}")
                length = int(raw)
                payload = json.loads(self.rfile.read(length) or b"{}")
                handler = (
                    explain_request
                    if route == "/rules/explain"
                    else evaluate_request
                )
                result = handler(spark, payload)
            except json.JSONDecodeError as exc:
                result = {"status": 400, "Error": f"Invalid JSON: {exc}"}
            except ValueError as exc:  # the Content-Length, or the encoding
                result = {"status": 400, "Error": f"Bad request: {exc}"}
            body = dict(result)
            status = body.pop("status")
            data = json.dumps(body.get("rows", body), default=str).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *args: Any) -> None:  # silence request logging
            pass

    server = ThreadingHTTPServer((host, port), Handler)
    import threading

    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server
