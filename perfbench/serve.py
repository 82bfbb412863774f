"""rule_serve: ``POST /rules/evaluate`` over loopback HTTP through
``api.serve()``, one closed-loop client, a seed-fixed rotation of six
request shapes at three inline payload sizes plus one invalid request."""

from __future__ import annotations

import http.client
import json
import time
from typing import Iterator

from core import Op, Record
from inputs import SIZES, serve_slots

ROTATION = 19  # six shapes x three sizes + the invalid slot
WARM_OPS = ROTATION  # one whole rotation: every shape at every size


def ends_rotation(op: Op) -> bool:
    return op.meta["slot"] == ROTATION - 1


class RuleServe:
    def __init__(self, spark, seed: int) -> None:
        from dynamicqueryengine_spark.api import serve

        self.spark = spark
        self.slots = serve_slots(seed)
        self.bodies = [json.dumps(p).encode() for _, _, p in self.slots]
        self.next_slot = 0
        self.server = serve(spark, port=0)
        self.port = self.server.server_address[1]

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()

    def post(self, body: bytes) -> tuple[int, bytes]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            conn.request(
                "POST", "/rules/evaluate", body, {"Content-Type": "application/json"}
            )
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()

    def ops(self) -> Iterator[Op]:
        while True:
            i = self.advance()
            shape, size, _ = self.slots[i]
            yield Op(shape, lambda b=self.bodies[i]: self.post(b), {"slot": i, "size": size})

    def advance(self) -> int:
        """The next slot of the rotation, shared by untraced and traced ops."""
        i = self.next_slot
        self.next_slot = (i + 1) % len(self.slots)
        return i

    # -- traced run --------------------------------------------------------------
    def traced_window(self, tracer, ops: Iterator[Op], seconds: float) -> list[Record]:
        """Traced slots continue the rotation where ``ops`` left off."""
        records: list[Record] = []
        start = time.perf_counter()
        while time.perf_counter() - start < seconds or len(records) < 10:
            records.append(trace_op(self, tracer, self.advance()))
        return records

    def leg(self, tracer) -> list[Record]:
        """Each request shape once, at the smallest payload size."""
        small = min(SIZES)
        return [trace_op(self, tracer, i) for i, s in enumerate(self.slots) if s[1] == small]

    def exec_spans(self, tracer) -> list:
        return tracer.by_name("exec")

    def layer_metrics(self, tracer) -> dict:
        return {
            "api.http_overhead_ms": tracer.median_ms("api.http") - tracer.median_ms("api.evaluate"),
            "api.response_bytes": tracer.median_of("api.http", "bytes"),
            "plans.parse_ms": tracer.median_ms("plans.parse"),
            "plans.validate_ms": tracer.median_ms("plans.validate"),
            "registry.inline_ms": tracer.median_ms("registry.inline"),
            "registry.inline_py4j_calls": tracer.median_of("registry.inline", "py4j"),
            "operators.build_ms": tracer.median_ms("operators.build"),
            "operators.py4j_calls": tracer.median_of("operators.build", "py4j"),
            "catalyst.plan_ms": tracer.median_ms("catalyst.plan"),
        }

    # -- output checks (after the window) -----------------------------------
    def check(self, records: list[Record]) -> list[str]:
        """Compare every response with DuckDB running the SQL that
        ``plans/sqlgen.py`` generates from the same rule document; the
        invalid slot must answer with the 400 ``{Error}`` envelope."""
        expected = {}
        for r in records:
            if r.error is not None:
                continue
            slot = r.op.meta["slot"]
            if slot not in expected:
                expected[slot] = self._oracle(slot)
            status, body = r.output
            want_status, want_rows = expected[slot]
            if status != want_status:
                r.wrong = f"status {status}, expected {want_status}"
                continue
            got = json.loads(body)
            if want_rows is None:
                if not (isinstance(got, dict) and isinstance(got.get("Error"), str)):
                    r.wrong = "400 without an {Error} envelope"
            elif _canon_dicts(got, want_rows[0]) != want_rows[1]:
                r.wrong = f"rows differ from the DuckDB oracle ({len(got)} rows)"
        return []

    def _oracle(self, slot: int):
        import duckdb
        import pyarrow as pa

        from dynamicqueryengine_spark import RuleDefinition, SqlGenerator, inline_table

        shape, _, payload = self.slots[slot]
        if shape == "invalid":
            return 400, None
        schema = inline_table(self.spark, payload["Users"]).schema
        arrow_types = {"bigint": pa.int64(), "double": pa.float64(), "string": pa.string(), "boolean": pa.bool_()}
        table = pa.Table.from_pylist(
            payload["Users"],
            schema=pa.schema([(f.name, arrow_types[f.dataType.simpleString()]) for f in schema.fields]),
        )
        gen = SqlGenerator(schema, payload.get("ExternalParams"))
        if "Rules" in payload:
            sql = gen.rules_union_sql([RuleDefinition.from_dict(r) for r in payload["Rules"]], "users")
        else:
            sql = gen.rule_sql(RuleDefinition.from_dict(payload["Rule"]), "users")
        con = duckdb.connect()
        try:
            con.register("users", table)
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = sorted(tuple(_canon(v) for v in row) for row in res.fetchall())
        finally:
            con.close()
        return 200, (cols, rows)


def _canon(v):
    return round(v, 6) if isinstance(v, float) else v


def _canon_dicts(rows: list[dict], cols: list[str]):
    if any(set(r) != set(cols) for r in rows):
        return None
    return sorted(tuple(_canon(r[c]) for c in cols) for r in rows)


# -- traced run ---------------------------------------------------------------
def trace_op(wl: RuleServe, tracer, slot: int) -> Record:
    """One traced slot: the HTTP request, ``evaluate_request`` on the same
    payload, and the same evaluation split into its layers' public calls."""
    from dynamicqueryengine_spark import (
        RuleDefinition,
        execute_rules,
        apply_rule,
        inline_table,
        validate_rule,
    )
    from dynamicqueryengine_spark.api import evaluate_request

    shape, size, payload = wl.slots[slot]
    tracer.next_op()
    with tracer.span("op"):
        with tracer.span("api.http") as http:
            output = wl.post(wl.bodies[slot])
            http.bytes = len(output[1])
        record = Record(Op(shape, None, {"slot": slot, "size": size}), http.end - http.start, output)
        with tracer.span("api.evaluate"):
            evaluate_request(wl.spark, payload)
        if shape == "invalid":
            return record
        with tracer.span("registry.inline"):
            df = inline_table(wl.spark, payload["Users"])
        raw = payload.get("Rules") or [payload["Rule"]]
        with tracer.span("plans.parse"):
            rules = [RuleDefinition.from_dict(r) for r in raw]
        schema = df.schema
        with tracer.span("plans.validate"):
            for rule in rules:
                validate_rule(rule, schema, "User")
        params = payload.get("ExternalParams")
        with tracer.span("operators.build"):
            if "Rules" in payload:
                out = execute_rules(df, rules, external_params=params)
            else:
                out = apply_rule(df, rules[0], external_params=params, type_name="User")
        with tracer.span("catalyst.plan"):
            out._jdf.queryExecution().executedPlan()
        with tracer.span("exec", jobs=True):
            out.collect()
    return record
