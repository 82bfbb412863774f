"""Tests for the HTTP facade (reference entry point #1) and the
sessionization operator (batch + applyInPandasWithState streaming twin)."""

from __future__ import annotations

import json
import urllib.request

import pytest

from dynamicqueryengine_spark.api import evaluate_request, serve
from dynamicqueryengine_spark.functions.sessions import session_stats

from .conftest import SF_DIR, _perfbench_users, spark_jobs

USERS_PAYLOAD = [
    {"Id": "u1", "Title": "Engineer", "Score": 10},
    {"Id": "u2", "Title": "Manager", "Score": 30},
    {"Id": "u3", "Title": "Engineer", "Score": 20},
]


class TestEvaluateRequest:
    def test_single_rule(self, spark):
        res = evaluate_request(
            spark,
            {
                "Rule": {
                    "Conditions": {
                        "Conditions": [
                            {"Property": "Title", "Operator": "Equal", "Value": "Engineer"}
                        ]
                    }
                },
                "Users": USERS_PAYLOAD,
            },
        )
        assert res["status"] == 200
        assert sorted(r["Id"] for r in res["rows"]) == ["u1", "u3"]

    def test_multi_rule_batch(self, spark):
        res = evaluate_request(
            spark,
            {
                "Rules": [
                    {"Conditions": {"Conditions": [
                        {"Property": "Id", "Operator": "Equal", "Value": "u1"}]}},
                    {"Conditions": {"Conditions": [
                        {"Property": "Score", "Operator": "GreaterThan", "Value": 15}]}},
                ],
                "Users": USERS_PAYLOAD,
            },
        )
        assert res["status"] == 200
        assert sorted(r["Id"] for r in res["rows"]) == ["u1", "u2", "u3"]

    def test_error_envelope(self, spark):
        res = evaluate_request(
            spark,
            {
                "Rule": {
                    "Conditions": {
                        "Conditions": [
                            {"Property": "Nope", "Operator": "Equal", "Value": 1}
                        ]
                    }
                },
                "Users": USERS_PAYLOAD,
            },
        )
        assert res["status"] == 400
        assert "Property 'Nope' not found" in res["Error"]

    def test_out_of_range_integer_gives_400(self, spark):
        # a bigint column cannot hold 2**63: refused, not answered as NULL
        res = evaluate_request(
            spark,
            {
                "Rule": {"Conditions": {"Conditions": [
                    {"Property": "Score", "Operator": "GreaterThan", "Value": 0}]}},
                "Users": [{"Id": 2**63, "Score": 1}, {"Id": 1, "Score": 2}],
            },
        )
        assert res["status"] == 400
        assert "Error" in res and "rows" not in res

    def test_missing_rows(self, spark):
        res = evaluate_request(spark, {"Rule": {}})
        assert res["status"] == 400

    def test_group_aggregate_over_http_shape(self, spark):
        res = evaluate_request(
            spark,
            {
                "Rule": {
                    "GroupBy": ["Title"],
                    "Aggregation": {
                        "AggregateProperty": "Score",
                        "AggregateFunction": "Max",
                    },
                },
                "Users": USERS_PAYLOAD,
            },
        )
        assert res["status"] == 200
        got = {r["Title"]: r["Id"] for r in res["rows"]}
        assert got == {"Engineer": "u3", "Manager": "u2"}


class TestHttpServer:
    def test_post_roundtrip(self, spark):
        server = serve(spark, port=0)
        try:
            port = server.server_address[1]
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}/rules/evaluate",
                data=json.dumps(
                    {
                        "Rule": {
                            "Conditions": {
                                "Conditions": [
                                    {
                                        "Property": "Title",
                                        "Operator": "Equal",
                                        "Value": "Manager",
                                    }
                                ]
                            }
                        },
                        "Users": USERS_PAYLOAD,
                    }
                ).encode(),
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req, timeout=60) as resp:
                assert resp.status == 200
                rows = json.loads(resp.read())
            assert [r["Id"] for r in rows] == ["u2"]
        finally:
            server.shutdown()

    def test_bad_rule_gives_400(self, spark):
        server = serve(spark, port=0)
        try:
            port = server.server_address[1]
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}/rules/evaluate",
                data=json.dumps(
                    {"Rule": {"Conditions": {"Conditions": [
                        {"Property": "Id", "Operator": "Frobnicate"}]}},
                     "Users": USERS_PAYLOAD}
                ).encode(),
            )
            with pytest.raises(urllib.error.HTTPError) as err:
                urllib.request.urlopen(req, timeout=60)
            assert err.value.code == 400
        finally:
            server.shutdown()

    @pytest.mark.parametrize("length", ["abc", "-5"])
    def test_malformed_content_length_gives_400(self, spark, length):
        """A Content-Length that is not a length is answered 400 {Error},
        not dropped with the connection (non-numeric) or read to EOF
        (negative)."""
        import http.client

        server = serve(spark, port=0)
        try:
            conn = http.client.HTTPConnection(
                "127.0.0.1", server.server_address[1], timeout=60
            )
            conn.putrequest("POST", "/rules/evaluate")
            conn.putheader("Content-Length", length)
            conn.endheaders(b"{}")
            resp = conn.getresponse()
            assert resp.status == 400
            assert "Content-Length" in json.loads(resp.read())["Error"]
            conn.close()
        finally:
            server.shutdown()


class TestServingBudget:
    """The serving path's fixed costs: Spark jobs per request and py4j
    round-trips per rule build."""

    FILTER_RULE = {
        "Conditions": {
            "LogicalOperator": "AND",
            "Conditions": [
                {"Property": "Age", "Operator": "GreaterThan", "Value": 30},
                {"Property": "IsActive", "Operator": "Equal", "Value": True},
            ],
        }
    }
    ARGMAX_RULE = {
        "Conditions": {
            "Conditions": [{"Property": "Age", "Operator": "GreaterThan", "Value": 25}]
        },
        "GroupBy": ["Department"],
        "Aggregation": {"AggregateProperty": "Salary", "AggregateFunction": "Max"},
    }

    COUNT_RULE = {
        "Conditions": {
            "Conditions": [{"Property": "IsActive", "Operator": "Equal", "Value": True}]
        },
        "GroupBy": ["Country"],
        "Aggregation": {"AggregateFunction": "Count"},
    }
    UNION_RULES = [
        {"Conditions": {"Conditions": [
            {"Property": "Age", "Operator": "LessThan", "Value": 30}]}},
        {"Conditions": {"Conditions": [
            {"Property": "Country", "Operator": "Equal", "Value": "US"},
            {"Property": "Salary", "Operator": "GreaterThan", "Value": 90_000}]}},
        {"Conditions": {"Conditions": [
            {"Property": "Title", "Operator": "Equal", "Value": "Manager"}]}},
    ]

    @pytest.mark.parametrize("n", [20, 2000])
    def test_filter_only_request_runs_no_spark_job(self, spark, n):
        payload = {"Rule": self.FILTER_RULE, "Users": _perfbench_users(n)}
        evaluate_request(spark, payload)  # warm
        res, jobs = spark_jobs(spark, lambda: evaluate_request(spark, payload))
        assert jobs == 0
        assert res["status"] == 200
        want = [u for u in payload["Users"] if u["Age"] > 30 and u["IsActive"]]
        assert sorted(r["Id"] for r in res["rows"]) == [u["Id"] for u in want]

    @pytest.mark.parametrize("n", [20, 2000])
    @pytest.mark.parametrize("shape", ["argmax", "count", "union"])
    def test_aggregate_request_runs_one_spark_job(self, spark, shape, n):
        """An aggregating request reads its rows as one partition: its
        aggregate needs no shuffle, so it runs one job, and its rows are
        those of the rule over the plain inline table."""
        from dynamicqueryengine_spark import apply_rule, execute_rules
        from dynamicqueryengine_spark.sources.registry import inline_table

        users = _perfbench_users(n)
        rule = {"argmax": self.ARGMAX_RULE, "count": self.COUNT_RULE}.get(shape)
        payload = {"Users": users, **({"Rule": rule} if rule else {"Rules": self.UNION_RULES})}
        evaluate_request(spark, payload)  # warm
        res, jobs = spark_jobs(spark, lambda: evaluate_request(spark, payload))
        assert res["status"] == 200
        assert jobs == 1
        df = inline_table(spark, users)
        want = apply_rule(df, rule) if rule else execute_rules(df, self.UNION_RULES)
        rows = [r.asDict(recursive=True) for r in want.collect()]
        assert len(res["rows"]) == len(rows) > 0

        def key(r):
            return json.dumps(r, sort_keys=True)

        assert sorted(res["rows"], key=key) == sorted(rows, key=key)

    def test_argmax_rule_build_py4j_calls(self, spark):
        import threading

        from dynamicqueryengine_spark import RuleDefinition, apply_rule
        from dynamicqueryengine_spark.sources.registry import inline_table

        df = inline_table(spark, _perfbench_users(200))
        rule = RuleDefinition.from_dict(self.ARGMAX_RULE)
        df.schema  # noqa: B018 — fetched once, as the request path does
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        me = threading.get_ident()
        calls = []

        def counting(*args, **kwargs):
            # py4j's finalizer thread releases dead JVM proxies on its own
            # schedule; only this thread's commands belong to the build
            if threading.get_ident() == me:
                calls.append(args[0])
            return send(*args, **kwargs)

        client.send_command = counting
        try:
            out = apply_rule(df, rule)
        finally:
            client.send_command = send
        assert len(calls) <= 100
        assert out.columns == df.columns


class TestSessionization:
    def test_batch_sessions_shape(self, spark):
        from dynamicqueryengine_spark.sources.registry import load_table

        out = session_stats(load_table(spark, SF_DIR, "events"), gap_seconds=1800)
        rows = out.collect()
        assert len(rows) > 0
        assert out.columns == [
            "user_id", "session_idx", "session_start", "session_end",
            "n_events", "sum_value",
        ]
        for r in rows:
            assert r["session_start"] <= r["session_end"]
            assert r["n_events"] >= 1

    def test_streaming_sessions_are_prefix_of_batch(self, spark):
        """Closed streaming sessions must agree exactly with batch sessions;
        only the final (still-open) session per user may be missing."""
        from dynamicqueryengine_spark.sources.registry import load_table
        from dynamicqueryengine_spark.streaming.rules import (
            run_stream_to_memory,
            stream_events,
        )
        from dynamicqueryengine_spark.streaming.sessionize import (
            streaming_sessionize,
        )

        stream = streaming_sessionize(
            stream_events(spark, SF_DIR).select("user_id", "ts", "value"),
            gap_seconds=1800,
        )
        run_stream_to_memory(stream, "sessions_out", output_mode="append")
        got = {
            (r["user_id"], r["session_idx"]): (r["n_events"], r["sum_value"])
            for r in spark.sql("SELECT * FROM sessions_out").collect()
        }
        assert len(got) > 0
        batch = {
            (r["user_id"], r["session_idx"]): (r["n_events"], round(r["sum_value"], 6))
            for r in session_stats(
                load_table(spark, SF_DIR, "events"), gap_seconds=1800
            ).collect()
        }
        for key, (n, s) in got.items():
            assert key in batch
            assert batch[key] == (n, round(s, 6))

    def test_idle_session_closes_via_event_time_timeout(self, spark, tmp_path):
        """r5: an idle session must emit WITHOUT a follow-up event from
        its key — a later event from a DIFFERENT key advances the
        watermark past last+gap and the event-time timeout fires,
        emitting the session closed at its true last event with the
        same aggregates the batch twin computes."""
        import datetime as dt
        import glob
        import shutil

        from dynamicqueryengine_spark.streaming.rules import (
            run_stream_to_memory,
        )
        from dynamicqueryengine_spark.streaming.sessionize import (
            streaming_sessionize,
        )

        def ts(h, m=0):
            return dt.datetime(2024, 1, 1, h, m)

        src = tmp_path / "src"
        schema = "user_id long, ts timestamp, value double"

        def stage(rows, name):
            stagedir = tmp_path / f"stage_{name}"
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
                str(stagedir)
            )
            src.mkdir(exist_ok=True)
            shutil.move(
                glob.glob(str(stagedir / "part-*.parquet"))[0],
                str(src / name),
            )

        # user 1: two events then silence; user 2: two later events whose
        # arrival (in separate micro-batches) advances the watermark
        stage([(1, ts(10, 0), 2.5), (1, ts(10, 10), 1.0)], "a.parquet")
        stage([(2, ts(12, 0), 9.0)], "b.parquet")
        stage([(2, ts(14, 0), 9.0)], "c.parquet")

        stream = streaming_sessionize(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src)),
            gap_seconds=1800,
        )
        run_stream_to_memory(stream, "idle_sessions_out", output_mode="append")
        rows = {
            r["user_id"]: r
            for r in spark.sql("SELECT * FROM idle_sessions_out").collect()
        }
        assert 1 in rows, "idle session never closed"
        r = rows[1]
        assert r["n_events"] == 2
        assert r["sum_value"] == 3.5
        assert r["session_start"] == ts(10, 0)
        assert r["session_end"] == ts(10, 10)  # closed at its TRUE last event


class TestDescribeEndpoint:
    def test_get_describe(self, spark):
        server = serve(spark, port=0)
        try:
            port = server.server_address[1]
            with urllib.request.urlopen(
                f"http://127.0.0.1:{port}/rules/describe"
            ) as resp:
                body = json.loads(resp.read())
            assert resp.status == 200
            assert len(body["operators"]) == 27
            assert "POST /rules/evaluate" in body["endpoints"]
            assert body["aggregate_functions"] == ["Min", "Max", "Count"]
        finally:
            server.shutdown()

    def test_get_unknown_path_404(self, spark):
        server = serve(spark, port=0)
        try:
            port = server.server_address[1]
            import urllib.error

            try:
                urllib.request.urlopen(f"http://127.0.0.1:{port}/nope")
                raise AssertionError("expected 404")
            except urllib.error.HTTPError as e:
                assert e.code == 404
        finally:
            server.shutdown()


class TestExplainEndpoint:
    PAYLOAD = {
        "Rule": {
            "Conditions": {
                "Conditions": [
                    {"Property": "Age", "Operator": "GreaterThan", "Value": 30}
                ]
            }
        },
        "Users": [{"Name": "a", "Age": 25}, {"Name": "b", "Age": 40}],
    }

    def test_explain_returns_plans_without_executing(self, spark):
        from dynamicqueryengine_spark.api import explain_request

        out = explain_request(spark, self.PAYLOAD)
        assert out["status"] == 200
        # the compiled predicate shows in the analyzed plan; the optimizer
        # evaluates it over the inline rows at plan time
        assert "Filter" in out["analyzed_plan"]
        assert "Age" in out["analyzed_plan"]
        assert out["optimized_plan"].startswith("LocalRelation")
        assert "rows" not in out  # no execution, no materialized rows

    def test_explain_http_route(self, spark):
        server = serve(spark, port=0)
        try:
            port = server.server_address[1]
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}/rules/explain",
                data=json.dumps(self.PAYLOAD).encode(),
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req) as resp:
                body = json.loads(resp.read())
            assert resp.status == 200
            assert {"analyzed_plan", "optimized_plan", "physical_plan"} <= set(body)
        finally:
            server.shutdown()

    def test_explain_shows_the_plan_evaluate_runs(self, spark):
        """An aggregating request's plan reads one partition and has no
        shuffle; a filter-only one stays a bare ``LocalRelation``."""
        from dynamicqueryengine_spark.api import explain_request

        users = _perfbench_users(20)
        out = explain_request(spark, {"Rule": TestServingBudget.ARGMAX_RULE, "Users": users})
        assert out["status"] == 200
        assert "Coalesce 1" in out["physical_plan"]
        assert "Exchange" not in out["physical_plan"]
        out = explain_request(spark, {"Rule": TestServingBudget.FILTER_RULE, "Users": users})
        assert out["optimized_plan"].startswith("LocalRelation")
        assert "Coalesce" not in out["physical_plan"]

    def test_explain_bad_rule_gives_400(self, spark):
        from dynamicqueryengine_spark.api import explain_request

        out = explain_request(
            spark, {"Users": [{"Name": "a"}]}  # no Rule
        )
        assert out["status"] == 400 and "Error" in out
