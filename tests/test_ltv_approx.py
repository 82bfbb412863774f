"""Approx-decile scale path (window_customer_ltv_deciles_approx) tied to
the exact ntile twin: identical exact aggregates, guarantee booleans, and
the bounded-disagreement contract between the broadcast-bucket join and
the exact ntile assignment."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return {tuple(r) for r in df.collect()}


class TestLtvDecilesApprox:
    def test_guarantees_hold_and_exact_columns_match_twin(self, spark):
        qs = entry_mod.queries()
        approx = qs["window_customer_ltv_deciles_approx"](spark, SF_DIR)
        exact = qs["window_customer_ltv_deciles"](spark, SF_DIR)
        arows = approx.collect()
        assert len(arows) == 10
        # the GK rank guarantee and the disagreement budget must BOTH
        # hold — these are the booleans the value oracle pins TRUE
        assert all(r["approx_ok"] for r in arows)
        assert all(r["disagree_ok"] for r in arows)
        # the oracled exact columns are the exact twin's, value-for-value
        trimmed = {
            (r["decile"], r["n_customers"], r["n_orders"],
             r["total_ltv"], r["min_ltv"], r["max_ltv"])
            for r in arows
        }
        assert trimmed == _rows(exact)

    def test_bucket_join_disagreement_is_bounded(self, spark):
        """Direct bounded-disagreement assertion: recompute the bucket
        assignment from percentile_approx cut points and count customers
        whose bucket differs from exact ntile — must be within the
        measured rank budget sum(slack_i + 1) the query enforces."""
        from pyspark.sql import Window, functions as F
        from dynamicqueryengine_spark.sources.registry import load_table

        accuracy = 100
        ltv = (
            load_table(spark, SF_DIR, "orders")
            .groupBy("o_custkey")
            .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("ltv"))
        )
        rows = sorted(
            ((r["ltv"], r["o_custkey"]) for r in ltv.collect()),
            key=lambda x: (x[0], x[1]),
        )
        n = len(rows)
        cuts = ltv.agg(
            F.percentile_approx("ltv", [i / 10.0 for i in range(1, 10)], accuracy)
        ).collect()[0][0]
        budget = 0
        for i, c in enumerate(cuts, start=1):
            t = -(-i * n // 10)  # ceil(i*n/10)
            rlo = sum(1 for v, _ in rows if v < c)
            rhi = sum(1 for v, _ in rows if v <= c)
            budget += max(rhi, t) - min(rlo, t) + 1
        # exact ntile assignment (desc value order), python twin
        q, r = divmod(n, 10)
        sizes = [q + 1 if d < r else q for d in range(10)]
        desc = sorted(rows, key=lambda x: (-x[0], x[1]))
        exact = {}
        pos = 0
        for d, s in enumerate(sizes, start=1):
            for v, k in desc[pos : pos + s]:
                exact[k] = d
            pos += s
        n_dis = 0
        for v, k in rows:
            approx_d = 10 - sum(1 for c in cuts if v > c)
            if approx_d != exact[k]:
                n_dis += 1
        assert n_dis <= budget


class TestRfmSegmentsApprox:
    def test_guarantees_hold_and_exact_columns_match_twin(self, spark):
        qs = entry_mod.queries()
        approx = qs["window_customer_rfm_segments_approx"](spark, SF_DIR)
        exact = qs["window_customer_rfm_segments"](spark, SF_DIR)
        arows = approx.collect()
        assert all(r["approx_ok"] for r in arows)
        assert all(r["disagree_ok"] for r in arows)
        trimmed = {
            (r["segment"], r["n_customers"], r["segment_value"]) for r in arows
        }
        assert trimmed == _rows(exact)


class TestEmptyOrders:
    """On an empty ``orders`` table both approx queries return the empty
    report their DuckDB oracles return instead of raising in Python."""

    @pytest.mark.parametrize(
        "name",
        [
            "window_customer_ltv_deciles_approx",
            "window_customer_rfm_segments_approx",
        ],
    )
    def test_empty_orders_returns_empty_report(self, spark, tmp_path, name):
        import duckdb
        import pyarrow.parquet as pq

        empty = str(tmp_path / "orders.parquet")
        pq.write_table(
            pq.read_schema(f"{SF_DIR}/orders.parquet").empty_table(), empty
        )
        rows = entry_mod.queries()[name](spark, str(tmp_path)).collect()
        con = duckdb.connect()
        con.execute(f"CREATE VIEW orders AS SELECT * FROM '{empty}'")
        assert rows == []
        assert con.sql(entry_mod.oracle_sql()[name]).fetchall() == []
