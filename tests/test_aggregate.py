"""Aggregation tests: argmin/argmax whole-row semantics, Count, group-by
modes, deterministic ties, and min_by-vs-window equivalence (SURVEY.md §2.3)."""

from __future__ import annotations

import pytest

from dynamicqueryengine_spark import RuleDefinition, RuleValidationError, apply_rule
from dynamicqueryengine_spark.operators.aggregate import apply_aggregation
from dynamicqueryengine_spark.plans.model import AggregationDefinition

from .conftest import ids_of


def agg_rule(group_by, func, prop=None, conditions=None):
    return RuleDefinition.from_dict(
        {
            "Name": "agg",
            "Conditions": conditions,
            "GroupBy": group_by,
            "Aggregation": {"AggregateProperty": prop, "AggregateFunction": func},
        }
    )


class TestArgMinMax:
    def test_max_returns_whole_row_per_group(self, users_df):
        got = apply_rule(users_df, agg_rule(["CompanyCode"], "Max", "RegNo"))
        rows = {r["CompanyCode"]: r["Id"] for r in got.collect()}
        # RegNo ordered numerically (string column → decimal coercion):
        # ACME max 91 (u11), GLOBEX max 92 (u12), INITECH max 80 (u9), None 90 (u10)
        assert rows["ACME"] == "u11"
        assert rows["GLOBEX"] == "u12"
        assert rows["INITECH"] == "u9"
        assert got.columns == users_df.columns  # argmax keeps full schema

    def test_min_with_deterministic_tie_break(self, users_df):
        # NationalIdNumber has a tie (250 twice in ACME with filter below);
        # tie-break = remaining columns in schema order → LoginName "Bob" < "bobby"
        rule = agg_rule(
            ["CompanyCode"],
            "Min",
            "NationalIdNumber",
            conditions={
                "Conditions": [
                    {"Property": "Id", "Operator": "In", "Value": ["u2", "u3"]}
                ]
            },
        )
        got = apply_rule(users_df, rule)
        assert ids_of(got) == ["u2"]

    def test_window_and_minby_paths_agree(self, users_df):
        agg = AggregationDefinition.from_dict(
            {"AggregateProperty": "RegNo", "AggregateFunction": "Min"}
        )
        fast = apply_aggregation(users_df, ["CompanyCode"], agg)
        window = apply_aggregation(users_df, ["CompanyCode"], agg, use_window=True)
        assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, window.collect()))

    def test_global_aggregate_with_empty_keys(self, users_df):
        # legacy always-aggregate path: empty GroupBy → one global group
        # (AggregationEngine.cs:12-14)
        agg = AggregationDefinition.from_dict(
            {"AggregateProperty": "RegNo", "AggregateFunction": "Max"}
        )
        got = apply_aggregation(users_df, [], agg)
        assert [r["Id"] for r in got.collect()] == ["u12"]  # RegNo 92



ODD_SCHEMA = (
    "`id` bigint, `grp.key` string, `sc``ore` string, `a b` double, "
    "payload struct<amount: double, note: string>"
)
ODD_ROWS = [
    (1, "x", "10", 1.5, (7.0, "p")),
    (2, "x", "9", 1.5, (7.0, "q")),  # ties 1 on `a b` and payload.amount
    (3, "y", None, None, (None, None)),
    (4, "y", "abc", 2.5, (3.0, "r")),
    (5, None, "10", 0.5, (1.0, "s")),
    (6, "y", "7", 2.5, (3.0, "a")),  # ties 4 on `a b` and payload.amount
]


class TestArgExtremeOddNames:
    """The single-pass path quotes names into SQL; it must pick the rows
    its window-function reference picks whatever the column names hold."""

    @pytest.fixture(scope="class")
    def odd_df(self, spark):
        return spark.createDataFrame(ODD_ROWS, ODD_SCHEMA)

    @pytest.mark.parametrize("func", ["Min", "Max"])
    @pytest.mark.parametrize("prop", ["sc`ore", "a b", "payload.amount", "id"])
    @pytest.mark.parametrize("keys", [["grp.key"], ["payload.note", "a b"], []])
    def test_matches_window_reference(self, odd_df, func, prop, keys):
        agg = AggregationDefinition.from_dict(
            {"AggregateProperty": prop, "AggregateFunction": func}
        )
        fast = apply_aggregation(odd_df, keys, agg)
        window = apply_aggregation(odd_df, keys, agg, use_window=True)
        assert fast.columns == window.columns == odd_df.columns
        assert sorted(map(repr, fast.collect())) == sorted(map(repr, window.collect()))

    def test_nested_property_picks_whole_row(self, odd_df):
        agg = AggregationDefinition.from_dict(
            {"AggregateProperty": "payload.amount", "AggregateFunction": "Max"}
        )
        got = {r["grp.key"]: r["id"] for r in apply_aggregation(odd_df, ["grp.key"], agg).collect()}
        # x: amount 7.0 ties, broken by the next columns (id 2 > id 1)
        assert got == {"x": 2, "y": 6, None: 5}

class TestGroupByModes:
    def test_live_mode_uses_first_key_only(self, users_df):
        rule = agg_rule(["CompanyCode", "Title"], "Count")
        live = apply_rule(users_df, rule, group_by_mode="first")
        assert live.columns == ["CompanyCode", "count"]

    def test_multi_key_default(self, users_df):
        rule = agg_rule(["CompanyCode", "Title"], "Count")
        got = apply_rule(users_df, rule)
        assert got.columns == ["CompanyCode", "Title", "count"]
        counts = {(r["CompanyCode"], r["Title"]): r["count"] for r in got.collect()}
        assert counts[("ACME", "Manager")] == 3  # u2, u3, u11


class TestCount:
    def test_count_per_group(self, users_df):
        got = apply_rule(users_df, agg_rule(["CompanyCode"], "Count"))
        counts = {r["CompanyCode"]: r["count"] for r in got.collect()}
        assert counts == {"ACME": 4, "GLOBEX": 4, "INITECH": 3, None: 1}

    def test_count_after_filter(self, users_df):
        rule = agg_rule(
            ["CompanyCode"],
            "Count",
            conditions={
                "Conditions": [
                    {"Property": "IsActive", "Operator": "Equal", "Value": True}
                ]
            },
        )
        counts = {r["CompanyCode"]: r["count"] for r in apply_rule(users_df, rule).collect()}
        assert counts == {"ACME": 3, "GLOBEX": 3, "INITECH": 2}


class TestValidationGates:
    def test_groupby_without_aggregation_raises(self, users_df):
        rule = RuleDefinition.from_dict({"Name": "x", "GroupBy": ["CompanyCode"]})
        with pytest.raises(
            RuleValidationError,
            match="Aggregation must be defined when GroupBy is provided.",
        ):
            apply_rule(users_df, rule)

    def test_minmax_requires_aggregate_property(self, users_df):
        rule = agg_rule(["CompanyCode"], "Min")
        with pytest.raises(
            RuleValidationError,
            match="AggregateProperty must be provided for Min/Max aggregation.",
        ):
            apply_rule(users_df, rule)

    def test_bad_groupby_field(self, users_df):
        rule = agg_rule(["NoSuchColumn"], "Count")
        with pytest.raises(RuleValidationError, match="GroupBy field 'NoSuchColumn' invalid"):
            apply_rule(users_df, rule)

    def test_bad_property_message(self, users_df):
        rule = RuleDefinition.from_dict(
            {
                "Conditions": {
                    "Conditions": [
                        {"Property": "Nope", "Operator": "Equal", "Value": 1}
                    ]
                }
            }
        )
        with pytest.raises(
            RuleValidationError, match="Property 'Nope' not found on 'Row'"
        ):
            apply_rule(users_df, rule)
