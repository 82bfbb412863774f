"""Parity of ``inline_table`` (Arrow → ``LocalRelation``) with
``spark.createDataFrame(list(rows))``, the RDD-backed route it replaces:
same schema, same collected rows, same timestamp instants, and a plan
whose rows live in the plan itself. Its schema inference, run on one row
per row shape, must equal ``spark._inferSchemaFromList`` over every row."""

from __future__ import annotations

import datetime as dt
import time
from decimal import Decimal

import pytest
from pyspark.errors import PySparkTypeError, PySparkValueError
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from dynamicqueryengine_spark.sources.registry import inline_table

from .conftest import _perfbench_users


def _plan_node(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def _micros(df):
    """Every timestamp column as ``unix_micros``: the instant, independent
    of how the driver renders it back."""
    cols = [f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp"]
    return [tuple(r) for r in df.select(*[F.unix_micros(F.col(c)) for c in cols]).collect()]


def assert_parity(spark, rows):
    want = spark.createDataFrame(list(rows))
    got = inline_table(spark, rows)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert _micros(got) == _micros(want)
    assert _plan_node(got) == "LocalRelation"
    return got


@pytest.fixture
def new_york(monkeypatch):
    """Host-local time five hours off UTC for the test's duration."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_nulls_and_ragged_rows(spark):
    assert_parity(
        spark,
        [
            {"a": 1, "b": "x"},
            {"a": None, "c": 2.5},
            {"b": None, "c": None, "a": 3},
        ],
    )


def test_mixed_int_float_and_bool(spark):
    # PySpark does not merge bigint with double: both routes refuse alike
    mixed = [{"x": 1}, {"x": 2.5}]
    with pytest.raises(PySparkTypeError, match="CANNOT_MERGE_TYPE"):
        spark.createDataFrame(mixed)
    with pytest.raises(PySparkTypeError, match="CANNOT_MERGE_TYPE"):
        inline_table(spark, mixed)
    assert_parity(
        spark,
        [{"x": 1.0, "n": 1, "flag": True}, {"x": 2.5, "n": -2, "flag": False},
         {"x": None, "n": None, "flag": None}],
    )


def test_atomic_values_merged_into_string(spark):
    # inference merges any atomic type with string into string, and
    # createDataFrame renders the other values as text
    got = assert_parity(
        spark,
        [
            {"x": "s", "m": {"a": 1, "b": "x"}, "l": [1, "y"]},
            {"x": 1, "m": {"c": True}, "l": [2.5, None]},
            {"x": True, "m": None, "l": [dt.date(2024, 1, 2)]},
            {"x": 2.5, "m": {}, "l": []},
            {"x": Decimal("1.50"), "m": None, "l": None},
            {"x": dt.datetime(2024, 1, 2, 3, 4, 5, 6), "m": None, "l": None},
        ],
    )
    assert [r["x"] for r in got.collect()][:4] == ["s", "1", "true", "2.5"]


def test_maps_arrays_and_nested_lists(spark):
    assert_parity(
        spark,
        [
            {"m": {"k": 1, "j": None}, "arr": [1, None, 3], "nested": [[1, 2], [], None]},
            {"m": None, "arr": [], "nested": [[4]]},
            {"m": {}, "arr": None, "nested": None},
        ],
    )


def test_date_decimal_bytes_and_aware_datetime(spark):
    plus3 = dt.timezone(dt.timedelta(hours=3))
    assert_parity(
        spark,
        [
            {
                "d": dt.date(2024, 1, 2),
                "dec": Decimal("1.25"),
                "b": b"\x00ab",
                "ts": dt.datetime(2024, 1, 1, 12, 30, tzinfo=plus3),
            },
            {
                "d": None,
                "dec": Decimal("-7"),
                "b": None,
                "ts": dt.datetime(2024, 7, 1, 0, 0, 0, 123456, tzinfo=dt.timezone.utc),
            },
        ],
    )


def test_naive_datetime_keeps_host_local_instant(spark, new_york):
    got = assert_parity(
        spark,
        [
            {"ts": dt.datetime(2024, 1, 15, 9, 0), "tags": [dt.datetime(2024, 7, 4, 12)]},
            {"ts": dt.datetime(2024, 7, 4, 23, 59, 59), "tags": None},
        ],
    )
    # 09:00 EST is 14:00 UTC
    assert _micros(got)[0][0] == int(
        dt.datetime(2024, 1, 15, 14, tzinfo=dt.timezone.utc).timestamp() * 1_000_000
    )
    arr = got.select(F.unix_micros(F.col("tags")[0])).first()[0]
    assert arr == int(dt.datetime(2024, 7, 4, 16, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)


SCHEMA = StructType(
    [StructField("id", LongType(), False), StructField("name", StringType(), True)]
)


def test_explicit_schema_is_used_as_given(spark):
    rows = [{"id": 1, "name": "a"}, {"id": 2}, {"id": 3, "name": 5}]
    for schema in (SCHEMA, "id bigint not null, name string"):
        got = inline_table(spark, rows, schema=schema)
        want = spark.createDataFrame(rows, schema=schema)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        assert _plan_node(got) == "LocalRelation"


@pytest.mark.parametrize(
    "row",
    [{"id": None, "name": "a"}, {"id": "1", "name": "a"}, {"id": [1], "name": "a"}],
    ids=["null_in_non_nullable", "string_for_bigint", "list_for_bigint"],
)
def test_explicit_schema_rejects_bad_rows(spark, row):
    with pytest.raises(Exception):
        spark.createDataFrame([row], schema=SCHEMA)
    with pytest.raises(Exception):
        inline_table(spark, [row], schema=SCHEMA)



def assert_inference_parity(spark, rows):
    """``inline_table``'s schema and rows against inference over every row."""
    got = inline_table(spark, rows)
    assert got.schema == spark._inferSchemaFromList(rows)
    assert got.collect() == spark.createDataFrame(rows).collect()
    return got


@pytest.fixture
def inferred_rows(monkeypatch):
    """Every row PySpark's ``_infer_schema`` is called on, in order."""
    import pyspark.sql.session as session

    calls = []
    infer = session._infer_schema

    def counting(row, *args, **kwargs):
        calls.append(row)
        return infer(row, *args, **kwargs)

    monkeypatch.setattr(session, "_infer_schema", counting)
    return calls


class TestInferencePerShape:
    def test_int_column_merges_to_string_on_a_later_row(self, spark):
        rows = [{"a": i, "b": f"s{i}"} for i in range(50)]
        rows.insert(30, {"a": "x", "b": "y"})
        got = assert_inference_parity(spark, rows)
        assert got.schema["a"].dataType == StringType()

    def test_int_then_float_refuses_alike(self, spark):
        rows = [{"x": i} for i in range(10)] + [{"x": 2.5}, {"x": 3}]
        with pytest.raises(PySparkTypeError, match="CANNOT_MERGE_TYPE") as want:
            spark._inferSchemaFromList(rows)
        with pytest.raises(PySparkTypeError, match="CANNOT_MERGE_TYPE") as got:
            inline_table(spark, rows)
        assert str(got.value) == str(want.value)

    def test_ragged_rows_append_later_keys_in_order(self, spark):
        rows = [{"b": 1}] * 5 + [{"b": 2, "z": "z"}, {"b": 3}, {"a": True, "b": 4}]
        rows += [{"b": 5, "z": "w"}, {"c": 1.5}]
        got = assert_inference_parity(spark, rows)
        assert got.schema.names == ["b", "z", "a", "c"]

    def test_same_keys_in_another_insertion_order(self, spark):
        rows = [{"a": 1, "b": "x"}, {"b": "y", "a": 2}, {"a": 3, "b": "z"}, {"b": None, "a": 4}]
        assert_inference_parity(spark, rows)

    def test_all_null_column_cannot_be_typed(self, spark):
        rows = [{"a": i, "n": None} for i in range(10)]
        with pytest.raises(PySparkValueError, match="CANNOT_DETERMINE_TYPE"):
            spark._inferSchemaFromList(rows)
        with pytest.raises(PySparkValueError, match="CANNOT_DETERMINE_TYPE"):
            inline_table(spark, rows)

    def test_perfbench_payload(self, spark):
        assert_inference_parity(spark, _perfbench_users(2000))

    def test_rows_of_one_shape_are_inferred_once(self, spark, inferred_rows):
        rows = _perfbench_users(2000)
        rows[7] = {**rows[7], "Age": None}
        inline_table(spark, rows)
        assert inferred_rows == [rows[0], rows[7]]

    def test_other_values_are_inferred_per_row(self, spark, inferred_rows):
        rows = [
            {"l": [1], "d": Decimal("1.5"), "t": dt.date(2024, 1, 2)},
            {"l": [2], "d": Decimal("2.5"), "t": dt.date(2024, 1, 3)},
        ]
        assert_inference_parity(spark, rows)
        assert inferred_rows[:2] == rows

    def test_shape_keeps_exact_types_and_plain_dicts(self):
        import enum
        from collections import OrderedDict

        from dynamicqueryengine_spark.sources.registry import _shape_representatives

        class Level(enum.IntEnum):
            LOW = 1

        rows = [
            {"a": 1}, {"a": True}, {"a": 2}, {"a": Level.LOW}, {"a": Level.LOW},
            OrderedDict(a=3), OrderedDict(a=3), {"a": False},
        ]
        # 1 == True, so compare the kept rows by identity
        kept = [id(r) for r in _shape_representatives(rows)]
        assert kept == [id(rows[i]) for i in (0, 1, 3, 4, 5, 6)]
