"""The lakehouse scenario kit (workloads/lakehouse.py): the one multiset
parity check and the report's column contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from dynamicqueryengine_spark.workloads.lakehouse import (
    _report,
    _signed_fold_zero,
)

_SCHEMA = "k long, s string"


class TestSignedFoldZero:
    def test_equal_multisets_with_duplicates_and_nulls(self, spark):
        a = spark.createDataFrame(
            [(1, "x"), (1, "x"), (None, None), (2, None)], _SCHEMA
        )
        b = spark.createDataFrame(
            [(2, None), (None, None), (1, "x"), (1, "x")], _SCHEMA
        )
        assert _signed_fold_zero([(a, 1), (b, -1)]) is True

    def test_different_multiplicity(self, spark):
        a = spark.createDataFrame([(1, "x"), (1, "x"), (2, "y")], _SCHEMA)
        b = spark.createDataFrame([(1, "x"), (2, "y"), (2, "y")], _SCHEMA)
        assert _signed_fold_zero([(a, 1), (b, -1)]) is False

    def test_phantom_delete_is_not_hidden(self, spark):
        """base ∖ deletes == target with a delete of a row the base never
        held: exceptAll clamps the phantom at zero and calls the replay
        exact; the signed fold nets it negative."""
        base = spark.createDataFrame([(1, "x"), (2, "y")], _SCHEMA)
        deletes = spark.createDataFrame([(3, "z")], _SCHEMA)
        target = base
        assert base.exceptAll(deletes).exceptAll(target).count() == 0
        assert target.exceptAll(base.exceptAll(deletes)).count() == 0
        assert (
            _signed_fold_zero([(base, 1), (deletes, -1), (target, -1)])
            is False
        )


class TestReport:
    def test_columns_then_boolean_pins_in_argument_order(self, spark):
        df = spark.createDataFrame(
            [("a", 1.5)], "event_type string, v double"
        ).withColumn("v", F.col("v").cast("decimal(38,12)"))
        out = _report(
            df, F.lit(7).cast("long").alias("extra"), zeta=1, alpha=False
        )
        assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
            ("event_type", "string"),
            ("n", "bigint"),
            ("sum_value", "double"),
            ("extra", "bigint"),
            ("zeta", "boolean"),
            ("alpha", "boolean"),
        ]
        row = out.collect()[0]
        assert (row["n"], row["sum_value"], row["zeta"], row["alpha"]) == (
            1, 1.5, True, False,
        )
