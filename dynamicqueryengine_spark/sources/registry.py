"""Table registry: named Parquet tables → DataFrames / temp views.

The reference has no storage layer at all — rows arrive inline in the HTTP
body (RuleController.cs:31-35) or as in-process collections
(RuleDefinitionExecutor.cs:8-13). The Spark-native equivalent of "one request
= one dataset + one rule" is "registered table + rule document", with
``inline_table`` covering the inline-payload path: the rows travel to the
JVM as one Arrow table and become a ``LocalRelation`` (rows held in the
plan), so a request over inline rows plans and runs without a Spark job.
Above ``spark.sql.execution.arrow.localRelationThreshold`` (48 MiB by
default) Spark itself keeps the rows in an RDD instead.

Scale notes: tables load lazily via ``spark.read.parquet`` — scans stay
declarative so Catalyst pushes filters/column pruning into the Parquet
reader; nothing is cached by default (at 100 TB you want pushdown, not
driver-side caching).
"""

from __future__ import annotations

import datetime as _dt
import os
from typing import Any, Iterable, Mapping

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DateType,
    MapType,
    NumericType,
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
    _make_type_verifier,
    _parse_datatype_string,
)

# The driver's synthetic star schema (TESTDATA.md).
DEFAULT_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


class TableRegistry:
    """Lazy name → DataFrame catalog over a directory of ``{name}.parquet``."""

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        tables: Iterable[str] = DEFAULT_TABLES,
    ) -> None:
        self.spark = spark
        self.base_dir = base_dir
        self.tables = tuple(tables)
        self._cache: dict[str, DataFrame] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.base_dir, f"{name}.parquet")

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            if name not in self.tables and not os.path.exists(self.path(name)):
                raise KeyError(f"Unknown table '{name}' under {self.base_dir}")
            self._cache[name] = load_table(self.spark, self.base_dir, name)
        return self._cache[name]

    def __getitem__(self, name: str) -> DataFrame:
        return self.table(name)

    def register_views(self) -> None:
        """Expose every table as a temp view for ``spark.sql`` access."""
        for name in self.tables:
            self.table(name).createOrReplaceTempView(name)


def load_table(spark: SparkSession, base_dir: str, name: str) -> DataFrame:
    """Load one parquet table, normalizing known footer quirks.

    Some generations of the synthetic ``events`` table store ``ts`` as
    INT64 TIMESTAMP(NANOS), which Spark's Parquet reader rejects; read it
    as long (``spark.sql.legacy.parquet.nanosAsLong``) and rebuild a µs
    timestamp with integer division (``div`` — float division would lose
    precision above 2^53 ns). Other generations already store µs; the
    rebuild is gated on the loaded dtype so both footers work. Either way
    the result matches DuckDB's ``CAST(ts AS TIMESTAMP)`` (a no-op on µs,
    truncation on nanos), which oracle SQL applies on its side.
    """
    path = os.path.join(base_dir, f"{name}.parquet")
    # timestamp literals compile against the session timezone; pin UTC so
    # rule timestamps mean the same instant under any caller's session
    # (DuckDB oracle timestamps are naive-UTC)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":  # nanos footer
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            # µs footer arrives as TIMESTAMP_NTZ; with the session pinned
            # to UTC the cast to TIMESTAMP is wall-clock identity and keeps
            # every downstream window/watermark/unix_micros type stable
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def inline_table(
    spark: SparkSession,
    rows: Iterable[Mapping[str, Any]],
    schema: Any = None,
) -> DataFrame:
    """Inline row payloads (the reference's HTTP-body ``List<User>`` path,
    RuleController.cs:31-35) → DataFrame over a ``LocalRelation``.

    Types are those ``spark.createDataFrame(list(rows))`` would give: the
    schema comes from the same inference (``_inferSchemaFromList``), run
    on one row per row shape (:func:`_shape_representatives`), or
    ``schema`` (a ``StructType`` or DDL string) is used as given and every
    row checked against it. The rows then go to the JVM as one Arrow table;
    below ``spark.sql.execution.arrow.localRelationThreshold`` Spark keeps
    them in the plan, so collecting a filter or projection over them runs
    no Spark job (an aggregate runs one over a single partition, see
    ``api.py``), and above it Spark falls back to an RDD on its own.
    Because the rows sit in the plan, Catalyst's ``ConvertToLocalRelation``
    evaluates a filter or projection over them at plan time: the optimized
    plan of a filtered inline table is a bare ``LocalRelation`` (the
    predicate shows in the analyzed plan). A value Arrow cannot hold, such
    as an integer outside 64 bits, raises instead of landing as NULL.
    """
    rows = list(rows)
    if schema is None:
        struct = spark._inferSchemaFromList(_shape_representatives(rows))
    else:
        struct = _parse_datatype_string(schema) if isinstance(schema, str) else schema
        verify = _make_type_verifier(struct)
        for row in rows:
            verify(row)
    columns = {f.name: [row.get(f.name) for row in rows] for f in struct.fields}
    for f in struct.fields:
        if not isinstance(f.dataType, _ARROW_AS_IS):
            columns[f.name] = [_arrow_value(v, f.dataType) for v in columns[f.name]]
    table = pa.Table.from_pydict(columns, schema=to_arrow_schema(struct))
    return spark.createDataFrame(table, schema=struct)


# value types PySpark infers from ``type(v)`` alone (``_infer_type``)
_SCALAR_TYPES = frozenset((type(None), bool, int, float, str))


def _shape_representatives(rows: list) -> list:
    """``rows`` without every dict row whose shape, the ``(key,
    type(value))`` pairs of its scalar values, an earlier row already
    has. PySpark infers such a row's struct from that shape alone, and
    ``_merge_type`` returns a merged schema unchanged when it merges a
    shape the schema has already absorbed, so inferring over the result
    gives the schema, field order and first ``CANNOT_MERGE_TYPE`` error
    of inferring over ``rows``. Every other row (nested, datetime or
    Decimal values, subclasses such as ``IntEnum``, non-dict mappings)
    is kept."""
    seen = set()
    out = []
    for row in rows:
        if type(row) is dict:
            types = tuple(map(type, row.values()))
            if _SCALAR_TYPES.issuperset(types):
                shape = (tuple(row), types)
                if shape in seen:
                    continue
                seen.add(shape)
        out.append(row)
    return out


# types whose Python values Arrow stores as createDataFrame would
_ARROW_AS_IS = (NumericType, BooleanType, BinaryType, DateType)


def _arrow_value(value: Any, dtype: DataType) -> Any:
    """``value`` of a ``dtype`` field, in the form Arrow stores the way
    ``createDataFrame`` would.

    * A string field also takes other atomic values (PySpark's inference
      merges them into string); ``createDataFrame`` renders them with
      ``str()``, booleans as ``true``/``false``.
    * ``TimestampType.toInternal`` reads a naive datetime as host-local
      time, and Arrow stores the wall clock of any datetime, ignoring its
      tzinfo; so every value goes to Arrow as naive UTC.
    * ``TimestampNTZType`` keeps the wall clock and drops any tzinfo.
    """
    if value is None:
        return None
    if isinstance(dtype, StringType):
        if isinstance(value, str):
            return value
        if isinstance(value, bool):
            return "true" if value else "false"
        return str(value)
    if isinstance(dtype, TimestampType):
        return value.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    if isinstance(dtype, TimestampNTZType):
        return value.replace(tzinfo=None)
    if isinstance(dtype, ArrayType):
        return [_arrow_value(v, dtype.elementType) for v in value]
    if isinstance(dtype, MapType):
        return {
            _arrow_value(k, dtype.keyType): _arrow_value(v, dtype.valueType)
            for k, v in value.items()
        }
    if isinstance(dtype, StructType):
        get = value.get if isinstance(value, Mapping) else dict(zip(dtype.names, value)).get
        return {f.name: _arrow_value(get(f.name), f.dataType) for f in dtype.fields}
    return value


_FORMATS = ("parquet", "csv", "json", "orc")


def read_source(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: Any = None,
    **options: Any,
) -> DataFrame:
    """Format-dispatching reader: parquet / csv / json / orc → DataFrame.

    Column pruning reaches every format; filter PUSHDOWN only the columnar
    ones (parquet/orc — check ``PushedFilters`` in ``.explain``), which is
    why they are the recommended lake format and csv/json are ingest
    formats you convert ONCE (``writers.write_parquet``) rather than scan
    repeatedly at 100 TB. For csv/json, pass an explicit ``schema``:
    schema inference reads the data twice and types drift between files —
    a pinned schema is both faster and stable. csv defaults to
    ``header=true`` to round-trip ``writers.write_csv``.
    """
    if fmt not in _FORMATS:
        raise ValueError(f"Unsupported format '{fmt}' (one of {_FORMATS})")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv" and "header" not in options:
        options["header"] = "true"
    if options:
        reader = reader.options(**{k: str(v) for k, v in options.items()})
    return getattr(reader, fmt)(path)
