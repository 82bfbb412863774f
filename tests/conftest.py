"""Shared fixtures: one SparkSession per test run, the reference-shaped
``users`` inline fixture (FIXTURES.md §1 — User.cs:3-12 analog with nulls,
empty strings, non-numeric strings, and tie groups), and DuckDB helpers for
differential oracle checks."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pytest
from pyspark.sql import SparkSession
from pyspark.sql.types import (
    BooleanType,
    StringType,
    StructField,
    StructType,
)


def pytest_configure(config):
    # The `media` marker tags tests whose REAL assertions need optional
    # media libraries (Pillow / soundfile). This container ships neither,
    # so those tests importorskip cleanly; in a container WITH the libs,
    # `pytest -m media tests/` runs the real decode assertions with ZERO
    # skips (the r5 verdict stretch ask #9 CI leg). The guard tests that
    # assert loud NotImplementedError without the libs are unmarked and
    # run everywhere.
    config.addinivalue_line(
        "markers",
        "media: real image/audio decode assertions requiring Pillow/soundfile",
    )


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # Managed tables (write_bucketed_table) land in the warehouse dir; the
    # default is the repo-cwd `spark-warehouse/`, where a killed run leaves
    # stale table directories that fail the NEXT run's saveAsTable with
    # LOCATION_ALREADY_EXISTS. Pinning the warehouse to a per-run pytest
    # tmp dir makes every run start from a clean catalog location.
    warehouse = str(tmp_path_factory.mktemp("spark-warehouse"))
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("dqe-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", warehouse)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


USERS_SCHEMA = StructType(
    [
        StructField("NationalIdNumber", StringType(), True),
        StructField("LoginName", StringType(), True),
        StructField("RegNo", StringType(), True),
        StructField("Id", StringType(), True),
        StructField("Title", StringType(), True),
        StructField("CompanyCode", StringType(), True),
        StructField("IsActive", BooleanType(), True),
    ]
)

# (NationalIdNumber, LoginName, RegNo, Id, Title, CompanyCode, IsActive)
USERS_ROWS = [
    ("100", "alice", "10", "u1", "Engineer", "ACME", True),
    ("250", "Bob", "20", "u2", "Manager", "ACME", False),
    ("250", "bobby", "21", "u3", "Manager", "ACME", True),  # tie on 250 in ACME
    ("75", "carol", "30", "u4", "Engineer", "GLOBEX", True),
    ("999", "dave", "40", "u5", "Director", "GLOBEX", True),
    (None, "eve", "50", "u6", "Engineer", "GLOBEX", False),
    ("", "frank", "60", "u7", "Manager", "INITECH", True),
    ("abc", "grace", "70", "u8", "Engineer", "INITECH", None),
    ("42", None, "80", "u9", None, "INITECH", True),
    ("7", "", "90", "u10", "Intern", None, False),
    ("300", "Heidi", "91", "u11", "Manager", "ACME", True),
    ("0", "ivan_admin", "92", "u12", "Intern", "GLOBEX", True),
]


@pytest.fixture(scope="session")
def users_df(spark):
    return spark.createDataFrame(USERS_ROWS, USERS_SCHEMA)


@pytest.fixture(scope="session")
def users_duck():
    """Same users data registered in DuckDB for differential checks."""
    cols = list(zip(*USERS_ROWS))
    table = pa.table(
        {
            "NationalIdNumber": pa.array(cols[0], pa.string()),
            "LoginName": pa.array(cols[1], pa.string()),
            "RegNo": pa.array(cols[2], pa.string()),
            "Id": pa.array(cols[3], pa.string()),
            "Title": pa.array(cols[4], pa.string()),
            "CompanyCode": pa.array(cols[5], pa.string()),
            "IsActive": pa.array(cols[6], pa.bool_()),
        }
    )
    con = duckdb.connect()
    con.register("users", table)
    yield con
    con.close()


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def testdata_duck():
    """DuckDB connection with the driver's sf0.001 tables as views, matching
    the driver's pre-registered-view contract (__spark_entry__.py)."""
    con = duckdb.connect()
    for name in (
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
    ):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()


def ids_of(df, id_col="Id"):
    """Sorted id list of a users-shaped result."""
    return sorted(r[id_col] for r in df.collect())


def _null_safe_key(row):
    return tuple((v is None, str(type(v)), v if v is not None else 0) for v in row)


def assert_same_rows(spark_df, duck_rel):
    """Order-insensitive row-set comparison (mirrors the driver's
    order-insensitive value-hash at a readable granularity)."""
    spark_cols = sorted(spark_df.columns)
    spark_rows = sorted(
        (tuple(_norm(row[c]) for c in spark_cols) for row in spark_df.collect()),
        key=_null_safe_key,
    )
    duck_df = duck_rel.fetch_arrow_table().to_pylist()
    duck_rows = sorted(
        (tuple(_norm(row[c]) for c in spark_cols) for row in duck_df),
        key=_null_safe_key,
    )
    assert spark_rows == duck_rows


def _norm(v):
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


def _perfbench_users(n):
    """``n`` inline ``Users`` rows shaped like perfbench's rule_serve payload."""
    titles, depts = ("Manager", "Engineer", "Analyst"), ("Sales", "Support", "Legal")
    return [
        {
            "Id": i, "Name": f"user{i:06d}", "Age": 18 + (i * 7) % 53,
            "Country": ("TR", "US", "DE")[i % 3], "Department": depts[(i * 5) % 3],
            "Title": titles[i % 3], "Salary": 20_000.0 + (i * 7919) % 180_000,
            "IsActive": i % 10 < 7,
        }
        for i in range(n)
    ]
