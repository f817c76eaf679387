"""Fixture/table IO.

All inputs are the driver-generated parquet fixtures (TESTDATA.md /
FIXTURES.md). At 100 TB the same `spark.read.parquet` path applies —
parquet scans get predicate pushdown, column pruning, and partition
pruning from Catalyst for free as long as callers express filters and
projections declaratively (verified in tests/test_plans.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from basis_spark.session import memo

TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame.

    events.ts is parquet TIMESTAMP(NANOS). How Spark scans it varies by
    version: ≤4.0 refuses natively (PARQUET_TYPE_ILLEGAL) unless
    `legacy.parquet.nanosAsLong` makes it a raw int64; 4.1+ reads it
    natively as TIMESTAMP_NTZ and ignores that conf. Dispatch on the
    actual scanned type so both work (lossless either way — fixture
    values carry only µs precision, FIXTURES.md): long → integer-divide
    to µs; ntz → cast to session-TZ timestamp (session is pinned UTC
    below, so wall-clock values are unchanged).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Declared semantics are UTC (oracle compares timestamp VALUES; DuckDB
    # timestamps are naive). Under the driver's own session the timezone is
    # whatever the host JVM defaults to — a non-UTC session silently shifts
    # every date extraction/trunc (verified: date_parts under
    # America/New_York returns h=19 for UTC midnight). Runtime-settable,
    # so enforce it at the data boundary, once per session (each conf.set
    # is a Py4J round trip; nothing in this repo flips these confs back).
    memo(spark, os.sep, "session_confs", lambda: _enforce_utc(spark))
    # Reusing the analyzed scan saves the parquet footer read + schema
    # analysis, a Py4J round trip per call. Not persisted by default:
    # plan tests assert pushdown on the raw parquet scan, and at 100 TB
    # you want the scan, not an InMemoryRelation.
    # SPARK_GRAFT_CACHE_FIXTURES=1 (bench.py sets it) also persists.
    return memo(spark, sf_dir, f"table:{name}", lambda: _read_table(spark, sf_dir, name))


def _enforce_utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type in ("long", "bigint"):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if os.environ.get("SPARK_GRAFT_CACHE_FIXTURES"):
        df = df.persist()
    return df


def scratch_dir(subdir: str = "") -> str:
    """A writable scratch area inside the repo (gitignored) for sinks.

    applicationId-scoped scratch isolates concurrent sessions but
    accumulates one copy per session; every call age-GCs entries in the
    requested subdir untouched for 24 h (far longer than any session
    here lives), so the area is self-cleaning without ever touching a
    live concurrent session's files."""
    base = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")
    path = os.path.join(base, subdir) if subdir else base
    os.makedirs(path, exist_ok=True)
    if subdir:
        gc_stale_siblings(path, prefix="", keep="")
    return path


def gc_stale_siblings(parent: str, prefix: str, keep: str, ttl_s: int = 86400) -> None:
    """Best-effort GC for applicationId-scoped scratch dirs/tables.

    appId scoping isolates concurrent sessions (no overwrite races) at
    the cost of one copy per session; without collection those copies
    accumulate forever. Siblings of `keep` under `parent` that share
    `prefix` and have been untouched for ttl_s (default 24 h — far
    longer than any session here lives) are deleted. Age-gated so a
    LIVE concurrent session's scratch is never touched; errors are
    swallowed (another process may be collecting the same dir)."""
    import shutil
    import time

    try:
        entries = os.listdir(parent)
    except OSError:
        return
    now = time.time()
    for name in entries:
        if not name.startswith(prefix) or name == keep:
            continue
        path = os.path.join(parent, name)
        try:
            if now - os.path.getmtime(path) > ttl_s:
                if os.path.isdir(path):
                    shutil.rmtree(path, ignore_errors=True)
                else:
                    os.remove(path)
        except OSError:
            pass
