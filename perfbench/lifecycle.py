"""Session set-up and tear-down through the library's own entry points."""

from __future__ import annotations

import time


def set_up() -> tuple[object, dict[str, float]]:
    """Import the operator registry, then create the Spark session with
    `session.get_spark` (in a fresh process this launches the driver
    JVM). Returns the session and both wall times."""
    t0 = time.perf_counter()
    import basis_spark.operators  # noqa: F401 - fills the registry
    from basis_spark.registry import QUERIES  # noqa: F401

    t1 = time.perf_counter()
    from basis_spark.session import get_spark

    spark = get_spark()
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {"register_s": t1 - t0, "get_spark_s": t2 - t1}


def recreate(spark) -> tuple[object, float]:
    """Stop the session and create a new one in the same driver JVM;
    returns it and the `get_spark` wall time."""
    from basis_spark.session import get_spark

    spark.stop()
    t0 = time.perf_counter()
    spark = get_spark()
    dt = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, dt


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit: it ends
    when its stdin pipe from this process closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
