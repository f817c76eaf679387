"""Output checks and the DuckDB side of the benchmark.

Results are compared as order-insensitive digests of their Arrow form
(see `digest`). The same digest serves the pinned digests (heavy_ops,
taken from the DuckDB oracles) and the exactly-once check against a
DuckDB batch aggregate (reactive_ingest).
"""

from __future__ import annotations

import hashlib

import duckdb
import pyarrow as pa

from basis_spark.io import TABLES

def _canonical(name: str, typ) -> str:
    """SQL that maps one result column onto an engine-neutral value."""
    col = '"' + name.replace('"', '""') + '"'
    if pa.types.is_floating(typ) or pa.types.is_decimal(typ):
        return f"round({col}::DOUBLE, 6)"
    if pa.types.is_integer(typ):
        return f"{col}::BIGINT"
    if pa.types.is_list(typ) or pa.types.is_large_list(typ):
        inner = typ.value_type
        if pa.types.is_floating(inner) or pa.types.is_decimal(inner):
            return f"list_transform({col}, x -> round(x::DOUBLE, 6))"
        if pa.types.is_integer(inner):
            return f"list_transform({col}, x -> x::BIGINT)"
    return col


def digest(tbl: pa.Table) -> tuple[str, int]:
    """Order-insensitive digest of an Arrow result set: the column
    names sorted, then the sum and xor of per-row hashes of the
    canonicalised values (floats rounded to 6 places, integers widened,
    timestamps as naive UTC), computed in DuckDB."""
    cols = []
    for i, field in enumerate(tbl.schema):
        if pa.types.is_timestamp(field.type) and field.type.tz is not None:
            tbl = tbl.set_column(i, field.name, tbl.column(i).cast(pa.timestamp(field.type.unit)))
        cols.append(field.name)
    names = sorted(cols)
    exprs = ", ".join(_canonical(n, tbl.schema.field(n).type) for n in names)
    con = duckdb.connect()
    try:
        con.register("result_set", tbl)
        n, s, x = con.execute(
            f"SELECT count(*), coalesce(sum(h), 0)::VARCHAR, coalesce(bit_xor(h), 0)::VARCHAR "
            f"FROM (SELECT hash({exprs}) h FROM result_set)"
        ).fetchone()
    finally:
        con.close()
    return hashlib.sha256(repr((names, n, s, x)).encode()).hexdigest(), n


def spark_digest(df) -> tuple[str, int]:
    """Digest of a Spark result, collected through Arrow."""
    return digest(df.toArrow())


def connect(data_dir: str, threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def duckdb_digest(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[str, int]:
    return digest(con.execute(sql).fetch_arrow_table())
