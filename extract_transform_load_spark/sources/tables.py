"""Parquet table loaders for the synthetic star schema (TESTDATA.md).

Reads are declarative ``spark.read.parquet`` so Catalyst gets predicate
pushdown + column pruning for free (SURVEY.md §4: the reference hand-writes
these into each SQL string; here they are automatic — verify with
``df.explain()`` → PushedFilters / ReadSchema).

``SMALL_DIMS`` marks tables that stay broadcast-size even at 100 TB fact
scale (region/nation are fixed-cardinality; part/supplier grow slowly) —
query builders wrap them in ``broadcast()`` to avoid shuffling the fact
side of dimension joins.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType

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

# Dimensions that remain broadcastable at full scale. The reference's
# analogues are pool_config / currency_registry / protocol_registry
# (SURVEY.md §1.1C) — a handful of rows each.
SMALL_DIMS = {"region", "nation", "supplier", "part"}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # Timestamp normalization, depending on how the driver wrote the file:
    # - TIMESTAMP(NANOS): Spark's vectorized reader rejects it, so we read
    #   nanos as raw INT64 (spark.sql.legacy.parquet.nanosAsLong, set in
    #   session config) and truncate to microseconds — exactly what
    #   DuckDB's microsecond TIMESTAMP does with the same file.
    # - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 reads it as
    #   TIMESTAMP_NTZ; cast to TimestampType under the UTC session zone so
    #   downstream epoch math (unix seconds, casts to double) works and the
    #   wall-clock values match DuckDB's naive TIMESTAMP.
    from pyspark.sql.types import LongType, TimestampNTZType

    ns_cols = _nanos_timestamp_columns(f"{sf_dir}/{name}.parquet")
    for field in df.schema.fields:
        if field.name in ns_cols and isinstance(field.dataType, LongType):
            df = df.withColumn(
                field.name, F.expr(f"timestamp_micros(`{field.name}` div 1000)")
            )
        elif isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


from functools import lru_cache


@lru_cache(maxsize=256)
def _nanos_timestamp_columns(path: str) -> set[str]:
    """Column names stored as parquet TIMESTAMP(NANOS) — which Spark's
    ``nanosAsLong`` mode surfaces as indistinguishable BIGINTs, so the
    loader must consult the parquet footer (not the Spark schema) to
    know which longs are really nanosecond instants. Footer-only read;
    name-agnostic so a driver round that writes a different column (or
    table) as NANOS converts correctly instead of leaking raw longs."""
    import os

    import pyarrow.parquet as pa_pq
    import pyarrow.types as pa_types

    target = path
    if os.path.isdir(path):  # rechunked layout: a dir of part files
        parts = sorted(p for p in os.listdir(path) if p.endswith(".parquet"))
        if not parts:
            return set()
        target = os.path.join(path, parts[0])
    try:
        schema = pa_pq.read_schema(target)
    except Exception:
        return set()
    return {
        f.name
        for f in schema
        if pa_types.is_timestamp(f.type) and f.type.unit == "ns"
    }


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}


def literal_row(spark: SparkSession, schema: StructType | str, values: tuple) -> DataFrame:
    """One row of literal ``values`` as a plan-only relation.

    The row is an inline ``VALUES`` table whose cells are bound query
    parameters, cast to the ``schema`` (a StructType or a DDL string)
    types, so the analyzer folds it into a ``LocalRelation``: collecting
    it runs no Spark job, and a plan over it ships the row as data, not
    as generated code. ``spark.createDataFrame([values], schema)`` plans a
    Python-RDD scan instead: Python workers over every default partition,
    about 320 ms for one row against about 30 ms here."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    if len(values) != len(schema.fields):
        raise ValueError(f"{len(values)} values for {len(schema.fields)} columns")
    # named markers: Spark 4.1 can bind positional ``?`` markers inside
    # an inline table out of order (six markers a..f bound as f,b,e,c,d,a)
    cells = ", ".join(
        f"CAST(:v{i} AS {f.dataType.simpleString()})" for i, f in enumerate(schema.fields)
    )
    names = ", ".join("`" + f.name.replace("`", "``") + "`" for f in schema.fields)
    return spark.sql(
        f"SELECT * FROM VALUES ({cells}) AS t({names})",
        args={f"v{i}": v for i, v in enumerate(values)},
    )
