"""Loaders for the driver's synthetic star-schema parquet tables.

Tables (one parquet file per table under ``{sf_dir}/``):
``region nation customer supplier part orders lineitem events documents
embeddings`` — see TESTDATA.md / FIXTURES.md.

At 100 TB these would be partitioned/bucketed tables; ``spark.read.parquet``
keeps scan-level column pruning + predicate pushdown either way (verify with
``df.explain('formatted')`` → PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructField, StructType

TABLE_NAMES = (
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


def _footer(path: str) -> tuple[list[str], StructType | None]:
    """One read of the parquet footer: the TIMESTAMP(NANOS) column names
    and the schema Spark would infer, with those columns as LongType (what
    ``nanosAsLong`` reads). ``([], None)`` when pyarrow cannot read it (a
    directory layout); the reader then infers."""
    try:
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        arrow = pq.read_schema(path)
        ns_cols = [f.name for f in arrow if str(f.type) == "timestamp[ns]"]
        schema = from_arrow_schema(arrow, prefer_timestamp_ntz=True)
    except Exception:
        return [], None
    return ns_cols, StructType(
        [StructField(f.name, LongType(), f.nullable) if f.name in ns_cols else f for f in schema]
    )


def read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, list[str]]:
    """Read one parquet input with its footer's schema given, so no
    schema-inference job runs. Returns the DataFrame and its
    TIMESTAMP(NANOS) column names: Spark can't read those natively, so
    they arrive as longs, for the caller to convert to µs.

    SESSION INVARIANT (single shared entry point — batch ``load_table``
    and streaming ``stream_table`` both route here): when a parquet input
    carries TIMESTAMP(NANOS) columns, ``spark.sql.legacy.parquet.nanosAsLong``
    is turned on for the REST OF THE SESSION and deliberately never
    restored. Save/restore around the read would be unsound: the file scan
    re-reads the conf when the action executes, not when the DataFrame is
    built, so a restored conf would crash the deferred scan. Consequence: a
    later read of a DIFFERENT nanos-timestamp parquet in the same session
    sees long columns — which is exactly the normalized contract this
    engine wants (every caller converts via ``timestamp_micros(c div
    1000)``, the exact integer path)."""
    ns_cols, schema = _footer(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path), ns_cols


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from pyspark.sql import functions as F

    df, ns_cols = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    for c in ns_cols:
        # integer division (`div`) keeps exactness — float division of
        # ~1e18 ns loses µs precision in a double
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    # Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) infers as
    # TIMESTAMP_NTZ under Spark 4; the engine's time model is instants
    # (session TZ pinned UTC, session.py), and unix_micros & friends reject
    # NTZ. Under the UTC pin the cast is the exact naive-as-UTC mapping
    # (identical to DuckDB's reading of the same file), and Catalyst still
    # pushes comparison filters down to the scan through it (verified:
    # PushedFilters carries the timestamp bound either way).
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}
