"""TIMESTAMP_NTZ robustness — round-3 regression class.

The driver's parquet testdata switched from timestamp[ns] to timestamp[us]
(isAdjustedToUTC=false), which Spark 4 reads as TIMESTAMP_NTZ; unix_micros
rejects NTZ outright and to_utc_timestamp silently re-interprets it through
the session timezone. Two defense layers are pinned here:

1. ``tables.load_table`` normalizes NTZ columns to TIMESTAMP (exact under
   the pinned-UTC session) so entry-file queries see instants, with filter
   pushdown surviving the cast;
2. the time-keyed operators (asof_join, infer_min_spacing, sessionize)
   accept raw NTZ frames directly via the dtype-aware
   ``timeutils.epoch_micros`` and return identical results either way.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from convml_data_spark import tables
from convml_data_spark.functions.timeutils import epoch_micros
from convml_data_spark.operators import asof, windows
from tests.conftest import SF_DIR, jobs_run_by

BASE = datetime(2024, 1, 1)


def _frames(spark, ntz: bool):
    cast_to = "timestamp_ntz" if ntz else "timestamp"
    left = spark.createDataFrame(
        [(i, BASE + timedelta(seconds=37 * i)) for i in range(40)],
        "lid long, t_l timestamp",
    ).withColumn("t_l", F.col("t_l").cast(cast_to))
    right = spark.createDataFrame(
        [(j, BASE + timedelta(seconds=50 * j + 3)) for j in range(30)],
        "rid long, t_r timestamp",
    ).withColumn("t_r", F.col("t_r").cast(cast_to))
    return left, right


def test_epoch_micros_ntz_equals_ltz(spark):
    df = spark.createDataFrame(
        [(i, BASE + timedelta(seconds=7 * i, microseconds=i)) for i in range(20)],
        "i long, t timestamp",
    )
    both = df.select(
        epoch_micros("t", "timestamp").alias("ltz"),
        epoch_micros(F.col("t").cast("timestamp_ntz"), "timestamp_ntz").alias("ntz"),
    )
    assert both.where(F.col("ltz") != F.col("ntz")).count() == 0


def test_asof_join_accepts_ntz_frames(spark):
    lt, rt = _frames(spark, ntz=False)
    ln, rn = _frames(spark, ntz=True)
    want = {
        (r["lid"], r["matched_rid"])
        for r in asof.asof_join(lt, rt, "t_l", "t_r", tolerance_seconds=20.0).collect()
    }
    got = {
        (r["lid"], r["matched_rid"])
        for r in asof.asof_join(ln, rn, "t_l", "t_r", tolerance_seconds=20.0).collect()
    }
    assert want and got == want


def test_min_spacing_and_sessionize_accept_ntz(spark):
    lt, _ = _frames(spark, ntz=False)
    ln, _ = _frames(spark, ntz=True)
    assert asof.infer_min_spacing(lt, "t_l") == asof.infer_min_spacing(ln, "t_l") == 37.0

    ev = spark.createDataFrame(
        [(i, i % 3, BASE + timedelta(seconds=i * i), float(i)) for i in range(30)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    def sessions(df):
        out = windows.sessionize(df, ["user_id"], "ts", gap_seconds=60.0, tiebreak=["event_id"])
        return {(r["user_id"], r["session_id"], r["n_events"]) for r in out.collect()}

    assert sessions(ev.withColumn("ts", F.col("ts").cast("timestamp_ntz"))) == sessions(ev)


def test_load_table_normalizes_ntz_and_keeps_pushdown(spark):
    ev = tables.load_table(spark, SF_DIR, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    filtered = ev.where(F.col("ts") > F.to_timestamp(F.lit("2024-01-05 00:00:00")))
    buf = io.StringIO()
    with redirect_stdout(buf):
        filtered.explain("formatted")
    plan = buf.getvalue()
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and any("GreaterThan(ts" in ln for ln in pushed)


@pytest.mark.parametrize("name", tables.TABLE_NAMES)
def test_load_table_runs_no_schema_inference_job(spark, name):
    """load_table gives the reader the parquet footer's schema, so
    building the DataFrame runs no job, and that schema is the one
    Spark's own inference returns."""
    path = f"{SF_DIR}/{name}.parquet"
    _, jobs = jobs_run_by(spark, lambda: tables.load_table(spark, SF_DIR, name))
    assert jobs == 0
    df, _ = tables.read_parquet(spark, path)
    assert df.schema == spark.read.parquet(path).schema


def test_load_table_converts_nanos_columns_exactly(spark, tmp_path):
    """A TIMESTAMP(NANOS) column reads as long under the given footer
    schema (what ``nanosAsLong`` returns) and converts to µs by integer
    division, with no job while the plan is built."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(
        pa.table({"id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))}),
        str(tmp_path / "ns.parquet"),
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    was_set = spark.conf._jconf.contains(key)
    old = spark.conf.get(key) if was_set else None
    try:
        df, jobs = jobs_run_by(spark, lambda: tables.load_table(spark, str(tmp_path), "ns"))
        got = [
            r[0]
            for r in df.orderBy("id").select(F.unix_micros("ts")).collect()
        ]
    finally:
        if was_set:
            spark.conf.set(key, old)
        else:
            spark.conf.unset(key)
    assert jobs == 0
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert got == [t // 1000 for t in ns]
