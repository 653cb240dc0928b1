"""Incremental scene discovery as a Structured Streaming source — SURVEY
§2.13.

The reference is batch-only with file-existence incrementality
(pipeline/utils.py:69-77): re-running skips completed targets. The Spark
analog is a file streaming source — new files under the catalog path become
new micro-batch rows — with event-time windowed aggregation standing in for
the reference's daily grouping (pipeline/utils.py:80-114 ≙ tumbling 1-day
window) and a watermark bounding state for late files.

``Trigger.AvailableNow`` processes the current backlog and stops, which is
exactly the reference's "run the DAG to completion over what exists now"
semantics — the same query left running becomes a continuous pipeline.
"""

from __future__ import annotations

import itertools
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_sink_counter = itertools.count()


class _clamped_stream_partitions:
    """Clamp ``spark.sql.shuffle.partitions`` to the session's actual slot
    count for the duration of a synchronous AvailableNow drain.

    Streaming stateful operators create one state store + task per shuffle
    partition EVERY micro-batch, and AQE never coalesces them — a session
    left at the 200 default runs 200 state tasks over a 32-slot harness
    (the driver hands us exactly such a session). The clamp only ever
    LOWERS the setting (a cluster whose parallelism exceeds the conf is
    untouched — state sizing there is the user's call), and the previous
    value is restored after the drain, so the conf never leaks into the
    caller's later batch queries.
    """

    def __init__(self, spark: SparkSession):
        self._spark = spark

    def __enter__(self):
        self._prev = self._spark.conf.get("spark.sql.shuffle.partitions")
        slots = self._spark.sparkContext.defaultParallelism
        if self._prev != "auto" and int(self._prev) > slots:
            self._spark.conf.set("spark.sql.shuffle.partitions", str(slots))
        return self

    def __exit__(self, *exc):
        self._spark.conf.set("spark.sql.shuffle.partitions", self._prev)
        return False


def stream_table(
    spark: SparkSession, sf_dir: str, name: str, single_batch: bool = False
) -> tuple[DataFrame, DataFrame]:
    """(batch_df, stream_df) for one of the driver's parquet tables,
    robust to both physical layouts:

    - ``{name}.parquet`` as a single FILE: the file source rejects a bare
      file path ("basePath must be a directory"), so stream the parent
      dir with a ``pathGlobFilter`` on the file name;
    - ``{name}.parquet`` as a DIRECTORY of part files: the glob would
      match no leaf file and the stream would be silently empty, so
      stream the directory itself.

    The batch read supplies the schema (file streams require one), and
    every physical timestamp era normalizes to the engine's instant type:
    TIMESTAMP(NANOS) columns read as long (legacy conf) and convert with
    exact integer division, TIMESTAMP_NTZ casts under the pinned-UTC
    session — mirroring ``tables.load_table`` so batch and stream always
    agree.
    """
    from convml_data_spark import tables

    path = os.path.join(sf_dir, f"{name}.parquet")
    # shared session-invariant conf handling — see tables.read_parquet
    batch, ns_cols = tables.read_parquet(spark, path)
    if single_batch:
        # Pin one-micro-batch drain semantics: operators whose output
        # contract depends on seeing the whole backlog at once (e.g. the
        # first-seen filter's min-id guarantee) break silently if a
        # multi-part-file layout or a default cap splits the AvailableNow
        # drain into several batches.
        reader = spark.readStream.option("maxFilesPerTrigger", 10_000_000).schema(
            batch.schema
        )
    else:
        reader = spark.readStream.schema(batch.schema)
    if os.path.isdir(path):
        stream = reader.parquet(path)
    else:
        stream = reader.option("pathGlobFilter", f"{name}.parquet").parquet(sf_dir)
    for c in ns_cols:
        conv = F.expr(f"timestamp_micros(`{c}` div 1000)")
        batch = batch.withColumn(c, conv)
        stream = stream.withColumn(c, conv)
    for c, t in batch.dtypes:
        if t == "timestamp_ntz":
            stream = stream.withColumn(c, F.col(c).cast("timestamp"))
            batch = batch.withColumn(c, F.col(c).cast("timestamp"))
    return batch, stream


def stream_windowed_counts(
    spark: SparkSession,
    path: str,
    schema,
    time_col: str = "ts",
    window: str = "1 day",
    watermark: str = "2 days",
    path_glob: str | None = None,
    group_cols: tuple[str, ...] = (),
    transform: Callable[[DataFrame], DataFrame] | None = None,
    source: DataFrame | None = None,
) -> DataFrame:
    """File stream → (optional row transform) → watermarked tumbling-window
    counts. Returns the STREAMING DataFrame (caller picks the trigger/sink).
    Pass ``source`` (e.g. from :func:`stream_table`) to supply a ready
    streaming DataFrame instead of the path/schema/glob reader.

    The watermark bounds aggregation state: files later than ``watermark``
    behind the max seen event time stop updating their window — the
    streaming analog of the reference's tolerance-bounded as-of matching.
    """
    if source is not None:
        stream = source
    else:
        reader = spark.readStream.schema(schema)
        if path_glob:
            reader = reader.option("pathGlobFilter", path_glob)
        stream = reader.parquet(path)
    if transform is not None:
        stream = transform(stream)
    return (
        stream.withWatermark(time_col, watermark)
        .groupBy(F.window(time_col, window).alias("w"), *group_cols)
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), *group_cols, "n")
    )


def run_available_now(
    stream_df: DataFrame, output_mode: str = "complete", checkpoint: str | None = None
) -> DataFrame:
    """Drain the current backlog (Trigger.AvailableNow) into a memory sink
    and return the materialized result as a batch DataFrame.

    Memory sink is test/driver plumbing and does NOT support checkpoint
    recovery — for checkpoint-chained incremental runs use
    :func:`drain_available_now` (foreachBatch). Production sinks are
    partitioned Parquet/Delta via the same call shape.
    """
    spark = stream_df.sparkSession
    name = f"_stream_sink_{next(_sink_counter)}"
    writer = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    with _clamped_stream_partitions(spark):
        q = writer.start()
        q.awaitTermination()
    return spark.table(name)


def drain_available_now(
    stream_df: DataFrame, checkpoint: str, output_mode: str = "update"
) -> list:
    """HARNESS-ONLY checkpoint-chained drain: collects every micro-batch to
    the driver so tests/driver sims can assert on the emitted rows. Driver
    memory scales with the emitted-row count, so this is NOT the engine
    path — production uses :func:`drain_to_parquet`, the same foreachBatch
    shape writing distributed parquet appends instead of collecting.

    This is the reference's run-again-and-skip incrementality
    (pipeline/utils.py:69-77) as restart semantics; uses ``foreachBatch``,
    the recoverable sink (memory sink cannot resume a checkpoint).
    """
    collected: list = []

    def sink(batch_df, _batch_id):
        collected.extend(batch_df.collect())

    with _clamped_stream_partitions(stream_df.sparkSession):
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return collected


def drain_to_parquet(
    stream_df: DataFrame,
    checkpoint: str,
    out_path: str,
    output_mode: str = "update",
    partition_by: tuple[str, ...] = (),
) -> None:
    """ENGINE sink: checkpoint-chained incremental drain into a parquet
    directory. Each micro-batch is appended executor-side (optionally
    ``partitionBy`` for downstream partition pruning) — no rows ever pass
    through the driver, so emitted volume is unbounded. Re-running with the
    same ``checkpoint`` processes only newly arrived files — the reference's
    file-existence incrementality (pipeline/utils.py:69-77) at S10/S11 sink
    parity (partitioned parquet, SURVEY §2.1).

    foreachBatch (not a bare parquet sink) so ``update``-mode aggregations
    can re-emit revised windows; readers dedup on the grouping key with
    max(batch id) if exactly-once materialization matters.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        writer = batch_df.withColumn("_batch_id", F.lit(batch_id)).write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(out_path)

    with _clamped_stream_partitions(stream_df.sparkSession):
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def drain_partial_to_parquet(
    stream_df: DataFrame,
    transform,
    checkpoint: str,
    out_path: str,
) -> None:
    """Per-micro-batch PARTIAL-SUMMARY drain — mergeable-sketch ingestion
    under continuous arrival. ``transform`` maps each micro-batch (a
    plain batch DataFrame inside ``foreachBatch``) to its BOUNDED partial
    summary (Count-Min cells, Bloom set bits, HLL registers …), which
    appends to parquet tagged with the batch id; readers MERGE partials
    with the sketch's merge operation (cellwise sum / set union / max).

    The streaming side carries NO state store at all: a mergeable
    summary makes streaming aggregation state redundant — each batch
    contributes an independent partial and merge order never matters.
    That is the same contract that lets 100 TB batch shards sketch
    independently, applied to time instead of space; checkpoint-chained
    like :func:`drain_to_parquet`, so a restart processes only new
    files and partials of COMMITTED batches stand.

    foreachBatch is at-least-once: a crash after the parquet write but
    before the checkpoint commit replays the batch on restart. A blind
    append would then store two partials with the same ``_batch_id`` and
    the cellwise-sum merge would double-count that batch — so the sink
    writes partitioned by ``_batch_id`` under DYNAMIC partition
    overwrite: a replay overwrites exactly its own batch partition
    (idempotent), committed partitions are untouched.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        write_batch_partial(transform(batch_df), batch_id, out_path)

    with _clamped_stream_partitions(stream_df.sparkSession):
        q = (
            stream_df.writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def write_batch_partial(partial: DataFrame, batch_id: int, out_path: str) -> None:
    """The idempotent per-batch write used by
    :func:`drain_partial_to_parquet` (module-level so the replay contract
    is directly testable): the partial lands in its own ``_batch_id``
    partition under dynamic partition overwrite, so an at-least-once
    replay of the same batch replaces its partition instead of appending
    a duplicate partial."""
    (
        partial.withColumn("_batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(out_path)
    )


def stream_sessionize(
    stream: DataFrame,
    key_col: str,
    time_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming gap-sessionization: the state-store-backed face of
    ``operators.windows.sessionize`` (same output columns, minus the
    per-key ordinal).

    ``session_window`` merges events within ``gap`` into one growing
    session; the watermark both bounds state AND decides emission — in
    append mode a session row is emitted exactly once, when the watermark
    passes its close (last event + gap). One shuffle by (key, session);
    state per open session is a constant-size aggregate, so a key with a
    billion events across sessions never accumulates unbounded state.
    """
    return (
        stream.withWatermark(time_col, watermark)
        .groupBy(F.col(key_col), F.session_window(F.col(time_col), gap).alias("_w"))
        .agg(
            F.min(time_col).alias("session_start"),
            F.max(time_col).alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("sum_value"),
        )
        .drop("_w")
    )


def stream_static_join(
    stream: DataFrame, dim: DataFrame, on, broadcast: bool = True
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch joins the static
    dimension (config/lookup relation — the streaming analog of the J9
    broadcast pattern). Spark re-plans the static side per micro-batch, so
    a broadcast keeps each batch shuffle-free on the stream side; the
    static relation must be small (it ships to executors every batch).
    Stateless — no watermark interaction, composes freely with downstream
    windowed aggregation."""
    return stream.join(F.broadcast(dim) if broadcast else dim, on)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_pairs: list[tuple[str, str]],
    left_time: str,
    right_time: str,
    lower_s: float = 0.0,
    upper_s: float = 3600.0,
    watermark: str = "2 days",
) -> DataFrame:
    """Watermarked stream-stream INNER join with a time-range condition —
    the event-correlation pattern (click→purchase attribution, sensor
    pairing) Structured Streaming runs with BOUNDED state: the watermark
    plus the time-range bound lets Spark evict buffered rows once the
    other side can no longer match them (without the range condition the
    join state grows forever).

    ``key_pairs`` are (left_col, right_col) equi-key pairs; time columns
    and non-key columns must be distinctly named across the two sides.
    Under Trigger.AvailableNow the drained result equals the batch inner
    join with the same predicate — which is how the oracle certifies it.
    """
    import functools
    import operator

    lw = left.withWatermark(left_time, watermark)
    rw = right.withWatermark(right_time, watermark)
    cond = functools.reduce(
        operator.and_, [lw[lk] == rw[rk] for lk, rk in key_pairs]
    )
    # microsecond-granular intervals: int(lower_s) would silently truncate
    # fractional-second bounds (0.5 s -> 0) into a different predicate
    lo_us = int(round(float(lower_s) * 1_000_000))
    hi_us = int(round(float(upper_s) * 1_000_000))
    cond = (
        cond
        & (rw[right_time] >= lw[left_time] + F.expr(f"INTERVAL {lo_us} MICROSECOND"))
        & (rw[right_time] <= lw[left_time] + F.expr(f"INTERVAL {hi_us} MICROSECOND"))
    )
    return lw.join(rw, cond, "inner")
