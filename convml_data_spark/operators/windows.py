"""Window/ordered analytics — SURVEY §2.5 W1–W3, §2.4 A10.

Reference semantics:
- W1 consecutive diff: ``np.diff`` over sorted times
  (convml_data/pipeline/aux_sources.py:203) / ``differentiate("level")``
  (sources/era5/base.py:120).
- W2 argmin-per-group: first index of minimum (aux_sources.py:216-218) —
  ``ROW_NUMBER() OVER (... ORDER BY metric, tiebreak) = 1``.
- W3 local peaks: ``scipy.signal.find_peaks`` over an ordered profile
  (sources/era5/scalars.py:74-82) — strict ``v > lag AND v > lead``.

All windows here are PARTITIONED (per group/column) — the partition key is
the parallelism unit, as the reference's per-scene tasks were; no global
single-partition windows on the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def consecutive_diff(
    df: DataFrame,
    order_col: str,
    value_col: str,
    partition_by: list[str],
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """W1: value − lag(value) within each partition ordered by ``order_col``.

    Pass ``tiebreak`` columns whenever ``(partition, order_col)`` can hold
    duplicates — lag over a tied order is otherwise plan-dependent (AQE /
    re-partitioning can reorder equal keys between runs)."""
    w = Window.partitionBy(*partition_by).orderBy(order_col, *(tiebreak or []))
    return df.withColumn("diff", F.col(value_col) - F.lag(value_col).over(w))


def argmin_per_group(
    df: DataFrame, metric_col: str, partition_by: list[str], tiebreak: list[str]
) -> DataFrame:
    """W2: the row minimizing ``metric_col`` per group; ties resolved by the
    ``tiebreak`` columns ascending (reference argmin = first minimum)."""
    w = Window.partitionBy(*partition_by).orderBy(metric_col, *tiebreak)
    return (
        df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    )


def local_peaks(
    df: DataFrame,
    order_col: str,
    value_col: str,
    partition_by: list[str],
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """W3: rows strictly greater than both ordered neighbours. Pass
    ``tiebreak`` when the order key can repeat (see consecutive_diff)."""
    w = Window.partitionBy(*partition_by).orderBy(order_col, *(tiebreak or []))
    v = F.col(value_col)
    return (
        df.withColumn("_prev", F.lag(value_col).over(w))
        .withColumn("_next", F.lead(value_col).over(w))
        .where((v > F.col("_prev")) & (v > F.col("_next")))
        .drop("_prev", "_next")
    )


def sequential_scan(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[str],
    step_fn,
    state0,
    schema: str,
):
    """W6: ordered sequential stateful scan per group — the optical-flow
    pattern (sampling/rect/methods/flow/calc.py:143-207: Lucas-Kanade state
    carried image→image in time order inside a date group,
    pipeline/utils.py:80-114).

    ``step_fn(state, row_dict) -> (state, out_dict | None)`` runs over each
    group's rows in ``order_by`` order inside ``applyInPandas`` — the group
    is the parallelism unit (reference: one task per date group); rows
    stream through Python once, state never leaves the group. Each group
    starts from a DEEP COPY of ``state0`` — a step_fn that mutates its
    state in place must not leak one group's accumulation into the next
    group handled by the same Python worker.
    """
    import copy

    import pandas as pd
    from pyspark.sql.types import StructType

    # parse with Spark's own DDL parser: naive string-splitting breaks on
    # complex types containing commas (map<string,long>)
    out_cols = StructType.fromDDL(schema).fieldNames()

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_by, kind="mergesort")
        state = copy.deepcopy(state0)
        out = []
        for row in pdf.to_dict("records"):
            state, emitted = step_fn(state, row)
            if emitted is not None:
                out.append(emitted)
        return pd.DataFrame(out, columns=out_cols)

    return df.groupBy(*partition_by).applyInPandas(run, schema)


def sessionize(
    df: DataFrame,
    key_cols: list[str],
    time_col: str,
    gap_seconds: float,
    tiebreak: list[str] | None = None,
    method: str = "window",
    value_col: str | None = "value",
) -> DataFrame:
    """Gap-based sessionization: consecutive events of a key belong to one
    session while the inter-event gap is ≤ ``gap_seconds``; a strictly
    larger gap opens a new session.

    The scale-path generalization of the reference's per-scene time grouping
    (trajectory frames bucketed by proximity in time,
    pipeline/rect/flow.py + aux_sources.py spacing inference): the key is
    the shuffle/parallelism unit, session state never crosses keys.

    - ``method="window"``: lag + running sum of session-open flags — two
      window passes over ONE shuffle by ``key_cols`` (Spark plans both
      windows into a single sort), exactly replayable in any SQL engine.
    - ``method="native"``: Spark's built-in ``session_window`` aggregate —
      the same operator Structured Streaming uses for streaming sessions
      (state-store-backed there). Boundary semantics differ only when a gap
      equals ``gap_seconds`` exactly (native closes strictly-greater-or-
      equal at window merge; window method opens on strictly-greater).

    Returns one row per (key, session): ``session_id`` (1-based per key,
    window method only), ``session_start``, ``session_end`` (last event
    time), ``n_events``, and — when ``value_col`` is not None —
    ``sum_value`` (decimal-exact sum of that column; pass ``None`` for
    frames without a value payload).
    """
    tiebreak = tiebreak or []
    gap_us = int(round(gap_seconds * 1_000_000))
    val_aggs = (
        [F.sum(F.col(value_col).cast("decimal(38,6)")).alias("sum_value")]
        if value_col is not None
        else []
    )
    if method == "native":
        sw = F.session_window(F.col(time_col), f"{gap_us} microseconds")
        out = df.groupBy(*key_cols, sw.alias("_w")).agg(
            F.min(time_col).alias("session_start"),
            F.max(time_col).alias("session_end"),
            F.count("*").alias("n_events"),
            *val_aggs,
        )
        return out.drop("_w")
    w = Window.partitionBy(*key_cols).orderBy(time_col, *tiebreak)
    from convml_data_spark.functions.timeutils import epoch_micros

    t_us = epoch_micros(time_col, dict(df.dtypes)[time_col])
    opens = F.when(
        F.lag(time_col).over(w).isNull()
        | (t_us - F.lag(t_us).over(w) > F.lit(gap_us)),
        1,
    ).otherwise(0)
    sid = F.sum(opens).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tagged = df.withColumn("_sid", sid)
    return tagged.groupBy(*key_cols, "_sid").agg(
        F.min(time_col).alias("session_start"),
        F.max(time_col).alias("session_end"),
        F.count("*").alias("n_events"),
        *val_aggs,
    ).withColumnRenamed("_sid", "session_id")
