"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps operator names (SURVEY.md §2 IDs) to callables
``(spark, sf_dir) -> DataFrame``; ``oracle_sql()`` gives the DuckDB
equivalent for hash-comparison. Column names/aliases match pairwise.

Float discipline (so order-insensitive value hashes match DuckDB exactly):
- money/quantity sums go through DECIMAL casts (exact, order-independent);
- min/max/count are exact as-is;
- interpolated percentiles / ratios of exact ints are deterministic doubles;
- any residual double output is rounded to 6 dp on BOTH sides.
"""

from __future__ import annotations

from collections.abc import Callable
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from convml_data_spark import operators as ops
from convml_data_spark import session, tables
from convml_data_spark.functions import text as T
from convml_data_spark.functions.timeutils import ts_lit
from convml_data_spark.operators import dedup, similarity, windows

SF_SMOKE = "/root/testdata/sf0.001"

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _prep(spark: SparkSession) -> None:
    # every timestamp function below assumes UTC; the driver may hand us a
    # session with a different default
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # explode-heavy operators (dedup/corpus/text) are pathological under
    # InferFiltersFromGenerate + pushdown: the whole shingling expression
    # re-evaluates serially in the scan stage (session.py, 26x at sf0.1)
    session.exclude_generate_filter_inference(spark)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _prep(spark)
    return tables.load_table(spark, sf_dir, name)


def _dec(c, prec: int = 15, scale: int = 2):
    return F.col(c).cast(f"decimal({prec},{scale})")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: §3.1 scene-table construction (J1 multi-input join + E1
    scene ids) over the events table at sf0.001.

    Day-bucketed so the sparse smoke table still yields complete scenes
    (hour buckets rarely contain all 5 inputs at sf0.001).
    """
    return _scene_table(spark, SF_SMOKE, time_bucket="day")


def _evt_file(c: str):
    return F.concat(F.lit("evt_"), F.lpad(F.col(c).cast("string"), 10, "0")).alias(c)


def _scene_table(spark: SparkSession, sf_dir: str, time_bucket: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    # pivot on the numeric id (fixed-width → HashAggregate; a string payload
    # would demote the whole pivot to SortAggregate) and format the
    # filename string after aggregation — same lexicographic==numeric order
    # thanks to zero padding
    files = events.select(
        F.col("ts").alias("t"),
        F.col("event_type").alias("input_name"),
        F.col("event_id").alias("filename"),
    )
    scenes = ops.multi_input_scene_table(
        files, EVENT_TYPES, source_name="events", time_bucket=time_bucket
    )
    return scenes.select("scene_id", "t", *[_evt_file(et) for et in EVENT_TYPES])


# ---------------------------------------------------------------- sources

def q_s3_calendar_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    cal = ops.calendar_scan(
        spark,
        datetime(2024, 1, 1),
        datetime(2024, 1, 31),
        step="1 hour",
        path_format="yyyy/MM/dd/'era5_an_ml_'yyyyMMddHHmm'.nc'",
        path_prefix="/data/era5/",
    )
    return cal.select("t", "path")


def q_s5_calendar_offset_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    missing = [
        datetime(2024, 1, 3, 5, 30),
        datetime(2024, 1, 10, 12, 30),
        datetime(2024, 1, 20, 0, 30),
    ]
    cal = ops.calendar_scan(
        spark,
        datetime(2024, 1, 1),
        datetime(2024, 1, 31),
        step="1 hour",
        offset="30 minutes",
        exclude_times=missing,
    )
    return cal.select("t")


def q_s4_era5_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 fetch planning (era5/pipeline.py:17-95): hourly calendar × the 7
    source variables → JASMIN-layout filename + remote path, crossing a
    month boundary to exercise the directory rollover."""
    _prep(spark)
    from convml_data_spark.sources import fetch_plans as fp

    return fp.era5_fetch_manifest(spark, datetime(2020, 1, 28), datetime(2020, 2, 3))


def q_s6_ceres_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 fetch planning (ceres_geo/pipeline.py:11-69, query.py:5-53):
    phased hourly grids per satellite, known-missing-time exclusion,
    day-of-year URL templating. Window covers the goes16n missing slot."""
    _prep(spark)
    from convml_data_spark.sources import fetch_plans as fp

    return fp.ceres_fetch_manifest(
        spark, datetime(2018, 12, 17), datetime(2018, 12, 20)
    )


def q_s2_goes16_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 GOES16Query semantics (goes16/pipeline.py:21-56): match a key
    listing against query times within dt_max, keyed by the start time
    parsed back out of each ABI key. BroadcastHashJoin on hour buckets."""
    _prep(spark)
    from convml_data_spark.sources import fetch_plans as fp

    keys = fp.goes16_key_table(
        spark,
        datetime(2020, 2, 1, 0, 0),
        datetime(2020, 2, 1, 6, 0),
        channels=[1, 2, 3],
        step="10 minutes",
    )
    return fp.goes16_query_match(
        keys,
        [
            datetime(2020, 2, 1, 1, 5),
            datetime(2020, 2, 1, 3, 30),
            datetime(2020, 2, 1, 5, 55),
        ],
        dt_max="20 minutes",
    )


# ---------------------------------------------------------------- scene table

def q_scene_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scene_table(spark, sf_dir, time_bucket="hour")


# ---------------------------------------------------------------- filters

def q_f1_time_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    out = ops.time_interval_filter(
        events,
        "ts",
        [
            (datetime(2024, 1, 3), datetime(2024, 1, 6)),
            (datetime(2024, 1, 20, 12), datetime(2024, 1, 22, 6)),
        ],
    )
    return out.select("event_id", "ts", "event_type")


def q_f2_datetime_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    out = ops.datetime_component_filter(
        events, "ts", {"hour": [0, 6, 12, 18], "minute": list(range(0, 15))}
    )
    return out.select("event_id", "ts")


def q_f3_solar_zenith(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    out = ops.solar_zenith_filter(events, "ts", lon_degrees=-59.43, dt_hours=1.0)
    return out.select("event_id", "ts")


def q_f5_regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.where(F.col("source").rlike("^src1[0-9]$")).select("doc_id", "source")


def q_f6_filter_dsl(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    pred = ops.parse_filter_dsl("l_quantity__lt=10,l_discount__gte=0.05,l_returnflag__eq=R")
    return li.where(pred).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


def q_f7_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    out = ops.percentile_filter(li, "l_extendedprice", 0.95, keep="above")
    return out.select("l_orderkey", "l_linenumber", "l_extendedprice")


def q_f9_lon_wrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    lon = ops.wrap_longitude(F.col("value") * 37.0)
    out = (
        events.withColumn("lon", F.round(lon, 6))
        .where(F.col("lon").between(-60.0, -30.0))
        .select("event_id", "lon")
    )
    return out


# ---------------------------------------------------------------- joins

def q_j2_asof_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    aux = events.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("aux_event_id"), F.col("ts").alias("t_aux")
    )
    scenes = events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("scene_event_id"), F.col("ts").alias("scene_t")
    )
    out = ops.asof_join(
        aux,
        scenes,
        "t_aux",
        "scene_t",
        tolerance_seconds=1800.0,
        right_prefix="",
        dt_col="dt_seconds",
    )
    return out.select(
        "aux_event_id", "t_aux", "scene_event_id", "scene_t", F.round("dt_seconds", 6).alias("dt_seconds")
    )


def q_j3_asof_all_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    # aux is THINNED (one user stratum) so the inferred min spacing — and
    # hence the dt_aux/2 tolerance — is wide enough for matches to exist at
    # small SFs; with the full purchase stream the min gap is sub-second and
    # the result is a signal-free empty set.
    events = _t(spark, sf_dir, "events")
    aux = events.where(
        (F.col("event_type") == "purchase") & (F.col("user_id") % 41 == 0)
    ).select(
        F.col("event_id").alias("aux_event_id"), F.col("ts").alias("t_aux")
    )
    scenes = events.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("scene_event_id"), F.col("ts").alias("scene_t")
    )
    dt_aux = ops.infer_min_spacing(aux, "t_aux")
    out = ops.asof_join(
        scenes,
        aux,
        "scene_t",
        "t_aux",
        tolerance_seconds=dt_aux / 2.0,
        right_prefix="",
        dt_col="dt_seconds",
    )
    return out.select(
        "scene_event_id", "scene_t", "aux_event_id", "t_aux", F.round("dt_seconds", 6).alias("dt_seconds")
    )


def q_j5_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    big = orders.where(F.col("o_totalprice") > 400000.0)
    return customer.join(big, customer.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


def q_u3_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # anti join against BIG orders only: every synthetic customer has at
    # least one order, so the unrestricted anti join is a signal-free empty
    # set; "customers with no large order" exercises the same plan with rows.
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    big = orders.where(F.col("o_totalprice") > 400000.0)
    return customer.join(
        big, customer.c_custkey == big.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def q_u1_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    c = customer.select(
        F.lit("customer").alias("kind"),
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("mktsegment"),
    )
    s = supplier.select(
        F.lit("supplier").alias("kind"),
        F.col("s_suppkey").alias("key"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("acctbal"),
    )
    return c.unionByName(s, allowMissingColumns=True)


def q_o3_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


def q_o4_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return (
        events.select("event_id", F.round("value", 6).alias("value"))
        .orderBy(F.col("value").desc(), F.col("event_id"))
        .limit(20)
    )


# ---------------------------------------------------------------- aggregations

def q_a1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped per-group reduction (A1) with exact decimal sums."""
    li = _t(spark, sf_dir, "lineitem")
    qty = _dec("l_quantity")
    price = _dec("l_extendedprice")
    disc_f = (F.lit(1).cast("decimal(9,4)") - F.col("l_discount").cast("decimal(9,4)")).cast(
        "decimal(9,4)"
    )
    tax_f = (F.lit(1).cast("decimal(9,4)") + F.col("l_tax").cast("decimal(9,4)")).cast(
        "decimal(9,4)"
    )
    out = (
        li.where(F.col("l_shipdate") <= ts_lit(datetime(1998, 9, 2)))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # reduce to scale 6 in exact decimal space BEFORE the double
            # cast: scaled values then fit in 2^53, so the decimal→double
            # conversion is exact (and engine-independent)
            F.sum(qty).cast("decimal(38,6)").cast("double").alias("sum_qty"),
            F.sum(price).cast("decimal(38,6)").cast("double").alias("sum_base_price"),
            F.sum(price * disc_f).cast("decimal(38,6)").cast("double").alias("sum_disc_price"),
            F.sum((price * disc_f) * tax_f).cast("decimal(38,6)").cast("double").alias("sum_charge"),
            F.round(F.sum(qty).cast("double") / F.count("*"), 6).alias("avg_qty"),
            F.round(F.sum(price).cast("double") / F.count("*"), 6).alias("avg_price"),
            F.round(
                F.sum(F.col("l_discount").cast("decimal(9,4)")).cast("double") / F.count("*"), 6
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )
    return out


def q_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped 3-way join + agg + top-k: the general star-join
    analytics path (customer ⋈ orders ⋈ lineitem) — Catalyst picks
    broadcast for the filtered dimension sides, AQE rebalances the fact
    shuffle."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    price = _dec("l_extendedprice")
    disc_f = (F.lit(1).cast("decimal(9,4)") - F.col("l_discount").cast("decimal(9,4)")).cast(
        "decimal(9,4)"
    )
    out = (
        customer.where(F.col("c_mktsegment") == "BUILDING")
        .join(orders, customer.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .where(F.col("l_shipdate") > ts_lit(datetime(1997, 1, 1)))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(price * disc_f).cast("decimal(38,6)").cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(20)
    )
    return out.select("o_orderkey", "o_orderdate", "revenue")


def q_a3_min_spacing(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("ts")
    m = F.unix_micros(F.col("ts"))
    gaps = events.withColumn("gap_us", m - F.lag(m).over(w)).where(F.col("gap_us").isNotNull())
    return gaps.groupBy("event_type").agg(F.min("gap_us").alias("min_gap_us"))


def q_a4_binned_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").withColumn("qty_dec", _dec("l_quantity"))
    out = ops.binned_statistic_1d(
        li,
        "qty_dec",
        "l_extendedprice",
        lo=0.0,
        hi=120000.0,
        n_bins=24,
        stats=["count", "min", "max"],
        extra_aggs=[F.sum(F.col("qty_dec")).alias("sum_qty")],
    )
    return out.select(
        "bin",
        F.round("bin_lo", 6).alias("bin_lo"),
        "count",
        F.col("min").cast("double").alias("min_qty"),
        F.col("max").cast("double").alias("max_qty"),
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.round(F.col("sum_qty").cast("double") / F.col("count"), 6).alias("mean_qty"),
    )


def q_a5_binned_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").withColumn("qty_dec", _dec("l_quantity"))
    out = ops.binned_statistic_2d(
        li,
        x_col="l_extendedprice",
        y_col="l_discount",
        value_col="l_quantity",
        dx=20000.0,
        dy=0.02,
        stats=["count", "min", "max", "median"],
        min_points=5,
        extra_aggs=[F.sum(F.col("qty_dec")).alias("sum_qty")],
    )
    return out.select(
        "xbin",
        "ybin",
        "count",
        F.col("min").alias("min_qty"),
        F.col("max").alias("max_qty"),
        F.round("median", 6).alias("median_qty"),
        F.round(F.col("sum_qty").cast("double") / F.col("count"), 6).alias("mean_qty"),
    )


def q_a6_ecdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    out = ops.ecdf(events, "value", partition_by=["event_type"])
    return out.select("event_type", "event_id", F.round("ecdf", 6).alias("ecdf"))


def q_a6_ecdf_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 keyless at scale: distributed ≤-count ranks, no single-partition
    window."""
    from convml_data_spark.operators.binning import ecdf_global

    events = _t(spark, sf_dir, "events")
    out = ecdf_global(events.select("event_id", "value"), "value")
    return out.select("event_id", F.round("ecdf", 6).alias("ecdf"))


def q_a7_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    out = ops.equidepth_bins(li, "l_extendedprice", 10)
    return out.select("q", F.round("boundary", 6).alias("boundary"))


def q_a8_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.to_date("ts").alias("day"), "event_type"
        ).agg(F.count("*").alias("n"))
    )


def q_a10_column_integral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 TPW-pattern: Σ q·Δp per ordered column (here per order)."""
    li = _t(spark, sf_dir, "lineitem")
    from pyspark.sql import Window

    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
    # tiebreak on part/supp keys so the lag order is deterministic
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice"
    )
    price = _dec("l_extendedprice", 16, 2)
    dp = price - F.lag(price).over(w)
    qdp = (_dec("l_quantity", 15, 2) * dp).alias("qdp")
    out = (
        li.withColumn("qdp", qdp)
        .where(F.col("qdp").isNotNull())
        .groupBy("l_orderkey")
        .agg(F.sum("qdp").cast("double").alias("integral"))
    )
    return out.select("l_orderkey", F.round("integral", 6).alias("integral"))


# ---------------------------------------------------------------- windows

def q_w2_argmin_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    out = windows.argmin_per_group(
        events, "value", partition_by=["user_id"], tiebreak=["event_id"]
    )
    return out.select("user_id", "event_id", F.round("value", 6).alias("value"))


def q_w3_local_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    out = windows.local_peaks(events, "ts", "value", partition_by=["event_type"])
    return out.select("event_type", "event_id", F.round("value", 6).alias("value"))


def q_w5_sliding_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    return ops.sliding_tiles(spark, nx=256, ny=256, n_tile=32, step=16)


def q_w7_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) per user over events — the
    scale-path generalization of the reference's nearest-in-time frame
    grouping (pipeline/rect/flow.py, aux_sources.py spacing inference).
    One shuffle by user_id; session state never crosses keys."""
    events = _t(spark, sf_dir, "events")
    out = windows.sessionize(
        events, ["user_id"], "ts", gap_seconds=1800.0, tiebreak=["event_id"]
    )
    # session_id is cast to double to match the oracle's natural type under
    # pandas canonicalization (DuckDB windowed sum(int) -> HUGEINT -> float64).
    # sum_value: the decimal sum is the exact, order-free reduction, but a
    # Spark DECIMAL column reaches pandas as object-dtype decimal.Decimal
    # while DuckDB DECIMAL fetches float64 — the driver hash then differs on
    # equal values. Cast the final (exact) decimal to double on BOTH sides:
    # decimal→double is correctly rounded in both engines, so bits match.
    return out.select(
        "user_id",
        F.col("session_id").cast("double").alias("session_id"),
        "session_start",
        "session_end",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


def q_a14_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time rollup (year → month → grand total) in ONE pass via
    ROLLUP grouping sets — the hypertable-continuous-aggregate shape; Spark
    expands grouping sets inside a single shuffle instead of 3 jobs."""
    orders = _t(spark, sf_dir, "orders")
    y = F.year("o_orderdate").alias("y")
    m = F.month("o_orderdate").alias("m")
    out = orders.rollup(y, m).agg(
        F.grouping_id().alias("gid"),
        F.count("*").alias("n_orders"),
        F.sum(_dec("o_totalprice", 18, 2)).alias("revenue"),
    )
    # y/m cast to bigint and gid pinned to bigint: DuckDB year()/month() and
    # GROUPING() are BIGINT, and the driver hash model keeps integer widths
    # distinct, so Spark must emit the same widths. revenue: decimal sum is
    # the exact reduction, but Spark DECIMAL → pandas object(Decimal) while
    # DuckDB DECIMAL → float64, so the driver hash splits on equal values —
    # emit the exact sum as double on both sides (cents < 2^53, lossless).
    return out.select(
        F.col("y").cast("bigint").alias("y"),
        F.col("m").cast("bigint").alias("m"),
        F.col("gid").cast("bigint").alias("gid"),
        "n_orders",
        F.col("revenue").cast("double").alias("revenue"),
    )


def q_a15_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped COUNT(DISTINCT) — Spark plans this as a two-stage
    expand + partial-agg (no driver-side set), the exact twin of the HLL
    sketch query below."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )


def q_hll_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct-count sketch (approx_count_distinct, rsd=2%) — the
    mergeable-sketch path that replaces exact distinct at 100 TB (fixed-size
    state per group, no expand). Sketch internals differ per engine, so the
    certification is the ERROR BOUND: |hll − exact| <= 3·rsd·exact per
    group, with the exact count hash-checked against the oracle."""
    events = _t(spark, sf_dir, "events")
    agg = events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("_hll"),
        F.countDistinct("user_id").alias("n_users_exact"),
    )
    return agg.select(
        "event_type",
        "n_users_exact",
        (
            F.abs(F.col("_hll") - F.col("n_users_exact"))
            <= F.lit(3 * 0.02) * F.col("n_users_exact")
        ).alias("within_bound"),
    )


def q_g2_tile_pixel_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2: range-join pixel membership + per-tile reduction on a synthetic
    64×64 integer grid (exact arithmetic both engines)."""
    _prep(spark)
    px = (
        spark.range(1)
        .select(F.explode(F.expr("sequence(0, 63)")).alias("y"))
        .select("y", F.explode(F.expr("sequence(0, 63)")).alias("x"))
        .select("x", "y", ((F.col("x") * 37 + F.col("y") * 17) % 101).alias("value"))
    )
    tiles = ops.sliding_tiles(spark, nx=64, ny=64, n_tile=16, step=8).where(
        F.col("tile_id").isin([0, 5, 24])
    )
    joined = ops.tile_pixel_join(px, tiles)
    return joined.groupBy("tile_id").agg(
        F.count("*").alias("n_px"), F.sum("value").alias("sum_val")
    )


# ---------------------------------------------------------------- more joins

def q_f4_traj_snap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: snap trajectory times to nearest scene time, dedup (as-of +
    distinct; convml_data/__init__.py:273-280)."""
    events = _t(spark, sf_dir, "events")
    traj = events.where(F.col("event_type") == "purchase").select(F.col("ts").alias("t_traj"))
    scenes = events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("scene_event_id"), F.col("ts").alias("t_scene")
    )
    snapped = ops.asof_join(traj, scenes, "t_traj", "t_scene", right_prefix="")
    return snapped.select("scene_event_id").distinct()


def q_traj_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory-tile placement (tiler.py::trajectory_tile_locations;
    reference pipeline/trajectory_tiles.py:46-74): scenes snap to the
    nearest trajectory time (F4), gain that point's exact global time
    index and (lat, lon), and a square tile of resolution*tile_N meters is
    centered there. Trajectory positions are synthesized deterministically
    from the time value itself so the DuckDB replay is exact."""
    from convml_data_spark.operators import tiler

    events = _t(spark, sf_dir, "events")
    tsec = F.expr("_tus div 1000000")
    traj = (
        events.where(F.col("event_type") == "purchase")
        .select(F.col("ts").alias("t_traj"))
        .distinct()
        .withColumn("_tus", F.unix_micros("t_traj"))
        .select(
            "t_traj",
            (F.pmod(tsec, F.lit(140)) - 70).cast("double").alias("lat"),
            (F.pmod(tsec, F.lit(360)) - 180).cast("double").alias("lon"),
        )
    )
    scenes = events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("scene_id"), F.col("ts").alias("t_scene")
    )
    return tiler.trajectory_tile_locations(
        scenes, traj, resolution=250.0, tile_N=256,
        scene_time="t_scene", traj_time="t_traj",
    ).drop("t_scene")


def q_spec_triplet_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL meta.yaml lifecycle compiled from one DatasetSpec
    (pipeline.py::build_triplet_dataset): §3.1 calendar scene table →
    R1 proportional split → R2 scene pairing → R3–R5 triplet placement →
    per-scene tile table, replayed end-to-end in DuckDB (every stage's
    md5-seeded randomness is an expression, so the whole program is one
    SQL query on the oracle side). Reference: convml_data/__init__.py:
    100-147 + pipeline/tiles.py:440-496 (GenerateTiles)."""
    from convml_data_spark import pipeline

    _prep(spark)
    spec = pipeline.DatasetSpec.from_dict(
        {
            "source": "specdemo",
            "inputs": ["vis", "ir"],
            "t_start": "2024-01-01T00:00:00",
            "t_end": "2024-01-03T00:00:00",
            "step": "1 hour",
            "sampling": {
                "resolution": 96.0,
                "triplets": {
                    "N_triplets": {"train": 30, "study": 10},
                    "tile_N": 16,  # tile_size 1536 -> margin exactly 1024
                },
            },
            "domain": {"l_zonal": 20000.0, "l_meridional": 20000.0},
        }
    )
    tiles = pipeline.build_triplet_dataset(spark, spec)["tiles"]
    return tiles.select(
        "triplet_id",
        "collection",
        "tile_type",
        "scene_id",
        F.round("x_c", 6).alias("x_c"),
        F.round("y_c", 6).alias("y_c"),
        "tile_size",
    )


def _tile_spec():
    """Shared small DatasetSpec for the tile-DATA / analytics composition
    keys: 24 hourly scenes, 16 triplets (12 train / 4 study), tile_N=4 at
    24 m/px (tile_size 96, margin 64) in a 2000×2000 domain. The synthetic
    source raster is 80×80 at 25 m spacing, so every tile target point's
    nearest source index lands inside [0, 80)."""
    from convml_data_spark import pipeline

    return pipeline.DatasetSpec.from_dict(
        {
            "source": "td",
            "inputs": ["vis"],
            "t_start": "2024-01-01T00:00:00",
            "t_end": "2024-01-02T00:00:00",
            "step": "1 hour",
            "sampling": {
                "resolution": 24.0,
                "triplets": {"N_triplets": {"train": 12, "study": 4}, "tile_N": 4},
            },
            "domain": {"l_zonal": 2000.0, "l_meridional": 2000.0},
        }
    )


TILE_SRC_DX = 25.0
TILE_SRC_NX = 80


def q_spec_tile_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile DATA through the spec pipeline (pipeline.py::build_tile_data;
    reference SceneTilesData.run, pipeline/tiles.py:232-297): the full
    §3.1+§3.2 lifecycle extended with the tiles→pixels stage — G3 nearest
    regrid of each scene's raster into every tile's local 4×4 frame
    (closed-form nearest on the regular source, one dense-key equi-join)
    — then the per-tile reduction + the reference's tile shape check
    (tiles.py:258-265) as ``shape_ok``."""
    from convml_data_spark import pipeline

    _prep(spark)
    d = pipeline.build_tile_data(
        spark, _tile_spec(), src_dx=TILE_SRC_DX, src_nx=TILE_SRC_NX
    )
    return d["tile_data"].select(
        "triplet_id",
        "collection",
        "tile_type",
        "scene_id",
        F.col("n_px").cast("bigint").alias("n_px"),
        "shape_ok",
        "sum_val",
        "min_val",
        "max_val",
        "mean_val",
    )


def q_spec_regridded_scenes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spec-driven per-scene regrid (pipeline.py::build_regridded_scenes;
    reference GenerateRegriddedScenes, pipeline/regridding.py:37-137):
    every scene's 24×24 source raster (7 m spacing) resampled onto the
    spec domain's 20×20 grid at sampling.resolution=10 via the G1 nearest
    argmin — all scenes in ONE shuffle keyed by (scene_id, ix, iy)."""
    from convml_data_spark import pipeline

    _prep(spark)
    spec = pipeline.DatasetSpec.from_dict(
        {
            "source": "rg",
            "inputs": ["vis"],
            "t_start": "2024-01-01T00:00:00",
            "t_end": "2024-01-02T00:00:00",
            "step": "1 hour",
            "sampling": {"resolution": 10.0},
            "domain": {"l_zonal": 200.0, "l_meridional": 200.0},
        }
    )
    out = pipeline.build_regridded_scenes(spark, spec, src_dx=7.0, src_nx=24)
    return out.select("scene_id", "ix", "iy", "cell_x", "cell_y", "value")


def q_spec_regridded_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilinear through the spec regrid path (pipeline.py::
    build_regridded_scenes(method='bilinear'); the reference's DEFAULT
    for primary data, pipeline/regridding.py:98-112): each scene's 24×24
    source raster (8 m spacing) interpolated onto the spec's 16×16 grid
    at resolution 10 — 4-corner weights are exact sixteenths (10/8 steps)
    and values are integers, so every weighted sum is dyadic-exact and
    order-independent."""
    from convml_data_spark import pipeline

    _prep(spark)
    spec = pipeline.DatasetSpec.from_dict(
        {
            "source": "rb",
            "inputs": ["vis"],
            "t_start": "2024-01-01T00:00:00",
            "t_end": "2024-01-01T12:00:00",
            "step": "1 hour",
            "sampling": {"resolution": 10.0},
            "domain": {"l_zonal": 160.0, "l_meridional": 160.0},
        }
    )
    out = pipeline.build_regridded_scenes(
        spark, spec, src_dx=8.0, src_nx=24, method="bilinear"
    )
    return out.select("scene_id", "ix", "iy", "cell_x", "cell_y", "value")


def q_spec_scene_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-scene IMAGE product through the spec (pipeline.py::
    build_scene_images; reference SceneImageMixin, scene_images.py:1-60 +
    images.py:96-124 default rendering): regridded scenes → inverted
    min-max grayscale uint8 per scene. This key certifies the uint8 path
    (scene_id, ix, iy, byte) — the PNG half is the same JVM hex-pack +
    Arrow encode as tile_images; tests decode its PNGs with stdlib zlib
    and compare every pixel with this byte path."""
    from convml_data_spark import pipeline

    _prep(spark)
    spec = pipeline.DatasetSpec.from_dict(
        {
            "source": "si",
            "inputs": ["vis"],
            "t_start": "2024-01-01T00:00:00",
            "t_end": "2024-01-01T12:00:00",
            "step": "1 hour",
            "sampling": {"resolution": 10.0},
            "domain": {"l_zonal": 200.0, "l_meridional": 200.0},
        }
    )
    d = pipeline.build_scene_images(spark, spec, src_dx=7.0, src_nx=24)
    return d["bytes"].select("scene_id", "ix", "iy", F.col("byte").cast("int").alias("byte"))


def q_spec_scene_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 wired through the SPEC (SceneSpec.scene_filter; reference
    pipeline/utils.py:42-49 _filter_scene_ids): a scene_id regex with
    re.match semantics (anchored at the start) applied inside
    build_scene_table — a meta.yaml carrying scene_filter keeps only
    matching scenes. Pattern keeps hours 00–11 of a 24-scene day."""
    from convml_data_spark import pipeline

    _prep(spark)
    spec = pipeline.SceneSpec.from_dict(
        {
            "source": "sf",
            "inputs": ["vis"],
            "t_start": "2024-01-01T00:00:00",
            "t_end": "2024-01-02T00:00:00",
            "step": "1 hour",
            "scene_filter": "sf__20240101(0[0-9]|1[01])",
        }
    )
    scenes = pipeline.build_scene_table(spark, spec)
    return scenes.select("scene_id", "t")


def q_spec_analytics_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §3.3 analytics path composed as ONE program
    (pipeline.py::build_analytics_pipeline; reference
    AggregatedDatasetScenesAuxFieldWithEmbeddings,
    embeddings/aux_fields/data.py:199-295): scenes → tiles → tile rasters
    → X3 batch embeddings → A1 per-tile aux reduction → J6 join → X4 PCA
    → A5 aux-binned embedding stats. Stats are value-exact vs DuckDB
    (decimal sums, explicit IEEE rounding); the PCA stage is certified by
    its orthonormal-loadings invariant (eigenvector signs are
    solver-defined)."""
    import numpy as np

    from convml_data_spark import pipeline

    _prep(spark)
    stats, model = pipeline.build_analytics_pipeline(
        spark, _tile_spec(), src_dx=TILE_SRC_DX, src_nx=TILE_SRC_NX
    )
    pc = model.pc.toArray()
    gram = pc.T @ pc
    pca_ok = bool(np.allclose(gram, np.eye(pc.shape[1]), atol=1e-8))
    return stats.select(
        "bin",
        F.col("dim").cast("bigint").alias("dim"),
        "n",
        "mean_emb",
        "sum_emb",
        F.lit(pca_ok).alias("pca_ok"),
    )


def q_spec_rect_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed rect/sliding-window embedding path
    (pipeline.py::build_rect_embeddings; reference
    embeddings/rect/sampling.py:68-125): 12 scenes × a 4×4 sliding-tile
    grid over a 16×16 pixel domain → per-tile image vectors → X3 batched
    inference → J7 coordinate attach with the reference's y-axis flip."""
    from convml_data_spark import pipeline

    _prep(spark)
    spec = pipeline.DatasetSpec.from_dict(
        {
            "source": "re",
            "inputs": ["vis"],
            "t_start": "2024-01-01T00:00:00",
            "t_end": "2024-01-02T00:00:00",
            "step": "2 hours",
            "tiles_kind": "rect-slidingwindow",
            "sampling": {
                "resolution": 20.0,
                "rect-slidingwindow": {"tile_N": 4},
            },
            "domain": {"l_zonal": 320.0, "l_meridional": 320.0},
        }
    )
    out = pipeline.build_rect_embeddings(spark, spec, out_dim=4)
    return out.select(
        "scene_id",
        F.col("tile_id").cast("bigint").alias("tile_id"),
        F.col("i0").cast("bigint").alias("i0"),
        F.col("j0").cast("bigint").alias("j0"),
        "x",
        "y",
        F.col("dim").cast("bigint").alias("dim"),
        "v",
    )


def q_spec_aux_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aux products with DERIVED variables through the spec path
    (pipeline.py::attach_aux_product; reference aux_sources.py:16-44 +
    the DERIVED_VARIABLES dispatch): a declared era5-sourced aux product
    naming the derived ``umag`` compiles its §2.11 DAG onto the aux
    profile (8 three-hourly times × 40 levels), the scene table matches
    each scene to its nearest aux time within dt/2 (all-scenes strategy),
    and the full level profile rides back on one equi-join. Scene 23:00
    is 2 h from the nearest aux time (> 1.5 h tolerance) and correctly
    drops."""
    from convml_data_spark import pipeline

    _prep(spark)
    spec = pipeline.DatasetSpec.from_dict(
        {
            "source": "ax",
            "inputs": ["vis"],
            "t_start": "2024-01-01T00:00:00",
            "t_end": "2024-01-02T00:00:00",
            "step": "1 hour",
            "sampling": {
                "resolution": 24.0,
                "triplets": {"N_triplets": {"train": 2}, "tile_N": 4},
            },
            "domain": {"l_zonal": 2000.0, "l_meridional": 2000.0},
            "aux_products": {
                "wind": {
                    "source": "era5",
                    "product": "umag",
                    "column_keys": ["t_aux"],
                    "level_col": "level",
                    "n_levels": 40,
                    "scene_mapping_strategy": "all_scenes_within_dt_aux",
                }
            },
        }
    )
    ah = F.floor(F.unix_micros(F.col("t_aux")) / F.lit(3_600_000_000)).cast("long")
    profile = (
        spark.range(8)
        .select(
            F.expr(
                "timestampadd(HOUR, CAST(3 * id AS INT), TIMESTAMP '2024-01-01 00:00:00')"
            ).alias("t_aux")
        )
        .withColumn("level", F.explode(F.expr("sequence(0, 39)")))
        .select(
            "t_aux",
            "level",
            ((ah * 7 + F.col("level") * 3) % 13 - 6).cast("double").alias("u"),
            ((ah * 5 + F.col("level") * 2) % 11 - 5).cast("double").alias("v"),
        )
    )
    out = pipeline.build_triplet_dataset(spark, spec, aux={"wind": profile})[
        "aux:wind"
    ]
    return out.select(
        "scene_id",
        F.col("aux_t_aux").alias("t_aux"),
        F.col("level").cast("bigint").alias("level"),
        "u",
        "v",
        F.round("umag", 6).alias("umag"),
    )


def q_j6_emb_aux_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: embeddings ⋈ per-group aux reductions on the group key
    (aux_fields/data.py:139-146) — the aux side is a tiny aggregate, so the
    join broadcasts."""
    emb = _t(spark, sf_dir, "embeddings")
    first = F.element_at("embedding", 1).cast("double")
    aux = emb.groupBy("label").agg(
        F.count("*").alias("n_label"),
        F.min(first).alias("min_first"),
        F.max(first).alias("max_first"),
    )
    return emb.join(F.broadcast(aux), "label").select(
        "vec_id", "label", "n_label", "min_first", "max_first"
    )


def q_j7_positional_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: pixel-index → projected-coord mapping with the y-axis flip
    (embeddings/rect/sampling.py:74-109)."""
    emb = _t(spark, sf_dir, "embeddings")
    tiles = emb.select(
        "vec_id",
        (F.col("vec_id") % 16).cast("int").alias("i0"),
        ((F.col("vec_id") / 16).cast("int") % 16).cast("int").alias("j0"),
    )
    out = ops.attach_grid_coords(tiles, x0=100.0, dx=2.5, y0=-50.0, dy=2.5, ny=16)
    return out.select("vec_id", "i0", "j0", "x", "y")


# ---------------------------------------------------------------- more aggs

def q_a9_layer_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: mean over a level slice per group (era5/base.py:77-116); levels ≙
    linenumbers here."""
    li = _t(spark, sf_dir, "lineitem")
    qty = _dec("l_quantity")
    return (
        li.where(F.col("l_linenumber").between(3, 5))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(qty).cast("double") / F.count("*"), 6).alias("mean_qty"),
        )
    )


def q_a11_minmax_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: per-channel min/max normalization to [0,1]
    (sources/images.py:34-43,89-91) — window aggregates, no driver
    round-trip."""
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    vmin = F.min("value").over(w)
    vmax = F.max("value").over(w)
    return events.select(
        "event_id",
        "event_type",
        F.round((F.col("value") - vmin) / (vmax - vmin), 6).alias("norm"),
    )


def q_a2_udaf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/X2: pluggable per-group UDAF via applyInPandas
    (aux_fields/data.py:82-108) — grouped-map with Arrow batching; the
    reduction (interpolated median of int ids) is exact in float64 so it
    oracle-matches quantile_cont."""
    import pandas as pd

    events = _t(spark, sf_dir, "events")

    def reduce_group(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        return pd.DataFrame(
            [
                {
                    "event_type": pdf["event_type"].iloc[0],
                    "n": len(pdf),
                    "median_event_id": float(np.median(pdf["event_id"].to_numpy())),
                }
            ]
        )

    return events.groupBy("event_type").applyInPandas(
        reduce_group, "event_type string, n long, median_event_id double"
    )


def q_e5_array_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5: stack/unstack — per-order sorted array of quantities (collect →
    array_sort on a full sort-key struct so assembly order is deterministic),
    then array element/size ops."""
    li = _t(spark, sf_dir, "lineitem")
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                "l_linenumber", "l_partkey", "l_suppkey", _dec("l_quantity").alias("q")
            )
        )
    )
    g = li.groupBy("l_orderkey").agg(
        arr.alias("arr"), F.sum(_dec("l_quantity")).cast("double").alias("q_sum")
    )
    qtys = F.transform("arr", lambda x: x["q"])
    return g.select(
        "l_orderkey",
        F.size("arr").alias("n_items"),
        F.element_at(qtys, 1).cast("double").alias("q_first"),
        F.element_at(qtys, -1).cast("double").alias("q_last"),
        "q_sum",
    )


# ---------------------------------------------------------------- grids

def _event_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic point cloud: coords are pure expressions of
    the events table (identical in the DuckDB oracle)."""
    events = _t(spark, sf_dir, "events")
    av = F.abs(F.col("value"))
    return events.select(
        "event_id",
        "event_type",
        "value",
        ((av * 13.0) % 100.0).alias("x"),
        ((av * 29.0) % 100.0).alias("y"),
    )


def q_g1_nearest_regrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    px = _event_points(spark, sf_dir)
    out = ops.nearest_regrid(
        px, x0=0.0, dx=10.0, nx=10, y0=0.0, dy=10.0, ny=10, value_col="event_id"
    )
    return out.select("ix", "iy", "cell_x", "cell_y", F.col("value").alias("event_id"))


def q_g1_bilinear_regrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 bilinear: 4-corner weighted interpolation of a regular source grid
    at scattered target points. The grid value is a closed-form expression
    of (i, j), so the oracle evaluates the same interpolation symbolically
    while Spark gathers corners via the equi-join path."""
    events = _t(spark, sf_dir, "events")
    # DYADIC target coords (quarter/eighth steps): every corner weight,
    # product, and the 4-term sum is then exact in float64, so the result
    # is bitwise identical regardless of Spark's aggregation order
    targets = events.select(
        "event_id",
        ((F.col("event_id") % 29).cast("double") + (F.col("event_id") % 4) * 0.25 + 1.0).alias("x"),
        ((F.col("event_id") % 28).cast("double") + (F.col("event_id") % 8) * 0.125 + 1.0).alias("y"),
    )
    grid = (
        spark.range(32)
        .select(F.col("id").cast("int").alias("i"))
        .crossJoin(spark.range(32).select(F.col("id").cast("int").alias("j")))
        .withColumn("value", F.col("i") * 3.0 + F.col("j") * 5.0 + (F.col("i") * F.col("j")) * 0.25)
    )
    out = ops.bilinear_regrid(grid, targets, sx0=0.0, sdx=1.0, sy0=0.0, sdy=1.0)
    return out.select("event_id", F.col("value"))


def q_g4_crop_pad(spark: SparkSession, sf_dir: str) -> DataFrame:
    px = _event_points(spark, sf_dir)
    small = px.where(F.abs(F.col("value")) < 0.5)
    bbox = ops.spanning_bbox(small, pad=2.0)
    return ops.crop_to_bbox(px, bbox).select("event_id")


def q_g6_spanning_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    av = F.abs(F.col("value"))
    pts = events.select(
        (((av * 7.0) % 160.0) - 80.0).alias("lat"),
        (((av * 11.0) % 360.0) - 180.0).alias("lon"),
    )
    out = ops.unit_vector_center(pts)
    return out.select(F.round("lat_c", 6).alias("lat_c"), F.round("lon_c", 6).alias("lon_c"))


def q_f11_nonempty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: non-empty-group guard (drop scenes with zero tiles,
    tiles.py:469-476) — HAVING count >= threshold."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.count("*").alias("n_items"))
        .where(F.col("n_items") >= 3)
    )


def q_g7_tangent_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7: closed-form azimuthal-equidistant projection as pure scalar
    expressions (sampling/__init__.py:10-65 analog, no pyproj UDF)."""
    events = _t(spark, sf_dir, "events")
    av = F.abs(F.col("value"))
    pts = events.select(
        "event_id",
        (((av * 7.0) % 160.0) - 80.0).alias("lat"),
        (((av * 11.0) % 360.0) - 180.0).alias("lon"),
    )
    x, y = ops.local_tangent_xy(F.col("lat"), F.col("lon"), lat0=13.3, lon0=-57.7)
    return pts.select("event_id", F.round(x, 4).alias("x_m"), F.round(y, 4).alias("y_m"))


def q_g8_rgb_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8: true-color RGB composite (mask→clip→gamma→true-green mix→contrast,
    goes16/utils.py:5-56) plus per-scene min/max channel scaling
    (images.py:12-62 make_rgb) — all whole-stage-codegen Column math over a
    synthetic 1/256-scaled channel table with -1 missing sentinels."""
    events = _t(spark, sf_dir, "events")
    av = F.abs(F.col("value"))
    px = events.select(
        "event_id",
        (F.col("user_id") % 8).alias("scene"),
        F.when(F.col("event_id") % 97 == 0, F.lit(-1.0))
        .otherwise((av % F.lit(300.0)) / F.lit(256.0))
        .alias("cb"),
        F.when(F.col("event_id") % 89 == 0, F.lit(-1.0))
        .otherwise(((av * F.lit(1.7)) % F.lit(280.0)) / F.lit(256.0))
        .alias("cr"),
        (((av * F.lit(2.3)) % F.lit(260.0)) / F.lit(256.0)).alias("cg"),
        F.col("value").alias("c1"),
        (F.col("value") * F.lit(0.5) + F.lit(1.0)).alias("c2"),
        av.alias("c3"),
    )
    mk = ops.make_rgb(px, ("c1", "c2", "c3"), scene_col="scene")
    mk = (
        mk.withColumnRenamed("r", "sr")
        .withColumnRenamed("g", "sg")
        .withColumnRenamed("b", "sb")
    )
    r2, g2, b2 = ops.true_color_rgb(F.col("cb"), F.col("cr"), F.col("cg"))
    return mk.select(
        "event_id",
        F.round(r2, 6).alias("r"),
        F.round(g2, 6).alias("g"),
        F.round(b2, 6).alias("b"),
        F.round("sr", 6).alias("sr"),
        F.round("sg", 6).alias("sg"),
        F.round("sb", 6).alias("sb"),
        F.col("a"),
    )


def q_g8_rayleigh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8+: Rayleigh-CORRECTED true-color composite — the analytic
    single-scattering stand-in for the reference's satpy ``true_color``
    recipe (sources/goes16/satpy_rgb.py:41-94, which interpolates
    pyspectral's multiple-scattering LUTs): per-band λ⁻⁴ optical depth,
    solar geometry from UTC time + geolocation (images.py::
    solar_cos_zenith), path reflectance ρ_r = τ·P(Θ)/(4μ_sμ_v) subtracted
    and two-way transmittance divided out (images.py::rayleigh_correct),
    then the existing clip→gamma→true-green→contrast pipeline. Daytime
    rows only (μ_s ≥ 0.2 — the approximation's validity domain and
    satpy's own day-composite constraint). All whole-stage-codegen
    Column trig, replayed exactly in DuckDB at round(6)."""
    events = _t(spark, sf_dir, "events")
    av = F.abs(F.col("value"))
    px = events.select(
        "event_id",
        F.col("ts"),
        (((av * F.lit(7.0)) % F.lit(120.0)) - F.lit(60.0)).alias("lat"),
        (((av * F.lit(11.0)) % F.lit(360.0)) - F.lit(180.0)).alias("lon"),
        ((av % F.lit(300.0)) / F.lit(256.0)).alias("cb"),
        (((av * F.lit(1.7)) % F.lit(280.0)) / F.lit(256.0)).alias("cr"),
        (((av * F.lit(2.3)) % F.lit(260.0)) / F.lit(256.0)).alias("cg"),
        ((av * F.lit(3.1)) % F.lit(180.0)).alias("raz"),
        F.cos(((av * F.lit(5.0)) % F.lit(60.0)) * F.lit(0.017453292519943295)).alias(
            "mu_v"
        ),
    )
    mu_s = ops.solar_cos_zenith(F.col("ts"), F.col("lat"), F.col("lon"))
    px = px.withColumn("mu_s", mu_s).where(F.col("mu_s") >= F.lit(0.2))
    cos_scat = ops.scattering_cosine(F.col("mu_s"), F.col("mu_v"), F.col("raz"))
    r, g, b = ops.rayleigh_true_color(
        F.col("cb"), F.col("cr"), F.col("cg"),
        F.col("mu_s"), F.col("mu_v"), cos_scat,
    )
    return px.select(
        "event_id",
        F.round("mu_s", 6).alias("mu_s"),
        F.round(r, 6).alias("r"),
        F.round(g, 6).alias("g"),
        F.round(b, 6).alias("b"),
    )


def q_x2_dotted_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: per-group reduction resolved by dotted name (``numpy__median``)
    through the importlib dispatch (aux_fields/data.py:82-108) — Arrow
    applyInPandas per group, one shuffle by the group key."""
    from convml_data_spark.operators import inference

    events = _t(spark, sf_dir, "events")
    out = inference.grouped_reduce_by_name(
        events.select("event_type", "value"),
        ["event_type"],
        "value",
        "numpy__median",
        out_col="med",
    )
    return out.select("event_type", F.round("med", 6).alias("med"))


def _recall_certification(spark, sf_dir, approx_batch_fn, n_queries=5, k=10, min_recall=0.4):
    """Macro recall@k of an approximate ANN method vs the exact scan,
    certified as a boolean bound: hits across ``n_queries`` probe vectors
    must reach ``min_recall``·(n_queries·k). Both sides run as BATCH
    queries (similarity.cosine_topk_batch / *_topk_batch): the whole
    probe set is served by one table scan per side instead of one
    TakeOrdered job per probe. Only the tiny query vectors are collected
    (plan-time literals, like any query embedding)."""
    emb = _t(spark, sf_dir, "embeddings")
    qrows = (
        emb.where(F.col("vec_id") < n_queries).select("vec_id", "embedding").collect()
    )
    queries = [(int(r["vec_id"]), [float(v) for v in r["embedding"]]) for r in qrows]
    exall = similarity.cosine_topk_batch(emb, queries, k=k).select(
        "qid", F.col("vec_id").alias("id")
    )
    apall = approx_batch_fn(emb, queries).select("qid", F.col("vec_id").alias("id"))
    hits = exall.join(apall, ["qid", "id"]).agg(F.count("*").alias("hits"))
    need = int(min_recall * n_queries * k)
    return hits.select(
        F.lit(n_queries).cast("bigint").alias("n_queries"),
        (F.col("hits") >= F.lit(need)).alias("recall_ok"),
    )


def q_similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k, certified by a macro recall@10 >= 0.4
    bound vs the exact scan over 5 probe vectors (measured 0.60-0.66 at
    sf0.001/0.01 with 6 planes + hamming-2 multiprobe; the synthetic
    embeddings are near-random, so recall tracks fraction-scanned)."""
    return _recall_certification(
        spark,
        sf_dir,
        lambda emb, queries: similarity.lsh_bucketed_topk_batch(
            emb, queries, k=10, n_planes=6, multiprobe_hamming=2
        ),
    )


def q_similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (sample-fit KMeans inverted lists, 3/8 lists probed) approximate
    top-k, certified by a macro recall@10 >= 0.4 bound vs the exact scan
    (measured 0.60-0.74 at sf0.001/0.01 with fit_fraction=0.25).

    The quantizer is fit ONCE and its centroids reused across all 5 probe
    vectors — exactly how a real IVF index is used (build once, probe many);
    re-fitting per query would run 5 identical KMeans jobs for the same
    deterministic (seeded) centroids."""
    return _recall_certification(
        spark,
        sf_dir,
        lambda emb, queries: similarity.ivf_topk_batch(
            emb, queries, k=10, n_lists=8, n_probes=3, fit_fraction=0.25
        ),
    )


def q_similarity_ivf_stale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STALE-index IVF probe (similarity.py::ivf_topk_with_tail): the
    index was built when only half the table existed (vec_id % 2 = 0,
    prebuilt centroids = four fixed member vectors), and the other half
    arrived afterwards — the incremental_dedup situation for ANN. The
    serving plan probes the 2 nearest lists of the INDEXED rows and
    brute-force-scans the unindexed tail, exact top-10 of the union, so
    a fresh vector can never be lost to staleness (exact-top-k ∩ tail ⊆
    result, property-tested). Deterministic end to end — literal
    centroids make list assignment pure column math — so the oracle is
    a full VALUE-level DuckDB replay (assignment argmin, probe
    selection, union, top-k), not a recall bound like the fitted-KMeans
    IVF key."""
    emb = _t(spark, sf_dir, "embeddings")
    indexed_src = emb.where(F.col("vec_id") % 2 == 0)
    tail = emb.where(F.col("vec_id") % 2 == 1)
    crows = (
        indexed_src.where(F.col("vec_id").isin([0, 2, 4, 6]))
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    centroids = [[float(v) for v in r["embedding"]] for r in crows]
    qvec = [
        float(v)
        for v in emb.where(F.col("vec_id") == 1)
        .select("embedding")
        .collect()[0][0]
    ]
    indexed, _ = similarity.ivf_index(indexed_src, centroids=centroids)
    return similarity.ivf_topk_with_tail(
        indexed, tail, centroids, qvec, k=10, n_probes=2
    )


# ---------------------------------------------------------------- sampling

def q_r1_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return ops.proportional_split(docs, "doc_id", {"train": 3, "study": 1}, seed=7)


def q_r2_scene_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    scenes = ops.proportional_split(docs, "doc_id", {"train": 3, "study": 1}, seed=7)
    triplets = spark.range(40).select(
        F.col("id").alias("triplet_id"),
        F.when(F.col("id") < 30, F.lit("train")).otherwise(F.lit("study")).alias("collection"),
    )
    return ops.pick_scene_pairs(triplets, scenes, scene_id_col="doc_id", seed=42)


def q_r5_triplet_locations(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    triplets = spark.range(50).select(F.col("id").alias("triplet_id"))
    out = ops.triplet_tile_locations(
        triplets,
        x_range=(0.0, 100.0),
        y_range=(0.0, 100.0),
        tile_size=6.0,
        neighbor_distance_scaling=2.0,
        seed=11,
    )
    return out.select(
        "triplet_id", "tile_type", F.round("x_c", 6).alias("x_c"), F.round("y_c", 6).alias("y_c")
    )


# ---------------------------------------------------------------- LLM ops

def q_dedup_exact_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").withColumn("text", F.substring("text", 1, 100))
    return dedup.exact_duplicates(docs)


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.jaccard_dedup_blocked(
        docs, block_cols=["lang", "source"], threshold=0.5, ngram=3
    )


def q_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs Jaccard via prefix filtering — oracle-checked against
    a full O(n²) DuckDB scan (no blocking columns)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.jaccard_dedup_prefix(docs, threshold=0.5, ngram=3)


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the expression-heavy per-doc work across cores (documents
    # arrive as one small file = one scan task otherwise)
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    t = F.col("text")
    return docs.select(
        "doc_id",
        T.token_count(t).alias("n_tokens"),
        T.regex_token_count(t).alias("n_regex_tokens"),
        F.round(T.punct_ratio(t), 6).alias("punct_ratio"),
        F.round(T.en_stopword_ratio(t), 6).alias("en_stopword_ratio"),
        (T.en_stopword_ratio(t) > 0.15).alias("is_en_guess"),
    )


def q_select_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered token-budget curation (corpus.py::
    select_to_token_budget): score docs by EN-stopword ratio, then keep
    the best-first prefix of ≤800 tokens per source — the 'take the best
    N tokens per source' training-mix step. Bucket-decomposed running
    sum, never a per-source window."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    t = F.col("text")
    scored = docs.select(
        "doc_id",
        "source",
        T.token_count(t).alias("n_tokens"),
        F.round(T.en_stopword_ratio(t), 6).alias("quality"),
    )
    return corpus.select_to_token_budget(
        scored,
        budget=800,
        quality_col="quality",
        token_col="n_tokens",
        group_col="source",
        id_col="doc_id",
    )


def q_dsir_logratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scoring (corpus.py::dsir_logratio): every doc
    scored by mean per-token log-ratio of an add-one-smoothed unigram LM
    fit on the English subset (the target) vs one fit on the full corpus
    — the importance-resampling weight of Xie et al. 2023."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    target = docs.where(F.col("lang") == "en")
    return corpus.dsir_logratio(docs, target)


def q_dsir_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR in the paper's ACTUAL feature space (corpus.py::dsir_logratio
    with n_buckets — Xie et al. 2023 hash n-grams into a fixed bucket
    count): tokens hash to 1024 md5 buckets, both LMs fit over bucket
    counts, so the frequency tables and the vocabulary outer join are
    bounded by a CONSTANT regardless of corpus vocabulary — the
    100 TB-safe form (a web corpus's raw vocabulary is unbounded)."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    target = docs.where(F.col("lang") == "en")
    return corpus.dsir_logratio(docs, target, n_buckets=1024)


def q_text_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(T.token_count(F.col("text"))).alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


def q_quality_terciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    doc with the corpus unigram LM (corpus.py::unigram_logprob_score),
    cut the score distribution at its exact global terciles
    (binning.py::exact_quantiles — the certified distributed-selection
    path, no driver digest), and label head/middle/tail (head = lowest
    cross-entropy = most LM-like, the slice CCNet keeps). Cut values are
    plan literals; bucket assignment is a pure CASE, so the program is
    AQE-safe and engine-replayable. Tie safety: xent values are
    round(6)-quantized, so the interpolated cuts (identical definition
    to DuckDB quantile_cont, certified by a7_equidepth) sit strictly
    between adjacent data values or exactly on an order statistic in
    BOTH engines — a last-ulp cut difference can never cross a doc.

    NOTE: exact_quantiles runs driver jobs at query-CONSTRUCTION time
    (the cut values become plan literals — same class as the documented
    eager-checkpoint/explain() gotcha); the scores relation is
    materialized first so the unigram-LM scoring plan executes once and
    the selection jobs AND the returned query read the checkpoint."""
    from convml_data_spark.operators import corpus
    from convml_data_spark.operators.binning import exact_quantiles
    from convml_data_spark.operators.persist import materialize_for_reuse

    docs = _t(spark, sf_dir, "documents")
    scores = materialize_for_reuse(corpus.unigram_logprob_score(docs))
    c1, c2 = exact_quantiles(scores, "xent_nats", [1 / 3, 2 / 3])
    bucket = (
        F.when(F.col("xent_nats") < F.lit(float(c1)), "head")
        .when(F.col("xent_nats") < F.lit(float(c2)), "middle")
        .otherwise("tail")
    )
    return scores.select("doc_id", "xent_nats", bucket.alias("bucket"))


def q_bigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-Backoff bigram LM quality score (corpus.py::
    bigram_backoff_score, Brants et al. 2007) — the CCNet/KenLM-proxy
    signal one step up from unigram_xent: docs whose doc_id % 10 == 0
    play the curated reference corpus the LM is built from; every other
    doc is scored by its mean per-transition -ln S under
    S(w2|w1)=c(w1 w2)/c(w1), backing off to 0.4 * add-one unigram for
    unseen bigrams (both branches fire at sf0.01 AND sf0.1). In-row
    bigram construction (shifted-slice zip), two LM hash aggs, three
    equi-joins, DECIMAL(38,12) log sums, round(6) + 0.0."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    lm = docs.where(F.col("doc_id") % 10 == 0)
    scored = docs.where(F.col("doc_id") % 10 != 0)
    return corpus.bigram_backoff_score(scored, lm)


def q_kneser_ney_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram cross-entropy (corpus.py::
    kneser_ney_score; Kneser & Ney 1995, Chen & Goodman 1998) — the
    smoothing family KenLM implements (CCNet's actual filter), next to
    the Stupid-Backoff proxy of bigram_xent. Same corpus split as
    bigram_xent (doc_id % 10 == 0 plays the curated LM corpus):
    discounted bigram mass + KN continuation probability with an
    add-one floor; seen-context, unseen-bigram and unseen-context
    branches all fire at both SFs. One materialized bigram relation
    feeds context totals, follower/predecessor type counts and the T
    scalar; DECIMAL(38,12) log sums, round(6) + 0.0."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    lm = docs.where(F.col("doc_id") % 10 == 0)
    scored = docs.where(F.col("doc_id") % 10 != 0)
    return corpus.kneser_ney_score(scored, lm, discount=0.75)


def q_kneser_ney_trigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney TRIGRAM cross-entropy (corpus.py::
    kneser_ney_trigram_score) — the recursive Chen & Goodman chain:
    discounted trigram mass backing into a CONTINUATION-count bigram
    level (n(w2 w3) = distinct-predecessor counts, the KN substitution)
    and the same add-one Pcont floor as the bigram scorer. Same corpus
    split as kneser_ney_xent; seen-trigram, continuation-bigram and
    unigram-floor branches all fire at both SFs. ONE materialized
    trigram relation feeds every level's counts; DECIMAL(38,12) log
    sums, round(6) + 0.0."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    lm = docs.where(F.col("doc_id") % 10 == 0)
    scored = docs.where(F.col("doc_id") % 10 != 0)
    return corpus.kneser_ney_trigram_score(scored, lm, discount=0.75)


def q_neardup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup (dedup.py::edit_distance_neardup):
    MinHash-LSH candidates (the dedup_minhash machinery) verified by
    exact THRESHOLDED Levenshtein — banded O(len·max_dist), never the
    full matrix — behind a length-delta prefilter. Complements the
    token-set Jaccard family: catches in-token edits and byte-level
    templating that shingle sets smear out. Oracle replays the exact
    predicate over all shingle-sharing pairs (every qualifying pair in
    this data has shingle-jaccard >= 0.8, so 16-band recall is
    1 - 4e-8)."""
    from convml_data_spark.operators import dedup

    docs = _t(spark, sf_dir, "documents")
    return dedup.edit_distance_neardup(docs, max_dist=16)


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear quality classifier — SCORING path
    (corpus.py::quality_classifier_score; CCNet pairs this linear
    signal with its LM perplexity): tokens hash into 1024 md5 buckets
    (the dsir_hashed feature space), bucket weights are the
    deterministic seeded md5-uniform relation (broadcast, replayable in
    any engine), score = sigmoid(mean-pooled bucket weights). One
    in-row explode + one broadcast join + one map-side-combined agg —
    pure JVM. The FIT path (Spark ML LogisticRegression over the SAME
    md5-bucket count features, vectors built JVM-side via
    array_to_vector) is property-tested: its scores equal the fitted
    model's sigmoid margin and separate synthetic data at AUC ≈ 1."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    w = corpus.seeded_bucket_weights(spark, 1024)
    return corpus.quality_classifier_score(docs, w, n_buckets=1024)


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE pair-merge training (corpus.py::bpe_train_merges, Sennrich et
    al. 2016 — the tokenizer-training loop vocab_build/vocab_encode are
    the precursor to): 8 plan-time merge rounds, each one vocab-bounded
    pair aggregation + a deterministic TakeOrdered-1 argmax broadcast
    into a single literal-replace re-segmentation (segmentations live as
    double-space-delimited strings, so the merge IS engine-portable
    string replace — no HOF lambdas, no corpus re-scans after the one
    word-count aggregation)."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    return corpus.bpe_train_merges(docs, num_merges=8)


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION (corpus.py::bpe_encode): train the
    8-merge list on the corpus (q_bpe_train's program) and re-apply it
    in rank order, reporting per doc the tokenizer-level size
    (n_symbols — the unit an LM context window consumes) next to word
    and char counts. Merges fold over ONE broadcast sorted array onto
    the DISTINCT-word relation (vocabulary-bounded), then join back to
    the exploded tokens — the corpus never re-segments per instance."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    merges = corpus.bpe_train_merges(docs, num_merges=8)
    return corpus.bpe_encode(docs, merges)


def q_bpe_train_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-level BPE training (corpus.py::bpe_train_byte_merges —
    the GPT-2 tokenizer construction: Radford et al. 2019): GPT-2-style
    regex pre-tokens with the leading space attached (Ġ convention),
    UTF-8 bytes as hex-pair symbols (byte fallback, case-faithful), 8
    merge rounds over the SAME vocabulary-bounded literal-replace
    machinery as the word-level trainer. Closes the word-level/
    byte-level fidelity gap named in the r14 verdict (item 6)."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    return corpus.bpe_train_byte_merges(docs, num_merges=8)


def q_bpe_encode_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-level BPE application (corpus.py::bpe_encode_bytes): train
    the 8-merge byte-level list and re-apply it in rank order on the
    DISTINCT-piece relation, reporting per doc the GPT-2 context-unit
    count next to pre-token and byte counts."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    merges = corpus.bpe_train_byte_merges(docs, num_merges=8)
    return corpus.bpe_encode_bytes(docs, merges)


def q_bpe_encode_byte_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-2-STYLE token-ID encode (corpus.py::bpe_encode_byte_ids;
    same id-assignment semantics as Radford et al. 2019 but byte-VALUE
    base ids, so the numbers differ from the published encoder.json):
    assign vocabulary ids (256 byte symbols at ids 0-255 + one id per
    merge at 256+rank, min on symbol collision) on top of the trained
    byte-level merge list, and certify each doc's exact id SEQUENCE with
    the order-sensitive positional checksum Σ(pos+1)·id mod 2^61-1 —
    the per-doc artifact a training pipeline actually ships. Token-id
    arithmetic reduces in vocabulary space (wsum + offset·sumid per
    piece instance), so no per-token explode ever touches corpus
    scale."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    merges = corpus.bpe_train_byte_merges(docs, num_merges=8)
    return corpus.bpe_encode_byte_ids(docs, merges)


def q_spm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer TRAINING (spm.py::unigram_train — the
    SentencePiece model, Kudo 2018), completing the tokenizer family
    next to bpe_train: char ∪ top-24 substring seed vocabulary, two
    hard-EM rounds (Viterbi E-step, count-normalize M-step, zero-count
    pieces prune out), micro-nat-quantized integer scores so every DP
    comparison is exact in both engines. Corpus touched once; the EM
    folds over the distinct-word relation against a one-row packed
    vocabulary broadcast — the DP is a plan-time-unrolled projection
    pyramid, no HOF recursion, no Python."""
    from convml_data_spark.operators import spm

    docs = _t(spark, sf_dir, "documents")
    return spm.unigram_train(
        docs,
        vocab_top=_SPM_TOP,
        piece_max_len=_SPM_K,
        em_rounds=_SPM_R,
        word_max_len=_SPM_L,
    )


def q_spm_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram tokenizer APPLICATION (spm.py::unigram_encode): train the
    vocabulary (q_spm_train's program), then Viterbi-segment the
    DISTINCT-word relation against it and aggregate per doc — words,
    chars, subword pieces, and UNK words (unsegmentable/over-long; zero
    here since training saw the same corpus). Same
    segment-distinct-then-join-back shape as bpe_encode."""
    from convml_data_spark.operators import spm

    docs = _t(spark, sf_dir, "documents")
    vocab = spm.unigram_train(
        docs,
        vocab_top=_SPM_TOP,
        piece_max_len=_SPM_K,
        em_rounds=_SPM_R,
        word_max_len=_SPM_L,
    )
    return spm.unigram_encode(
        docs, vocab, word_max_len=_SPM_L, piece_max_len=_SPM_K
    )


def q_trigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-Backoff TRIGRAM LM score (corpus.py::trigram_backoff_score,
    Brants et al. 2007) — the recursive backoff chain one order above
    bigram_xent, same LM split (doc_id % 10 == 0 plays the curated
    reference corpus) so all three branches fire at sf0.01 AND sf0.1:
    S(w3|w1 w2) = c123/c12, backing off to α·c23/c2, then to
    α²·add-one-unigram. In-row trigram construction (three shifted
    slices zipped), three LM hash aggs, five equi-joins, DECIMAL(38,12)
    log sums, round(6) + 0.0."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    lm = docs.where(F.col("doc_id") % 10 == 0)
    scored = docs.where(F.col("doc_id") % 10 != 0)
    return corpus.trigram_backoff_score(scored, lm)


def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (dedup.py::cdc_chunks /
    cdc_dedup_stats — the LBFS/FastCDC storage-dedup primitive at token
    granularity): boundaries where the rolling 4-token fingerprint
    satisfies H % 8 == 0, so chunk edges re-synchronize across
    insertions/deletions and near-identical document versions share
    every chunk outside the edit neighborhood. Per doc: total chunks and
    chunks whose hash occurs >1 time corpus-wide."""
    from convml_data_spark.operators import dedup

    docs = _t(spark, sf_dir, "documents")
    return dedup.cdc_dedup_stats(docs, window=4, mask_bits=3)


def q_decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs whose md5 bucket is 0 play the
    held-out eval suite; every train doc sharing a distinct word 7-gram
    with any eval doc is flagged with overlap counts (corpus.py::
    ngram_overlap — broadcast eval n-gram set, no shuffle of the train
    side beyond the matched-row agg)."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    is_eval = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    out = corpus.ngram_overlap(
        docs.where(~is_eval), docs.where(is_eval), n=7
    )
    return out.select(
        "doc_id",
        F.col("n_shared_ngrams").cast("bigint").alias("n_shared_ngrams"),
        F.col("n_eval_docs").cast("bigint").alias("n_eval_docs"),
    )


def q_decontam_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring decontamination (corpus.py::
    exact_span_decontaminate, the Lee et al. 2022 token-level shape):
    same eval split as decontam_ngram_overlap (md5 bucket 0), but the
    EXACT >=7-token-span guarantee via stride-1 window hashing over
    sliding_token_windows — grouped by span hash, eval side distinct'd
    before the join, never all-pairs. Returns matched-window counts and
    the earliest contaminated offset per flagged train doc."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    is_eval = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    return corpus.exact_span_decontaminate(
        docs.where(~is_eval), docs.where(is_eval), k=7
    )


def q_decontam_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span EXCISION (corpus.py::excise_contaminated_spans — the Lee et
    al. 2022 remove-the-span policy): same split and k as
    decontam_substring, but every token covered by a matched 7-window is
    deleted and the survivors re-join in order. One hash agg collapses
    covered positions to a sorted per-doc array; the rebuild is an
    in-row indexed array filter — token streams never explode/shuffle."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    is_eval = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    return corpus.excise_contaminated_spans(
        docs.where(~is_eval), docs.where(is_eval), k=7
    )


def q_dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train×train exact-substring SELF-dedup (corpus.py::
    exact_substring_self_dedup — the Lee et al. 2022 headline policy,
    completing the decontam_substring/decontam_excise family): every
    7-token span occurring in >=2 distinct docs survives only in its
    minimum doc id; every other holder excises the covered tokens.
    Stride-1 window hashes, unique spans pruned by a min!=max owner
    aggregation BEFORE the hit join, excision via the same certified
    in-row indexed array-filter rebuild — grouped by span hash, never
    all-pairs."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    return corpus.exact_substring_self_dedup(docs, k=7)


def q_text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gate (corpus.py::gopher_quality): word-count /
    word-length / repetition / stopword rules with per-rule flags."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return corpus.gopher_quality(docs)


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Gopher repetition suite (corpus.py::gopher_repetition_ladder):
    top-n-gram fractions n=2..4, duplicate-n-gram fractions n=5..10, and
    duplicate line/paragraph fractions with the published caps — the
    complete Rae et al. table-A1 ladder (gopher_quality carries only the
    n=2/3 pair)."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return corpus.gopher_repetition_ladder(docs)


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (corpus.py::tfidf_top_terms) —
    characteristic-term extraction for corpus exploration/clustering."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    return corpus.tfidf_top_terms(docs, k=3)


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: plant deterministic contact strings (the synthetic
    corpus has none), then count and redact emails/phones with the pure-
    Column regex pass (text.py::redact_pii). Both the planting and the
    scrub replay exactly in DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example or 555-010"),
        F.lpad(F.pmod(F.col("doc_id"), 100).cast("string"), 2, "0"),
    )
    n_email, n_phone = T.pii_counts(planted)
    return docs.select(
        "doc_id",
        n_email.cast("int").alias("n_emails"),
        n_phone.cast("int").alias("n_phones"),
        F.substring(T.redact_pii(planted), -40, 40).alias("scrubbed_tail"),
    )


def q_sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-proportional importance sampling (corpus.py::
    quality_weighted_sample): keep probability = token_count/100, md5
    uniform — deterministic, replayable, no shuffle."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents").withColumn(
        "w", T.token_count(F.col("text")) / F.lit(100.0)
    )
    return corpus.quality_weighted_sample(docs, "w", seed=3).select(
        "doc_id", F.round("w", 6).alias("keep_prob")
    )


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-corpus duplicate-span removal
    (corpus.py::duplicate_span_dedup): non-overlapping 5-word spans,
    spans present in ≥2 distinct docs dropped everywhere, docs rebuilt
    from the survivors — explode + two hash aggs, three shuffles total."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    return corpus.duplicate_span_dedup(docs, span_words=5, min_docs=2)


def q_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training precursor (corpus.py::build_vocab): corpus-wide
    token frequencies (one map-side-combined hash agg), frequency cutoff,
    rank-assigned contiguous ids — the rank window runs over the bounded
    vocabulary, never the corpus."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    return corpus.build_vocab(docs, min_count=2)


def q_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional token-id encoding against the built vocab
    (corpus.py::encode_tokens): broadcast vocab join + per-doc reduction;
    the order-sensitive id checksum certifies the full encoding without an
    array output."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    vocab = corpus.build_vocab(docs, min_count=2)
    return corpus.encode_tokens(docs, vocab)


def q_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM token budgeting: GPT-2-style pre-tokenizer piece counts
    (functions/text.py::bpe_piece_count, RE2∩Java-safe pattern) next to
    whitespace token counts; the salted variant exercises the
    contraction / digit-run / punctuation-run branches the plain word
    corpus never hits."""
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    t = F.col("text")
    salted = F.concat(
        t, F.lit(" it's "), F.col("doc_id").cast("string"),
        F.lit("-"), F.col("n_chars").cast("string"), F.lit("px."),
    )
    return docs.select(
        "doc_id",
        T.bpe_piece_count(t).alias("n_pieces"),
        T.bpe_piece_count(salted).alias("n_pieces_salted"),
        T.token_count(t).alias("n_ws_tokens"),
        F.round(F.lit(100.0) * T.bpe_piece_count(t) / F.greatest(F.length(t), F.lit(1)), 6).alias("pieces_per_100chars"),
    )


def q_j10_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D range join (joins.py::interval_join): click events falling in
    10-minute incident windows opened by error events, counted per
    incident. Bucket-replicated equi-join (replication ≤2, width inferred
    from the longest interval) — never a cartesian/BNLJ plan."""
    from convml_data_spark.operators import joins

    events = _t(spark, sf_dir, "events")
    err = events.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("t0"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("t1"),
    )
    clk = events.where(F.col("event_type") == "click").select(
        F.col("ts").alias("t_click")
    )
    j = joins.interval_join(clk, err, "t_click", "t0", "t1")
    return j.groupBy("incident_id").agg(F.count("*").alias("n_clicks"))


def q_w6_sequential_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6: ordered stateful scan per group (windows.py::sequential_scan,
    the applyInPandas Lucas-Kanade/state-machine pattern) certified on a
    record-high detector: emit rows whose value beats every earlier value
    in (ts, event_id) order — replayable as a running-max window in SQL,
    so the Python state loop is hash-checked value-for-value."""
    events = _t(spark, sf_dir, "events")

    def step(state, row):
        # nulls arrive as NaN in applyInPandas; NaN > state is False AND
        # state=NaN poisons every later comparison, while the SQL
        # running-max oracle simply ignores NULLs — skip them (v == v is
        # the NaN test) so both sides agree on null-bearing data
        v = row["value"]
        if v is not None and v == v and (state is None or v > state):
            return v, {
                "event_type": row["event_type"],
                "event_id": row["event_id"],
                "value": v,
            }
        return state, None

    return windows.sequential_scan(
        events.select("event_type", "ts", "event_id", "value").where(
            F.col("value").isNotNull()
        ),
        partition_by=["event_type"],
        order_by=["ts", "event_id"],
        step_fn=step,
        state0=None,
        schema="event_type string, event_id long, value double",
    )


def q_stream_seen_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.13 custom stateful operator: applyInPandasWithState first-seen
    filter (streaming exact dedup; stateful.py::streaming_seen_filter).
    Per-key state survives micro-batches; a single-file AvailableNow drain
    emits exactly min(event_id) per user, so the custom state machine is
    oracle-checked value-for-value instead of rows-only."""
    from convml_data_spark import streaming
    from convml_data_spark.streaming import stateful

    _prep(spark)
    # single_batch: the min(event_id)-per-user contract only holds if the
    # whole backlog drains as ONE micro-batch (a multi-part-file events
    # table would otherwise emit the first id per batch, not the min)
    _, stream = streaming.stream_table(spark, sf_dir, "events", single_batch=True)
    out = stateful.streaming_seen_filter(
        stream, "user_id", "event_id", out_schema="user_id long, event_id long"
    )
    return streaming.run_available_now(out, output_mode="append")


def q_corpus_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixture diagnostics (corpus.py::source_token_entropy): token
    count, vocab size, Shannon entropy per source — two map-side-combined
    hash aggs, no window/sort anywhere."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    return corpus.source_token_entropy(docs, group_col="source")


def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.13 built-in streaming dedup: dropDuplicatesWithinWatermark keeps
    one row per user_id with state expiring at the watermark horizon —
    WHICH row survives depends on micro-batch arrival order, so the
    certified contract is the surviving KEY SET (≡ SELECT DISTINCT).
    Single-batch pin like every batch-equivalence stream key: under a
    multi-batch split a key whose only events arrive late (behind an
    already-advanced watermark) would be dropped ENTIRELY, so even the
    key set is only batch-split-invariant within one drain."""
    from convml_data_spark import streaming

    _prep(spark)
    _, stream = streaming.stream_table(spark, sf_dir, "events", single_batch=True)
    deduped = (
        stream.withWatermark("ts", "2 days")
        .dropDuplicatesWithinWatermark(["user_id"])
        .select("user_id")
    )
    return streaming.run_available_now(deduped, output_mode="append")


def q_stream_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.13 × URL dedup: INGEST-TIME canonical-URL deduplication — the
    streaming form of dedup_url's fetch-stage preprocessing (a crawl
    frontier deduping refetches as pages arrive). Events stream in as
    'fetches' with an md5-deterministic messy URL (scheme/www/port/
    query/fragment variants keyed on event_id, host from event_type,
    path from user_id); the canonical_url EXPRESSION is streaming-safe
    (pure in-row string ops), and dropDuplicatesWithinWatermark keeps
    one fetch per canonical URL with state expiring at the watermark
    horizon. WHICH fetch survives is arrival-order-defined, so the
    certified contract is the surviving KEY SET (≡ SELECT DISTINCT
    canonical) — the stream_dedup_watermark recipe, single-batch pin
    for batch-equivalence."""
    from convml_data_spark import streaming

    _prep(spark)
    _, stream = streaming.stream_table(spark, sf_dir, "events", single_batch=True)

    def bits(tag: str):
        return _md5_bits(f"su{tag}:", F.col("event_id"))

    url = F.concat(
        F.when(bits("s") % 2 == 0, F.lit("HTTPS://")).otherwise(F.lit("http://")),
        F.when(bits("w") % 2 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lower(F.col("event_type")),
        F.lit(".Crawl.NET"),
        F.when(bits("p") % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/page/"),
        (F.col("user_id") % 97).cast("string"),
        F.when(bits("t") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(bits("q") % 3 == 0, F.lit("?ref=feed")).otherwise(F.lit("")),
    )
    deduped = (
        stream.select("ts", dedup.canonical_url(url).alias("canonical_url"))
        .withWatermark("ts", "2 days")
        .dropDuplicatesWithinWatermark(["canonical_url"])
        .select("canonical_url", dedup.url_host(F.col("canonical_url")).alias("host"))
    )
    return streaming.run_available_now(deduped, output_mode="append")


def q_stream_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.13 × C4 cleaning: the page heuristics run at INGEST time — the
    cleaning stage is pure in-row Column string math (no aggregation, no
    state), so the exact batch operator (corpus.py::c4_line_filters over
    the _synthetic_pages synthesis) applies to a file stream unchanged
    and drains append-mode with NO watermark or state store. Oracle =
    the batch c4_filters replay verbatim: a stateless map is
    batch-equivalent by construction (the single-batch pin is still set
    for drain-count determinism, not semantics)."""
    from convml_data_spark import streaming
    from convml_data_spark.operators import corpus

    _prep(spark)
    _, stream = streaming.stream_table(
        spark, sf_dir, "documents", single_batch=True
    )
    cleaned = corpus.c4_line_filters(_synthetic_pages(stream))
    return streaming.run_available_now(cleaned, output_mode="append")


def q_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (approx_percentile, rank error ≤ n/acc)
    per group — the fixed-state path that replaces exact sorts at 100 TB.
    Certification mirrors hll_user_counts: sketch internals are
    engine-defined, so the hash-checked contract is the exact per-group
    count plus a boolean asserting the sketch's EXACT rank (computed
    distributedly against the data) lands within the GK guarantee; the
    oracle expects TRUE, so a bound violation turns the row red."""
    li = _t(spark, sf_dir, "lineitem")
    qs, acc = [0.25, 0.5, 0.75, 0.9], 1000
    agg = li.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice", F.array(*[F.lit(q) for q in qs]), F.lit(acc)
        ).alias("ap"),
        F.count("*").alias("n"),
    )
    e = agg.select("l_returnflag", "n", F.posexplode("ap").alias("qi", "av"))
    x = F.col("l_extendedprice")
    ranked = (
        li.select("l_returnflag", "l_extendedprice")
        .join(F.broadcast(e), "l_returnflag")
        .groupBy("l_returnflag", "qi", "n", "av")
        .agg(
            F.sum(F.when(x <= F.col("av"), 1).otherwise(0)).alias("rank_le"),
            F.sum(F.when(x < F.col("av"), 1).otherwise(0)).alias("rank_lt"),
        )
    )
    qarr = F.array(*[F.lit(q) for q in qs])
    target = F.element_at(qarr, F.col("qi") + 1) * F.col("n")
    eps = 2.0 * F.col("n") / F.lit(acc)
    within = (F.col("rank_le") >= target - eps) & (F.col("rank_lt") <= target + eps)
    return ranked.select(
        "l_returnflag",
        F.element_at(qarr, F.col("qi") + 1).alias("q"),
        "n",
        within.alias("within_bound"),
    )


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup collapse (dedup.py::canonical_survivors): cosine
    near-dup pairs at 0.30 → connected components → keep the minimum id
    per cluster plus all unpaired rows — the surviving corpus a dedup
    pipeline actually emits."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = similarity.blocked_cosine_pairs(emb, threshold=0.30).select(
        "id_a", "id_b"
    )
    return dedup.canonical_survivors(
        emb.select("vec_id", "label"), pairs, id_col="vec_id"
    )


def q_dedup_best_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup collapse (dedup.py::best_survivors): blocked
    word-3-gram Jaccard near-dup pairs at 0.5 → connected components →
    keep the LONGEST document (max n_chars, ties → min doc_id) per
    duplicate cluster plus all unpaired docs — the SlimPajama-style
    "keep the best" policy vs dedup_survivors' min-id rule."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.jaccard_dedup_blocked(
        docs, block_cols=["lang", "source"], threshold=0.5, ngram=3
    ).select("id_a", "id_b")
    return dedup.best_survivors(
        docs.select("doc_id", "lang", "source", "n_chars"),
        pairs,
        quality_col="n_chars",
        id_col="doc_id",
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return similarity.cosine_topk(emb, [float(v) for v in qvec], k=10)


# ---------------------------------------------------------------- scalar families

def q_e2_string_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2: product-shorthand parsing, regex extraction, zero-padded ids,
    slug normalization (goes16/utils.py:58-73, triplets.py:13,
    ceres_syn1deg_modis/extract.py:17-26)."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.split("p_name", " ").getItem(0).alias("name_prefix"),
        F.regexp_extract("p_brand", "#([0-9]+)", 1).cast("int").alias("brand_num"),
        F.lpad(F.col("p_partkey").cast("string"), 5, "0").alias("padded_id"),
        F.concat_ws(
            "__", F.lower(F.regexp_replace("p_type", " ", "_")), F.col("p_brand")
        ).alias("shorthand"),
    )


def q_e7_json_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7: JSON codec round-trip (DBTarget analog, utils/luigi.py:50-117):
    parse the props payload, rebuild a typed struct, re-encode."""
    events = _t(spark, sf_dir, "events")
    k = F.from_json("props", "k int").getField("k")
    return events.select(
        "event_id",
        k.alias("k"),
        F.to_json(F.struct(F.col("event_type").alias("type"), k.alias("k"))).alias("meta_json"),
    )


def q_f8_dropna_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 dropna + F10 level slice + F12 rename/cast projection in one
    plan (aux_fields/data_filters.py:14, era5/base.py:11-12)."""
    li = _t(spark, sf_dir, "lineitem")
    masked = li.withColumn(
        "disc", F.when(F.col("l_discount") > 0.05, F.col("l_discount"))
    )
    return (
        masked.na.drop(subset=["disc"])
        .where(F.col("l_linenumber") >= 3)
        .select(
            "l_orderkey",
            F.col("l_linenumber").alias("level"),
            F.col("l_quantity").cast("int").alias("qty_int"),
            F.round("disc", 6).alias("disc"),
        )
    )


# ---------------------------------------------------------------- derived DAG / UDF surface

def q_derived_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11: the reference's full 14-variable physics DAG
    (era5/base.py:127-151) compiled to a withColumn chain over a synthetic
    (column, level) profile carved from events: per-row math in codegen,
    per-column reductions (layer means, LTS/EIS level picks, cumulative
    hydrostatic alt integration) as windows over one shuffle by column id."""
    from convml_data_spark.plans import derived as derived_mod

    events = _t(spark, sf_dir, "events")
    av = F.abs(F.col("value"))
    cid = F.floor(F.col("event_id") / F.lit(40))
    lev = F.col("event_id") % 40
    sig = (lev.cast("double") + F.lit(1.0)) / F.lit(40.0)
    base = events.select(
        cid.alias("cid"),
        lev.alias("level"),
        F.col("value").alias("u"),
        (F.col("value") * 0.5).alias("v"),
        (
            F.lit(300.0)
            - (F.lit(39) - lev).cast("double") * F.lit(1.5)
            - (av % F.lit(5.0))
        ).alias("t"),
        (F.lit(0.015) * sig * sig * (F.lit(0.9) + (av % F.lit(0.2)))).alias("q"),
        (F.lit(10.0) * (cid % 50).cast("double")).alias("z"),
        (F.lit(11.5) + (cid % 7).cast("double") * F.lit(0.01)).alias("lnsp"),
    )
    reg = derived_mod.era5_like_registry(
        column_keys=("cid",), level_col="level", n_levels=40
    )
    out = reg.compile(
        base,
        [
            "umag", "rh", "theta", "alt", "p", "d_theta__lts", "z_lcl",
            "d_theta__eis", "bl_umag", "cl_umag", "bl_qmean", "cl_qmean", "tpw",
        ],
    )
    return out.select(
        "cid",
        "level",
        F.round("umag", 6).alias("umag"),
        F.round("p", 6).alias("p"),
        F.round("theta", 6).alias("theta"),
        F.round("rh", 6).alias("rh"),
        F.round("alt", 6).alias("alt"),
        F.round("d_theta__lts", 6).alias("lts"),
        F.round("z_lcl", 6).alias("z_lcl"),
        F.round("d_theta__eis", 6).alias("eis"),
        F.round("bl_umag", 6).alias("bl_umag"),
        F.round("cl_umag", 6).alias("cl_umag"),
        # explicit floor-based rounding, NOT round(): q's construction
        # quantizes layer means onto exact half-points of the 1e-8 grid
        # (the constant part of q ends in ...125), where Spark's exact
        # BigDecimal HALF_UP and DuckDB's multiply-based round() split by
        # half an ulp. floor(x*1e8+0.5)/1e8 is pure IEEE arithmetic both
        # engines compute bit-identically (values are positive).
        (F.floor(F.col("bl_qmean") * F.lit(1e8) + F.lit(0.5)) / F.lit(1e8)).alias("bl_qmean"),
        (F.floor(F.col("cl_qmean") * F.lit(1e8) + F.lit(0.5)) / F.lit(1e8)).alias("cl_qmean"),
        F.round("tpw", 6).alias("tpw"),
    )


def q_x1_user_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: user-function registry with metadata + [0,1] contract
    (sources/user_functions.py:5-41, tests/example/user_functions.py)."""
    from convml_data_spark.functions.userfuncs import UserFunctionRegistry

    reg = UserFunctionRegistry()

    @reg.register("cloud_mask", ["bt"], units="1", long_name="cloud mask (280K<=bt<=290K)")
    def _cloud_mask(bt):
        return (bt >= 280.0) & (bt <= 290.0)

    @reg.register("norm_img", ["bt"], units="1", long_name="normalized image", bounded_01=True)
    def _norm_img(bt):
        return (bt - 250.0) / 50.0

    events = _t(spark, sf_dir, "events")
    base = events.select(
        "event_id", (F.lit(250.0) + (F.abs(F.col("value")) % 50.0)).alias("bt")
    )
    out = reg.apply(reg.apply(base, "cloud_mask"), "norm_img")
    return out.select("event_id", "cloud_mask", F.round("norm_img", 6).alias("norm_img"))


def q_x3_batch_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: broadcast-model batch inference over Arrow batches. The seeded
    checkpoint's weights are a fixed artifact, so the oracle replays the
    same tanh(V·W) with the weight matrix embedded as literals — output is
    exploded to (vec_id, component, value) scalars for hashing."""
    from convml_data_spark.operators import inference

    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    out = inference.batch_embed(emb, in_dim=dim, out_dim=8)
    return out.select(
        "vec_id", F.posexplode("emb_out").alias("j", "v")
    ).select("vec_id", F.col("j").cast("bigint").alias("j"), F.round("v", 6).alias("v"))


def q_x4_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: Spark ML PCA over the embedding matrix, certified structurally
    (eigenvector SIGNS are solver-defined, so raw loadings aren't
    cross-engine comparable): the principal basis must be orthonormal, the
    explained-variance ratios non-increasing, and every row projected.
    A violated invariant flips the pinned-outcome oracle row red."""
    import numpy as np

    from convml_data_spark.operators import inference

    emb = _t(spark, sf_dir, "embeddings")
    out, model = inference.pca_transform(emb, k=8)
    pc = model.pc.toArray()  # (dim, k) loadings — small, driver-side
    gram = pc.T @ pc
    orthonormal_ok = bool(np.allclose(gram, np.eye(pc.shape[1]), atol=1e-8))
    ev = list(model.explainedVariance)
    variance_ok = all(ev[i] >= ev[i + 1] - 1e-12 for i in range(len(ev) - 1))
    n = out.where(F.size("pca") == 8).agg(F.count("*").alias("n"))
    return n.select(
        F.lit(8).cast("bigint").alias("k"),
        F.col("n").alias("n_rows"),
        F.lit(orthonormal_ok).alias("orthonormal_ok"),
        F.lit(variance_ok).alias("variance_ok"),
    )


def q_emb_transform_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 density clustering (operators/clustering.py::dbscan_labels; the
    reference's hdbscan dispatch target, embeddings/transforms.py:30-40,
    realized as exact relational DBSCAN): epsilon-grid candidate join →
    neighbor counts → core points → cluster labels via alternating-star
    connected components → deterministic border assignment. Fully
    value-exact vs the DuckDB replay (grid join + recursive-CTE closure) —
    a SEMANTIC oracle for the density transform, not just a structural
    one."""
    from convml_data_spark.operators import inference

    emb = _t(spark, sf_dir, "embeddings")
    out, _model = inference.apply_transform(
        emb, "dbscan", transform_extra_args="eps=0.04,min_samples=5"
    )
    return out.select(
        "vec_id",
        F.coalesce("emb", F.lit(-1)).alias("label"),
        "is_core",
    )


def q_dbscan_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 density HIERARCHY (clustering.py::dbscan_eps_ladder): exact
    DBSCAN labels at two eps heights from ONE materialized candidate
    join — the relational slice of the reference's hdbscan dendrogram
    (embeddings/transforms.py:107-139; hdbscan-the-library's
    mutual-reachability MST is single-node and not oracle-replayable).
    Each level is the certified DBSCAN semantics; watching labels merge
    between levels is the dendrogram's cluster-merge event. Noise = -1."""
    from convml_data_spark.operators import clustering

    emb = _t(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    )
    out = clustering.dbscan_eps_ladder(pts, [0.02, 0.04], 5, id_col="vec_id")
    return out.select(
        F.col("id").alias("vec_id"),
        "eps",
        F.coalesce("label", F.lit(-1)).alias("label"),
        "is_core",
    )


def q_dbscan_mutual_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hdbscan robust-single-linkage level sets (clustering.py::
    mutual_reachability_ladder; Campello, Moulavi & Sander 2013): exact
    per-point CORE DISTANCES (squared (min_pts-1)-NN radius within
    eps_max — the density discount hdbscan builds its mutual-reachability
    metric from) and per-height components of the mutual-reachability
    graph, which collapse to DBSCAN* cuts (border points are NOISE, the
    semantic gap the plain dbscan_ladder left vs hdbscan). One
    materialized grid join at eps_max + one keyed window feed both
    levels; core_d2 is bit-exact replayable double arithmetic, labels
    min-core-id, noise = -1."""
    from convml_data_spark.operators import clustering

    emb = _t(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    )
    out = clustering.mutual_reachability_ladder(
        pts, [0.02, 0.04], 5, id_col="vec_id"
    )
    return out.select(
        F.col("id").alias("vec_id"),
        "eps",
        "core_d2",
        F.coalesce("label", F.lit(-1)).alias("label"),
        "is_core",
    )


def q_dbscan_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epsilon-grid occupancy diagnostic (clustering.py::
    epsilon_grid_cell_stats): the pre-flight probe for DBSCAN's one
    quadratic corner — a dense grid cell contributes c² candidate rows to
    the 3x3 neighbor join no matter how the rest of the data looks.
    One hash aggregation on the cell key + a 1-row reduce; the in-flight
    twin is the skew_observation candidate-pair probe on dbscan_labels /
    dbscan_eps_ladder (exercised by the dense-cell unit test)."""
    from convml_data_spark.operators import clustering

    emb = _t(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    )
    return clustering.epsilon_grid_cell_stats(pts, 0.02, id_col="vec_id")


def q_dbscan_merge_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dendrogram MERGE RECORD between two eps heights (the hdbscan
    cluster-merge event the reference's dendrogram encodes,
    embeddings/transforms.py:107-139): for every eps-0.04 cluster, how
    many distinct eps-0.02 clusters it absorbed (n_children — >1 IS a
    merge event), how many of its points were noise at the smaller
    radius (n_born), and its smallest child label. Pure composition of
    the certified dbscan_eps_ladder output: one self-alignment join on
    point id + one hash agg."""
    from convml_data_spark.operators import clustering

    emb = _t(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    )
    ladder = clustering.dbscan_eps_ladder(pts, [0.02, 0.04], 5, id_col="vec_id")
    lo = ladder.where(
        (F.col("eps") == 0.02) & F.col("label").isNotNull()
    ).select("id", F.col("label").alias("label_lo"))
    hi = ladder.where(
        (F.col("eps") == 0.04) & F.col("label").isNotNull()
    ).select("id", F.col("label").alias("label_hi"))
    return (
        hi.join(lo, "id", "left")
        .groupBy("label_hi")
        .agg(
            F.count_distinct("label_lo").alias("n_children"),
            F.sum(F.when(F.col("label_lo").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_born"),
            F.min("label_lo").alias("min_child"),
        )
    )


def q_emb_transform_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-transform registry (transforms.py:17-139): dispatch
    ``standard_scaler`` by type string, fit + apply as a Spark ML
    transformer, output exploded to (vec_id, dim, value) scalars."""
    from convml_data_spark.operators import inference

    emb = _t(spark, sf_dir, "embeddings")
    out, _model = inference.apply_transform(emb, "standard_scaler")
    return out.select("vec_id", F.posexplode("emb").alias("dim", "v")).select(
        "vec_id", F.col("dim").cast("bigint").alias("dim"), F.round("v", 6).alias("v")
    )


def q_token_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style long-document chunking (corpus.py::sliding_token_windows):
    64-token windows every 48 tokens (16-token overlap): one
    layout-decoupling repartition, then in-row explode(sequence)+slice."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    return corpus.sliding_token_windows(docs, size=64, stride=48)


def q_mixture_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture planning (corpus.py::mixture_rates): per-source
    sampling rates hitting a 50k-token budget at 60/20/20 target weights
    over three sources (everything else weight 0) — one map-side-combined
    aggregation, weights as plan literals."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    return corpus.mixture_rates(
        docs, {"src0": 3.0, "src1": 1.0, "src2": 1.0}, token_budget=50_000
    )


def q_similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (similarity.py::pq_train/pq_encode/
    pq_rerank_topk_batch — Jégou et al. 2011, the FAISS memory-compression
    path): vectors become m=8 4-bit codes, the compressed scan shortlists
    100 candidates per query, exact L2 reranks the shortlist. Certified by
    macro recall@10 >= 0.4 vs the exact L2 scan over 5 probe vectors
    (measured 0.64-0.80 at sf0.001-0.1; the synthetic embeddings are
    near-random — PQ's hardest case)."""
    emb = _t(spark, sf_dir, "embeddings")
    qrows = emb.where(F.col("vec_id") < 5).select("vec_id", "embedding").collect()
    queries = [(int(r["vec_id"]), [float(v) for v in r["embedding"]]) for r in qrows]
    exact = similarity.l2_topk_batch(emb, queries, k=10).select(
        "qid", F.col("vec_id").alias("id")
    )
    approx = similarity.pq_rerank_topk_batch(
        emb, queries, k=10, shortlist=100, m=8, n_codes=16
    ).select("qid", F.col("vec_id").alias("id"))
    hits = exact.join(approx, ["qid", "id"]).agg(F.count("*").alias("hits"))
    need = int(0.4 * 5 * 10)
    return hits.select(
        F.lit(5).cast("bigint").alias("n_queries"),
        (F.col("hits") >= F.lit(need)).alias("recall_ok"),
    )


def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-column plumbing (multimodal.py::audio_features): fake-PCM
    binary payloads decoded in Arrow batches, numpy-vectorized per-clip
    features. The md5 payload scheme replays in DuckDB, so this is a FULL
    value oracle, not rows-only."""
    from convml_data_spark.operators import multimodal

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    with_audio = multimodal.attach_fake_audio(docs, n_samples=256, sample_rate=8000)
    out = multimodal.audio_features(with_audio)
    return out.select(
        "doc_id",
        "n_samples",
        "sample_rate",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("mean_amp", 6).alias("mean_amp"),
        F.round("rms", 6).alias("rms"),
        "n_zero_cross",
    )


def q_unigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram cross-entropy LM-quality score per document (corpus.py::
    unigram_logprob_score, the CCNet-style filtering proxy): one corpus
    frequency agg + hash join + per-doc reduction with DECIMAL(38,12)
    log-term sums (order-independent under AQE, replayable in DuckDB)."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    return corpus.unigram_logprob_score(docs)


def q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified R1 (sampling.py::stratified_split): every source splits
    3:1 train/val EXACTLY (floor thresholds), ranks computed per
    (group, fixed-uniform-bucket) with broadcast offsets — no per-group
    single-task window, no sketch job (the rank key is md5-uniform)."""
    from convml_data_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.stratified_split(
        docs, "source", {"train": 3, "val": 1}, id_col="doc_id", seed=42
    ).select("doc_id", "source", "collection")


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing (corpus.py::pack_token_chunks):
    deterministic md5 corpus shuffle, concatenate, cut every 4096 tokens;
    each doc reports the chunk id + offset its first token lands on. The
    global running token count is the bucket-decomposed global_cumsum —
    the DuckDB replay is the same window SUM, so the decomposition is
    certified value-for-value."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    return corpus.pack_token_chunks(docs, budget=4096, seed=42)


def q_pack_bestfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-fit-decreasing sequence packing WITHOUT splitting
    (corpus.py::pack_bestfit_decreasing — the truncation-free
    alternative to pack_chunks' concat-and-cut; Krell et al. 2021):
    32 deterministic md5 buckets, exact BFD within each (length DESC,
    smallest-fitting-bin, md5 tiebreaks), budget 128. Oracle replays the
    per-bucket scan as a recursive CTE carrying each bucket's open-bin
    remaining-capacity list — its iteration count is the LARGEST bucket,
    so the bucket count is also the oracle's replay-depth knob (32 ⇒
    ~157 iterations at sf0.1 instead of 625 at 8); bin_fill =
    bin_tokens/128 is exactly dyadic so no rounding is needed for
    parity."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    return corpus.pack_bestfit_decreasing(
        docs, budget=128, n_buckets=32, seed=42
    )


def q_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain/source document cap (corpus.py::cap_per_group): at most
    20 docs per source survive, chosen by deterministic md5 ranking —
    the web-corpus per-domain cap, two-phase-ranked so a skewed domain
    never hits a single-task window."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return corpus.cap_per_group(docs, "source", n_max=20, seed=7)


def q_emb_transform_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-transform registry clustering path (transforms.py:17-139;
    the reference dispatches hdbscan there — this container has no hdbscan,
    so the registry's clustering transform is Spark ML KMeans with the same
    fit/apply + label-column shape). Certified structurally: every row gets
    a label in [0, k) (exact centroid membership is solver/partitioning-
    defined, so raw labels aren't cross-engine comparable)."""
    from convml_data_spark.operators import inference

    emb = _t(spark, sf_dir, "embeddings")
    out, _model = inference.apply_transform(emb, "kmeans", transform_extra_args="k=8")
    return out.agg(
        F.count("*").alias("n_rows"),
        (F.count_if((F.col("emb") >= 0) & (F.col("emb") < 8)) == F.count("*")).alias(
            "labels_in_range"
        ),
    )


def q_kmeans_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 centroid clustering with a FULL value oracle
    (clustering.py::relational_kmeans): deterministic fixed-round Lloyd —
    DECIMAL(12,6)-quantized coordinates, exact-decimal d² argmin,
    identically-IEEE-rounded mean updates — so the exact (id, label)
    relation replays in DuckDB, closing the gap where the Spark ML
    kmeans key (emb_transform_kmeans) certifies only structurally."""
    from convml_data_spark.operators.clustering import relational_kmeans

    emb = _t(spark, sf_dir, "embeddings")
    return relational_kmeans(emb, k=8, rounds=2).select(
        "vec_id", F.col("cluster").cast("long").alias("cluster")
    )


def q_stream_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.13: file-stream scene discovery → watermarked 1-day windowed
    counts, drained with Trigger.AvailableNow (batch-equivalent result, so
    it oracle-checks against plain GROUP BY day)."""
    from convml_data_spark import streaming

    _prep(spark)
    # stream_table normalizes every physical timestamp era (ns-as-long,
    # MICROS-NTZ, instants) and both file-vs-directory layouts;
    # single-batch pin: a multi-file layout unordered across files would
    # let the watermark drop late windows between micro-batches, breaking
    # the batch-equivalence the oracle certifies
    _, stream = streaming.stream_table(spark, sf_dir, "events", single_batch=True)
    sdf = streaming.stream_windowed_counts(
        spark, sf_dir, None, group_cols=("event_type",), source=stream
    )
    return streaming.run_available_now(sdf)


def q_s8_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/S10 partitioned-sink ROUND TRIP (pipeline.py::
    split_by_time_partition -> materialize, the les.py:87-107 analog):
    split the events table into one Hive partition per UTC day, read it
    BACK from disk, and certify per-partition row counts, distinct event
    ids and a DECIMAL-exact value sum at the driver's value level — the
    batch write path previously carried only property tests
    (tests/test_pipeline.py) while every certified read was against the
    driver's own parquet. Downstream per-day reads of the written layout
    are partition-pruned scans (the S9 plan gates); this key certifies
    the DATA survived the partitioned rewrite exactly. Fixed per-process
    scratch wiped on entry (the stream_parquet_drain convention)."""
    import os
    import shutil
    import tempfile

    from convml_data_spark import pipeline

    _prep(spark)
    events = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    root = os.path.join(
        tempfile.gettempdir(), f"s8_partitioned_sink_{os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)
    pipeline.split_by_time_partition(events, root, time_col="ts", granularity="day")
    back = spark.read.parquet(root)
    # partition-dir values read back type-INFERRED (DATE); pin the
    # driver-canonical string the writer produced
    return back.groupBy(F.col("_part").cast("string").alias("day")).agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("event_id").alias("n_events"),
        (
            F.round(
                F.sum(F.col("value").cast("decimal(38,6)")).cast("double"), 6
            )
            + F.lit(0.0)
        ).alias("sum_value"),
    )


def q_stream_parquet_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.13 PRODUCTION sink path: the same watermarked 1-day windowed
    counts as ``stream_daily_counts``, but drained through the engine sink
    ``drain_to_parquet`` (streaming/scene_stream.py — checkpoint-chained
    foreachBatch parquet appends, no rows through the driver) and read
    BACK from the sink directory. Readers keep each key's LAST emission
    (max ``_batch_id``) exactly as the sink contract documents for
    update-mode re-emissions; with the single-batch pin there is one
    batch, so the reducer is an identity the oracle still certifies.
    Oracle = the same batch GROUP BY day — closes the gap where every
    certified stream key drained through the in-memory collector while
    the parquet path had only a property test."""
    import os
    import shutil
    import tempfile

    from convml_data_spark import streaming

    _prep(spark)
    _, stream = streaming.stream_table(spark, sf_dir, "events", single_batch=True)
    sdf = streaming.stream_windowed_counts(
        spark, sf_dir, None, group_cols=("event_type",), source=stream
    )
    # fixed per-process scratch, wiped on entry: repeated invocations
    # (sweep, sim, pytest) reuse one directory instead of leaking a
    # mkdtemp checkpoint+sink pair per call
    root = os.path.join(
        tempfile.gettempdir(), f"stream_parquet_drain_{os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)
    streaming.drain_to_parquet(
        sdf, f"{root}/ckpt", f"{root}/out", output_mode="update"
    )
    sink = spark.read.parquet(f"{root}/out")
    return (
        sink.groupBy("window_start", "event_type")
        .agg(F.max_by("n", "_batch_id").alias("n"))
        .select("window_start", "event_type", "n")
    )


def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.13 stream-static enrichment: the event stream joins a broadcast
    static dimension per micro-batch (streaming J9), then watermarked
    windowed counts — drained AvailableNow, so it oracle-checks against
    the batch GROUP BY with the dimension inlined as a CASE mapping."""
    from convml_data_spark import streaming

    _prep(spark)
    # single-batch pin for the same reason as stream_stream_join: the
    # watermarked agg's batch-equivalence assumes one AvailableNow drain
    _, stream = streaming.stream_table(spark, sf_dir, "events", single_batch=True)
    dim = spark.createDataFrame(
        [(et, i) for i, et in enumerate(EVENT_TYPES)],
        "event_type string, priority int",
    )
    enriched = streaming.stream_static_join(stream, dim, "event_type")
    sdf = streaming.stream_windowed_counts(
        spark, sf_dir, None, group_cols=("event_type", "priority"), source=enriched
    )
    out = streaming.run_available_now(sdf)
    return out.select(
        "window_start",
        "event_type",
        F.col("priority").cast("bigint").alias("priority"),
        "n",
    )


def q_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.13 × incremental dedup: INGEST-TIME streaming dedup against a
    static MinHash signature index. The odd-doc_id half of documents
    arrives as a file stream; signatures compute statelessly per
    micro-batch (dedup.py::minhash_signatures_stateless — array exprs,
    no aggregation), bands explode (stateless), and a per-batch left
    join against the static even-half banded index marks collisions
    (full band match + sig-agreement ≥ 0.5). One streaming max-per-doc
    aggregation drains AvailableNow; survivors are the docs with zero
    collisions. Oracle = the batch cross-index filter (the within-batch
    collapse belongs to the batch operator, key incremental_dedup).
    At production scale the banded index is a bucketed table
    co-partitioned on (band, bucket); it is broadcast here because the
    demo index is bounded by the sf documents table."""
    from convml_data_spark import streaming

    _prep(spark)
    batch, stream = streaming.stream_table(
        spark, sf_dir, "documents", single_batch=True
    )
    index_sigs = dedup.minhash_signatures(
        batch.where(F.col("doc_id") % 2 == 0), num_hashes=8
    )
    new_sigs = dedup.minhash_signatures_stateless(
        stream.where(F.col("doc_id") % 2 == 1), num_hashes=8
    )
    nb = dedup.banded_slice_keys(new_sigs, bands=4, num_hashes=8, out_id="nid")
    ob = (
        dedup.banded_slice_keys(index_sigs, bands=4, num_hashes=8, out_id="oid")
        .withColumnRenamed("band", "oband")
        .withColumnRenamed("bucket", "obucket")
    )
    cond = (
        (F.col("band") == F.col("oband"))
        & (F.col("bucket") == F.col("obucket"))
        & (dedup.sig_agreement("sig_nid", "sig_oid", 8) >= F.lit(0.5))
    )
    hits = nb.join(F.broadcast(ob), cond, "left").select(
        "nid", F.when(F.col("oid").isNotNull(), 1).otherwise(0).alias("hit")
    )
    agg = hits.groupBy("nid").agg(F.max("hit").alias("hit"))
    drained = streaming.run_available_now(agg, output_mode="complete")
    return drained.where(F.col("hit") == 0).select(F.col("nid").alias("id"))


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.13 stream-stream inner join (click→purchase attribution): both
    event streams watermarked, joined per user with the purchase inside
    [0, 1 h] after the click — the time-range bound is what keeps the
    join STATE bounded. AvailableNow drain ≡ the batch join, so the
    oracle is plain SQL."""
    from convml_data_spark import streaming

    _prep(spark)
    # single-batch pin: a multi-file layout with event times unordered
    # across files would otherwise let the watermark evict join state
    # BETWEEN micro-batches over the 30-day event span (the
    # stream_seen_filter lesson) — batch-equivalence needs one drain
    _, s1 = streaming.stream_table(spark, sf_dir, "events", single_batch=True)
    _, s2 = streaming.stream_table(spark, sf_dir, "events", single_batch=True)
    clicks = s1.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    purch = s2.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    joined = streaming.stream_stream_interval_join(
        clicks, purch, [("c_user", "p_user")], "c_ts", "p_ts",
        lower_s=0, upper_s=3600,
    )
    out = streaming.run_available_now(joined, output_mode="append")
    return out.select(
        F.col("c_user").alias("user_id"), "click_id", "purchase_id", "c_ts", "p_ts"
    )


# ---------------------------------------------------------------- more LLM ops

def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: k-gram hash window kept as an in-row array;
    min-hash + distinct-count reductions are array expressions (no explode,
    no shuffle)."""
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    g = T.kgram_hashes(F.col("text"), 8)
    return docs.select(
        "doc_id",
        F.array_min(g).alias("min_hash"),
        F.size(F.array_distinct(g)).alias("n_distinct"),
    )


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: per-language stopword ratios + deterministic
    argmax (priority order on ties)."""
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    t = F.col("text")
    s = T.lang_stopword_scores(t)
    return docs.select(
        "doc_id",
        *[F.round(s[lang], 6).alias(f"s_{lang}") for lang in ("en", "de", "fr", "es")],
        T.lang_guess(t).alias("lang_guess"),
    )


def _md5_bits(tag: str, col):
    """52-bit md5 integer of ``tag || col`` — ONE definition for every
    synthetic-variant key so the Spark expression and its DuckDB twin
    ``CAST('0x' || substr(md5('<tag>' || id), 1, 13) AS BIGINT)`` cannot
    drift apart per copy."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(tag), col.cast("string"))), 1, 13),
        16, 10,
    ).cast("long")


def _synthetic_urls(docs: DataFrame) -> DataFrame:
    """Deterministic messy-URL column for the URL-dedup key (documents
    carries no URL): scheme/www/port/query/fragment/trailing-slash
    variants keyed on md5 bits of doc_id (replayable), host from
    ``source``, path from ``doc_id % 37`` so canonical collisions form
    real duplicate groups."""
    def bits(tag: str):
        return _md5_bits(f"url{tag}:", F.col("doc_id"))

    url = F.concat(
        F.when(bits("s") % 3 == 0, F.lit("HTTPS://"))
        .when(bits("s") % 3 == 1, F.lit("https://"))
        .otherwise(F.lit("http://")),
        F.when(bits("w") % 2 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".Example.COM"),
        F.when(bits("p") % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Docs/"),
        (F.col("doc_id") % 37).cast("string"),
        F.when(bits("t") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(bits("q") % 3 == 0, F.lit("?utm_source=feed&ref=rss")).otherwise(F.lit("")),
        F.when(bits("f") % 5 == 0, F.lit("#section-2")).otherwise(F.lit("")),
    )
    return docs.select("doc_id", url.alias("url"))


def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/host-level dedup + per-host cap (dedup.py::dedup_url — the
    CCNet/RefinedWeb fetch-stage preprocessing): canonical-URL expression
    (strip scheme/userinfo/query/fragment/default port/www/trailing
    slash, lowercase host) → min-id survivor per canonical URL → ≤20
    rows/host via the cap_per_group two-phase salted rank. One hash agg
    + the bounded cap; the messy-URL synthesis is md5-deterministic so
    the whole pipeline value-replays in DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.dedup_url(_synthetic_urls(docs), max_per_host=20)


def _synthetic_pages(docs: DataFrame) -> DataFrame:
    """Deterministic newline-structured 'web page' per document for the
    C4-filter key (documents carries flat token text): 6-token lines
    with an md5-chosen terminator per (doc_id, line) — '.', '!', '?',
    none, or a trailing ' javascript.' — plus md5-flagged 'lorem ipsum'
    and '{' boilerplate lines, so every C4 rule fires on real rows."""
    toks = T.tokens(F.lower(F.col("text")))
    # zero-token docs are excluded from the synthesis: F.sequence(0, -1)
    # DESCENDS (garbage 2-line page) and the oracle's body unnest emits
    # nothing — neither side would be meaningful for them. The curation
    # key reuses the same page expression via _synthetic_page_expr's ''
    # fallback instead (an empty page keeps 0 lines, so C4 drops it).
    return docs.where(F.greatest(F.size(toks), F.lit(0)) > 0).select(
        "doc_id", _synthetic_page_expr().alias("text")
    )


def _synthetic_page_expr():
    """The md5-deterministic newline-page Column of :func:`_synthetic_pages`
    for the current row ('' for zero-token docs) — ONE definition shared
    with the curation-pipeline key so the two syntheses cannot drift."""
    toks = T.tokens(F.lower(F.col("text")))
    nl = F.ceil(F.greatest(F.size(toks), F.lit(0)) / F.lit(6)).cast("int")
    terms = F.array(
        F.lit("."), F.lit("!"), F.lit("?"), F.lit(""), F.lit(" javascript.")
    )
    line = lambda i: F.concat(
        F.array_join(F.slice(toks, i * 6 + 1, 6), " "),
        F.element_at(
            terms,
            (
                _md5_bits(
                    "",
                    F.concat(
                        F.col("doc_id").cast("string"), F.lit(":"), i.cast("string")
                    ),
                ) % 5
            ).cast("int") + 1,
        ),
    )
    flag = lambda tag, m: _md5_bits(f"{tag}:", F.col("doc_id")) % m == 0
    page = F.concat(
        F.array_join(F.transform(F.sequence(F.lit(0), nl - 1), line), "\n"),
        F.when(flag("li", 13), F.lit("\nlorem ipsum dolor sit.")).otherwise(F.lit("")),
        F.when(flag("br", 11), F.lit("\nif (x) { return y; }")).otherwise(F.lit("")),
    )
    return F.when(F.greatest(F.size(toks), F.lit(0)) > 0, page).otherwise(F.lit(""))


def q_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 heuristic page cleaning (corpus.py::c4_line_filters, Raffel et
    al. 2020 §2.2): terminal-punctuation + min-words + no-javascript
    line rules, lorem-ipsum/brace/min-sentences page rules — pure in-row
    Column string math, one map pass at any corpus scale. Pages are the
    md5-deterministic newline synthesis so every rule value-replays."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    return corpus.c4_line_filters(_synthetic_pages(docs))


def q_wordpiece_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece vocabulary construction (wordpiece.py::wordpiece_vocab —
    Wu et al. 2016 §3.1, the BERT tokenizer family next to BPE and
    unigram-LM): every single character in both positional forms (raw /
    ##-continuation) plus the top-24 multi-character pieces by
    positional corpus count. One grid explode over the bounded
    distinct-word relation + one hash agg + a bounded TakeOrdered."""
    from convml_data_spark.operators import wordpiece as WP

    docs = _t(spark, sf_dir, "documents")
    return WP.wordpiece_vocab(docs)


def q_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece greedy longest-match-first encoding against the corpus
    vocabulary (wordpiece.py::wordpiece_encode): per-doc (n_words,
    n_chars, n_pieces, n_unk_words) — the same contract as spm_encode,
    so the three tokenizer families compare row-for-row. Segmentation
    runs once per DISTINCT word against a one-row packed vocabulary
    broadcast, unrolled to plan-time steps (no UDF), then joins back."""
    from convml_data_spark.operators import wordpiece as WP

    docs = _t(spark, sf_dir, "documents")
    v = WP.wordpiece_vocab(docs)
    return WP.wordpiece_encode(docs, v)


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (dedup.py::winnow_fingerprints;
    Schleimer et al. 2003 — the MOSS local-fingerprint selection): char
    8-gram md5 hashes, 4-hash windows, rightmost-min robust rule. The
    full (doc, pos, fp) relation is the joinable index; certified here
    as per-doc (count, min, position-weighted modular checksum) so the
    driver compares ~n docs instead of collecting every fingerprint —
    the checksum is order/position-exact, so a single mis-selected
    fingerprint flips the row."""
    docs = _t(spark, sf_dir, "documents")
    wf = dedup.winnow_fingerprints(docs, k=8, w=4)
    return wf.groupBy("doc_id").agg(
        F.count("*").alias("n_fps"),
        F.min("fp").alias("min_fp"),
        # position-weighted modular checksum: a raw BIGINT sum wraps on
        # multi-MB docs (the seg_checksum overflow class) while the
        # oracle's HUGEINT sum errors at the BIGINT cast instead —
        # checksum_mod_sum splits each long term hi/lo and reassembles
        # mod 2^61-1, exact (terms < 2^20 * positions, well under its
        # 2^62 range; formerly a DECIMAL(38,0) accumulate, identical)
        dedup.checksum_mod_sum(
            (F.col("fp") % 1000003) * (F.col("pos") + F.lit(1)).cast("long")
        ).alias("fp_checksum"),
    )


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training
    (similarity.py::hard_negative_mining, the DPR/SimCLR
    negatives-matter recipe): for each of 8 md5-sampled anchors, the 5
    most-cosine-similar rows BELOW the 0.95 duplicate band — similar
    enough to be hard, with true duplicates band-stopped out. One
    broadcast join over one scan + the salted two-phase top-k."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.hard_negative_mining(
        emb, n_anchors=8, k=5, dup_threshold=0.95
    )


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT directed shingle-containment pairs ≥ 0.5
    (dedup.py::containment_pairs): the asymmetric PPJoin — catches a
    document quoted INSIDE a larger one, where Jaccard (and so MinHash
    recall) collapses with the size ratio. A-side prefix filter against
    the full inverted index; exact intersection verify."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.containment_pairs(docs, threshold=0.5)


def q_langid_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-classifier language ID (corpus.py::langid_classifier —
    fastText langid shape, Joulin et al. 2016, the production standard
    CCNet runs): the quality_classifier md5-bucket machinery with
    per-LANGUAGE weight columns and an argmax head. Weights here are the
    deterministic LANG_STOPWORDS lexicon-count model
    (langid_lexicon_weights), so prediction AND margin replay in DuckDB;
    agreement with the stopword-ratio heuristic is property-tested."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    w = corpus.langid_lexicon_weights(spark, n_buckets=1024)
    return corpus.langid_classifier(docs, w, n_buckets=1024)


def q_langid_confident(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibrated-confidence language ID (corpus.py::langid_calibrated —
    CCNet's bucket-by-score practice + fastText's threshold-on-
    probability): margin terciles via the certified exact-quantile
    selection path, per-bucket empirical agreement against the
    INDEPENDENT stopword-ratio heuristic on a deterministic holdout
    (doc_id % 5 == 0), every doc stamped with its bucket's calibrated
    confidence and a principled `confident` flag."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    w = corpus.langid_lexicon_weights(spark, n_buckets=1024)
    return corpus.langid_calibrated(docs, w, holdout_mod=5, conf_threshold=0.5)


# Driver blocklist: four terms that occur in the synthetic corpus (two
# unigrams, two bigram phrases) plus one guaranteed miss — exercises the
# multi-width join fan and the zero-match term path.
BLOCKLIST_TERMS = (
    "merge",
    "vector",
    "slow customer",
    "table table",
    "quantum leap",
)


def q_blocklist_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pattern blocklist scan (corpus.py::blocklist_scan): bounded
    term relation, one corpus pass per distinct pattern width, broadcast
    equi-join matching — the Aho-Corasick one-traversal economics where
    a per-pattern regex chain re-scans the text per term."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    bl = spark.createDataFrame(
        [(t,) for t in BLOCKLIST_TERMS], "term string"
    )
    return corpus.blocklist_scan(docs, bl, min_hits=3)


def q_neardup_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label (the exact
    baseline; LSH-bucketed variant is the scale path in similarity.py).
    Norms precomputed per row, self-join parallelism decoupled from file
    layout (similarity.blocked_cosine_pairs)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.blocked_cosine_pairs(emb, threshold=0.35)


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster collapse: cosine pairs (threshold 0.30 — denser
    graph than neardup_cosine_pairs, multi-hop chains up to size 6 at
    sf0.01) → connected components via alternating large-star/small-star
    (dedup.py::connected_components). Output (id, component)."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = similarity.blocked_cosine_pairs(emb, threshold=0.30).select(
        "id_a", "id_b"
    )
    return dedup.connected_components(pairs)


def q_neardup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding near-dup pairs (rows-only scale twin of
    neardup_cosine_pairs; recall property-tested)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.lsh_neardup_pairs(emb, threshold=0.35, n_planes=6, dim=64)


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (similarity.py::semantic_dedup;
    Abbas et al. 2023, arXiv:2303.09540): hyperplane-LSH buckets as the
    cluster proxy → exact within-bucket cosine pairs → alternating-star
    component collapse → min-id survivor per semantic group. Full DuckDB
    replay (inlined gaussian planes + recursive-CTE closure)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.semantic_dedup(emb, threshold=0.35, n_planes=6, dim=64)
    return out.select("vec_id")


def q_dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the PAPER's own cluster proxy (Abbas et al. 2023 §2
    clusters with k-means before within-cluster cosine pruning):
    deterministic relational Lloyd k-means labels as the blocking key
    (clustering.py::relational_kmeans — decimal-exact assignment, so the
    WHOLE survivor set replays in DuckDB, unlike a Spark ML fit) → exact
    within-cluster cosine pairs → alternating-star collapse → min-id
    survivors. Fit state is k·dim decimals (bounded, the ivf_index
    precedent); the returned plan is a single map pass + the pair join."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.semantic_dedup(
        emb, threshold=0.35, cluster="kmeans", kmeans_k=8, kmeans_rounds=2
    )
    return out.select("vec_id")


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (rows-only: signature internals are
    engine-defined; accuracy is property-tested against exact Jaccard)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_dedup(docs, threshold=0.5)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints on the replayable md5-60-bit hash path, so the
    bit-majority logic is oracle-checked cross-engine (the production
    xxhash64 path shares everything but the token hash; locality is
    property-tested)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash64(docs, hash_fn="md5_60")


def q_dedup_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 affine hashes over md5-hashed distinct word
    3-grams) — the deterministic core of dedup_minhash, oracle-checked
    value-for-value against DuckDB. Emitted as 8 scalar columns (h0..h7),
    not an array: the driver's canonical row sort can't order list-valued
    cells (pandas factorize raises on lists)."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, num_hashes=8)
    return sigs.select(
        "id", *[F.element_at("sig", i + 1).alias(f"h{i}") for i in range(8)]
    )


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a signature index (dedup.py::
    incremental_sig_dedup): the even-doc_id half of documents stands in
    for the standing corpus (signatures ONLY — never re-shingled), the
    odd half is the incoming batch. New docs drop on ≥1 full band
    collision with the index at sig-agreement ≥ 0.5; the remainder
    min-id-collapses within the batch under the same criterion."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, num_hashes=8)
    old = sigs.where(F.col("id") % 2 == 0)
    new = sigs.where(F.col("id") % 2 == 1)
    out = dedup.incremental_sig_dedup(
        new, old, threshold=0.5, bands=4, num_hashes=8
    )
    return out.select("id")


def q_g9_optical_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9: Shi-Tomasi + Lucas-Kanade trajectory tracking over per-group
    image sequences (rows-only; displacement recovery is property-tested)."""
    import numpy as np

    from convml_data_spark.operators import flow

    _prep(spark)
    rng = np.random.default_rng(42)
    base = rng.standard_normal((48, 48))
    for _ in range(3):
        base = (np.roll(base, 1, 0) + base + np.roll(base, -1, 0)) / 3.0
        base = (np.roll(base, 1, 1) + base + np.roll(base, -1, 1)) / 3.0
    base *= 100.0
    frames = []
    for g, (dx, dy) in (("d1", (1, 0)), ("d2", (0, 1)), ("d3", (1, 1))):
        for step in range(4):
            img = np.roll(np.roll(base, dy * step, axis=0), dx * step, axis=1)
            frames.append((g, step, [float(v) for v in img.ravel()]))
    df = spark.createDataFrame(frames, "g string, step long, image array<double>")
    out = flow.track_image_sequence(df, "g", "step", "image", shape=(48, 48), max_corners=6)
    # certify against the PLANTED motion: each group is a pure (dx, dy)
    # translation per step, so every valid tracked point must sit within
    # 0.5 px of corner0 + step*(dx, dy); also require 6 tracks per group
    # and >=12 valid points so the bound isn't vacuous
    from pyspark.sql import Window

    dx = F.when(F.col("g") == "d2", 0.0).otherwise(1.0)
    dy = F.when(F.col("g") == "d1", 0.0).otherwise(1.0)
    w = Window.partitionBy("g", "traj_id")
    x0 = F.min(F.struct("step", "x")).over(w)["x"]
    y0 = F.min(F.struct("step", "y")).over(w)["y"]
    err = F.greatest(
        F.abs(F.col("x") - (x0 + dx * F.col("step"))),
        F.abs(F.col("y") - (y0 + dy * F.col("step"))),
    )
    tagged = out.withColumn("_err", F.when(F.col("valid"), err))
    return (
        tagged.groupBy("g")
        .agg(
            F.countDistinct("traj_id").alias("n_tracks"),
            F.sum(F.when(F.col("valid"), 1).otherwise(0)).alias("_nv"),
            F.max("_err").alias("_maxerr"),
        )
        .select(
            "g",
            "n_tracks",
            (F.col("_nv") >= 12).alias("tracked_ok"),
            (F.col("_maxerr") <= 0.5).alias("disp_ok"),
        )
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column + Arrow-batched decode →
    per-image features (rows-only; pixel math property-tested)."""
    from convml_data_spark.operators import multimodal

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    with_payload = multimodal.attach_fake_payload(docs, width=16, height=16)
    out = multimodal.image_features(with_payload)
    return out.select(
        "doc_id",
        "width",
        "height",
        F.round("mean_px", 6).alias("mean_px"),
        F.round("std_px", 6).alias("std_px"),
        "min_px",
        "max_px",
    )


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video boundary: synthetic video payloads → every-3rd-frame sampling →
    nearest resize → per-frame features, all Arrow-batched (rows-only;
    frame slicing and resize are byte-exact property-tested)."""
    from convml_data_spark.operators import multimodal

    # doc_id predicate, not limit(): deterministic subset either engine
    docs = _t(spark, sf_dir, "documents").select("doc_id").where(F.col("doc_id") < 100)
    vids = multimodal.attach_fake_video(docs, n_frames=6, width=8, height=8)
    frames = multimodal.sample_frames(vids, every=3)
    small = multimodal.resize_nearest(frames.drop("frame_idx"), 4, 4)
    out = multimodal.image_features(small)
    return out.select(
        "doc_id",
        "width",
        "height",
        F.round("mean_px", 6).alias("mean_px"),
        F.round("std_px", 6).alias("std_px"),
        "min_px",
        "max_px",
    )


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (corpus.py::bloom_decontaminate —
    the fixed-memory form of ngram_overlap, the Dolma/GPT-3 appendix-C
    shape): same eval split as the decontam family (md5 bucket 0); the
    eval suite compresses to a 262144-bit / 4-hash Bloom filter (≤ m
    rows of broadcast state at ANY eval size), and every train doc
    reports how many of its distinct 7-grams the filter claims.
    Deterministic md5 hash family → the false positives themselves
    replay in DuckDB: a FULL value oracle over an approximate data
    structure."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    is_eval = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    return corpus.bloom_decontaminate(
        docs.where(~is_eval), docs.where(is_eval),
        n=7, m_bits=262_144, k_hashes=4, flag_threshold=0.5,
    )


def q_countmin_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters (corpus.py::countmin_sketch/
    countmin_heavy_hitters — Cormode & Muthukrishnan 2005): corpus
    token frequencies compress into a 3×16 counter matrix (mergeable
    bounded state, the HLL/GK sketch contract); tokens whose CM
    estimate reaches 1% of the corpus report (est, true). width=16
    forces collisions so the est ≥ true overestimate bound is visible
    in the output, and the md5 row hashes make the whole sketch a FULL
    DuckDB value oracle."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    return corpus.countmin_heavy_hitters(docs, depth=3, width=16, min_frac=0.01)


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (corpus.py::bm25_topk — Robertson &
    Zaragoza 2009, Lucene idf): top-20 documents for a 4-term query.
    One corpus scan with the explode pre-filtered to the query
    vocabulary; df/N/avgdl ride broadcast relations; per-term scores
    sum as DECIMAL(38,12) (the LM-key float discipline) before the
    final round(6)."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    return corpus.bm25_topk(
        docs, ["spark", "shuffle", "window", "merge"], k=20
    )


def q_similarity_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization ANN (similarity.py::sq_bounds/sq_topk — the
    FAISS SQ8 path, completing the exact/LSH/IVF/PQ family): per-dim
    min/max bounds from ONE exact aggregation (no sampled fit), 8-bit
    codes, asymmetric-distance compressed scan shortlists 100, exact L2
    reranks to 10. Because the 'training' is an exact aggregate, the
    ENTIRE path — fit, encode, scan, rerank — replays as one DuckDB
    query: a full value oracle where IVF/PQ certify recall bounds."""
    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").collect()
    qv = [float(v) for v in qrow[0]["embedding"]]
    return similarity.sq_topk(emb, qv, k=10, shortlist=100, levels=255)


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (similarity.py::
    rrf_fuse — Cormack et al. SIGIR 2009): the BM25 lexical top-30 and
    the exact-cosine semantic top-30 fuse by Σ 1/(60 + rank) with NO
    score calibration — the standard production hybrid-RAG ranker.
    Both retrievers carry their own scale designs; the fusion itself is
    a per-list rank window + hash agg over |lists|·k bounded rows."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = corpus.bm25_topk(
        docs, ["spark", "shuffle", "window", "merge"], k=30
    ).select(
        F.lit("lex").alias("list_id"), F.col("doc_id").alias("id"), "score"
    )
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").collect()
    qv = [float(v) for v in qrow[0]["embedding"]]
    sem = similarity.cosine_topk(emb, qv, k=30).select(
        F.lit("sem").alias("list_id"), F.col("vec_id").alias("id"), "score"
    )
    return similarity.rrf_fuse(lex.unionByName(sem), k_rrf=60, topk=15)


def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture planning (corpus.py::
    mixture_temperature_rates — the T5/XLM-R ``share^alpha`` up-sampling
    knob, alpha=0.3 over a 50k-token budget): target fractions derive
    from OBSERVED per-source token shares instead of hand weights. One
    corpus agg; the per-source relation materializes once for its three
    consumers; alpha-power weights sum as DECIMAL(38,12)."""
    from convml_data_spark.operators import corpus

    docs = _t(spark, sf_dir, "documents")
    return corpus.mixture_temperature_rates(
        docs, alpha=0.3, token_budget=50_000
    )


def q_stream_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.13 × sketches: Count-Min ingestion under continuous arrival
    (streaming/scene_stream.py::drain_partial_to_parquet +
    corpus.countmin_sketch). Each micro-batch of the documents stream
    contributes an INDEPENDENT partial sketch (3×16 cells) appended to
    a parquet cell store — NO streaming state store, because a
    mergeable summary makes aggregation state redundant — and the
    reader merges partials by cellwise sum. Additivity means the
    result is EXACTLY the batch sketch under any batch split, so the
    oracle is the plain batch Count-Min cell program (no single-batch
    pin needed — the one stream key whose batch-equivalence holds for
    free)."""
    import os
    import shutil
    import tempfile

    from convml_data_spark import streaming
    from convml_data_spark.operators import corpus

    _prep(spark)
    _, stream = streaming.stream_table(spark, sf_dir, "documents")
    root = os.path.join(tempfile.gettempdir(), f"stream_countmin_{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    streaming.drain_partial_to_parquet(
        stream,
        lambda b: corpus.countmin_sketch(b, depth=3, width=16),
        checkpoint=os.path.join(root, "ckpt"),
        out_path=os.path.join(root, "cells"),
    )
    return (
        spark.read.parquet(os.path.join(root, "cells"))
        .groupBy("r", "c")
        .agg(F.sum("counter").cast("bigint").alias("counter"))
    )


def q_decontam_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination (similarity.py::semantic_decontaminate
    — the embedding-space member of the decontam family, catching the
    paraphrased leakage the lexical detectors miss): the md5-bucket-0
    slice of embeddings plays the eval suite; train vectors sharing an
    LSH bucket with any eval vector verify by exact cosine and flag at
    >= 0.35. Same seed-42 planes as the semantic-dedup keys; eval side
    broadcast; full DuckDB replay with inlined planes."""
    emb = _t(spark, sf_dir, "embeddings")
    is_eval = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) == "0"
    return similarity.semantic_decontaminate(
        emb.where(~is_eval), emb.where(is_eval),
        threshold=0.35, n_planes=6, dim=64,
    )


def _synthetic_curation_input(docs: DataFrame) -> DataFrame:
    """(doc_id, text, source, url, page_text) input for the curation
    pipeline key: the dedup_url messy-variant URL synthesis (same
    scheme/www/port/slash/query/fragment md5 bits) but with a
    SAME-SOURCE-COLLIDING path — docs whose within-source index
    ``doc_id div 20`` is ≡ 7 (mod 10) share their canonical path with
    doc_id − 20, the previous doc of the SAME source. Two traps this
    rule dodges: testdata assigns source = src{doc_id % 20}, so a ±1
    partner always sits on a different host (stage vacuous); and any
    rule on ``doc_id mod k·20`` remaps the partner too (same residue),
    chaining every path one step with ZERO collisions — keying on the
    within-source INDEX leaves the partner (index ≡ 6) unmapped. ~10%
    of docs form a real URL-dup group at EVERY scale factor (the
    dedup_url key's ``doc_id % 37`` path would instead collapse the
    whole corpus to ~740 canonical URLs, starving every later stage at
    sf0.1) — plus the C4 page synthesis (:func:`_synthetic_page_expr`,
    '' for zero-token docs)."""
    def bits(tag: str):
        return _md5_bits(f"url{tag}:", F.col("doc_id"))

    path = (
        F.when(
            F.expr("(doc_id div 20) % 10") == 7,
            F.col("doc_id") - 20,
        )
        .otherwise(F.col("doc_id"))
    )
    url = F.concat(
        F.when(bits("s") % 3 == 0, F.lit("HTTPS://"))
        .when(bits("s") % 3 == 1, F.lit("https://"))
        .otherwise(F.lit("http://")),
        F.when(bits("w") % 2 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".Example.COM"),
        F.when(bits("p") % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/p/"),
        path.cast("string"),
        F.when(bits("t") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(bits("q") % 3 == 0, F.lit("?utm_source=feed&ref=rss")).otherwise(F.lit("")),
        F.when(bits("f") % 5 == 0, F.lit("#section-2")).otherwise(F.lit("")),
    )
    return docs.select(
        "doc_id", "text", "source",
        url.alias("url"),
        _synthetic_page_expr().alias("page_text"),
    )


def q_spec_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-curation path composed as ONE lazy program
    (pipeline.py::build_curation_pipeline): eval holdout (md5 bucket 0)
    → URL fetch dedup → C4 page cleaning → Gopher quality gate →
    MinHash-LSH near-dup collapse (CC min-id survivors) → Bloom
    decontamination vs the holdout → temperature-mixture (α=0.3,
    8k-token budget) acceptance draw → 512-token sequence packing.
    Every stage is a certified operator; this key certifies they
    COMPOSE (column contracts, no action boundaries beyond the bounded
    CC rounds) the way a production curation job runs them. The packing
    offsets are a global cumsum over the drawn corpus, so a single
    wrong survivorship decision at ANY stage shifts the tail of the
    output — the whole chain is one order-sensitive certificate."""
    from convml_data_spark import pipeline

    docs = _t(spark, sf_dir, "documents")
    return pipeline.build_curation_pipeline(_synthetic_curation_input(docs))


def q_stream_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.13 × the curation composition: INGEST-TIME curation — the
    streaming twin of spec_curation_pipeline, certifying the STREAMING
    operators compose the way a production ingest job chains them. The
    odd-doc_id half of documents arrives as a file stream; the C4 page
    gate (over the _synthetic_page_expr synthesis) and the Gopher gate
    (min_words=30) run as stateless per-micro-batch projections with
    the text riding ``carry_cols`` (a verdict re-join would be a
    stream-stream join); survivors compute STATELESS MinHash signatures
    (dedup.minhash_signatures_stateless — array exprs, no agg), band-
    join against the STANDING curated index (even half, batch side,
    broadcast here / bucketed co-partitioned at scale), and docs with
    zero collisions drain as the accepted ingest with their token
    counts. One bounded streaming aggregation (per-doc max-hit);
    everything upstream stateless. Oracle = the batch gates + the
    cross-index signature filter (stateless maps and the stream-static
    join are batch-equivalent by construction; single-batch pin for
    drain determinism)."""
    from convml_data_spark import streaming
    from convml_data_spark.operators import corpus

    _prep(spark)
    batch, stream = streaming.stream_table(
        spark, sf_dir, "documents", single_batch=True
    )
    # layout-decoupling spread: the single-file micro-batch would
    # otherwise run the gates' expression ladders on ONE task (39 s →
    # 7 s min-of-3 at sf0.1); a stateless hash repartition is legal in
    # a streaming plan
    arriving = dedup._spread(
        stream.where(F.col("doc_id") % 2 == 1), "doc_id"
    ).select("doc_id", "text", _synthetic_page_expr().alias("page_text"))
    # gate verdicts filter through where_unpushed — a pushed predicate
    # re-derives the HOF measures per reference (22× on the Gopher
    # stage; persist.where_unpushed), and a checkpoint barrier is not
    # available on a stream
    from convml_data_spark.operators.persist import where_unpushed

    c4g = where_unpushed(
        corpus.c4_line_filters(
            arriving, text_col="page_text", carry_cols=("text",)
        ),
        F.col("passed"),
    ).select("doc_id", "text")
    gg = where_unpushed(
        corpus.gopher_quality(c4g, min_words=30, carry_cols=("text",)),
        F.col("pass_gopher"),
    ).select("doc_id", "text")
    new_sigs = dedup.minhash_signatures_stateless(gg, num_hashes=8)
    index_sigs = dedup.minhash_signatures(
        batch.where(F.col("doc_id") % 2 == 0), num_hashes=8
    )
    nb = dedup.banded_slice_keys(new_sigs, bands=4, num_hashes=8, out_id="nid")
    ob = (
        dedup.banded_slice_keys(index_sigs, bands=4, num_hashes=8, out_id="oid")
        .withColumnRenamed("band", "oband")
        .withColumnRenamed("bucket", "obucket")
    )
    cond = (
        (F.col("band") == F.col("oband"))
        & (F.col("bucket") == F.col("obucket"))
        & (dedup.sig_agreement("sig_nid", "sig_oid", 8) >= F.lit(0.5))
    )
    hits = nb.join(F.broadcast(ob), cond, "left").select(
        "nid", F.when(F.col("oid").isNotNull(), 1).otherwise(0).alias("hit")
    )
    agg = hits.groupBy("nid").agg(F.max("hit").alias("hit"))
    drained = streaming.run_available_now(agg, output_mode="complete")
    surv = drained.where(F.col("hit") == 0).select(F.col("nid").alias("doc_id"))
    ntok = batch.select(
        "doc_id",
        F.greatest(F.size(T.tokens(F.lower(F.col("text")))), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
    )
    return surv.join(ntok, "doc_id").select("doc_id", "n_tokens")


def q_spec_rag_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RAG serving path composed as ONE program
    (pipeline.py::build_rag_retrieval): 64/48 sliding token windows →
    md5 hashing-trick features → batch tanh(V·W) chunk embeddings
    (round-6, so the vector relation is engine-exact) → SQ8 ANN with
    exact-L2 rerank (semantic list) + BM25 over the chunk texts
    (lexical list) → reciprocal-rank fusion. The query embeds through
    the IDENTICAL chunk path. Reuses the SQ full-value oracle
    discipline, so chunker→embedder→ANN→fusion stays value-certified
    end to end."""
    from convml_data_spark import pipeline

    docs = _t(spark, sf_dir, "documents")
    return pipeline.build_rag_retrieval(docs, "spark shuffle window merge")


# Declared sweep cost class per registered key, at the sweep's SF
# (sf0.1, local[32]). The ratchet in sweep.py only protects keys that
# ALREADY have a SWEEP.json baseline — a brand-new key's first
# measurement used to be checked by eyeball only (that manual rule is
# what caught winnow_fingerprints' O(n²·w) fold at 275 s in r13). This
# map makes the check mechanical: sweep.py trips when a NEW key's
# min-of-N first measurement exceeds 3x its class ceiling, and
# tests/test_plan_quality.py requires every queries() key to declare a
# class. Ceilings are deliberately loose (machine noise is ±25%); the
# gate exists to catch cost-CLASS blowups (a sub-second operator landing
# at minutes), not few-percent drift — the ratchet owns that once the
# baseline exists.
COST_CLASS_CEILING_SEC = {"subsec": 1.0, "seconds": 10.0, "tens": 60.0}
COST_CLASS = {
    # sub-second at sf0.1 (single scan + narrow transforms or bounded aggs)
    **{k: "subsec" for k in [
        "a11_minmax_norm", "a14_rollup", "a15_distinct_users",
        "a1_pricing_summary", "a2_udaf_pandas", "a3_min_spacing",
        "a4_binned_1d", "a5_binned_2d", "a6_ecdf", "a8_daily_counts",
        "a9_layer_mean", "ann_cosine_topk", "bm25_topk", "c4_filters",
        "cap_per_source", "corpus_entropy", "dbscan_cell_stats",
        "decontam_ngram_overlap", "dedup_exact_prefix", "dedup_jaccard",
        "dedup_minhash_sigs", "derived_dag", "doc_fingerprint",
        "e2_string_ops", "e5_array_roundtrip", "e7_json_map",
        "emb_transform_scaler", "f11_nonempty", "f1_time_intervals",
        "f2_datetime_components", "f3_solar_zenith", "f5_regex_filter",
        "f6_filter_dsl", "f8_dropna_slice", "f9_lon_wrap",
        "g1_nearest_regrid", "g2_tile_pixel_slice", "g4_crop_pad",
        "g6_spanning_domain", "g7_tangent_projection", "g8_rgb_composite",
        "g9_optical_flow", "hll_user_counts", "j10_interval_join",
        "j3_asof_all_within", "j5_semi_join", "j6_emb_aux_join",
        "j7_positional_coords", "langid_classifier", "mixture_rates",
        "mixture_temperature", "multimodal_audio", "multimodal_features",
        "multimodal_frames", "neardup_cosine_pairs", "o3_distinct",
        "o4_topk", "pack_chunks", "pii_scrub", "quality_classifier",
        "r1_split", "r5_triplet_locations", "s2_goes16_query",
        "s3_calendar_scan", "s4_era5_manifest",
        "s5_calendar_offset_missing", "s6_ceres_manifest",
        "sample_quality_weighted", "scene_table", "similarity_sq_topk",
        "spec_regridded_bilinear", "spec_regridded_scenes",
        "spec_scene_filter", "spec_scene_images", "stratified_split",
        "text_bpe_tokens", "text_corpus_stats", "text_gopher_quality",
        "text_langid", "text_quality", "token_windows",
        "u1_union_by_name", "u3_anti_join", "unigram_xent", "vocab_build",
        "vocab_encode", "w2_argmin_per_group", "w3_local_peaks",
        "w5_sliding_tiles", "w6_sequential_scan", "w7_sessionize",
        "wordpiece_vocab", "x1_user_function", "x2_dotted_udaf",
        "x3_batch_embed", "x4_pca",
    ]},
    # single-digit seconds (a shuffle-heavy join/CC round or stream drain)
    **{k: "seconds" for k in [
        "a10_column_integral", "a6_ecdf_global", "a7_equidepth",
        "bigram_xent", "bloom_decontaminate", "bpe_encode", "bpe_train",
        "bpe_encode_bytes", "bpe_encode_byte_ids", "bpe_train_bytes", "pack_bestfit",
        "kneser_ney_xent", "kneser_ney_trigram_xent",
        "cdc_chunk_dedup", "countmin_heavy", "dbscan_ladder",
        "dbscan_mutual_reach",
        "dbscan_merge_events", "decontam_excise", "decontam_semantic",
        "decontam_substring", "dedup_best_survivors", "dedup_components",
        "dedup_containment", "dedup_exact_substring",
        "dedup_jaccard_prefix", "dedup_minhash", "dedup_semantic",
        "dedup_spans", "dedup_survivors", "dedup_url", "dsir_hashed",
        "dsir_logratio", "emb_transform_dbscan", "emb_transform_kmeans",
        "f4_traj_snap", "f7_percentile_filter", "g1_bilinear_regrid",
        "g8_rayleigh", "gopher_repetition", "hard_negatives",
        "hybrid_rrf", "incremental_dedup", "j2_asof_single",
        "kmeans_labels", "neardup_edit_distance", "neardup_lsh_pairs",
        "q3_shipping_priority", "quality_terciles", "r2_scene_pairs",
        "s8_partitioned_sink",
        "select_token_budget", "simhash", "similarity_ivf_topk",
        "similarity_ivf_stale",
        "similarity_lsh_topk", "similarity_pq_topk", "sketch_quantiles",
        "spec_analytics_pipeline", "spec_aux_derived",
        "spec_rag_pipeline",
        "spec_rect_embeddings", "spec_tile_data", "spec_triplet_pipeline",
        "stream_c4_filters", "stream_countmin", "stream_curation_pipeline",
        "stream_daily_counts",
        "stream_dedup_watermark", "stream_incremental_dedup",
        "stream_parquet_drain", "stream_seen_filter",
        "stream_static_join", "stream_stream_join", "stream_url_dedup",
        "tfidf_top_terms", "traj_tiles", "trigram_xent",
        "winnow_fingerprints", "wordpiece_encode",
        # new in r14
        "langid_confident", "blocklist_scan",
    ]},
    # tens of seconds (iterative fits / plan-time DP pyramids / the
    # 8-stage curation composition — 12 s min-of-3 at sf0.1 after the
    # train-spread fix: CC rounds + 7 sequential stage checkpoints)
    **{k: "tens" for k in [
        "dedup_semantic_kmeans", "spm_encode", "spm_train",
        "spec_curation_pipeline",
    ]},
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # The driver certifies the FIRST 50 entries in insertion order
    # (established round 2: CORRECTNESS keys == dict positions 1-50).
    # Window policy: never-yet-certified keys and keys whose operators
    # changed this round come first; every SURVEY §2 family keeps at least
    # one in-window representative; keys certified green in earlier rounds
    # rotate behind position 50 and back in on later rounds.
    return {
        # ROUND 17 WINDOW (first 50 = driver-certified this round).
        # Composition per the r16 verdict + the two window gates:
        # new never-certified keys first, then the 32 keys at
        # 4-round (r13) certification staleness, then the oldest
        # r14-certified keys in dict order.
        # --- new in round 17 (never certified) ---
        "spec_curation_pipeline": q_spec_curation_pipeline,
        "spec_rag_pipeline": q_spec_rag_pipeline,
        "stream_curation_pipeline": q_stream_curation_pipeline,
        # --- r13-certified, 4 rounds stale: MUST certify this round ---
        "gopher_repetition": q_gopher_repetition,
        "incremental_dedup": q_incremental_dedup,
        "dsir_logratio": q_dsir_logratio,
        "stream_incremental_dedup": q_stream_incremental_dedup,
        "r2_scene_pairs": q_r2_scene_pairs,
        "spec_triplet_pipeline": q_spec_triplet_pipeline,
        "dedup_survivors": q_dedup_survivors,
        "dedup_semantic": q_dedup_semantic,
        "dedup_components": q_dedup_components,
        "spec_scene_images": q_spec_scene_images,
        "a15_distinct_users": q_a15_distinct_users,
        "a6_ecdf": q_a6_ecdf,
        "ann_cosine_topk": q_ann_cosine_topk,
        "derived_dag": q_derived_dag,
        "doc_fingerprint": q_doc_fingerprint,
        "e2_string_ops": q_e2_string_ops,
        "e7_json_map": q_e7_json_map,
        "f6_filter_dsl": q_f6_filter_dsl,
        "f8_dropna_slice": q_f8_dropna_slice,
        "g2_tile_pixel_slice": q_g2_tile_pixel_slice,
        "g9_optical_flow": q_g9_optical_flow,
        "hll_user_counts": q_hll_user_counts,
        "j6_emb_aux_join": q_j6_emb_aux_join,
        "multimodal_features": q_multimodal_features,
        "multimodal_frames": q_multimodal_frames,
        "neardup_cosine_pairs": q_neardup_cosine_pairs,
        "o4_topk": q_o4_topk,
        "s3_calendar_scan": q_s3_calendar_scan,
        "scene_table": q_scene_table,
        "similarity_lsh_topk": q_similarity_lsh_topk,
        "traj_tiles": q_traj_tiles,
        "u3_anti_join": q_u3_anti_join,
        # --- oldest certified: r14 cohort (first 16) ---
        "c4_filters": q_c4_filters,
        "hard_negatives": q_hard_negatives,
        "dedup_containment": q_dedup_containment,
        "wordpiece_vocab": q_wordpiece_vocab,
        "wordpiece_encode": q_wordpiece_encode,
        "stream_url_dedup": q_stream_url_dedup,
        "stream_c4_filters": q_stream_c4_filters,
        "langid_confident": q_langid_confident,
        "blocklist_scan": q_blocklist_scan,
        "w2_argmin_per_group": q_w2_argmin_per_group,
        "w3_local_peaks": q_w3_local_peaks,
        "x1_user_function": q_x1_user_function,
        "x2_dotted_udaf": q_x2_dotted_udaf,
        "x3_batch_embed": q_x3_batch_embed,
        "x4_pca": q_x4_pca,
        # ---------------- position 51+: rotated out this round ----------
        # r14-certified remainder (these lead the r18 window)
        "spec_aux_derived": q_spec_aux_derived,
        "spec_regridded_scenes": q_spec_regridded_scenes,
        "stream_static_join": q_stream_static_join,
        "stream_stream_join": q_stream_stream_join,
        "j2_asof_single": q_j2_asof_single,
        "j3_asof_all_within": q_j3_asof_all_within,
        "dedup_minhash": q_dedup_minhash,
        "dbscan_cell_stats": q_dbscan_cell_stats,
        "bigram_xent": q_bigram_xent,
        "decontam_substring": q_decontam_substring,
        "decontam_excise": q_decontam_excise,
        "cdc_chunk_dedup": q_cdc_chunk_dedup,
        "dsir_hashed": q_dsir_hashed,
        "f4_traj_snap": q_f4_traj_snap,
        "a3_min_spacing": q_a3_min_spacing,
        "a7_equidepth": q_a7_equidepth,
        "w6_sequential_scan": q_w6_sequential_scan,
        "stream_seen_filter": q_stream_seen_filter,
        "text_quality": q_text_quality,
        "text_langid": q_text_langid,
        "text_corpus_stats": q_text_corpus_stats,
        "text_gopher_quality": q_text_gopher_quality,
        "tfidf_top_terms": q_tfidf_top_terms,
        "decontam_ngram_overlap": q_decontam_ngram_overlap,
        "unigram_xent": q_unigram_xent,
        "pack_chunks": q_pack_chunks,
        "mixture_rates": q_mixture_rates,
        "token_windows": q_token_windows,
        "sample_quality_weighted": q_sample_quality_weighted,
        "dedup_exact_prefix": q_dedup_exact_prefix,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_jaccard_prefix": q_dedup_jaccard_prefix,
        "simhash": q_simhash,
        "a4_binned_1d": q_a4_binned_1d,
        # r15-certified
        "a5_binned_2d": q_a5_binned_2d,
        "dedup_minhash_sigs": q_dedup_minhash_sigs,
        "dedup_spans": q_dedup_spans,
        "vocab_build": q_vocab_build,
        "corpus_entropy": q_corpus_entropy,
        "text_bpe_tokens": q_text_bpe_tokens,
        "stream_daily_counts": q_stream_daily_counts,
        "stream_dedup_watermark": q_stream_dedup_watermark,
        "g1_nearest_regrid": q_g1_nearest_regrid,
        "u1_union_by_name": q_u1_union_by_name,
        "o3_distinct": q_o3_distinct,
        "e5_array_roundtrip": q_e5_array_roundtrip,
        "f2_datetime_components": q_f2_datetime_components,
        "s5_calendar_offset_missing": q_s5_calendar_offset_missing,
        "r1_split": q_r1_split,
        "spec_regridded_bilinear": q_spec_regridded_bilinear,
        "spec_scene_filter": q_spec_scene_filter,
        "s2_goes16_query": q_s2_goes16_query,
        "s4_era5_manifest": q_s4_era5_manifest,
        "bpe_train_bytes": q_bpe_train_bytes,
        "pack_bestfit": q_pack_bestfit,
        "kneser_ney_xent": q_kneser_ney_xent,
        "dedup_exact_substring": q_dedup_exact_substring,
        "trigram_xent": q_trigram_xent,
        "bpe_train": q_bpe_train,
        "bpe_encode": q_bpe_encode,
        "quality_classifier": q_quality_classifier,
        "neardup_edit_distance": q_neardup_edit_distance,
        "bloom_decontaminate": q_bloom_decontaminate,
        "countmin_heavy": q_countmin_heavy,
        "bm25_topk": q_bm25_topk,
        "similarity_sq_topk": q_similarity_sq_topk,
        "j10_interval_join": q_j10_interval_join,
        "w5_sliding_tiles": q_w5_sliding_tiles,
        "r5_triplet_locations": q_r5_triplet_locations,
        "f1_time_intervals": q_f1_time_intervals,
        "f3_solar_zenith": q_f3_solar_zenith,
        "f5_regex_filter": q_f5_regex_filter,
        "f7_percentile_filter": q_f7_percentile_filter,
        "f9_lon_wrap": q_f9_lon_wrap,
        "f11_nonempty": q_f11_nonempty,
        "j5_semi_join": q_j5_semi_join,
        "j7_positional_coords": q_j7_positional_coords,
        "a1_pricing_summary": q_a1_pricing_summary,
        "a2_udaf_pandas": q_a2_udaf_pandas,
        "a6_ecdf_global": q_a6_ecdf_global,
        "a8_daily_counts": q_a8_daily_counts,
        "a9_layer_mean": q_a9_layer_mean,
        # r16-certified (freshest)
        "bpe_encode_byte_ids": q_bpe_encode_byte_ids,
        "kneser_ney_trigram_xent": q_kneser_ney_trigram_xent,
        "similarity_ivf_stale": q_similarity_ivf_stale,
        "dbscan_mutual_reach": q_dbscan_mutual_reach,
        "s8_partitioned_sink": q_s8_partitioned_sink,
        "bpe_encode_bytes": q_bpe_encode_bytes,
        "vocab_encode": q_vocab_encode,
        "winnow_fingerprints": q_winnow_fingerprints,
        "a10_column_integral": q_a10_column_integral,
        "a11_minmax_norm": q_a11_minmax_norm,
        "q3_shipping_priority": q_q3_shipping_priority,
        "g1_bilinear_regrid": q_g1_bilinear_regrid,
        "g4_crop_pad": q_g4_crop_pad,
        "g6_spanning_domain": q_g6_spanning_domain,
        "g7_tangent_projection": q_g7_tangent_projection,
        "spec_rect_embeddings": q_spec_rect_embeddings,
        "stratified_split": q_stratified_split,
        "spec_analytics_pipeline": q_spec_analytics_pipeline,
        "neardup_lsh_pairs": q_neardup_lsh_pairs,
        "spec_tile_data": q_spec_tile_data,
        "g8_rgb_composite": q_g8_rgb_composite,
        "emb_transform_kmeans": q_emb_transform_kmeans,
        "multimodal_audio": q_multimodal_audio,
        "cap_per_source": q_cap_per_source,
        "s6_ceres_manifest": q_s6_ceres_manifest,
        "emb_transform_scaler": q_emb_transform_scaler,
        "pii_scrub": q_pii_scrub,
        "similarity_ivf_topk": q_similarity_ivf_topk,
        "similarity_pq_topk": q_similarity_pq_topk,
        "w7_sessionize": q_w7_sessionize,
        "a14_rollup": q_a14_rollup,
        "sketch_quantiles": q_sketch_quantiles,
        "spm_train": q_spm_train,
        "spm_encode": q_spm_encode,
        "dedup_semantic_kmeans": q_dedup_semantic_kmeans,
        "langid_classifier": q_langid_classifier,
        "dedup_url": q_dedup_url,
        "kmeans_labels": q_kmeans_labels,
        "hybrid_rrf": q_hybrid_rrf,
        "mixture_temperature": q_mixture_temperature,
        "stream_countmin": q_stream_countmin,
        "decontam_semantic": q_decontam_semantic,
        "quality_terciles": q_quality_terciles,
        "dbscan_merge_events": q_dbscan_merge_events,
        "dbscan_ladder": q_dbscan_ladder,
        "emb_transform_dbscan": q_emb_transform_dbscan,
        "g8_rayleigh": q_g8_rayleigh,
        "stream_parquet_drain": q_stream_parquet_drain,
        "dedup_best_survivors": q_dedup_best_survivors,
        "select_token_budget": q_select_token_budget,
    }


def _bpe_cte_prefix(num_merges: int) -> str:
    """Shared CTE chain of the word-level BPE oracles: word counts,
    character segmentation, and the K unrolled (pairs, best, state)
    merge rounds — same double-space segmentation strings, same literal
    ``replace`` (identical greedy left-to-right non-overlapping scan in
    both engines), same (count DESC, s1, s2) LIMIT 1 argmax."""
    return (
        """
            WITH words AS (
                SELECT w, count(*) AS c FROM (
                    SELECT unnest(COALESCE(list_filter(
                        string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                        x -> x != ''), [])) AS w
                    FROM documents)
                GROUP BY w
            ), state0 AS (
                SELECT w, c, regexp_replace(w, '(.)', ' \\1 ', 'g') AS seg
                FROM words
            )"""
        + _bpe_cte_rounds(num_merges)
    )


# BPE_PIECE_PATTERN (functions/text.py) as a DuckDB string literal,
# derived from the Python constant so the dialects cannot drift: the
# contraction quote doubled; backslash escapes (\t \n \x0B \f \r — the
# explicit whitespace class both Java and RE2 parse identically) pass
# through (standard SQL strings are escape-free in DuckDB).
_BPE_PIECE_SQL = T.BPE_PIECE_PATTERN.replace("'", "''")


def _bpe_bytes_cte_prefix(num_merges: int) -> str:
    """CTE chain of the BYTE-level BPE oracles (corpus.py::
    bpe_train_byte_merges): GPT-2-style pre-token counts over the SAME
    RE2∩Java regex the engine uses (case-faithful, leading space inside
    the piece), UTF-8-byte segmentation as uppercase hex pairs
    (``hex()`` is uppercase in both engines), then the shared K merge
    rounds."""
    return (
        f"""
            WITH words AS (
                SELECT w, count(*) AS c FROM (
                    SELECT unnest(regexp_extract_all(
                        text, '{_BPE_PIECE_SQL}')) AS w
                    FROM documents)
                GROUP BY w
            ), state0 AS (
                SELECT w, c, regexp_replace(hex(w), '(..)', ' \\1 ', 'g')
                    AS seg
                FROM words
            )"""
        + _bpe_cte_rounds(num_merges)
    )


def _bpe_cte_rounds(num_merges: int) -> str:
    """The K unrolled (pairs{{k}}, best{{k}}, state{{k+1}}) merge-round
    CTEs shared by the word- and byte-level BPE oracles — independent of
    how ``state0 (w, c, seg)`` was segmented."""
    parts = []
    for k in range(num_merges):
        parts.append(
            f""", pairs{k} AS (
                SELECT s1, s2, CAST(sum(c) AS BIGINT) AS pair_count FROM (
                    SELECT c, syms[i] AS s1, syms[i + 1] AS s2
                    FROM (SELECT c, syms, unnest(range(1, len(syms))) AS i
                          FROM (SELECT c,
                                       string_split(trim(seg), '  ') AS syms
                                FROM state{k})))
                GROUP BY s1, s2
            ), best{k} AS (
                SELECT {k} AS merge_rank, s1, s2, pair_count
                FROM pairs{k}
                ORDER BY pair_count DESC, s1, s2 LIMIT 1
            ), state{k + 1} AS (
                SELECT w, c,
                       replace(seg, ' ' || b.s1 || '  ' || b.s2 || ' ',
                               ' ' || b.s1 || b.s2 || ' ') AS seg
                FROM state{k}, best{k} b
            )"""
        )
    return "".join(parts)


def _bpe_oracle_sql(num_merges: int = 8) -> str:
    """bpe_train replay: the learned merge list — pair counts and rank
    cast for driver width parity."""
    sel = "\n            UNION ALL ".join(
        f"SELECT CAST(merge_rank AS INTEGER) AS merge_rank, s1, s2, "
        f"pair_count FROM best{k}"
        for k in range(num_merges)
    )
    return _bpe_cte_prefix(num_merges) + "\n            " + sel


def _bpe_bytes_oracle_sql(num_merges: int = 8) -> str:
    """bpe_train_bytes replay: identical merge-list projection over the
    byte-level CTE prefix."""
    sel = "\n            UNION ALL ".join(
        f"SELECT CAST(merge_rank AS INTEGER) AS merge_rank, s1, s2, "
        f"pair_count FROM best{k}"
        for k in range(num_merges)
    )
    return _bpe_bytes_cte_prefix(num_merges) + "\n            " + sel


def _bpe_encode_bytes_oracle_sql(num_merges: int = 8) -> str:
    """bpe_encode_bytes replay: train the K byte-level merges (shared
    CTE prefix), re-apply them in rank order to the DISTINCT-piece
    relation (LEFT JOIN ON TRUE so a dried-up merge supply degrades to
    a no-op, as in the word-level twin), then aggregate per doc."""
    parts = [_bpe_bytes_cte_prefix(num_merges)]
    parts.append(
        f""", doctok AS (
                SELECT doc_id, unnest(regexp_extract_all(
                    text, '{_BPE_PIECE_SQL}')) AS w
                FROM documents
            ), enc0 AS (
                SELECT DISTINCT w,
                       regexp_replace(hex(w), '(..)', ' \\1 ', 'g') AS seg
                FROM doctok
            )"""
    )
    for k in range(num_merges):
        parts.append(
            f""", enc{k + 1} AS (
                SELECT w,
                       CASE WHEN b.s1 IS NULL THEN seg
                            ELSE replace(seg,
                                         ' ' || b.s1 || '  ' || b.s2 || ' ',
                                         ' ' || b.s1 || b.s2 || ' ')
                       END AS seg
                FROM enc{k} LEFT JOIN best{k} b ON TRUE
            )"""
        )
    parts.append(
        f""", encw AS (
                SELECT w, CAST(strlen(w) AS BIGINT) AS bytes,
                       CAST(len(string_split(trim(seg), '  ')) AS BIGINT)
                           AS toks,
                       CAST('0x' || substr(md5(seg), 1, 13) AS BIGINT)
                           AS ck
                FROM enc{num_merges}
            )
            SELECT doc_id,
                   count(*) AS n_pieces,
                   CAST(sum(bytes) AS BIGINT) AS n_bytes,
                   CAST(sum(toks) AS BIGINT) AS n_tokens,
                   CAST(sum(ck) % 2305843009213693951 AS BIGINT)
                       AS seg_checksum
            FROM doctok JOIN encw USING (w)
            GROUP BY doc_id"""
    )
    return "".join(parts)


def _bpe_encode_byte_ids_oracle_sql(num_merges: int = 8) -> str:
    """bpe_encode_byte_ids replay: train the K byte-level merges (shared
    CTE prefix), re-apply them to the DISTINCT-piece relation (the
    bpe_encode_bytes chain), then assign GPT-2 ids — 256 byte symbols
    (ids 0-255) UNION one id per merge (256+rank, MIN per symbol) —
    reduce each distinct piece to (ntok, Σid, Σ tpos·id) in vocabulary
    space, and replay the engine's offset algebra: a piece instance at
    running token offset o contributes wsum + o·sumid, summed per doc in
    HUGEINT and folded mod 2^61−1. generate_subscripts is 1-based, so
    tpos·id matches the engine's (0-based tpos + 1)·id weights."""
    parts = [_bpe_bytes_cte_prefix(num_merges)]
    parts.append(
        f""", doctok AS (
                SELECT doc_id, generate_subscripts(ps, 1) AS ppos,
                       unnest(ps) AS w
                FROM (SELECT doc_id,
                             regexp_extract_all(text, '{_BPE_PIECE_SQL}')
                                 AS ps
                      FROM documents)
            ), enc0 AS (
                SELECT DISTINCT w,
                       regexp_replace(hex(w), '(..)', ' \\1 ', 'g') AS seg
                FROM doctok
            )"""
    )
    for k in range(num_merges):
        parts.append(
            f""", enc{k + 1} AS (
                SELECT w,
                       CASE WHEN b.s1 IS NULL THEN seg
                            ELSE replace(seg,
                                         ' ' || b.s1 || '  ' || b.s2 || ' ',
                                         ' ' || b.s1 || b.s2 || ' ')
                       END AS seg
                FROM enc{k} LEFT JOIN best{k} b ON TRUE
            )"""
        )
    bestall = "\n                UNION ALL ".join(
        f"SELECT s1, s2, CAST(merge_rank AS BIGINT) AS mr FROM best{k}"
        for k in range(num_merges)
    )
    parts.append(
        f""", ids AS (
                SELECT lpad(upper(to_hex(r)), 2, '0') AS sym,
                       CAST(r AS BIGINT) AS sid
                FROM range(256) t(r)
                UNION ALL
                SELECT sym, MIN(sid) AS sid FROM (
                    SELECT s1 || s2 AS sym, 256 + mr AS sid
                    FROM ({bestall})
                ) GROUP BY sym
            ), wtok AS (
                SELECT w, generate_subscripts(tl, 1) AS tpos,
                       unnest(tl) AS sym
                FROM (SELECT w, string_split(trim(seg), '  ') AS tl
                      FROM enc{num_merges})
            ), wids AS (
                -- sums stay HUGEINT (no BIGINT cast): the engine
                -- accumulates these in DECIMAL(38,0) for the same
                -- overflow-proofing, and the wsum + o*sumid product
                -- below must not wrap on huge docs
                SELECT w, count(*) AS ntok,
                       sum(sid) AS sumid,
                       sum(tpos * sid) AS wsum
                FROM wtok JOIN ids USING (sym) GROUP BY w
            ), contrib AS (
                SELECT doc_id, ntok,
                       wsum + COALESCE(sum(ntok) OVER (
                           PARTITION BY doc_id ORDER BY ppos
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) * sumid AS c
                FROM doctok JOIN wids USING (w)
            )
            SELECT doc_id,
                   CAST(sum(ntok) AS BIGINT) AS n_tokens,
                   CAST(sum(c) % 2305843009213693951 AS BIGINT)
                       AS id_checksum
            FROM contrib GROUP BY doc_id"""
    )
    return "".join(parts)


def _pack_bestfit_oracle_sql(
    budget: int, n_buckets: int, seed: int
) -> str:
    """pack_bestfit replay: the per-bucket best-fit-decreasing scan as a
    RECURSIVE CTE — one row per (bucket, step) carrying the bucket's
    open-bin remaining-capacity LIST. Best-fit = ``list_position(rems,
    list_min(list_filter(rems, x -> x >= L)))``: the filtered min is the
    smallest remaining that fits and list_position takes its FIRST
    occurrence (lowest bin index), exactly the engine's
    ``min((rem, idx))`` tie-break; NULL (no bin fits — including every
    bin poisoned negative by an oversize doc) opens a new bin. Same md5
    shuffle key and bucket assignment as the engine; bin_fill divides
    by a power of two, so the double is exactly dyadic in both
    engines."""
    return f"""
            WITH RECURSIVE d AS (
              SELECT doc_id,
                     COALESCE(len(list_filter(
                         string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                         x -> x != '')), 0) AS L,
                     CAST('0x' || substr(
                         md5('{seed}_' || CAST(doc_id AS VARCHAR)), 1, 15)
                          AS BIGINT) AS shuf
              FROM documents
            ), seq AS (
              SELECT doc_id, L, shuf,
                     CAST(shuf % {n_buckets} AS INTEGER) AS bucket,
                     row_number() OVER (
                         PARTITION BY shuf % {n_buckets}
                         ORDER BY L DESC, shuf, doc_id) AS i
              FROM d
            ), rec AS (
              SELECT CAST(bucket AS INTEGER) AS bucket,
                     CAST(0 AS BIGINT) AS i,
                     CAST(NULL AS BIGINT) AS doc_id,
                     CAST(NULL AS BIGINT) AS L,
                     CAST(NULL AS BIGINT) AS bin,
                     CAST([] AS BIGINT[]) AS rems
              FROM (SELECT DISTINCT bucket FROM seq)
              UNION ALL
              SELECT bucket, i, doc_id, L,
                     CASE WHEN fit IS NULL THEN len(rems) + 1
                          ELSE fit END AS bin,
                     CASE WHEN fit IS NULL
                          THEN list_append(rems, {budget} - L)
                          ELSE rems[1:fit-1] || [rems[fit] - L]
                               || rems[fit+1:]
                     END AS rems
              FROM (
                SELECT s.bucket, s.i, s.doc_id, s.L, r.rems,
                       list_position(r.rems,
                           list_min(list_filter(r.rems, x -> x >= s.L)))
                           AS fit
                FROM rec r JOIN seq s
                  ON s.bucket = r.bucket AND s.i = r.i + 1
              )
            ), asg AS (
              SELECT bucket, doc_id, L, bin FROM rec WHERE i > 0
            ), binsum AS (
              SELECT bucket, bin, CAST(sum(L) AS BIGINT) AS bin_tokens
              FROM asg GROUP BY bucket, bin
            )
            SELECT a.doc_id, CAST(a.L AS BIGINT) AS n_tokens, a.bucket,
                   CAST(a.bin AS INTEGER) AS bin, b.bin_tokens,
                   CAST(b.bin_tokens AS DOUBLE) / {budget} AS bin_fill
            FROM asg a JOIN binsum b USING (bucket, bin)
        """


def _bpe_encode_oracle_sql(num_merges: int = 8) -> str:
    """bpe_encode replay: train the K merges (shared CTE prefix), then
    re-apply them in rank order to the DISTINCT-word relation and
    aggregate per doc. Each application LEFT-joins its best{k} row (ON
    TRUE) so a dried-up merge supply degrades to a no-op exactly like
    the Spark fold over the collected merge array, instead of
    annihilating the cross join."""
    parts = [_bpe_cte_prefix(num_merges)]
    parts.append(
        """, doctok AS (
                SELECT doc_id, unnest(COALESCE(list_filter(
                    string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                    x -> x != ''), [])) AS w
                FROM documents
            ), enc0 AS (
                SELECT DISTINCT w, regexp_replace(w, '(.)', ' \\1 ', 'g')
                    AS seg
                FROM doctok
            )"""
    )
    for k in range(num_merges):
        parts.append(
            f""", enc{k + 1} AS (
                SELECT w,
                       CASE WHEN b.s1 IS NULL THEN seg
                            ELSE replace(seg,
                                         ' ' || b.s1 || '  ' || b.s2 || ' ',
                                         ' ' || b.s1 || b.s2 || ' ')
                       END AS seg
                FROM enc{k} LEFT JOIN best{k} b ON TRUE
            )"""
        )
    parts.append(
        f""", encw AS (
                SELECT w, CAST(length(w) AS BIGINT) AS chars,
                       CAST(len(string_split(trim(seg), '  ')) AS BIGINT)
                           AS syms
                FROM enc{num_merges}
            )
            SELECT doc_id,
                   count(*) AS n_tokens,
                   CAST(sum(chars) AS BIGINT) AS n_chars,
                   CAST(sum(syms) AS BIGINT) AS n_symbols
            FROM doctok JOIN encw USING (w)
            GROUP BY doc_id"""
    )
    return "".join(parts)


# defaults of the registered spm_train / spm_encode keys (operators/spm.py)
_SPM_L = 10  # word_max_len (corpus words top out at 8)
_SPM_K = 4  # piece_max_len
_SPM_TOP = 24  # vocab_top multi-char seed pieces
_SPM_R = 2  # em_rounds


def _spm_viterbi_recursive(
    name: str, source: str, packed: str, K: int
) -> str:
    """The unigram Viterbi DP as a RECURSIVE CTE pair — the SQL twin of
    spm.viterbi_segment. DuckDB inlines lateral/projection aliases
    textually, so the Spark-side projection pyramid transliterated 1:1
    blows up exponentially at plan time (measured: L=3 plans in 9 s,
    L=4 never); the recursive form iterates a working table instead —
    one row per word per position carrying a rolling K-window of best
    scores and best paths, linear plan size, same integer-unit scores,
    same smallest-k tie-break, same absent-piece NULL semantics.
    Emits ``dp{name}`` (the recursion) and ``seg{name}``
    ``(w, c, _score, _pieces)``."""
    bs_init = ", ".join(["CAST(0 AS BIGINT)"] + ["NULL"] * (K - 1))
    paths_init = ", ".join(["CAST([] AS VARCHAR[])"] + ["NULL"] * (K - 1))
    cands = ",\n                       ".join(
        f"bs[{k}] + _us[list_position(_ps, "
        f"substr(w, i + {2 - k}, {k}))] AS c{k}"
        for k in range(1, K + 1)
    )
    call = ", ".join(f"c{k}" for k in range(1, K + 1))
    kstar = " ".join(
        f"WHEN c{k} = b_new THEN {k}" for k in range(1, K + 1)
    )
    bs_shift = ", ".join(f"bs[{k}]" for k in range(1, K))
    paths_shift = ", ".join(f"paths[{k}]" for k in range(1, K))
    return f""", dp{name} AS (
                SELECT w, c, 0 AS i,
                       [{bs_init}] AS bs,
                       [{paths_init}] AS paths
                FROM {source}
                UNION ALL
                SELECT w, c, i + 1,
                       [b_new, {bs_shift}],
                       [CASE WHEN kstar IS NOT NULL THEN list_append(
                            paths[kstar],
                            substr(w, CAST(i - kstar + 2 AS INT),
                                   CAST(kstar AS INT)))
                        END, {paths_shift}]
                FROM (
                  SELECT *, CASE {kstar} END AS kstar
                  FROM (
                    SELECT *, greatest({call}) AS b_new
                    FROM (
                      SELECT w, c, i, bs, paths,
                       {cands}
                      FROM dp{name}, {packed}
                      WHERE i < length(w))))
            ), seg{name} AS (
                SELECT w, c, bs[1] AS _score, paths[1] AS _pieces
                FROM dp{name} WHERE i = length(w)
            )"""


def _spm_cte_prefix(
    vocab_top: int = _SPM_TOP,
    K: int = _SPM_K,
    R: int = _SPM_R,
    L: int = _SPM_L,
) -> str:
    """Shared CTE chain of the spm oracles: distinct <=L-char words, the
    substring seed grid, the char + top-M seed vocabulary, micro-nat
    quantized units, and the R (pack, recursive-Viterbi, count,
    re-quantize) EM rounds. Bounded CTEs are MATERIALIZED — the packed
    vocabulary is referenced on every recursion step and the count
    relations feed both a scalar-subquery total and a projection."""
    parts = [
        f"""
            WITH RECURSIVE words AS MATERIALIZED (
                SELECT w, count(*) AS c FROM (
                    SELECT unnest(COALESCE(list_filter(
                        string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                        x -> x != ''), [])) AS w
                    FROM documents)
                WHERE length(w) <= {L}
                GROUP BY w
            ), seeds AS MATERIALIZED (
                SELECT piece, CAST(sum(c) AS BIGINT) AS cnt FROM (
                    SELECT unnest(flatten(list_transform(
                        generate_series(1, length(w)),
                        i -> list_transform(
                            generate_series(1, least({K}, length(w) - i + 1)),
                            k -> substr(w, CAST(i AS INT), CAST(k AS INT))))))
                        AS piece, c
                    FROM words)
                GROUP BY piece
            ), v0 AS MATERIALIZED (
                SELECT piece, cnt FROM seeds WHERE length(piece) = 1
                UNION ALL
                SELECT piece, cnt FROM (
                    SELECT piece, cnt FROM seeds WHERE length(piece) >= 2
                    ORDER BY cnt DESC, piece LIMIT {vocab_top})
            ), u0 AS MATERIALIZED (
                SELECT piece, CAST(cnt AS BIGINT) AS n,
                       CAST(floor(ln(CAST(cnt AS DOUBLE) /
                            (SELECT CAST(sum(cnt) AS DOUBLE) FROM v0))
                            * 1e6 + 0.5) AS BIGINT) AS units
                FROM v0
            )"""
    ]
    for r in range(1, R + 1):
        parts.append(
            f""", p{r - 1} AS MATERIALIZED (
                SELECT list(piece ORDER BY piece) AS _ps,
                       list(units ORDER BY piece) AS _us
                FROM u{r - 1}
            )"""
        )
        parts.append(_spm_viterbi_recursive(str(r), "words", f"p{r - 1}", K))
        parts.append(
            f""", n{r} AS MATERIALIZED (
                SELECT piece, CAST(sum(c) AS BIGINT) AS n FROM (
                    SELECT unnest(_pieces) AS piece, c FROM seg{r})
                GROUP BY piece
            ), u{r} AS MATERIALIZED (
                SELECT piece, n,
                       CAST(floor(ln(CAST(n AS DOUBLE) /
                            (SELECT CAST(sum(n) AS DOUBLE) FROM n{r}))
                            * 1e6 + 0.5) AS BIGINT) AS units
                FROM n{r}
            )"""
        )
    return "".join(parts)


def _spm_train_oracle_sql() -> str:
    """spm_train replay: the final EM round's surviving pieces with their
    Viterbi counts and quantized log-probabilities."""
    return (
        _spm_cte_prefix()
        + f"""
            SELECT piece, n, CAST(units AS DOUBLE) / 1e6 AS logp
            FROM u{_SPM_R}"""
    )


def _spm_encode_oracle_sql() -> str:
    """spm_encode replay: train (shared CTE prefix), then Viterbi-encode
    the distinct-word relation against the final vocabulary and
    aggregate per doc. Over-long words never enter the recursion and
    unsegmentable words carry a NULL score — both surface as UNK
    (0 pieces) through the LEFT join."""
    return (
        _spm_cte_prefix()
        + f""", pF AS MATERIALIZED (
                SELECT list(piece ORDER BY piece) AS _ps,
                       list(units ORDER BY piece) AS _us
                FROM u{_SPM_R}
            ), doctok AS MATERIALIZED (
                SELECT doc_id, unnest(COALESCE(list_filter(
                    string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                    x -> x != ''), [])) AS w
                FROM documents
            ), dwords AS MATERIALIZED (
                SELECT w, CAST(1 AS BIGINT) AS c
                FROM (SELECT DISTINCT w FROM doctok)
                WHERE length(w) <= {_SPM_L}
            )"""
        + _spm_viterbi_recursive("E", "dwords", "pF", _SPM_K)
        + f""", encw AS MATERIALIZED (
                SELECT d.w, CAST(length(d.w) AS BIGINT) AS chars,
                       CASE WHEN s._score IS NOT NULL
                            THEN CAST(len(s._pieces) AS BIGINT)
                            ELSE CAST(0 AS BIGINT) END AS np,
                       CASE WHEN s._score IS NULL THEN 1 ELSE 0 END AS unk
                FROM (SELECT DISTINCT w FROM doctok) d
                LEFT JOIN segE s USING (w)
            )
            SELECT doc_id,
                   count(*) AS n_words,
                   CAST(sum(chars) AS BIGINT) AS n_chars,
                   CAST(sum(np) AS BIGINT) AS n_pieces,
                   CAST(sum(unk) AS BIGINT) AS n_unk_words
            FROM doctok JOIN encw USING (w)
            GROUP BY doc_id"""
    )


def _g8_rayleigh_oracle_sql() -> str:
    """g8_rayleigh replay: the full analytic pipeline — solar geometry,
    per-band single-scattering correction, gamma/true-green/contrast —
    as one DuckDB expression chain; τ constants inlined from the same
    λ⁻⁴ fit the Spark side uses (operators/images.py::TAU_ABI)."""
    from convml_data_spark.operators.images import TAU_ABI

    f = (259.0 * (80.0 + 255.0)) / (255.0 * 259.0 - 80.0)
    rad = 0.017453292519943295
    two_pi = 6.283185307179586

    def clip(e: str) -> str:
        return (
            f"CASE WHEN ({e}) < 0.0 THEN 0.0 WHEN ({e}) > 1.0 "
            f"THEN 1.0 ELSE ({e}) END"
        )

    def corr(c: str, tau: float) -> str:
        # parenthesized exactly as the engine associates it:
        # tau * (0.75 * (1 + c²)) — float multiply is non-associative and
        # the last-ulp difference can split round(6) ties downstream
        rho = f"{tau!r} * (0.75 * (1.0 + cth * cth)) / (4.0 * mu_s * mu_v)"
        t2 = f"exp({-tau / 2.0!r} * (1.0 / mu_s + 1.0 / mu_v))"
        return clip(f"(({c}) - ({rho})) / ({t2})")

    return f"""
        WITH px AS (
          SELECT event_id, ts,
                 ((abs(value) * 7.0) % 120.0) - 60.0 AS lat,
                 ((abs(value) * 11.0) % 360.0) - 180.0 AS lon,
                 (abs(value) % 300.0) / 256.0 AS cb,
                 ((abs(value) * 1.7) % 280.0) / 256.0 AS cr,
                 ((abs(value) * 2.3) % 260.0) / 256.0 AS cg,
                 (abs(value) * 3.1) % 180.0 AS raz,
                 cos(((abs(value) * 5.0) % 60.0) * {rad!r}) AS mu_v
          FROM events
        ), geo AS (
          SELECT *,
                 -23.44 * {rad!r} * cos({two_pi!r} / 365.25
                   * (CAST(dayofyear(ts) AS DOUBLE) + 10.0)) AS decl,
                 {two_pi!r} * (CAST(date_part('hour', ts) * 3600
                   + date_part('minute', ts) * 60
                   + date_part('second', ts) AS DOUBLE) / 86400.0 - 0.5)
                   + lon * {rad!r} AS ha,
                 lat * {rad!r} AS phi
          FROM px
        ), sg AS (
          SELECT *, sin(phi) * sin(decl)
                    + cos(phi) * cos(decl) * cos(ha) AS mu_s
          FROM geo
        ), sc AS (
          SELECT *, -mu_s * mu_v
                    + sqrt(greatest(1.0 - mu_s * mu_s, 0.0))
                    * sqrt(greatest(1.0 - mu_v * mu_v, 0.0))
                    * cos(raz * {rad!r}) AS cth
          FROM sg WHERE mu_s >= 0.2
        ), cor AS (
          SELECT *, {corr('cb', TAU_ABI['C01'])} AS kb,
                    {corr('cr', TAU_ABI['C02'])} AS kr,
                    {corr('cg', TAU_ABI['C03'])} AS kg
          FROM sc
        ), gam AS (
          SELECT *, power(kr, 0.4) AS gr, power(kg, 0.4) AS gg,
                    power(kb, 0.4) AS gb
          FROM cor
        ), tg AS (
          SELECT *, {clip('0.48358168 * gr + 0.45706946 * gb + 0.06038137 * gg')} AS gtc
          FROM gam
        )
        SELECT event_id, round(mu_s, 6) AS mu_s,
               round({clip(f'{f!r} * (gr - 0.5) + 0.5')}, 6) AS r,
               round({clip(f'{f!r} * (gtc - 0.5) + 0.5')}, 6) AS g,
               round({clip(f'{f!r} * (gb - 0.5) + 0.5')}, 6) AS b
        FROM tg
    """


def _x3_oracle_sql() -> str:
    """tanh(V·W) replay with the fixed seeded checkpoint's weights inlined
    as SQL literals (64x8, same array the Spark side broadcasts)."""
    from convml_data_spark.operators.inference import linear_model_weights

    w = linear_model_weights(64, 8)
    exprs = []
    for j in range(8):
        wj = ", ".join(repr(float(x)) for x in w[:, j])
        # this DuckDB build has no tanh(); (e^2x - 1)/(e^2x + 1) agrees
        # with numpy tanh well inside the round(6) tolerance
        exprs.append(
            "round((exp(2 * (list_sum(list_transform(range(1, 65), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ([{wj}])[i])))) - 1) "
            "/ (exp(2 * (list_sum(list_transform(range(1, 65), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ([{wj}])[i])))) + 1), 6)"
        )
    arr = ",\n                   ".join(exprs)
    return f"""
            SELECT vec_id, unnest(range(0, 8)) AS j,
                   unnest([{arr}]) AS v
            FROM embeddings
        """


def _neardup_lsh_oracle_sql() -> str:
    """Full DuckDB replay of the hyperplane-LSH near-dup pipeline: the
    seed-42 gaussian planes are inlined as literals, bucket = sign-bit
    signature, candidates = same-bucket pairs, then exact cosine >= t —
    byte-for-byte the Spark plan's semantics (both engines fold the
    64-element dot products left-to-right, so even the sign of a
    near-zero projection agrees)."""
    import random as _random

    rng = _random.Random(42)
    planes = [[rng.gauss(0.0, 1.0) for _ in range(64)] for _ in range(6)]
    bits = []
    for i, plane in enumerate(planes):
        pl = ", ".join(repr(v) for v in plane)
        bits.append(
            f"(CASE WHEN list_sum(list_transform(range(1, 65), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ([{pl}])[i])) > 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    bucket = "\n                     + ".join(bits)
    from convml_data_spark.operators.similarity import LSH_MAX_BUCKET

    return f"""
            WITH sig0 AS (
              SELECT vec_id, embedding,
                     {bucket} AS bucket
              FROM embeddings
            ), sig AS (
              -- the engine's max_bucket skew guard, mirrored exactly:
              -- each bucket pairs only its LSH_MAX_BUCKET lowest ids
              SELECT vec_id, embedding, bucket FROM (
                SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS _bn
                FROM sig0
              ) WHERE _bn <= {LSH_MAX_BUCKET}
            ), cand AS (
              SELECT a.vec_id AS id_a, a.embedding AS va,
                     b.vec_id AS id_b, b.embedding AS vb
              FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            ), scored AS (
              SELECT DISTINCT id_a, id_b,
                     round(
                       list_sum(list_transform(range(1, len(va) + 1),
                                i -> CAST(va[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(range(1, len(va) + 1),
                                i -> CAST(va[i] AS DOUBLE) * CAST(va[i] AS DOUBLE))))
                          * sqrt(list_sum(list_transform(range(1, len(vb) + 1),
                                i -> CAST(vb[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE))))), 6) AS score
              FROM cand
            )
            SELECT id_a, id_b, score FROM scored WHERE score >= 0.35
        """


def _semantic_decontam_oracle_sql(threshold: float = 0.35, n_planes: int = 6) -> str:
    """semantic_decontaminate replay: the _semantic_dedup_oracle_sql
    plane pipeline, cross-set (train x eval on shared buckets) instead
    of self-join, reduced per train vector."""
    import random as _random

    rng = _random.Random(42)
    planes = [[rng.gauss(0.0, 1.0) for _ in range(64)] for _ in range(n_planes)]
    bits = []
    for i, plane in enumerate(planes):
        pl = ", ".join(repr(v) for v in plane)
        bits.append(
            f"(CASE WHEN list_sum(list_transform(range(1, 65), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ([{pl}])[i])) > 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    bucket = "\n                     + ".join(bits)
    return f"""
            WITH sig AS (
              SELECT vec_id, embedding,
                     {bucket} AS bucket,
                     substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) = '0' AS is_eval
              FROM embeddings
            ), scored AS (
              SELECT t.vec_id, e.vec_id AS eid,
                     round(
                       list_sum(list_transform(range(1, len(t.embedding) + 1),
                                i -> CAST(t.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(range(1, len(t.embedding) + 1),
                                i -> CAST(t.embedding[i] AS DOUBLE) * CAST(t.embedding[i] AS DOUBLE))))
                          * sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
                                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))), 6) AS s
              FROM sig t JOIN sig e
                ON t.bucket = e.bucket AND e.is_eval AND NOT t.is_eval
            )
            SELECT vec_id,
                   CAST(count(DISTINCT eid) AS BIGINT) AS n_eval_matches,
                   max(s) AS best_score
            FROM scored WHERE s >= {threshold}
            GROUP BY vec_id
        """


def _semantic_dedup_oracle_sql(threshold: float = 0.35, n_planes: int = 6) -> str:
    """semantic_dedup replay: the _neardup_lsh_oracle_sql pair pipeline
    (same seed-42 inlined planes) extended with the recursive-CTE
    transitive closure and min-id survivor rule."""
    import random as _random

    rng = _random.Random(42)
    planes = [[rng.gauss(0.0, 1.0) for _ in range(64)] for _ in range(n_planes)]
    bits = []
    for i, plane in enumerate(planes):
        pl = ", ".join(repr(v) for v in plane)
        bits.append(
            f"(CASE WHEN list_sum(list_transform(range(1, 65), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ([{pl}])[i])) > 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    bucket = "\n                     + ".join(bits)
    from convml_data_spark.operators.similarity import LSH_MAX_BUCKET

    return f"""
            WITH RECURSIVE sig0 AS (
              SELECT vec_id, embedding,
                     {bucket} AS bucket
              FROM embeddings
            ), sig AS (
              -- the engine's max_bucket skew guard, mirrored exactly
              SELECT vec_id, embedding, bucket FROM (
                SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS _bn
                FROM sig0
              ) WHERE _bn <= {LSH_MAX_BUCKET}
            ), cand AS (
              SELECT a.vec_id AS id_a, a.embedding AS va,
                     b.vec_id AS id_b, b.embedding AS vb
              FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            ), scored AS (
              SELECT DISTINCT id_a, id_b,
                     round(
                       list_sum(list_transform(range(1, len(va) + 1),
                                i -> CAST(va[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(range(1, len(va) + 1),
                                i -> CAST(va[i] AS DOUBLE) * CAST(va[i] AS DOUBLE))))
                          * sqrt(list_sum(list_transform(range(1, len(vb) + 1),
                                i -> CAST(vb[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE))))), 6) AS score
              FROM cand
            ), pr AS (
              SELECT id_a, id_b FROM scored WHERE score >= {threshold}
            ), e AS (
              SELECT id_a AS s, id_b AS d FROM pr
              UNION
              SELECT id_b, id_a FROM pr
            ), nodes AS (
              SELECT DISTINCT s AS id FROM e
            ), reach(id, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT reach.id, e.d FROM reach JOIN e ON reach.r = e.s
            ), comp AS (
              SELECT id, min(r) AS component FROM reach GROUP BY id
            )
            SELECT v.vec_id
            FROM embeddings v LEFT JOIN comp ON v.vec_id = comp.id
            WHERE comp.id IS NULL OR comp.component = v.vec_id
        """


def _kmeans_cte_chain(k: int, rounds: int, seed: int) -> tuple[str, str]:
    """The deterministic Lloyd fit (clustering.py::relational_kmeans) as
    a per-round CTE chain over ``embeddings`` — every step is exact
    DECIMAL arithmetic or an identically-IEEE-rounded round(·, 6), so
    assignments match Spark bit-for-bit. Returns (chain, final_assign):
    the comma-joined CTE text and the name of the final (vec_id, cid)
    assignment CTE."""
    u = (
        f"CAST(('0x' || substr(md5('{seed}|' || vec_id), 1, 13)) AS BIGINT)"
        " / 4503599627370496.0"
    )
    ctes = [
        f"""xq AS (
              SELECT vec_id, embedding,
                     list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE), 6) AS DECIMAL(12,6))) AS q
              FROM embeddings
            ), dims AS (
              -- derived from the DATA, not hardcoded: a hardcoded width
              -- would make p.q[i] silently NULL past the true dimension
              -- (wrong d2/means instead of an error). The CASE makes a
              -- ragged embedding column fail LOUDLY.
              SELECT unnest(generate_series(1, (
                SELECT CASE WHEN min(len(embedding)) = max(len(embedding))
                            THEN max(len(embedding))
                            ELSE CAST(error('embeddings dim not uniform') AS BIGINT) END
                FROM embeddings))) AS i
            ), c0 AS (
              -- seeds: k lowest rows by (md5-uniform, id); cid = rank
              SELECT row_number() OVER (ORDER BY {u}, vec_id) - 1 AS cid, q AS c
              FROM xq ORDER BY {u}, vec_id LIMIT {k}
            )"""
    ]
    for r in range(1, rounds + 2):
        cent = f"c{r - 1}"
        ctes.append(
            f"""d{r} AS (
              SELECT p.vec_id, c.cid,
                     SUM((p.q[i] - c.c[i]) * (p.q[i] - c.c[i])) AS d2
              FROM xq p CROSS JOIN {cent} c CROSS JOIN dims
              GROUP BY p.vec_id, c.cid
            ), a{r} AS (
              SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
                FROM d{r}
              ) WHERE rn = 1
            )"""
        )
        if r > rounds:  # final pass assigns only — no further update
            break
        ctes.append(
            f"""u{r} AS (
              SELECT cid, list(m ORDER BY i) AS c FROM (
                SELECT a.cid, i,
                       CAST(round(CAST(SUM(p.q[i]) AS DOUBLE) / COUNT(*), 6)
                            AS DECIMAL(12,6)) AS m
                FROM a{r} a JOIN xq p USING (vec_id) CROSS JOIN dims
                GROUP BY a.cid, i
              ) GROUP BY cid
            ), c{r} AS (
              -- an emptied cluster keeps its previous centroid
              SELECT s.cid, COALESCE(u.c, s.c) AS c
              FROM {cent} s LEFT JOIN u{r} u USING (cid)
            )"""
        )
    return ",\n            ".join(ctes), f"a{rounds + 1}"


def _semantic_dedup_kmeans_oracle_sql(
    threshold: float = 0.35, k: int = 8, rounds: int = 2, seed: int = 42
) -> str:
    """dedup_semantic_kmeans FULL replay: the :func:`_kmeans_cte_chain`
    Lloyd fit, then the _semantic_dedup_oracle_sql pair/closure/survivor
    tail with the cluster id as the block."""
    from convml_data_spark.operators.similarity import LSH_MAX_BUCKET

    chain, final_a = _kmeans_cte_chain(k, rounds, seed)
    return f"""
            WITH RECURSIVE {chain}, sig0 AS (
              SELECT p.vec_id, p.embedding, a.cid AS bucket
              FROM xq p JOIN {final_a} a USING (vec_id)
            ), sig AS (
              SELECT vec_id, embedding, bucket FROM (
                SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS _bn
                FROM sig0
              ) WHERE _bn <= {LSH_MAX_BUCKET}
            ), cand AS (
              SELECT a.vec_id AS id_a, a.embedding AS va,
                     b.vec_id AS id_b, b.embedding AS vb
              FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            ), scored AS (
              SELECT DISTINCT id_a, id_b,
                     round(
                       list_sum(list_transform(range(1, len(va) + 1),
                                i -> CAST(va[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(range(1, len(va) + 1),
                                i -> CAST(va[i] AS DOUBLE) * CAST(va[i] AS DOUBLE))))
                          * sqrt(list_sum(list_transform(range(1, len(vb) + 1),
                                i -> CAST(vb[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE))))), 6) AS score
              FROM cand
            ), pr AS (
              SELECT id_a, id_b FROM scored WHERE score >= {threshold}
            ), e AS (
              SELECT id_a AS s, id_b AS d FROM pr
              UNION
              SELECT id_b, id_a FROM pr
            ), nodes AS (
              SELECT DISTINCT s AS id FROM e
            ), reach(id, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT reach.id, e.d FROM reach JOIN e ON reach.r = e.s
            ), comp AS (
              SELECT id, min(r) AS component FROM reach GROUP BY id
            )
            SELECT v.vec_id
            FROM embeddings v LEFT JOIN comp ON v.vec_id = comp.id
            WHERE comp.id IS NULL OR comp.component = v.vec_id
        """


def _kmeans_labels_oracle_sql(k: int = 8, rounds: int = 2, seed: int = 42) -> str:
    """kmeans_labels FULL replay: the :func:`_kmeans_cte_chain` Lloyd fit,
    final assignment CTE selected directly."""
    chain, final_a = _kmeans_cte_chain(k, rounds, seed)
    return f"""
            WITH {chain}
            SELECT vec_id, CAST(cid AS BIGINT) AS cluster FROM {final_a}
        """


def _wp_vocab_cte(vocab_top: int = 24, piece_max_len: int = 4, word_max_len: int = 10) -> str:
    """Shared WordPiece vocab replay (wordpiece.py::wordpiece_vocab):
    distinct ≤L words with corpus counts, positional-form substring grid
    (raw at i=1, ##-prefixed after), mandatory single-body chars +
    top-M multis by (cnt DESC, piece). Ends with CTE ``wpv (piece,
    cnt)``; callers must open WITH RECURSIVE themselves."""
    return f"""doctok AS MATERIALIZED (
              SELECT doc_id, unnest(COALESCE(list_filter(
                  string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                  x -> x != ''), [])) AS w
              FROM documents
            ), dwords AS MATERIALIZED (
              -- '#'-containing words are excluded from the vocabulary
              -- (positional '##' encoding can't represent them)
              SELECT w, count(*) AS c FROM doctok
              WHERE length(w) <= {word_max_len} AND w NOT LIKE '%#%'
              GROUP BY w
            ), grid AS (
              SELECT CASE WHEN i = 1 THEN substr(w, CAST(i AS INT), CAST(k AS INT))
                          ELSE '##' || substr(w, CAST(i AS INT), CAST(k AS INT)) END AS piece,
                     c
              FROM dwords, UNNEST(range(1, length(w) + 1)) AS t1(i),
                   UNNEST(range(1, least({piece_max_len}, length(w) - i + 1) + 1)) AS t2(k)
            ), seeds AS MATERIALIZED (
              SELECT piece, SUM(c) AS cnt FROM grid GROUP BY piece
            ), wpv AS MATERIALIZED (
              SELECT piece, cnt FROM seeds
              WHERE length(piece) - CASE WHEN piece LIKE '##%' THEN 2 ELSE 0 END = 1
              UNION ALL
              SELECT piece, cnt FROM (
                SELECT piece, cnt FROM seeds
                WHERE length(piece) - CASE WHEN piece LIKE '##%' THEN 2 ELSE 0 END >= 2
                ORDER BY cnt DESC, piece LIMIT {vocab_top}
              )
            )"""


def _wordpiece_vocab_oracle_sql() -> str:
    """wordpiece_vocab replay: the shared vocab CTE, cnt cast BIGINT
    (SUM is HUGEINT, which the driver renders float64)."""
    return f"""
            WITH {_wp_vocab_cte()}
            SELECT piece, CAST(cnt AS BIGINT) AS cnt FROM wpv
        """


def _wordpiece_encode_oracle_sql(
    word_max_len: int = 10, piece_max_len: int = 4
) -> str:
    """wordpiece_encode replay: shared vocab CTE, per-(word, pos)
    longest-match relation, recursive greedy walk (one deterministic
    path per word; a matchless position strands the walk short of
    len+1 → UNK, as does length > word_max_len, which never enters the
    walk), per-doc aggregation (the spm_encode tail)."""
    L = int(word_max_len)
    return f"""
            WITH RECURSIVE {_wp_vocab_cte(piece_max_len=piece_max_len, word_max_len=L)},
            wl AS MATERIALIZED (
              SELECT w, length(w) AS len FROM (SELECT DISTINCT w FROM doctok)
            ), m AS MATERIALIZED (
              SELECT x.w, x.p,
                     max(CASE WHEN v.piece LIKE '##%' THEN length(v.piece) - 2
                              ELSE length(v.piece) END) AS k
              FROM (SELECT w, len, unnest(range(1, len + 1)) AS p
                    FROM wl WHERE len <= {L} AND w NOT LIKE '%#%') x
              JOIN wpv v ON
                   (x.p = 1 AND v.piece NOT LIKE '##%'
                    AND substr(x.w, CAST(x.p AS INT), length(v.piece)) = v.piece)
                OR (x.p > 1 AND v.piece LIKE '##%'
                    AND substr(x.w, CAST(x.p AS INT), length(v.piece) - 2) = substr(v.piece, 3))
              GROUP BY x.w, x.p
            ), walk(w, len, p, np) AS (
              -- '#'-words and over-long words never enter the walk:
              -- no fin row -> UNK via the LEFT JOIN (mirrors Spark)
              SELECT w, len, CAST(1 AS BIGINT), 0
              FROM wl WHERE len <= {L} AND w NOT LIKE '%#%'
              UNION ALL
              SELECT walk.w, walk.len, walk.p + m.k, walk.np + 1
              FROM walk JOIN m ON m.w = walk.w AND m.p = walk.p
              WHERE walk.p <= walk.len
            ), fin AS (
              SELECT w, max(p) AS fp, max(np) AS np FROM walk GROUP BY w
            ), encw AS (
              SELECT wl.w, CAST(wl.len AS BIGINT) AS chars,
                     CASE WHEN fin.fp = wl.len + 1 THEN CAST(fin.np AS BIGINT)
                          ELSE CAST(0 AS BIGINT) END AS np,
                     CASE WHEN fin.fp = wl.len + 1 THEN 0 ELSE 1 END AS unk
              FROM wl LEFT JOIN fin USING (w)
            )
            SELECT doc_id,
                   count(*) AS n_words,
                   CAST(sum(chars) AS BIGINT) AS n_chars,
                   CAST(sum(np) AS BIGINT) AS n_pieces,
                   CAST(sum(unk) AS BIGINT) AS n_unk_words
            FROM doctok JOIN encw USING (w)
            GROUP BY doc_id
        """


def _stream_url_dedup_oracle_sql() -> str:
    """stream_url_dedup replay (key-set contract): the md5-bit URL
    synthesis over events + the canonical_url regex chain, then
    SELECT DISTINCT — the batch equivalent of the single-batch
    dropDuplicatesWithinWatermark drain."""
    bits = lambda tag: (
        f"CAST('0x' || substr(md5('su{tag}:' || CAST(event_id AS VARCHAR)), 1, 13) AS BIGINT)"
    )
    return f"""
            WITH raw AS (
              SELECT (CASE WHEN {bits("s")} % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END)
                     || (CASE WHEN {bits("w")} % 2 = 0 THEN 'www.' ELSE '' END)
                     || lower(event_type) || '.Crawl.NET'
                     || (CASE WHEN {bits("p")} % 4 = 0 THEN ':443' ELSE '' END)
                     || '/page/' || CAST(user_id % 97 AS VARCHAR)
                     || (CASE WHEN {bits("t")} % 2 = 0 THEN '/' ELSE '' END)
                     || (CASE WHEN {bits("q")} % 3 = 0 THEN '?ref=feed' ELSE '' END)
                       AS url
              FROM events
            ), stripped AS (
              SELECT regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                         trim(url),
                         '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
                         '^[^/?#@]*@', ''),
                         '#.*$', ''),
                         '\\?.*$', '') AS u
              FROM raw
            ), canon AS (
              SELECT DISTINCT
                     regexp_replace(regexp_replace(
                         lower(regexp_extract(u, '^([^/]*)', 1)),
                         ':(80|443)$', ''), '^www\\.', '')
                     || regexp_replace(regexp_replace(u, '^[^/]*', ''), '/+$', '')
                       AS canonical_url
              FROM stripped
            )
            SELECT canonical_url,
                   regexp_extract(canonical_url, '^([^/]*)', 1) AS host
            FROM canon
        """


def _winnow_oracle_sql(k: int = 8, w: int = 4) -> str:
    """winnow_fingerprints replay: the doc_fingerprint k-gram hash
    array, window starts exploded, rightmost-min per window via
    row_number (h ASC, j DESC), DISTINCT selections, then the same
    count/min/position-weighted-checksum aggregate."""
    return f"""
            WITH g AS (
              SELECT doc_id,
                     list_transform(
                       range(1, greatest(len(text) - {k - 1}, 0) + 1),
                       i -> CAST(('0x' || substr(md5(substr(text, CAST(i AS INT), {k})), 1, 13)) AS BIGINT)
                     ) AS hs
              FROM documents
            ), st AS (
              SELECT doc_id, hs, unnest(range(0, greatest(len(hs) - {w} + 1, 0))) AS s
              FROM g
            ), win AS (
              SELECT doc_id, s, j, hs[CAST(j AS INT)] AS h
              FROM st, UNNEST(range(s + 1, s + {w} + 1)) AS t(j)
            ), pick AS (
              SELECT doc_id, j - 1 AS pos, h AS fp,
                     row_number() OVER (
                       PARTITION BY doc_id, s ORDER BY h ASC, j DESC
                     ) AS rn
              FROM win
            ), sel AS (
              SELECT DISTINCT doc_id, pos, fp FROM pick WHERE rn = 1
            )
            SELECT doc_id, count(*) AS n_fps, min(fp) AS min_fp,
                   CAST(SUM((fp % 1000003) * (pos + 1))
                        % 2305843009213693951 AS BIGINT) AS fp_checksum
            FROM sel GROUP BY doc_id
        """


def _hard_negatives_oracle_sql(
    n_anchors: int = 8, k: int = 5, dup_threshold: float = 0.95, seed: int = 42
) -> str:
    """hard_negative_mining replay: md5-uniform anchor selection, exact
    cosine vs every row, band-stop at the ROUNDED score (mirroring the
    Spark filter on the rounded column), top-k per anchor."""
    u = (
        f"CAST(('0x' || substr(md5('{seed}|' || vec_id), 1, 13)) AS BIGINT)"
        " / 4503599627370496.0"
    )
    return f"""
            WITH a AS (
              SELECT vec_id AS qid, embedding AS qv
              FROM embeddings ORDER BY {u}, vec_id LIMIT {n_anchors}
            ), sc AS (
              SELECT a.qid, e.vec_id,
                     round(
                       list_sum(list_transform(range(1, len(e.embedding) + 1),
                                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(a.qv[i] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
                                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
                          * sqrt(list_sum(list_transform(range(1, len(a.qv) + 1),
                                i -> CAST(a.qv[i] AS DOUBLE) * CAST(a.qv[i] AS DOUBLE))))), 6) AS score
              FROM embeddings e CROSS JOIN a
              WHERE e.vec_id != a.qid
            )
            SELECT qid, vec_id, score FROM (
              SELECT *, row_number() OVER (
                PARTITION BY qid ORDER BY score DESC, vec_id
              ) AS rn
              FROM sc WHERE score < {dup_threshold}
            ) WHERE rn <= {k}
        """


def _containment_oracle_sql(threshold: float = 0.5, ngram: int = 3) -> str:
    """containment_pairs replay: the dedup_jaccard_prefix shingle-join
    skeleton with the DIRECTED containment ratio |A∩B|/|A| (a ≠ b, both
    directions), raw-compared at the threshold and rounded on output —
    exactly the Spark filter/round order. r18: shingle identity is the
    60-bit md5 hash in BOTH engines (dedup._hashed_shingle_sets)."""
    return f"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x != '') AS w
              FROM documents
            ), sh AS (
              SELECT DISTINCT doc_id,
                     CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15) AS BIGINT) AS shingle
              FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)
            ), sizes AS (
              SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
            ), inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id != b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b, round(n_common / sa.n_sh, 6) AS containment
            FROM inter JOIN sizes sa ON sa.doc_id = id_a
            WHERE n_common / sa.n_sh >= {threshold}
        """


def _c4_filters_oracle_sql(min_words: int = 5, min_sentences: int = 3) -> str:
    """c4_filters replay at the LINE level (the page string is never
    materialized): md5-terminator body lines + flagged boilerplate lines
    UNION'd, the three line rules and two page rules re-evaluated, and
    clean_chars recovered as Σ kept-line lengths + (n_kept − 1) newline
    separators — identical to length(array_join(kept, '\\n'))."""
    kept = (
        "regexp_matches(ln, '[.!?\"]$') "
        "AND len(string_split_regex(trim(ln), ' +')) >= " + str(min_words) + " "
        "AND NOT contains(lower(ln), 'javascript')"
    )
    return f"""
            WITH base AS (
              SELECT doc_id,
                     COALESCE(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                              x -> x != ''), []) AS w,
                     CAST('0x' || substr(md5('li:' || CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT)
                         % 13 = 0 AS lorem,
                     CAST('0x' || substr(md5('br:' || CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT)
                         % 11 = 0 AS brace
              FROM documents
            ), nz AS (
              -- mirror the Spark synthesis's zero-token exclusion
              SELECT * FROM base WHERE len(w) > 0
            ), sized AS (
              SELECT *, CAST(ceil(len(w) / 6.0) AS INT) AS nl FROM nz
            ), body AS (
              SELECT doc_id,
                     array_to_string(w[i*6+1 : i*6+6], ' ')
                     || (['.', '!', '?', '', ' javascript.'])[
                          CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                               || CAST(i AS VARCHAR)), 1, 13) AS BIGINT) % 5 AS INT) + 1]
                       AS ln
              FROM sized, UNNEST(range(0, greatest(nl, 0))) AS t(i)
            ), lines AS (
              SELECT doc_id, ln FROM body
              UNION ALL
              SELECT doc_id, 'lorem ipsum dolor sit.' FROM nz WHERE lorem
              UNION ALL
              SELECT doc_id, 'if (x) {{ return y; }}' FROM nz WHERE brace
            ), per AS (
              SELECT doc_id,
                     count(*) AS n_lines,
                     count(*) FILTER ({kept}) AS n_kept,
                     COALESCE(SUM(len(ln)) FILTER ({kept}), 0) AS kept_chars,
                     -- page rules from the LINE CONTENT, not the synth
                     -- flags: Spark scans the whole page text, so body
                     -- lines whose corpus tokens happen to contain
                     -- 'lorem ipsum' or '{{' must also trip the rule
                     -- (per-line OR == page contains; the newline join
                     -- can't create a cross-line match)
                     bool_or(contains(lower(ln), 'lorem ipsum')) AS lorem_hit,
                     bool_or(contains(ln, '{{')) AS brace_hit
              FROM lines GROUP BY doc_id
            )
            SELECT p.doc_id, p.n_lines, p.n_kept,
                   (NOT (p.lorem_hit OR p.brace_hit)) AND p.n_kept >= {min_sentences} AS passed,
                   -- BIGINT cast: SUM(len) is HUGEINT, which the driver
                   -- renders float64 against Spark's bigint (gotcha).
                   -- greatest(..., 0): Spark's length('') is 0 for a
                   -- passing page with zero kept lines (only reachable
                   -- when min_sentences <= 0), while kept_chars +
                   -- n_kept - 1 would be -1 — guard the parameterized
                   -- oracle so it matches at ANY min_sentences.
                   CAST(CASE WHEN (NOT (p.lorem_hit OR p.brace_hit)) AND p.n_kept >= {min_sentences}
                        THEN greatest(p.kept_chars + p.n_kept - 1, 0) ELSE 0 END AS BIGINT) AS clean_chars
            FROM per p
        """


def _dedup_url_oracle_sql(max_per_host: int = 20, seed: int = 42) -> str:
    """dedup_url replay: md5-bit URL synthesis, the canonical_url regex
    chain (anchored single-occurrence patterns, so DuckDB's
    replace-first regexp_replace matches Spark's replace-all), min-id
    survivor per canonical URL, cap_per_group's md5-rank QUALIFY."""
    bits = lambda tag: (
        f"CAST('0x' || substr(md5('url{tag}:' || CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT)"
    )
    return f"""
            WITH raw AS (
              SELECT doc_id,
                     (CASE WHEN {bits("s")} % 3 = 0 THEN 'HTTPS://'
                           WHEN {bits("s")} % 3 = 1 THEN 'https://'
                           ELSE 'http://' END)
                     || (CASE WHEN {bits("w")} % 2 = 0 THEN 'www.' ELSE '' END)
                     || source || '.Example.COM'
                     || (CASE WHEN {bits("p")} % 4 = 0 THEN ':443' ELSE '' END)
                     || '/Docs/' || CAST(doc_id % 37 AS VARCHAR)
                     || (CASE WHEN {bits("t")} % 2 = 0 THEN '/' ELSE '' END)
                     || (CASE WHEN {bits("q")} % 3 = 0 THEN '?utm_source=feed&ref=rss' ELSE '' END)
                     || (CASE WHEN {bits("f")} % 5 = 0 THEN '#section-2' ELSE '' END)
                       AS url
              FROM documents
            ), stripped AS (
              SELECT doc_id,
                     regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                         trim(url),
                         '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
                         '^[^/?#@]*@', ''),
                         '#.*$', ''),
                         '\\?.*$', '') AS u
              FROM raw
            ), canon AS (
              SELECT doc_id,
                     regexp_replace(regexp_replace(
                         lower(regexp_extract(u, '^([^/]*)', 1)),
                         ':(80|443)$', ''), '^www\\.', '')
                     || regexp_replace(regexp_replace(u, '^[^/]*', ''), '/+$', '')
                       AS canonical_url
              FROM stripped
            ), surv AS (
              SELECT canonical_url, min(doc_id) AS doc_id
              FROM canon GROUP BY canonical_url
            ), hosted AS (
              SELECT doc_id, canonical_url,
                     regexp_extract(canonical_url, '^([^/]*)', 1) AS host
              FROM surv
            )
            SELECT doc_id, canonical_url, host FROM (
              SELECT *, row_number() OVER (
                  PARTITION BY host
                  ORDER BY md5('{seed}_' || CAST(doc_id AS VARCHAR)), doc_id
              ) AS r
              FROM hosted
            ) WHERE r <= {max_per_host}
        """


def _spec_curation_oracle_sql() -> str:
    """Full DuckDB replay of pipeline.py::build_curation_pipeline — the
    certified per-stage oracle fragments CTE-chained in corpus order:
    eval holdout → URL synthesis + the dedup_url canonicalization regex
    chain + min-id survivor → the c4_filters line-level page replay →
    the text_gopher_quality measures (min_words=30) → exact-Jaccard
    3-shingle pairs ≥ 0.5 (the dedup_minhash twin) → recursive-CTE
    connected components + min-id survivors (the dedup_survivors twin)
    → the bloom_decontaminate bitmap replay → the mixture_temperature
    share^0.3 rates (budget 8000) + exact-dyadic md5 acceptance draw →
    the pack_chunks exclusive-cumsum packing (budget 512)."""
    bits = lambda tag: (  # noqa: E731
        f"CAST('0x' || substr(md5('url{tag}:' || CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT)"
    )
    kept = (
        "regexp_matches(ln, '[.!?\"]$') "
        "AND len(string_split_regex(trim(ln), ' +')) >= 5 "
        "AND NOT contains(lower(ln), 'javascript')"
    )
    return f"""
            WITH RECURSIVE allbase AS (
              SELECT doc_id, source,
                     COALESCE(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                              x -> x != ''), []) AS w,
                     substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS is_eval
              FROM documents
            ), train AS (
              SELECT doc_id, source, w FROM allbase WHERE NOT is_eval
            ), raw AS (
              SELECT doc_id,
                     (CASE WHEN {bits("s")} % 3 = 0 THEN 'HTTPS://'
                           WHEN {bits("s")} % 3 = 1 THEN 'https://'
                           ELSE 'http://' END)
                     || (CASE WHEN {bits("w")} % 2 = 0 THEN 'www.' ELSE '' END)
                     || source || '.Example.COM'
                     || (CASE WHEN {bits("p")} % 4 = 0 THEN ':443' ELSE '' END)
                     || '/p/' || CAST(CASE WHEN (doc_id // 20) % 10 = 7
                                           THEN doc_id - 20
                                           ELSE doc_id END AS VARCHAR)
                     || (CASE WHEN {bits("t")} % 2 = 0 THEN '/' ELSE '' END)
                     || (CASE WHEN {bits("q")} % 3 = 0 THEN '?utm_source=feed&ref=rss' ELSE '' END)
                     || (CASE WHEN {bits("f")} % 5 = 0 THEN '#section-2' ELSE '' END)
                       AS url
              FROM train
            ), stripped AS (
              SELECT doc_id,
                     regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                         trim(url),
                         '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
                         '^[^/?#@]*@', ''),
                         '#.*$', ''),
                         '\\?.*$', '') AS u
              FROM raw
            ), canon AS (
              SELECT doc_id,
                     regexp_replace(regexp_replace(
                         lower(regexp_extract(u, '^([^/]*)', 1)),
                         ':(80|443)$', ''), '^www\\.', '')
                     || regexp_replace(regexp_replace(u, '^[^/]*', ''), '/+$', '')
                       AS canonical_url
              FROM stripped
            ), c1 AS (
              SELECT min(doc_id) AS doc_id FROM canon GROUP BY canonical_url
            ), sized AS (
              SELECT t.doc_id, t.w, CAST(ceil(len(t.w) / 6.0) AS INT) AS nl,
                     CAST('0x' || substr(md5('li:' || CAST(t.doc_id AS VARCHAR)), 1, 13) AS BIGINT)
                         % 13 = 0 AS lorem,
                     CAST('0x' || substr(md5('br:' || CAST(t.doc_id AS VARCHAR)), 1, 13) AS BIGINT)
                         % 11 = 0 AS brace
              FROM train t JOIN c1 USING (doc_id)
              WHERE len(t.w) > 0
            ), body AS (
              SELECT doc_id,
                     array_to_string(w[i*6+1 : i*6+6], ' ')
                     || (['.', '!', '?', '', ' javascript.'])[
                          CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                               || CAST(i AS VARCHAR)), 1, 13) AS BIGINT) % 5 AS INT) + 1]
                       AS ln
              FROM sized, UNNEST(range(0, greatest(nl, 0))) AS t(i)
            ), c4lines AS (
              SELECT doc_id, ln FROM body
              UNION ALL
              SELECT doc_id, 'lorem ipsum dolor sit.' FROM sized WHERE lorem
              UNION ALL
              SELECT doc_id, 'if (x) {{ return y; }}' FROM sized WHERE brace
            ), c2 AS (
              SELECT doc_id
              FROM c4lines GROUP BY doc_id
              HAVING NOT bool_or(contains(lower(ln), 'lorem ipsum') OR contains(ln, '{{'))
                 AND count(*) FILTER ({kept}) >= 3
            ), gm AS (
              SELECT t.doc_id, t.source, t.w,
                     len(t.w) AS n_words,
                     CASE WHEN len(t.w) = 0 THEN 0.0
                          ELSE list_sum(list_transform(t.w, x -> len(x))) / len(t.w) END AS mwl,
                     list_transform(range(1, greatest(len(t.w) - 1, 0) + 1),
                                    i -> t.w[i] || ' ' || t.w[i+1]) AS g2,
                     list_transform(range(1, greatest(len(t.w) - 2, 0) + 1),
                                    i -> t.w[i] || ' ' || t.w[i+1] || ' ' || t.w[i+2]) AS g3,
                     len(list_filter(list_distinct(t.w),
                         x -> x IN ('the','a','of','and','to','in','is','it','for','on'))) AS stop_hits
              FROM train t JOIN c2 USING (doc_id)
            ), c3 AS (
              SELECT doc_id, source, w FROM (
                SELECT doc_id, source, w, n_words, mwl, stop_hits,
                       CASE WHEN len(g2) = 0 THEN 0.0
                            ELSE list_max(list_transform(list_distinct(g2),
                                   x -> len(list_filter(g2, y -> y = x)))) / len(g2) END AS top2,
                       CASE WHEN len(g3) = 0 THEN 0.0
                            ELSE 1.0 - len(list_distinct(g3)) / len(g3) END AS dup3
                FROM gm
              )
              WHERE n_words >= 30 AND n_words <= 100000
                AND mwl >= 3.0 AND mwl <= 10.0
                AND top2 <= 0.20 AND dup3 <= 0.30
                AND stop_hits >= 2
            ), sh AS (
              SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
              FROM c3, UNNEST(range(1, len(w) - 1)) AS t(i)
            ), ssz AS (
              SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
            ), inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ), pr AS (
              SELECT id_a, id_b
              FROM inter JOIN ssz sa ON sa.doc_id = id_a
                         JOIN ssz sb ON sb.doc_id = id_b
              WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.5
            ), e AS (
              SELECT id_a AS s, id_b AS d FROM pr
              UNION
              SELECT id_b, id_a FROM pr
            ), nodes AS (
              SELECT DISTINCT s AS id FROM e
            ), reach(id, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT reach.id, e.d FROM reach JOIN e ON reach.r = e.s
            ), comp AS (
              SELECT id, min(r) AS component FROM reach GROUP BY id
            ), c4s AS (
              SELECT c3.doc_id, c3.source, c3.w
              FROM c3 LEFT JOIN comp ON comp.id = c3.doc_id
              WHERE comp.id IS NULL OR comp.component = c3.doc_id
            ), ge AS (
              SELECT DISTINCT array_to_string(w[i:i+6], ' ') AS ng
              FROM allbase, UNNEST(range(1, len(w) - 6 + 1)) AS t(i)
              WHERE is_eval AND len(w) >= 7
            ), bbits AS (
              SELECT DISTINCT
                     CAST('0x' || substr(md5(ng || h), 1, 13) AS BIGINT)
                         % 262144 AS bit
              FROM ge, UNNEST(['#0','#1','#2','#3']) AS t(h)
            ), gt AS (
              SELECT DISTINCT doc_id, array_to_string(w[i:i+6], ' ') AS ng
              FROM c4s, UNNEST(range(1, len(w) - 6 + 1)) AS t(i)
              WHERE len(w) >= 7
            ), probe AS (
              SELECT doc_id, ng,
                     CAST('0x' || substr(md5(ng || h), 1, 13) AS BIGINT)
                         % 262144 AS bit
              FROM gt, UNNEST(['#0','#1','#2','#3']) AS t(h)
            ), perg AS (
              SELECT p.doc_id, p.ng, count(b.bit) = 4 AS hit
              FROM probe p LEFT JOIN bbits b ON b.bit = p.bit
              GROUP BY p.doc_id, p.ng
            ), flg AS (
              SELECT doc_id
              FROM perg GROUP BY doc_id
              HAVING round(sum(CAST(hit AS INT)) / count(*), 6) >= 0.5
            ), c5 AS (
              SELECT * FROM c4s WHERE doc_id NOT IN (SELECT doc_id FROM flg)
            ), persrc AS (
              SELECT source, CAST(sum(len(w)) AS BIGINT) AS n_tokens
              FROM c5 GROUP BY source
            ), tot AS (
              SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM persrc
            ), wts AS (
              SELECT source, n_tokens,
                     CASE WHEN n_tokens > 0
                          THEN pow(n_tokens / CAST(tot.t AS DOUBLE), 0.3)
                          ELSE 0.0 END AS pw
              FROM persrc, tot
            ), wsum AS (
              SELECT CAST(sum(CAST(pw AS DECIMAL(38,12))) AS DOUBLE) AS s FROM wts
            ), rates AS (
              SELECT source,
                     round(CASE WHEN n_tokens > 0
                           THEN least(1.0, 8000.0 * (pw / s) / n_tokens)
                           ELSE 0.0 END, 6) AS rate
              FROM wts, wsum
            ), drawn AS (
              SELECT c5.doc_id, c5.source, CAST(len(c5.w) AS BIGINT) AS n_tokens
              FROM c5 JOIN rates USING (source)
              WHERE CAST('0x' || substr(md5('draw42_' || CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT)
                    / CAST(4503599627370496 AS DOUBLE) < rates.rate
            ), pb AS (
              SELECT doc_id, source, n_tokens,
                     CAST('0x' || substr(md5('42_' || CAST(doc_id AS VARCHAR)), 1, 15)
                          AS BIGINT) AS shuf
              FROM drawn
            ), pc AS (
              SELECT doc_id, source, n_tokens,
                     COALESCE(SUM(n_tokens) OVER (
                         ORDER BY shuf, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) AS before
              FROM pb
            )
            SELECT doc_id, source, n_tokens,
                   CAST(before // 512 AS BIGINT) AS chunk_id,
                   CAST(before % 512 AS BIGINT) AS chunk_offset
            FROM pc
        """


def _spec_rag_oracle_sql() -> str:
    """Full DuckDB replay of pipeline.py::build_rag_retrieval: the
    token_windows chunker, the md5 hashing-trick features, the seeded
    16×8 projection inlined as literals (tanh via (e^2x−1)/(e^2x+1),
    the x3 discipline, round-6 so both engines hold bit-identical
    vectors), the similarity_sq_topk SQ8 scan/rerank adapted to the
    chunk relation, the hybrid_rrf BM25 + RRF fusion over chunk ids."""
    from convml_data_spark.operators.inference import linear_model_weights

    w = linear_model_weights(16, 8)

    def proj(feat: str) -> str:
        exprs = []
        for j in range(8):
            wj = ", ".join(repr(float(x)) for x in w[:, j])
            dot = (
                f"list_sum(list_transform(range(1, 17), "
                f"i -> {feat}[i] * ([{wj}])[i]))"
            )
            exprs.append(
                f"round((exp(2 * ({dot})) - 1) / (exp(2 * ({dot})) + 1), 6)"
            )
        return ",\n                       ".join(exprs)

    bucket = (
        "CAST('0x' || substr(md5(t), 1, 13) AS BIGINT) % 16"
    )
    qterms = "['spark', 'shuffle', 'window', 'merge']"
    return f"""
            WITH rbase AS (
              SELECT doc_id,
                     COALESCE(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                              x -> x != ''), []) AS toks
              FROM documents
            ), rsized AS (
              SELECT doc_id, toks, len(toks) AS nd FROM rbase
            ), rwins AS (
              SELECT doc_id, toks, nd,
                     unnest(range(0, greatest(nd, 1), 48)) AS start
              FROM rsized
            ), chunks AS (
              SELECT CAST(doc_id * 4096 + (start // 48) AS BIGINT) AS chunk_id,
                     toks[start + 1 : start + 64] AS wtk
              FROM rwins WHERE start = 0 OR start - 48 + 64 < nd
            ), csz AS (
              SELECT chunk_id, wtk, len(wtk) AS n FROM chunks
            ), feat AS (
              SELECT chunk_id,
                     list_transform(range(0, 16), j ->
                       CASE WHEN n > 0
                            THEN CAST(len(list_filter(wtk, t -> {bucket} = j)) AS DOUBLE)
                                 / CAST(n AS DOUBLE)
                            ELSE 0.0 END) AS f
              FROM csz
            ), emb AS (
              SELECT chunk_id,
                     [{proj("f")}] AS v
              FROM feat
            ), qf AS (
              SELECT list_transform(range(0, 16), j ->
                       CAST(len(list_filter({qterms}, t -> {bucket} = j)) AS DOUBLE)
                       / 4.0) AS f
            ), qe AS (
              SELECT [{proj("f")}] AS e FROM qf
            ), d AS (
              SELECT t.i AS i, min(v[t.i]) AS mn, max(v[t.i]) AS mx
              FROM emb, UNNEST(range(1, 9)) AS t(i)
              GROUP BY t.i
            ), b AS (
              SELECT list(mn ORDER BY i) AS mins,
                     list(mx ORDER BY i) AS maxs
              FROM d
            ), scored AS (
              SELECT emb.chunk_id,
                     round(list_sum(list_transform(range(1, 9), i ->
                       CASE WHEN b.maxs[i] = b.mins[i]
                            THEN (qe.e[i] - b.mins[i]) * (qe.e[i] - b.mins[i])
                            ELSE (qe.e[i]
                                  - (b.mins[i]
                                     + floor((v[i] - b.mins[i])
                                             / (b.maxs[i] - b.mins[i]) * 255.0 + 0.5)
                                       * (b.maxs[i] - b.mins[i]) / 255.0))
                               * (qe.e[i]
                                  - (b.mins[i]
                                     + floor((v[i] - b.mins[i])
                                             / (b.maxs[i] - b.mins[i]) * 255.0 + 0.5)
                                       * (b.maxs[i] - b.mins[i]) / 255.0))
                       END)), 6) AS approx_d2,
                     round(list_sum(list_transform(range(1, 9), i ->
                       (v[i] - qe.e[i]) * (v[i] - qe.e[i]))), 6) AS d2
              FROM emb, qe, b
            ), short AS (
              SELECT * FROM scored ORDER BY approx_d2, chunk_id LIMIT 50
            ), sem AS (
              SELECT chunk_id, -d2 AS score
              FROM short ORDER BY d2, chunk_id LIMIT 10
            ), bst AS (
              SELECT CAST(count(*) AS BIGINT) AS ndocs,
                     CAST(sum(n) AS BIGINT) AS sumdl
              FROM csz
            ), occ AS (
              SELECT chunk_id, n AS dl,
                     unnest(list_filter(wtk,
                       x -> x IN ('merge', 'shuffle', 'spark', 'window'))) AS token
              FROM csz
            ), tf AS (
              SELECT chunk_id, token, count(*) AS tf, min(dl) AS dl
              FROM occ GROUP BY chunk_id, token
            ), dft AS (
              SELECT token, CAST(count(*) AS BIGINT) AS dft
              FROM tf GROUP BY token
            ), bms AS (
              SELECT tf.chunk_id,
                     sum(CAST(
                       ln(1.0 + (bst.ndocs - dft.dft + 0.5) / (dft.dft + 0.5))
                       * tf.tf * 2.2
                       / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl
                            / (CAST(bst.sumdl AS DOUBLE) / bst.ndocs)))
                     AS DECIMAL(38,12))) AS s
              FROM tf JOIN dft ON dft.token = tf.token, bst
              GROUP BY tf.chunk_id
            ), bm AS (
              SELECT chunk_id, round(CAST(s AS DOUBLE), 6) AS score
              FROM bms ORDER BY score DESC, chunk_id LIMIT 30
            ), un AS (
              SELECT 'lex' AS list_id, chunk_id AS id, score FROM bm
              UNION ALL
              SELECT 'sem' AS list_id, chunk_id AS id, score FROM sem
            ), rk AS (
              SELECT list_id, id,
                     row_number() OVER (PARTITION BY list_id
                                        ORDER BY score DESC, id) AS rnk
              FROM un
            ), fused AS (
              SELECT id,
                     CAST(count(DISTINCT list_id) AS BIGINT) AS n_lists,
                     sum(CAST(1.0 / (60.0 + rnk) AS DECIMAL(38,12))) AS s
              FROM rk GROUP BY id
            )
            SELECT id,
                   CAST(id // 4096 AS BIGINT) AS doc_id,
                   CAST(id % 4096 AS BIGINT) AS win_id,
                   n_lists,
                   round(CAST(s AS DOUBLE), 6) AS rrf_score
            FROM fused ORDER BY rrf_score DESC, id LIMIT 15
        """


def _exact_quantile_cuts_cte(rel: str, col: str, qs: list[float], names: list[str]) -> str:
    """CTE text ``o, cp, cuts`` replaying binning.exact_quantiles'
    interpolation VERBATIM over explicit order statistics:
    pos = (n-1)*q, lo = floor(pos), hi = min(lo+1, n-1),
    cut = vlo + (vhi-vlo)*frac (exactly vlo when frac = 0).

    DuckDB's quantile_cont is NOT a valid replay: on a cut that lands ON
    a mass point (tied values), its lo*(1-f)+hi*f-shaped arithmetic
    emits lo ± ~1e-18 and any strict comparison against the cut flips
    every row AT the mass point (proven by langid_confident at sf0.1,
    r14). The q literal is CAST AS DOUBLE because DuckDB would otherwise
    parse the repr as DECIMAL(17,16) and compute (n-1)*q in
    DECIMAL(36,16) arithmetic — at n=100, q=1/3 the DECIMAL product is
    32.9999999999999967 while the IEEE product Spark computes is
    33.0000000000000036, so floor() disagrees and the cut lands in a
    DIFFERENT order-statistic interval (r14 ADVICE, verified
    empirically). With the cast, pos/lo/hi/frac match Spark bit-for-bit;
    the interpolation product (vhi-vlo)*frac may still differ at
    FMA/1-ulp level between engines, so callers must either compare
    quantized data (round(6)/2-dp columns, where both cuts sit strictly
    inside the same inter-value gap) or tolerate last-ulp cut skew.
    ``rel`` must be non-empty and ``col`` non-NULL (exact_quantiles
    drops NULLs before ranking)."""
    ps = ",\n                       ".join(
        f"(n - 1) * CAST({q!r} AS DOUBLE) AS p{i}"
        for i, q in enumerate(qs, start=1)
    )
    sels, joins = [], []
    for i, name in enumerate(names, start=1):
        sels.append(
            f"""CASE WHEN cp.p{i} = floor(cp.p{i}) THEN l{i}.v
                         ELSE l{i}.v + (h{i}.v - l{i}.v) * (cp.p{i} - floor(cp.p{i}))
                    END AS {name}"""
        )
        joins.append(
            f"""JOIN o l{i} ON l{i}.r = CAST(floor(cp.p{i}) AS BIGINT)
                JOIN o h{i} ON h{i}.r = least(CAST(floor(cp.p{i}) AS BIGINT)
                    + (CASE WHEN cp.p{i} = floor(cp.p{i}) THEN 0 ELSE 1 END), cp.n - 1)"""
        )
    return f"""o AS (
                SELECT {col} AS v,
                       row_number() OVER (ORDER BY {col}) - 1 AS r
                FROM {rel} WHERE {col} IS NOT NULL
            ), cp AS (
                SELECT n, {ps}
                FROM (SELECT count(*) AS n FROM {rel} WHERE {col} IS NOT NULL)
            ), cuts AS (
                SELECT
                    {",".join(sels)}
                FROM cp
                {" ".join(joins)}
            )"""


def _langid_ctes(n_buckets: int = 1024) -> str:
    """Shared langid CTE body (w, tok, cnt, hits, best, per): the
    lexicon weight relation inlined as VALUES (same Python construction
    as langid_lexicon_weights), then the quality_classifier
    tokenize/bucket replay with a per-(doc, lang) DECIMAL sum and a
    (margin DESC, priority) argmax window. ``per`` carries
    (doc_id, n_tokens, lang_pred, margin) — the langid_classifier
    contract — and is shared by the classifier and calibration oracles
    so the two cannot drift apart."""
    from convml_data_spark.operators.corpus import (
        LANGID_PRIORITY,
        langid_lexicon_counts,
    )

    vals = ", ".join(
        f"({b}, '{lang}', {float(c)!r})"
        for (b, lang), c in sorted(langid_lexicon_counts(n_buckets=n_buckets).items())
    )
    prio = " ".join(
        f"WHEN '{lang}' THEN {i + 1}" for i, lang in enumerate(LANGID_PRIORITY)
    )
    return f"""
            w(bucket, lang, weight) AS (VALUES {vals}),
            tok AS (
                SELECT doc_id,
                       unnest(COALESCE(list_filter(
                           string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                           x -> x != ''), [])) AS t
                FROM documents
            ), cnt AS (
                SELECT doc_id, count(*) AS n_tokens FROM tok GROUP BY doc_id
            ), hits AS (
                SELECT doc_id, lang,
                       SUM(CAST(weight AS DECIMAL(38,12))) AS s
                FROM (
                    SELECT doc_id,
                           CAST('0x' || substr(md5(t), 1, 13) AS BIGINT)
                               % {n_buckets} AS bucket
                    FROM tok
                ) b JOIN w USING (bucket)
                GROUP BY doc_id, lang
            ), best AS (
                SELECT doc_id, lang, s FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY doc_id
                        -- unknown langs: CASE yields NULL (sorts last,
                        -- matching Spark's len(langs)+1); final lang
                        -- tiebreak mirrors the Spark min_by key
                        ORDER BY s DESC, CASE lang {prio} END, lang
                    ) AS rn FROM hits
                ) WHERE rn = 1
            ), per AS (
                SELECT c.doc_id, c.n_tokens,
                       COALESCE(b.lang, '{LANGID_PRIORITY[0]}') AS lang_pred,
                       round(COALESCE(CAST(b.s AS DOUBLE), 0.0) / c.n_tokens, 6)
                           AS margin
                FROM cnt c LEFT JOIN best b USING (doc_id)
            )"""


def _langid_classifier_oracle_sql(n_buckets: int = 1024) -> str:
    """langid_classifier replay — the shared :func:`_langid_ctes` body,
    projected."""
    return f"""
            WITH {_langid_ctes(n_buckets)}
            SELECT doc_id, n_tokens, lang_pred, margin FROM per
        """


def _langid_confident_oracle_sql(
    n_buckets: int = 1024, holdout_mod: int = 5, conf_threshold: float = 0.5
) -> str:
    """langid_confident replay: the shared langid ``per`` relation, then
    corpus.langid_calibrated's calibration head. The margin tercile cuts
    are NOT quantile_cont: margins carry heavy ties (mass points), the
    1/3 cut lands ON one, and DuckDB's quantile_cont interpolation
    (lo*(1-f) + hi*f shape) emits lo + 4e-18 where exact_quantiles'
    ``vlo + (vhi-vlo)*frac`` emits exactly lo — 18 docs flipped buckets
    at sf0.1 (invisible at sf0.01). So the cuts here replay
    exact_quantiles' formula VERBATIM over explicit order statistics
    (pos=(n-1)*q, lo=floor, hi=min(lo+1, n-1), vlo+(vhi-vlo)*frac) —
    bit-identical IEEE in both engines. The lang_guess CASE chain is the
    independent holdout label (lists generated from LANG_STOPWORDS so
    the engines share one lexicon), and the per-bucket agreement rate
    uses explicit IEEE rounding (floor(x*1e6 + 0.5)/1e6 — the
    derived_dag round-tie pattern)."""
    from convml_data_spark.functions.text import LANG_STOPWORDS

    def lst(lang: str) -> str:
        return ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])

    return f"""
            WITH {_langid_ctes(n_buckets)},
            {_exact_quantile_cuts_cte("per", "margin", [1 / 3, 2 / 3], ["c1", "c2"])},
            bkt AS (
                SELECT p.*,
                       CASE WHEN p.margin < c.c1 THEN 'tail'
                            WHEN p.margin < c.c2 THEN 'middle'
                            ELSE 'head' END AS bucket
                FROM per p CROSS JOIN cuts c
            ), lab AS (
                SELECT doc_id,
                       CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                            WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                            WHEN s_fr >= s_es THEN 'fr'
                            ELSE 'es' END AS label
                FROM (
                    SELECT doc_id,
                           CAST(len(list_filter(toks, x -> x IN ({lst('en')}))) AS DOUBLE) / greatest(len(toks), 1) AS s_en,
                           CAST(len(list_filter(toks, x -> x IN ({lst('de')}))) AS DOUBLE) / greatest(len(toks), 1) AS s_de,
                           CAST(len(list_filter(toks, x -> x IN ({lst('fr')}))) AS DOUBLE) / greatest(len(toks), 1) AS s_fr,
                           CAST(len(list_filter(toks, x -> x IN ({lst('es')}))) AS DOUBLE) / greatest(len(toks), 1) AS s_es
                    FROM (
                        SELECT doc_id,
                               COALESCE(list_filter(
                                   string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                   x -> x != ''), []) AS toks
                        FROM documents WHERE doc_id % {holdout_mod} = 0
                    )
                )
            ), calib AS (
                SELECT bucket,
                       floor(1e6 * (SUM(CASE WHEN b.lang_pred = l.label
                                             THEN 1 ELSE 0 END)
                                    / count(*)) + 0.5) / 1e6 AS conf
                FROM bkt b JOIN lab l USING (doc_id)
                WHERE b.doc_id % {holdout_mod} = 0
                GROUP BY bucket
            )
            SELECT b.doc_id, b.n_tokens, b.lang_pred, b.margin, b.bucket,
                   COALESCE(c.conf, 0.0) AS calib_conf,
                   COALESCE(c.conf, 0.0) >= {float(conf_threshold)!r} AS confident
            FROM bkt b LEFT JOIN calib c USING (bucket)
        """


def _blocklist_scan_oracle_sql(
    terms: tuple[str, ...], min_hits: int = 3
) -> str:
    """blocklist_scan replay: the term list inlined as VALUES, corpus
    word n-grams per distinct term width (width-1 = the token list
    itself; width-n = position-zipped space joins, identical strings to
    functions.text.ngrams_from_tokens), one join, per-doc counts, LEFT
    join so zero-hit/zero-token docs keep their row.

    Terms are normalized EXACTLY like the engine (corpus.blocklist_scan
    tokenizes each term and space-rejoins): lowercase + whitespace
    collapse via ``' '.join(t.lower().split())`` — a term with tabs,
    double spaces, or padding must produce the same join key and the
    same width on both sides. Single quotes are SQL-escaped before
    inlining into VALUES (r14 ADVICE: an apostrophe would otherwise
    break the generated SQL)."""
    norm = sorted({" ".join(t.lower().split()) for t in terms})
    widths = sorted({len(t.split()) for t in norm})
    vals = ", ".join("('{}')".format(t.replace("'", "''")) for t in norm)
    gram_parts = []
    for w in widths:
        if w == 1:
            gram_parts.append(
                "SELECT doc_id, unnest(toks) AS term FROM toks"
            )
        else:
            join = " || ' ' || ".join(f"toks[i+{j}]" for j in range(w))
            gram_parts.append(
                f"""SELECT doc_id,
                       unnest(list_transform(
                           generate_series(1, len(toks) - {w - 1}),
                           i -> {join})) AS term
                    FROM toks"""
            )
    grams = " UNION ALL ".join(gram_parts)
    return f"""
            WITH bl(term) AS (VALUES {vals}),
            toks AS (
                SELECT doc_id,
                       COALESCE(list_filter(
                           string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                           x -> x != ''), []) AS toks
                FROM documents
            ), grams AS (
                {grams}
            ), hit AS (
                SELECT g.doc_id, g.term FROM grams g JOIN bl USING (term)
            ), agg AS (
                SELECT doc_id, count(*) AS n_hits,
                       count(DISTINCT term) AS n_terms
                FROM hit GROUP BY doc_id
            )
            SELECT t.doc_id,
                   CAST(len(t.toks) AS BIGINT) AS n_tokens,
                   CAST(COALESCE(a.n_hits, 0) AS BIGINT) AS n_hits,
                   CAST(COALESCE(a.n_terms, 0) AS BIGINT) AS n_terms,
                   COALESCE(a.n_hits, 0) >= {int(min_hits)} AS blocked
            FROM toks t LEFT JOIN agg a USING (doc_id)
        """


def _td_spec_cte() -> str:
    """Shared DuckDB replay of ``_tile_spec()``'s §3.1+§3.2 lifecycle at
    FULL float precision (scene table → R1 split → R2 pairing → R3-R5
    placement → per-scene tile table with unrounded x_c/y_c) — the body of
    the certified spec_triplet_pipeline oracle with the small-spec
    constants (16 triplets, tile_size 96, margin 64, span 1872, radius 96,
    bounds [64, 1936]). Ends with CTEs ``sc`` (scene_id, t) and ``tiles``."""
    return """
            cal AS (
              SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                            TIMESTAMP '2024-01-02',
                                            INTERVAL 1 HOUR)) AS t
            ),
            sc AS (
              SELECT 'td__' || strftime(t, '%Y%m%d%H%M') AS scene_id, t
              FROM cal WHERE t < TIMESTAMP '2024-01-02'
            ),
            u AS (
              SELECT scene_id,
                     CAST(('0x' || substr(md5('42|' || scene_id), 1, 13)) AS BIGINT)
                       / 4503599627370496.0 AS u
              FROM sc
            ),
            r AS (
              SELECT scene_id, row_number() OVER (ORDER BY u, scene_id) - 1 AS rk,
                     count(*) OVER () AS n
              FROM u
            ),
            spl AS (
              SELECT scene_id, rk, CAST(floor(n * 12.0 / 16.0) AS BIGINT) AS cut
              FROM r
            ),
            idx AS (
              SELECT scene_id,
                     CASE WHEN rk < cut THEN 'train' ELSE 'study' END AS collection,
                     rk - CASE WHEN rk < cut THEN 0 ELSE cut END AS i
              FROM spl
            ),
            sz AS (SELECT collection, count(*) AS n FROM idx GROUP BY collection),
            tr AS (
              SELECT CAST(range AS BIGINT) AS triplet_id,
                     CASE WHEN range < 12 THEN 'train' ELSE 'study' END AS collection
              FROM range(16)
            ),
            h AS (
              SELECT t.triplet_id, t.collection, sz.n,
                     CAST(('0x' || substr(md5('42|anchor|' || CAST(t.triplet_id AS VARCHAR)), 1, 13)) AS BIGINT)
                       / 4503599627370496.0 AS ua,
                     CAST(('0x' || substr(md5('42|distant|' || CAST(t.triplet_id AS VARCHAR)), 1, 13)) AS BIGINT)
                       / 4503599627370496.0 AS ud
              FROM tr t JOIN sz ON t.collection = sz.collection
            ),
            hh AS (
              SELECT triplet_id, collection, ai,
                     CASE WHEN d0 >= ai THEN d0 + 1 ELSE d0 END AS di
              FROM (SELECT triplet_id, collection,
                           CAST(floor(ua * n) AS INT) AS ai,
                           CAST(floor(ud * (n - 1)) AS INT) AS d0
                    FROM h)
            ),
            pairs AS (
              SELECT hh.triplet_id, hh.collection,
                     a.scene_id AS anchor_scene, d.scene_id AS distant_scene
              FROM hh
              JOIN idx a ON a.collection = hh.collection AND a.i = hh.ai
              JOIN idx d ON d.collection = hh.collection AND d.i = hh.di
            ),
            anc AS (
              SELECT triplet_id,
                     64.0 + (CAST(('0x' || substr(md5('42|anchor|x|' || CAST(triplet_id AS VARCHAR)), 1, 13)) AS BIGINT)
                               / 4503599627370496.0) * 1872.0 AS x_c,
                     64.0 + (CAST(('0x' || substr(md5('42|anchor|y|' || CAST(triplet_id AS VARCHAR)), 1, 13)) AS BIGINT)
                               / 4503599627370496.0) * 1872.0 AS y_c
              FROM tr
            ),
            dis AS (
              SELECT triplet_id,
                     64.0 + (CAST(('0x' || substr(md5('42|distant|x|' || CAST(triplet_id AS VARCHAR)), 1, 13)) AS BIGINT)
                               / 4503599627370496.0) * 1872.0 AS x_c,
                     64.0 + (CAST(('0x' || substr(md5('42|distant|y|' || CAST(triplet_id AS VARCHAR)), 1, 13)) AS BIGINT)
                               / 4503599627370496.0) * 1872.0 AS y_c
              FROM tr
            ),
            nb AS (
              SELECT triplet_id, x_c, y_c,
                     list_filter(
                       list_transform(range(0, 16), k -> {
                         'x': x_c + 96.0 * cos(6.283185307179586 *
                                (CAST(('0x' || substr(md5('42|neighbor|theta|' || CAST(k AS VARCHAR) || '|' || CAST(triplet_id AS VARCHAR)), 1, 13)) AS BIGINT)
                                 / 4503599627370496.0)),
                         'y': y_c + 96.0 * sin(6.283185307179586 *
                                (CAST(('0x' || substr(md5('42|neighbor|theta|' || CAST(k AS VARCHAR) || '|' || CAST(triplet_id AS VARCHAR)), 1, 13)) AS BIGINT)
                                 / 4503599627370496.0))
                       }),
                       s -> s.x >= 64.0 AND s.x <= 1936.0
                            AND s.y >= 64.0 AND s.y <= 1936.0
                     ) AS valid
              FROM anc
            ),
            locs AS (
              SELECT triplet_id, 'anchor' AS tile_type, x_c, y_c FROM anc
              UNION ALL
              SELECT triplet_id, 'neighbor' AS tile_type,
                     CASE WHEN len(valid) > 0 THEN valid[1].x ELSE x_c END AS x_c,
                     CASE WHEN len(valid) > 0 THEN valid[1].y ELSE y_c END AS y_c
              FROM nb
              UNION ALL
              SELECT triplet_id, 'distant' AS tile_type, x_c, y_c FROM dis
            ),
            tiles AS (
              SELECT l.triplet_id, p.collection, l.tile_type,
                     CASE WHEN l.tile_type IN ('anchor', 'neighbor')
                          THEN p.anchor_scene ELSE p.distant_scene END AS scene_id,
                     l.x_c, l.y_c
              FROM locs l JOIN pairs p USING (triplet_id)
            ),
            tpq AS (
              SELECT t.*, tp.p, tq.q
              FROM tiles t CROSS JOIN range(0, 4) tp(p) CROSS JOIN range(0, 4) tq(q)
            ),
            tsi AS (
              SELECT triplet_id, collection, tile_type, scene_id, p, q,
                     CAST(round((x_c - 48.0 + (p + 0.5) * 24.0) / 25.0) AS INT) AS si,
                     CAST(round((y_c - 48.0 + (q + 0.5) * 24.0) / 25.0) AS INT) AS sj
              FROM tpq
            ),
            tjn AS (
              SELECT t.*, epoch_us(s.t) // 3600000000 AS eh
              FROM tsi t JOIN sc s USING (scene_id)
              WHERE t.si BETWEEN 0 AND 79 AND t.sj BETWEEN 0 AND 79
            )
    """


def _tanh_dim_exprs(in_dim: int, out_dim: int, vec: str = "v", round_to: int = 6) -> list[str]:
    """Per-output-dimension DuckDB replay of batch_embed's tanh(V·W): the
    seeded weight checkpoint inlined as SQL literals (this DuckDB build has
    no tanh(); (e^2x − 1)/(e^2x + 1) agrees with numpy inside round(6))."""
    from convml_data_spark.operators.inference import linear_model_weights

    w = linear_model_weights(in_dim, out_dim)
    out = []
    for j in range(out_dim):
        wj = ", ".join(repr(float(x)) for x in w[:, j])
        s = (
            f"list_sum(list_transform(range(1, {in_dim + 1}), "
            f"k -> {vec}[k] * ([{wj}])[k]))"
        )
        out.append(f"round((exp(2 * ({s})) - 1) / (exp(2 * ({s})) + 1), {round_to})")
    return out


def _dbscan_oracle_sql(eps: float = 0.04, min_pts: int = 5) -> str:
    """Full DuckDB replay of relational DBSCAN over (embedding[1],
    embedding[2]): grid-neighborhood candidate join, core counts,
    transitive closure over core-core edges (min-id labels), deterministic
    min-core-neighbor border assignment. eps² is inlined as the exact
    Python double (a bare 0.0016 would parse as DECIMAL and differ from
    Spark's lit(eps*eps) in the last ulp)."""
    e2 = repr(eps * eps)
    ep = repr(eps)
    return f"""
        WITH RECURSIVE p AS (
          SELECT vec_id AS id,
                 CAST(embedding[1] AS DOUBLE) AS x,
                 CAST(embedding[2] AS DOUBLE) AS y
          FROM embeddings
        ), c AS (
          SELECT *, CAST(floor(x / {ep}) AS BIGINT) AS cx,
                    CAST(floor(y / {ep}) AS BIGINT) AS cy
          FROM p
        ), e AS (
          SELECT a.id AS id_a, b.id AS id_b
          FROM c a JOIN c b
            ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
           AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
           AND a.id != b.id
           AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {e2}
        ), nn AS (
          SELECT id_a, count(*) AS n FROM e GROUP BY id_a
        ), core AS (
          SELECT p.id FROM p LEFT JOIN nn ON p.id = nn.id_a
          WHERE COALESCE(nn.n, 0) + 1 >= {int(min_pts)}
        ), ce AS (
          SELECT e.id_a AS s, e.id_b AS d
          FROM e JOIN core ca ON e.id_a = ca.id JOIN core cb ON e.id_b = cb.id
        ), reach(id, r) AS (
          SELECT id, id FROM core
          UNION
          SELECT reach.id, ce.d FROM reach JOIN ce ON reach.r = ce.s
        ), comp AS (
          SELECT id, min(r) AS label FROM reach GROUP BY id
        ), border AS (
          SELECT e.id_a AS id, arg_min(cl.label, e.id_b) AS label
          FROM e JOIN comp cl ON e.id_b = cl.id
          WHERE e.id_a NOT IN (SELECT id FROM core)
          GROUP BY e.id_a
        )
        SELECT p.id AS vec_id,
               COALESCE(cl.label, b.label, -1) AS label,
               (cl.id IS NOT NULL) AS is_core
        FROM p
        LEFT JOIN comp cl ON p.id = cl.id
        LEFT JOIN border b ON p.id = b.id
    """


def _dbscan_ladder_oracle_sql(
    eps_levels: tuple[float, ...] = (0.02, 0.04), min_pts: int = 5
) -> str:
    """dbscan_eps_ladder replay: the single-eps recursive-CTE closure
    (:func:`_dbscan_oracle_sql`) evaluated at every ladder height and
    UNION ALL-ed with its eps tag — each level independently certifies
    the same grid-join + closure semantics the engine computes from one
    shared edge materialization."""
    parts = [
        f"SELECT vec_id, {float(e)!r} AS eps, label, is_core "
        f"FROM ({_dbscan_oracle_sql(e, min_pts)})"
        for e in eps_levels
    ]
    return " UNION ALL ".join(parts)


def _dbscan_mutual_reach_oracle_sql(
    eps_levels: tuple[float, ...] = (0.02, 0.04),
    min_pts: int = 5,
) -> str:
    """mutual_reachability_ladder replay, one full query per ladder
    height UNION ALL-ed (the _dbscan_ladder_oracle_sql pattern): grid
    join at eps_MAX keeping squared distances, core distance = the
    (min_pts-1)-th smallest neighbor d2 per point (row_number over
    (d2, id_b) — ties at the boundary leave the k-th VALUE unchanged),
    core set = core_d2 <= eps_level², closure over core-core edges with
    d2 <= eps_level² (the mutual-reachability max(d, core_a, core_b) <=
    eps condition collapsed), labels = min core id, non-core = noise -1
    (DBSCAN*, no border attachment). Distance expressions mirror the
    engine's operand order exactly, so core_d2 is bit-identical."""
    eps_max = max(eps_levels)
    em2 = repr(eps_max * eps_max)
    emp = repr(eps_max)
    parts = []
    for eps in eps_levels:
        e2 = repr(float(eps) * float(eps))
        parts.append(f"""
        SELECT * FROM (
        WITH RECURSIVE p AS (
          SELECT vec_id AS id,
                 CAST(embedding[1] AS DOUBLE) AS x,
                 CAST(embedding[2] AS DOUBLE) AS y
          FROM embeddings
        ), c AS (
          SELECT *, CAST(floor(x / {emp}) AS BIGINT) AS cx,
                    CAST(floor(y / {emp}) AS BIGINT) AS cy
          FROM p
        ), e AS (
          SELECT a.id AS id_a, b.id AS id_b,
                 (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
          FROM c a JOIN c b
            ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
           AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
           AND a.id != b.id
           AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
               <= {em2}
        ), cd AS (
          SELECT id_a AS id, d2 AS core_d2 FROM (
            SELECT id_a, id_b, d2,
                   row_number() OVER (PARTITION BY id_a
                                      ORDER BY d2, id_b) AS r
            FROM e)
          WHERE r = {int(min_pts) - 1}
        ), core AS (
          SELECT id FROM cd WHERE core_d2 <= {e2}
        ), ce AS (
          SELECT e.id_a AS s, e.id_b AS d
          FROM e JOIN core ca ON e.id_a = ca.id
                 JOIN core cb ON e.id_b = cb.id
          WHERE e.d2 <= {e2}
        ), reach(id, r) AS (
          SELECT id, id FROM core
          UNION
          SELECT reach.id, ce.d FROM reach JOIN ce ON reach.r = ce.s
        ), comp AS (
          SELECT id, min(r) AS label FROM reach GROUP BY id
        )
        SELECT p.id AS vec_id,
               {float(eps)!r} AS eps,
               cd.core_d2 AS core_d2,
               COALESCE(cl.label, -1) AS label,
               (cl.id IS NOT NULL) AS is_core
        FROM p
        LEFT JOIN cd ON p.id = cd.id
        LEFT JOIN comp cl ON p.id = cl.id
        )""")
    return " UNION ALL ".join(parts)


def _spec_tile_data_oracle_sql() -> str:
    return f"""
        WITH {_td_spec_cte()},
        tv AS (
          SELECT triplet_id, collection, tile_type, scene_id,
                 CAST((eh * 13 + si * 37 + sj * 17) % 101 AS DOUBLE) AS value
          FROM tjn
        )
        SELECT triplet_id, collection, tile_type, scene_id,
               count(*) AS n_px, count(*) = 16 AS shape_ok,
               sum(value) AS sum_val, min(value) AS min_val, max(value) AS max_val,
               round(sum(value) / count(*), 6) AS mean_val
        FROM tv GROUP BY 1, 2, 3, 4
    """


def _spec_analytics_oracle_sql() -> str:
    dims = _tanh_dim_exprs(16, 4)
    arr = ",\n                   ".join(dims)
    return f"""
        WITH {_td_spec_cte()},
        vec AS (
          SELECT triplet_id, tile_type,
                 list(CAST((eh * 13 + si * 37 + sj * 17) % 101 AS DOUBLE) / 101.0
                      ORDER BY q, p) AS v,
                 sum(CAST((eh * 19 + si * 23 + sj * 29) % 97 AS DOUBLE)) / 16.0 AS aux_mean
          FROM tjn GROUP BY 1, 2
        ),
        emb AS (
          SELECT CAST(floor(aux_mean / 8.0) AS BIGINT) AS bin,
                 unnest(range(0, 4)) AS dim,
                 unnest([{arr}]) AS ev
          FROM vec
        )
        SELECT bin, dim, count(*) AS n,
               floor((CAST(sum(CAST(ev AS DECIMAL(18,6))) AS DOUBLE) / count(*))
                     * 1000000 + 0.5) / 1000000 AS mean_emb,
               CAST(sum(CAST(ev AS DECIMAL(18,6))) AS DOUBLE) AS sum_emb,
               true AS pca_ok
        FROM emb GROUP BY 1, 2
    """


def _spec_rect_oracle_sql() -> str:
    dims = _tanh_dim_exprs(16, 4)
    arr = ",\n                   ".join(dims)
    return f"""
        WITH cal AS (
          SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                        TIMESTAMP '2024-01-02',
                                        INTERVAL 2 HOUR)) AS t
        ),
        sc AS (
          SELECT 're__' || strftime(t, '%Y%m%d%H%M') AS scene_id, t
          FROM cal WHERE t < TIMESTAMP '2024-01-02'
        ),
        grid AS (
          SELECT CAST((tj.j0 // 4) * 4 + (ti.i0 // 4) AS BIGINT) AS tile_id,
                 ti.i0, tj.j0
          FROM range(0, 13, 4) ti(i0) CROSS JOIN range(0, 13, 4) tj(j0)
        ),
        px AS (
          SELECT scene_id, ti.i, tj.j,
                 CAST((epoch_us(t) // 3600000000 * 13 + ti.i * 37 + tj.j * 17) % 101
                      AS DOUBLE) AS value
          FROM sc CROSS JOIN range(0, 16) ti(i) CROSS JOIN range(0, 16) tj(j)
        ),
        tp AS (
          SELECT p.scene_id, g.tile_id, g.i0, g.j0, p.i, p.j, p.value
          FROM px p JOIN grid g
            ON p.i >= g.i0 AND p.i < g.i0 + 4 AND p.j >= g.j0 AND p.j < g.j0 + 4
        ),
        vec AS (
          SELECT scene_id, tile_id, i0, j0,
                 list(value / 101.0 ORDER BY j, i) AS v
          FROM tp GROUP BY 1, 2, 3, 4
        ),
        emb AS (
          SELECT scene_id, tile_id, i0, j0,
                 unnest(range(0, 4)) AS dim,
                 unnest([{arr}]) AS v
          FROM vec
        )
        SELECT scene_id, tile_id, i0, j0,
               i0 * 20.0 AS x, (16 - j0) * 20.0 AS y, dim, v
        FROM emb
    """


def _gopher_ladder_oracle() -> str:
    """DuckDB twin of corpus.gopher_repetition_ladder — the 11-signal SQL
    is mechanical, so it is generated from the same cap tables the
    operator uses (any cap/ladder edit changes both sides together)."""
    from convml_data_spark.operators.corpus import (
        GOPHER_DUP_LINE_CAP,
        GOPHER_DUP_NGRAM_CAPS,
        GOPHER_DUP_PARA_CAP,
        GOPHER_TOP_NGRAM_CAPS,
    )

    def gram(n: int) -> str:
        joined = " || ' ' || ".join(f"w[i+{k}]" if k else "w[i]" for k in range(n))
        return (
            f"list_transform(range(1, greatest(len(w) - {n - 1}, 0) + 1), "
            f"i -> {joined})"
        )

    g_defs, raw_defs, out_cols, conds = [], [], [], []
    for n, cap in GOPHER_TOP_NGRAM_CAPS.items():
        g_defs.append(f"{gram(n)} AS g{n}")
        raw_defs.append(
            f"CASE WHEN len(g{n}) = 0 THEN 0.0 ELSE "
            f"list_max(list_transform(list_distinct(g{n}), "
            f"x -> len(list_filter(g{n}, y -> y = x)))) / len(g{n}) END "
            f"AS top{n}"
        )
        out_cols.append(f"round(top{n}, 6) AS top_{n}gram_frac")
        conds.append(f"top{n} <= {cap}")
    for n, cap in GOPHER_DUP_NGRAM_CAPS.items():
        g_defs.append(f"{gram(n)} AS g{n}")
        raw_defs.append(
            f"CASE WHEN len(g{n}) = 0 THEN 0.0 ELSE "
            f"1.0 - len(list_distinct(g{n})) / len(g{n}) END AS dup{n}"
        )
        out_cols.append(f"round(dup{n}, 6) AS dup_{n}gram_frac")
        conds.append(f"dup{n} <= {cap}")
    for name, splitter, cap in (
        ("dup_line_frac", "chr(10)", GOPHER_DUP_LINE_CAP),
        ("dup_para_frac", "chr(10) || chr(10)", GOPHER_DUP_PARA_CAP),
    ):
        # coalesce(text, '') mirrors the engine's NULL-text-as-empty-doc
        # convention (tokens() coalesce)
        arr = f"list_filter(string_split(coalesce(text, ''), {splitter}), x -> x != '')"
        raw_defs.append(
            f"CASE WHEN len({arr}) = 0 THEN 0.0 ELSE "
            f"1.0 - len(list_distinct({arr})) / len({arr}) END AS {name}_raw"
        )
        out_cols.append(f"round({name}_raw, 6) AS {name}")
        conds.append(f"{name}_raw <= {cap}")
    return f"""
        WITH t AS (
          SELECT doc_id, text,
                 list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x != '') AS w
          FROM documents
        ), g AS (
          SELECT doc_id, text, w, {", ".join(g_defs)} FROM t
        ), r AS (
          SELECT doc_id, {", ".join(raw_defs)} FROM g
        )
        SELECT doc_id, {", ".join(out_cols)},
               ({" AND ".join(conds)}) AS pass_repetition
        FROM r
    """


def oracle_sql() -> dict[str, str]:
    event_pivot_cols = ",\n      ".join(
        f"min(CASE WHEN event_type = '{et}' THEN fn END) AS {et}" for et in EVENT_TYPES
    )
    not_null = " AND ".join(f"{et} IS NOT NULL" for et in EVENT_TYPES)
    quantiles_union = "\nUNION ALL\n".join(
        f"SELECT {k}/10.0 AS q, round(quantile_cont(l_extendedprice, {k}/10.0), 6) AS boundary FROM lineitem"
        for k in range(11)
    )
    # MinHash affine params: replay of dedup._hash_params(8, seed=42)
    # (random.Random(42) is version-stable for randrange on a fixed bound).
    import random as _random

    _p61 = (1 << 61) - 1
    _rng = _random.Random(42)
    _mh = [(_rng.randrange(1, _p61), _rng.randrange(0, _p61)) for _ in range(8)]
    minhash_terms = ",\n                     ".join(
        f"CAST((CAST({a} AS HUGEINT)*x + {b}) % {_p61} AS BIGINT) AS t{i}"
        for i, (a, b) in enumerate(_mh)
    )
    minhash_aggs = ", ".join(f"min(t{i}) AS h{i}" for i in range(8))
    minhash_arr = ", ".join(f"h{i}" for i in range(8))

    # incremental_sig_dedup replay (8 hashes, 4 bands of 2): full-band
    # collision + component-agreement fraction, both pure sig arithmetic
    def _band_match(x: str, y: str) -> str:
        return " OR ".join(
            f"({x}.h{2 * b} = {y}.h{2 * b} AND {x}.h{2 * b + 1} = {y}.h{2 * b + 1})"
            for b in range(4)
        )

    def _sig_agree(x: str, y: str) -> str:
        return (
            "(" + " + ".join(f"CAST({x}.h{i} = {y}.h{i} AS INT)" for i in range(8))
            + ") / 8.0"
        )
    simhash_bitsums = ",\n                     ".join(
        f"sum((h >> {b}) & 1) AS b{b}" for b in range(60)
    )
    simhash_fp = "\n                 | ".join(
        f"(CASE WHEN 2*b{b} > n THEN 1::BIGINT << {b} ELSE 0 END)" for b in range(60)
    )
    # GPT-2-ish pre-tokenizer pattern as a DuckDB string literal (the
    # leading apostrophe of the contraction branch needs doubling)
    bpe_pat_sql = "'" + T.BPE_PIECE_PATTERN.replace("'", "''") + "'"
    return {
        "s3_calendar_scan": """
            SELECT t, '/data/era5/' || strftime(t, '%Y/%m/%d/era5_an_ml_%Y%m%d%H%M.nc') AS path
            FROM (SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-31', INTERVAL 1 HOUR)) AS t)
            WHERE t < TIMESTAMP '2024-01-31'
        """,
        "s5_calendar_offset_missing": """
            SELECT t + INTERVAL 30 MINUTE AS t
            FROM (SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-31', INTERVAL 1 HOUR)) AS t)
            WHERE t < TIMESTAMP '2024-01-31'
              AND t + INTERVAL 30 MINUTE NOT IN (
                TIMESTAMP '2024-01-03 05:30:00', TIMESTAMP '2024-01-10 12:30:00', TIMESTAMP '2024-01-20 00:30:00')
        """,
        "s4_era5_manifest": """
            WITH cal AS (
              SELECT unnest(generate_series(TIMESTAMP '2020-01-28', TIMESTAMP '2020-02-03', INTERVAL 1 HOUR)) AS t
            ), g AS (
              SELECT t, unnest(['sst','lnsp','z','u','v','t','q']) AS var
              FROM cal WHERE t < TIMESTAMP '2020-02-03'
            ), x AS (
              SELECT var, t, CASE WHEN var = 'sst' THEN 'sfc' ELSE 'ml' END AS lvl FROM g
            )
            SELECT var, t,
                   'ecmwf-era5_oper_an_' || lvl || '_' || strftime(t, '%Y%m%d%H%M') || '.' || var || '.nc' AS filename,
                   '/badc/ecmwf-era5/data/oper/an_' || lvl || '/' || strftime(t, '%Y/%m/%d')
                     || '/ecmwf-era5_oper_an_' || lvl || '_' || strftime(t, '%Y%m%d%H%M') || '.' || var || '.nc' AS remote_path
            FROM x
        """,
        "s6_ceres_manifest": """
            WITH cal AS (
              SELECT unnest(generate_series(TIMESTAMP '2018-12-17', TIMESTAMP '2018-12-20', INTERVAL 1 HOUR)) AS h
            ), sats AS (
              SELECT * FROM (VALUES ('goes16n', 'GOE16_NH', INTERVAL 30 MINUTE),
                                    ('meteosat9n', 'MET09_NH', INTERVAL 0 MINUTE)) s(satellite, platform_id, off)
            ), g AS (
              SELECT satellite, platform_id, h + off AS t
              FROM cal CROSS JOIN sats
              WHERE h < TIMESTAMP '2018-12-20' AND h + off < TIMESTAMP '2018-12-20'
                AND NOT (satellite = 'goes16n' AND h + off = TIMESTAMP '2018-12-18 16:30:00')
            )
            SELECT satellite, t,
                   strftime(t, '%Y%m%d%H%M') || '__' || satellite || '.nc' AS filename,
                   platform_id,
                   'https://asdc.larc.nasa.gov/data/CERES/GEO/Edition4/' || platform_id || '_V01.2/'
                     || strftime(t, '%Y') || '/' || strftime(t, '%j') || '/CER_GEO_Ed4_' || platform_id
                     || '_V01.2_' || strftime(t, '%Y') || '.' || strftime(t, '%j') || '.'
                     || strftime(t, '%H%M') || '.06K.nc' AS url
            FROM g
        """,
        "s2_goes16_query": """
            WITH cal AS (
              SELECT unnest(generate_series(TIMESTAMP '2020-02-01 00:00:00', TIMESTAMP '2020-02-01 06:00:00', INTERVAL 10 MINUTE)) AS t
            ), kk AS (
              SELECT t, ch, strftime(t, '%Y%j%H%M%S') AS stamp, strftime(t, '%j') AS doy
              FROM cal CROSS JOIN (SELECT unnest([1, 2, 3]) AS ch)
              WHERE t < TIMESTAMP '2020-02-01 06:00:00'
            ), k AS (
              SELECT t, ch,
                     'ABI-L1b-RadF/' || strftime(t, '%Y') || '/' || doy || '/' || strftime(t, '%H')
                       || '/OR_ABI-L1b-RadF-M6C' || lpad(CAST(ch AS VARCHAR), 2, '0') || '_G16_s'
                       || stamp || '0_e' || stamp || '0_c' || stamp || '0.nc' AS key
              FROM kk
            ), q AS (
              SELECT unnest([TIMESTAMP '2020-02-01 01:05:00',
                             TIMESTAMP '2020-02-01 03:30:00',
                             TIMESTAMP '2020-02-01 05:55:00']) AS query_time
            )
            SELECT q.query_time, k.t AS start_time, CAST(k.ch AS INT) AS channel, k.key
            FROM k JOIN q
              ON k.t >= q.query_time - INTERVAL 20 MINUTE
             AND k.t <= q.query_time + INTERVAL 20 MINUTE
        """,
        "scene_table": f"""
            WITH f AS (
              SELECT date_trunc('hour', ts) AS t, event_type,
                     'evt_' || lpad(CAST(event_id AS VARCHAR), 10, '0') AS fn
              FROM events
            ), p AS (
              SELECT t,
      {event_pivot_cols}
              FROM f GROUP BY t
            )
            SELECT 'events__' || strftime(t, '%Y%m%d%H%M') AS scene_id, t,
                   {', '.join(EVENT_TYPES)}
            FROM p WHERE {not_null}
        """,
        "f1_time_intervals": """
            SELECT event_id, ts, event_type FROM events
            WHERE (ts BETWEEN TIMESTAMP '2024-01-03' AND TIMESTAMP '2024-01-06')
               OR (ts BETWEEN TIMESTAMP '2024-01-20 12:00:00' AND TIMESTAMP '2024-01-22 06:00:00')
        """,
        "f2_datetime_components": """
            SELECT event_id, ts FROM events
            WHERE CAST(hour(ts) AS INT) IN (0, 6, 12, 18)
              AND CAST(minute(ts) AS INT) IN (0,1,2,3,4,5,6,7,8,9,10,11,12,13,14)
        """,
        "f3_solar_zenith": """
            WITH s AS (
              SELECT event_id, ts,
                     CAST(hour(ts)*3600 + minute(ts)*60 + second(ts) AS DOUBLE) AS sec
              FROM events
            )
            SELECT event_id, ts FROM s
            WHERE least(abs(sec - (((12.0 - (-59.43)/15.0) % 24.0) * 3600.0)),
                        86400.0 - abs(sec - (((12.0 - (-59.43)/15.0) % 24.0) * 3600.0))) <= 3600.0
        """,
        "f5_regex_filter": """
            SELECT doc_id, source FROM documents WHERE regexp_matches(source, '^src1[0-9]$')
        """,
        "f6_filter_dsl": """
            SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
            WHERE l_quantity < 10 AND l_discount >= 0.05 AND l_returnflag = 'R'
        """,
        # strict > against an exact_quantiles cut: replay the
        # interpolation verbatim (quantile_cont's ulp noise on a tied
        # cut would flip boundary rows — the langid_confident hazard)
        "f7_percentile_filter": f"""
            WITH {_exact_quantile_cuts_cte("lineitem", "l_extendedprice", [0.95], ["c1"])}
            SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
            WHERE l_extendedprice > (SELECT c1 FROM cuts)
        """,
        "f9_lon_wrap": """
            WITH w AS (
              SELECT event_id, round(((value * 37.0 + 180.0) % 360.0 + 360.0) % 360.0 - 180.0, 6) AS lon
              FROM events
            )
            SELECT event_id, lon FROM w WHERE lon BETWEEN -60.0 AND -30.0
        """,
        "j2_asof_single": """
            WITH aux AS (SELECT event_id AS aux_event_id, ts AS t_aux FROM events WHERE event_type = 'error'),
                 sc AS (SELECT event_id AS scene_event_id, ts AS scene_t FROM events WHERE event_type = 'click'),
                 j AS (
                   SELECT a.aux_event_id, a.t_aux, s.scene_event_id, s.scene_t,
                          abs(epoch_us(a.t_aux) - epoch_us(s.scene_t)) AS adt_us,
                          row_number() OVER (
                            PARTITION BY a.aux_event_id
                            ORDER BY abs(epoch_us(a.t_aux) - epoch_us(s.scene_t)), s.scene_t,
                                     CASE WHEN s.scene_t <= a.t_aux THEN -s.scene_event_id ELSE s.scene_event_id END
                          ) AS rn
                   FROM aux a JOIN sc s
                     ON abs(epoch_us(a.t_aux) - epoch_us(s.scene_t)) / 1e6 <= 1800.0
                 )
            SELECT aux_event_id, t_aux, scene_event_id, scene_t, round(adt_us/1e6, 6) AS dt_seconds
            FROM j WHERE rn = 1
        """,
        "j3_asof_all_within": """
            WITH aux AS (SELECT event_id AS aux_event_id, ts AS t_aux FROM events WHERE event_type = 'purchase' AND user_id % 41 = 0),
                 sc AS (SELECT event_id AS scene_event_id, ts AS scene_t FROM events WHERE event_type = 'view'),
                 gaps AS (SELECT epoch_us(t_aux) - lag(epoch_us(t_aux)) OVER (ORDER BY t_aux) AS g FROM aux),
                 tol AS (SELECT (min(g)/1e6)/2.0 AS tol_s FROM gaps WHERE g IS NOT NULL),
                 j AS (
                   SELECT s.scene_event_id, s.scene_t, a.aux_event_id, a.t_aux,
                          abs(epoch_us(s.scene_t) - epoch_us(a.t_aux)) AS adt_us,
                          row_number() OVER (
                            PARTITION BY s.scene_event_id
                            ORDER BY abs(epoch_us(s.scene_t) - epoch_us(a.t_aux)), a.t_aux,
                                     CASE WHEN a.t_aux <= s.scene_t THEN -a.aux_event_id ELSE a.aux_event_id END
                          ) AS rn
                   FROM sc s, tol, aux a
                   WHERE abs(epoch_us(s.scene_t) - epoch_us(a.t_aux)) / 1e6 <= tol.tol_s
                 )
            SELECT scene_event_id, scene_t, aux_event_id, t_aux, round(adt_us/1e6, 6) AS dt_seconds
            FROM j WHERE rn = 1
        """,
        "j5_semi_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        """,
        "u3_anti_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        """,
        "u1_union_by_name": """
            SELECT 'customer' AS kind, c_custkey AS key, c_name AS name, c_acctbal AS acctbal, c_mktsegment AS mktsegment FROM customer
            UNION ALL
            SELECT 'supplier' AS kind, s_suppkey AS key, s_name AS name, s_acctbal AS acctbal, NULL AS mktsegment FROM supplier
        """,
        "o3_distinct": "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
        "o4_topk": """
            SELECT event_id, round(value, 6) AS value FROM events
            ORDER BY round(value, 6) DESC, event_id LIMIT 20
        """,
        "a1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(CAST(sum(CAST(l_quantity AS DECIMAL(15,2))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_qty,
                   CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_base_price,
                   CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2)) * CAST(1 - CAST(l_discount AS DECIMAL(9,4)) AS DECIMAL(9,4))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_disc_price,
                   CAST(CAST(sum((CAST(l_extendedprice AS DECIMAL(15,2)) * CAST(1 - CAST(l_discount AS DECIMAL(9,4)) AS DECIMAL(9,4))) * CAST(1 + CAST(l_tax AS DECIMAL(9,4)) AS DECIMAL(9,4))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_charge,
                   round(CAST(sum(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) / count(*), 6) AS avg_price,
                   round(CAST(sum(CAST(l_discount AS DECIMAL(9,4))) AS DOUBLE) / count(*), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": """
            SELECT o_orderkey, o_orderdate,
                   CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2)) *
                        CAST(1 - CAST(l_discount AS DECIMAL(9,4)) AS DECIMAL(9,4))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING' AND l_shipdate > TIMESTAMP '1997-01-01'
            GROUP BY o_orderkey, o_orderdate
            ORDER BY revenue DESC, o_orderkey
            LIMIT 20
        """,
        "a3_min_spacing": """
            WITH g AS (
              SELECT event_type,
                     epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY ts) AS gap_us
              FROM events
            )
            SELECT event_type, min(gap_us) AS min_gap_us FROM g WHERE gap_us IS NOT NULL GROUP BY event_type
        """,
        "a4_binned_1d": """
            WITH b AS (
              SELECT CAST(floor((l_extendedprice - 0.0) / 5000.0) AS INT) AS bin,
                     CAST(l_quantity AS DECIMAL(15,2)) AS qty_dec, l_quantity
              FROM lineitem
              WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)
                AND l_extendedprice >= 0.0 AND l_extendedprice < 120000.0
                AND CAST(floor((l_extendedprice - 0.0) / 5000.0) AS INT)
                    BETWEEN 0 AND 23
            )
            SELECT bin, round(0.0 + bin * 5000.0, 6) AS bin_lo,
                   count(qty_dec) AS count,
                   CAST(min(qty_dec) AS DOUBLE) AS min_qty,
                   CAST(max(qty_dec) AS DOUBLE) AS max_qty,
                   CAST(sum(qty_dec) AS DOUBLE) AS sum_qty,
                   round(CAST(sum(qty_dec) AS DOUBLE) / count(qty_dec), 6) AS mean_qty
            FROM b GROUP BY bin
        """,
        "a5_binned_2d": """
            WITH b AS (
              SELECT CAST(floor(l_extendedprice / 20000.0) AS INT) AS xbin,
                     CAST(floor(l_discount / 0.02) AS INT) AS ybin,
                     l_quantity, CAST(l_quantity AS DECIMAL(15,2)) AS qty_dec
              FROM lineitem
              WHERE l_quantity IS NOT NULL AND NOT isnan(l_quantity)
                AND abs(l_quantity) != CAST('infinity' AS DOUBLE)
                AND l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)
                AND abs(l_extendedprice) != CAST('infinity' AS DOUBLE)
                AND l_discount IS NOT NULL AND NOT isnan(l_discount)
                AND abs(l_discount) != CAST('infinity' AS DOUBLE)
            )
            SELECT xbin, ybin, count(l_quantity) AS count,
                   min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
                   round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
                   round(CAST(sum(qty_dec) AS DOUBLE) / count(l_quantity), 6) AS mean_qty
            FROM b GROUP BY xbin, ybin HAVING count(l_quantity) > 5
        """,
        "a6_ecdf": """
            SELECT event_type, event_id,
                   round(cume_dist() OVER (PARTITION BY event_type ORDER BY value), 6) AS ecdf
            FROM events
        """,
        "a6_ecdf_global": """
            SELECT event_id, round(cume_dist() OVER (ORDER BY value), 6) AS ecdf
            FROM events
        """,
        "a7_equidepth": quantiles_union,
        "s8_partitioned_sink": """
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   count(*) AS n_rows,
                   count(DISTINCT event_id) AS n_events,
                   round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6)
                       + 0.0 AS sum_value
            FROM events GROUP BY 1
        """,
        "a8_daily_counts": """
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, count(*) AS n
            FROM events GROUP BY 1, 2
        """,
        "stream_stream_join": """
            SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
                   c.ts AS c_ts, p.ts AS p_ts
            FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
            JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
              ON c.user_id = p.user_id
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        """,
        "stream_static_join": """
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
                   event_type,
                   CAST(CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
                        WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
                        ELSE 4 END AS BIGINT) AS priority,
                   count(*) AS n
            FROM events GROUP BY 1, 2, 3
        """,
        "a10_column_integral": """
            WITH d AS (
              SELECT l_orderkey,
                     CAST(l_quantity AS DECIMAL(15,2)) *
                     (CAST(l_extendedprice AS DECIMAL(16,2)) -
                      lag(CAST(l_extendedprice AS DECIMAL(16,2))) OVER (
                        PARTITION BY l_orderkey
                        ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice)) AS qdp
              FROM lineitem
            )
            SELECT l_orderkey, round(CAST(sum(qdp) AS DOUBLE), 6) AS integral
            FROM d WHERE qdp IS NOT NULL GROUP BY l_orderkey
        """,
        "f4_traj_snap": """
            WITH traj AS (SELECT ts AS t_traj FROM events WHERE event_type = 'purchase'),
                 sc AS (SELECT event_id AS scene_event_id, ts AS t_scene FROM events WHERE event_type = 'click'),
                 j AS (
                   SELECT t.t_traj, s.scene_event_id,
                          row_number() OVER (
                            PARTITION BY t.t_traj
                            ORDER BY abs(epoch_us(t.t_traj) - epoch_us(s.t_scene)), s.t_scene,
                                     CASE WHEN s.t_scene <= t.t_traj THEN -s.scene_event_id ELSE s.scene_event_id END
                          ) AS rn
                   FROM traj t CROSS JOIN sc s
                 )
            SELECT DISTINCT scene_event_id FROM j WHERE rn = 1
        """,
        "traj_tiles": """
            WITH traj AS (
              SELECT DISTINCT ts AS t_traj FROM events WHERE event_type = 'purchase'
            ),
            t2 AS (
              SELECT t_traj,
                     CAST(row_number() OVER (ORDER BY t_traj) - 1 AS BIGINT) AS time_idx,
                     CAST(epoch_us(t_traj) // 1000000 % 140 - 70 AS DOUBLE) AS lat,
                     CAST(epoch_us(t_traj) // 1000000 % 360 - 180 AS DOUBLE) AS lon
              FROM traj
            ),
            sc AS (
              SELECT event_id AS scene_id, ts AS t_scene
              FROM events WHERE event_type = 'click'
            ),
            j AS (
              SELECT s.scene_id, t.t_traj, t.time_idx, t.lat, t.lon,
                     row_number() OVER (
                       PARTITION BY s.scene_id
                       ORDER BY abs(epoch_us(s.t_scene) - epoch_us(t.t_traj)), t.t_traj
                     ) AS rn
              FROM sc s CROSS JOIN t2 t
            )
            SELECT scene_id, t_traj, time_idx,
                   lat AS central_latitude, lon AS central_longitude,
                   CAST(64000.0 AS DOUBLE) AS size
            FROM j WHERE rn = 1
        """,
        "spec_triplet_pipeline": """
            WITH cal AS (
              SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                            TIMESTAMP '2024-01-03',
                                            INTERVAL 1 HOUR)) AS t
            ),
            sc AS (
              SELECT 'specdemo__' || strftime(t, '%Y%m%d%H%M') AS scene_id
              FROM cal WHERE t < TIMESTAMP '2024-01-03'
            ),
            u AS (
              SELECT scene_id,
                     CAST(('0x' || substr(md5('42|' || scene_id), 1, 13)) AS BIGINT)
                       / 4503599627370496.0 AS u
              FROM sc
            ),
            r AS (
              SELECT scene_id, row_number() OVER (ORDER BY u, scene_id) - 1 AS rk,
                     count(*) OVER () AS n
              FROM u
            ),
            spl AS (
              SELECT scene_id, rk, CAST(floor(n * 30.0 / 40.0) AS BIGINT) AS cut
              FROM r
            ),
            idx AS (
              SELECT scene_id,
                     CASE WHEN rk < cut THEN 'train' ELSE 'study' END AS collection,
                     rk - CASE WHEN rk < cut THEN 0 ELSE cut END AS i
              FROM spl
            ),
            sz AS (SELECT collection, count(*) AS n FROM idx GROUP BY collection),
            tr AS (
              SELECT CAST(range AS BIGINT) AS triplet_id,
                     CASE WHEN range < 30 THEN 'train' ELSE 'study' END AS collection
              FROM range(40)
            ),
            h AS (
              SELECT t.triplet_id, t.collection, sz.n,
                     CAST(('0x' || substr(md5('42|anchor|' || CAST(t.triplet_id AS VARCHAR)), 1, 13)) AS BIGINT)
                       / 4503599627370496.0 AS ua,
                     CAST(('0x' || substr(md5('42|distant|' || CAST(t.triplet_id AS VARCHAR)), 1, 13)) AS BIGINT)
                       / 4503599627370496.0 AS ud
              FROM tr t JOIN sz ON t.collection = sz.collection
            ),
            hh AS (
              SELECT triplet_id, collection, ai,
                     CASE WHEN d0 >= ai THEN d0 + 1 ELSE d0 END AS di
              FROM (SELECT triplet_id, collection,
                           CAST(floor(ua * n) AS INT) AS ai,
                           CAST(floor(ud * (n - 1)) AS INT) AS d0
                    FROM h)
            ),
            pairs AS (
              SELECT hh.triplet_id, hh.collection,
                     a.scene_id AS anchor_scene, d.scene_id AS distant_scene
              FROM hh
              JOIN idx a ON a.collection = hh.collection AND a.i = hh.ai
              JOIN idx d ON d.collection = hh.collection AND d.i = hh.di
            ),
            anc AS (
              SELECT triplet_id,
                     1024.0 + (CAST(('0x' || substr(md5('42|anchor|x|' || CAST(triplet_id AS VARCHAR)), 1, 13)) AS BIGINT)
                               / 4503599627370496.0) * 17952.0 AS x_c,
                     1024.0 + (CAST(('0x' || substr(md5('42|anchor|y|' || CAST(triplet_id AS VARCHAR)), 1, 13)) AS BIGINT)
                               / 4503599627370496.0) * 17952.0 AS y_c
              FROM tr
            ),
            dis AS (
              SELECT triplet_id,
                     1024.0 + (CAST(('0x' || substr(md5('42|distant|x|' || CAST(triplet_id AS VARCHAR)), 1, 13)) AS BIGINT)
                               / 4503599627370496.0) * 17952.0 AS x_c,
                     1024.0 + (CAST(('0x' || substr(md5('42|distant|y|' || CAST(triplet_id AS VARCHAR)), 1, 13)) AS BIGINT)
                               / 4503599627370496.0) * 17952.0 AS y_c
              FROM tr
            ),
            nb AS (
              SELECT triplet_id, x_c, y_c,
                     list_filter(
                       list_transform(range(0, 16), k -> {
                         'x': x_c + 1536.0 * cos(6.283185307179586 *
                                (CAST(('0x' || substr(md5('42|neighbor|theta|' || CAST(k AS VARCHAR) || '|' || CAST(triplet_id AS VARCHAR)), 1, 13)) AS BIGINT)
                                 / 4503599627370496.0)),
                         'y': y_c + 1536.0 * sin(6.283185307179586 *
                                (CAST(('0x' || substr(md5('42|neighbor|theta|' || CAST(k AS VARCHAR) || '|' || CAST(triplet_id AS VARCHAR)), 1, 13)) AS BIGINT)
                                 / 4503599627370496.0))
                       }),
                       s -> s.x >= 1024.0 AND s.x <= 18976.0
                            AND s.y >= 1024.0 AND s.y <= 18976.0
                     ) AS valid
              FROM anc
            ),
            locs AS (
              SELECT triplet_id, 'anchor' AS tile_type, x_c, y_c FROM anc
              UNION ALL
              SELECT triplet_id, 'neighbor' AS tile_type,
                     CASE WHEN len(valid) > 0 THEN valid[1].x ELSE x_c END AS x_c,
                     CASE WHEN len(valid) > 0 THEN valid[1].y ELSE y_c END AS y_c
              FROM nb
              UNION ALL
              SELECT triplet_id, 'distant' AS tile_type, x_c, y_c FROM dis
            )
            SELECT l.triplet_id, p.collection, l.tile_type,
                   CASE WHEN l.tile_type IN ('anchor', 'neighbor')
                        THEN p.anchor_scene ELSE p.distant_scene END AS scene_id,
                   round(l.x_c, 6) AS x_c, round(l.y_c, 6) AS y_c,
                   CAST(1536.0 AS DOUBLE) AS tile_size
            FROM locs l JOIN pairs p USING (triplet_id)
        """,
        "emb_transform_dbscan": _dbscan_oracle_sql(),
        "spec_aux_derived": """
            WITH cal AS (
              SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                            TIMESTAMP '2024-01-02',
                                            INTERVAL 1 HOUR)) AS t
            ),
            sc AS (
              SELECT 'ax__' || strftime(t, '%Y%m%d%H%M') AS scene_id, t
              FROM cal WHERE t < TIMESTAMP '2024-01-02'
            ),
            at AS (
              SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                            TIMESTAMP '2024-01-01 21:00:00',
                                            INTERVAL 3 HOUR)) AS t_aux
            ),
            m AS (
              SELECT scene_id, t_aux,
                     row_number() OVER (
                       PARTITION BY scene_id
                       ORDER BY abs(epoch_us(t) - epoch_us(t_aux)), t_aux
                     ) AS rn
              FROM sc CROSS JOIN at
              WHERE abs(epoch_us(t) - epoch_us(t_aux)) <= 5400000000
            ),
            prof AS (
              SELECT t_aux, l.level,
                     CAST((epoch_us(t_aux) // 3600000000 * 7 + l.level * 3) % 13 - 6
                          AS DOUBLE) AS u,
                     CAST((epoch_us(t_aux) // 3600000000 * 5 + l.level * 2) % 11 - 5
                          AS DOUBLE) AS v
              FROM at CROSS JOIN range(0, 40) l(level)
            )
            SELECT m.scene_id, m.t_aux, p.level, p.u, p.v,
                   round(sqrt(p.u * p.u + p.v * p.v), 6) AS umag
            FROM m JOIN prof p USING (t_aux)
            WHERE m.rn = 1
        """,
        "spec_tile_data": _spec_tile_data_oracle_sql(),
        "spec_analytics_pipeline": _spec_analytics_oracle_sql(),
        "spec_curation_pipeline": _spec_curation_oracle_sql(),
        "spec_rag_pipeline": _spec_rag_oracle_sql(),
        "spec_rect_embeddings": _spec_rect_oracle_sql(),
        "spec_regridded_scenes": """
            WITH cal AS (
              SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                            TIMESTAMP '2024-01-02',
                                            INTERVAL 1 HOUR)) AS t
            ),
            sc AS (
              SELECT 'rg__' || strftime(t, '%Y%m%d%H%M') AS scene_id, t
              FROM cal WHERE t < TIMESTAMP '2024-01-02'
            ),
            px AS (
              SELECT scene_id,
                     ti.i * 7.0 AS x, tj.j * 7.0 AS y,
                     CAST((epoch_us(t) // 3600000000 * 13 + ti.i * 37 + tj.j * 17) % 101
                          AS DOUBLE) AS value
              FROM sc CROSS JOIN range(0, 24) ti(i) CROSS JOIN range(0, 24) tj(j)
            ),
            cand AS (
              SELECT *, CAST(round(x / 10.0) AS INT) AS ix,
                        CAST(round(y / 10.0) AS INT) AS iy
              FROM px
            ),
            d AS (
              SELECT scene_id, ix, iy, x, y, value,
                     (x - ix * 10.0) * (x - ix * 10.0)
                     + (y - iy * 10.0) * (y - iy * 10.0) AS d2
              FROM cand WHERE ix BETWEEN 0 AND 19 AND iy BETWEEN 0 AND 19
            ),
            rr AS (
              SELECT *, row_number() OVER (
                          PARTITION BY scene_id, ix, iy ORDER BY d2, x, y, value
                        ) AS rn
              FROM d
            )
            SELECT scene_id, ix, iy, ix * 10.0 AS cell_x, iy * 10.0 AS cell_y, value
            FROM rr WHERE rn = 1
        """,
        "spec_regridded_bilinear": """
            WITH cal AS (
              SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                            TIMESTAMP '2024-01-01 12:00:00',
                                            INTERVAL 1 HOUR)) AS t
            ),
            sc AS (
              SELECT 'rb__' || strftime(t, '%Y%m%d%H%M') AS scene_id, t
              FROM cal WHERE t < TIMESTAMP '2024-01-01 12:00:00'
            ),
            px AS (
              SELECT scene_id, ti.i AS i, tj.j AS j,
                     CAST((epoch_us(t) // 3600000000 * 13 + ti.i * 37 + tj.j * 17) % 101
                          AS DOUBLE) AS value
              FROM sc CROSS JOIN range(0, 24) ti(i) CROSS JOIN range(0, 24) tj(j)
            ),
            tg AS (
              SELECT scene_id, CAST(ti.i AS INT) AS ix, CAST(tj.j AS INT) AS iy,
                     ti.i * 10.0 AS x, tj.j * 10.0 AS y
              FROM sc CROSS JOIN range(0, 16) ti(i) CROSS JOIN range(0, 16) tj(j)
            ),
            c AS (
              SELECT scene_id, ix, iy, x, y,
                     x / 8.0 AS fx, y / 8.0 AS fy,
                     CAST(floor(x / 8.0) AS INT) AS i0,
                     CAST(floor(y / 8.0) AS INT) AS j0
              FROM tg
            ),
            k AS (
              SELECT c.*, d.di, d.dj,
                     (1.0 - abs((fx - i0) - d.di)) * (1.0 - abs((fy - j0) - d.dj)) AS w
              FROM c CROSS JOIN (VALUES (0.0, 0.0), (0.0, 1.0),
                                        (1.0, 0.0), (1.0, 1.0)) d(di, dj)
            )
            SELECT k.scene_id, ix, iy, x AS cell_x, y AS cell_y,
                   sum(w * value) AS value
            FROM k JOIN px ON px.scene_id = k.scene_id
                          AND px.i = k.i0 + CAST(k.di AS INT)
                          AND px.j = k.j0 + CAST(k.dj AS INT)
            GROUP BY k.scene_id, ix, iy, x, y
            HAVING count(*) = 4
        """,
        "spec_scene_images": """
            WITH cal AS (
              SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                            TIMESTAMP '2024-01-01 12:00:00',
                                            INTERVAL 1 HOUR)) AS t
            ),
            sc AS (
              SELECT 'si__' || strftime(t, '%Y%m%d%H%M') AS scene_id, t
              FROM cal WHERE t < TIMESTAMP '2024-01-01 12:00:00'
            ),
            px AS (
              SELECT scene_id,
                     ti.i * 7.0 AS x, tj.j * 7.0 AS y,
                     CAST((epoch_us(t) // 3600000000 * 13 + ti.i * 37 + tj.j * 17) % 101
                          AS DOUBLE) AS value
              FROM sc CROSS JOIN range(0, 24) ti(i) CROSS JOIN range(0, 24) tj(j)
            ),
            cand AS (
              SELECT *, CAST(round(x / 10.0) AS INT) AS ix,
                        CAST(round(y / 10.0) AS INT) AS iy
              FROM px
            ),
            d AS (
              SELECT scene_id, ix, iy, x, y, value,
                     (x - ix * 10.0) * (x - ix * 10.0)
                     + (y - iy * 10.0) * (y - iy * 10.0) AS d2
              FROM cand WHERE ix BETWEEN 0 AND 19 AND iy BETWEEN 0 AND 19
            ),
            rr AS (
              SELECT *, row_number() OVER (
                          PARTITION BY scene_id, ix, iy ORDER BY d2, x, y, value
                        ) AS rn
              FROM d
            ),
            reg AS (SELECT scene_id, ix, iy, value FROM rr WHERE rn = 1),
            b AS (
              SELECT scene_id, min(value) AS mn, max(value) AS mx
              FROM reg GROUP BY scene_id
            )
            SELECT reg.scene_id, ix, iy,
                   CAST(CASE WHEN mx = mn THEN 0
                        ELSE least(floor((1.0 - (value - mn) / (mx - mn)) * 255.0),
                                   255.0) END AS INT) AS byte
            FROM reg JOIN b USING (scene_id)
        """,
        "spec_scene_filter": """
            WITH cal AS (
              SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                            TIMESTAMP '2024-01-02',
                                            INTERVAL 1 HOUR)) AS t
            ),
            sc AS (
              SELECT 'sf__' || strftime(t, '%Y%m%d%H%M') AS scene_id, t
              FROM cal WHERE t < TIMESTAMP '2024-01-02'
            )
            SELECT scene_id, t FROM sc
            WHERE regexp_matches(scene_id, '^(?:sf__20240101(0[0-9]|1[01]))')
        """,
        "j6_emb_aux_join": """
            WITH aux AS (
              SELECT label, count(*) AS n_label,
                     min(CAST(embedding[1] AS DOUBLE)) AS min_first,
                     max(CAST(embedding[1] AS DOUBLE)) AS max_first
              FROM embeddings GROUP BY label
            )
            SELECT vec_id, e.label, n_label, min_first, max_first
            FROM embeddings e JOIN aux ON e.label = aux.label
        """,
        "j7_positional_coords": """
            SELECT vec_id,
                   CAST(vec_id % 16 AS INT) AS i0,
                   CAST(CAST(floor(vec_id / 16.0) AS INT) % 16 AS INT) AS j0,
                   100.0 + CAST(vec_id % 16 AS INT) * 2.5 AS x,
                   -50.0 + (16 - CAST(CAST(floor(vec_id / 16.0) AS INT) % 16 AS INT)) * 2.5 AS y
            FROM embeddings
        """,
        "a9_layer_mean": """
            SELECT l_returnflag, count(*) AS n,
                   round(CAST(sum(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) / count(*), 6) AS mean_qty
            FROM lineitem WHERE l_linenumber BETWEEN 3 AND 5 GROUP BY l_returnflag
        """,
        "a11_minmax_norm": """
            SELECT event_id, event_type,
                   round((value - min(value) OVER (PARTITION BY event_type))
                         / (max(value) OVER (PARTITION BY event_type)
                            - min(value) OVER (PARTITION BY event_type)), 6) AS norm
            FROM events
        """,
        "a2_udaf_pandas": """
            SELECT event_type, count(*) AS n,
                   quantile_cont(event_id, 0.5) AS median_event_id
            FROM events GROUP BY event_type
        """,
        "e5_array_roundtrip": """
            WITH g AS (
              SELECT l_orderkey,
                     list(CAST(l_quantity AS DECIMAL(15,2))
                          ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity) AS arr,
                     sum(CAST(l_quantity AS DECIMAL(15,2))) AS sum_q
              FROM lineitem GROUP BY l_orderkey
            )
            SELECT l_orderkey, CAST(len(arr) AS INT) AS n_items,
                   CAST(arr[1] AS DOUBLE) AS q_first,
                   CAST(arr[len(arr)] AS DOUBLE) AS q_last,
                   CAST(sum_q AS DOUBLE) AS q_sum
            FROM g
        """,
        "g1_nearest_regrid": """
            WITH px AS (
              SELECT event_id, (abs(value) * 13.0) % 100.0 AS x, (abs(value) * 29.0) % 100.0 AS y
              FROM events
            ), cand AS (
              SELECT event_id, x, y,
                     CAST(round(x / 10.0) AS INT) AS ix, CAST(round(y / 10.0) AS INT) AS iy
              FROM px
            ), d AS (
              SELECT event_id, x, y, ix, iy, ix * 10.0 AS cell_x, iy * 10.0 AS cell_y,
                     (x - ix * 10.0) * (x - ix * 10.0) + (y - iy * 10.0) * (y - iy * 10.0) AS d2
              FROM cand WHERE ix BETWEEN 0 AND 9 AND iy BETWEEN 0 AND 9
            ), r AS (
              SELECT *, row_number() OVER (PARTITION BY ix, iy ORDER BY d2, x, y, event_id) AS rn FROM d
            )
            SELECT ix, iy, cell_x, cell_y, event_id FROM r WHERE rn = 1
        """,
        "g1_bilinear_regrid": """
            WITH t AS (
              SELECT event_id,
                     CAST(event_id % 29 AS DOUBLE) + (event_id % 4) * 0.25 + 1.0 AS x,
                     CAST(event_id % 28 AS DOUBLE) + (event_id % 8) * 0.125 + 1.0 AS y
              FROM events
            ), d AS (
              SELECT event_id,
                     CAST(floor(x) AS INT) AS i0, CAST(floor(y) AS INT) AS j0,
                     x - floor(x) AS rx, y - floor(y) AS ry
              FROM t
            )
            SELECT event_id,
                     (1.0 - rx) * (1.0 - ry) * (i0 * 3.0 + j0 * 5.0 + (i0 * j0) * 0.25)
                   + rx * (1.0 - ry) * ((i0 + 1) * 3.0 + j0 * 5.0 + ((i0 + 1) * j0) * 0.25)
                   + (1.0 - rx) * ry * (i0 * 3.0 + (j0 + 1) * 5.0 + (i0 * (j0 + 1)) * 0.25)
                   + rx * ry * ((i0 + 1) * 3.0 + (j0 + 1) * 5.0 + ((i0 + 1) * (j0 + 1)) * 0.25) AS value
            FROM d
        """,
        "g4_crop_pad": """
            WITH px AS (
              SELECT event_id, value,
                     (abs(value) * 13.0) % 100.0 AS x, (abs(value) * 29.0) % 100.0 AS y
              FROM events
            ), bbox AS (
              SELECT min(x) - 2.0 AS x_min, max(x) + 2.0 AS x_max,
                     min(y) - 2.0 AS y_min, max(y) + 2.0 AS y_max
              FROM px WHERE abs(value) < 0.5
            )
            SELECT event_id FROM px, bbox
            WHERE x BETWEEN x_min AND x_max AND y BETWEEN y_min AND y_max
        """,
        "g6_spanning_domain": """
            WITH p AS (
              SELECT radians(((abs(value) * 7.0) % 160.0) - 80.0) AS lat,
                     radians(((abs(value) * 11.0) % 360.0) - 180.0) AS lon
              FROM events
            ), a AS (
              SELECT avg(cos(lat) * cos(lon)) AS mx, avg(cos(lat) * sin(lon)) AS my,
                     avg(sin(lat)) AS mz
              FROM p
            )
            SELECT round(degrees(atan2(mz, sqrt(mx * mx + my * my))), 6) AS lat_c,
                   round(degrees(atan2(my, mx)), 6) AS lon_c
            FROM a
        """,
        "f11_nonempty": """
            SELECT l_orderkey, count(*) AS n_items FROM lineitem
            GROUP BY l_orderkey HAVING count(*) >= 3
        """,
        "g7_tangent_projection": """
            WITH p AS (
              SELECT event_id,
                     radians(((abs(value) * 7.0) % 160.0) - 80.0) AS phi,
                     radians(((abs(value) * 11.0) % 360.0) - 180.0) AS lam,
                     radians(13.3) AS phi0, radians(-57.7) AS lam0
              FROM events
            ), c AS (
              SELECT event_id, phi, lam, phi0, lam0,
                     acos(least(greatest(
                       sin(phi0) * sin(phi) + cos(phi0) * cos(phi) * cos(lam - lam0),
                       -1.0), 1.0)) AS cc
              FROM p
            ), k AS (
              SELECT *, CASE WHEN cc < 1e-12 THEN 1.0 ELSE cc / sin(cc) END AS kk FROM c
            )
            SELECT event_id,
                   round(6371000.0 * kk * cos(phi) * sin(lam - lam0), 4) AS x_m,
                   round(6371000.0 * kk * (cos(phi0) * sin(phi) - sin(phi0) * cos(phi) * cos(lam - lam0)), 4) AS y_m
            FROM k
        """,
        "g8_rgb_composite": f"""
            WITH px AS (
              SELECT event_id, user_id % 8 AS scene,
                     CASE WHEN event_id % 97 = 0 THEN -1.0 ELSE (abs(value) % 300.0) / 256.0 END AS cb,
                     CASE WHEN event_id % 89 = 0 THEN -1.0 ELSE ((abs(value) * 1.7) % 280.0) / 256.0 END AS cr,
                     ((abs(value) * 2.3) % 260.0) / 256.0 AS cg,
                     value AS c1, value * 0.5 + 1.0 AS c2, abs(value) AS c3
              FROM events
            ), msk AS (
              SELECT *, CASE WHEN cr = -1.0 THEN NULL ELSE cr END AS mr,
                     CASE WHEN cg = -1.0 THEN NULL ELSE cg END AS mg,
                     CASE WHEN cb = -1.0 THEN NULL ELSE cb END AS mb
              FROM px
            ), gam AS (
              SELECT *, power(CASE WHEN mr < 0.0 THEN 0.0 WHEN mr > 1.0 THEN 1.0 ELSE mr END, 0.4) AS gr,
                     power(CASE WHEN mg < 0.0 THEN 0.0 WHEN mg > 1.0 THEN 1.0 ELSE mg END, 0.4) AS gg,
                     power(CASE WHEN mb < 0.0 THEN 0.0 WHEN mb > 1.0 THEN 1.0 ELSE mb END, 0.4) AS gb
              FROM msk
            ), mix AS (
              SELECT *, 0.48358168 * gr + 0.45706946 * gb + 0.06038137 * gg AS gt0
              FROM gam
            ), tg AS (
              SELECT *, CASE WHEN gt0 < 0.0 THEN 0.0 WHEN gt0 > 1.0 THEN 1.0 ELSE gt0 END AS gtc
              FROM mix
            ), sc AS (
              SELECT *, min(c1) OVER ws AS mn1, max(c1) OVER ws AS mx1,
                     min(c2) OVER ws AS mn2, max(c2) OVER ws AS mx2,
                     min(c3) OVER ws AS mn3, max(c3) OVER ws AS mx3
              FROM tg WINDOW ws AS (PARTITION BY scene)
            ), fin AS (
              SELECT event_id,
                     {(259.0 * (80.0 + 255.0)) / (255.0 * 259.0 - 80.0)!r} * (gr - 0.5) + 0.5 AS fr,
                     {(259.0 * (80.0 + 255.0)) / (255.0 * 259.0 - 80.0)!r} * (gtc - 0.5) + 0.5 AS fg,
                     {(259.0 * (80.0 + 255.0)) / (255.0 * 259.0 - 80.0)!r} * (gb - 0.5) + 0.5 AS fb,
                     (c1 - mn1) / (mx1 - mn1) AS sr,
                     (c2 - mn2) / (mx2 - mn2) AS sg,
                     (c3 - mn3) / (mx3 - mn3) AS sb
              FROM sc
            )
            SELECT event_id,
                   round(CASE WHEN fr < 0.0 THEN 0.0 WHEN fr > 1.0 THEN 1.0 ELSE fr END, 6) AS r,
                   round(CASE WHEN fg < 0.0 THEN 0.0 WHEN fg > 1.0 THEN 1.0 ELSE fg END, 6) AS g,
                   round(CASE WHEN fb < 0.0 THEN 0.0 WHEN fb > 1.0 THEN 1.0 ELSE fb END, 6) AS b,
                   round(sr, 6) AS sr, round(sg, 6) AS sg, round(sb, 6) AS sb,
                   0.5 AS a
            FROM fin
        """,
        "x2_dotted_udaf": """
            SELECT event_type, round(median(value), 6) AS med
            FROM events GROUP BY event_type
        """,
        "r1_split": """
            WITH u AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5('7|' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
                       / 4503599627370496.0 AS u
              FROM documents
            ), r AS (
              SELECT doc_id, row_number() OVER (ORDER BY u, doc_id) - 1 AS rk,
                     count(*) OVER () AS n
              FROM u
            ), spl AS (
              SELECT doc_id, rk, CAST(floor(n * 3.0 / 4.0) AS BIGINT) AS cut FROM r
            )
            SELECT doc_id,
                   CASE WHEN rk < cut THEN 'train' ELSE 'study' END AS collection,
                   CAST(rk - CASE WHEN rk < cut THEN 0 ELSE cut END AS INTEGER) AS collection_index
            FROM spl
        """,
        "r2_scene_pairs": """
            WITH u AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5('7|' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
                       / 4503599627370496.0 AS u
              FROM documents
            ), r AS (
              SELECT doc_id, row_number() OVER (ORDER BY u, doc_id) - 1 AS rk,
                     count(*) OVER () AS n
              FROM u
            ), sc AS (
              SELECT doc_id, rk, CAST(floor(n * 3.0 / 4.0) AS BIGINT) AS cut FROM r
            ), idx AS (
              SELECT doc_id,
                     CASE WHEN rk < cut THEN 'train' ELSE 'study' END AS collection,
                     rk - CASE WHEN rk < cut THEN 0 ELSE cut END AS i
              FROM sc
            ), sz AS (
              SELECT collection, count(*) AS n FROM idx GROUP BY collection
            ), tr AS (
              SELECT CAST(range AS BIGINT) AS triplet_id,
                     CASE WHEN range < 30 THEN 'train' ELSE 'study' END AS collection
              FROM range(40)
            ), h AS (
              SELECT t.triplet_id, t.collection, sz.n,
                     CAST(('0x' || substr(md5('42|anchor|' || CAST(t.triplet_id AS VARCHAR)), 1, 13)) AS BIGINT)
                       / 4503599627370496.0 AS ua,
                     CAST(('0x' || substr(md5('42|distant|' || CAST(t.triplet_id AS VARCHAR)), 1, 13)) AS BIGINT)
                       / 4503599627370496.0 AS ud
              FROM tr t JOIN sz ON t.collection = sz.collection
            ), hi AS (
              SELECT triplet_id, collection,
                     CAST(floor(ua * n) AS INT) AS ai,
                     CAST(floor(ud * (n - 1)) AS INT) AS d0
              FROM h
            ), hh AS (
              SELECT triplet_id, collection, ai,
                     CASE WHEN d0 >= ai THEN d0 + 1 ELSE d0 END AS di
              FROM hi
            )
            SELECT hh.triplet_id, hh.collection, a.doc_id AS anchor_scene, d.doc_id AS distant_scene
            FROM hh
            JOIN idx a ON a.collection = hh.collection AND a.i = hh.ai
            JOIN idx d ON d.collection = hh.collection AND d.i = hh.di
        """,
        "r5_triplet_locations": """
            WITH t AS (SELECT CAST(range AS BIGINT) AS triplet_id FROM range(50)),
            anc AS (
              SELECT triplet_id,
                     4.0 + (CAST(('0x' || substr(md5('11|anchor|x|' || CAST(triplet_id AS VARCHAR)), 1, 13)) AS BIGINT)
                            / 4503599627370496.0) * 92.0 AS x_c,
                     4.0 + (CAST(('0x' || substr(md5('11|anchor|y|' || CAST(triplet_id AS VARCHAR)), 1, 13)) AS BIGINT)
                            / 4503599627370496.0) * 92.0 AS y_c
              FROM t
            ), dis AS (
              SELECT triplet_id,
                     4.0 + (CAST(('0x' || substr(md5('11|distant|x|' || CAST(triplet_id AS VARCHAR)), 1, 13)) AS BIGINT)
                            / 4503599627370496.0) * 92.0 AS x_c,
                     4.0 + (CAST(('0x' || substr(md5('11|distant|y|' || CAST(triplet_id AS VARCHAR)), 1, 13)) AS BIGINT)
                            / 4503599627370496.0) * 92.0 AS y_c
              FROM t
            ), nb AS (
              SELECT triplet_id, x_c, y_c,
                     list_filter(
                       list_transform(range(0, 16), k -> {
                         'x': x_c + 12.0 * cos(6.283185307179586 *
                                (CAST(('0x' || substr(md5('11|neighbor|theta|' || CAST(k AS VARCHAR) || '|' || CAST(triplet_id AS VARCHAR)), 1, 13)) AS BIGINT)
                                 / 4503599627370496.0)),
                         'y': y_c + 12.0 * sin(6.283185307179586 *
                                (CAST(('0x' || substr(md5('11|neighbor|theta|' || CAST(k AS VARCHAR) || '|' || CAST(triplet_id AS VARCHAR)), 1, 13)) AS BIGINT)
                                 / 4503599627370496.0))
                       }),
                       s -> s.x >= 4.0 AND s.x <= 96.0 AND s.y >= 4.0 AND s.y <= 96.0
                     ) AS valid
              FROM anc
            )
            SELECT triplet_id, 'anchor' AS tile_type, round(x_c, 6) AS x_c, round(y_c, 6) AS y_c FROM anc
            UNION ALL
            SELECT triplet_id, 'neighbor' AS tile_type,
                   round(CASE WHEN len(valid) > 0 THEN valid[1].x ELSE x_c END, 6) AS x_c,
                   round(CASE WHEN len(valid) > 0 THEN valid[1].y ELSE y_c END, 6) AS y_c
            FROM nb
            UNION ALL
            SELECT triplet_id, 'distant' AS tile_type, round(x_c, 6) AS x_c, round(y_c, 6) AS y_c FROM dis
        """,
        "w2_argmin_per_group": """
            WITH r AS (
              SELECT user_id, event_id, value,
                     row_number() OVER (PARTITION BY user_id ORDER BY value, event_id) AS rn
              FROM events
            )
            SELECT user_id, event_id, round(value, 6) AS value FROM r WHERE rn = 1
        """,
        "w3_local_peaks": """
            WITH n AS (
              SELECT event_type, event_id, value,
                     lag(value) OVER (PARTITION BY event_type ORDER BY ts) AS pv,
                     lead(value) OVER (PARTITION BY event_type ORDER BY ts) AS nv
              FROM events
            )
            SELECT event_type, event_id, round(value, 6) AS value
            FROM n WHERE value > pv AND value > nv
        """,
        "w7_sessionize": """
            WITH o AS (
              SELECT user_id, event_id, ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                          THEN 1 ELSE 0 END AS opens
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
              SELECT *, sum(opens) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_id
              FROM o
            )
            SELECT user_id, session_id,
                   min(ts) AS session_start, max(ts) AS session_end,
                   count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
            FROM s GROUP BY user_id, session_id
        """,
        "a14_rollup": """
            SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
                   CAST(GROUPING(year(o_orderdate), month(o_orderdate)) AS BIGINT) AS gid,
                   count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM orders
            GROUP BY ROLLUP(year(o_orderdate), month(o_orderdate))
        """,
        "a15_distinct_users": """
            SELECT event_type, count(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type
        """,
        "w5_sliding_tiles": """
            SELECT CAST((j0/16) * 15 + (i0/16) AS INT) AS tile_id,
                   CAST(i0 AS INT) AS i0, CAST(i0 + 32 AS INT) AS imax,
                   CAST(j0 AS INT) AS j0, CAST(j0 + 32 AS INT) AS jmax
            FROM (SELECT unnest(generate_series(0, 224, 16)) AS i0),
                 (SELECT unnest(generate_series(0, 224, 16)) AS j0)
        """,
        "g2_tile_pixel_slice": """
            WITH px AS (
              SELECT x, y, (x * 37 + y * 17) % 101 AS value
              FROM (SELECT unnest(generate_series(0, 63)) AS x),
                   (SELECT unnest(generate_series(0, 63)) AS y)
            ), tiles AS (
              SELECT CAST((j0/8) * 7 + (i0/8) AS INT) AS tile_id,
                     i0, i0 + 16 AS imax, j0, j0 + 16 AS jmax
              FROM (SELECT unnest(generate_series(0, 48, 8)) AS i0),
                   (SELECT unnest(generate_series(0, 48, 8)) AS j0)
            )
            SELECT tile_id, count(*) AS n_px, CAST(sum(value) AS BIGINT) AS sum_val
            FROM px JOIN tiles
              ON px.x >= tiles.i0 AND px.x < tiles.imax AND px.y >= tiles.j0 AND px.y < tiles.jmax
            WHERE tile_id IN (0, 5, 24)
            GROUP BY tile_id
        """,
        "e2_string_ops": """
            SELECT p_partkey,
                   string_split(p_name, ' ')[1] AS name_prefix,
                   CAST(regexp_extract(p_brand, '#([0-9]+)', 1) AS INT) AS brand_num,
                   lpad(CAST(p_partkey AS VARCHAR), 5, '0') AS padded_id,
                   lower(replace(p_type, ' ', '_')) || '__' || p_brand AS shorthand
            FROM part
        """,
        "e7_json_map": """
            SELECT event_id,
                   CAST(json_extract(props, '$.k') AS INT) AS k,
                   CAST(to_json(struct_pack(type := event_type, k := CAST(json_extract(props, '$.k') AS INT))) AS VARCHAR) AS meta_json
            FROM events
        """,
        "f8_dropna_slice": """
            SELECT l_orderkey, l_linenumber AS level,
                   CAST(l_quantity AS INT) AS qty_int,
                   round(l_discount, 6) AS disc
            FROM lineitem
            WHERE l_discount > 0.05 AND l_linenumber >= 3
        """,
        "derived_dag": f"""
            WITH base AS (
              SELECT event_id // 40 AS cid, event_id % 40 AS level,
                     value AS u, value * 0.5 AS v,
                     300.0 - (39 - (event_id % 40)) * 1.5 - (abs(value) % 5.0) AS t,
                     0.015 * ((event_id % 40 + 1.0) / 40.0) * ((event_id % 40 + 1.0) / 40.0) * (0.9 + (abs(value) % 0.2)) AS q,
                     10.0 * ((event_id // 40) % 50) AS z,
                     11.5 + ((event_id // 40) % 7) * 0.01 AS lnsp
              FROM events
            ), d1 AS (
              SELECT *, sqrt(u * u + v * v) AS umag, exp(lnsp) AS sp,
                     t * (1.0 + 0.608 * q) AS tv,
                     ln((level + 2.0) / (level + 1.0)) AS lnr
              FROM base
            ), d2 AS (
              SELECT *, sp * (2.0 * level + 3.0) / 82.0 AS p,
                     z / 9.80665 + {287.06 / 9.80665!r} * sum(tv * lnr) OVER (
                       PARTITION BY cid ORDER BY level
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS alt
              FROM d1
            ), d3 AS (
              SELECT *, 611.2 * exp(17.67 * (t - 273.15) / (t - 29.65)) AS es
              FROM d2
            ), d4 AS (
              SELECT *, t * power(100000.0 / p, 0.2854) AS theta,
                     (q / (1.0 - q)) / (0.622 * es / (p - es)) AS rh
              FROM d3
            ), d4b AS (
              SELECT *, (coalesce(lead(p) OVER wo, p) - coalesce(lag(p) OVER wo, p))
                        / (CASE WHEN lead(p) OVER wo IS NOT NULL AND lag(p) OVER wo IS NOT NULL
                           THEN 2.0 ELSE 1.0 END) AS dp
              FROM d4
              WINDOW wo AS (PARTITION BY cid ORDER BY level)
            ), d5 AS (
              SELECT *,
                     arg_min(theta, abs(p - 70000.0)) OVER wc
                       - arg_max(theta, level) OVER wc AS lts,
                     arg_min(t, abs(p - 85000.0)) OVER wc AS t850,
                     arg_min(alt, abs(p - 70000.0)) OVER wc AS z700,
                     CAST(sum(CAST(CASE WHEN level >= 35 THEN sqrt(u * u + v * v) END AS DECIMAL(38,18))) OVER wc AS DOUBLE)
                       / count(CASE WHEN level >= 35 THEN sqrt(u * u + v * v) END) OVER wc AS bl_umag,
                     CAST(sum(CAST(CASE WHEN level >= 29 AND level < 35 THEN sqrt(u * u + v * v) END AS DECIMAL(38,18))) OVER wc AS DOUBLE)
                       / count(CASE WHEN level >= 29 AND level < 35 THEN sqrt(u * u + v * v) END) OVER wc AS cl_umag,
                     CAST(sum(CAST(CASE WHEN level >= 35 THEN q END AS DECIMAL(38,18))) OVER wc AS DOUBLE)
                       / count(CASE WHEN level >= 35 THEN q END) OVER wc AS bl_qmean,
                     CAST(sum(CAST(CASE WHEN level >= 29 AND level < 35 THEN q END AS DECIMAL(38,18))) OVER wc AS DOUBLE)
                       / count(CASE WHEN level >= 29 AND level < 35 THEN q END) OVER wc AS cl_qmean,
                     sum(q * dp) OVER wc / 9.8 AS tpw,
                     1.0 / (1.0 / (t - 55.0) - ln(rh) / 2840.0) + 55.0 AS t_lcl
              FROM d4b
              WINDOW wc AS (PARTITION BY cid)
            ), d6 AS (
              SELECT *,
                     0.5 * (min(CASE WHEN level >= 35 AND rh > 0.0
                                THEN alt - {1004.7 / 9.80665!r} * (t_lcl - t) END) OVER wc
                          + max(CASE WHEN level >= 35 AND rh > 0.0
                                THEN alt - {1004.7 / 9.80665!r} * (t_lcl - t) END) OVER wc) AS z_lcl,
                     611.2 * exp(17.67 * (t850 - 273.15) / (t850 - 29.65)) AS es850
              FROM d5
              WINDOW wc AS (PARTITION BY cid)
            ), d7 AS (
              SELECT *, 0.622 * es850 / (85000.0 - es850) AS qs850 FROM d6
            ), d8 AS (
              SELECT *, lts - ({9.80665 / 1004.7!r} * (1.0
                       - (1.0 + {2.501e6!r} * qs850 / ({287.06!r} * t850))
                       / (1.0 + {2.501e6 * 2.501e6 * 0.622!r} * qs850
                          / ({1004.7 * 287.06!r} * t850 * t850)))) * (z700 - z_lcl) AS eis
              FROM d7
            )
            SELECT cid, level, round(umag, 6) AS umag, round(p, 6) AS p,
                   round(theta, 6) AS theta, round(rh, 6) AS rh,
                   round(alt, 6) AS alt, round(lts, 6) AS lts,
                   round(z_lcl, 6) AS z_lcl, round(eis, 6) AS eis,
                   round(bl_umag, 6) AS bl_umag, round(cl_umag, 6) AS cl_umag,
                   floor(bl_qmean * 1e8 + 0.5) / 1e8 AS bl_qmean,
                   floor(cl_qmean * 1e8 + 0.5) / 1e8 AS cl_qmean,
                   round(tpw, 6) AS tpw
            FROM d8
        """,
        "x1_user_function": """
            WITH b AS (
              SELECT event_id, 250.0 + (abs(value) % 50.0) AS bt FROM events
            )
            SELECT event_id, (bt >= 280.0 AND bt <= 290.0) AS cloud_mask,
                   round((bt - 250.0) / 50.0, 6) AS norm_img
            FROM b
        """,
        "stream_daily_counts": """
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
                   event_type, count(*) AS n
            FROM events GROUP BY 1, 2
        """,
        # the production drain_to_parquet sink path computes the SAME
        # windowed counts — identical batch replay certifies the parquet
        # round-trip (write, read-back, last-emission reduce)
        "stream_parquet_drain": """
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
                   event_type, count(*) AS n
            FROM events GROUP BY 1, 2
        """,
        "doc_fingerprint": """
            WITH g AS (
              SELECT doc_id,
                     list_transform(
                       range(1, greatest(len(text) - 7, 0) + 1),
                       i -> CAST(('0x' || substr(md5(substr(text, CAST(i AS INT), 8)), 1, 13)) AS BIGINT)
                     ) AS hs
              FROM documents
            )
            SELECT doc_id, list_aggregate(hs, 'min') AS min_hash,
                   CAST(len(list_distinct(hs)) AS INT) AS n_distinct
            FROM g
        """,
        "text_langid": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x != '') AS toks
              FROM documents
            ), s AS (
              SELECT doc_id,
                     CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) / greatest(len(toks), 1) AS s_en,
                     CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','zu'))) AS DOUBLE) / greatest(len(toks), 1) AS s_de,
                     CAST(len(list_filter(toks, x -> x IN ('le','la','les','et','est','un','une','dans'))) AS DOUBLE) / greatest(len(toks), 1) AS s_fr,
                     CAST(len(list_filter(toks, x -> x IN ('el','los','y','es','un','una','en','que'))) AS DOUBLE) / greatest(len(toks), 1) AS s_es
              FROM t
            )
            SELECT doc_id,
                   round(s_en, 6) AS s_en, round(s_de, 6) AS s_de,
                   round(s_fr, 6) AS s_fr, round(s_es, 6) AS s_es,
                   CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                        WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                        WHEN s_fr >= s_es THEN 'fr'
                        ELSE 'es' END AS lang_guess
            FROM s
        """,
        "dedup_components": """
            WITH RECURSIVE pr AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM embeddings a JOIN embeddings b
                ON a.label = b.label AND a.vec_id < b.vec_id
              WHERE round(
                      list_sum(list_transform(range(1, len(a.embedding) + 1),
                               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                      / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
                               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
                         * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
                               i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 6)
                    >= 0.30
            ), e AS (
              SELECT id_a AS s, id_b AS d FROM pr
              UNION
              SELECT id_b, id_a FROM pr
            ), nodes AS (
              SELECT DISTINCT s AS id FROM e
            ), reach(id, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT reach.id, e.d FROM reach JOIN e ON reach.r = e.s
            )
            SELECT id, min(r) AS component FROM reach GROUP BY id
        """,
        "dedup_survivors": """
            WITH RECURSIVE pr AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM embeddings a JOIN embeddings b
                ON a.label = b.label AND a.vec_id < b.vec_id
              WHERE round(
                      list_sum(list_transform(range(1, len(a.embedding) + 1),
                               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                      / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
                               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
                         * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
                               i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 6)
                    >= 0.30
            ), e AS (
              SELECT id_a AS s, id_b AS d FROM pr
              UNION
              SELECT id_b, id_a FROM pr
            ), nodes AS (
              SELECT DISTINCT s AS id FROM e
            ), reach(id, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT reach.id, e.d FROM reach JOIN e ON reach.r = e.s
            ), comp AS (
              SELECT id, min(r) AS component FROM reach GROUP BY id
            )
            SELECT v.vec_id, v.label
            FROM embeddings v LEFT JOIN comp ON comp.id = v.vec_id
            WHERE comp.id IS NULL OR comp.component = v.vec_id
        """,
        "dedup_best_survivors": """
            WITH RECURSIVE toks AS (
              SELECT doc_id, lang, source,
                     list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x != '') AS w
              FROM documents
            ), sh AS (
              SELECT DISTINCT doc_id, lang, source,
                     w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
              FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)
            ), sizes AS (
              SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
            ), inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
              FROM sh a JOIN sh b
                ON a.lang = b.lang AND a.source = b.source AND a.shingle = b.shingle
               AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ), pr AS (
              SELECT id_a, id_b
              FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
              WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.5
            ), e AS (
              SELECT id_a AS s, id_b AS d FROM pr
              UNION
              SELECT id_b, id_a FROM pr
            ), nodes AS (
              SELECT DISTINCT s AS id FROM e
            ), reach(id, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT reach.id, e.d FROM reach JOIN e ON reach.r = e.s
            ), comp AS (
              SELECT id, min(r) AS component FROM reach GROUP BY id
            ), m AS (
              SELECT c.id, c.component, d.n_chars
              FROM comp c JOIN documents d ON d.doc_id = c.id
            ), best AS (
              SELECT component, max(n_chars) AS bq FROM m GROUP BY component
            ), keep AS (
              SELECT m.component, min(m.id) AS keep_id
              FROM m JOIN best b ON b.component = m.component AND m.n_chars = b.bq
              GROUP BY m.component
            ), dr AS (
              SELECT m.id FROM m JOIN keep k ON k.component = m.component
              WHERE m.id != k.keep_id
            )
            SELECT d.doc_id, d.lang, d.source, d.n_chars
            FROM documents d LEFT JOIN dr ON dr.id = d.doc_id
            WHERE dr.id IS NULL
        """,
        "decontam_ngram_overlap": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x != '') AS w,
                     substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS is_eval
              FROM documents
            ), g AS (
              SELECT DISTINCT doc_id, is_eval,
                     array_to_string(w[i:i+6], ' ') AS ng
              FROM toks, UNNEST(range(1, len(w) - 6 + 1)) AS t(i)
              WHERE len(w) >= 7
            )
            SELECT a.doc_id,
                   CAST(count(DISTINCT a.ng) AS BIGINT) AS n_shared_ngrams,
                   CAST(count(DISTINCT e.doc_id) AS BIGINT) AS n_eval_docs
            FROM g a JOIN g e ON a.ng = e.ng AND e.is_eval
            WHERE NOT a.is_eval
            GROUP BY a.doc_id
        """,
        "text_gopher_quality": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x != '') AS w
              FROM documents
            ), m AS (
              SELECT doc_id, w,
                     len(w) AS n_words,
                     CASE WHEN len(w) = 0 THEN 0.0
                          ELSE list_sum(list_transform(w, x -> len(x))) / len(w) END AS mwl,
                     list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                                    i -> w[i] || ' ' || w[i+1]) AS g2,
                     list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g3,
                     len(list_filter(list_distinct(w),
                         x -> x IN ('the','a','of','and','to','in','is','it','for','on'))) AS stop_hits
              FROM t
            ), r AS (
              SELECT doc_id, n_words, mwl, stop_hits,
                     CASE WHEN len(g2) = 0 THEN 0.0
                          ELSE list_max(list_transform(list_distinct(g2),
                                 x -> len(list_filter(g2, y -> y = x)))) / len(g2) END AS top2,
                     CASE WHEN len(g3) = 0 THEN 0.0
                          ELSE 1.0 - len(list_distinct(g3)) / len(g3) END AS dup3
              FROM m
            )
            SELECT doc_id,
                   CAST(n_words AS INT) AS n_words,
                   round(mwl, 6) AS mean_word_len,
                   round(top2, 6) AS top_bigram_frac,
                   round(dup3, 6) AS dup_trigram_frac,
                   CAST(stop_hits AS INT) AS stopword_hits,
                   (n_words >= 50 AND n_words <= 100000) AS word_count_ok,
                   (mwl >= 3.0 AND mwl <= 10.0) AS word_len_ok,
                   (top2 <= 0.20) AS rep_2gram_ok,
                   (dup3 <= 0.30) AS rep_3gram_ok,
                   (stop_hits >= 2) AS stopword_ok,
                   ((n_words >= 50 AND n_words <= 100000) AND (mwl >= 3.0 AND mwl <= 10.0)
                    AND (top2 <= 0.20) AND (dup3 <= 0.30) AND (stop_hits >= 2)) AS pass_gopher
            FROM r
        """,
        "tfidf_top_terms": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x != '')) AS term
              FROM documents
            ), tf AS (
              SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
            ), dfreq AS (
              SELECT term, count(*) AS df FROM tf GROUP BY 1
            ), n AS (
              SELECT count(DISTINCT doc_id) AS n_docs FROM documents
            ), s AS (
              SELECT tf.doc_id, tf.term,
                     round(tf * ln((n_docs + 1) / (df + 1)), 6) AS score
              FROM tf JOIN dfreq USING (term) CROSS JOIN n
            ), r AS (
              SELECT doc_id, term, score,
                     CAST(row_number() OVER (PARTITION BY doc_id
                          ORDER BY score DESC, term ASC) AS INT) AS rank
              FROM s
            )
            SELECT doc_id, term, score, rank FROM r WHERE rank <= 3
        """,
        "pii_scrub": """
            WITH p AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@mail.example or 555-010'
                          || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS pt
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(pt,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails,
                   CAST(len(regexp_extract_all(pt,
                        '\\b\\d{3}-\\d{3,4}-?\\d{0,4}\\b')) AS INT) AS n_phones,
                   right(regexp_replace(regexp_replace(pt,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                        '\\b\\d{3}-\\d{3,4}-?\\d{0,4}\\b', '<PHONE>', 'g'), 40) AS scrubbed_tail
            FROM p
        """,
        "sample_quality_weighted": """
            WITH d AS (
              SELECT doc_id,
                     len(list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), x -> x != '')) / 100.0 AS w
              FROM documents
            )
            SELECT doc_id, round(w, 6) AS keep_prob
            FROM d
            WHERE CAST('0x' || substr(md5('3|' || CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT)
                  / 4503599627370496.0 < least(greatest(w, 0.0), 1.0)
        """,
        "dedup_spans": """
            WITH toks AS (
              SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), x -> x != '') AS tk
              FROM documents
            ), spans AS (
              SELECT doc_id, unnest(list_transform(
                       range(0, CAST(ceil(len(tk)/5.0) AS BIGINT)),
                       i -> struct_pack(si := i, span := array_to_string(tk[(i*5+1):(i*5+5)], ' ')))) AS sp
              FROM toks
            ), flat AS (
              SELECT doc_id, sp.si AS si, sp.span AS span FROM spans
            ), dup AS (
              SELECT span FROM flat GROUP BY span HAVING count(DISTINCT doc_id) >= 2
            ), kept AS (
              SELECT f.* FROM flat f ANTI JOIN dup d ON f.span = d.span
            ), rebuilt AS (
              SELECT doc_id, count(*) AS n_kept, string_agg(span, ' ' ORDER BY si) AS clean_text
              FROM kept GROUP BY doc_id
            ), totals AS (
              SELECT doc_id, CAST(ceil(len(tk)/5.0) AS INT) AS n_spans FROM toks
            )
            SELECT t.doc_id, t.n_spans,
                   CAST(t.n_spans - COALESCE(r.n_kept, 0) AS INT) AS n_dropped,
                   COALESCE(r.clean_text, '') AS clean_text
            FROM totals t LEFT JOIN rebuilt r USING (doc_id)
        """,
        "corpus_entropy": """
            WITH tok AS (
              SELECT source, unnest(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x != '')) AS token
              FROM documents
            ), tc AS (
              SELECT source, token, count(*) AS c FROM tok GROUP BY source, token
            )
            SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
                   count(*) AS vocab_size,
                   round(ln(sum(c)) - CAST(sum(CAST(c * ln(c) AS DECIMAL(38,12))) AS DOUBLE) / sum(c), 6) AS entropy_nats
            FROM tc GROUP BY source
        """,
        "stream_dedup_watermark": """
            SELECT DISTINCT user_id FROM events
        """,
        "vocab_build": """
            WITH t AS (
              SELECT unnest(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x != '')) AS token
              FROM documents
            ), c AS (
              SELECT token, count(*) AS n FROM t GROUP BY token HAVING count(*) >= 2
            )
            SELECT token, n,
                   CAST(row_number() OVER (ORDER BY n DESC, token) - 1 AS INT) AS token_id
            FROM c
        """,
        "vocab_encode": """
            WITH toks AS (
              SELECT doc_id, list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x != '') AS tk
              FROM documents
            ), flat AS (
              SELECT doc_id, s.pos AS pos, s.token AS token
              FROM (SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
                       i -> struct_pack(pos := i - 1, token := tk[i]))) AS s
                    FROM toks)
            ), c AS (
              SELECT token, count(*) AS n FROM (SELECT unnest(tk) AS token FROM toks)
              GROUP BY token HAVING count(*) >= 2
            ), v AS (
              SELECT token, CAST(row_number() OVER (ORDER BY n DESC, token) - 1 AS INT) AS token_id
              FROM c
            )
            SELECT f.doc_id, count(*) AS n_tokens, count(v.token_id) AS n_known,
                   count(*) - count(v.token_id) AS n_unk,
                   CAST(sum((f.pos + 1) * CAST(v.token_id AS BIGINT))
                        % 2305843009213693951 AS BIGINT) AS id_checksum
            FROM flat f LEFT JOIN v ON f.token = v.token
            GROUP BY f.doc_id
        """,
        "text_bpe_tokens": f"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, {bpe_pat_sql})) AS INT) AS n_pieces,
                   CAST(len(regexp_extract_all(
                       text || ' it''s ' || CAST(doc_id AS VARCHAR) || '-'
                            || CAST(n_chars AS VARCHAR) || 'px.',
                       {bpe_pat_sql})) AS INT) AS n_pieces_salted,
                   CAST(len(list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), x -> x != '')) AS INT) AS n_ws_tokens,
                   round(100.0 * len(regexp_extract_all(text, {bpe_pat_sql}))
                         / greatest(len(text), 1), 6) AS pieces_per_100chars
            FROM documents
        """,
        "sketch_quantiles": """
            SELECT l_returnflag, q, count(*) AS n, TRUE AS within_bound
            FROM lineitem, (SELECT unnest([0.25, 0.5, 0.75, 0.9]) AS q)
            GROUP BY l_returnflag, q
        """,
        "stream_seen_filter": """
            SELECT user_id, min(event_id) AS event_id
            FROM events GROUP BY user_id
        """,
        "j10_interval_join": """
            WITH err AS (
              SELECT event_id AS incident_id, ts AS t0, ts + INTERVAL 10 MINUTE AS t1
              FROM events WHERE event_type = 'error'
            ), clk AS (
              SELECT ts AS t_click FROM events WHERE event_type = 'click'
            )
            SELECT incident_id, count(*) AS n_clicks
            FROM err JOIN clk ON t_click >= t0 AND t_click <= t1
            GROUP BY incident_id
        """,
        "w6_sequential_scan": """
            WITH w AS (
              SELECT event_type, event_id, value,
                     max(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
              FROM events WHERE value IS NOT NULL
            )
            SELECT event_type, event_id, value
            FROM w WHERE prev_max IS NULL OR value > prev_max
        """,
        "neardup_cosine_pairs": """
            WITH p AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     round(
                       list_sum(list_transform(range(1, len(a.embedding) + 1),
                                i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
                                i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
                          * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
                                i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 6) AS score
              FROM embeddings a JOIN embeddings b
                ON a.label = b.label AND a.vec_id < b.vec_id
            )
            SELECT id_a, id_b, score FROM p WHERE score >= 0.35
        """,
        # r18: shingle identity is the 60-bit md5 hash in BOTH engines
        # (dedup._hashed_shingle_sets — the minhash identity convention):
        # sizes, intersections and the threshold all evaluate over the
        # hashed set, so engine and oracle agree unconditionally
        "dedup_jaccard_prefix": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x != '') AS w
              FROM documents
            ), sh AS (
              SELECT DISTINCT doc_id,
                     CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15) AS BIGINT) AS shingle
              FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)
            ), sizes AS (
              SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
            ), inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
            FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
            WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.5
        """,
        "dedup_exact_prefix": """
            SELECT md5(substr(text, 1, 100)) AS text_hash,
                   min(doc_id) AS canonical_id, count(*) AS n_dupes
            FROM documents GROUP BY 1 HAVING count(*) > 1
        """,
        # the MinHash-LSH pipeline emits exact-Jaccard-verified pairs, so
        # its oracle is the EXACT all-pairs result: the banded-LSH candidate
        # stage must reach 100% recall at threshold 0.5 (16 bands over 32
        # md5-affine minhashes -> per-pair miss prob <=1e-4 at j=0.5,
        # deterministic signatures) or this row turns red.
        "dedup_minhash": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x != '') AS w
              FROM documents
            ), sh AS (
              SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
              FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)
            ), sizes AS (
              SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
            ), inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
            FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
            WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.5
        """,
        "dedup_minhash_sigs": f"""
            WITH toks AS (
              SELECT doc_id AS id,
                     list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '') AS tk
              FROM documents
            ), sh AS (
              SELECT id, unnest(list_distinct(list_transform(
                       range(1, greatest(len(tk) - 2, 0) + 1),
                       i -> array_to_string(tk[i:i+2], ' ')))) AS shingle
              FROM toks
            ), h AS (
              SELECT id, {minhash_terms}
              FROM (SELECT id, CAST('0x'||substr(md5(shingle),1,15) AS BIGINT) AS x FROM sh)
            ), m AS (SELECT id, {minhash_aggs} FROM h GROUP BY id)
            SELECT id, {minhash_arr} FROM m
        """,
        "incremental_dedup": f"""
            WITH RECURSIVE toks AS (
              SELECT doc_id AS id,
                     list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '') AS tk
              FROM documents
            ), sh AS (
              SELECT id, unnest(list_distinct(list_transform(
                       range(1, greatest(len(tk) - 2, 0) + 1),
                       i -> array_to_string(tk[i:i+2], ' ')))) AS shingle
              FROM toks
            ), hx AS (
              SELECT id, {minhash_terms}
              FROM (SELECT id, CAST('0x'||substr(md5(shingle),1,15) AS BIGINT) AS x FROM sh)
            ), m AS (SELECT id, {minhash_aggs} FROM hx GROUP BY id),
            o AS (SELECT * FROM m WHERE id % 2 = 0),
            n AS (SELECT * FROM m WHERE id % 2 = 1),
            cd AS (
              SELECT DISTINCT n.id
              FROM n JOIN o ON ({_band_match("n", "o")})
              WHERE {_sig_agree("n", "o")} >= 0.5
            ),
            rem AS (SELECT * FROM n WHERE id NOT IN (SELECT id FROM cd)),
            pr AS (
              SELECT a.id AS id_a, b.id AS id_b
              FROM rem a JOIN rem b
                ON a.id < b.id AND ({_band_match("a", "b")})
              WHERE {_sig_agree("a", "b")} >= 0.5
            ), e AS (
              SELECT id_a AS s, id_b AS d FROM pr
              UNION
              SELECT id_b, id_a FROM pr
            ), nodes AS (
              SELECT DISTINCT s AS id FROM e
            ), reach(id, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT reach.id, e.d FROM reach JOIN e ON reach.r = e.s
            ), comp AS (
              SELECT id, min(r) AS component FROM reach GROUP BY id
            )
            SELECT rem.id
            FROM rem LEFT JOIN comp ON comp.id = rem.id
            WHERE comp.id IS NULL OR comp.component = rem.id
        """,
        "stream_incremental_dedup": f"""
            WITH toks AS (
              SELECT doc_id AS id,
                     list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '') AS tk
              FROM documents
            ), sh AS (
              SELECT id, unnest(list_distinct(list_transform(
                       range(1, greatest(len(tk) - 2, 0) + 1),
                       i -> array_to_string(tk[i:i+2], ' ')))) AS shingle
              FROM toks
            ), hx AS (
              SELECT id, {minhash_terms}
              FROM (SELECT id, CAST('0x'||substr(md5(shingle),1,15) AS BIGINT) AS x FROM sh)
            ), m AS (SELECT id, {minhash_aggs} FROM hx GROUP BY id),
            o AS (SELECT * FROM m WHERE id % 2 = 0),
            n AS (SELECT * FROM m WHERE id % 2 = 1),
            cd AS (
              SELECT DISTINCT n.id
              FROM n JOIN o ON ({_band_match("n", "o")})
              WHERE {_sig_agree("n", "o")} >= 0.5
            )
            SELECT n.id FROM n WHERE n.id NOT IN (SELECT id FROM cd)
        """,
        # streaming curation replay: the stateless gates (C4 line-level
        # page synthesis + gopher measures at min_words=30) restrict the
        # arriving odd half BEFORE the stream_incremental_dedup
        # cross-index signature filter; stateless maps and the
        # stream-static join are batch-equivalent by construction
        "stream_curation_pipeline": f"""
            WITH toks AS (
              SELECT doc_id AS id,
                     COALESCE(list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> ''), []) AS tk
              FROM documents
            ), sized AS (
              SELECT id, tk, CAST(ceil(len(tk) / 6.0) AS INT) AS nl,
                     CAST('0x' || substr(md5('li:' || CAST(id AS VARCHAR)), 1, 13) AS BIGINT)
                         % 13 = 0 AS lorem,
                     CAST('0x' || substr(md5('br:' || CAST(id AS VARCHAR)), 1, 13) AS BIGINT)
                         % 11 = 0 AS brace
              FROM toks WHERE id % 2 = 1 AND len(tk) > 0
            ), body AS (
              SELECT id,
                     array_to_string(tk[i*6+1 : i*6+6], ' ')
                     || (['.', '!', '?', '', ' javascript.'])[
                          CAST(CAST('0x' || substr(md5(CAST(id AS VARCHAR) || ':'
                               || CAST(i AS VARCHAR)), 1, 13) AS BIGINT) % 5 AS INT) + 1]
                       AS ln
              FROM sized, UNNEST(range(0, greatest(nl, 0))) AS t(i)
            ), clines AS (
              SELECT id, ln FROM body
              UNION ALL
              SELECT id, 'lorem ipsum dolor sit.' FROM sized WHERE lorem
              UNION ALL
              SELECT id, 'if (x) {{ return y; }}' FROM sized WHERE brace
            ), c4p AS (
              SELECT id FROM clines GROUP BY id
              HAVING NOT bool_or(contains(lower(ln), 'lorem ipsum') OR contains(ln, '{{'))
                 AND count(*) FILTER (
                       regexp_matches(ln, '[.!?\"]$')
                       AND len(string_split_regex(trim(ln), ' +')) >= 5
                       AND NOT contains(lower(ln), 'javascript')) >= 3
            ), gm AS (
              SELECT t.id, t.tk,
                     len(t.tk) AS n_words,
                     CASE WHEN len(t.tk) = 0 THEN 0.0
                          ELSE list_sum(list_transform(t.tk, x -> len(x))) / len(t.tk) END AS mwl,
                     list_transform(range(1, greatest(len(t.tk) - 1, 0) + 1),
                                    i -> t.tk[i] || ' ' || t.tk[i+1]) AS g2,
                     list_transform(range(1, greatest(len(t.tk) - 2, 0) + 1),
                                    i -> t.tk[i] || ' ' || t.tk[i+1] || ' ' || t.tk[i+2]) AS g3,
                     len(list_filter(list_distinct(t.tk),
                         x -> x IN ('the','a','of','and','to','in','is','it','for','on'))) AS stop_hits
              FROM toks t JOIN c4p ON c4p.id = t.id
            ), s AS (
              SELECT id, tk FROM (
                SELECT id, tk, n_words, mwl, stop_hits,
                       CASE WHEN len(g2) = 0 THEN 0.0
                            ELSE list_max(list_transform(list_distinct(g2),
                                   x -> len(list_filter(g2, y -> y = x)))) / len(g2) END AS top2,
                       CASE WHEN len(g3) = 0 THEN 0.0
                            ELSE 1.0 - len(list_distinct(g3)) / len(g3) END AS dup3
                FROM gm
              )
              WHERE n_words >= 30 AND n_words <= 100000
                AND mwl >= 3.0 AND mwl <= 10.0
                AND top2 <= 0.20 AND dup3 <= 0.30
                AND stop_hits >= 2
            ), sh AS (
              SELECT id, unnest(list_distinct(list_transform(
                       range(1, greatest(len(tk) - 2, 0) + 1),
                       i -> array_to_string(tk[i:i+2], ' ')))) AS shingle
              FROM toks
            ), hx AS (
              SELECT id, {minhash_terms}
              FROM (SELECT id, CAST('0x'||substr(md5(shingle),1,15) AS BIGINT) AS x FROM sh)
            ), m AS (SELECT id, {minhash_aggs} FROM hx GROUP BY id),
            o AS (SELECT * FROM m WHERE id % 2 = 0),
            n AS (SELECT m.* FROM m JOIN s ON s.id = m.id),
            cd AS (
              SELECT DISTINCT n.id
              FROM n JOIN o ON ({_band_match("n", "o")})
              WHERE {_sig_agree("n", "o")} >= 0.5
            )
            SELECT s.id AS doc_id, CAST(len(s.tk) AS BIGINT) AS n_tokens
            FROM s WHERE s.id NOT IN (SELECT id FROM cd)
        """,
        "simhash": f"""
            WITH toks AS (
              SELECT doc_id AS id,
                     unnest(list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '')) AS tok
              FROM documents
            ), h AS (
              SELECT id, CAST('0x'||substr(md5(tok),1,15) AS BIGINT) AS h FROM toks
            ), b AS (
              SELECT id, count(*) AS n,
                     {simhash_bitsums}
              FROM h GROUP BY id
            )
            SELECT id, {simhash_fp}
                   AS simhash
            FROM b
        """,
        "dedup_jaccard": """
            WITH toks AS (
              SELECT doc_id, lang, source,
                     list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x != '') AS w
              FROM documents
            ), sh AS (
              SELECT DISTINCT doc_id, lang, source,
                     w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
              FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)
            ), sizes AS (
              SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
            ), inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
              FROM sh a JOIN sh b
                ON a.lang = b.lang AND a.source = b.source AND a.shingle = b.shingle
               AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
            FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
            WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.5
        """,
        "text_quality": """
            WITH t AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), x -> x != '') AS toks,
                     list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x != '') AS ltoks
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(toks) AS INT) AS n_tokens,
                   CAST(len(regexp_extract_all(text, '\\w+|[^\\w \\t\\n\\x0B\\f\\r]')) AS INT) AS n_regex_tokens,
                   round(CAST(len(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / greatest(len(text), 1), 6) AS punct_ratio,
                   round(CAST(len(list_filter(ltoks, x -> x IN ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE) / greatest(len(ltoks), 1), 6) AS en_stopword_ratio,
                   (CAST(len(list_filter(ltoks, x -> x IN ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE) / greatest(len(ltoks), 1)) > 0.15 AS is_en_guess
            FROM t
        """,
        "gopher_repetition": _gopher_ladder_oracle(),
        "select_token_budget": """
            WITH t AS (
              SELECT doc_id, source,
                     CAST(len(list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), x -> x != '')) AS INT) AS n_tokens,
                     round(CAST(len(list_filter(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x != ''),
                                x -> x IN ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
                           / greatest(len(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x != '')), 1), 6) AS quality
              FROM documents
            ), c AS (
              SELECT doc_id, source, n_tokens, quality,
                     sum(n_tokens) OVER (PARTITION BY source
                                         ORDER BY quality DESC NULLS LAST, doc_id
                                         ROWS UNBOUNDED PRECEDING) AS cs
              FROM t
            )
            SELECT doc_id, source, n_tokens, quality FROM c WHERE cs <= 800
        """,
        "text_corpus_stats": """
            SELECT source, count(*) AS n_docs,
                   CAST(sum(len(list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), x -> x != ''))) AS BIGINT) AS total_tokens,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents GROUP BY source
        """,
        "ann_cosine_topk": """
            WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
                 scored AS (
                   SELECT v.vec_id,
                          round(
                            list_sum(list_transform(range(1, len(v.embedding) + 1),
                                     i -> CAST(v.embedding[i] AS DOUBLE) * CAST(q.e[i] AS DOUBLE)))
                            / (sqrt(list_sum(list_transform(range(1, len(v.embedding) + 1),
                                     i -> CAST(v.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE))))
                               * sqrt(list_sum(list_transform(range(1, len(q.e) + 1),
                                     i -> CAST(q.e[i] AS DOUBLE) * CAST(q.e[i] AS DOUBLE))))), 6) AS score
                   FROM embeddings v, q
                 )
            SELECT vec_id, score FROM scored ORDER BY score DESC, vec_id LIMIT 10
        """,
        # fake-media decode replay: payload bytes ARE md5 hex pairs, so the
        # oracle regenerates the same pixels from md5 substrings and reduces
        # them with exact integer-valued double sums (divisors are powers of
        # two, so means are exact; std via sqrt(E[x^2]-E[x]^2) matches numpy
        # at round(6))
        "multimodal_features": """
            WITH px AS (
              SELECT doc_id, flatten(list_transform(range(0, 16), blk ->
                       list_transform(range(0, 16), j ->
                         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || CAST(blk AS VARCHAR)), 2 * j + 1, 2)) AS BIGINT) AS DOUBLE)))) AS b
              FROM documents
            ), s AS (
              SELECT doc_id, list_sum(b) / 256.0 AS m,
                     list_sum(list_transform(b, x -> x * x)) / 256.0 AS m2,
                     list_min(b) AS mn, list_max(b) AS mx
              FROM px
            )
            SELECT doc_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
                   round(m, 6) AS mean_px, round(sqrt(m2 - m * m), 6) AS std_px,
                   mn AS min_px, mx AS max_px
            FROM s
        """,
        # video replay: frame f of the 6x(8x8) fake video lives at byte
        # offset f*64; every-3rd-frame sampling keeps f in {0,3}; nearest
        # 8x8 -> 4x4 resize picks source pixel (2r, 2c), i.e. md5 block
        # f*4+r, hex chars 4c+1..4c+2
        "multimodal_frames": """
            WITH fr AS (SELECT unnest([0, 3]) AS f),
            px AS (
              SELECT doc_id, f, flatten(list_transform(range(0, 4), r ->
                       list_transform(range(0, 4), c ->
                         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|v|' || CAST(f * 4 + r AS VARCHAR)), 4 * c + 1, 2)) AS BIGINT) AS DOUBLE)))) AS b
              FROM documents, fr
              WHERE doc_id < 100
            ), s AS (
              SELECT doc_id, list_sum(b) / 16.0 AS m,
                     list_sum(list_transform(b, x -> x * x)) / 16.0 AS m2,
                     list_min(b) AS mn, list_max(b) AS mx
              FROM px
            )
            SELECT doc_id, CAST(4 AS INT) AS width, CAST(4 AS INT) AS height,
                   round(m, 6) AS mean_px, round(sqrt(m2 - m * m), 6) AS std_px,
                   mn AS min_px, mx AS max_px
            FROM s
        """,
        # X3: the seeded linear "checkpoint" is a fixed artifact; its weight
        # matrix is embedded as literals and the oracle recomputes
        # tanh(V·W) per output component
        "x3_batch_embed": _x3_oracle_sql(),
        "neardup_lsh_pairs": _neardup_lsh_oracle_sql(),
        "dedup_semantic": _semantic_dedup_oracle_sql(),
        "dedup_semantic_kmeans": _semantic_dedup_kmeans_oracle_sql(),
        "langid_classifier": _langid_classifier_oracle_sql(),
        "langid_confident": _langid_confident_oracle_sql(),
        "blocklist_scan": _blocklist_scan_oracle_sql(BLOCKLIST_TERMS, min_hits=3),
        "dedup_url": _dedup_url_oracle_sql(),
        "kmeans_labels": _kmeans_labels_oracle_sql(),
        "c4_filters": _c4_filters_oracle_sql(),
        "winnow_fingerprints": _winnow_oracle_sql(),
        "hard_negatives": _hard_negatives_oracle_sql(),
        "dedup_containment": _containment_oracle_sql(),
        "wordpiece_vocab": _wordpiece_vocab_oracle_sql(),
        "wordpiece_encode": _wordpiece_encode_oracle_sql(),
        "stream_url_dedup": _stream_url_dedup_oracle_sql(),
        # stateless streaming map == the batch operator: same replay
        "stream_c4_filters": _c4_filters_oracle_sql(),
        "decontam_semantic": _semantic_decontam_oracle_sql(),
        "g8_rayleigh": _g8_rayleigh_oracle_sql(),
        "dbscan_ladder": _dbscan_ladder_oracle_sql(),
        "dbscan_mutual_reach": _dbscan_mutual_reach_oracle_sql(),
        # dendrogram merge record: the ladder replay aligned with itself
        # across the two eps heights (label = -1 marks noise in the
        # replay; the engine side filters NULL labels — same rows)
        "dbscan_merge_events": f"""
            WITH ladder AS ({_dbscan_ladder_oracle_sql()}),
            lo AS (
                SELECT vec_id, label AS label_lo FROM ladder
                WHERE eps = 0.02 AND label <> -1
            ),
            hi AS (
                SELECT vec_id, label AS label_hi FROM ladder
                WHERE eps = 0.04 AND label <> -1
            )
            SELECT label_hi,
                   count(DISTINCT label_lo) AS n_children,
                   CAST(sum(CASE WHEN label_lo IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_born,
                   min(label_lo) AS min_child
            FROM hi LEFT JOIN lo USING (vec_id)
            GROUP BY label_hi
        """,
        # epsilon-grid occupancy diagnostic: same cell keys as the DBSCAN
        # candidate join (floor(x/eps) on double-cast coords — FLOAT ->
        # DOUBLE is exact, division/floor bit-identical); sums cast to
        # BIGINT (DuckDB HUGEINT renders float64 at the driver, Spark
        # long renders int — width classes must match)
        "dbscan_cell_stats": """
            WITH cells AS (
                SELECT floor(CAST(embedding[1] AS DOUBLE) / 0.02) AS cx,
                       floor(CAST(embedding[2] AS DOUBLE) / 0.02) AS cy,
                       count(*) AS c
                FROM embeddings
                GROUP BY 1, 2
            )
            SELECT CAST(sum(c) AS BIGINT) AS n_points,
                   count(*) AS n_cells,
                   CAST(max(c) AS BIGINT) AS max_cell_count,
                   CAST(sum(c * c) AS BIGINT) AS sum_sq_cell_count
            FROM cells
        """,
        # pinned-outcome certifications for engine-internal numerics: the
        # Spark side computes the invariant (HLL error bound, planted-motion
        # recovery, PCA orthonormality) and the oracle pins the asserted
        # outcome plus every cross-checkable exact value
        "hll_user_counts": """
            SELECT event_type, count(DISTINCT user_id) AS n_users_exact,
                   true AS within_bound
            FROM events GROUP BY event_type
        """,
        "g9_optical_flow": """
            SELECT * FROM (VALUES
              ('d1', CAST(6 AS BIGINT), true, true),
              ('d2', CAST(6 AS BIGINT), true, true),
              ('d3', CAST(6 AS BIGINT), true, true)
            ) t(g, n_tracks, tracked_ok, disp_ok)
        """,
        "x4_pca": """
            SELECT CAST(8 AS BIGINT) AS k,
                   (SELECT count(*) FROM embeddings) AS n_rows,
                   true AS orthonormal_ok, true AS variance_ok
        """,
        "emb_transform_scaler": """
            WITH x AS (
              SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
              FROM embeddings, UNNEST(range(1, 65)) t(i)
            ), st AS (
              SELECT i, avg(v) AS mu, stddev_samp(v) AS sd FROM x GROUP BY i
            )
            SELECT x.vec_id, x.i - 1 AS dim, round((x.v - st.mu) / st.sd, 6) AS v
            FROM x JOIN st USING (i)
        """,
        # recall-bound certifications: the Spark side computes macro
        # recall@10 of the approximate method vs the exact scan and asserts
        # the bound IN the result; the oracle pins the asserted outcome, so
        # a recall regression below the bound flips the row red.
        "emb_transform_kmeans": (
            "SELECT count(*) AS n_rows, true AS labels_in_range FROM embeddings"
        ),
        "pack_chunks": """
            WITH base AS (
                SELECT doc_id,
                       -- mirror Spark's NULL-text coalesce-to-0 (corpus.py::
                       -- pack_token_chunks) so a NULL-text doc packs as 0
                       -- tokens in both engines
                       COALESCE(CAST(len(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                            x -> x != '')) AS BIGINT), 0) AS n_tokens,
                       CAST('0x' || substr(md5('42_' || CAST(doc_id AS VARCHAR)), 1, 15)
                            AS BIGINT) AS shuf
                FROM documents
            ), c AS (
                SELECT doc_id, n_tokens,
                       COALESCE(SUM(n_tokens) OVER (
                           ORDER BY shuf, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS before
                FROM base
            )
            SELECT doc_id, n_tokens,
                   CAST(before // 4096 AS BIGINT) AS chunk_id,
                   CAST(before % 4096 AS BIGINT) AS chunk_offset
            FROM c
        """,
        "multimodal_audio": """
            WITH b AS (
              SELECT doc_id, flatten(list_transform(range(0, 16), blk ->
                       list_transform(range(0, 16), j ->
                         CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|a|' || CAST(blk AS VARCHAR)), 2 * j + 1, 2)) AS BIGINT) AS DOUBLE)))) AS s
              FROM documents
            )
            SELECT doc_id,
                   CAST(256 AS INT) AS n_samples,
                   CAST(8000 AS INT) AS sample_rate,
                   round(256 / 8000.0, 6) AS duration_s,
                   round(list_sum(list_transform(s, x -> x - 128.0)) / 256.0, 6)
                       AS mean_amp,
                   round(sqrt(list_sum(list_transform(s,
                         x -> (x - 128.0) * (x - 128.0))) / 256.0), 6) AS rms,
                   CAST(len(list_filter(range(2, 257),
                         i -> (s[i-1] - 128.0) * (s[i] - 128.0) < 0)) AS BIGINT)
                       AS n_zero_cross
            FROM b
        """,
        "dsir_logratio": """
            WITH tok AS (
                SELECT doc_id,
                       unnest(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                          x -> x != '')) AS token
                FROM documents
            ), ttok AS (
                SELECT unnest(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                          x -> x != '')) AS token
                FROM documents WHERE lang = 'en'
            ), cr AS (
                SELECT token, count(*) AS cr FROM tok GROUP BY token
            ), ct AS (
                SELECT token, count(*) AS ct FROM ttok GROUP BY token
            ), vocab AS (
                SELECT token, coalesce(cr, 0) AS cr, coalesce(ct, 0) AS ct
                FROM cr FULL OUTER JOIN ct USING (token)
            ), scal AS (
                SELECT sum(cr) AS Nr, sum(ct) AS Nt, count(*) AS V FROM vocab
            )
            SELECT doc_id,
                   count(*) AS n_tokens,
                   round(CAST(sum(CAST(
                           ln((ct + 1) / (Nt + V)) - ln((cr + 1) / (Nr + V))
                         AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) + 0.0
                       AS dsir_logratio
            FROM tok JOIN vocab USING (token) CROSS JOIN scal
            GROUP BY doc_id
        """,
        # hashed-feature DSIR replay (the paper's actual bucket space):
        # token -> md5 52-bit integer mod 1024, same add-one math over
        # bucket counts; V = observed buckets
        "dsir_hashed": """
            WITH tok AS (
                SELECT doc_id,
                       CAST('0x' || substr(md5(w), 1, 13) AS BIGINT) % 1024
                           AS token
                FROM (SELECT doc_id,
                             unnest(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                                x -> x != '')) AS w
                      FROM documents)
            ), ttok AS (
                SELECT CAST('0x' || substr(md5(w), 1, 13) AS BIGINT) % 1024
                           AS token
                FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                                x -> x != '')) AS w
                      FROM documents WHERE lang = 'en')
            ), cr AS (
                SELECT token, count(*) AS cr FROM tok GROUP BY token
            ), ct AS (
                SELECT token, count(*) AS ct FROM ttok GROUP BY token
            ), vocab AS (
                SELECT token, coalesce(cr, 0) AS cr, coalesce(ct, 0) AS ct
                FROM cr FULL OUTER JOIN ct USING (token)
            ), scal AS (
                SELECT sum(cr) AS Nr, sum(ct) AS Nt, count(*) AS V FROM vocab
            )
            SELECT doc_id,
                   count(*) AS n_tokens,
                   round(CAST(sum(CAST(
                           ln((ct + 1) / (Nt + V)) - ln((cr + 1) / (Nr + V))
                         AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6) + 0.0
                       AS dsir_logratio
            FROM tok JOIN vocab USING (token) CROSS JOIN scal
            GROUP BY doc_id
        """,
        # exact-substring decontam replay: the token_windows oracle
        # pattern at size=7/stride=1 (full windows only), md5 span
        # hashes, eval side DISTINCT before the join — the same
        # grouped-by-span program, never all-pairs
        "decontam_substring": """
            WITH base AS (
                SELECT doc_id,
                       COALESCE(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                x -> x != ''), []) AS toks,
                       substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
                           AS is_eval
                FROM documents
            ), sized AS (
                SELECT doc_id, toks, len(toks) AS n, is_eval FROM base
            ), wins AS (
                SELECT doc_id, is_eval, toks, n,
                       unnest(range(0, greatest(n, 1), 1)) AS start
                FROM sized
            ), full_wins AS (
                SELECT doc_id, is_eval, start,
                       md5(array_to_string(toks[start + 1 : start + 7], ' '))
                           AS h
                FROM wins
                WHERE (start = 0 OR start - 1 + 7 < n)
                  AND least(start + 7, n) - start = 7
            ), espan AS (
                SELECT DISTINCT h FROM full_wins WHERE is_eval
            ), tspan AS (
                SELECT doc_id, start, h FROM full_wins WHERE NOT is_eval
            )
            SELECT doc_id,
                   count(*) AS n_span_positions,
                   count(DISTINCT h) AS n_distinct_spans,
                   CAST(min(start) AS BIGINT) AS first_start
            FROM tspan JOIN espan USING (h)
            GROUP BY doc_id
        """,
        # content-defined chunking replay: boundary predicate = 52-bit
        # md5 prefix (the hash_uniform integer form) of the stride-1
        # 4-token window, mod 8; chunks rebuilt from the sorted boundary
        # list via inclusive list slicing (toks[a+1 : b] == Spark
        # slice(toks, a+1, b-a)); sums cast BIGINT for width parity
        "cdc_chunk_dedup": """
            WITH base AS (
                SELECT doc_id,
                       COALESCE(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                x -> x != ''), []) AS toks
                FROM documents
            ), sized AS (
                SELECT doc_id, toks, len(toks) AS n
                FROM base WHERE len(toks) > 0
            ), wins AS (
                SELECT doc_id, toks, n,
                       unnest(range(0, greatest(n, 1), 1)) AS start
                FROM sized
            ), bposs AS (
                SELECT doc_id, start FROM (
                    SELECT doc_id, start, n,
                           CAST('0x' || substr(md5(array_to_string(
                                toks[start + 1 : start + 4], ' ')), 1, 13)
                                AS BIGINT) AS h
                    FROM wins
                    WHERE (start = 0 OR start - 1 + 4 < n)
                      AND least(start + 4, n) - start = 4
                ) WHERE start > 0 AND h % 8 = 0
            ), bounds AS (
                SELECT doc_id, list_sort(list(start)) AS bs
                FROM bposs GROUP BY doc_id
            ), spans AS (
                SELECT doc_id, toks,
                       list_prepend(CAST(0 AS BIGINT), bs2) AS starts,
                       list_append(bs2, n) AS ends
                FROM (SELECT s.doc_id, s.toks, s.n,
                             COALESCE(b.bs, CAST([] AS BIGINT[])) AS bs2
                      FROM sized s LEFT JOIN bounds b USING (doc_id))
            ), chunks AS (
                SELECT doc_id,
                       md5(array_to_string(
                           toks[starts[i] + 1 : ends[i]], ' ')) AS ch
                FROM (SELECT doc_id, toks, starts, ends,
                             unnest(range(1, len(starts) + 1)) AS i
                      FROM spans)
            ), counts AS (
                SELECT ch, count(*) AS cnt FROM chunks GROUP BY ch
            )
            SELECT doc_id,
                   count(*) AS n_chunks,
                   CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_dup_chunks
            FROM chunks JOIN counts USING (ch)
            GROUP BY doc_id
        """,
        # span-excision replay: same window/hash program as
        # decontam_substring; covered positions distinct per doc, kept
        # tokens rebuilt with an ORDER BY string_agg (a fully-leaked doc
        # LEFT-joins to clean_text = '')
        "decontam_excise": """
            WITH base AS (
                SELECT doc_id,
                       COALESCE(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                x -> x != ''), []) AS toks,
                       substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
                           AS is_eval
                FROM documents
            ), sized AS (
                SELECT doc_id, toks, len(toks) AS n, is_eval FROM base
            ), wins AS (
                SELECT doc_id, is_eval, toks, n,
                       unnest(range(0, greatest(n, 1), 1)) AS start
                FROM sized
            ), full_wins AS (
                SELECT doc_id, is_eval, start,
                       md5(array_to_string(toks[start + 1 : start + 7], ' '))
                           AS h
                FROM wins
                WHERE (start = 0 OR start - 1 + 7 < n)
                  AND least(start + 7, n) - start = 7
            ), espan AS (
                SELECT DISTINCT h FROM full_wins WHERE is_eval
            ), hits AS (
                SELECT t.doc_id, t.start
                FROM (SELECT doc_id, start, h FROM full_wins
                      WHERE NOT is_eval) t
                JOIN espan USING (h)
            ), badpos AS (
                SELECT DISTINCT doc_id, pos FROM (
                    SELECT doc_id,
                           unnest(range(start, start + 7)) AS pos
                    FROM hits
                )
            ), toks_pos AS (
                SELECT s.doc_id, i AS pos, s.toks[i + 1] AS tok
                FROM (SELECT doc_id, toks,
                             unnest(range(0, len(toks))) AS i
                      FROM sized
                      WHERE NOT is_eval
                        AND doc_id IN (SELECT doc_id FROM badpos)) s
            ), kept AS (
                SELECT t.doc_id, t.pos, t.tok
                FROM toks_pos t
                LEFT JOIN badpos b
                  ON t.doc_id = b.doc_id AND t.pos = b.pos
                WHERE b.pos IS NULL
            ), clean AS (
                SELECT doc_id,
                       string_agg(tok, ' ' ORDER BY pos) AS clean_text
                FROM kept GROUP BY doc_id
            )
            SELECT c.doc_id,
                   CAST(s.n AS BIGINT) AS n_tokens,
                   c.n_removed,
                   COALESCE(cl.clean_text, '') AS clean_text
            FROM (SELECT doc_id, count(*) AS n_removed
                  FROM badpos GROUP BY doc_id) c
            JOIN sized s USING (doc_id)
            LEFT JOIN clean cl USING (doc_id)
        """,
        # train×train self-dedup replay: same window/hash program as
        # decontam_substring but the corpus on both sides — owners =
        # per-span min(doc_id) kept only where min != max (cross-doc
        # duplicates), hits = non-owner occurrences, excision identical
        # to the decontam_excise rebuild
        "dedup_exact_substring": """
            WITH base AS (
                SELECT doc_id,
                       COALESCE(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                x -> x != ''), []) AS toks
                FROM documents
            ), sized AS (
                SELECT doc_id, toks, len(toks) AS n FROM base
            ), wins AS (
                SELECT doc_id, toks, n,
                       unnest(range(0, greatest(n, 1), 1)) AS start
                FROM sized
            ), full_wins AS (
                SELECT doc_id, start,
                       md5(array_to_string(toks[start + 1 : start + 7], ' '))
                           AS h
                FROM wins
                WHERE (start = 0 OR start - 1 + 7 < n)
                  AND least(start + 7, n) - start = 7
            ), own AS (
                SELECT h, min(doc_id) AS owner FROM full_wins
                GROUP BY h HAVING min(doc_id) != max(doc_id)
            ), hits AS (
                SELECT f.doc_id, f.start
                FROM full_wins f JOIN own o USING (h)
                WHERE f.doc_id != o.owner
            ), badpos AS (
                SELECT DISTINCT doc_id, pos FROM (
                    SELECT doc_id,
                           unnest(range(start, start + 7)) AS pos
                    FROM hits
                )
            ), toks_pos AS (
                SELECT s.doc_id, i AS pos, s.toks[i + 1] AS tok
                FROM (SELECT doc_id, toks,
                             unnest(range(0, len(toks))) AS i
                      FROM sized
                      WHERE doc_id IN (SELECT doc_id FROM badpos)) s
            ), kept AS (
                SELECT t.doc_id, t.pos, t.tok
                FROM toks_pos t
                LEFT JOIN badpos b
                  ON t.doc_id = b.doc_id AND t.pos = b.pos
                WHERE b.pos IS NULL
            ), clean AS (
                SELECT doc_id,
                       string_agg(tok, ' ' ORDER BY pos) AS clean_text
                FROM kept GROUP BY doc_id
            )
            SELECT c.doc_id,
                   CAST(s.n AS BIGINT) AS n_tokens,
                   c.n_removed,
                   COALESCE(cl.clean_text, '') AS clean_text
            FROM (SELECT doc_id, count(*) AS n_removed
                  FROM badpos GROUP BY doc_id) c
            JOIN sized s USING (doc_id)
            LEFT JOIN clean cl USING (doc_id)
        """,
        # Stupid-Backoff bigram replay: bigrams via 1-based list indexing
        # over unnest(range(1, len)) — identical transitions to Spark's
        # shifted-slice zip; integer/HUGEINT divisions promote to double
        # identically on both engines; DECIMAL(38,12) term sums; the
        # + 0.0 collapses -0.0 for an all-seen doc whose terms are all 0
        "bigram_xent": """
            WITH lmbase AS (
                SELECT COALESCE(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                x -> x != ''), []) AS toks
                FROM documents WHERE doc_id % 10 = 0
            ), lmtok AS (
                SELECT unnest(toks) AS w FROM lmbase
            ), cu AS (
                SELECT w, count(*) AS cu FROM lmtok GROUP BY w
            ), nv AS (
                SELECT sum(cu) AS n, count(*) AS v FROM cu
            ), cb AS (
                SELECT w1, w2, count(*) AS cb FROM (
                    SELECT toks[i] AS w1, toks[i + 1] AS w2
                    FROM (SELECT toks, unnest(range(1, len(toks))) AS i
                          FROM lmbase)
                ) GROUP BY w1, w2
            ), scbase AS (
                SELECT doc_id,
                       COALESCE(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                x -> x != ''), []) AS toks
                FROM documents WHERE doc_id % 10 <> 0
            ), inst AS (
                SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
                FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                      FROM scbase)
            ), terms AS (
                SELECT doc_id,
                       CASE WHEN cb.cb IS NOT NULL
                            THEN ln(cb.cb / cu1.cu)
                            ELSE ln(0.4 * (COALESCE(cu2.cu, 0) + 1)
                                    / (nv.n + nv.v))
                       END AS term
                FROM inst
                LEFT JOIN cb USING (w1, w2)
                LEFT JOIN cu cu1 ON inst.w1 = cu1.w
                LEFT JOIN cu cu2 ON inst.w2 = cu2.w
                CROSS JOIN nv
            )
            SELECT doc_id,
                   count(*) AS n_bigrams,
                   round(-CAST(sum(CAST(term AS DECIMAL(38,12))) AS DOUBLE)
                         / count(*), 6) + 0.0 AS xent_nats
            FROM terms GROUP BY doc_id
        """,
        # interpolated Kneser-Ney replay: context totals / follower /
        # predecessor type counts all from the bigram-type CTE; the
        # discount literal is CAST AS DOUBLE so the arithmetic is IEEE
        # (DuckDB would otherwise run it as DECIMAL — the
        # _exact_quantile_cuts_cte lesson); operation order mirrors the
        # Spark expression term-for-term before the round(6) quantizer
        "kneser_ney_xent": """
            WITH lmbase AS (
                SELECT COALESCE(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                x -> x != ''), []) AS toks
                FROM documents WHERE doc_id % 10 = 0
            ), cb AS (
                SELECT w1, w2, count(*) AS cb FROM (
                    SELECT toks[i] AS w1, toks[i + 1] AS w2
                    FROM (SELECT toks, unnest(range(1, len(toks))) AS i
                          FROM lmbase)
                ) GROUP BY w1, w2
            ), cx AS (
                SELECT w1, CAST(sum(cb) AS BIGINT) AS c1,
                       count(*) AS nf1
                FROM cb GROUP BY w1
            ), bw AS (
                SELECT w2, count(*) AS nb2 FROM cb GROUP BY w2
            ), tv AS (
                SELECT (SELECT count(*) FROM cb) AS t,
                       (SELECT count(DISTINCT w) FROM (
                            SELECT unnest(toks) AS w FROM lmbase)) AS v
            ), scbase AS (
                SELECT doc_id,
                       COALESCE(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                x -> x != ''), []) AS toks
                FROM documents WHERE doc_id % 10 <> 0
            ), inst AS (
                SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
                FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                      FROM scbase)
            ), terms AS (
                SELECT doc_id,
                       CASE WHEN cx.c1 IS NOT NULL
                            THEN ln(greatest(COALESCE(cb.cb, 0)
                                             - CAST(0.75 AS DOUBLE),
                                             CAST(0 AS DOUBLE)) / cx.c1
                                    + CAST(0.75 AS DOUBLE) * cx.nf1 / cx.c1
                                      * ((COALESCE(bw.nb2, 0) + 1)
                                         / (tv.t + tv.v)))
                            ELSE ln((COALESCE(bw.nb2, 0) + 1)
                                    / (tv.t + tv.v))
                       END AS term
                FROM inst
                LEFT JOIN cb USING (w1, w2)
                LEFT JOIN cx ON inst.w1 = cx.w1
                LEFT JOIN bw ON inst.w2 = bw.w2
                CROSS JOIN tv
            )
            SELECT doc_id,
                   count(*) AS n_bigrams,
                   round(-CAST(sum(CAST(term AS DECIMAL(38,12))) AS DOUBLE)
                         / count(*), 6) + 0.0 AS xent_nats
            FROM terms GROUP BY doc_id
        """,
        # KN trigram replay: every level's counts from the ONE trigram
        # CTE (context totals cx3, continuation counts n2 = distinct-w1
        # per (w2,w3), their w2 totals cx2, predecessor counts bw, T
        # scalar); p2 computed once in its own projection so the
        # recursive chain isn't spelled twice; same CAST(0.75 AS DOUBLE)
        # discipline and left-assoc arithmetic order as the Spark
        # expression; DECIMAL(38,12) term sums, round(6) + 0.0.
        "kneser_ney_trigram_xent": """
            WITH lmbase AS (
                SELECT COALESCE(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                x -> x != ''), []) AS toks
                FROM documents WHERE doc_id % 10 = 0
            ), c3 AS (
                SELECT w1, w2, w3, count(*) AS c3 FROM (
                    SELECT toks[i] AS w1, toks[i + 1] AS w2,
                           toks[i + 2] AS w3
                    FROM (SELECT toks, unnest(range(1, len(toks) - 1)) AS i
                          FROM lmbase)
                ) GROUP BY w1, w2, w3
            ), cx3 AS (
                SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS c12,
                       count(*) AS nf12
                FROM c3 GROUP BY w1, w2
            ), n2 AS (
                SELECT w2, w3, count(*) AS n2 FROM c3 GROUP BY w2, w3
            ), cx2 AS (
                SELECT w2, CAST(sum(n2) AS BIGINT) AS cv, count(*) AS nfv
                FROM n2 GROUP BY w2
            ), bw AS (
                SELECT w3, count(*) AS nb3 FROM n2 GROUP BY w3
            ), tv AS (
                SELECT (SELECT count(*) FROM n2) AS t,
                       (SELECT count(DISTINCT w) FROM (
                            SELECT unnest(toks) AS w FROM lmbase)) AS v
            ), scbase AS (
                SELECT doc_id,
                       COALESCE(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                x -> x != ''), []) AS toks
                FROM documents WHERE doc_id % 10 <> 0
            ), inst AS (
                SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2,
                       toks[i + 2] AS w3
                FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
                      FROM scbase)
            ), lvl2 AS (
                SELECT inst.doc_id, c3.c3, cx3.c12, cx3.nf12,
                       CASE WHEN cx2.cv IS NOT NULL
                            THEN greatest(COALESCE(n2.n2, 0)
                                          - CAST(0.75 AS DOUBLE),
                                          CAST(0 AS DOUBLE)) / cx2.cv
                                 + CAST(0.75 AS DOUBLE) * cx2.nfv / cx2.cv
                                   * ((COALESCE(bw.nb3, 0) + 1)
                                      / (tv.t + tv.v))
                            ELSE (COALESCE(bw.nb3, 0) + 1) / (tv.t + tv.v)
                       END AS p2
                FROM inst
                LEFT JOIN c3 ON inst.w1 = c3.w1 AND inst.w2 = c3.w2
                             AND inst.w3 = c3.w3
                LEFT JOIN cx3 ON inst.w1 = cx3.w1 AND inst.w2 = cx3.w2
                LEFT JOIN n2 ON inst.w2 = n2.w2 AND inst.w3 = n2.w3
                LEFT JOIN cx2 ON inst.w2 = cx2.w2
                LEFT JOIN bw ON inst.w3 = bw.w3
                CROSS JOIN tv
            ), terms AS (
                SELECT doc_id,
                       ln(CASE WHEN c12 IS NOT NULL
                               THEN greatest(COALESCE(c3, 0)
                                             - CAST(0.75 AS DOUBLE),
                                             CAST(0 AS DOUBLE)) / c12
                                    + CAST(0.75 AS DOUBLE) * nf12 / c12 * p2
                               ELSE p2
                          END) AS term
                FROM lvl2
            )
            SELECT doc_id,
                   count(*) AS n_trigrams,
                   round(-CAST(sum(CAST(term AS DECIMAL(38,12))) AS DOUBLE)
                         / count(*), 6) + 0.0 AS xent_nats
            FROM terms GROUP BY doc_id
        """,
        "bpe_train": _bpe_oracle_sql(),
        "bpe_train_bytes": _bpe_bytes_oracle_sql(),
        "bpe_encode_bytes": _bpe_encode_bytes_oracle_sql(),
        "bpe_encode_byte_ids": _bpe_encode_byte_ids_oracle_sql(),
        "pack_bestfit": _pack_bestfit_oracle_sql(
            budget=128, n_buckets=32, seed=42
        ),
        "bpe_encode": _bpe_encode_oracle_sql(),
        "spm_train": _spm_train_oracle_sql(),
        "spm_encode": _spm_encode_oracle_sql(),
        # edit-distance near-dup replay: exact predicate over ALL
        # shingle-sharing pairs (superset of the Spark side's banded LSH
        # candidates; every qualifying pair in this data sits at shingle
        # jaccard >= 0.8 where banded recall is 1 - 4e-8) + the same
        # length-delta prefilter; distance cast BIGINT for width parity
        "neardup_edit_distance": """
            WITH toks AS (
              SELECT doc_id, lower(text) AS t,
                     list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                 x -> x != '') AS w
              FROM documents
            ), sh AS (
              SELECT DISTINCT doc_id,
                     w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
              FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)
            ), cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            )
            SELECT id_a, id_b,
                   CAST(levenshtein(ta.t, tb.t) AS BIGINT) AS edit_dist
            FROM cand
            JOIN toks ta ON ta.doc_id = id_a
            JOIN toks tb ON tb.doc_id = id_b
            WHERE abs(length(ta.t) - length(tb.t)) <= 16
              AND levenshtein(ta.t, tb.t) <= 16
        """,
        # hashed-linear-classifier scoring replay: md5 52-bit bucket
        # (the dsir_hashed feature space), inline seeded weight
        # expression (identical association to the Spark side:
        # ((u*2-1)*0.0625)), DECIMAL(38,12) weight sums, mean pooling,
        # sigmoid, round(6); exp agrees at round(6) (<=1 ulp libm/JVM)
        "quality_classifier": """
            WITH tok AS (
                SELECT doc_id,
                       unnest(COALESCE(list_filter(
                           string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                           x -> x != ''), [])) AS w
                FROM documents
            ), bkt AS (
                SELECT doc_id,
                       CAST('0x' || substr(md5(w), 1, 13) AS BIGINT)
                           % 1024 AS bucket
                FROM tok
            ), wtd AS (
                SELECT doc_id,
                       ((CAST('0x' || substr(md5('qw:' ||
                             CAST(bucket AS VARCHAR)), 1, 13) AS BIGINT)
                         / 2^52) * 2.0 - 1.0) * 0.0625 AS weight
                FROM bkt
            ), per AS (
                SELECT doc_id,
                       count(*) AS n_tokens,
                       CAST(sum(CAST(weight AS DECIMAL(38,12)))
                            AS DOUBLE) AS s
                FROM wtd GROUP BY doc_id
            )
            SELECT doc_id, n_tokens,
                   round(1.0 / (1.0 + exp(-(s / n_tokens + 0.0))), 6)
                       AS quality_score
            FROM per
        """,
        # Bloom-filter replay: the filter IS its set-bit relation
        # (distinct md5 positions), so membership = "all 4 probed
        # positions found" — the false positives replay exactly
        "bloom_decontaminate": """
            WITH toks AS (
              SELECT doc_id,
                     COALESCE(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                              x -> x != ''), []) AS w,
                     substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS is_eval
              FROM documents
            ), g AS (
              SELECT DISTINCT doc_id, is_eval,
                     array_to_string(w[i:i+6], ' ') AS ng
              FROM toks, UNNEST(range(1, len(w) - 6 + 1)) AS t(i)
              WHERE len(w) >= 7
            ), bits AS (
              SELECT DISTINCT
                     CAST('0x' || substr(md5(ng || h), 1, 13) AS BIGINT)
                         % 262144 AS bit
              FROM g, UNNEST(['#0','#1','#2','#3']) AS t(h)
              WHERE is_eval
            ), probe AS (
              SELECT doc_id, ng, h,
                     CAST('0x' || substr(md5(ng || h), 1, 13) AS BIGINT)
                         % 262144 AS bit
              FROM g, UNNEST(['#0','#1','#2','#3']) AS t(h)
              WHERE NOT is_eval
            ), per AS (
              SELECT p.doc_id, p.ng, count(b.bit) = 4 AS hit
              FROM probe p LEFT JOIN bits b ON b.bit = p.bit
              GROUP BY p.doc_id, p.ng
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_ngrams,
                   CAST(sum(CAST(hit AS INT)) AS BIGINT) AS n_bloom_hits,
                   round(sum(CAST(hit AS INT)) / count(*), 6) AS hit_frac,
                   round(sum(CAST(hit AS INT)) / count(*), 6) >= 0.5 AS flagged
            FROM per GROUP BY doc_id
        """,
        # Count-Min replay: one vocab agg, d x w counter cells, point
        # query = min over the 3 row hashes; est >= true by construction
        "countmin_heavy": """
            WITH tok AS (
              SELECT unnest(COALESCE(list_filter(
                         string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                         x -> x != ''), [])) AS token
              FROM documents
            ), vocab AS (
              SELECT token, count(*) AS cnt FROM tok GROUP BY token
            ), cells AS (
              SELECT token, cnt, r,
                     CAST('0x' || substr(md5(token || r), 1, 13) AS BIGINT)
                         % 16 AS c
              FROM vocab, UNNEST(['#0','#1','#2']) AS t(r)
            ), sketch AS (
              SELECT r, c, sum(cnt) AS counter FROM cells GROUP BY r, c
            ), est AS (
              SELECT cells.token,
                     CAST(min(sketch.counter) AS BIGINT) AS est_count,
                     CAST(min(cells.cnt) AS BIGINT) AS true_count
              FROM cells JOIN sketch
                ON sketch.r = cells.r AND sketch.c = cells.c
              GROUP BY cells.token
            ), total AS (
              SELECT CAST(sum(cnt) AS BIGINT) AS n FROM vocab
            )
            SELECT token, est_count, true_count
            FROM est, total
            WHERE est_count >= n * 0.01
        """,
        # BM25 replay: Lucene idf, DECIMAL(38,12) per-term score sums
        # (the LM-key float discipline), avgdl as sumdl/ndocs explicitly
        # so both engines run the identical IEEE division
        "bm25_topk": """
            WITH base AS (
              SELECT doc_id,
                     COALESCE(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                              x -> x != ''), []) AS w
              FROM documents
            ), st AS (
              SELECT CAST(count(*) AS BIGINT) AS ndocs,
                     CAST(sum(len(w)) AS BIGINT) AS sumdl
              FROM base
            ), occ AS (
              SELECT doc_id, len(w) AS dl,
                     unnest(list_filter(w,
                       x -> x IN ('merge','shuffle','spark','window'))) AS token
              FROM base
            ), tf AS (
              SELECT doc_id, token, count(*) AS tf, min(dl) AS dl
              FROM occ GROUP BY doc_id, token
            ), dft AS (
              SELECT token, CAST(count(*) AS BIGINT) AS dft
              FROM tf GROUP BY token
            ), scored AS (
              SELECT tf.doc_id,
                     CAST(count(*) AS BIGINT) AS n_matched_terms,
                     sum(CAST(
                       ln(1.0 + (st.ndocs - dft.dft + 0.5) / (dft.dft + 0.5))
                       * tf.tf * 2.2
                       / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl
                            / (CAST(st.sumdl AS DOUBLE) / st.ndocs)))
                     AS DECIMAL(38,12))) AS s
              FROM tf JOIN dft ON dft.token = tf.token, st
              GROUP BY tf.doc_id
            )
            SELECT doc_id, n_matched_terms,
                   round(CAST(s AS DOUBLE), 6) AS score
            FROM scored ORDER BY score DESC, doc_id LIMIT 20
        """,
        # SQ replay: exact per-dim min/max "fit", floor(x + 0.5)
        # quantizer (identical IEEE rounding on both sides — the
        # derived_dag lesson), asymmetric-distance shortlist of 100 by
        # (round6, id), exact L2 rerank to 10
        "similarity_sq_topk": """
            WITH q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
            d AS (
              SELECT t.i AS i,
                     min(CAST(v.embedding[t.i] AS DOUBLE)) AS mn,
                     max(CAST(v.embedding[t.i] AS DOUBLE)) AS mx
              FROM embeddings v,
                   UNNEST(range(1, len(v.embedding) + 1)) AS t(i)
              GROUP BY t.i
            ), b AS (
              SELECT list(mn ORDER BY i) AS mins,
                     list(mx ORDER BY i) AS maxs
              FROM d
            ), scored AS (
              SELECT v.vec_id,
                     round(list_sum(list_transform(range(1, len(v.embedding) + 1), i ->
                       CASE WHEN b.maxs[i] = b.mins[i]
                            THEN (CAST(q.e[i] AS DOUBLE) - b.mins[i])
                               * (CAST(q.e[i] AS DOUBLE) - b.mins[i])
                            ELSE (CAST(q.e[i] AS DOUBLE)
                                  - (b.mins[i]
                                     + floor((CAST(v.embedding[i] AS DOUBLE) - b.mins[i])
                                             / (b.maxs[i] - b.mins[i]) * 255.0 + 0.5)
                                       * (b.maxs[i] - b.mins[i]) / 255.0))
                               * (CAST(q.e[i] AS DOUBLE)
                                  - (b.mins[i]
                                     + floor((CAST(v.embedding[i] AS DOUBLE) - b.mins[i])
                                             / (b.maxs[i] - b.mins[i]) * 255.0 + 0.5)
                                       * (b.maxs[i] - b.mins[i]) / 255.0))
                       END)), 6) AS approx_d2,
                     round(list_sum(list_transform(range(1, len(v.embedding) + 1), i ->
                       (CAST(v.embedding[i] AS DOUBLE) - CAST(q.e[i] AS DOUBLE))
                       * (CAST(v.embedding[i] AS DOUBLE) - CAST(q.e[i] AS DOUBLE)))), 6) AS d2
              FROM embeddings v, q, b
            ), short AS (
              SELECT * FROM scored ORDER BY approx_d2, vec_id LIMIT 100
            )
            SELECT vec_id, d2, approx_d2
            FROM short ORDER BY d2, vec_id LIMIT 10
        """,
        # streaming CM replay: additivity makes the drained sketch equal
        # the batch sketch under ANY micro-batch split, so the oracle is
        # the plain batch cell program
        "stream_countmin": """
            WITH tok AS (
              SELECT unnest(COALESCE(list_filter(
                         string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                         x -> x != ''), [])) AS token
              FROM documents
            ), vocab AS (
              SELECT token, count(*) AS cnt FROM tok GROUP BY token
            )
            SELECT ri AS r,
                   CAST('0x' || substr(md5(token || '#' || CAST(ri AS VARCHAR)), 1, 13) AS BIGINT)
                       % 16 AS c,
                   CAST(sum(cnt) AS BIGINT) AS counter
            FROM vocab, UNNEST([0, 1, 2]) AS t(ri)
            GROUP BY r, c
        """,
        # temperature-mixture replay: observed share^alpha weights,
        # DECIMAL(38,12) normalizer sum, explicit double promotion so
        # both engines run the identical IEEE division chain
        "mixture_temperature": """
            WITH base AS (
              SELECT source,
                     len(COALESCE(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                         x -> x != ''), [])) AS ntok
              FROM documents
            ), per AS (
              SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(ntok) AS BIGINT) AS n_tokens
              FROM base GROUP BY source
            ), t AS (
              SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM per
            ), w AS (
              SELECT source, n_docs, n_tokens,
                     pow(n_tokens / CAST(tot AS DOUBLE), 0.3) AS pw
              FROM per, t
            ), ws AS (
              SELECT CAST(sum(CAST(pw AS DECIMAL(38,12))) AS DOUBLE) AS s FROM w
            )
            SELECT source, n_docs, n_tokens,
                   round(pw / s, 6) AS target_frac,
                   round(CASE WHEN n_tokens > 0
                         THEN least(1.0, 50000.0 * (pw / s) / n_tokens)
                         ELSE 0.0 END, 6) AS rate,
                   round(CASE WHEN n_tokens > 0
                         THEN least(1.0, 50000.0 * (pw / s) / n_tokens)
                         ELSE 0.0 END * n_tokens, 6) AS expected_tokens
            FROM w, ws
        """,
        # RRF hybrid replay: both retrievers' CTEs verbatim (bm25 program
        # + the ann_cosine program at k=30), per-list rank windows, then
        # the 1/(60+rank) DECIMAL(38,12) fusion sum
        "hybrid_rrf": """
            WITH base AS (
              SELECT doc_id,
                     COALESCE(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                              x -> x != ''), []) AS w
              FROM documents
            ), st AS (
              SELECT CAST(count(*) AS BIGINT) AS ndocs,
                     CAST(sum(len(w)) AS BIGINT) AS sumdl
              FROM base
            ), occ AS (
              SELECT doc_id, len(w) AS dl,
                     unnest(list_filter(w,
                       x -> x IN ('merge','shuffle','spark','window'))) AS token
              FROM base
            ), tf AS (
              SELECT doc_id, token, count(*) AS tf, min(dl) AS dl
              FROM occ GROUP BY doc_id, token
            ), dft AS (
              SELECT token, CAST(count(*) AS BIGINT) AS dft
              FROM tf GROUP BY token
            ), bmscored AS (
              SELECT tf.doc_id,
                     sum(CAST(
                       ln(1.0 + (st.ndocs - dft.dft + 0.5) / (dft.dft + 0.5))
                       * tf.tf * 2.2
                       / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl
                            / (CAST(st.sumdl AS DOUBLE) / st.ndocs)))
                     AS DECIMAL(38,12))) AS s
              FROM tf JOIN dft ON dft.token = tf.token, st
              GROUP BY tf.doc_id
            ), bm AS (
              SELECT doc_id, round(CAST(s AS DOUBLE), 6) AS score
              FROM bmscored ORDER BY score DESC, doc_id LIMIT 30
            ), q AS (SELECT embedding AS e FROM embeddings WHERE vec_id = 0),
            ann AS (
              SELECT vec_id,
                     round(
                       list_sum(list_transform(range(1, len(v.embedding) + 1),
                                i -> CAST(v.embedding[i] AS DOUBLE) * CAST(q.e[i] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(range(1, len(v.embedding) + 1),
                                i -> CAST(v.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE))))
                          * sqrt(list_sum(list_transform(range(1, len(q.e) + 1),
                                i -> CAST(q.e[i] AS DOUBLE) * CAST(q.e[i] AS DOUBLE))))), 6) AS score
              FROM embeddings v, q
              ORDER BY score DESC, vec_id LIMIT 30
            ), un AS (
              SELECT 'lex' AS list_id, doc_id AS id, score FROM bm
              UNION ALL
              SELECT 'sem' AS list_id, vec_id AS id, score FROM ann
            ), rk AS (
              SELECT list_id, id,
                     row_number() OVER (PARTITION BY list_id
                                        ORDER BY score DESC, id) AS rnk
              FROM un
            ), fused AS (
              SELECT id,
                     CAST(count(DISTINCT list_id) AS BIGINT) AS n_lists,
                     sum(CAST(1.0 / (60.0 + rnk) AS DECIMAL(38,12))) AS s
              FROM rk GROUP BY id
            )
            SELECT id, n_lists, round(CAST(s AS DOUBLE), 6) AS rrf_score
            FROM fused ORDER BY rrf_score DESC, id LIMIT 15
        """,
        # Stupid-Backoff TRIGRAM replay: the bigram_xent program one
        # order up — trigrams via 1-based list indexing over
        # unnest(range(1, len-1)); α forced to DOUBLE before any
        # arithmetic so α and α·α are the identical IEEE values Spark
        # computes (DuckDB would otherwise fold 0.4·0.4 as exact
        # DECIMAL 0.16); a seen trigram implies a seen (w1,w2) bigram
        # and a seen bigram a seen w2, so in-branch denominators are
        # never NULL on either engine
        "trigram_xent": """
            WITH lmbase AS (
                SELECT COALESCE(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                x -> x != ''), []) AS toks
                FROM documents WHERE doc_id % 10 = 0
            ), lmtok AS (
                SELECT unnest(toks) AS w FROM lmbase
            ), cu AS (
                SELECT w, count(*) AS cu FROM lmtok GROUP BY w
            ), nv AS (
                SELECT sum(cu) AS n, count(*) AS v FROM cu
            ), cb AS (
                SELECT w1, w2, count(*) AS cb FROM (
                    SELECT toks[i] AS w1, toks[i + 1] AS w2
                    FROM (SELECT toks, unnest(range(1, len(toks))) AS i
                          FROM lmbase)
                ) GROUP BY w1, w2
            ), ct AS (
                SELECT w1, w2, w3, count(*) AS ct FROM (
                    SELECT toks[i] AS w1, toks[i + 1] AS w2,
                           toks[i + 2] AS w3
                    FROM (SELECT toks, unnest(range(1, len(toks) - 1)) AS i
                          FROM lmbase)
                ) GROUP BY w1, w2, w3
            ), scbase AS (
                SELECT doc_id,
                       COALESCE(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                x -> x != ''), []) AS toks
                FROM documents WHERE doc_id % 10 <> 0
            ), inst AS (
                SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2,
                       toks[i + 2] AS w3
                FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
                      FROM scbase)
            ), terms AS (
                SELECT doc_id,
                       CASE WHEN ct.ct IS NOT NULL
                            THEN ln(ct.ct / c12.cb)
                            WHEN c23.cb IS NOT NULL
                            THEN ln(CAST(0.4 AS DOUBLE) * c23.cb / cu2.cu)
                            ELSE ln((CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE))
                                    * (COALESCE(cu3.cu, 0) + 1)
                                    / (nv.n + nv.v))
                       END AS term
                FROM inst
                LEFT JOIN ct USING (w1, w2, w3)
                LEFT JOIN cb c12 ON inst.w1 = c12.w1 AND inst.w2 = c12.w2
                LEFT JOIN cb c23 ON inst.w2 = c23.w1 AND inst.w3 = c23.w2
                LEFT JOIN cu cu2 ON inst.w2 = cu2.w
                LEFT JOIN cu cu3 ON inst.w3 = cu3.w
                CROSS JOIN nv
            )
            SELECT doc_id,
                   count(*) AS n_trigrams,
                   round(-CAST(sum(CAST(term AS DECIMAL(38,12))) AS DOUBLE)
                         / count(*), 6) + 0.0 AS xent_nats
            FROM terms GROUP BY doc_id
        """,
        # CCNet perplexity bucketing replay: the unigram_xent program +
        # exact terciles + the same strict-< CASE. The cuts replay
        # exact_quantiles' interpolation VERBATIM over order statistics
        # (pos=(n-1)*q, lo=floor, hi=min(lo+1,n-1), vlo+(vhi-vlo)*frac)
        # rather than quantile_cont: on a cut that lands ON a tied value
        # (mass point), quantile_cont's lo*(1-f)+hi*f shape emits
        # lo + ~1e-18 and the strict-< flips every doc AT the mass point
        # (proven by langid_confident at sf0.1). xent values are
        # round(6)-quantized and CAN tie, so the latent hazard is real
        # here too — hardened round 14, value-identical on spread data.
        "quality_terciles": f"""
            WITH tok AS (
                SELECT doc_id,
                       unnest(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                          x -> x != '')) AS token
                FROM documents
            ), tc AS (
                SELECT token, count(*) AS c FROM tok GROUP BY token
            ), n AS (
                SELECT sum(c) AS N FROM tc
            ), per AS (
                SELECT doc_id,
                       round(ln((SELECT N FROM n))
                             - CAST(sum(CAST(ln(c) AS DECIMAL(38,12))) AS DOUBLE)
                               / count(*), 6) AS xent_nats
                FROM tok JOIN tc USING (token)
                GROUP BY doc_id
            ), {_exact_quantile_cuts_cte("per", "xent_nats", [1 / 3, 2 / 3], ["c1", "c2"])}
            SELECT doc_id, xent_nats,
                   CASE WHEN xent_nats < c1 THEN 'head'
                        WHEN xent_nats < c2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM per CROSS JOIN cuts
        """,
        "unigram_xent": """
            WITH tok AS (
                SELECT doc_id,
                       unnest(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                          x -> x != '')) AS token
                FROM documents
            ), tc AS (
                SELECT token, count(*) AS c FROM tok GROUP BY token
            ), n AS (
                SELECT sum(c) AS N FROM tc
            )
            SELECT doc_id,
                   count(*) AS n_tokens,
                   round(ln((SELECT N FROM n))
                         - CAST(sum(CAST(ln(c) AS DECIMAL(38,12))) AS DOUBLE)
                           / count(*), 6) AS xent_nats
            FROM tok JOIN tc USING (token)
            GROUP BY doc_id
        """,
        "stratified_split": """
            SELECT doc_id, source,
                   CASE WHEN r < floor(n_g * 0.75) THEN 'train' ELSE 'val' END
                       AS collection
            FROM (
                SELECT doc_id, source,
                       row_number() OVER (
                           PARTITION BY source ORDER BY u, doc_id
                       ) - 1 AS r,
                       count(*) OVER (PARTITION BY source) AS n_g
                FROM (
                    SELECT doc_id, source,
                           CAST('0x' || substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 13)
                                AS BIGINT) / 4503599627370496.0 AS u
                    FROM documents
                )
            )
        """,
        "cap_per_source": """
            SELECT doc_id, source FROM (
                SELECT doc_id, source,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY md5('7_' || CAST(doc_id AS VARCHAR)), doc_id
                       ) AS r
                FROM documents
            ) WHERE r <= 20
        """,
        "similarity_pq_topk": "SELECT CAST(5 AS BIGINT) AS n_queries, true AS recall_ok",
        "token_windows": """
            WITH base AS (
                SELECT doc_id,
                       -- mirror Spark's NULL-text -> empty-array coalesce
                       -- (corpus.py::sliding_token_windows): without it
                       -- DuckDB's NULL-skipping least/greatest would hand a
                       -- NULL-text doc end=64 and NULL win_text vs Spark's 0/''
                       COALESCE(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                   x -> x != ''), []) AS toks
                FROM documents
            ), sized AS (
                SELECT doc_id, toks, len(toks) AS n FROM base
            ), wins AS (
                SELECT doc_id, toks, n,
                       unnest(range(0, greatest(n, 1), 48)) AS start
                FROM sized
            )
            SELECT doc_id,
                   CAST(start // 48 AS BIGINT) AS win_id,
                   CAST(start AS BIGINT) AS start,
                   CAST(least(start + 64, n) AS BIGINT) AS "end",
                   array_to_string(toks[start + 1 : start + 64], ' ') AS win_text
            FROM wins
            WHERE start = 0 OR start - 48 + 64 < n
        """,
        "mixture_rates": """
            WITH per AS (
                SELECT source, count(*) AS n_docs,
                       -- per-row COALESCE mirrors Spark's NULL-text handling
                       -- (a doc with NULL text contributes 0 tokens, and an
                       -- all-NULL source sums to 0, not NULL)
                       CAST(sum(COALESCE(len(list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                                x -> x != '')), 0)) AS BIGINT) AS n_tokens
                FROM documents GROUP BY source
            ), scored AS (
                SELECT *,
                       CASE source WHEN 'src0' THEN 0.6
                                   WHEN 'src1' THEN 0.2
                                   WHEN 'src2' THEN 0.2
                                   ELSE 0.0 END AS tf
                FROM per
            )
            SELECT source, n_docs, n_tokens,
                   round(tf, 6) AS target_frac,
                   -- zero-token guard mirrors corpus.py::mixture_rates: DuckDB
                   -- least() skips the NULL division so an empty source would
                   -- otherwise get rate 1.0 where Spark returns 0.0
                   CASE WHEN n_tokens > 0
                        THEN round(least(1.0, 50000.0 * tf / n_tokens), 6)
                        ELSE 0.0 END AS rate,
                   CASE WHEN n_tokens > 0
                        THEN round(least(1.0, 50000.0 * tf / n_tokens) * n_tokens, 6)
                        ELSE 0.0 END AS expected_tokens
            FROM scored
        """,
        "similarity_lsh_topk": "SELECT CAST(5 AS BIGINT) AS n_queries, true AS recall_ok",
        "similarity_ivf_topk": "SELECT CAST(5 AS BIGINT) AS n_queries, true AS recall_ok",
        # stale-index IVF probe: FULL value-level replay — literal
        # (member-vector) centroids make every step SQL-expressible:
        # per-row argmin list assignment (row_number over (d2, cidx) =
        # the engine's min-struct over (dist, index)), probe selection
        # (2 nearest centroids to the query, same (d2, cidx) order as
        # Python's stable sort in nearest_lists), probed-lists ∪ tail
        # union, exact cosine top-10 (score round(6) desc, vec_id).
        # Distance terms are exact in double ((a-b) of two float32s and
        # its square); the sums are sequential in both engines.
        "similarity_ivf_stale": """
            WITH cent AS (
                SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx,
                       embedding AS c
                FROM embeddings WHERE vec_id IN (0, 2, 4, 6)
            ), q AS (
                SELECT embedding AS e FROM embeddings WHERE vec_id = 1
            ), probes AS (
                SELECT cidx FROM (
                    SELECT cent.cidx,
                           list_sum(list_transform(range(1, len(q.e) + 1),
                             i -> (CAST(cent.c[i] AS DOUBLE)
                                   - CAST(q.e[i] AS DOUBLE))
                                * (CAST(cent.c[i] AS DOUBLE)
                                   - CAST(q.e[i] AS DOUBLE)))) AS d2
                    FROM cent CROSS JOIN q)
                ORDER BY d2, cidx LIMIT 2
            ), asg AS (
                SELECT vec_id, embedding FROM (
                    SELECT v.vec_id, v.embedding, cent.cidx,
                           row_number() OVER (PARTITION BY v.vec_id ORDER BY
                             list_sum(list_transform(
                               range(1, len(v.embedding) + 1),
                               i -> (CAST(v.embedding[i] AS DOUBLE)
                                     - CAST(cent.c[i] AS DOUBLE))
                                  * (CAST(v.embedding[i] AS DOUBLE)
                                     - CAST(cent.c[i] AS DOUBLE)))),
                             cent.cidx) AS rn
                    FROM embeddings v CROSS JOIN cent
                    WHERE v.vec_id % 2 = 0)
                WHERE rn = 1 AND cidx IN (SELECT cidx FROM probes)
            ), cand AS (
                SELECT vec_id, embedding FROM asg
                UNION ALL
                SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1
            ), scored AS (
                SELECT cand.vec_id,
                       round(
                         list_sum(list_transform(range(1, len(cand.embedding) + 1),
                                  i -> CAST(cand.embedding[i] AS DOUBLE) * CAST(q.e[i] AS DOUBLE)))
                         / (sqrt(list_sum(list_transform(range(1, len(cand.embedding) + 1),
                                  i -> CAST(cand.embedding[i] AS DOUBLE) * CAST(cand.embedding[i] AS DOUBLE))))
                            * sqrt(list_sum(list_transform(range(1, len(q.e) + 1),
                                  i -> CAST(q.e[i] AS DOUBLE) * CAST(q.e[i] AS DOUBLE))))), 6) AS score
                FROM cand CROSS JOIN q
            )
            SELECT vec_id, score FROM scored
            ORDER BY score DESC, vec_id LIMIT 10
        """,
    }
