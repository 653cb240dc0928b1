"""Binned statistics, ECDF, equi-depth binning — SURVEY §2.4 A4–A7, §2.5 W4.

Reference semantics:
- A4 1-D binning: ``groupby_bins(v, bins=linspace(lo, hi, n))`` then a
  per-bin reduction (convml_data/pipeline/embeddings/aux_fields/viz.py:211-227).
- A5 2-D binned statistic with stats mean/sem/min/max/std/median/count and a
  ``count > min_points`` mask, NaN/inf pre-filtered
  (aux_fields/plot_types.py:26-92; stats list viz.py:370-373).
- A6 ECDF: rank/N (viz.py:284-294) ≙ ``cume_dist()``.
- A7 equi-depth bin edges: n equally spaced ECDF cut points
  (viz.py:296-315) ≙ exact linear-interpolation percentiles.

Scale: all of these are single-shuffle ``groupBy(bucket).agg`` plans with
map-side partial aggregation; bucket ids are pure JVM expressions
(whole-stage codegen), so they survive a 100× scale-up untouched. ``median``
uses exact ``percentile`` to hash-match the DuckDB oracle; at cluster scale
substitute ``percentile_approx`` for one-pass sketching when approximation
is acceptable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec


def _bucket(col: Column, lo: float, step: float) -> Column:
    return F.floor((col - F.lit(lo)) / F.lit(step)).cast("int")


_STATS = {
    "mean": lambda c: F.avg(c),
    "std": lambda c: F.stddev_samp(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
    "count": lambda c: F.count(c),
    "median": lambda c: F.expr(f"percentile({c}, 0.5)"),
    "sum": lambda c: F.sum(c),
}


def _agg_exprs(value_col: str, stats: list[str]) -> list[Column]:
    exprs = []
    for s in stats:
        if s == "sem":
            exprs.append(
                (F.stddev_samp(value_col) / F.sqrt(F.count(value_col))).alias("sem")
            )
        else:
            exprs.append(_STATS[s](value_col).alias(s))
    return exprs


def binned_statistic_1d(
    df: DataFrame,
    value_col: str,
    by_col: str,
    lo: float,
    hi: float,
    n_bins: int,
    stats: list[str] = ("mean", "count"),
    extra_aggs: list[Column] | None = None,
) -> DataFrame:
    """A4: bin ``by_col`` into ``n_bins`` equal-width bins and reduce
    ``value_col`` per bin. Returns (bin, bin_lo, <stats...>).

    Boundary semantics are ENGINE-DEFINED as left-closed ``[lo_i, hi_i)``
    (floor-based index) — deliberately NOT xarray ``groupby_bins`` /
    ``pandas.cut``, whose default is right-closed ``(lo_i, hi_i]``: a value
    exactly on an interior edge lands in the HIGHER bin here, one lower
    there. Left-closed is the natural floor() formulation (one JVM
    expression, no epsilon on every edge) and matches histogramming
    conventions (numpy.histogram); the reference's per-plot binning
    (plot_types.py) never places data exactly on an edge, so the choice is
    observable only for synthetic edge-exact inputs. The domain filter is
    EXACT on the bucket id (``0 <= bin < n_bins``) — the earlier
    ``hi - 1e-12`` epsilon guard was a floating-point no-op whenever
    ulp(hi)/2 > 1e-12 (hi >= ~16384), which let ``by == hi`` into a
    phantom bin ``n_bins``. Callers needing ``hi`` inclusive in the last
    bin should pre-clamp values.

    The double-valued domain is pre-filtered BEFORE the bucket cast
    (NULL/NaN/±inf and out-of-range rows never reach ``_bucket``):
    ``floor(NaN)`` is 0 in Spark so an unmasked NaN would silently land
    in bin 0, and ±inf or ``(x-lo)/step >= 2^31`` would raise
    CAST_OVERFLOW under Spark 4's ANSI mode instead of being excluded —
    mirroring the coordinate mask in :func:`binned_statistic_2d`. The
    exact bucket-id filter is kept as well (it is what makes the edge
    semantics float-exact when ``(x-lo)/step`` rounds up to ``n_bins``
    for ``x`` just below ``hi``).
    """
    step = (hi - lo) / n_bins
    by_dbl = F.col(by_col).cast("double")
    domain = (
        by_dbl.isNotNull()
        & ~F.isnan(by_dbl)
        & (by_dbl >= F.lit(float(lo)))
        & (by_dbl < F.lit(float(hi)))
    )
    binned = (
        df.where(domain)
        .withColumn("bin", _bucket(F.col(by_col), lo, step))
        .where(F.col("bin").between(0, n_bins - 1))
    )
    out = binned.groupBy("bin").agg(*_agg_exprs(value_col, list(stats)), *(extra_aggs or []))
    return out.withColumn("bin_lo", (F.lit(lo) + F.col("bin") * F.lit(step)).cast("double"))


def binned_statistic_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    value_col: str,
    dx: float,
    dy: float,
    stats: list[str] = ("mean", "sem", "min", "max", "std", "median", "count"),
    min_points: int | None = None,
    x0: float = 0.0,
    y0: float = 0.0,
    extra_aggs: list[Column] | None = None,
) -> DataFrame:
    """A5: 2-D binned statistic on a (x, y) grid with steps (dx, dy).

    NaN/inf are pre-filtered on the VALUE **and both COORDINATES** —
    the reference's ``values_mask`` covers x, y and v alike
    (plot_types.py:34-51); an unmasked NaN coordinate would otherwise
    bin to 0 under non-ANSI float→int casting (silently polluting bin
    (0, y)) or throw under ANSI. Bins with ``count <= min_points`` are
    dropped (``np.where(count > min_points)``, plot_types.py:74-79 —
    strictly greater); the count aggregate is added internally when
    ``min_points`` is set without ``"count"`` in ``stats``.
    """

    def _finite(c: Column) -> Column:
        return c.isNotNull() & ~F.isnan(c) & (F.abs(c) != float("inf"))

    clean = df.where(
        _finite(F.col(value_col))
        & _finite(F.col(x_col).cast("double"))
        & _finite(F.col(y_col).cast("double"))
    )
    binned = clean.withColumn("xbin", _bucket(F.col(x_col), x0, dx)).withColumn(
        "ybin", _bucket(F.col(y_col), y0, dy)
    )
    agg_stats = list(stats)
    drop_count = min_points is not None and "count" not in agg_stats
    if drop_count:
        agg_stats.append("count")
    out = binned.groupBy("xbin", "ybin").agg(
        *_agg_exprs(value_col, agg_stats), *(extra_aggs or [])
    )
    if min_points is not None:
        out = out.where(F.col("count") > min_points)
    if drop_count:
        out = out.drop("count")
    return out


def _cut_bucket(value: Column, cuts: list[float]) -> Column:
    """Bucket id of ``value`` under the ascending literal ``cuts``: the
    number of cuts ≤ it. A data expression, never
    ``spark_partition_id()``, which AQE may re-plan between jobs. Equal
    values share a bucket; NULL lands in bucket 0 (NULLS FIRST).

    ``value`` rides in the fold's accumulator, not in the lambda: join
    filter inference rewrites a HOF lambda's OUTER column onto the other
    side of the offsets join (``size(filter(cuts, c -> c <= v))`` fails
    with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND), and planning a sum of P
    ``when`` terms took 2.8 s at P = 200 and over 9 min at P = 400."""
    start = F.struct(value.cast("double").alias("v"), F.lit(0).alias("n"))
    return F.aggregate(
        F.array(*[F.lit(float(c)) for c in cuts]),
        start,
        lambda acc, c: F.struct(
            acc["v"].alias("v"), (acc["n"] + F.when(c <= acc["v"], 1).otherwise(0)).alias("n")
        ),
        lambda acc: acc["n"],
    )


def _stratum_key(group_col: str | None) -> Column:
    """Null-safe string image ``_gk`` of a stratum column (``None``: one
    stratum, a literal). An equi-join on the raw nullable column would
    DROP the null group, which windows and aggregates keep."""
    gk = F.lit("\x00")
    if group_col is not None:
        gk = F.coalesce(F.concat(F.lit("v"), F.col(group_col).cast("string")), gk)
    return gk


def _bucket_offsets(keyed: DataFrame, measure: Column) -> DataFrame:
    """The offsets relation ``(_gk, _b, _off, _n)`` of rows keyed by a
    stratum image ``_gk`` (:func:`_stratum_key`) and a bucket ``_b``.
    ``measure`` aggregates a cell: ``count("*")`` for ranks, the ``sum``
    of a non-NULL long for running sums; ``_off`` is it over the
    stratum's LOWER buckets, ``_n`` over the whole stratum.

    |strata|·P rows, executor-side: building a plan on it runs no job.
    Each stratum folds its ≤ P cells into one array — no window, which
    would be keyless when ``_gk`` is a literal.
    """
    cells = keyed.groupBy("_gk", "_b").agg(measure.alias("_c"))
    strata = cells.groupBy("_gk").agg(F.collect_list(F.struct("_b", "_c")).alias("_cs"))

    def total_of(cs: Column) -> Column:
        return F.aggregate(cs, F.lit(0).cast("long"), lambda a, c: a + c["_c"])

    before = F.filter("_cs", lambda c: c["_b"] < F.col("_b"))
    return strata.select("_gk", "_cs", F.inline("_cs")).select(
        "_gk", "_b", total_of(before).alias("_off"), total_of(F.col("_cs")).alias("_n")
    )


def _buckets(
    df: DataFrame,
    order_col: str,
    tiebreak: list[str] | None = None,
    cuts: list[float] | None = None,
) -> tuple[DataFrame, WindowSpec]:
    """``df`` + bucket ``_b`` of ``order_col`` under literal ``cuts``, and
    the per-bucket window in ``(order_col, *tiebreak)`` order.
    ``cuts=None`` sketches them (one job); cuts only balance buckets, so
    1% relative error is plenty."""
    if cuts is None:
        p = max(df.sparkSession.sparkContext.defaultParallelism, 2)
        cuts = df.stat.approxQuantile(order_col, [i / p for i in range(1, p)], 0.01)
    parts = df.withColumn("_b", _cut_bucket(F.col(order_col), cuts))
    return parts, Window.partitionBy("_b").orderBy(order_col, *(tiebreak or []))


def _with_offsets(parts: DataFrame, measure: Column) -> DataFrame:
    """One-stratum ``parts`` + ``_off`` and ``_n``, broadcast-joined: the
    relation has ≤ P rows behind an aggregate Catalyst cannot size."""
    keyed = parts.withColumn("_gk", _stratum_key(None))
    off = _bucket_offsets(keyed, measure)
    return keyed.join(F.broadcast(off), ["_gk", "_b"]).drop("_gk")


def _ranked(parts: DataFrame, w: WindowSpec, rank_col: str) -> DataFrame:
    """``parts`` + exact 0-based global ``rank_col`` + row count ``_n``."""
    # SCALE BOUND: row_number() is IntegerType, so each BUCKET must stay
    # below 2^31 rows. Cut counts scale with parallelism, so this holds
    # whenever n / |cuts| < 2^31 — at 10^12 rows provision >= ~500 cuts
    # (the global rank add itself widens via the long offset)
    return (
        _with_offsets(parts, F.count("*"))
        .withColumn(rank_col, F.row_number().over(w) - 1 + F.col("_off"))
        .drop("_b", "_off")
    )


def ecdf_global(df: DataFrame, value_col: str) -> DataFrame:
    """A6 without partition keys, at scale: (# rows ≤ v) / N per distinct
    value via :func:`global_ranks` — identical to ``cume_dist() OVER
    (ORDER BY v)`` but with no single-partition window anywhere. Equal
    values always land in one rank bucket (bucket ids are `<=`-cut
    expressions), so ``max(rank)+1`` per value IS the ≤-count; N is the
    offsets relation's ``_n``."""
    ranked = _ranked(*_buckets(df, value_col), "_rank")
    cume = ranked.groupBy(value_col).agg(
        ((F.max("_rank") + 1) / F.max("_n")).alias("ecdf")
    )
    # null-safe join: NULL values are their own ≤-group (ranked first,
    # exactly cume_dist's NULLS FIRST semantics — max(rank)+1 over the
    # null group is the null count); a plain equi-join would silently
    # DROP those rows while the keyed cume_dist path keeps them
    right = cume.withColumnRenamed(value_col, "_v")
    return df.join(
        right, F.col(value_col).eqNullSafe(F.col("_v"))
    ).drop("_v")


def ecdf(df: DataFrame, value_col: str, partition_by: list[str] | None = None) -> DataFrame:
    """A6/W4: empirical CDF of ``value_col`` (optionally per group).

    A keyless ECDF is a global ordering; ``cume_dist`` without partition
    keys would single-task the window, so the keyless call DELEGATES to
    :func:`ecdf_global` (same values: cume_dist(v) = (# rows ≤ v)/N), with
    the original column order preserved. Keyed calls window in parallel.
    """
    if not partition_by:
        return ecdf_global(df, value_col).select(*df.columns, "ecdf")
    w = Window.partitionBy(*partition_by).orderBy(value_col)
    return df.withColumn("ecdf", F.cume_dist().over(w))


def global_ranks_with_gap_stats(
    df: DataFrame,
    value_col: str,
    tiebreak: list[str] | None = None,
    rank_col: str = "_rank",
) -> tuple[DataFrame, tuple[int, int, int, int] | None]:
    """:func:`global_ranks` that ALSO returns the value axis's gap stats
    ``(min, max, max_gap, p99_gap)``, from one plan-time summary job.

    For time axes feeding :func:`operators.asof.asof_join`'s no-tolerance
    path: the rank decomposition already buckets + per-bucket-sorts the
    values, so consecutive-gap statistics fall out of one per-bucket
    aggregate instead of asof's two extra ``_right_gap_stats`` jobs.
    Boundary gaps between buckets are reconstructed driver-side from the
    P bucket (min, max) scalars; the p99 start radius is approximated as
    the max of per-bucket p99 sketches (any value ≤ max_gap only shifts
    where asof's pass ladder starts — exactness rides on max_gap alone,
    which IS exact here). The ranks themselves come from the offsets
    relation, as in :func:`global_ranks`. Stats are None when the input
    is empty.
    """
    parts, w = _buckets(df, value_col, tiebreak)
    v = F.col(value_col)
    summary = (
        parts.withColumn("_g", v - F.lag(v).over(w))
        .groupBy("_b")
        .agg(
            F.min(v).alias("mn"),
            F.max(v).alias("mx"),
            F.max("_g").alias("maxg"),
            F.percentile_approx("_g", 0.99, 1000).alias("p99"),
        )
        .collect()
    )
    ranked = _ranked(parts, w, rank_col).drop("_n")
    rows = sorted(summary, key=lambda r: r["_b"])
    if not rows:
        return ranked, None
    boundary = [
        int(rows[i]["mn"]) - int(rows[i - 1]["mx"]) for i in range(1, len(rows))
    ]
    in_bucket = [int(r["maxg"]) for r in rows if r["maxg"] is not None]
    gap = max([*in_bucket, *boundary, 0])
    p99s = [int(r["p99"]) for r in rows if r["p99"] is not None]
    p99 = min(max(p99s) if p99s else gap, gap) if gap else 0
    stats = (int(rows[0]["mn"]), int(rows[-1]["mx"]), int(gap), int(p99))
    return ranked, stats


def global_cumsum(
    df: DataFrame,
    value_col: str,
    order_col: str,
    tiebreak: list[str] | None = None,
    out_col: str = "_cumsum",
    inclusive: bool = True,
    cuts: list[float] | None = None,
) -> DataFrame:
    """Exact global running sum of ``value_col`` in ``(order_col,
    *tiebreak)`` order without a single-task global window.

    Same decomposition as :func:`global_ranks`, with the bucket SUMS as
    the offsets measure: per-bucket window cumsums run in parallel and
    each bucket adds its offset from the relation. ``inclusive=False``
    returns the sum of all STRICTLY preceding rows (the "offset before
    me" form sequence packing needs). Pass explicit ``cuts`` when the
    order key's distribution is KNOWN (e.g. an md5-uniform shuffle key —
    fixed equidistant cuts balance perfectly): building the plan then
    runs no job at all.
    """
    parts, w = _buckets(df, order_col, tiebreak, cuts)
    # NULL values count as 0 everywhere (sum() would skip them but the
    # exclusive form's `local − value` would go NULL and poison the row)
    val = F.coalesce(F.col(value_col).cast("long"), F.lit(0).cast("long"))
    local = F.sum(val).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    if not inclusive:
        local = local - val
    return (
        _with_offsets(parts, F.sum(val))
        .withColumn(out_col, (local + F.col("_off")).cast("long"))
        .drop("_b", "_off", "_n")
    )


def global_ranks(
    df: DataFrame,
    value_col: str,
    tiebreak: list[str] | None = None,
    rank_col: str = "_rank",
) -> DataFrame:
    """Exact 0-based global ranks by ``(value_col, *tiebreak)`` without a
    single-task global sort. Returns ``df`` + ``rank_col``.

    Design: approximate cut points (one sketch job, the only job building
    the plan runs) become LITERAL bucket boundaries (:func:`_cut_bucket`);
    per-bucket ``row_number`` windows run in parallel and add each
    bucket's offset from :func:`_bucket_offsets`.
    """
    return _ranked(*_buckets(df, value_col, tiebreak), rank_col).drop("_n")


def _boundary_rows(parts: DataFrame, need: dict[int, list[int]]) -> DataFrame:
    """Rank ONLY the targeted buckets and keep the needed local ranks.

    Returns (_b, _r, v) with at most sum(len(locs)) rows — the caller
    collects boundary scalars, never bucket contents. The window sorts each
    targeted bucket in one task, which is fine because buckets are sized
    ~N/parallelism by the approx cut points.
    """
    # the wanted (bucket, local-rank) pairs pack into one long each, so the
    # post-window filter is a single codegen `In` on ≤2·|qs| literals instead
    # of a per-row map lookup + array scan
    packed = [int(b) * (1 << 32) + int(loc) for b, locs in need.items() for loc in locs]
    w = Window.partitionBy("_b").orderBy("v")
    return (
        parts.where(F.col("_b").isin(list(need)))
        .withColumn("_r", F.row_number().over(w) - 1)
        .where(
            (F.shiftleft(F.col("_b").cast("long"), 32) + F.col("_r")).isin(packed)
        )
        .select("_b", "_r", "v")
    )


def exact_quantiles(df: DataFrame, value_col: str, qs: list[float]) -> list[float]:
    """Distributed EXACT linear-interpolation quantiles (selection, not digest).

    Spark's built-in exact ``percentile`` builds a value→count map per
    partition and merges it in ONE final task — a driver-sized digest that
    dies at 100 TB. This instead: literal approximate cut points define
    balanced buckets (expression-assigned, AQE-safe); the ≤ P-row offsets
    relation (:func:`_bucket_offsets`) is collected, because the answer is
    driver-side scalars; target ranks resolve to (bucket, local index); only the
    targeted buckets are sorted (per-bucket, in parallel) and the ≤2·|qs|
    boundary values interpolate driver-side.
    """
    import bisect

    vals = df.select(F.col(value_col).alias("v")).where(F.col("v").isNotNull())
    # three actions share this relation (cut-point sketch, bucket offsets,
    # boundary fetch) — persist so the source is scanned once, not 3×
    vals = vals.persist()
    try:
        p = max(vals.sparkSession.sparkContext.defaultParallelism, 2)
        # cut points only BALANCE the buckets (the exact values come from
        # the targeted per-bucket selection below), so a cheap mergeable
        # percentile_approx sketch in ONE aggregate beats the driver-side
        # stat.approxQuantile GK pass ~2× at the same downstream cost;
        # accuracy=1000 keeps bucket skew ≤ ~n/1000 per cut.
        fracs = [i / p for i in range(1, p)]
        row = vals.agg(
            F.percentile_approx(
                "v", F.array(*[F.lit(f) for f in fracs]), F.lit(1000)
            ).alias("c")
        ).first()
        cuts = [float(c) for c in (row["c"] or [])]
        parts = vals.withColumn("_b", _cut_bucket(F.col("v"), cuts))
        offs = _bucket_offsets(
            parts.withColumn("_gk", _stratum_key(None)), F.count("*")
        ).collect()
        if not offs:
            return [float("nan")] * len(qs)
        n = offs[0]["_n"]
        offsets = {r["_b"]: r["_off"] for r in offs}
        targets = set()
        positions = []
        for q in qs:
            pos = (n - 1) * q
            lo, hi = int(pos), min(int(pos) + (0 if pos == int(pos) else 1), n - 1)
            positions.append((pos, lo, hi))
            targets.update((lo, hi))
        # map each target global rank to (bucket, local index); rank ONLY the
        # targeted buckets (per-bucket window sort, parallel across buckets)
        # and filter to the exact target local ranks BEFORE collecting — the
        # driver receives ≤2·|qs| scalar rows, never a bucket's contents
        bs = sorted(offsets)
        boffs = [offsets[b] for b in bs]
        need: dict[int, list[int]] = {}
        for t in sorted(targets):
            b = bs[bisect.bisect_right(boffs, t) - 1]
            need.setdefault(b, []).append(t - offsets[b])
        rows = _boundary_rows(parts, need).collect()
        got = {offsets[r["_b"]] + r["_r"]: r["v"] for r in rows}
        out = []
        for pos, lo, hi in positions:
            # float() both boundaries: a DECIMAL column collects as
            # decimal.Decimal, and Decimal * float raises TypeError in
            # the interpolation below
            vlo, vhi = float(got[lo]), float(got[hi])
            frac = pos - lo
            out.append(vlo + (vhi - vlo) * frac if frac else vlo)
        return out
    finally:
        vals.unpersist()


def equidepth_bins(df: DataFrame, value_col: str, n_bins: int) -> DataFrame:
    """A7: equi-depth bin boundaries = exact percentiles at k/n, k=0..n.

    Returns (q DOUBLE, boundary DOUBLE), one row per cut point, via the
    distributed-selection path (:func:`exact_quantiles`). A former
    ``method="agg"`` variant used the built-in exact ``percentile``
    aggregate — deleted: its per-partition value→count maps merge in ONE
    final task, a driver-sized digest that dies at 100 TB, and a
    non-default footgun is still a footgun.
    """
    qs = [k / n_bins for k in range(n_bins + 1)]
    spark = df.sparkSession
    bounds = exact_quantiles(df, value_col, qs)
    # literal expression plan, not createDataFrame: no RDD round-trip
    # for a dozen driver-side values
    rows = F.array(
        *[
            F.struct(
                F.lit(float(q)).alias("q"), F.lit(float(b)).alias("boundary")
            )
            for q, b in zip(qs, bounds)
        ]
    )
    return (
        spark.range(1)
        .select(F.explode(rows).alias("r"))
        .select("r.q", "r.boundary")
    )
