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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


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


def ecdf_global(df: DataFrame, value_col: str) -> DataFrame:
    """A6 without partition keys, at scale: (# rows ≤ v) / N per distinct
    value via :func:`global_ranks` — identical to ``cume_dist() OVER
    (ORDER BY v)`` but with no single-partition window anywhere. Equal
    values always land in one rank bucket (bucket ids are `<=`-cut
    expressions), so ``max(rank)+1`` per value IS the ≤-count."""
    ranked, n = global_ranks(df, value_col)
    cume = ranked.groupBy(value_col).agg(
        ((F.max("_rank") + 1) / F.lit(float(n))).alias("ecdf")
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
    from pyspark.sql import Window

    if not partition_by:
        return ecdf_global(df, value_col).select(*df.columns, "ecdf")
    w = Window.partitionBy(*partition_by).orderBy(value_col)
    return df.withColumn("ecdf", F.cume_dist().over(w))


def global_ranks_with_gap_stats(
    df: DataFrame,
    value_col: str,
    tiebreak: list[str] | None = None,
    rank_col: str = "_rank",
) -> tuple[DataFrame, int, tuple[int, int, int, int] | None]:
    """:func:`global_ranks` that ALSO returns the value axis's gap stats
    ``(min, max, max_gap, p99_gap)`` from the SAME plan-time pass.

    For time axes feeding :func:`operators.asof.asof_join`'s no-tolerance
    path: the rank decomposition already buckets + per-bucket-sorts the
    values, so consecutive-gap statistics fall out of one combined
    aggregate instead of asof's two extra ``_right_gap_stats`` jobs.
    Boundary gaps between buckets are reconstructed driver-side from the
    P bucket (min, max) scalars; the p99 start radius is approximated as
    the max of per-bucket p99 sketches (any value ≤ max_gap only shifts
    where asof's pass ladder starts — exactness rides on max_gap alone,
    which IS exact here). Stats are None when the input is empty.
    """
    from pyspark.sql import Window

    tiebreak = list(tiebreak or [])
    p = max(df.sparkSession.sparkContext.defaultParallelism, 2)
    cuts = df.stat.approxQuantile(value_col, [i / p for i in range(1, p)], 0.01)
    cuts_arr = F.array(*[F.lit(float(c)) for c in cuts])
    parts = df.withColumn(
        "_b", F.size(F.filter(cuts_arr, lambda c: c <= F.col(value_col)))
    )
    w_in = Window.partitionBy("_b").orderBy(value_col, *tiebreak)
    local = parts.withColumn(
        "_g", F.col(value_col) - F.lag(value_col).over(w_in)
    )
    summary = (
        local.groupBy("_b")
        .agg(
            F.count("*").alias("cnt"),
            F.min(value_col).alias("mn"),
            F.max(value_col).alias("mx"),
            F.max("_g").alias("maxg"),
            F.percentile_approx("_g", 0.99, 1000).alias("p99"),
        )
        .collect()
    )
    rows = sorted(summary, key=lambda r: r["_b"])
    n = sum(r["cnt"] for r in rows)
    if n == 0:
        empty = parts.withColumn(rank_col, F.lit(0)).drop("_b").limit(0)
        return empty, 0, None
    offsets, acc = {}, 0
    for r in rows:
        offsets[r["_b"]] = acc
        acc += r["cnt"]
    off_expr = F.element_at(
        F.create_map(*[x for b, o in offsets.items() for x in (F.lit(b), F.lit(o))]),
        F.col("_b"),
    )
    ranked = parts.withColumn(
        rank_col, F.row_number().over(w_in) - 1 + off_expr
    ).drop("_b")
    boundary = [
        int(rows[i]["mn"]) - int(rows[i - 1]["mx"]) for i in range(1, len(rows))
    ]
    in_bucket = [int(r["maxg"]) for r in rows if r["maxg"] is not None]
    gap = max([*in_bucket, *boundary, 0])
    p99s = [int(r["p99"]) for r in rows if r["p99"] is not None]
    p99 = min(max(p99s) if p99s else gap, gap) if gap else 0
    stats = (int(rows[0]["mn"]), int(rows[-1]["mx"]), int(gap), int(p99))
    return ranked, n, stats


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

    Same decomposition as :func:`global_ranks`: sketch-derived literal cut
    points bucket the rows (data expression, never
    ``spark_partition_id``), per-bucket window cumsums run in parallel,
    and one tiny aggregate gives each bucket's global offset (P scalars on
    the driver). ``inclusive=False`` returns the sum of all STRICTLY
    preceding rows (the "offset before me" form sequence packing needs).
    Pass explicit ``cuts`` when the order key's distribution is KNOWN
    (e.g. an md5-uniform shuffle key — fixed equidistant cuts balance
    perfectly) to skip the sketch job; cuts only balance buckets, never
    affect values.
    """
    from pyspark.sql import Window

    tiebreak = list(tiebreak or [])
    p = max(df.sparkSession.sparkContext.defaultParallelism, 2)
    if cuts is None:
        cuts = df.stat.approxQuantile(order_col, [i / p for i in range(1, p)], 0.01)
    cuts_arr = F.array(*[F.lit(float(c)) for c in cuts])
    parts = df.withColumn(
        "_b", F.size(F.filter(cuts_arr, lambda c: c <= F.col(order_col)))
    )
    # NULL values count as 0 everywhere (sum() would skip them but the
    # exclusive form's `local − value` would go NULL and poison the row)
    val = F.coalesce(F.col(value_col).cast("long"), F.lit(0).cast("long"))
    sums = {
        r["_b"]: r["s"]
        for r in parts.groupBy("_b").agg(F.sum(val).alias("s")).collect()
    }
    offsets, acc = {}, 0
    for b in sorted(sums):
        offsets[b] = acc
        acc += sums[b] or 0
    if not offsets:
        return parts.withColumn(out_col, F.lit(0).cast("long")).drop("_b").limit(0)
    off_expr = F.element_at(
        F.create_map(*[x for b, o in offsets.items() for x in (F.lit(b), F.lit(o))]),
        F.col("_b"),
    )
    w = Window.partitionBy("_b").orderBy(order_col, *tiebreak)
    local = F.sum(val).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    if not inclusive:
        local = local - val
    return parts.withColumn(out_col, (local + off_expr).cast("long")).drop("_b")


def global_ranks(
    df: DataFrame,
    value_col: str,
    tiebreak: list[str] | None = None,
    rank_col: str = "_rank",
) -> tuple[DataFrame, int]:
    """Exact 0-based global ranks by ``(value_col, *tiebreak)`` without a
    single-task global sort. Returns ``(df + rank_col, total_count)``.

    Design: approximate cut points (one sketch pass) become LITERAL bucket
    boundaries; rows get an expression-computed bucket id; per-bucket
    ``row_number`` windows run in parallel; bucket counts (one tiny agg)
    give each bucket's global offset. Bucket ids MUST be data expressions,
    never ``spark_partition_id()``: physical partition ids are not stable
    across the two jobs (AQE may re-plan a repartition between actions),
    which would silently shift every rank.
    """
    from pyspark.sql import Window

    tiebreak = list(tiebreak or [])
    p = max(df.sparkSession.sparkContext.defaultParallelism, 2)
    # cuts only balance bucket sizes — 1% relative error is plenty and keeps
    # the GK sketch cheap
    cuts = df.stat.approxQuantile(value_col, [i / p for i in range(1, p)], 0.01)
    cuts_arr = F.array(*[F.lit(float(c)) for c in cuts])
    parts = df.withColumn(
        "_b", F.size(F.filter(cuts_arr, lambda c: c <= F.col(value_col)))
    )
    counts = {
        r["_b"]: r["cnt"]
        for r in parts.groupBy("_b").agg(F.count("*").alias("cnt")).collect()
    }
    n = sum(counts.values())
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    if not offsets:
        return parts.withColumn(rank_col, F.lit(0)).drop("_b").limit(0), 0
    off_expr = F.element_at(
        F.create_map(*[x for b, o in offsets.items() for x in (F.lit(b), F.lit(o))]),
        F.col("_b"),
    )
    # SCALE BOUND: row_number() is IntegerType, so each BUCKET must stay
    # below 2^31 rows. Cut counts scale with parallelism, so this holds
    # whenever n / |cuts| < 2^31 — at 10^12 rows provision >= ~500 cuts
    # (the global rank add itself widens via the offset literal's type)
    w = Window.partitionBy("_b").orderBy(value_col, *tiebreak)
    ranked = parts.withColumn(rank_col, F.row_number().over(w) - 1 + off_expr).drop("_b")
    return ranked, n


def _boundary_rows(parts: DataFrame, need: dict[int, list[int]]) -> DataFrame:
    """Rank ONLY the targeted buckets and keep the needed local ranks.

    Returns (_b, _r, v) with at most sum(len(locs)) rows — the caller
    collects boundary scalars, never bucket contents. The window sorts each
    targeted bucket in one task, which is fine because buckets are sized
    ~N/parallelism by the approx cut points.
    """
    from pyspark.sql import Window

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
    balanced buckets (expression-assigned, AQE-safe); one tiny agg counts
    each bucket; target ranks resolve to (bucket, local index); only the
    targeted buckets are sorted (per-bucket, in parallel) and the ≤2·|qs|
    boundary values interpolate driver-side.
    """
    import bisect

    vals = df.select(F.col(value_col).alias("v")).where(F.col("v").isNotNull())
    # three actions share this relation (cut-point sketch, bucket counts,
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
        cuts_arr = F.array(*[F.lit(float(c)) for c in cuts])
        parts = vals.withColumn(
            "_b", F.size(F.filter(cuts_arr, lambda c: c <= F.col("v")))
        )
        counts = {
            r["_b"]: r["cnt"]
            for r in parts.groupBy("_b").agg(F.count("*").alias("cnt")).collect()
        }
        n = sum(counts.values())
        if n == 0:
            return [float("nan")] * len(qs)
        offsets, acc = {}, 0
        for b in sorted(counts):
            offsets[b] = acc
            acc += counts[b]
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
