"""As-of (nearest-time, tolerance-bounded) joins — SURVEY §2.3 J2–J4, A3.

Reference semantics (convml_data/pipeline/aux_sources.py:178-231):

- ``single_scene_per_aux_time`` (J2): every AUX time is matched to the
  closest SCENE time; the match is kept only when ``|Δt| <= tolerance``.
- ``all_scenes_within_dt_aux`` (J3): every SCENE is matched to the closest
  AUX time within the tolerance.
- tolerance defaults to ``dt_aux / 2`` where ``dt_aux`` is the *minimum*
  spacing of the aux times (aux_sources.py:202-206 — A3).
- tie-break: the reference computes ``np.argmin(|Δt|)`` over the
  ascending-sorted time axis, so an exact tie picks the EARLIER candidate.
  (aux_sources.py:216-218)

Physical design (scale): Spark has no native as-of join, and the naive
``a JOIN b ON abs(a.t-b.t) <= tol`` range join is O(n·m) work. We instead
use the union-and-window idiom, which is one shuffle-sort:

1. union left rows and right rows onto one time axis;
2. per ordered partition, ``last(right_payload) IGNORE NULLS`` over
   (-∞, current] gives the previous right row, ``first(...)`` over
   [current, +∞) the next;
3. pick the nearer of prev/next (tie → prev = earlier), apply tolerance.

A keyless as-of would put the whole axis in ONE window partition, so when no
``partition_by`` is given we synthesize one: time is bucketed at twice the
tolerance and each right row is replicated into the (at most 2, often 1)
buckets covering ``[r-tol, r+tol]`` — any match within tolerance is then
guaranteed to live in the left row's bucket. That keeps the operator fully
parallel at 100 TB with right-side replication ≤ 2×. With ``partition_by``
(e.g. per aux product) the windows are already keyed and no replication is
needed — unless a single key still carries the whole table.

All bucket arithmetic is INTEGER microseconds (``_floordiv``): a float
``(t ± tol)/w`` near a bucket boundary can round across it and silently
drop an exactly-at-tolerance match, so the radius is ``ceil`` ed to whole
microseconds (conservative — only ever widens the bucket cover) and the
exact user tolerance is applied only in the final ``_dt`` filter.

Keyless with NO tolerance, the bucket radius is inferred from the right
side's consecutive gaps. Using the MAX gap alone is exact but skew-fragile:
one year-long hole in the rights inflates every bucket to 2×that gap and
parallelism collapses. The skew guard runs geometric PASSES instead —
radius p99-gap, then 4×, 16×, … capped at the max gap — keeping a match
only when its distance ≤ the pass radius (which proves the in-bucket winner
IS the global nearest: a right within radius of the left always shares the
left's bucket) and re-bucketing only the unresolved hole-straddling lefts,
with the rights semi-joined down to the buckets those lefts occupy. Dense
regions never leave pass 1; the hole costs O(log(max/p99)) small passes.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from convml_data_spark.functions.timeutils import epoch_micros


def _floordiv(col: Column, w: int) -> Column:
    """Exact floor division of a bigint column by a positive int literal.

    ``floor(col / w)`` in doubles can misround near bucket boundaries;
    ``col - pmod(col, w)`` is an exact multiple of ``w`` (pmod ≥ 0 also for
    negative inputs), and dividing two exactly-representable doubles whose
    true quotient is an integer < 2^53 is exact in IEEE arithmetic."""
    wl = F.lit(int(w)).cast("long")
    return ((col - F.pmod(col, wl)) / wl).cast("long")


def infer_min_spacing(df: DataFrame, time_col: str, partition_by: list[str] | None = None):
    """A3: min spacing (seconds, float) between consecutive distinct times.

    Reference: ``dt_aux = min(diff(sorted(aux_times)))``
    (aux_sources.py:202-206). Returns a float (driver-side scalar) — this is
    plan-time metadata, like the reference's use of it.

    With ``partition_by`` the lag window is keyed and parallel. WITHOUT it,
    a bare ordered window would funnel every distinct time through one
    partition, so the keyless path uses the coarse-bucket scheme (see
    ``_coarse_gaps``) over the distinct times.
    """
    micros = epoch_micros(time_col, dict(df.dtypes)[time_col])
    if partition_by:
        w = Window.partitionBy(*partition_by).orderBy(time_col)
        gaps = (
            df.select(*partition_by, time_col)
            .distinct()
            .withColumn("_gap", micros - F.lag(micros).over(w))
            .where(F.col("_gap").isNotNull())
            .agg(F.min("_gap").alias("m"))
            .collect()
        )
        return gaps[0]["m"] / 1e6 if gaps and gaps[0]["m"] is not None else None
    rows = df.select(micros.alias("_t")).where(F.col("_t").isNotNull()).distinct()
    _, g = _coarse_gaps(rows)
    # least() skips nulls, so either side may be empty (single bucket /
    # no in-bucket pairs) without poisoning the min
    out = g.agg(F.least(F.min("_lo"), F.min("_bg")).alias("m")).collect()
    return out[0]["m"] / 1e6 if out and out[0]["m"] is not None else None


_COARSE_US = 3_600_000_000  # 1 h — coarse-bucket granularity for gap stats


def _coarse_gaps(rows: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Consecutive gaps of ``rows(_t)`` (non-null bigint micros) WITHOUT a
    single-partition window: per-coarse-bucket lag windows run in
    parallel (partitioned by the 1-hour bucket), and gaps that straddle
    bucket boundaries come from an ordered pass over the BUCKET SUMMARY
    table, whose row count is bounded by the data's time span in hours —
    not its row count.

    Returns ``(local, summary)``: ``local`` is every row with its
    in-bucket gap ``_g`` (NULL at a bucket's first row); ``summary`` has
    one row per bucket with its first/last time ``_mn``/``_mx``, its
    min/max in-bucket gap ``_lo``/``_hi`` and ``_bg``, the gap from the
    previous bucket's last time (NULL for the first bucket)."""
    b = rows.withColumn("_b", F.floor(F.col("_t") / F.lit(_COARSE_US)))
    w_in = Window.partitionBy("_b").orderBy("_t")
    local = b.withColumn("_g", F.col("_t") - F.lag("_t").over(w_in))
    summary = local.groupBy("_b").agg(
        F.min("_t").alias("_mn"),
        F.max("_t").alias("_mx"),
        F.min("_g").alias("_lo"),
        F.max("_g").alias("_hi"),
    )
    w_b = Window.orderBy("_b")
    return local, summary.withColumn("_bg", F.col("_mn") - F.lag("_mx").over(w_b))


def _right_gap_stats(df: DataFrame, time_col: str):
    """(min_us, max_us, max_gap_us, p99_gap_us) of a time column from the
    coarse-bucket gaps (``_coarse_gaps``). Returns None for an empty side.
    Four plan-time scalars, like infer_min_spacing's A3 inference. The p99
    gap (GK sketch, mergeable) is the skew guard's starting radius; being
    approximate only shifts WHERE the geometric pass ladder starts, never
    correctness."""
    t = epoch_micros(time_col, dict(df.dtypes)[time_col])
    local, g = _coarse_gaps(df.select(t.alias("_t")).where(F.col("_t").isNotNull()))
    out = g.agg(
        F.min("_mn").alias("mn"),
        F.max("_mx").alias("mx"),
        F.greatest(
            F.coalesce(F.max("_hi"), F.lit(0)), F.coalesce(F.max("_bg"), F.lit(0))
        ).alias("gap"),
    ).collect()
    if not out or out[0]["mn"] is None:
        return None
    r = out[0]
    mn, mx, gap = int(r["mn"]), int(r["mx"]), int(r["gap"])
    # p99 of ALL consecutive gaps = in-bucket gaps ∪ boundary gaps (cheap
    # second agg over the same plan-time inputs; both sides map-combine)
    allg = local.select(F.col("_g").alias("g")).where(F.col("g").isNotNull())
    allg = allg.unionByName(
        g.select(F.col("_bg").alias("g")).where(F.col("_bg").isNotNull())
    )
    p = allg.agg(F.percentile_approx("g", 0.99, 10000).alias("p")).collect()
    p99 = int(p[0]["p"]) if p and p[0]["p"] is not None else gap
    return mn, mx, gap, p99


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    tolerance_seconds: float | None = None,
    partition_by: list[str] | None = None,
    right_prefix: str = "matched_",
    keep_unmatched: bool = False,
    dt_col: str | None = None,
    right_id_col: str | None = None,
    gap_stats: tuple[int, int, int, int] | None = None,
) -> DataFrame:
    """Nearest-time join: each left row gains the nearest right row's columns
    (prefixed), kept only when ``|Δt| <= tolerance`` (ties → earlier right).

    ``partition_by`` lists equi-join keys present on BOTH sides (e.g.
    ``["aux_name"]``). Without it, and with a tolerance, time-bucket
    replication (see module docstring) keeps the plan parallel.

    ``right_id_col`` (a column that uniquely keys right rows): when set,
    the union+window carries ONLY ``(right_on, right_id_col)`` and the full
    right payload equi-joins back on the id afterwards. For wide right rows
    (embedding vectors, tile arrays) this keeps the replicated/shuffled
    window input to ~16 bytes/row — the 100 TB knob. Semantics identical.

    ``gap_stats`` (µs ints ``(min, max, max_gap, p99_gap)`` of the right's
    time axis): callers that already ranked/scanned the right side can
    hand the no-tolerance path its plan-time scalars and skip the two
    ``_right_gap_stats`` jobs (tiler.trajectory_tile_locations computes
    them inside its rank pass). Stats only pick bucket radii — a stale
    ``p99`` merely shifts where the pass ladder starts — but ``max_gap``
    MUST be ≥ the true max gap for exactness.
    """
    if right_id_col is not None:
        keys = list(partition_by or [])
        slim = right.select(*keys, right_on, right_id_col)
        matched = asof_join(
            left,
            slim,
            left_on,
            right_on,
            tolerance_seconds=tolerance_seconds,
            partition_by=partition_by,
            right_prefix=right_prefix,
            keep_unmatched=keep_unmatched,
            dt_col=dt_col,
            right_id_col=None,
            gap_stats=gap_stats,
        )
        # matched already carries the prefixed right_on; the payload join
        # contributes the id + remaining columns only
        payload = right.drop(*keys, right_on) if keys else right.drop(right_on)
        pref = payload.select(
            *[F.col(c).alias(f"{right_prefix}{c}") for c in payload.columns]
        )
        how = "left" if keep_unmatched else "inner"
        return matched.join(pref, on=f"{right_prefix}{right_id_col}", how=how)

    pkeys = list(partition_by or [])
    payload_cols = [c for c in right.columns if c not in pkeys]
    lcols = [c for c in left.columns if c not in pkeys]
    # _tus (epoch µs, computed per-side with that side's timestamp dtype —
    # TIMESTAMP or TIMESTAMP_NTZ) leads the struct: all Δt arithmetic below
    # is integer math on it, and since timestamps carry µs precision it is
    # an injective monotone image of the time — ordering by it never
    # perturbs the struct tie-ordering (equal time ⇒ equal _tus ⇒ ties
    # still fall through to the payload fields).
    rstruct = F.struct(
        epoch_micros(right_on, dict(right.dtypes)[right_on]).alias("_tus"),
        *[F.col(c) for c in payload_cols],
    )
    lhs = left.select(
        *pkeys,
        epoch_micros(left_on, dict(left.dtypes)[left_on]).alias("_tus"),
        F.lit(1).alias("_is_left"),
        F.struct(*[F.col(c) for c in lcols]).alias("_l"),
    )
    rhs = right.select(*pkeys, rstruct.alias("_r")).select(
        *pkeys,
        F.col("_r._tus").alias("_tus"),
        F.lit(0).alias("_is_left"),
        F.col("_r"),
    )
    rtype = rhs.schema["_r"].dataType

    def _window_match(lh: DataFrame, rh: DataFrame, keys: list[str]) -> DataFrame:
        """Union-and-window core: lefts annotated with _chosen (nearest
        right struct within the key partition) and _dt_us (integer µs).

        Ordering: right rows before left rows at equal t so an exact match
        is visible as "previous" with dt=0. ONE ordering serves both
        frames, so Spark sorts each key partition exactly once (two
        orderings differing only in _r direction forced a second sort).
        The _r tiebreak makes TIED right timestamps deterministic —
        without it, AQE re-plans could flip which of two same-t right rows
        last()/first() lands on. Tie rule under the shared ascending
        order: among rights tied at the nearest EARLIER time, last() picks
        the struct-MAX payload; among rights tied at the nearest LATER
        time, first() picks the struct-MIN payload. Oracles mirror this
        with an ORDER BY chain of (|dt|, t, sign-flipped id). Struct
        ordering requires orderable payload types; for map-typed payloads
        pass right_id_col so the slim (t, id) struct is what gets
        ordered. The window must see BOTH sides — lefts are filtered only
        after annotation."""
        unioned = lh.withColumn("_r", F.lit(None).cast(rtype)).unionByName(
            rh, allowMissingColumns=True
        )
        w = Window.partitionBy(*keys).orderBy(
            F.col("_tus").asc(), F.col("_is_left").asc(), F.col("_r").asc()
        )
        prev = F.last("_r", ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        )
        nxt = F.first("_r", ignorenulls=True).over(
            w.rowsBetween(0, Window.unboundedFollowing)
        )
        lm = F.col("_tus")
        dt_prev = lm - prev["_tus"]
        dt_next = nxt["_tus"] - lm
        use_prev = (
            F.when(prev.isNull(), F.lit(False))
            .when(nxt.isNull(), F.lit(True))
            .otherwise(dt_prev <= dt_next)
        )
        return (
            unioned.withColumn("_chosen", F.when(use_prev, prev).otherwise(nxt))
            .withColumn("_dt_us", F.when(use_prev, dt_prev).otherwise(dt_next))
            .where(F.col("_is_left") == 1)
        )

    def _bucket_lhs(lh: DataFrame, radius_us: int, clamp) -> DataFrame:
        lt = F.col("_tus")
        if clamp is not None:
            lt = F.greatest(F.lit(clamp[0]), F.least(F.lit(clamp[1]), lt))
        return lh.withColumn("_bucket", _floordiv(lt, 2 * radius_us))

    def _bucket_rhs(rh: DataFrame, radius_us: int) -> DataFrame:
        # width = 2·radius with rights exploded into the buckets covering
        # [r-radius, r+radius]: that interval is exactly one bucket wide,
        # so its endpoints' floors differ by ≤1 — every right lands in ≤2
        # buckets (1 when both floors agree). Any left t in bucket b with
        # |t-r| ≤ radius satisfies r+radius ≥ t ≥ b·w and r-radius ≤ t <
        # (b+1)·w, so b is always among the covered buckets — exact. All
        # arithmetic integer µs (_floordiv), so the at-radius edge case
        # cannot round across a boundary.
        r = F.lit(int(radius_us)).cast("long")
        return rh.withColumn(
            "_bucket",
            F.explode(
                F.array_distinct(
                    F.array(
                        _floordiv(F.col("_r._tus") - r, 2 * radius_us),
                        _floordiv(F.col("_r._tus") + r, 2 * radius_us),
                    )
                )
            ),
        )

    if pkeys:
        matched = _window_match(lhs, rhs, pkeys)
    elif tolerance_seconds is not None:
        # ceil to whole µs: a conservative (≥ exact) bucket radius is
        # always safe; the exact float tolerance is re-applied on _dt below
        radius = max(1, math.ceil(float(tolerance_seconds) * 1e6))
        matched = _window_match(
            _bucket_lhs(lhs, radius, None), _bucket_rhs(rhs, radius), ["_bucket"]
        )
    else:
        # no tolerance given: without buckets the whole axis lands in ONE
        # window partition (the banned single-partition window — 123 s at
        # sf0.1 before this path existed). Infer a radius that still
        # guarantees exactness: with G = the rights' max consecutive gap,
        # every point CLAMPED into [min_r, max_r] has its nearest right
        # within G; out-of-range lefts clamp to the boundary for BUCKETING
        # only (their nearest right is the boundary right, which lives in
        # the clamped bucket), and all Δt math still uses the original
        # time. When G ≫ p99 gap (a hole in the rights), radius G would
        # collapse parallelism — run the geometric pass ladder instead
        # (module docstring): a match at distance d ≤ pass-radius R is
        # provably the GLOBAL nearest (that nearest is within R, hence in
        # the left's bucket), so accepted matches are exact and only
        # hole-straddling lefts continue to the next 4× radius.
        stats = gap_stats if gap_stats is not None else _right_gap_stats(right, right_on)
        if stats is None:
            # right side empty of usable times: nothing can ever match —
            # skip the window entirely rather than degenerate to one task
            matched = lhs.withColumn(
                "_chosen", F.lit(None).cast(rtype)
            ).withColumn("_dt_us", F.lit(None).cast("long"))
        else:
            mn, mx, gap, p99 = stats
            gap = max(int(gap), 1)
            start = max(int(p99), 1)
            clamp = (mn, mx)
            if gap <= 4 * start:
                matched = _window_match(
                    _bucket_lhs(lhs, gap, clamp), _bucket_rhs(rhs, gap), ["_bucket"]
                )
            else:
                radii: list[int] = []
                r_ = start
                while r_ < gap:
                    radii.append(r_)
                    r_ *= 4
                radii.append(gap)
                out_of_range = (F.col("_tus") < F.lit(mn)) | (
                    F.col("_tus") > F.lit(mx)
                )
                remaining = lhs
                parts: list[DataFrame] = []
                for i, R in enumerate(radii):
                    lh_k = _bucket_lhs(remaining, R, clamp)
                    rh_k = _bucket_rhs(rhs, R)
                    if i > 0:
                        # only hole-neighborhood buckets still hold lefts;
                        # semi-join prunes the rights (and their window
                        # sort) down to those buckets — dense regions
                        # never pay for passes beyond the first
                        active = lh_k.select("_bucket").distinct()
                        rh_k = rh_k.join(active, "_bucket", "left_semi")
                    m = _window_match(lh_k, rh_k, ["_bucket"])
                    if i == len(radii) - 1:
                        parts.append(m)  # radius = G: everything resolves
                    else:
                        # out-of-range lefts are exact at ANY radius (their
                        # nearest is the boundary right, co-bucketed by
                        # construction); in-range lefts are exact iff the
                        # in-bucket distance is within this pass's radius
                        ok = F.coalesce(
                            out_of_range | (F.col("_dt_us") <= F.lit(int(R))),
                            F.lit(False),
                        )
                        parts.append(m.where(ok))
                        # persist: the next pass AND its bucket semi-join
                        # both consume `remaining`; without the pin the
                        # whole earlier-pass chain re-executes per
                        # consumer. Lifecycle follows the engine
                        # convention (tiler.py:99 / jaccard_dedup_prefix):
                        # pinned relations are released by the caller's
                        # spark.catalog.clearCache() once the result is
                        # consumed — only hole-straddling lefts ever land
                        # here, so the cached remainder is small.
                        remaining = (
                            m.where(~ok).drop("_chosen", "_dt_us", "_bucket").persist()
                        )
                matched = parts[0]
                for p_ in parts[1:]:
                    matched = matched.unionByName(p_)

    if tolerance_seconds is not None:
        ok = F.col("_chosen").isNotNull() & (
            F.col("_dt_us") / F.lit(1e6) <= F.lit(float(tolerance_seconds))
        )
    else:
        ok = F.col("_chosen").isNotNull()
    matched = matched.withColumn("_chosen", F.when(ok, F.col("_chosen")))
    if not keep_unmatched:
        matched = matched.where(F.col("_chosen").isNotNull())

    out_cols = [F.col("_l")[c].alias(c) for c in lcols]
    if partition_by:
        out_cols = [F.col(k) for k in partition_by] + out_cols
    out_cols += [F.col("_chosen")[c].alias(f"{right_prefix}{c}") for c in payload_cols]
    if dt_col:
        out_cols.append(
            F.when(
                F.col("_chosen").isNotNull(), F.col("_dt_us") / F.lit(1e6)
            ).alias(dt_col)
        )
    return matched.select(*out_cols)


def match_aux_to_scenes(
    scenes: DataFrame,
    aux: DataFrame,
    strategy: str = "single_scene_per_aux_time",
    scene_time: str = "t",
    aux_time: str = "t_aux",
    dt_aux_seconds: float | None = None,
) -> DataFrame:
    """J2/J3 with the reference's two strategies and A3 tolerance inference.

    Reference: aux_sources.py:178-231; tolerance is ``dt_aux/2`` with
    ``<=`` at the edge (aux_sources.py:219,229).
    """
    if dt_aux_seconds is None:
        dt_aux_seconds = infer_min_spacing(aux, aux_time)
        if dt_aux_seconds is None:
            raise ValueError("cannot infer dt_aux from a single aux time")
    tol = dt_aux_seconds / 2.0
    if strategy == "single_scene_per_aux_time":
        return asof_join(aux, scenes, aux_time, scene_time, tolerance_seconds=tol, right_prefix="scene_")
    if strategy == "all_scenes_within_dt_aux":
        return asof_join(scenes, aux, scene_time, aux_time, tolerance_seconds=tol, right_prefix="aux_")
    raise ValueError(f"unknown strategy {strategy!r}")
