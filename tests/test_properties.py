"""Property tests for operators whose semantics aren't SQL-oracle-checkable:
randomized generators (partitioning-independence, containment — mirroring the
reference's invariants at tiles.py:258-265 and CHANGELOG bugfix #19) and
grid kernels (bilinear exactness on linear fields)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tests.conftest import CC_THRESHOLDS, SF_DIR, broadcast_threshold

from convml_data_spark.operators import (
    bilinear_regrid,
    global_ranks,
    local_tangent_xy,
    neighbor_tile_placement,
    proportional_split,
    triplet_tile_locations,
    uniform_tile_placement,
)


def test_proportional_split_partitioning_independent(spark):
    """R6 invariant: the split must not depend on physical partitioning."""
    ids = spark.range(1000).select(F.col("id").alias("k"))
    a = proportional_split(ids, "k", {"train": 4, "study": 1}, seed=3)
    b = proportional_split(ids.repartition(13), "k", {"train": 4, "study": 1}, seed=3)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    sizes = {r["collection"]: r["n"] for r in a.groupBy("collection").agg(F.count("*").alias("n")).collect()}
    assert sizes == {"train": 800, "study": 200}


def test_global_ranks_matches_sort(spark):
    df = spark.range(500).select((F.col("id") * 2654435761 % 997).alias("v"), F.col("id"))
    ranked, n = global_ranks(df, "v", tiebreak=["id"])
    assert n == 500
    got = [r["id"] for r in ranked.orderBy("_rank").collect()]
    want = [r["id"] for r in df.orderBy("v", "id").collect()]
    assert got == want


def test_tile_placement_containment(spark):
    """R3/R4: every generated center lies inside the margin-shrunk domain
    (the reference's rejection loop guarantees this; ours is structural)."""
    t = spark.range(200).select(F.col("id").alias("triplet_id"))
    locs = triplet_tile_locations(
        t, x_range=(0.0, 50.0), y_range=(-10.0, 40.0), tile_size=6.0,
        neighbor_distance_scaling=3.0, seed=5,
    )
    m = 4.0  # 6 * 2/3
    bad = locs.where(
        (F.col("x_c") < 0.0 + m) | (F.col("x_c") > 50.0 - m)
        | (F.col("y_c") < -10.0 + m) | (F.col("y_c") > 40.0 - m)
    ).count()
    assert bad == 0
    assert locs.count() == 600


def test_neighbor_distance(spark):
    """R4: non-fallback neighbors sit exactly r = scaling·tile_size away."""
    t = spark.range(100).select(F.col("id").alias("triplet_id"))
    anchors = uniform_tile_placement(t, (0.0, 100.0), (0.0, 100.0), 6.0, ["triplet_id"], seed=1)
    nb = neighbor_tile_placement(
        anchors, (0.0, 100.0), (0.0, 100.0), 6.0, ["triplet_id"],
        neighbor_distance_scaling=1.5, seed=1,
    )
    rows = nb.select("x_c", "y_c", "x_n", "y_n").collect()
    r = 9.0
    for row in rows:
        d = math.hypot(row["x_n"] - row["x_c"], row["y_n"] - row["y_c"])
        assert abs(d - r) < 1e-9 or d == 0.0  # fallback = anchor itself


def test_bilinear_exact_on_linear_field(spark):
    """G1 bilinear reproduces any affine field exactly (within float eps)."""
    grid = (
        spark.range(20)
        .select(F.col("id").alias("i"))
        .crossJoin(spark.range(20).select(F.col("id").alias("j")))
        .withColumn("value", 2.0 * F.col("i") + 3.0 * F.col("j") + 1.0)
    )
    targets = spark.createDataFrame(
        [(0, 2.5, 3.25), (1, 10.125, 0.5), (2, 18.9, 18.9)], "tid int, x double, y double"
    )
    out = bilinear_regrid(grid, targets, sx0=0.0, sdx=1.0, sy0=0.0, sdy=1.0)
    for r in out.collect():
        want = 2.0 * r["x"] + 3.0 * r["y"] + 1.0
        assert abs(r["value"] - want) < 1e-9


def test_bilinear_drops_outside_hull(spark):
    grid = (
        spark.range(4).select(F.col("id").alias("i"))
        .crossJoin(spark.range(4).select(F.col("id").alias("j")))
        .withColumn("value", F.lit(1.0))
    )
    targets = spark.createDataFrame(
        [(0, 1.5, 1.5), (1, 3.5, 1.0), (2, -0.5, 0.5)], "tid int, x double, y double"
    )
    out = bilinear_regrid(grid, targets, sx0=0.0, sdx=1.0, sy0=0.0, sdy=1.0)
    assert [r["tid"] for r in out.collect()] == [0]


def test_salted_join_equals_plain_join(spark):
    from convml_data_spark.operators.joins import salted_groupby_count, salted_join

    large = spark.range(5000).select(
        (F.when(F.col("id") % 10 < 8, F.lit(1)).otherwise(F.col("id") % 100)).alias("k"),
        F.col("id").alias("payload"),
    )  # key 1 is hot (~80% of rows)
    small = spark.createDataFrame([(i, f"dim_{i}") for i in range(100)], "k long, name string")
    plain = large.join(small, "k").select("k", "payload", "name")
    salted = salted_join(large, small, "k", salt_factor=4).select("k", "payload", "name")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

    counts = {r["k"]: r["count"] for r in salted_groupby_count(large, ["k"]).collect()}
    want = {r["k"]: r["n"] for r in large.groupBy("k").agg(F.count("*").alias("n")).collect()}
    assert counts == want


def test_local_tangent_plane_properties(spark):
    """G7: origin maps to (0,0); small northward steps ≈ R·Δφ meters."""
    df = spark.createDataFrame(
        [(0, 10.0, 20.0), (1, 10.1, 20.0), (2, 10.0, 20.1)], "pid int, lat double, lon double"
    )
    x, y = local_tangent_xy(F.col("lat"), F.col("lon"), lat0=10.0, lon0=20.0)
    rows = {r["pid"]: r for r in df.select("pid", x.alias("x"), y.alias("y")).collect()}
    assert abs(rows[0]["x"]) < 1e-6 and abs(rows[0]["y"]) < 1e-6
    want_y = 6371000.0 * math.radians(0.1)
    assert abs(rows[1]["y"] - want_y) / want_y < 1e-4
    assert abs(rows[1]["x"]) < 1.0
    want_x = 6371000.0 * math.radians(0.1) * math.cos(math.radians(10.0))
    assert abs(rows[2]["x"] - want_x) / want_x < 1e-4


def test_hll_within_rsd_of_exact(spark):
    """approx_count_distinct(rsd=0.02) stays within 5·rsd of the exact
    grouped distinct count — the sketch the 100 TB path substitutes for
    COUNT(DISTINCT)'s expand."""
    from convml_data_spark.tables import load_table

    events = load_table(spark, SF_DIR, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    approx = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(1, 0.10 * n), (k, approx[k], n)


def test_sessionize_native_matches_window_method(spark):
    """The lag+cumsum sessionizer and Spark's built-in session_window agree
    on session boundaries and per-session aggregates (no inter-event gap in
    the synthetic data lands exactly on the 1800 s boundary)."""
    from convml_data_spark.operators import windows as W
    from convml_data_spark.tables import load_table

    events = load_table(spark, SF_DIR, "events")
    a = W.sessionize(events, ["user_id"], "ts", 1800.0, tiebreak=["event_id"])
    b = W.sessionize(events, ["user_id"], "ts", 1800.0, method="native")
    key = lambda r: (r["user_id"], str(r["session_start"]))
    am = {key(r): (str(r["session_end"]), r["n_events"], r["sum_value"]) for r in a.collect()}
    bm = {key(r): (str(r["session_end"]), r["n_events"], r["sum_value"]) for r in b.collect()}
    assert am == bm


def test_keyless_ecdf_delegates_to_global(spark):
    """The keyless ecdf() call must NOT build a cume_dist over an empty
    partition spec (single-task global window); it delegates to the
    rank-decomposed ecdf_global with identical values and column order."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from convml_data_spark.operators import binning

    df = spark.range(0, 500).select(
        F.col("id"), (F.pmod(F.col("id") * 37, F.lit(101))).cast("double").alias("v")
    )
    out = binning.ecdf(df, "v")
    assert out.columns == ["id", "v", "ecdf"]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    assert "cume_dist" not in buf.getvalue()
    rows = out.collect()
    vals = sorted(r["v"] for r in df.collect())
    n = len(vals)
    import bisect

    for r in rows:
        assert abs(r["ecdf"] - bisect.bisect_right(vals, r["v"]) / n) < 1e-12


def test_global_cumsum_matches_serial_and_partitioning_independent(spark):
    """global_cumsum's bucket decomposition must equal a serial cumsum in
    the same (order, tiebreak) order, for any input partitioning."""
    import random

    from convml_data_spark.operators.binning import global_cumsum

    rng = random.Random(3)
    rows = [(i, rng.randrange(1, 50), rng.uniform(-100, 100)) for i in range(500)]
    want = {}
    acc = 0
    for i, v, o in sorted(rows, key=lambda r: (r[2], r[0])):
        want[i] = acc  # exclusive form
        acc += v
    for nparts in (1, 7):
        df = spark.createDataFrame(rows, "id long, v long, o double").repartition(nparts)
        got = {
            r["id"]: r["_cumsum"]
            for r in global_cumsum(
                df, "v", "o", tiebreak=["id"], inclusive=False
            ).collect()
        }
        assert got == want


def test_cap_per_group_bounds_and_determinism(spark):
    """cap_per_group keeps at most n_max per group, the SAME rows for any
    partitioning, and all rows of groups under the cap."""
    from convml_data_spark.operators.corpus import cap_per_group

    rows = [(i, f"g{i % 3}" if i < 90 else "gbig") for i in range(200)]
    picked = None
    for nparts in (1, 13):
        df = spark.createDataFrame(rows, "doc_id long, source string").repartition(nparts)
        out = cap_per_group(df, "source", n_max=25).collect()
        by_g = {}
        for r in out:
            by_g.setdefault(r["source"], set()).add(r["doc_id"])
        assert all(len(v) <= 25 for v in by_g.values())
        # groups under the cap keep everything (g0/g1/g2 have 30 rows — over
        # the cap; gbig has 110 — capped at 25)
        assert len(by_g["gbig"]) == 25
        key = tuple(sorted((g, tuple(sorted(v))) for g, v in by_g.items()))
        if picked is None:
            picked = key
        else:
            assert key == picked


def test_stratified_split_exact_allocation_and_partitioning_independent(spark):
    """Every group splits at exactly floor(n_g · cum_frac); the assignment
    is identical for any input partitioning."""
    from collections import Counter

    from convml_data_spark.operators.sampling import stratified_split

    rows = [(i, f"g{i % 4}") for i in range(203)]  # uneven: 51/51/51/50
    baseline = None
    for nparts in (1, 9):
        df = spark.createDataFrame(rows, "doc_id long, source string").repartition(nparts)
        out = stratified_split(df, "source", {"a": 2, "b": 1, "c": 1}, seed=5)
        got = sorted((r["doc_id"], r["collection"]) for r in out.collect())
        if baseline is None:
            baseline = got
        else:
            assert got == baseline
    per = Counter()
    for (i, g), (_, c) in zip(sorted(rows), baseline):
        per[(g, c)] += 1
    for g, n_g in (("g0", 51), ("g1", 51), ("g2", 51), ("g3", 50)):
        t_a = int(n_g * 0.5)
        t_b = int(n_g * 0.75) - t_a
        assert per[(g, "a")] == t_a
        assert per[(g, "b")] == t_b
        assert per[(g, "c")] == n_g - t_a - t_b


def test_global_ranks_with_gap_stats_matches_bruteforce(spark):
    """The combined rank+gap-stats pass returns exactly global_ranks'
    ranks, and (min, max, max_gap) are exact vs a serial replay; the p99
    start radius is bounded by max_gap (exactness never rides on it)."""
    import random

    from convml_data_spark.operators.binning import global_ranks_with_gap_stats

    rng = random.Random(7)
    # clustered values with one big hole — the gap-stat shape that matters
    vals = sorted(
        {rng.randrange(0, 10_000) for _ in range(300)}
        | {rng.randrange(5_000_000, 5_010_000) for _ in range(200)}
    )
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, t long").repartition(5)
    ranked, n, stats = global_ranks_with_gap_stats(df, "t", tiebreak=["id"])
    assert n == len(vals)
    got = {r["id"]: r["_rank"] for r in ranked.collect()}
    for rank, (i, v) in enumerate(rows):
        assert got[i] == rank
    mn, mx, gap, p99 = stats
    gaps = [b - a for a, b in zip(vals, vals[1:])]
    assert (mn, mx) == (vals[0], vals[-1])
    assert gap == max(gaps)
    assert 0 <= p99 <= gap


def test_stratified_split_scales_to_many_strata(spark):
    """10⁴ strata through the executor-side offsets path: allocation is
    exactly floor(n_g · cum_frac) in EVERY group and no rows are lost —
    the shape (millions of web domains) that would have materialized the
    old per-(group,bucket) driver collect."""
    from collections import Counter

    from convml_data_spark.operators.sampling import stratified_split

    n_groups, per_group = 10_000, 3
    df = (
        spark.range(n_groups * per_group)
        .selectExpr("id AS doc_id", f"concat('d', id % {n_groups}) AS source")
        .repartition(16)
    )
    out = stratified_split(df, "source", {"a": 2, "b": 1}, seed=9)
    rows = out.collect()
    assert len(rows) == n_groups * per_group
    per = Counter((r["source"], r["collection"]) for r in rows)
    want_a = int(per_group * 2 / 3)  # floor(3 · 2/3) = 2
    for g in range(0, n_groups, 997):  # spot-check a spread of groups
        assert per[(f"d{g}", "a")] == want_a
        assert per[(f"d{g}", "b")] == per_group - want_a
    # and globally: every group allocated exactly (2, 1)
    assert sum(v for (s, c), v in per.items() if c == "a") == n_groups * want_a


def test_stratified_split_keeps_null_group_rows(spark):
    """A NULL group is its own stratum (window semantics), not silently
    dropped by the offsets equi-join."""
    from convml_data_spark.operators.sampling import stratified_split

    rows = [(i, "g0" if i % 2 else None) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_split(df, "source", {"a": 1, "b": 1}, seed=2).collect()
    assert len(out) == 40
    nulls = [r for r in out if r["source"] is None]
    assert len(nulls) == 20
    assert sum(r["collection"] == "a" for r in nulls) == 10  # floor(20·0.5)


def test_stratified_split_multiplies_before_dividing(spark):
    """Thresholds are floor(n_g · cum / total), the proportional_split
    arithmetic: 90 docs at 7:3 give 63/27. Rounding the fraction first
    (floor(90 · 0.7) = floor(62.99…)) under-allocates to 62."""
    from convml_data_spark.operators.sampling import stratified_split

    df = spark.range(90).select(F.col("id").alias("doc_id"), F.lit("g").alias("source"))
    out = stratified_split(df, "source", {"a": 7, "b": 3}, seed=2)
    got = {r["collection"]: r["count"] for r in out.groupBy("collection").count().collect()}
    assert got == {"a": 63, "b": 27}
    split = proportional_split(df, "doc_id", {"a": 7, "b": 3}, seed=2)
    assert split.where(F.col("collection") == "a").count() == 63


def test_scene_pairs_draw_from_shuffled_collection_index(spark):
    """R1 → R2 without a DuckDB replay: ``collection_index`` numbers each
    collection densely in its shuffled (md5) order, every pair is two
    distinct scenes of the triplet's own collection, and the pairs are
    independent of partitioning."""
    from convml_data_spark.operators.sampling import hash_uniform, pick_scene_pairs

    ids = spark.range(500).select(F.col("id").alias("scene_id"))
    counts = {"train": 7, "study": 3}
    split = proportional_split(ids, "scene_id", counts, seed=11)
    rows = split.withColumn("_u", hash_uniform(11, F.col("scene_id"))).collect()
    by_coll: dict[str, list] = {}
    for r in rows:
        by_coll.setdefault(r["collection"], []).append((r["collection_index"], r["_u"]))
    for members in by_coll.values():
        members.sort()
        assert [i for i, _ in members] == list(range(len(members)))
        us = [u for _, u in members]
        assert us == sorted(us)  # index order is the shuffle order

    triplets = spark.range(200).select(
        F.col("id").alias("triplet_id"),
        F.when(F.col("id") < 140, F.lit("train")).otherwise(F.lit("study")).alias("collection"),
    )
    pairs = pick_scene_pairs(triplets, split, seed=4).collect()
    assert len(pairs) == 200
    home = {r["scene_id"]: r["collection"] for r in rows}
    for r in pairs:
        assert r["anchor_scene"] != r["distant_scene"]
        assert home[r["anchor_scene"]] == r["collection"] == home[r["distant_scene"]]

    split13 = proportional_split(ids.repartition(13), "scene_id", counts, seed=11)
    again = pick_scene_pairs(triplets.repartition(13), split13, seed=4)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, pairs))


def test_mixture_sampling_tracks_planned_rates(spark):
    """sample_mixture draws each source at its planned rate: realized
    token counts land within 25% of expected for sampled sources, zero
    for weight-0 sources, and the draw is partitioning-independent."""
    from convml_data_spark.operators.corpus import mixture_rates, sample_mixture
    from convml_data_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    rates = mixture_rates(docs, {"src0": 1.0, "src1": 1.0}, token_budget=5000)
    picked = sample_mixture(docs, rates, seed=3)
    got = {
        r["source"]: r["n"]
        for r in picked.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert set(got) <= {"src0", "src1"}  # weight-0 sources rate 0 -> dropped
    want = {
        r["source"]: r["rate"] * r["n_docs"]
        for r in rates.collect()
        if r["rate"] > 0
    }
    for s, exp in want.items():
        assert abs(got.get(s, 0) - exp) <= max(3, 0.25 * exp), (s, got.get(s), exp)
    again = {
        r["source"]: r["n"]
        for r in sample_mixture(docs.repartition(7), rates, seed=3)
        .groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert again == got


def test_ecdf_keyless_keeps_null_rows_like_cume_dist(spark):
    """Keyless ecdf must keep NULL-value rows with cume_dist's NULLS
    FIRST value (#nulls/N), matching the keyed path's semantics."""
    from pyspark.sql import Window

    from convml_data_spark.operators.binning import ecdf

    rows = [(0, None), (1, None), (2, 5.0), (3, 1.0), (4, 5.0)]
    df = spark.createDataFrame(rows, "id long, v double")
    out = {r["id"]: r["ecdf"] for r in ecdf(df, "v").collect()}
    w = Window.orderBy("v")
    want = {
        r["id"]: r["e"]
        for r in df.withColumn("e", F.cume_dist().over(w)).collect()
    }
    assert out == want and len(out) == 5


def test_pack_chunks_null_text_counts_zero_tokens(spark):
    """A NULL-text doc packs as 0 tokens (occupies no budget) instead of
    poisoning every downstream chunk id with NULL."""
    from convml_data_spark.operators.corpus import pack_token_chunks

    rows = [(0, "a b c"), (1, None), (2, "d e")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in pack_token_chunks(df, budget=4).collect()}
    assert len(out) == 3
    assert out[1]["n_tokens"] == 0
    assert all(out[i]["chunk_id"] is not None for i in range(3))
    # 5 total tokens -> offsets stay within [0, 4)
    assert all(0 <= out[i]["chunk_offset"] < 4 for i in range(3))


def test_pack_bestfit_matches_python_and_dominates_nextfit(spark):
    """Best-fit-decreasing packing (corpus.py::pack_bestfit_decreasing)
    equals a brute-force Python mirror (same md5 buckets, same
    length-DESC/md5/id order, same smallest-remaining-fits tie-break) on
    a corpus with NULL text, empty text, zero-token docs and an
    OVERSIZE doc (> budget — must open its own bin with bin_fill > 1,
    never truncate); is partitioning-independent; never overfills a
    bin except the oversize singleton; and per bucket never uses more
    bins than next-fit on the same order (the any-fit dominance that
    makes BFD worth running)."""
    import hashlib
    import random

    from convml_data_spark.operators.corpus import pack_bestfit_decreasing

    rng = random.Random(19)
    rows = []
    for i in range(60):
        if i == 7:
            rows.append((i, None))
        elif i == 13:
            rows.append((i, ""))
        elif i == 21:
            rows.append((i, " ".join("w" for _ in range(23))))  # oversize
        else:
            rows.append((i, " ".join(f"t{rng.randrange(9)}"
                                     for _ in range(rng.randrange(0, 12)))))
    BUDGET, NB, SEED = 16, 4, 42
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def shuf(i):
        return int(hashlib.md5(f"{SEED}_{i}".encode()).hexdigest()[:15], 16)

    per_bucket: dict[int, list] = {}
    for i, t in rows:
        L = len([w for w in (t or "").lower().split() if w])
        per_bucket.setdefault(shuf(i) % NB, []).append((L, shuf(i), i))
    want = {}
    nextfit_bins = {}
    for b, ds in per_bucket.items():
        ds.sort(key=lambda x: (-x[0], x[1], x[2]))
        rems: list = []
        fills: dict = {}
        for L, _, i in ds:
            fit = min(((r, j) for j, r in enumerate(rems) if r >= L),
                      default=None)
            if fit is None:
                rems.append(BUDGET - L)
                bin_ = len(rems)
            else:
                rems[fit[1]] -= L
                bin_ = fit[1] + 1
            want[i] = (L, b, bin_)
            fills[bin_] = fills.get(bin_, 0) + L
        for i in [d[2] for d in ds]:
            L, b_, bin_ = want[i]
            want[i] = (L, b_, bin_, fills[bin_], fills[bin_] / BUDGET)
        # next-fit on the same order: close the bin when the next doc
        # doesn't fit
        nf, rem = 1, BUDGET
        for L, _, _i in ds:
            if L > rem:
                nf += 1
                rem = BUDGET
            rem -= L
        nextfit_bins[b] = nf

    for parts in (1, 11):
        got = {
            r["doc_id"]: (r["n_tokens"], r["bucket"], r["bin"],
                          r["bin_tokens"], r["bin_fill"])
            for r in pack_bestfit_decreasing(
                docs.repartition(parts), budget=BUDGET,
                n_buckets=NB, seed=SEED,
            ).collect()
        }
        assert got == want, parts

    # oversize doc: its own bin, overfull, not truncated
    assert want[21][0] == 23 and want[21][4] > 1.0
    assert sum(1 for v in want.values()
               if (v[1], v[2]) == (want[21][1], want[21][2])) == 1
    # validity: every non-oversize bin fits the budget
    for i, v in want.items():
        if i != 21:
            assert v[3] <= BUDGET, (i, v)
    # any-fit dominance: BFD bins <= next-fit bins, per bucket
    bfd_bins = {}
    for _i, (_L, b, bin_, _t, _f) in want.items():
        bfd_bins[b] = max(bfd_bins.get(b, 0), bin_)
    for b in nextfit_bins:
        assert bfd_bins[b] <= nextfit_bins[b], (
            b, bfd_bins[b], nextfit_bins[b]
        )


def test_pack_bestfit_budget_one_and_user_count_column(spark):
    """Degenerate-budget and user-count-column edges: at budget=1 a
    2-token doc is oversize (its own bin, bin_fill 2.0), 1-token docs
    fill bins exactly, and 0-token docs slot into the fullest
    non-negative bin (best-fit of L=0) rather than opening one; a
    user-supplied token_count_col with NULL/negative values clamps to 0
    instead of poisoning bins (the pack_token_chunks guard, same
    contract)."""
    from convml_data_spark.operators.corpus import pack_bestfit_decreasing

    docs = spark.createDataFrame(
        [(0, "a b"), (1, "a"), (2, "b"), (3, "")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in pack_bestfit_decreasing(
            docs, budget=1, n_buckets=1, seed=1
        ).collect()
    }
    assert len(out) == 4
    assert out[0]["n_tokens"] == 2 and out[0]["bin_fill"] == 2.0
    # the oversize bin holds only doc 0
    over_bin = out[0]["bin"]
    assert sum(1 for r in out.values() if r["bin"] == over_bin) == 1
    # 1-token docs fill distinct bins exactly; the 0-token doc joins a
    # full bin (rem 0 is the best fit for L=0), so only 3 bins total
    assert {r["bin"] for r in out.values()} == {1, 2, 3}
    for i in (1, 2):
        assert out[i]["bin_tokens"] == 1
    assert out[3]["n_tokens"] == 0 and out[3]["bin"] != over_bin

    counted = spark.createDataFrame(
        [(0, 5), (1, None), (2, -3)], "doc_id long, n long"
    )
    got = {
        r["doc_id"]: r["n_tokens"]
        for r in pack_bestfit_decreasing(
            counted, budget=8, n_buckets=1, token_count_col="n", seed=1
        ).collect()
    }
    assert got == {0: 5, 1: 0, 2: 0}


def test_pack_bestfit_string_ids_and_tie_stress(spark):
    """Two regressions pinned at once: (1) a STRING id column must pass
    through the applyInPandas schema intact (the schema used to
    hardcode ``_id long``, corrupting/rejecting non-long ids); (2) the
    bisect-maintained free list must reproduce the linear scan's
    (smallest-remaining, lowest-bin-index) tie-break on a workload
    engineered for many EQUAL remainders (all lengths from a tiny set
    dividing the budget)."""
    import hashlib
    import random

    from convml_data_spark.operators.corpus import pack_bestfit_decreasing

    rng = random.Random(99)
    rows = [
        (f"doc-{i:03d}", " ".join("w" for _ in range(rng.choice([2, 4, 8]))))
        for i in range(120)
    ]
    BUDGET, NB, SEED = 16, 3, 7
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["bucket"], r["bin"], r["bin_tokens"])
        for r in pack_bestfit_decreasing(
            docs, budget=BUDGET, n_buckets=NB, seed=SEED
        ).collect()
    }

    def shuf(i):
        return int(hashlib.md5(f"{SEED}_{i}".encode()).hexdigest()[:15], 16)

    per_bucket: dict[int, list] = {}
    for i, t in rows:
        L = len(t.split())
        per_bucket.setdefault(shuf(i) % NB, []).append((L, shuf(i), i))
    want = {}
    fills: dict = {}
    for b, ds in per_bucket.items():
        ds.sort(key=lambda x: (-x[0], x[1], x[2]))
        rems: list = []
        for L, _, i in ds:
            fit = min(
                ((r, j) for j, r in enumerate(rems) if r >= L), default=None
            )
            if fit is None:
                rems.append(BUDGET - L)
                bin_ = len(rems)
            else:
                rems[fit[1]] -= L
                bin_ = fit[1] + 1
            want[i] = (L, b, bin_)
            fills[(b, bin_)] = fills.get((b, bin_), 0) + L
    want = {
        i: (L, b, bin_, fills[(b, bin_)]) for i, (L, b, bin_) in want.items()
    }
    assert got == want


def test_mixture_rates_zero_token_source_gets_zero_rate(spark):
    from convml_data_spark.operators.corpus import mixture_rates

    rows = [(0, "a b c", "full"), (1, "   ", "empty")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    rates = {r["source"]: r["rate"] for r in
             mixture_rates(df, {"full": 1.0, "empty": 1.0}, token_budget=10).collect()}
    assert rates["empty"] == 0.0
    assert rates["full"] == 1.0


def test_connected_components_string_ids(spark):
    """CC works (and converges) on string ids — the normal id shape for
    text dedup (URLs, content hashes) — on both paths."""
    from convml_data_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [("doc_a", "doc_b"), ("doc_b", "doc_c"), ("doc_x", "doc_y")],
        "id_a string, id_b string",
    )
    for threshold in CC_THRESHOLDS:
        with broadcast_threshold(spark, threshold):
            comp = {
                r["id"]: r["component"] for r in connected_components(pairs).collect()
            }
        assert comp == {
            "doc_a": "doc_a", "doc_b": "doc_a", "doc_c": "doc_a",
            "doc_x": "doc_x", "doc_y": "doc_x",
        }, threshold


def test_fit_sample_is_partition_layout_independent(spark):
    """IVF centroids and PQ codebooks are identical for 1-partition and
    many-partition layouts of the same data (md5-driven sample, not
    df.sample+limit)."""
    import numpy as np

    from convml_data_spark.operators import similarity

    rng = np.random.default_rng(13)
    rows = [(i, [float(v) for v in rng.standard_normal(8)]) for i in range(300)]
    outs = []
    for nparts in (1, 11):
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(nparts)
        c = similarity._sample_fit_centroids(
            df, n_lists=4, seed=7, vec_col="embedding", fit_fraction=0.5
        )
        b = similarity.pq_train(df, m=4, k=4, seed=7, fit_fraction=0.5)
        outs.append((c, b))
    assert outs[0] == outs[1]


def test_sequential_scan_state_not_shared_across_groups(spark):
    """A step_fn that MUTATES its state dict in place must not leak one
    group's accumulation into the next (each group deep-copies state0)."""
    from convml_data_spark.operators.windows import sequential_scan

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "g string, t int"
    )

    def step(state, row):
        state["n"] = state.get("n", 0) + 1  # in-place mutation
        return state, {"g": row["g"], "n": state["n"]}

    out = sequential_scan(df, ["g"], ["t"], step, {}, "g string, n long").collect()
    got = {(r["g"], r["n"]) for r in out}
    assert got == {("a", 1), ("a", 2), ("b", 1)}  # b restarts at 1


def test_sequential_scan_schema_with_comma_in_type(spark):
    """Complex output types containing commas parse via the DDL parser,
    not naive string splitting."""
    from convml_data_spark.operators.windows import sequential_scan

    df = spark.createDataFrame([("a", 1)], "g string, t int")

    def step(state, row):
        return state, {"g": row["g"], "m": {"k": row["t"]}}

    out = sequential_scan(
        df, ["g"], ["t"], step, None, "g string, m map<string,int>"
    ).collect()
    assert out[0]["m"] == {"k": 1}


def test_tile_pixel_cover_matches_range_join_on_full_grid(spark):
    """The covering-tile explode returns EXACTLY the broadcast range
    join's rows against the full sliding grid — overlapping tiles
    (step < n_tile), a coverage gap (grid not spanning every pixel), and
    out-of-grid pixels included."""
    from pyspark.sql import functions as F

    from convml_data_spark.operators import tiler

    for nx, ny, n_tile, step in ((20, 20, 8, 4), (21, 13, 6, 6), (16, 16, 4, 4)):
        px = (
            spark.range(1)
            .select(F.explode(F.expr(f"sequence(0, {nx + 2})")).alias("x"))
            .select("x", F.explode(F.expr(f"sequence(0, {ny + 2})")).alias("y"))
            .withColumn("value", F.col("x") * 1000 + F.col("y"))
        )
        tiles = tiler.sliding_tiles(spark, nx, ny, n_tile, step)
        want = sorted(
            map(tuple, tiler.tile_pixel_join(px, tiles).collect())
        )
        got = sorted(
            map(
                tuple,
                tiler.tile_pixel_cover(
                    px, nx=nx, ny=ny, n_tile=n_tile, step=step
                ).collect(),
            )
        )
        assert got == want, (nx, ny, n_tile, step)


def test_binned_1d_no_phantom_edge_bin(spark):
    """A value exactly at hi lands NOWHERE (left-closed [lo, hi) domain)
    — the old 1e-12 epsilon was a float no-op for hi >= ~16384 and let
    by == hi into a phantom bin n_bins."""
    from convml_data_spark.operators.binning import binned_statistic_1d

    df = spark.createDataFrame(
        [(120000.0, 1.0), (119999.0, 2.0), (0.0, 3.0), (-1.0, 4.0)],
        "x double, v double",
    )
    out = binned_statistic_1d(df, "v", "x", 0.0, 120000.0, 24, stats=["count"])
    bins = {r["bin"]: r["count"] for r in out.collect()}
    assert 24 not in bins          # hi-exact row excluded
    assert bins == {23: 1, 0: 1}   # interior + lo-edge rows binned


def test_binned_1d_excludes_nan_inf_and_overflow_values(spark):
    """The domain pre-filter drops NaN (floor(NaN)=0 would land it in
    bin 0), +/-inf, and huge by-values whose bucket id exceeds int range
    (>= 2^31 * step would raise CAST_OVERFLOW under ANSI) — round-7 fix,
    mirrored on the 2-D coordinate mask."""
    from convml_data_spark.operators.binning import binned_statistic_1d

    df = spark.createDataFrame(
        [
            (float("nan"), 1.0),
            (float("inf"), 2.0),
            (float("-inf"), 3.0),
            (2.0**40, 4.0),     # >= 2^31 * step: overflow-sized, not NaN
            (-2.0**40, 5.0),
            (None, 6.0),
            (0.5, 7.0),          # the only in-domain row
        ],
        "x double, v double",
    )
    out = binned_statistic_1d(df, "v", "x", 0.0, 10.0, 10, stats=["count"])
    bins = {r["bin"]: r["count"] for r in out.collect()}
    assert bins == {0: 1}


def test_binned_2d_masks_nan_coordinates_and_min_points_without_count(spark):
    from convml_data_spark.operators.binning import binned_statistic_2d

    df = spark.createDataFrame(
        [(float("nan"), 1.0, 5.0), (1.0, 1.0, 6.0), (1.0, 1.0, 7.0)],
        "x double, y double, v double",
    )
    out = binned_statistic_2d(
        df, "x", "y", "v", dx=10.0, dy=10.0, stats=["mean"], min_points=1
    ).collect()
    # NaN-x row dropped; surviving bin has 2 points > min_points, and the
    # internal count column does not leak into the output
    assert len(out) == 1 and set(out[0].asDict()) == {"xbin", "ybin", "mean"}
    assert out[0]["mean"] == 6.5


def test_exact_quantiles_on_decimal_column(spark):
    from pyspark.sql import functions as F

    from convml_data_spark.operators.binning import exact_quantiles

    df = spark.range(101).select(F.col("id").cast("decimal(15,2)").alias("d"))
    got = exact_quantiles(df, "d", [0.5, 0.25])
    assert got == [50.0, 25.0]


def test_rayleigh_correction_physics(spark):
    """The analytic single-scattering rayleigh stand-in must behave like
    the physics it approximates: (1) the blue band's path reflectance
    exceeds the red band's at any shared geometry (tau ~ lambda^-4);
    (2) path reflectance decreases as the sun rises (mu_s -> 1);
    (3) tau -> 0 collapses the correction to the clipped identity;
    (4) NULL (missing pixel) propagates."""
    from pyspark.sql import functions as F

    from convml_data_spark.operators.images import (
        TAU_ABI,
        rayleigh_correct,
        rayleigh_reflectance,
        scattering_cosine,
    )

    assert TAU_ABI["C01"] > TAU_ABI["C02"] > TAU_ABI["C03"]
    df = spark.createDataFrame(
        [(0.4, 0.9, 0.95, 30.0), (0.4, 0.3, 0.95, 30.0), (None, 0.9, 0.95, 30.0)],
        "refl double, mu_s double, mu_v double, raz double",
    )
    cth = scattering_cosine(F.col("mu_s"), F.col("mu_v"), F.col("raz"))
    out = df.select(
        rayleigh_reflectance(TAU_ABI["C01"], F.col("mu_s"), F.col("mu_v"), cth).alias("rb"),
        rayleigh_reflectance(TAU_ABI["C02"], F.col("mu_s"), F.col("mu_v"), cth).alias("rr"),
        rayleigh_correct(F.col("refl"), TAU_ABI["C01"], F.col("mu_s"), F.col("mu_v"), cth).alias("cb"),
        rayleigh_correct(F.col("refl"), 0.0, F.col("mu_s"), F.col("mu_v"), cth).alias("ident"),
        F.col("mu_s"),
    ).collect()
    high_sun = next(r for r in out if r["mu_s"] == 0.9 and r["cb"] is not None)
    low_sun = next(r for r in out if r["mu_s"] == 0.3)
    null_row = next(r for r in out if r["cb"] is None and r["mu_s"] == 0.9)
    # (1) blue path reflectance > red at the same geometry
    assert high_sun["rb"] > high_sun["rr"] > 0.0
    # (2) lower sun -> more air mass -> more path reflectance
    assert low_sun["rb"] > high_sun["rb"]
    # (3) tau=0: no subtraction, unit transmittance
    assert abs(high_sun["ident"] - 0.4) < 1e-12
    # (4) missing pixel stays missing through the whole correction
    assert null_row["ident"] is None


def test_top_ngram_frac_sorted_run_fold_matches_occurrence_scan(spark):
    """r17 optimization pin: top_ngram_frac's sorted-run-length fold is
    value-identical to the former O(d·g) per-distinct occurrence scan
    (max multiplicity / total), across repeats, all-identical docs,
    empties and shorter-than-n docs."""
    import random

    from convml_data_spark.functions import text as T

    rng = random.Random(1712)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    rows = [("",), (None,), ("one",), ("x x x x x x x x",)]
    for _ in range(60):
        k = rng.randint(0, 40)
        rows.append((" ".join(rng.choice(vocab) for _ in range(k)),))
    df = spark.createDataFrame(rows, "text string")
    toks = T.tokens(F.lower(F.col("text")))

    def old_frac(toks, n):
        g = T.ngrams_from_tokens(toks, n)
        counts = F.transform(
            F.array_distinct(g), lambda x: F.size(F.filter(g, lambda y: y == x))
        )
        return F.when(F.size(g) <= 0, F.lit(0.0)).otherwise(
            F.array_max(counts) / F.size(g)
        )

    bad = df.where(
        ~(
            (old_frac(toks, 2).eqNullSafe(T.top_ngram_frac(toks, 2)))
            & (old_frac(toks, 3).eqNullSafe(T.top_ngram_frac(toks, 3)))
        )
    ).count()
    assert bad == 0


def test_cc_round_set_identical_without_large_star_distinct(spark):
    """r17 optimization pin: dropping _large_star's trailing distinct (one
    Exchange per CC round) leaves every round's OUTPUT SET unchanged —
    _small_star's min-aggregation and final distinct absorb the (bounded,
    ≤|e|-row) duplicate re-attachments."""
    import random

    from convml_data_spark.operators.dedup import _large_star, _small_star

    rng = random.Random(42)
    edges = {(rng.randint(0, 40), rng.randint(0, 40)) for _ in range(80)}
    canon = sorted({(min(u, v), max(u, v)) for u, v in edges if u != v})
    e = spark.createDataFrame(canon, "u long, v long")

    def ls_old(e):
        adj = e.select(F.col("u").alias("c"), F.col("v").alias("x")).unionAll(
            e.select(F.col("v").alias("c"), F.col("u").alias("x"))
        )
        m = (
            adj.groupBy("c")
            .agg(F.min("x").alias("_mn"))
            .select("c", F.least("c", "_mn").alias("m"))
        )
        return (
            adj.join(m, "c")
            .where(F.col("x") > F.col("c"))
            .select(F.col("m").alias("u"), F.col("x").alias("v"))
            .distinct()
        )

    cur_old, cur_new = e, e
    for _ in range(3):
        # materialize each round before comparing: the raw composition
        # doubles the un-truncated plan per round and each exceptAll
        # re-plans BOTH sides' full history — 98 s of pure Catalyst work
        # for 40 nodes without this (the production loop checkpoints
        # every step for exactly this reason; the property is about the
        # round's OUTPUT SET, which materialization cannot change)
        cur_old = cur_old.localCheckpoint()
        cur_new = cur_new.localCheckpoint()
        cur_old = _small_star(ls_old(cur_old))
        cur_new = _small_star(_large_star(cur_new))
        # multiset equality via collect (40-node graph): same assertion
        # the two exceptAll directions made, minus 4 Catalyst plan
        # chains per round
        from collections import Counter

        mo = Counter((r["u"], r["v"]) for r in cur_old.collect())
        mn = Counter((r["u"], r["v"]) for r in cur_new.collect())
        assert mo == mn


def test_connected_components_long_path_fused_steps(spark):
    """r18 pin for the fused two-rounds-per-checkpoint CC loop (ADVICE
    r17: the distinct-removal pin never drove a run to its fixed point).
    A long path with scrambled non-monotone ids is the worst case for
    star contraction (diameter >> log n, min id in the middle): the run
    must cross several fused steps, fire the in-step convergence
    trigger, pass the exact fixed-point check, and label every node with
    the component minimum."""
    from convml_data_spark.operators.dedup import connected_components

    n = 200
    ids = [((i * 73) % n) * 1000 + 17 for i in range(n)]  # scrambled, distinct
    edges = [(ids[i], ids[i + 1]) for i in range(n - 1)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    lo = min(ids)
    for threshold in CC_THRESHOLDS:
        with broadcast_threshold(spark, threshold):
            got = {r["id"]: r["component"] for r in connected_components(df).collect()}
        assert len(got) == n
        assert set(got.values()) == {lo}, threshold


def test_connected_components_budget_exit_raises(spark):
    """A budget too small for a long path raises instead of emitting
    labels from an unconverged edge set, and an odd max_iters runs
    exactly that many star rounds (not the next even number)."""
    import pytest

    from convml_data_spark.operators.dedup import connected_components

    n = 200
    ids = [((i * 73) % n) * 1000 + 17 for i in range(n)]
    edges = [(ids[i], ids[i + 1]) for i in range(n - 1)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    # the subject is the star-round budget: keep this small graph off the
    # one-pass path
    with broadcast_threshold(spark, "-1"):
        with pytest.raises(RuntimeError, match=r"in 3 star rounds \(max_iters=3\)"):
            connected_components(df, max_iters=3)


def test_connected_components_small_graph_takes_one_pass(spark):
    """A graph whose pairs fit under spark.sql.autoBroadcastJoinThreshold
    is labelled on the driver: after the normalized pairs' checkpoint,
    connected_components launches exactly one job (the guarded collect),
    and its labels equal the star rounds'. The gate compares the pairs'
    UTF-8 bytes with the threshold, a collect that finds more rows than
    the bound falls through, and a (NULL, NULL) pair labels itself NULL
    as on the star-round path."""
    from convml_data_spark.operators.dedup import _driver_labels, connected_components

    pairs = spark.createDataFrame(
        [("u/c", "u/b"), ("u/b", "u/a"), ("u/x", "u/x"), ("u/a", "u/a"),
         ("u/y", "u/z"), ("u/z", "u/y")],
        "id_a string, id_b string",
    )  # 5 distinct canonical pairs of 6 bytes each: 30 bytes
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(threshold):
        group = f"cc-one-pass-{threshold}"
        sc.setJobGroup(group, "connected_components job count")
        try:
            with broadcast_threshold(spark, threshold):
                got = {
                    r["id"]: r["component"] for r in connected_components(pairs).collect()
                }
        finally:
            sc.setJobGroup("", "")
        jobs = sorted(tracker.getJobIdsForGroup(group))
        # a skipped stage may have no info left in a long session
        names = [
            [i.name for i in map(tracker.getStageInfo, tracker.getJobInfo(j).stageIds) if i]
            for j in jobs
        ]
        first_ckpt = next(
            i for i, ns in enumerate(names) if any("checkpoint" in n.lower() for n in ns)
        )
        return got, len(jobs) - first_ckpt - 1

    want = {"u/a": "u/a", "u/b": "u/a", "u/c": "u/a", "u/x": "u/x",
            "u/y": "u/y", "u/z": "u/y"}
    star, star_after = run("-1")
    assert star == want
    assert star_after > 1
    for threshold in (None, "30"):
        got, after = run(threshold)
        assert got == want, threshold
        assert after == 1, f"{after} jobs after the pairs' checkpoint at {threshold}"
    got, after = run("29")
    assert got == want
    assert after > 1, "29 bytes < the pairs' 30: the star rounds must run"

    p0 = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "d"), (None, None)], "u string, v string"
    )
    assert _driver_labels(p0, 3) is None
    assert set(map(tuple, _driver_labels(p0, 4).collect())) == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), (None, None)
    }


def test_connected_components_fixed_point_accept_is_exact(spark):
    """The r18 accept check verifies R(e) = e directly (R = small_star ∘
    large_star): on a graph that is ALREADY a star set, one fused step
    must suffice and the result must be idempotent — rerunning CC on the
    (component, id) edge list reproduces identical labels."""
    from convml_data_spark.operators.dedup import connected_components

    edges = [(1, x) for x in (2, 3, 4)] + [(10, 11)] + [(20, 20)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    for threshold in CC_THRESHOLDS:
        with broadcast_threshold(spark, threshold):
            got = {r["id"]: r["component"] for r in connected_components(df).collect()}
            assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}
            again = spark.createDataFrame(
                [(v, k) for k, v in got.items()], "id_a long, id_b long"
            )
            got2 = {
                r["id"]: r["component"] for r in connected_components(again).collect()
            }
            assert got2 == got, threshold


def test_hashed_shingle_sets_match_string_space(spark):
    """r18 pin for the long-key prefix joins: _hashed_shingle_sets maps
    the distinct string shingle set through the 60-bit md5 hash — set
    SIZES and pairwise INTERSECTION sizes must equal the string-space
    ones on collision-free data (any real corpus; the md5 space is
    2^60), so jaccard/containment values are unchanged by the r18 key
    narrowing."""
    from convml_data_spark.operators.dedup import (
        _hashed_shingle_sets,
        _shingles,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over a sleeping dog"),
        (3, "completely different words in this one here now"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (5, "short"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    h = {
        r["id"]: set(r["sh"])
        for r in _hashed_shingle_sets(docs, "text", "doc_id", 3).collect()
    }
    s = {
        r["id"]: set(r["sh"])
        for r in _shingles(docs, "text", "doc_id", 3, []).collect()
    }
    assert set(h) == set(s)
    for k in s:
        assert len(h[k]) == len(s[k]), k
    assert h[1] == h[4]
    for a, b in [(1, 2), (1, 3), (2, 3)]:
        assert len(h[a] & h[b]) == len(s[a] & s[b]), (a, b)
    # long keys, not strings: the whole prefix-join pipeline shuffles 8
    # bytes per token
    [sh_type] = [t for n, t in _hashed_shingle_sets(
        docs, "text", "doc_id", 3).dtypes if n == "sh"]
    assert sh_type == "array<bigint>"


def test_minhash_single_parse_sql_matches_column_form(spark):
    """r18 pin for the one-parse minhash signature builders: the SQL-text
    affine hash (_affine_mersenne_sql, parsed once via F.expr) must equal
    the Column-builder form (_affine_mersenne_long) exactly, across the
    full documented input range [0, 2^61) including the p-1 boundary
    (every limb saturated), for boundary params AND the real seed-42
    params the signature builders actually use."""
    import random

    from pyspark.sql import functions as F

    from convml_data_spark.operators.dedup import (
        _MERSENNE_P,
        _affine_mersenne_long,
        _affine_mersenne_sql,
        _hash_params,
    )

    rng = random.Random(29)
    xs = [0, 1, _MERSENNE_P - 1, (1 << 60) - 1]
    for _ in range(200):
        xs.append(rng.randrange(0, 1 << 61))
    df = spark.createDataFrame([(x,) for x in xs], "x long")
    params = _hash_params(6, seed=42) + [
        (1, 0),
        (_MERSENNE_P - 1, _MERSENNE_P - 1),
    ]
    cols = []
    for i, (ai, bi) in enumerate(params):
        cols.append(_affine_mersenne_long(F.col("x"), ai, bi).alias(f"c{i}"))
        cols.append(F.expr(_affine_mersenne_sql("x", ai, bi)).alias(f"s{i}"))
    for r in df.select("x", *cols).collect():
        for i, (ai, bi) in enumerate(params):
            exp = (ai * r["x"] + bi) % _MERSENNE_P
            assert r[f"c{i}"] == exp, (r["x"], ai, bi)
            assert r[f"s{i}"] == exp, (r["x"], ai, bi)
