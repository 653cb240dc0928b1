"""Seeded random sampling & splitting — SURVEY §2.9 R1–R6.

Reference semantics (convml_data/pipeline/triplets.py:30-118,
convml_data/sampling/triplets.py:8-104):

- R1 ``random_by_relative_sample_size``: shuffle scene ids, allocate them to
  collections (train/study) proportional to the requested triplet counts.
- R2: per triplet, pick two distinct random scenes from its collection.
- R3: uniform tile placement inside the margin-shrunk domain
  (margin = tile_size * 2/3, sampling/triplets.py:15-19), rejection-retried
  until contained.
- R4: neighbor tile at distance ``scaling * tile_size`` and a uniform random
  angle, rejection-retried (sampling/triplets.py:47-81).
- R6 (CHANGELOG.md:52-55, bugfix #19): per-task RNG seeding so parallel
  workers don't generate duplicate tiles.

Determinism design (stronger than the reference's pid-based seeding): every
random draw is ``hash_uniform(seed, *key_columns)`` — a pure column
expression over md5, so results are identical regardless of partitioning,
executor count, or retry/speculative execution. The same expression is
replayable in any engine with md5 (the DuckDB oracle uses
``CAST('0x' || substr(md5(k),1,13) AS BIGINT) / 2^52``).

Rejection loops become bounded candidate ARRAYS filtered by the containment
predicate (first valid wins) — data-parallel, deterministic, and guaranteed
to terminate, unlike a per-row Python retry loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TWO_POW_52 = float(1 << 52)


def hash_key(seed: int | str, *cols: Column) -> Column:
    """Deterministic mixing key: seed + column values joined with '|'."""
    return F.concat_ws("|", F.lit(str(seed)), *[c.cast("string") for c in cols])


def hash_uniform(seed: int | str, *cols: Column) -> Column:
    """Uniform double in [0, 1), a pure function of (seed, columns).

    52 bits of md5 → exact in a double; identical in Spark and DuckDB:
    ``conv(substr(md5(k),1,13),16,10) / 2^52``.
    """
    h = F.conv(F.substring(F.md5(hash_key(seed, *cols)), 1, 13), 16, 10).cast("long")
    return h / F.lit(TWO_POW_52)


def proportional_split(
    df: DataFrame,
    id_col: str,
    counts: dict[str, int],
    seed: int = 42,
    collection_col: str = "collection",
) -> DataFrame:
    """R1: assign every row to a named collection, sizes proportional to
    ``counts`` (exact up to flooring, like the reference's allocation).

    The one-stratum case of :func:`stratified_split`: rows are ranked by
    ``hash_uniform(id)`` (ties broken by id), then rank thresholds at
    ``floor(n · cum / total)`` (``cum`` the running sum of ``counts``)
    carve the collections.

    Adds ``collection_index`` (INT): the row's 0-based position inside
    its collection in shuffled order, ``_rank − lo`` where ``lo`` is the
    collection's first rank. A collection is exactly the rank range
    ``[lo, hi)``, so the index is dense over ``[0, hi − lo)`` at no extra
    cost — :func:`pick_scene_pairs` draws scenes by it.
    """
    return _ranked_split(df, None, counts, id_col, seed, collection_col)


def pick_scene_pairs(
    triplets: DataFrame,
    scenes: DataFrame,
    triplet_id_col: str = "triplet_id",
    scene_id_col: str = "scene_id",
    collection_col: str = "collection",
    seed: int = 42,
) -> DataFrame:
    """R2: per triplet, two DISTINCT deterministic-random scenes from the
    triplet's collection — (anchor_scene, distant_scene).

    ``scenes`` must be a :func:`proportional_split` output: its
    ``collection_index`` numbers each collection densely in shuffled
    order, the order the reference leaves a collection in (shuffle, then
    allocate), so the scene index is a projection — no second ranking.

    Index math: ``anchor = floor(u_a · n)``; ``distant`` is drawn from the
    remaining ``n-1`` slots and shifted past the anchor, so distinctness is
    structural, not retry-based. The triplet→scene lookup is two
    equi-joins on (collection, index) — broadcastable when the scene
    table is small.
    """
    t = triplets.select(
        F.col(triplet_id_col),
        F.col(collection_col),
        hash_uniform(seed, F.lit("anchor"), F.col(triplet_id_col)).alias("_ua"),
        hash_uniform(seed, F.lit("distant"), F.col(triplet_id_col)).alias("_ud"),
    )
    sizes = scenes.groupBy(collection_col).agg(F.count("*").alias("_n"))
    t = t.join(F.broadcast(sizes), collection_col)
    anchor_i = F.floor(F.col("_ua") * F.col("_n")).cast("int")
    d0 = F.floor(F.col("_ud") * (F.col("_n") - 1)).cast("int")
    distant_i = F.when(d0 >= anchor_i, d0 + 1).otherwise(d0)
    t = t.withColumn("_ai", anchor_i).withColumn("_di", distant_i)
    idx = F.col("collection_index")
    a = scenes.select(collection_col, idx.alias("_ai"), F.col(scene_id_col).alias("anchor_scene"))
    d = scenes.select(collection_col, idx.alias("_di"), F.col(scene_id_col).alias("distant_scene"))
    return (
        t.join(a, [collection_col, "_ai"])
        .join(d, [collection_col, "_di"])
        .select(triplet_id_col, collection_col, "anchor_scene", "distant_scene")
    )


def uniform_tile_placement(
    tiles: DataFrame,
    x_range: tuple[float, float],
    y_range: tuple[float, float],
    tile_size: float,
    key_cols: list[str],
    seed: int = 42,
) -> DataFrame:
    """R3 (rectangular domain): uniform tile centers inside the margin-shrunk
    domain; margin = tile_size · 2/3 (sampling/triplets.py:15-19). For a
    rectangle the shrunk sample region already guarantees containment, so no
    rejection is needed — the geometry makes the retry loop vanish.
    """
    margin = tile_size * 2.0 / 3.0
    x0, x1 = x_range
    y0, y1 = y_range
    key = [F.col(c) for c in key_cols]
    ux = hash_uniform(seed, F.lit("x"), *key)
    uy = hash_uniform(seed, F.lit("y"), *key)
    return tiles.withColumn("x_c", F.lit(x0 + margin) + ux * F.lit((x1 - x0) - 2 * margin)).withColumn(
        "y_c", F.lit(y0 + margin) + uy * F.lit((y1 - y0) - 2 * margin)
    )


def neighbor_tile_placement(
    anchors: DataFrame,
    x_range: tuple[float, float],
    y_range: tuple[float, float],
    tile_size: float,
    key_cols: list[str],
    neighbor_distance_scaling: float = 1.0,
    seed: int = 42,
    max_attempts: int = 16,
    x_col: str = "x_c",
    y_col: str = "y_c",
) -> DataFrame:
    """R4: neighbor center at distance ``scaling·tile_size``, random angle,
    containment-retried (sampling/triplets.py:47-81).

    The reference recurses until the point lands inside; here each row gets a
    bounded ARRAY of candidate angles (attempt index mixed into the hash),
    the first in-domain candidate wins, and the anchor position itself is the
    final fallback (always contained) — deterministic, vectorized, and
    termination-proof.
    """
    margin = tile_size * 2.0 / 3.0
    x0, x1 = x_range
    y0, y1 = y_range
    r = neighbor_distance_scaling * tile_size
    key = [F.col(c) for c in key_cols]

    def candidate(k: Column) -> Column:
        theta = hash_uniform(seed, F.lit("theta"), k, *key) * F.lit(6.283185307179586)
        return F.struct(
            (F.col(x_col) + F.lit(r) * F.cos(theta)).alias("x"),
            (F.col(y_col) + F.lit(r) * F.sin(theta)).alias("y"),
        )

    cands = F.transform(F.sequence(F.lit(0), F.lit(max_attempts - 1)), candidate)
    inside = F.filter(
        cands,
        lambda c: (c["x"] >= F.lit(x0 + margin))
        & (c["x"] <= F.lit(x1 - margin))
        & (c["y"] >= F.lit(y0 + margin))
        & (c["y"] <= F.lit(y1 - margin)),
    )
    first = F.element_at(inside, 1)
    return anchors.withColumn(
        "x_n", F.when(first.isNotNull(), first["x"]).otherwise(F.col(x_col))
    ).withColumn("y_n", F.when(first.isNotNull(), first["y"]).otherwise(F.col(y_col)))


def triplet_tile_locations(
    triplets: DataFrame,
    x_range: tuple[float, float],
    y_range: tuple[float, float],
    tile_size: float,
    triplet_id_col: str = "triplet_id",
    neighbor_distance_scaling: float = 1.0,
    seed: int = 42,
) -> DataFrame:
    """R5: anchor + neighbor + distant locations per triplet, long form
    (triplet_id, tile_type, x_c, y_c) — sampling/triplets.py:84-104.

    Seeds mix (tile_type, triplet_id) — the R6 content-hash fix: reproducible
    under any parallelism, unlike the reference's pid-based seeding.
    """
    anchors = uniform_tile_placement(
        triplets, x_range, y_range, tile_size, [triplet_id_col], seed=f"{seed}|anchor"
    )
    neighbors = neighbor_tile_placement(
        anchors,
        x_range,
        y_range,
        tile_size,
        [triplet_id_col],
        neighbor_distance_scaling=neighbor_distance_scaling,
        seed=f"{seed}|neighbor",
    ).select(triplet_id_col, F.col("x_n").alias("x_c"), F.col("y_n").alias("y_c"))
    distants = uniform_tile_placement(
        triplets, x_range, y_range, tile_size, [triplet_id_col], seed=f"{seed}|distant"
    )

    def tag(df: DataFrame, tile_type: str) -> DataFrame:
        return df.select(
            triplet_id_col, F.lit(tile_type).alias("tile_type"), "x_c", "y_c"
        )

    return (
        tag(anchors, "anchor")
        .unionByName(tag(neighbors, "neighbor"))
        .unionByName(tag(distants, "distant"))
    )


def stratified_split(
    df: DataFrame,
    group_col: str,
    counts: dict[str, int],
    id_col: str = "doc_id",
    seed: int = 42,
    collection_col: str = "collection",
) -> DataFrame:
    """Stratified R1: EXACT proportional allocation within every group
    (source / language / domain) — each group splits independently by
    md5-uniform rank, thresholds at ``floor(n_g · cum / total)``
    (multiplied before dividing). A null group is its own stratum.
    """
    return _ranked_split(df, group_col, counts, id_col, seed, collection_col)


def _ranked_split(
    df: DataFrame,
    group_col: str | None,
    counts: dict[str, int],
    id_col: str,
    seed: int,
    collection_col: str,
) -> DataFrame:
    """The one R1 body: per stratum (``group_col``; ``None`` = one
    stratum, which also gets ``collection_index``), rank rows by
    ``(hash_uniform(seed, id), id)`` and cut the ranks at
    ``floor(n · cum / total)``.

    Scale design: a per-group ``row_number`` window would funnel a whole
    group through one task (stratification keys are coarse — a source at
    100 TB is terabytes). Instead the md5-uniform rank key gets FIXED
    equidistant bucket cuts (uniform by construction, no sketch), ranks
    are computed per (group, bucket) in parallel, and each bucket's
    offset + the group total arrive via the (group, bucket) count
    relation of :func:`binning._bucket_offsets`, bounded by |groups|·P
    rows and computed entirely executor-side (NO
    driver collect, so building the plan runs no job, and a per-domain
    split over millions of strata materializes nothing on the driver).
    Assignment thresholds replay exactly in SQL (same double multiply +
    floor both engines).
    """
    from pyspark.sql import Window

    from .binning import _bucket_offsets, _stratum_key

    p = max(df.sparkSession.sparkContext.defaultParallelism, 2)
    total = float(sum(counts.values()))
    keyed = (
        df.withColumn("_u", hash_uniform(seed, F.col(id_col)))
        .withColumn("_b", F.least(F.floor(F.col("_u") * p), F.lit(p - 1)).cast("int"))
        .withColumn("_gk", _stratum_key(group_col))
    )
    off = _bucket_offsets(keyed, F.count("*"))
    # NO broadcast hint: the ranking window below repartitions the data
    # by (_gk, _b) anyway, so a shuffle join on the same key REUSES that
    # exchange (one data shuffle total, same as the broadcast plan) —
    # and, unlike a forced broadcast, it survives millions of strata
    # (off is bounded by |groups|·P, which only a shuffle join handles at
    # web-domain cardinalities). AQE still converts to broadcast at
    # runtime when off turns out tiny.
    w = Window.partitionBy("_gk", "_b").orderBy("_u", id_col)
    ranked = keyed.join(off, ["_gk", "_b"]).withColumn(
        "_rank", F.row_number().over(w) - 1 + F.col("_off")
    )
    rank = F.col("_rank")
    assign = index = None
    acc, lo = 0.0, F.lit(0)
    items = list(counts.items())
    for name, c in items[:-1]:
        acc += c
        hi = F.floor(F.col("_n") * F.lit(acc) / F.lit(total))
        cond = rank < hi
        if assign is None:
            assign, index = F.when(cond, F.lit(name)), F.when(cond, rank - lo)
        else:
            assign, index = assign.when(cond, F.lit(name)), index.when(cond, rank - lo)
        lo = hi
    last = items[-1][0]
    assign = F.lit(last) if assign is None else assign.otherwise(F.lit(last))
    out = ranked.withColumn(collection_col, assign)
    if group_col is None:
        index = rank - lo if index is None else index.otherwise(rank - lo)
        out = out.withColumn("collection_index", index.cast("int"))
    return out.drop("_u", "_b", "_gk", "_off", "_n", "_rank")
