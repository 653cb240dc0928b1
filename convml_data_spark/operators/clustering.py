"""Density-based clustering (DBSCAN) as relational algebra — the §2.12 X4
embedding-transform family's density member.

Reference: ``embeddings/transforms.py:17-139`` dispatches ``hdbscan`` for
density clustering of embedding spaces. hdbscan the library is not in this
container (and its single-node mutual-reachability MST does not decompose
into bounded relational rounds anyway); DBSCAN is the classic density
clusterer with an EXACT distributed formulation, so it stands in as the
density transform — same fit/apply surface, same label-column shape
(cluster ids + noise), deterministic.

Algorithm (all hash joins on bounded keys — no cartesian product, no
driver-side state):

1. **Epsilon grid**: cell = (⌊x/eps⌋, ⌊y/eps⌋). Any two points within
   ``eps`` lie in the same or an adjacent cell, so candidate pairs come
   from ONE equi-join on the target cell after a 3×3 neighbor-offset
   explode (constant fan-out 9) — shuffle ∝ 9·n, never n².
2. **Core points**: neighbor count within eps (self included) ≥ min_pts —
   one groupBy over the candidate pairs.
3. **Clusters**: connected components over core–core eps-edges
   (:func:`~.dedup.connected_components`, shared with dedup): one driver
   pass when the edges fit under ``spark.sql.autoBroadcastJoinThreshold``,
   otherwise the alternating large-star/small-star contraction in
   O(log² n) rounds; a cluster's label is its minimum core id.
4. **Border points**: non-core within eps of ≥1 core join the component of
   their MINIMUM core neighbor (standard DBSCAN leaves border assignment
   scan-order-dependent; pinning argmin-by-id makes it deterministic and
   engine-replayable).
5. **Noise**: everything else; NULL label.

Scale: dense areas concentrate in few cells — per-cell point counts bound
the join fan-out; a pathological all-points-one-cell input degrades to the
per-cell pair square, which is the correct DBSCAN answer for that data
(every pair IS a neighbor pair) and still shuffles on the cell key, not a
cartesian. 100 TB: grid join + groupBy + CC rounds, all hash-partitioned
(above the broadcast threshold, CC never holds edges on the driver).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import Observation


def epsilon_grid_cell_stats(
    points: DataFrame,
    eps: float,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Exact epsilon-grid occupancy diagnostic — the pre-flight check for
    the one quadratic corner DBSCAN's relational formulation has left: a
    DENSE CELL. The 3×3 candidate join's output is Σ over cells of
    c_cell · (c_cell + neighbor cells' counts), so one cell holding c
    points contributes ≥ c² candidate rows no matter how the rest of the
    data is laid out (that square IS the correct DBSCAN answer for such
    data — every pair is a neighbor pair — but its cost should be seen
    BEFORE a 100 TB run, not discovered as a hot executor).

    Returns ONE row: ``n_points``, ``n_cells``, ``max_cell_count`` (the
    skew headline — candidate work grows with its square),
    ``sum_sq_cell_count`` (Σ c², the exact same-cell candidate-pair count
    incl. self-pairs; 9·Σc² upper-bounds the full 3×3 join output by
    Cauchy–Schwarz). Cost: one hash aggregation on the cell key + a
    1-row reduce — run it as a cheap separate job, or rely on the free
    ``skew_observation`` probe on :func:`dbscan_labels` /
    :func:`dbscan_eps_ladder` for the in-flight variant.
    """
    eps = float(eps)
    cx = F.floor(F.col(x_col).cast("double") / F.lit(eps))
    cy = F.floor(F.col(y_col).cast("double") / F.lit(eps))
    cells = points.groupBy(cx.alias("cx"), cy.alias("cy")).agg(
        F.count("*").alias("c")
    )
    return cells.agg(
        F.sum("c").alias("n_points"),
        F.count("*").alias("n_cells"),
        F.max("c").alias("max_cell_count"),
        F.sum(F.col("c") * F.col("c")).alias("sum_sq_cell_count"),
    )


#: Coarse-cell occupancy above which :func:`_eps_edges` refines the cell
#: to eps/2 sub-cells before the neighbor join. At the threshold a single
#: cell contributes ~T² same-cell candidate rows (~1.7e7 at 4096) — about
#: the most one task should absorb before the grid splits the work.
DENSE_CELL_THRESHOLD = 4096


def _eps_edges(
    pts: DataFrame,
    eps: float,
    skew_observation: "Observation | None",
    dense_cell_threshold: int | None,
) -> DataFrame:
    """Materialized DIRECTED eps-neighbor edge list ``(id_a, id_b, _d2)``
    over ``pts(id, x, y)`` — every ordered pair with distinct ids and
    distance ≤ eps appears exactly once. Shared by :func:`dbscan_labels`
    and :func:`dbscan_eps_ladder`.

    Two-level epsilon grid (the dense-cell mitigation): a coarse cell
    holding more than ``dense_cell_threshold`` points would contribute
    count² same-cell candidates AND count·neighbor-count cross-cell
    candidates to the plain 3×3 join — the engine's one quadratic corner
    (:func:`epsilon_grid_cell_stats` measures it). Points in such cells
    are REFINED to eps/2 sub-cells and joined through a 5×5 sub-cell halo
    (halo area 6.25·eps² vs the coarse 9·eps², and a dense blob stops
    being paired against entire adjacent cells it cannot reach), while
    sparse-cell points keep the cheap 3×3 coarse join. The ordered-pair
    classes partition cleanly:

    - sparse→sparse: coarse 3×3 join, sparse side both ends;
    - dense→anything: fine 5×5 join, dense left vs ALL points keyed by
      sub-cell (any point within eps of a dense-cell point is ≤ 2
      sub-cells away on each axis, since eps = 2 sub-cell widths);
    - sparse→dense: the FLIP of the filtered dense→sparse edges —
      distance is symmetric, so no third join is needed.

    ``dense_cell_threshold=None`` disables refinement (single-level 3×3
    grid — the property-test baseline; labels are identical by
    construction because the edge SET is). The refined path costs one
    extra cell-count aggregation and one tag join over the points — both
    hash-partitioned on the cell key, nothing driver-sized — and AQE
    collapses the empty dense branch at runtime when no cell crosses the
    threshold.

    ``skew_observation`` rides the pre-filter candidate union
    (``candidate_pairs`` = total grid-join output rows, the quantity the
    refinement bounds) and forces the edge materialization EAGER so the
    metric fires (a lazily checkpointed plan executes inside a consumer's
    job and reports nothing).
    """
    from .persist import materialize_for_reuse

    eps = float(eps)
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))

    def halo_join(left_src, right_src, kx, ky, reach, flip_expr):
        # left side explodes its (2·reach+1)² neighbor offsets -> equi-join
        # on the target cell; each unordered eps-pair appears in BOTH
        # directions (a's offset hits b's cell and vice versa) unless the
        # pair straddles the dense/sparse split — the flip branch restores
        # those (see the docstring)
        off = F.explode(
            F.array(
                *[
                    F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                    for dx in range(-reach, reach + 1)
                    for dy in range(-reach, reach + 1)
                ]
            )
        ).alias("o")
        left = left_src.select("id", "x", "y", kx, ky, off).select(
            F.col("id").alias("id_a"),
            F.col("x").alias("xa"),
            F.col("y").alias("ya"),
            (F.col(kx) + F.col("o.dx")).alias("tkx"),
            (F.col(ky) + F.col("o.dy")).alias("tky"),
        )
        right = right_src.select(
            F.col("id").alias("id_b"),
            F.col("x").alias("xb"),
            F.col("y").alias("yb"),
            F.col(kx).alias("tkx"),
            F.col(ky).alias("tky"),
            flip_expr.alias("_flip"),
        )
        return left.join(right, ["tkx", "tky"]).select(
            "id_a", "xa", "ya", "id_b", "xb", "yb", "_flip"
        )

    cx = F.floor(F.col("x") / F.lit(eps))
    cy = F.floor(F.col("y") / F.lit(eps))
    cells = pts.select("id", "x", "y", cx.alias("cx"), cy.alias("cy"))
    if dense_cell_threshold is None:
        cand = halo_join(cells, cells, "cx", "cy", 1, F.lit(False))
    else:
        half = eps / 2.0
        dense_keys = (
            cells.groupBy("cx", "cy")
            .agg(F.count("*").alias("_cc"))
            .where(F.col("_cc") > int(dense_cell_threshold))
            .select("cx", "cy", F.lit(True).alias("_dense"))
        )
        tagged = cells.join(dense_keys, ["cx", "cy"], "left").select(
            "id",
            "x",
            "y",
            "cx",
            "cy",
            F.coalesce("_dense", F.lit(False)).alias("_dense"),
            F.floor(F.col("x") / F.lit(half)).alias("fx"),
            F.floor(F.col("y") / F.lit(half)).alias("fy"),
        )
        # four branch inputs read this relation — materialize the
        # scan+count+tag work once (lazy: filled by the edge job)
        tagged = materialize_for_reuse(tagged)
        sparse = tagged.where(~F.col("_dense"))
        dense = tagged.where(F.col("_dense"))
        cand = halo_join(sparse, sparse, "cx", "cy", 1, F.lit(False)).unionByName(
            # dense→sparse edges get flipped into the missing sparse→dense
            # direction after the distance filter
            halo_join(dense, tagged, "fx", "fy", 2, ~F.col("_dense"))
        )
    if skew_observation is not None:
        cand = cand.observe(
            skew_observation, F.count(F.lit(1)).alias("candidate_pairs")
        )
    kept = cand.where(
        (F.col("id_a") != F.col("id_b")) & (d2 <= F.lit(eps * eps))
    ).select("id_a", "id_b", d2.alias("_d2"), "_flip")
    edges = kept.select("id_a", "id_b", "_d2").unionByName(
        kept.where(F.col("_flip")).select(
            F.col("id_b").alias("id_a"),
            F.col("id_a").alias("id_b"),
            "_d2",
        )
    )
    # the edge list feeds several consumers (core counts, CC, border
    # assignment; every ladder level) — materialize it ONCE, lazily (an
    # eager checkpoint would execute the full grid join at plan
    # CONSTRUCTION time — every explain() of a dbscan query would run the
    # job). The opt-in skew probe forces eager: see the docstring.
    return materialize_for_reuse(edges, eager=skew_observation is not None)


def dbscan_labels(
    points: DataFrame,
    eps: float,
    min_pts: int,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    skew_observation: "Observation | None" = None,
    dense_cell_threshold: int | None = DENSE_CELL_THRESHOLD,
) -> DataFrame:
    """Exact 2-D DBSCAN: returns ``(id, label, is_core)`` with
    ``label`` = the minimum core id of the point's cluster (NULL = noise).

    ``points`` must be unique per ``id_col``. Inputs with more dimensions
    should pass a 2-D projection (the reference applies its density
    transform after PCA reduction for the same reason).

    ``skew_observation`` (optional ``pyspark.sql.Observation``) rides the
    candidate join at no extra scan cost (the dedup CC convergence-probe
    pattern): ``candidate_pairs`` = the pre-distance-filter join output
    size, the quantity a dense epsilon-grid cell blows up quadratically.
    Compare against ``n_points`` to alarm a production run; the exact
    per-cell breakdown is :func:`epsilon_grid_cell_stats`. Passing an
    observation makes the edge materialization EAGER (observation events
    only fire on a query the checkpoint itself executes — a lazily
    checkpointed plan runs inside a consumer's job and reports nothing),
    so the grid join executes when the DataFrame is BUILT, exactly like
    the CC rounds' probes.

    ``dense_cell_threshold`` arms the two-level grid (see
    :func:`_eps_edges`): coarse cells holding more than this many points
    are refined to eps/2 sub-cells before the neighbor join, bounding the
    dense-cell candidate blow-up; ``None`` keeps the single-level 3×3
    grid. The label output is identical either way (the edge set is).
    """
    eps = float(eps)
    from .persist import materialize_for_reuse

    # (id, x, y) is consumed by the grid join, the core filter, the
    # border anti-join and the final output join — materialized once
    # (24 bytes/row) so none of them re-plans the caller's upstream
    # (for the embedding path: the whole PCA projection + table scan)
    pts = materialize_for_reuse(
        points.select(
            F.col(id_col).alias("id"),
            F.col(x_col).cast("double").alias("x"),
            F.col(y_col).cast("double").alias("y"),
        ),
    )
    edges = _eps_edges(
        pts, eps, skew_observation, dense_cell_threshold
    ).select("id_a", "id_b")
    return _labels_from_edges(pts, edges, min_pts)[0]


def _labels_from_edges(
    pts: DataFrame,
    edges: DataFrame,
    min_pts: int,
    prev_core_labels: DataFrame | None = None,
    materialize_core: bool = False,
    core: DataFrame | None = None,
    attach_borders: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Core/cluster/border/noise labeling given a SYMMETRIC eps-neighbor
    edge list (id_a, id_b) — the post-candidate-join half of DBSCAN,
    shared by the single-eps operator and the eps-ladder hierarchy.
    Returns ``(labels, core_labels)``: the full per-point result plus the
    core-only ``(id, label)`` relation (the ladder threads the latter into
    the next level's warm start).

    ``prev_core_labels`` (optional) warm-starts the cluster collapse from
    a SMALLER-eps level's core labels. Validity rests on monotonicity in
    eps: neighbor counts only grow, so prev cores are still cores, and
    every prev core-core edge is still a core-core edge — each previous
    component is wholly contained in one current component. Both edge
    endpoints are therefore CONTRACTED through the previous labels
    (non-prev-core endpoints map to themselves), connected components
    runs on the super-node graph — whose distinct edge count is roughly
    the NEW merges, not the whole edge set — and each core's final label
    is its super-node's component. Labels stay exactly the min core id:
    contracted node ids are previous cluster minima plus newly-core ids,
    and every level-k cluster minimum is ≤ all ids it represents, so the
    min over contracted ids equals the min over all core ids.

    ``core`` (optional) overrides the neighbor-count core computation
    with a precomputed ``(id)`` core relation — the mutual-reachability
    ladder derives cores from the materialized core-distance relation
    instead (equivalent set: count ≥ min_pts−1 ⟺ the (min_pts−1)-th
    smallest neighbor distance ≤ eps). ``attach_borders=False`` skips
    the border join entirely (DBSCAN* semantics: non-core = noise).
    """
    from .dedup import connected_components

    if core is None:
        n_nbr = edges.groupBy("id_a").agg(F.count("*").alias("_n"))
        core = (
            pts.join(n_nbr, pts.id == n_nbr.id_a, "left")
            .where(
                F.coalesce(F.col("_n"), F.lit(0)) + 1 >= F.lit(int(min_pts))
            )
            .select("id")
        )
    # clusters: components over core-core edges + core self-pairs (a core
    # with no core neighbor is its own single-point cluster). The edge
    # relation is DIRECTED-symmetric (both orientations present), but CC
    # canonicalizes every pair with least/greatest anyway — feed it only
    # the id_a < id_b half, which halves the two core semi-joins and the
    # CC normalization shuffle with a bit-identical component result.
    cc_edges = (
        edges.where(F.col("id_a") < F.col("id_b"))
        .join(core.withColumnRenamed("id", "id_a"), "id_a")
        .join(core.withColumnRenamed("id", "id_b"), "id_b")
        .select("id_a", "id_b")
        .unionByName(core.select(F.col("id").alias("id_a"), F.col("id").alias("id_b")))
    )
    if prev_core_labels is None:
        comp = connected_components(cc_edges).withColumnRenamed(
            "component", "label"
        )
        core_labeled = core.join(comp, "id").select("id", "label")
    else:
        pl_a = prev_core_labels.select(
            F.col("id").alias("id_a"), F.col("label").alias("_la")
        )
        pl_b = prev_core_labels.select(
            F.col("id").alias("id_b"), F.col("label").alias("_lb")
        )
        contracted = (
            cc_edges.join(pl_a, "id_a", "left")
            .join(pl_b, "id_b", "left")
            .select(
                F.coalesce("_la", F.col("id_a")).alias("id_a"),
                F.coalesce("_lb", F.col("id_b")).alias("id_b"),
            )
        )
        sup = connected_components(contracted).select(
            F.col("id").alias("_node"), F.col("component").alias("label")
        )
        core_labeled = (
            core.join(prev_core_labels.withColumnRenamed("label", "_pl"), "id", "left")
            .select("id", F.coalesce("_pl", F.col("id")).alias("_node"))
            .join(sup, "_node")
            .select("id", "label")
        )
    if materialize_core:
        # shared by this level's border/output joins AND the next ladder
        # level's contraction — one lazy checkpoint, filled by the first
        # action on any consumer
        from .persist import materialize_for_reuse

        core_labeled = materialize_for_reuse(core_labeled)
    if not attach_borders:
        out = (
            pts.select("id")
            .join(core_labeled, "id", "left")
            .select("id", "label", F.col("label").isNotNull().alias("is_core"))
        )
        return out, core_labeled
    # border: non-core with >= 1 core neighbor -> its minimum core
    # neighbor's cluster
    core_nbr = (
        edges.join(
            core_labeled.select(F.col("id").alias("id_b"), F.col("label")), "id_b"
        )
        .groupBy("id_a")
        .agg(F.min_by("label", F.col("id_b")).alias("label"))
    )
    border = (
        pts.select("id")
        .join(core_labeled.select("id"), "id", "left_anti")
        .join(core_nbr.withColumnRenamed("id_a", "id"), "id")
        .select("id", "label")
    )
    labeled = core_labeled.select(
        "id", "label", F.lit(True).alias("is_core")
    ).unionByName(border.select("id", "label", F.lit(False).alias("is_core")))
    out = (
        pts.select("id")
        .join(labeled, "id", "left")
        .select("id", "label", F.coalesce("is_core", F.lit(False)).alias("is_core"))
    )
    return out, core_labeled


def dbscan_eps_ladder(
    points: DataFrame,
    eps_levels: list[float],
    min_pts: int,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    warm_start: bool = True,
    skew_observation: "Observation | None" = None,
    dense_cell_threshold: int | None = DENSE_CELL_THRESHOLD,
) -> DataFrame:
    """HDBSCAN-style hierarchy SLICE: exact DBSCAN labels at every eps in
    a small ladder, from ONE candidate join — the relational analog of
    cutting the hdbscan dendrogram at a fixed set of heights (OPTICS with
    a discretized eps axis). Returns the long table
    ``(id, eps, label, is_core)``; a point's first-clustered level is its
    discretized core/reachability distance, and watching a label pair
    merge as eps grows is exactly the dendrogram's cluster-merge event.

    Closes the semantic distance to the reference's ``hdbscan`` dispatch
    (embeddings/transforms.py:107-139): hdbscan-the-library's
    mutual-reachability MST is single-node and not oracle-replayable; the
    eps-ladder is deterministic, exact per level, and each level is the
    same certified DBSCAN semantics.

    Scale: the 3x3 grid candidate join runs ONCE at ``max(eps_levels)``
    keeping squared distances; every level filters the MATERIALIZED edge
    relation (superset property: the eps_max grid covers every smaller
    radius), so adding a level adds CC rounds but no new n-scale joins or
    grid explodes. Levels additionally WARM-START each other
    (``warm_start=True``): level k's core labels contract level k+1's
    core-core edges into super-nodes before the star rounds (edges and
    core sets are monotone in eps, see :func:`_labels_from_edges`), so
    each level's CC runs over roughly the NEW merge edges instead of the
    full edge set — sub-linear total CC work in the number of levels at
    real ladder depths. ``warm_start=False`` runs every level from
    scratch (the property-test baseline; labels are identical by
    construction).

    ``dense_cell_threshold``: the two-level-grid dense-cell mitigation,
    applied at ``eps_max`` (see :func:`_eps_edges`); ``None`` keeps the
    single-level grid. Labels are identical either way.
    """
    eps_levels = sorted({float(e) for e in eps_levels})
    if not eps_levels:
        raise ValueError("eps_levels must be non-empty")
    eps_max = eps_levels[-1]
    from .persist import materialize_for_reuse

    # three consumers PER LEVEL (core/border/output joins) plus the grid
    # join: one tiny checkpoint replaces ~3·levels re-plans of the
    # caller's upstream projection
    pts = materialize_for_reuse(
        points.select(
            F.col(id_col).alias("id"),
            F.col(x_col).cast("double").alias("x"),
            F.col(y_col).cast("double").alias("y"),
        ),
    )
    edges = _eps_edges(
        pts, eps_max, skew_observation, dense_cell_threshold
    )
    outs = []
    prev_core_labels = None
    for lvl, eps in enumerate(eps_levels):
        level_edges = edges.where(F.col("_d2") <= F.lit(eps * eps)).select(
            "id_a", "id_b"
        )
        # the core-label checkpoint pays for itself only when a NEXT level
        # consumes it for contraction — the last level's consumers re-read
        # CC's own final checkpoint, so skip the extra materialization there
        last = lvl == len(eps_levels) - 1
        labeled, core_labels = _labels_from_edges(
            pts,
            level_edges,
            min_pts,
            prev_core_labels=prev_core_labels,
            materialize_core=warm_start and not last,
        )
        if warm_start and not last:
            prev_core_labels = core_labels
        outs.append(labeled.select("id", F.lit(eps).alias("eps"), "label", "is_core"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def mutual_reachability_ladder(
    points: DataFrame,
    eps_levels: list[float],
    min_pts: int,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    warm_start: bool = True,
    dense_cell_threshold: int | None = DENSE_CELL_THRESHOLD,
) -> DataFrame:
    """Mutual-reachability (robust single linkage) level sets — the
    hdbscan construction (Campello, Moulavi & Sander 2013) the plain
    :func:`dbscan_eps_ladder` approximates: per point the exact CORE
    DISTANCE (squared distance to the (min_pts−1)-th nearest other
    point, the k-NN radius hdbscan discounts density with), and per
    ladder height eps the connected components of the mutual-reachability
    graph ``mreach(a,b) = max(d(a,b), core(a), core(b)) ≤ eps``. Since
    ``mreach ≤ eps ⟺ (core(a) ≤ eps) ∧ (core(b) ≤ eps) ∧ (d ≤ eps)``,
    each level's graph is exactly the core-core eps-graph — i.e. the
    cut is DBSCAN* (Campello et al.'s star variant): border points are
    NOISE, never attached to a neighbor's cluster. The new artifacts vs
    the plain ladder are the exact per-point core distance and the
    DBSCAN* noise semantics; labels are min-core-id as everywhere else.
    Returns ``(id, eps, core_d2, label, is_core)`` — ``core_d2`` is the
    squared core distance (bit-exact replayable double arithmetic; NULL
    when the point has < min_pts−1 neighbors within max(eps_levels),
    i.e. it can never be core inside this ladder), ``label`` NULL =
    noise at that height.

    Scale design inherits the ladder: ONE materialized grid candidate
    join at eps_max; core distances are one keyed window over the edge
    relation (per-point neighbor lists, bounded by density — never a
    global sort), materialized once and filtered per level; levels
    warm-start each other through the same monotone core-label
    contraction (core sets defined by ``core_d2 ≤ eps²`` are monotone in
    eps exactly like count-based cores).
    """
    from .persist import materialize_for_reuse

    if int(min_pts) < 2:
        raise ValueError(
            f"min_pts must be >= 2 (the k-NN radius needs k >= 1 "
            f"other points), got {min_pts}"
        )
    eps_levels = sorted({float(e) for e in eps_levels})
    if not eps_levels:
        raise ValueError("eps_levels must be non-empty")
    eps_max = eps_levels[-1]
    pts = materialize_for_reuse(
        points.select(
            F.col(id_col).alias("id"),
            F.col(x_col).cast("double").alias("x"),
            F.col(y_col).cast("double").alias("y"),
        ),
    )
    edges = _eps_edges(pts, eps_max, None, dense_cell_threshold)
    w = Window.partitionBy("id_a").orderBy("_d2", "id_b")
    kth = (
        edges.select("id_a", "id_b", "_d2", F.row_number().over(w).alias("_r"))
        .where(F.col("_r") == F.lit(int(min_pts) - 1))
        .select(F.col("id_a").alias("id"), F.col("_d2").alias("core_d2"))
    )
    # all points, NULL core_d2 when never core within the ladder; feeds
    # every level's core filter AND every level's output join
    cd = materialize_for_reuse(pts.select("id").join(kth, "id", "left"))
    outs = []
    prev = None
    for lvl, eps in enumerate(eps_levels):
        e2 = eps * eps
        core = cd.where(F.col("core_d2") <= F.lit(e2)).select("id")
        level_edges = edges.where(F.col("_d2") <= F.lit(e2)).select(
            "id_a", "id_b"
        )
        last = lvl == len(eps_levels) - 1
        labeled, core_labels = _labels_from_edges(
            pts,
            level_edges,
            min_pts,
            prev_core_labels=prev,
            materialize_core=warm_start and not last,
            core=core,
            attach_borders=False,
        )
        if warm_start and not last:
            prev = core_labels
        outs.append(
            labeled.join(cd, "id", "left").select(
                "id",
                F.lit(eps).alias("eps"),
                "core_d2",
                "label",
                "is_core",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# Centroid clustering: deterministic fixed-round Lloyd k-means as relational
# algebra. The §2.12 X4 family's CENTROID member already exists twice in
# approximate form (Spark ML KMeans behind apply_transform — solver-defined
# labels, structurally certified only; the numpy sample-fit behind ivf_index
# — recall-bounded). This is the third, EXACT form: every arithmetic step is
# decimal-exact or identically-IEEE-rounded in Spark and DuckDB, so the full
# label assignment (and anything built on it, e.g. kmeans-blocked SemDeDup)
# gets a value oracle — the same reason DBSCAN above replaced hdbscan.


KMEANS_DEC = "decimal(12,6)"  # quantized coordinate type (6 dp, exact)
_KMEANS_ACC = "decimal(25,12)"  # d² accumulator: 64·(2e3)² fits 13 int digits


def _kmeans_quantized(vec_col):
    """In-row coordinate quantization: round(x, 6) → DECIMAL(12,6) per
    dimension. Everything downstream is exact decimal arithmetic, so
    assignments/centroids are partition-, AQE- and engine-independent.
    round(6) of a float32-derived double never lands on a decimal
    rounding tie (x.5e-6 has no exact binary representation), so Spark's
    BigDecimal round and DuckDB's multiply-based round agree."""
    return F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double"), 6).cast(KMEANS_DEC)
    )


def _kmeans_assign_expr(xq_name: str, centroids: list[list]) -> "F.Column":
    """Argmin-by-(d², cid) over the centroid literals — pure in-row Column
    math (array_min over (d, i) structs; decimal d² exact, so the min and
    its id tie-break are deterministic), the ivf_index assignment shape.
    Per centroid the squared distance is (12,6) diffs → (27,12) squares →
    (25,12) running sum, every step exact (ANSI mode would raise on
    overflow rather than round — coordinates beyond ~1e6 need a wider
    KMEANS_DEC).

    Built as ONE parsed SQL expression over a NAMED quantized-array
    column: the former per-literal Column construction pushed k·dim
    decimal literals through individual py4j calls — measured ~1.5 s of
    driver time PER BUILD at k=8, dim=64, and every fit builds the
    expression rounds+1 times. One ``F.expr`` parse is a single py4j
    round-trip; the parsed tree (string-literal casts to KMEANS_DEC,
    int accumulator cast, zip_with/aggregate lambdas) is node-identical
    to the old builder, so assignments are bit-equal (pinned by the
    Python-replica test)."""
    from decimal import Decimal

    parts = []
    for i, c in enumerate(centroids):
        # explicit fixed-point formatting: every current caller passes
        # scale-6 Decimals (plain notation, so this is the identity), but
        # a raw float like 1e-07 or a NULL coordinate would otherwise
        # interpolate as '1e-07'/'None' and make the ANSI CAST raise at
        # analysis time; Decimal(v) rejects None at build time instead
        lits = ",".join(f"'{Decimal(v):f}'" for v in c)
        d2 = (
            f"aggregate(zip_with(`{xq_name}`, "
            f"CAST(array({lits}) AS array<{KMEANS_DEC}>), "
            f"(a, b) -> (a - b) * (a - b)), CAST(0 AS {_KMEANS_ACC}), "
            f"(acc, v) -> CAST(acc + v AS {_KMEANS_ACC}))"
        )
        parts.append(f"struct({d2} AS d, {i} AS i)")
    return F.expr(f"array_min(array({', '.join(parts)})).i")


def relational_kmeans(
    points: DataFrame,
    k: int = 8,
    rounds: int = 2,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "cluster",
) -> DataFrame:
    """Deterministic fixed-round Lloyd k-means, fully engine-replayable.

    Reference parity: ``embeddings/transforms.py:17-139`` dispatches
    clustering transforms by name; this is the centroid member with an
    EXACT cross-engine contract (labels are a pure function of the data),
    unlike Spark ML KMeans whose solver/init make labels engine-internal.
    ``rounds`` is a plan-time constant — this is a BLOCKING/partitioning
    clusterer (SemDeDup cluster proxy, IVF-style list keys), not a
    convergence-chasing fit; 1-3 rounds is the intended range.

    Algorithm (all steps deterministic):
    - quantize coordinates to DECIMAL(12,6) (:func:`_kmeans_quantized`);
    - seeds = the k lowest rows by (md5-uniform(seed, id), id) — the
      :func:`~.similarity._collect_fit_sample` selection rule; centroid
      id = rank in that order;
    - ``rounds`` Lloyd updates: assign every row to the nearest centroid
      (exact decimal d², ties to the lowest cid), recompute each
      centroid as the per-dimension mean round(Σxq/n, 6) → DECIMAL(12,6)
      (Σxq is an exact scale-6 decimal sum, so the double cast is exact
      below 2^53 and the division/round are identically IEEE-rounded in
      Spark and DuckDB); an emptied cluster keeps its previous centroid;
    - final label = assignment against the post-update centroids.

    Scale design: per round ONE job over the materialized quantized
    projection — a map-side-combined (cid, dim) aggregate whose exchange
    carries ≤ partitions·k·dim rows, then a k·dim-bounded collect (the
    ivf_index precedent: centroids are driver state bounded by the
    caller's k, never by the table). The returned plan is a single map
    pass (broadcast-literal argmin, no shuffle, no UDF); fit jobs run at
    call time like :func:`~.corpus.fit_quality_classifier`.
    """
    from .persist import materialize_for_reuse
    from .sampling import hash_uniform

    if k < 1:
        raise ValueError("k must be >= 1")
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    base = materialize_for_reuse(
        points.select(
            F.col(id_col).alias("_id"), _kmeans_quantized(vec_col).alias("_xq")
        )
    )
    seed_rows = (
        base.select(
            hash_uniform(seed, F.col("_id")).alias("_h"), "_id", "_xq"
        )
        .orderBy("_h", "_id")
        .limit(int(k))
        .collect()
    )
    if not seed_rows:
        raise ValueError("cannot fit k-means on an empty table")
    centroids = [list(r["_xq"]) for r in seed_rows]
    for _ in range(int(rounds)):
        assign = _kmeans_assign_expr("_xq", centroids)
        # two selects: getField on an aliased struct resolves to col1/col2
        # when a generator (posexplode) shares its select (analyzer quirk)
        sums = (
            base.select(assign.alias("_cid"), "_xq")
            .select("_cid", F.posexplode("_xq").alias("_d", "_x"))
            .groupBy("_cid", "_d")
            .agg(F.sum("_x").alias("_s"), F.count("*").alias("_n"))
            .select(
                "_cid",
                "_d",
                F.round(F.col("_s").cast("double") / F.col("_n"), 6)
                .cast(KMEANS_DEC)
                .alias("_c"),
            )
            .collect()
        )
        new = {}
        for r in sums:
            new.setdefault(r["_cid"], {})[r["_d"]] = r["_c"]
        centroids = [
            [new[i][d] for d in sorted(new[i])] if i in new else old
            for i, old in enumerate(centroids)
        ]
    # bind the quantized array to a column first: the assignment expression
    # references it once per centroid, and an unbound expression would
    # re-derive the whole transform/round/cast k times per row (the
    # project-then-fold idiom). Collision-proof temp name: a caller whose
    # points table already carries `_kmq` must not have it silently
    # overwritten and dropped.
    tmp = "_kmq"
    while tmp in points.columns:
        tmp += "_"
    return (
        points.withColumn(tmp, _kmeans_quantized(vec_col))
        .withColumn(out_col, _kmeans_assign_expr(tmp, centroids))
        .drop(tmp)
    )
