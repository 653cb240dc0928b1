"""Similarity search over embedding columns (north-star extension).

Two tiers:
- :func:`cosine_topk` — exact brute-force top-k, the correctness baseline.
  Dot products run JVM-side via ``zip_with``/``aggregate`` (no UDF); the
  top-k is ``ORDER BY score DESC LIMIT k`` which Spark executes as a
  per-partition TakeOrdered + driver merge — O(n) work, no full sort.
- :func:`lsh_bucketed_topk` — scale path: random-hyperplane LSH signatures
  bucket the vectors; search only the probe's bucket(s). Recall/latency
  trade-off is (n_planes, n_probes). Signatures are computed with a
  seed-fixed plane matrix so buckets are reproducible cluster-wide.

The reference's embedding matrix is D6 (SURVEY §1.1,
convml_data/pipeline/embeddings/sampling.py:45-69); nearest-neighbour-style
retrieval over it is the natural extension the north star calls for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity, dot, l2_norm

# default within-bucket pairing cap for the LSH near-dup / semantic-dedup
# paths. PART OF THE OPERATOR SEMANTICS, not just a perf knob: the DuckDB
# oracle twins in __spark_entry__ mirror this exact constant (row_number
# per bucket ordered by id), so engine and oracle agree even on data
# where a bucket exceeds the cap.
LSH_MAX_BUCKET = 10_000


def blocked_cosine_pairs(
    embeddings: DataFrame,
    threshold: float,
    block_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
    max_block: int | None = None,
) -> DataFrame:
    """Exact within-block cosine near-dup pairs: (id_a, id_b, score) with
    id_a < id_b and round(cosine, round_digits) >= threshold.

    Two scale-shaped choices over the naive pairwise join:
    - per-row L2 norms are computed ONCE before the join (the pairwise
      cosine otherwise re-folds both 64-element norm arrays for every
      PAIR — 3x the higher-order-function work);
    - the build side is hash-repartitioned off the file layout first: a
      block self-join over a single parquet file otherwise runs the whole
      O(block²) scoring in ONE scan task (same trap as dedup._spread).
    The arithmetic (left-fold dot / norm product) is element-order
    identical to :func:`cosine_similarity`, so thresholds and oracle
    parity are unchanged. At 100 TB the block column is the shuffle key;
    skewed blocks split via AQE skew-join handling.

    ``max_block`` (skew guard): within-block pairing is O(B²), so a
    degenerate block — near-constant embeddings, too few LSH planes —
    goes quadratic in one key. When set, each block keeps only its
    ``max_block`` lowest-``id_col`` rows for PAIRING (deterministic, so
    replayable; pair count is bounded by C(max_block, 2) per block). Rows
    beyond the cap are excluded from candidate generation — a documented
    recall trade, the same one a salting split would make by dropping
    cross-shard pairs. Cost: a per-block count aggregate (map-side
    combined, ≤ |blocks| rows); the ranking sort runs ONLY over rows of
    blocks that actually exceed the cap — a healthy workload pays no
    per-row sort.
    """
    from .persist import materialize_for_reuse

    n = embeddings.sparkSession.sparkContext.defaultParallelism
    # the normed/blocked working set is consumed by BOTH self-join sides
    # (and, under max_block, by the count/cap relations too): without a
    # materialization Catalyst re-plans the scan + norm fold (and, for
    # the LSH callers, the whole hyperplane-signature fold) per consumer
    # — up to 8 table scans. One lazy checkpoint of the projected table
    # (id, vec, norm, block) replaces them all.
    base = materialize_for_reuse(
        embeddings.repartition(n, id_col).select(
            block_col,
            F.col(id_col),
            F.col(vec_col),
            l2_norm(F.col(vec_col)).alias("_nrm"),
        )
    )
    if max_block is not None:
        from pyspark.sql import Window

        cap = int(max_block)
        counts = base.groupBy(block_col).agg(F.count("*").alias("_bc"))
        sized = base.join(counts, block_col)
        healthy = sized.where(F.col("_bc") <= cap)
        w = Window.partitionBy(block_col).orderBy(id_col)
        capped = (
            sized.where(F.col("_bc") > cap)
            .withColumn("_bn", F.row_number().over(w))
            .where(F.col("_bn") <= cap)
            .drop("_bn")
        )
        base = materialize_for_reuse(
            healthy.unionByName(capped).drop("_bc")
        )
    a = base.select(
        block_col,
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.col("_nrm").alias("_na"),
    )
    b = base.select(
        block_col,
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.col("_nrm").alias("_nb"),
    )
    return (
        a.join(b, block_col)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "score",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb")),
                round_digits,
            ),
        )
        .where(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )


def cosine_topk(
    embeddings: DataFrame,
    query_vector: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.

    Returns (id, score) — score rounded to 6 dp for stable comparison;
    deterministic tie-break on id.
    """
    q = F.array(*[F.lit(float(v)) for v in query_vector])
    scored = embeddings.select(
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col), q), 6).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def _topk_per_query(scored: DataFrame, k: int, id_col: str) -> DataFrame:
    """Salted two-phase top-k per qid over (qid, id, score) rows.

    Phase 1 ranks within (qid, salt) — salt is a DETERMINISTIC hash of the
    id (never ``spark_partition_id``: AQE/repartition must not change
    results) — so each of the P salt groups prunes to k rows in parallel;
    phase 2 ranks the surviving ≤ P·k rows per qid. No single-partition
    window ever sees more than ~n/P rows, which is what makes a batch of
    queries against a 100 TB table feasible in ONE scan instead of one
    TakeOrdered job per query. Ordering matches :func:`cosine_topk`
    (score desc, id asc) exactly.
    """
    from pyspark.sql import Window

    P = max(scored.sparkSession.sparkContext.defaultParallelism, 2)
    w1 = Window.partitionBy("qid", "_salt").orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(P)))
        .withColumn("_r", F.row_number().over(w1))
        .where(F.col("_r") <= k)
        .withColumn("_r", F.row_number().over(w2))
        .where(F.col("_r") <= k)
        .select("qid", id_col, "score")
    )


def cosine_topk_batch(
    embeddings: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k for a BATCH of query vectors in one table scan.

    Serving many ANN queries as separate jobs re-reads the table per
    query; here every row is scored against the whole (plan-time literal)
    query batch via one explode, then :func:`_topk_per_query` ranks.
    Returns (qid, id, score) with scores identical to :func:`cosine_topk`.
    """
    qarr = F.array(
        *[
            F.struct(
                F.lit(int(qid)).alias("qid"),
                F.array(*[F.lit(float(x)) for x in vec]).alias("qv"),
            )
            for qid, vec in queries
        ]
    )
    scored = (
        embeddings.select(F.col(id_col), F.col(vec_col))
        .select(F.col(id_col), F.col(vec_col), F.explode(qarr).alias("_q"))
        .select(
            F.col("_q.qid").alias("qid"),
            F.col(id_col),
            F.round(cosine_similarity(F.col(vec_col), F.col("_q.qv")), 6).alias(
                "score"
            ),
        )
    )
    return _topk_per_query(scored, k, id_col)


def hyperplane_signatures(
    embeddings: DataFrame,
    n_planes: int = 16,
    dim: int = 64,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Random-hyperplane LSH: sign-bit signature as an INT bucket id."""
    import random

    rng = random.Random(seed)
    planes = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]
    sig = F.lit(0)
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(v) for v in plane])
        d = F.aggregate(
            F.zip_with(F.col(vec_col), p, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig + F.when(d > 0, F.lit(1 << i)).otherwise(0)
    return embeddings.select(F.col(id_col), F.col(vec_col), sig.alias("bucket"))


_FIT_SAMPLE_CAP = 65536  # hard bound on driver-side fit state (FAISS-style)


def _collect_fit_sample(
    embeddings: DataFrame,
    vec_col: str,
    id_col: str,
    fit_fraction: float,
    seed: int,
):
    """Bounded, FULLY deterministic fit sample as an (n, dim) float matrix.

    Selection and ORDER are both md5-hash-of-id driven, so the same data
    yields the same sample (hence the same Lloyd centroids / PQ codebooks)
    regardless of file layout, partition count, or AQE — `df.sample` +
    `limit` would seed per PHYSICAL partition and take whichever rows the
    limit reaches first, violating the repo determinism rule. The
    orderBy+limit pair plans as TakeOrdered over the filtered rows (heap
    of ≤ cap rows per partition + driver merge, never a full sort). At
    100 TB ``fit_fraction`` shrinks toward 0 and the cap is what binds.
    """
    import numpy as np

    from .sampling import hash_uniform

    keyed = embeddings.select(
        hash_uniform(seed, F.col(id_col)).alias("_h"),
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("v"),
    )
    if fit_fraction < 1.0:
        keyed = keyed.where(F.col("_h") < F.lit(float(fit_fraction)))
    rows = keyed.orderBy("_h", "_id").limit(_FIT_SAMPLE_CAP).collect()
    return np.asarray([list(r["v"]) for r in rows], dtype=np.float64)


def _sample_fit_centroids(
    embeddings: DataFrame,
    n_lists: int,
    seed: int,
    vec_col: str,
    fit_fraction: float,
    max_iters: int = 20,
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Deterministic Lloyd k-means on a bounded collected sample
    (:func:`_collect_fit_sample`). Init is k-means++-style with a seeded
    RNG; empty clusters re-seed from the farthest points, so k centroids
    always come back."""
    pts = _collect_fit_sample(embeddings, vec_col, id_col, fit_fraction, seed)
    if len(pts) == 0:
        raise ValueError("cannot fit IVF centroids on an empty table")
    return _fit_lloyd(pts, k=min(n_lists, len(pts)), seed=seed, max_iters=max_iters)


def ivf_index(
    embeddings: DataFrame,
    n_lists: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    fit_fraction: float = 0.25,
    centroids: list[list[float]] | None = None,
):
    """IVF coarse quantizer: sample-fit Lloyd centroids + per-row list
    assignment. Returns (assigned DataFrame with ``list_id``, centroids
    list).

    The quantizer NEVER fits on the full table: it trains on a
    ``fit_fraction`` sample (coarse centroids only need a sketch of the
    distribution — FAISS trains IVF on ~256·n_lists points), or skips the
    fit entirely when prebuilt ``centroids`` are passed. The sample is
    COLLECTED and Lloyd-iterated driver-side with numpy (bounded driver
    state — cap the sample, not the table; FAISS does exactly this on one
    node): a distributed KMeans spends ~20 scheduler round-trips per fit
    to cluster a few thousand points. Assignment of all rows is a single
    broadcast-centroid map pass. At 100 TB ``fit_fraction`` shrinks toward
    0 and ``list_id`` becomes the table's partition key (see
    :func:`ivf_write_index`), so probes are partition-pruned scans.
    """
    if centroids is None:
        centroids = _sample_fit_centroids(
            embeddings, n_lists=n_lists, seed=seed, vec_col=vec_col,
            fit_fraction=fit_fraction, id_col=id_col,
        )
    # assignment = argmin over broadcast centroid literals, pure Column math
    # (JVM-side, no model UDF): min-struct over (dist2, list id)
    dists = [
        F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.array(*[F.lit(float(x)) for x in c]),
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        for c in centroids
    ]
    choice = F.array_min(
        F.array(*[F.struct(d.alias("d"), F.lit(i).alias("i")) for i, d in enumerate(dists)])
    )["i"]
    assigned = embeddings.withColumn("list_id", choice)
    return assigned, centroids


def nearest_lists(centroids: list[list[float]], query_vector: list[float], n_probes: int) -> list[int]:
    def dist2(c):
        return sum((a - b) ** 2 for a, b in zip(c, query_vector))

    return [i for i, _ in sorted(enumerate(centroids), key=lambda t: dist2(t[1]))[:n_probes]]


def ivf_topk(
    embeddings: DataFrame,
    query_vector: list[float],
    k: int = 10,
    n_lists: int = 16,
    n_probes: int = 3,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    fit_fraction: float = 0.25,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: exact search restricted to the ``n_probes``
    inverted lists whose centroids are nearest the query (FAISS IVF-flat
    shape). Recall/latency knob is (n_lists, n_probes); n_probes=n_lists
    degenerates to the exact scan."""
    assigned, centroids = ivf_index(
        embeddings,
        n_lists=n_lists,
        seed=seed,
        vec_col=vec_col,
        id_col=id_col,
        fit_fraction=fit_fraction,
        centroids=centroids,
    )
    probe_ids = nearest_lists(centroids, query_vector, n_probes)
    candidates = assigned.where(F.col("list_id").isin(probe_ids))
    return cosine_topk(candidates, query_vector, k=k, vec_col=vec_col, id_col=id_col)


def ivf_write_index(
    embeddings: DataFrame,
    path: str,
    n_lists: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    fit_fraction: float = 0.25,
    centroids: list[list[float]] | None = None,
) -> list[list[float]]:
    """Materialize the IVF index: rows written parquet-partitioned BY
    ``list_id``, so a probe reads only its lists' directories (scan shows
    PartitionFilters — the 100 TB probe path). Returns the centroids to
    keep with the index."""
    assigned, centroids = ivf_index(
        embeddings,
        n_lists=n_lists,
        seed=seed,
        vec_col=vec_col,
        id_col=id_col,
        fit_fraction=fit_fraction,
        centroids=centroids,
    )
    assigned.write.mode("overwrite").partitionBy("list_id").parquet(path)
    return centroids


def ivf_topk_from_index(
    spark,
    path: str,
    centroids: list[list[float]],
    query_vector: list[float],
    k: int = 10,
    n_probes: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe a materialized IVF index: the ``list_id`` filter prunes
    parquet partitions at planning time — only n_probes/n_lists of the
    data is ever read."""
    probe_ids = nearest_lists(centroids, query_vector, n_probes)
    df = spark.read.parquet(path).where(F.col("list_id").isin(probe_ids))
    return cosine_topk(df, query_vector, k=k, vec_col=vec_col, id_col=id_col)


def lsh_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 12,
    seed: int = 42,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """Embedding-cosine near-dup PAIRS at scale: self-join within
    hyperplane-LSH buckets only, then exact cosine verification.

    The all-pairs exact variant (``neardup_cosine_pairs`` query) is O(n²)
    within blocks; here the bucket is the block and collision probability
    tracks cosine similarity (a pair at cosine s collides w.p.
    (1−acos(s)/π)^n_planes), so candidates concentrate on true near-dups.
    Approximate-recall — property-tested, not oracle-checked.

    ``max_bucket`` bounds the O(B²) blow-up of a DEGENERATE bucket
    (near-constant embeddings, too few planes): each bucket pairs only
    its ``max_bucket`` lowest-id rows (see
    :func:`blocked_cosine_pairs` ``max_block`` — deterministic,
    replayable; excluded rows are a logged-in-docs recall trade). The
    default is far above any healthy bucket's size at the plane counts
    used here; pass ``None`` to disable.
    """
    # the bucket IS the block: delegate to blocked_cosine_pairs, which
    # already hoists per-row norms before the self-join (one dot fold per
    # pair instead of three) and re-spreads off the file layout — the
    # same expression tree, so scores are bit-for-bit unchanged
    sigs = hyperplane_signatures(
        embeddings, n_planes=n_planes, dim=dim, seed=seed, vec_col=vec_col, id_col=id_col
    )
    return blocked_cosine_pairs(
        sigs, threshold, block_col="bucket", vec_col=vec_col, id_col=id_col,
        max_block=max_bucket,
    ).distinct()


def lsh_bucketed_topk(
    embeddings: DataFrame,
    query_vector: list[float],
    k: int = 10,
    n_planes: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: restrict the exact scan to LSH buckets within
    ``multiprobe_hamming`` bit flips of the query's bucket (multi-probe
    keeps recall up without more tables). At 100 TB the bucket column is a
    partition/cluster key so the probe is a partition-pruned scan."""
    dim = len(query_vector)
    planes = _hyperplanes(n_planes, dim, seed)
    probes = _probe_buckets(query_vector, planes, multiprobe_hamming)
    sigs = hyperplane_signatures(
        embeddings, n_planes=n_planes, dim=dim, seed=seed, vec_col=vec_col, id_col=id_col
    )
    candidates = sigs.where(F.col("bucket").isin(list(probes)))
    return cosine_topk(candidates, query_vector, k=k, vec_col=vec_col, id_col=id_col)


def _hyperplanes(n_planes: int, dim: int, seed: int) -> list[list[float]]:
    """Seed-fixed Gaussian hyperplanes — MUST match
    :func:`hyperplane_signatures`'s plane matrix bit-for-bit."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _probe_buckets(
    query_vector: list[float], planes: list[list[float]], multiprobe_hamming: int
) -> set[int]:
    n_planes = len(planes)
    qsig = 0
    for i, plane in enumerate(planes):
        if sum(a * b for a, b in zip(query_vector, plane)) > 0:
            qsig |= 1 << i
    probes = {qsig}
    if multiprobe_hamming >= 1:
        probes.update(qsig ^ (1 << i) for i in range(n_planes))
    if multiprobe_hamming >= 2:
        probes.update(
            qsig ^ (1 << i) ^ (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        )
    return probes


def _batch_probe_topk(
    candidates: DataFrame,
    probe_df: DataFrame,
    probe_key: str,
    k: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Shared batch-probe tail: broadcast-join the tiny (qid, probe-key,
    qv) relation onto the candidate rows, score JVM-side, rank per qid."""
    scored = (
        candidates.join(F.broadcast(probe_df), probe_key)
        .select(
            "qid",
            F.col(id_col),
            F.round(cosine_similarity(F.col(vec_col), F.col("_qv")), 6).alias(
                "score"
            ),
        )
    )
    return _topk_per_query(scored, k, id_col)


def lsh_bucketed_topk_batch(
    embeddings: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    n_planes: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """Batch LSH top-k: signatures are computed ONCE for the whole query
    batch; each query contributes its multiprobe bucket set to one tiny
    broadcast (qid, bucket, qv) relation, so the entire batch is a single
    scan + broadcast hash join + per-qid rank instead of one job per
    query. Per-query results are identical to :func:`lsh_bucketed_topk`.
    Returns (qid, id-col, score)."""
    spark = embeddings.sparkSession
    dim = len(queries[0][1])
    planes = _hyperplanes(n_planes, dim, seed)
    rows = [
        (int(qid), int(bucket), [float(x) for x in qv])
        for qid, qv in queries
        for bucket in sorted(_probe_buckets(qv, planes, multiprobe_hamming))
    ]
    probe_df = spark.createDataFrame(
        rows, "qid int, bucket int, _qv array<double>"
    )
    sigs = hyperplane_signatures(
        embeddings, n_planes=n_planes, dim=dim, seed=seed, vec_col=vec_col, id_col=id_col
    )
    return _batch_probe_topk(sigs, probe_df, "bucket", k, vec_col, id_col)


def ivf_topk_batch(
    embeddings: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    n_lists: int = 16,
    n_probes: int = 3,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    fit_fraction: float = 0.25,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Batch IVF top-k: one list assignment pass serves the whole query
    batch — each query probes its ``n_probes`` nearest lists through one
    broadcast (qid, list_id, qv) relation. Per-query results are identical
    to :func:`ivf_topk`. Returns (qid, id-col, score)."""
    spark = embeddings.sparkSession
    assigned, centroids = ivf_index(
        embeddings,
        n_lists=n_lists,
        seed=seed,
        vec_col=vec_col,
        id_col=id_col,
        fit_fraction=fit_fraction,
        centroids=centroids,
    )
    rows = [
        (int(qid), int(lid), [float(x) for x in qv])
        for qid, qv in queries
        for lid in nearest_lists(centroids, qv, n_probes)
    ]
    probe_df = spark.createDataFrame(
        rows, "qid int, list_id int, _qv array<double>"
    )
    return _batch_probe_topk(assigned, probe_df, "list_id", k, vec_col, id_col)


def ivf_topk_with_tail(
    indexed: DataFrame,
    tail: DataFrame,
    centroids: list[list[float]],
    query_vector: list[float],
    k: int = 10,
    n_probes: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe a STALE IVF index correctly: vectors that arrived AFTER the
    index was built (``tail``) are not in any inverted list, so a serving
    layer that only probes lists silently never returns them — the ANN
    analog of :func:`~.dedup.incremental_dedup`'s new-batch problem. The
    fix is the standard one (FAISS/Lucene segment model): probe the
    ``n_probes`` nearest lists of the INDEXED rows and brute-force-scan
    the unindexed tail, then take the exact top-k of the union.

    ``indexed`` must carry the ``list_id`` column of
    :func:`ivf_index`/:func:`ivf_write_index` built from ``centroids``.
    Guarantee (tested): any tail vector in the EXACT global top-k is in
    this result — the tail is always searched exactly, so staleness can
    only cost recall on indexed rows (bounded by the probe recall
    certificate), never on fresh data. Returns (id, score) like
    :func:`cosine_topk`, identical ordering/tie-break.

    Scale design: the list filter prunes the indexed side to
    n_probes/n_lists of the data (partition-pruned when the index is
    parquet-partitioned by list_id); the tail between index rebuilds is
    a small fraction of the table by construction, so the exact scan is
    bounded; the union is one scan each side, no shuffle before the
    TakeOrdered top-k."""
    probe_ids = nearest_lists(centroids, query_vector, n_probes)
    cand = indexed.where(F.col("list_id").isin(probe_ids)).select(
        id_col, vec_col
    )
    cand = cand.unionByName(tail.select(id_col, vec_col))
    return cosine_topk(cand, query_vector, k=k, vec_col=vec_col, id_col=id_col)


# ------------------------------------------------------------ product quant

def pq_train(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    fit_fraction: float = 0.25,
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Train product-quantization codebooks: the vector splits into ``m``
    sub-blocks, each with its own ``k``-centroid codebook (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011 — the
    FAISS memory-compression path: a 64-dim float vector becomes m=8
    bytes, so a 100 TB embedding table scans from ~3 TB of codes).

    One bounded deterministic sample collect (:func:`_collect_fit_sample`,
    shared with the IVF fit); the m codebooks Lloyd-fit driver-side on
    column slices of that single sample. Returns ``codebooks[m][k][dim/m]``.
    """
    pts = _collect_fit_sample(embeddings, vec_col, id_col, fit_fraction, seed)
    if len(pts) == 0:
        raise ValueError("cannot fit PQ codebooks on an empty table")
    dim = pts.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    books = []
    for j in range(m):
        block = pts[:, j * d : (j + 1) * d]
        books.append(
            _fit_lloyd(block, k=min(k, len(block)), seed=seed + j)
        )
    return books


def _fit_lloyd(pts, k: int, seed: int, max_iters: int = 20):
    """Deterministic k-means++ + Lloyd on an in-memory numpy block (the
    shared core of the IVF and PQ fits)."""
    import random

    import numpy as np

    rng = random.Random(seed)
    centers = [pts[rng.randrange(len(pts))]]
    for _ in range(1, k):
        d2 = np.min([((pts - c) ** 2).sum(axis=1) for c in centers], axis=0)
        total = float(d2.sum())
        if total <= 0.0:
            centers.append(pts[rng.randrange(len(pts))])
            continue
        r = rng.random() * total
        idx = int(np.searchsorted(np.cumsum(d2), r))
        centers.append(pts[min(idx, len(pts) - 1)])
    C = np.asarray(centers)
    # chunk the pts axis: the (n, k, dim) broadcast temporary would peak at
    # ~540 MB per iteration at the 65536-row fit cap (n_lists=16, dim=64);
    # per-chunk it is bounded at chunk·k·dim floats with BIT-IDENTICAL
    # results (same subtract-square-sum per element, no matmul reassociation)
    chunk = 4096
    for _ in range(max_iters):
        assign = np.empty(len(pts), dtype=np.int64)
        mind = np.empty(len(pts), dtype=np.float64)
        for s in range(0, len(pts), chunk):
            d2c = ((pts[s : s + chunk, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign[s : s + chunk] = d2c.argmin(axis=1)
            mind[s : s + chunk] = d2c.min(axis=1)
        newC = C.copy()
        # reseed EACH empty cluster from a DISTINCT farthest point (stable
        # order): the old argmax-for-all gave simultaneously-empty clusters
        # the identical centroid, silently shrinking the effective k
        far_order = iter(np.argsort(-mind, kind="stable"))
        for j in range(len(C)):
            members = pts[assign == j]
            if len(members):
                newC[j] = members.mean(axis=0)
            else:
                newC[j] = pts[next(far_order)]
        if np.allclose(newC, C, rtol=0, atol=1e-12):
            C = newC
            break
        C = newC
    return [list(map(float, c)) for c in C]


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode every vector to its PQ codes: ``(id, codes ARRAY<INT>[m])``.

    Pure Column math over broadcast codebook literals — per sub-block a
    single ``transform`` over the centroid-array literal scores all k
    centroids and ``array_position(·, array_min(·))`` takes the argmin
    (ties → lowest centroid index). One higher-order expression per block
    instead of k separate aggregate trees: ~2× less codegen/execution
    than the min-struct form, bit-identical codes (verified). No UDF, no
    Python in the scan.
    """
    m = len(codebooks)
    d = len(codebooks[0][0])
    codes = []
    for j, book in enumerate(codebooks):
        block = F.slice(F.col(vec_col), j * d + 1, d)
        cents = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in book])
        darr = F.transform(
            cents,
            lambda c: F.aggregate(
                F.zip_with(
                    block, c, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        codes.append((F.array_position(darr, F.array_min(darr)) - 1).cast("int"))
    return embeddings.select(
        F.col(id_col), F.array(*codes).cast("array<int>").alias("codes")
    )


def l2_topk_batch(
    embeddings: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact L2-nearest top-k for a query batch in one scan (the ground
    truth PQ approximates). Returns (qid, id, score) with score =
    −round(d², 6) so the shared descending rank helper orders nearest
    first."""
    qarr = F.array(
        *[
            F.struct(
                F.lit(int(qid)).alias("qid"),
                F.array(*[F.lit(float(x)) for x in vec]).alias("qv"),
            )
            for qid, vec in queries
        ]
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            F.col("_q.qv"),
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        embeddings.select(F.col(id_col), F.col(vec_col))
        .select(F.col(id_col), F.col(vec_col), F.explode(qarr).alias("_q"))
        .select(
            F.col("_q.qid").alias("qid"),
            F.col(id_col),
            (-F.round(d2, 6)).alias("score"),
        )
    )
    return _topk_per_query(scored, k, id_col)


def pq_topk_batch(
    codes_df: DataFrame,
    codebooks: list[list[list[float]]],
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Batch PQ scan: every query's m×k asymmetric-distance lookup table
    rides one tiny broadcast relation (qid, flattened lut); each code row
    scores every query with m ``element_at`` lookups — one pass over the
    codes for the whole batch, never touching original vectors. Returns
    (qid, id, score = −round(approx_d², 6)) nearest-first under the
    shared descending rank helper."""
    spark = codes_df.sparkSession
    m = len(codebooks)
    kk = len(codebooks[0])
    d = len(codebooks[0][0])
    rows = []
    for qid, qv in queries:
        lut: list[float] = []
        for j, book in enumerate(codebooks):
            qb = qv[j * d : (j + 1) * d]
            lut.extend(
                sum((float(a) - float(b)) ** 2 for a, b in zip(qb, c)) for c in book
            )
        rows.append((int(qid), lut))
    probe = spark.createDataFrame(rows, "qid int, _lut array<double>")
    total = None
    for j in range(m):
        term = F.element_at(F.col("_lut"), F.lit(j * kk) + F.col("codes")[j] + 1)
        total = term if total is None else total + term
    scored = codes_df.join(F.broadcast(probe)).select(
        "qid", F.col(id_col), (-F.round(total, 6)).alias("score")
    )
    return _topk_per_query(scored, k, id_col)


def pq_rerank_topk_batch(
    embeddings: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    shortlist: int = 100,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    fit_fraction: float = 0.25,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebooks: list[list[list[float]]] | None = None,
    codes_df: DataFrame | None = None,
) -> DataFrame:
    """The production PQ serving pipeline: train (or reuse) codebooks,
    scan the COMPRESSED codes for a ``shortlist`` of candidates per query
    (m bytes/vector — the scan that fits 100 TB of embeddings in ~3 TB of
    memory), then rerank only the shortlist with exact L2 on the original
    vectors (an equi-join touching ``shortlist·|queries|`` rows, not the
    table). Returns (qid, id, score = −round(d², 6)), nearest first.

    Pass ``codebooks`` + ``codes_df`` (from :func:`pq_train` /
    :func:`pq_encode`, materialized once) to skip the train+encode for
    repeated batches — the build-once/probe-many shape of
    :func:`ivf_write_index`.
    """
    spark = embeddings.sparkSession
    if codebooks is None:
        codebooks = pq_train(
            embeddings, m=m, k=n_codes, seed=seed, vec_col=vec_col,
            fit_fraction=fit_fraction, id_col=id_col,
        )
    if codes_df is None:
        codes_df = pq_encode(embeddings, codebooks, vec_col=vec_col, id_col=id_col)
    cand = pq_topk_batch(codes_df, codebooks, queries, k=shortlist, id_col=id_col)
    qdf = spark.createDataFrame(
        [(int(q), [float(x) for x in v]) for q, v in queries],
        "qid int, _qv array<double>",
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            F.col("_qv"),
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    rer = (
        cand.select("qid", id_col)
        .join(embeddings.select(id_col, vec_col), id_col)
        .join(F.broadcast(qdf), "qid")
        .select("qid", F.col(id_col), (-F.round(d2, 6)).alias("score"))
    )
    return _topk_per_query(rer, k, id_col)


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 12,
    seed: int = 42,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket: int | None = LSH_MAX_BUCKET,
    durable: bool | None = None,
    cluster: str = "lsh",
    kmeans_k: int = 8,
    kmeans_rounds: int = 2,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): remove documents that are semantically (not
    textually) near-identical by embedding similarity, keeping one
    representative per semantic duplicate group.

    The paper clusters the embedding space (k-means) and prunes
    within-cluster pairs above a cosine threshold. Two cluster proxies:

    - ``cluster="lsh"`` (default): the hyperplane-LSH bucket — no fit
      pass at all, and collision probability tracks the cosine being
      thresholded (``n_planes`` tunes the recall/cost trade);
    - ``cluster="kmeans"``: the paper's own blocking, via the
      deterministic :func:`~.clustering.relational_kmeans`
      (``kmeans_k``/``kmeans_rounds``/``seed``) — exact-centroid
      partitions like SemDeDup's FAISS fit, but engine-replayable, so
      the whole survivor set keeps a full value oracle. Costs
      ``kmeans_rounds`` extra fit passes; recall fails differently
      (near-dups split across a centroid boundary vs. across a random
      hyperplane).

    Either way, within-block pairs are EXACT-cosine verified
    (:func:`blocked_cosine_pairs`), transitive groups collapse via the
    alternating-star connected components, and the survivor per group is
    the minimum id (:func:`~.dedup.canonical_survivors`).

    Scale: block self-join (never all-pairs, ``max_bucket``-guarded
    against degenerate-block O(B²) blow-up) → hash-partitioned CC
    rounds → one anti join. Returns the surviving id relation.
    """
    from .dedup import canonical_survivors

    if cluster == "lsh":
        pairs = lsh_neardup_pairs(
            embeddings,
            threshold=threshold,
            n_planes=n_planes,
            seed=seed,
            dim=dim,
            vec_col=vec_col,
            id_col=id_col,
            max_bucket=max_bucket,
        )
    elif cluster == "kmeans":
        from .clustering import relational_kmeans

        labeled = relational_kmeans(
            embeddings,
            k=kmeans_k,
            rounds=kmeans_rounds,
            seed=seed,
            vec_col=vec_col,
            id_col=id_col,
            out_col="_sem_cluster",
        )
        # no .distinct(): each id has exactly ONE cluster label, so a
        # pair can emerge from at most one block (unlike the multi-band
        # LSH path, where the dedup shuffle is load-bearing)
        pairs = blocked_cosine_pairs(
            labeled,
            threshold,
            block_col="_sem_cluster",
            vec_col=vec_col,
            id_col=id_col,
            max_block=max_bucket,
        )
    else:
        raise ValueError(f"cluster must be 'lsh' or 'kmeans', got {cluster!r}")
    return canonical_survivors(
        embeddings.select(id_col),
        pairs,
        id_col=id_col,
        id_a="id_a",
        id_b="id_b",
        durable=durable,
    )


def sq_bounds(
    embeddings: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension [min, max] bounds for scalar quantization — ONE
    exact aggregation (posexplode → per-dim min/max → re-assembled into
    two ordered arrays), returned as a 1-row relation ``(_mins
    ARRAY<DOUBLE>, _maxs ARRAY<DOUBLE>)``.

    Unlike the IVF/PQ fits (sampled Lloyd iterations, driver-side), SQ
    training is a pure relational aggregate: exact, deterministic, fully
    DuckDB-replayable, and mergeable across shards (min of mins / max of
    maxs) — so the whole SQ path gets a FULL value oracle where PQ gets
    a recall bound."""
    per_dim = (
        embeddings.select(F.posexplode(F.col(vec_col)).alias("_i", "_v"))
        .groupBy("_i")
        .agg(
            F.min(F.col("_v").cast("double")).alias("_mn"),
            F.max(F.col("_v").cast("double")).alias("_mx"),
        )
    )
    packed = per_dim.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("_i"), F.col("_mn"), F.col("_mx")))
        ).alias("_a")
    )
    return packed.select(
        F.transform(F.col("_a"), lambda s: s["_mn"]).alias("_mins"),
        F.transform(F.col("_a"), lambda s: s["_mx"]).alias("_maxs"),
    )


def _sq_codes(vec_col: str, levels: int):
    """In-row SQ encode expression: ``floor((v − mn)/(mx − mn)·levels +
    0.5)`` per dimension (0 where the dimension is constant). Expects
    ``_mins``/``_maxs`` columns from a broadcast :func:`sq_bounds` join;
    everything rides ``arrays_zip`` so no lambda captures an outer
    column (the Catalyst outer-ref-in-HOF trap)."""
    z = F.arrays_zip(
        F.col(vec_col).alias("_v"), F.col("_mins").alias("_mn"),
        F.col("_maxs").alias("_mx"),
    )
    return F.transform(
        z,
        lambda s: F.when(s["_mx"] == s["_mn"], F.lit(0)).otherwise(
            F.floor(
                (s["_v"].cast("double") - s["_mn"])
                / (s["_mx"] - s["_mn"]) * F.lit(float(levels))
                + F.lit(0.5)
            )
        ).cast("int"),
    )


def sq_encode(
    embeddings: DataFrame,
    levels: int = 255,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Scalar-quantize every vector to ``(id, codes ARRAY<INT>)`` — the
    FAISS ``SQ8`` compression path (8-bit per dimension at
    ``levels=255``): a 64-dim float32 vector stores in 64 bytes, so a
    100 TB embedding table scans from ~¼ the bytes with NO codebook
    training. Bounds ride a broadcast 1-row join; the encode is pure
    in-row Column math."""
    bounds = F.broadcast(sq_bounds(embeddings, vec_col))
    return embeddings.join(bounds).select(
        F.col(id_col), _sq_codes(vec_col, levels).alias("codes")
    )


def sq_topk(
    embeddings: DataFrame,
    query_vector: list[float],
    k: int = 10,
    shortlist: int = 100,
    levels: int = 255,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate L2 top-k via scalar quantization with exact rerank —
    the SQ member of the quantized-ANN family (exact / LSH / IVF / PQ
    already certified): the compressed scan computes the asymmetric
    distance ``Σ (q_i − dequant(code_i))²`` per row, shortlists the
    ``shortlist`` nearest by rounded approx distance, and exact L2
    reranks the shortlist to ``k``. Returns ``(id, d2, approx_d2)``
    ascending by exact distance, both rounded to 6 dp, deterministic
    tie-break on id.

    Scale design: bounds are one exact aggregation broadcast back; the
    scan is in-row expression math (no UDF); the shortlist is a
    TakeOrdered (per-partition top-S + driver merge, no full sort) that
    carries the row's vector along, so the rerank is in-row on ≤
    ``shortlist`` rows — no second join. (A deployed compressed scan
    would read a pre-encoded :func:`sq_encode` codes table — ¼ the
    bytes — and broadcast-join the shortlist back to the vectors; this
    single-table composition keeps the whole path one lazy program.)
    Every stage is deterministic, so fit + encode + scan + rerank
    replay as one DuckDB query — a FULL value oracle, unlike the
    sampled-fit IVF/PQ paths.
    """
    q = F.array(*[F.lit(float(v)) for v in query_vector])
    bounds = F.broadcast(sq_bounds(embeddings, vec_col))
    coded = embeddings.join(bounds).select(
        F.col(id_col),
        F.col(vec_col),
        _sq_codes(vec_col, levels).alias("_codes"),
        F.col("_mins"),
        F.col("_maxs"),
    )
    zq = F.arrays_zip(
        F.col("_codes").alias("_c"), F.col("_mins").alias("_mn"),
        F.col("_maxs").alias("_mx"), q.alias("_q"),
    )
    approx = F.aggregate(
        F.transform(
            zq,
            lambda s: (
                s["_q"]
                - (s["_mn"] + s["_c"].cast("double")
                   * (s["_mx"] - s["_mn"]) / F.lit(float(levels)))
            )
            * (
                s["_q"]
                - (s["_mn"] + s["_c"].cast("double")
                   * (s["_mx"] - s["_mn"]) / F.lit(float(levels)))
            ),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    short = (
        coded.select(F.col(id_col), F.col(vec_col), F.round(approx, 6).alias("approx_d2"))
        .orderBy(F.col("approx_d2").asc(), F.col(id_col))
        .limit(int(shortlist))
    )
    exact = F.aggregate(
        F.zip_with(
            F.col(vec_col), q,
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        short.select(F.col(id_col), F.round(exact, 6).alias("d2"), "approx_d2")
        .orderBy(F.col("d2").asc(), F.col(id_col))
        .limit(int(k))
    )


def sq_topk_batch(
    embeddings: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    shortlist: int = 100,
    levels: int = 255,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Batch SQ scan: serve a whole query batch in ONE pass over the
    table (the `*_topk_batch` contract shared by the cosine/LSH/IVF/PQ
    tiers). The probe relation (qid, query vector) rides a tiny
    broadcast join; every row scores every query with the asymmetric
    SQ distance; the per-query shortlist prunes through the salted
    two-phase rank (no single-partition window over the table); the
    exact rerank then runs on the ≤ |queries|·shortlist survivors —
    bounded by construction, so its per-qid window and broadcast joins
    are safe at any table size. Returns ``(qid, id, d2, approx_d2)``
    ascending by exact distance per query, ordering identical to
    :func:`sq_topk`."""
    from pyspark.sql import Window

    spark = embeddings.sparkSession
    probe = F.broadcast(
        spark.createDataFrame(
            [(int(qid), [float(x) for x in qv]) for qid, qv in queries],
            "qid int, _qv array<double>",
        )
    )
    bounds = F.broadcast(sq_bounds(embeddings, vec_col))
    coded = embeddings.join(bounds).select(
        F.col(id_col),
        _sq_codes(vec_col, levels).alias("_codes"),
        F.col("_mins"),
        F.col("_maxs"),
    )
    zq = F.arrays_zip(
        F.col("_codes").alias("_c"), F.col("_mins").alias("_mn"),
        F.col("_maxs").alias("_mx"), F.col("_qv").alias("_q"),
    )
    dq = lambda s: (  # noqa: E731 — shared sub-expression of the squared term
        s["_q"]
        - (s["_mn"] + s["_c"].cast("double")
           * (s["_mx"] - s["_mn"]) / F.lit(float(levels)))
    )
    approx = F.aggregate(
        F.transform(zq, lambda s: dq(s) * dq(s)), F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = coded.join(probe).select(
        "qid", F.col(id_col), (-F.round(approx, 6)).alias("score")
    )
    shortl = _topk_per_query(scored, int(shortlist), id_col).select(
        "qid", id_col, (-F.col("score")).alias("approx_d2")
    )
    exact = F.aggregate(
        F.zip_with(
            F.col(vec_col), F.col("_qv"),
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    rer = (
        F.broadcast(shortl)
        .join(embeddings.select(id_col, vec_col), id_col)
        .join(probe, "qid")
        .select(
            "qid", F.col(id_col), F.round(exact, 6).alias("d2"), "approx_d2"
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("d2").asc(), F.col(id_col))
    return (
        rer.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= int(k))
        .select("qid", id_col, "d2", "approx_d2")
        # the window above picks membership; this global sort delivers the
        # (qid, d2, id) row ORDER the docstring promises — without it the
        # output order is partition/AQE-dependent. Bounded: ≤ |queries|·k.
        .orderBy("qid", F.col("d2").asc(), F.col(id_col))
    )


def rrf_fuse(
    scored_lists: DataFrame,
    k_rrf: int = 60,
    topk: int = 10,
    id_col: str = "id",
    list_col: str = "list_id",
    score_col: str = "score",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher SIGIR 2009)
    — the standard way to combine a lexical (:func:`~convml_data_spark.
    operators.corpus.bm25_topk`) and a semantic (:func:`cosine_topk`)
    retriever into one hybrid ranking without score calibration:
    ``rrf(d) = Σ_lists 1/(k_rrf + rank_d)`` over the lists that contain
    ``d``, with 1-based per-list ranks by (score desc, id asc).

    Input is the UNION of the retrievers\' top-k outputs as
    ``(list_id, id, score)`` rows; returns ``(id, n_lists, rrf_score)``
    ordered score-desc / id-asc, limited to ``topk``. Per-list terms
    sum as DECIMAL(38,12) (exact, order-independent) before the final
    round(6).

    Scale shape: the inputs are top-k lists — bounded by construction
    (|lists|·k rows) — so the per-list rank window (partitioned by
    ``list_id``, never keyless) and the fusion hash agg + TakeOrdered
    are all over tiny relations; the heavy lifting happened inside the
    retrievers, which carry their own scale designs.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(list_col).orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    ranked = scored_lists.select(
        list_col, id_col, F.row_number().over(w).alias("_rank")
    )
    term = (F.lit(1.0) / (F.lit(float(k_rrf)) + F.col("_rank"))).cast(
        "decimal(38,12)"
    )
    fused = (
        ranked.groupBy(id_col)
        .agg(
            F.countDistinct(list_col).cast("bigint").alias("n_lists"),
            F.sum(term).alias("_s"),
        )
        .select(
            F.col(id_col),
            "n_lists",
            F.round(F.col("_s").cast("double"), 6).alias("rrf_score"),
        )
    )
    return fused.orderBy(F.col("rrf_score").desc(), F.col(id_col)).limit(int(topk))


def semantic_decontaminate(
    train_emb: DataFrame,
    eval_emb: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SEMANTIC decontamination — the embedding-space member of the
    decontamination family (lexical n-gram overlap, exact token spans,
    Bloom membership are the others): flag every train vector whose
    cosine against ANY eval/benchmark vector reaches ``threshold``.
    Paraphrased or re-templated eval leakage defeats the lexical
    detectors; it is exactly what survives into embedding space.

    Candidates come from shared random-hyperplane LSH buckets (the
    :func:`semantic_dedup` machinery, cross-set instead of self-join):
    both sides bucket with the SAME seed-fixed planes, the eval side —
    benchmark suites are small at any train scale — broadcasts, and the
    exact cosine verifies within-bucket pairs only. Per-row L2 norms
    hoist before the join (the :func:`blocked_cosine_pairs` shape, same
    fold order as :func:`~..functions.vectors.cosine_similarity` so
    scores replay exactly). Returns ``(vec_id, n_eval_matches,
    best_score)`` for flagged train vectors, deterministic and fully
    DuckDB-replayable (inlined planes) like the other decontam keys.

    LSH recall caveat (the :func:`lsh_neardup_pairs` contract): a true
    near-match in a different bucket is missed w.p.
    ``1 − (1 − acos(s)/π)^n_planes``; pick ``n_planes`` for the S-curve
    your threshold needs, or union several plane seeds.
    """
    st = hyperplane_signatures(
        train_emb, n_planes=n_planes, dim=dim, seed=seed,
        vec_col=vec_col, id_col=id_col,
    ).select(
        F.col(id_col),
        F.col(vec_col).alias("_vt"),
        l2_norm(F.col(vec_col)).alias("_nt"),
        "bucket",
    )
    se = hyperplane_signatures(
        eval_emb, n_planes=n_planes, dim=dim, seed=seed,
        vec_col=vec_col, id_col=id_col,
    ).select(
        F.col(id_col).alias("_eid"),
        F.col(vec_col).alias("_ve"),
        l2_norm(F.col(vec_col)).alias("_ne"),
        "bucket",
    )
    score = F.round(
        dot(F.col("_vt"), F.col("_ve")) / (F.col("_nt") * F.col("_ne")), 6
    )
    return (
        st.join(F.broadcast(se), "bucket")
        .select(id_col, "_eid", score.alias("_s"))
        .where(F.col("_s") >= F.lit(float(threshold)))
        .groupBy(id_col)
        .agg(
            F.countDistinct("_eid").cast("bigint").alias("n_eval_matches"),
            F.max("_s").alias("best_score"),
        )
    )


def hard_negative_mining(
    embeddings: DataFrame,
    n_anchors: int = 8,
    k: int = 5,
    dup_threshold: float = 0.95,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Hard-negative mining for contrastive training (the negatives-matter
    lesson of SimCLR/DPR: Karpukhin et al. 2020 mine in-batch + BM25 hard
    negatives; embedding-space mining is the standard refinement): for
    each of ``n_anchors`` md5-deterministically sampled anchor rows,
    return the ``k`` MOST similar rows whose cosine stays BELOW
    ``dup_threshold`` — similar enough to be hard, but with likely
    duplicates/augmented copies band-stopped out (those are positives,
    not negatives). Returns (qid = anchor id, id, score), hardest first.

    Scale: anchors are a bounded broadcast relation (TakeOrdered over
    the md5 key, the _collect_fit_sample selection rule, kept as a
    RELATION — no driver collect); scoring is one broadcast join over
    ONE table scan; ranking is the salted two-phase _topk_per_query.
    """
    from .sampling import hash_uniform

    anchors = F.broadcast(
        embeddings.select(
            hash_uniform(seed, F.col(id_col)).alias("_h"),
            F.col(id_col).alias("qid"),
            F.col(vec_col).alias("_qv"),
        )
        .orderBy("_h", "qid")
        .limit(int(n_anchors))
        .select("qid", "_qv")
    )
    scored = (
        embeddings.select(F.col(id_col), F.col(vec_col))
        .join(anchors)
        .where(F.col(id_col) != F.col("qid"))
        .select(
            "qid",
            F.col(id_col),
            F.round(cosine_similarity(F.col(vec_col), F.col("_qv")), 6).alias("score"),
        )
        .where(F.col("score") < F.lit(float(dup_threshold)))
    )
    return _topk_per_query(scored, int(k), id_col)
