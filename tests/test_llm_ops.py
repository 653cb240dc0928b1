"""Property tests for the engine-internal (non-oracle) LLM-scale operators:
minhash accuracy, simhash locality, batch inference, PCA, multimodal decode."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from convml_data_spark.operators import dedup, inference, multimodal
from tests.conftest import CC_THRESHOLDS, broadcast_threshold


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("lazy", "sleepy")),  # near dup of 0
        (3, "completely different content about spark dataframes and shuffles here now"),
        (4, "another unrelated snippet with its own vocabulary entirely distinct words"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_finds_near_dups_not_unrelated(spark):
    docs = _docs(spark)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_dedup(docs, threshold=0.5).collect()
    }
    assert (0, 1) in pairs
    assert (0, 2) in pairs or (1, 2) in pairs
    assert not any(3 in p or 4 in p for p in pairs)


def test_minhash_signatures_partitioning_independent(spark):
    docs = _docs(spark)
    a = dedup.minhash_signatures(docs).collect()
    b = dedup.minhash_signatures(docs.repartition(7)).collect()
    assert sorted((r["id"], tuple(r["sig"])) for r in a) == sorted(
        (r["id"], tuple(r["sig"])) for r in b
    )


def test_simhash_locality(spark):
    docs = _docs(spark)
    fp = {r["id"]: r["simhash"] for r in dedup.simhash64(docs).collect()}
    assert fp[0] == fp[1]  # identical docs → identical fingerprints

    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    assert ham(fp[0], fp[2]) < ham(fp[0], fp[3])


def test_batch_embed_matches_numpy(spark):
    rng = np.random.default_rng(0)
    vecs = [(i, [float(v) for v in rng.standard_normal(16)]) for i in range(40)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: np.array(r["emb_out"]) for r in inference.batch_embed(df, 16, 4, seed=9).collect()}
    w = inference.linear_model_weights(16, 4, seed=9)
    for i, v in vecs:
        want = np.tanh(np.array(v) @ w)
        assert np.allclose(out[i], want, atol=1e-12)


def test_pca_shapes_and_reconstruction_order(spark):
    rng = np.random.default_rng(1)
    # anisotropic cloud: first principal axis must capture the most variance
    base = rng.standard_normal((200, 6)) * np.array([10.0, 5.0, 1.0, 0.5, 0.1, 0.01])
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(base)],
        "vec_id long, embedding array<double>",
    )
    out, model = inference.pca_transform(df, k=3)
    rows = out.collect()
    assert all(len(r["pca"]) == 3 for r in rows)
    ev = list(model.explainedVariance)
    assert ev == sorted(ev, reverse=True) and ev[0] > 0.5


def test_ivf_recall_on_clustered_data(spark):
    """IVF with enough probes finds the exact top-k when data clusters:
    the query's neighbors share its inverted list."""
    from convml_data_spark.operators import similarity

    rng = np.random.default_rng(7)
    centers = rng.standard_normal((4, 8)) * 10
    rows = []
    for i in range(200):
        c = centers[i % 4]
        rows.append((i, [float(v) for v in c + rng.standard_normal(8) * 0.1]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = rows[0][1]
    exact = [r["vec_id"] for r in similarity.cosine_topk(df, q, k=5).collect()]
    approx = [
        r["vec_id"]
        for r in similarity.ivf_topk(df, q, k=5, n_lists=4, n_probes=2).collect()
    ]
    assert set(approx) == set(exact)


def test_ivf_stale_tail_guarantee_and_python_mirror(spark):
    """Stale-index probe (similarity.py::ivf_topk_with_tail): (a) the
    FRESHNESS guarantee — every tail (post-index) vector in the exact
    global top-k appears in the result, because the tail is always
    scanned exactly (staleness can only cost recall on indexed rows);
    (b) the whole result equals a brute-force Python mirror of
    assignment → probe-2-lists → union → top-k on randomized data."""
    from convml_data_spark.operators import similarity

    rng = np.random.default_rng(31)
    rows = [
        (i, [float(v) for v in rng.standard_normal(8)]) for i in range(160)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    indexed_src = df.where("vec_id % 2 = 0")
    tail = df.where("vec_id % 2 = 1")
    centroids = [v for i, v in rows[:8] if i % 2 == 0][:4]
    q = rows[1][1]  # a tail member's vector
    indexed, _ = similarity.ivf_index(indexed_src, centroids=centroids)
    got = [
        (r["vec_id"], r["score"])
        for r in similarity.ivf_topk_with_tail(
            indexed, tail, centroids, q, k=10, n_probes=2
        ).collect()
    ]

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        den = (sum(x * x for x in a) ** 0.5) * (sum(y * y for y in b) ** 0.5)
        return round(num / den, 6)

    probe = {
        i for i, _ in sorted(
            enumerate(centroids), key=lambda t: d2(t[1], q)
        )[:2]
    }
    cand = [
        (i, v) for i, v in rows
        if i % 2 == 1
        or min(range(4), key=lambda ci: (d2(v, centroids[ci]), ci)) in probe
    ]
    want = sorted(
        ((i, cos(v, q)) for i, v in cand), key=lambda t: (-t[1], t[0])
    )[:10]
    assert got == want

    # freshness guarantee: exact top-k ∩ tail ⊆ result
    exact = sorted(
        ((i, cos(v, q)) for i, v in rows), key=lambda t: (-t[1], t[0])
    )[:10]
    got_ids = {i for i, _ in got}
    assert all(i in got_ids for i, _ in exact if i % 2 == 1)


def test_lsh_neardup_pairs_finds_planted_dups(spark):
    """Planted near-identical vectors collide in LSH buckets and survive
    exact verification; unrelated vectors don't appear."""
    from convml_data_spark.operators import similarity

    rng = np.random.default_rng(3)
    rows = []
    for i in range(60):
        v = rng.standard_normal(16)
        rows.append((2 * i, [float(x) for x in v]))
        if i < 5:  # plant 5 near-dups: tiny perturbation of the original
            rows.append((2 * i + 1, [float(x) for x in v + rng.standard_normal(16) * 1e-3]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in similarity.lsh_neardup_pairs(
            df, threshold=0.99, n_planes=8, dim=16
        ).collect()
    }
    planted = {(2 * i, 2 * i + 1) for i in range(5)}
    assert len(pairs & planted) >= 4  # ≥80% recall on planted dups
    assert all(p in planted for p in pairs)  # no false positives at 0.99


def test_lsh_bucket_skew_guard_bounds_degenerate_pair_count(spark):
    """Adversarial near-constant embeddings concentrate EVERY row into one
    LSH bucket — unguarded, within-bucket pairing goes O(n²). With
    max_bucket=50 the candidate pairs are bounded by C(50,2) (the 50
    lowest ids pair; the rest are excluded — the documented recall
    trade), and the default guard leaves healthy workloads untouched."""
    from convml_data_spark.operators import similarity

    rng = np.random.default_rng(7)
    base = rng.standard_normal(16)
    rows = [
        (i, [float(x) for x in base + rng.standard_normal(16) * 1e-6])
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    capped = similarity.lsh_neardup_pairs(
        df, threshold=0.0, n_planes=4, dim=16, max_bucket=50
    ).collect()
    assert 0 < len(capped) <= 50 * 49 // 2
    # only the 50 lowest ids participate (deterministic cap)
    assert max(max(r["id_a"], r["id_b"]) for r in capped) < 50
    # guard off → the full quadratic set (sanity: the cap was the limiter)
    uncapped_n = similarity.lsh_neardup_pairs(
        df, threshold=0.0, n_planes=4, dim=16, max_bucket=None
    ).count()
    assert uncapped_n == 500 * 499 // 2


def test_batch_topk_matches_single_query_paths(spark):
    """The batch ANN entry points (one scan for a whole query batch) must
    return EXACTLY the per-query single paths' rows, per qid — same ids,
    same rounded scores, same tie-breaks."""
    from convml_data_spark.operators import similarity

    rng = np.random.default_rng(11)
    rows = [
        (i, [float(v) for v in rng.standard_normal(8)]) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = [(qid, rows[qid][1]) for qid in (0, 3, 7)]

    def by_qid(batch_df):
        out = {}
        for r in batch_df.collect():
            out.setdefault(r["qid"], []).append((r["vec_id"], r["score"]))
        return {k: sorted(v, key=lambda t: (-t[1], t[0])) for k, v in out.items()}

    got = by_qid(similarity.cosine_topk_batch(df, queries, k=5))
    for qid, qv in queries:
        want = [
            (r["vec_id"], r["score"])
            for r in similarity.cosine_topk(df, qv, k=5).collect()
        ]
        assert got[qid] == want

    got = by_qid(
        similarity.lsh_bucketed_topk_batch(
            df, queries, k=5, n_planes=6, multiprobe_hamming=1
        )
    )
    for qid, qv in queries:
        want = [
            (r["vec_id"], r["score"])
            for r in similarity.lsh_bucketed_topk(
                df, qv, k=5, n_planes=6, multiprobe_hamming=1
            ).collect()
        ]
        assert got.get(qid, []) == want

    got = by_qid(similarity.ivf_topk_batch(df, queries, k=5, n_lists=4, n_probes=2))
    for qid, qv in queries:
        want = [
            (r["vec_id"], r["score"])
            for r in similarity.ivf_topk(
                df, qv, k=5, n_lists=4, n_probes=2
            ).collect()
        ]
        assert got.get(qid, []) == want


def test_multimodal_fake_decode_matches_replay(spark):
    docs = spark.range(10).select(F.col("id").alias("doc_id"))
    feats = {
        r["doc_id"]: r
        for r in multimodal.image_features(
            multimodal.attach_fake_payload(docs, width=16, height=16)
        ).collect()
    }
    for i in range(10):
        px = multimodal.expected_fake_pixels(i, 16, 16)
        assert abs(feats[i]["mean_px"] - px.mean()) < 1e-9
        assert abs(feats[i]["std_px"] - px.std()) < 1e-9
        assert feats[i]["width"] == 16 and feats[i]["height"] == 16


def test_multimodal_kernels_accept_string_ids(spark):
    """Every multimodal Arrow kernel derives the id field's dtype from
    the input schema (the pack_bestfit hardcoded-long regression class):
    string doc ids must pass through image features, resize, frame
    sampling and audio features intact."""
    docs = spark.range(4).select(
        F.concat(F.lit("doc-"), F.col("id")).alias("doc_id")
    )
    imgs = multimodal.attach_fake_payload(docs, width=8, height=8)
    feats = multimodal.image_features(imgs).collect()
    assert {r["doc_id"] for r in feats} == {f"doc-{i}" for i in range(4)}
    resized = multimodal.resize_nearest(imgs, 4, 4).collect()
    assert all(isinstance(r["doc_id"], str) for r in resized)


def test_resize_nearest_matches_numpy_replay(spark):
    import numpy as np

    docs = spark.range(6).select(F.col("id").alias("doc_id"))
    resized = multimodal.resize_nearest(
        multimodal.attach_fake_payload(docs, width=16, height=16), 8, 4
    )
    got = {r["doc_id"]: r for r in resized.collect()}
    for i in range(6):
        px = multimodal.expected_fake_pixels(i, 16, 16)
        iy = (np.arange(4) * 16) // 4
        ix = (np.arange(8) * 16) // 8
        want = px[iy][:, ix].astype(np.uint8).tobytes()
        assert bytes(got[i]["payload"]) == want
        meta = got[i]["media_meta"]
        assert (meta["width"], meta["height"]) == (8, 4)
    # resized output composes with the feature extractor unchanged
    feats = multimodal.image_features(resized).collect()
    assert all(r["width"] == 8 and r["height"] == 4 for r in feats)


def test_sample_frames_every_k(spark):
    docs = spark.range(4).select(F.col("id").alias("doc_id"))
    vids = multimodal.attach_fake_video(docs, n_frames=8, width=8, height=8)
    frames = multimodal.sample_frames(vids, every=3)
    got = sorted((r["doc_id"], r["frame_idx"]) for r in frames.collect())
    assert got == sorted((d, k) for d in range(4) for k in (0, 3, 6))
    # each sampled frame is the right 64-byte slice of the source payload
    raw = {r["doc_id"]: bytes(r["video"]) for r in vids.collect()}
    for r in frames.collect():
        k, fsz = r["frame_idx"], 64
        assert bytes(r["payload"]) == raw[r["doc_id"]][k * fsz : (k + 1) * fsz]
        assert r["media_meta"]["format"] == multimodal.FAKE_FORMAT


def test_multimodal_null_meta_fails_loudly(spark):
    """A row with a null media_meta key must raise, not silently vanish
    from the pandas groupby; an all-empty batch yields zero rows cleanly."""
    import pytest
    from convml_data_spark.operators import multimodal

    good = multimodal.attach_fake_payload(
        spark.range(4).select(F.col("id").alias("doc_id")), width=4, height=2
    )
    broken = good.withColumn(
        "media_meta",
        F.when(
            F.col("doc_id") == 2,
            F.struct(
                F.lit(None).cast("int").alias("width"),
                F.col("media_meta.height").alias("height"),
                F.col("media_meta.format").alias("format"),
            ),
        ).otherwise(F.col("media_meta")),
    )
    with pytest.raises(Exception, match="null media_meta"):
        multimodal.image_features(broken).collect()

    empty = good.where(F.lit(False))
    assert multimodal.image_features(empty).count() == 0


def test_transform_registry_dispatch(spark):
    """transforms.py:17-139 parity: type dispatch, kwarg-string parsing with
    int coercion, pretrained-model reuse, unknown-type error listing."""
    import pytest
    from convml_data_spark import tables
    from convml_data_spark.operators import inference
    from tests.conftest import SF_DIR

    emb = tables.load_table(spark, SF_DIR, "embeddings")

    kw = inference.parse_transform_kwargs("n_components=4,alpha=0.5")
    assert kw == {"n_components": 4, "alpha": 0.5}
    assert isinstance(kw["n_components"], int)

    out, model = inference.apply_transform(
        emb, "pca", transform_extra_args="n_components=4"
    )
    assert len(out.first()["emb"]) == 4

    # pretrained model reuse skips the fit
    out2, model2 = inference.apply_transform(emb, "pca", pretrained_model=model)
    assert model2 is model
    assert out2.count() == out.count()

    mm = inference.apply_transform(emb, "minmax")[0]
    import numpy as np

    vals = np.array([r["emb"] for r in mm.collect()])
    assert vals.min() >= -1e-9 and vals.max() <= 1 + 1e-9

    km = inference.apply_transform(emb, "kmeans", transform_extra_args="k=4")[0]
    labels = {r["emb"] for r in km.collect()}
    assert labels <= set(range(4)) and len(labels) > 1

    with pytest.raises(ValueError, match="Available transforms"):
        inference.apply_transform(emb, "umap")


def test_connected_components_chain_star_isolated(spark):
    """Both CC paths (dedup.py: one-pass driver labelling and star
    rounds) collapse multi-hop chains, stars, and leave separate
    components untouched; convergence is independent of edge direction."""
    from convml_data_spark.operators.dedup import connected_components

    edges = (
        [(i, i + 1) for i in range(10)]          # chain, diameter 10
        + [(100, x) for x in range(101, 106)]    # star
        + [(200, 201)]                           # pair
    )
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    rev = spark.createDataFrame([(i + 1, i) for i in range(15)], "id_a long, id_b long")
    empty = df.where("id_a < 0")
    for threshold in CC_THRESHOLDS:
        with broadcast_threshold(spark, threshold):
            got = {r["id"]: r["component"] for r in connected_components(df).collect()}
            assert all(got[i] == 0 for i in range(11))
            assert all(got[x] == 100 for x in range(100, 106))
            assert got[200] == got[201] == 200

            got_rev = {
                r["id"]: r["component"] for r in connected_components(rev).collect()
            }
            assert set(got_rev.values()) == {0}

            assert connected_components(empty).count() == 0


def test_connected_components_random_graphs_match_union_find(spark):
    """Both CC paths (dedup.py: one-pass driver labelling and alternating
    large-star/small-star) equal a union-find ground truth on randomized
    graphs spanning the hard shapes: long paths (diameter >> log n), dense
    blocks, sparse forests, self-loops, and non-contiguous 64-bit-ish
    ids."""
    import random

    rng = random.Random(1234)
    from convml_data_spark.operators.dedup import connected_components

    for trial, (n, m, spread) in enumerate(
        [(60, 59, 1), (80, 40, 997), (50, 200, 31), (120, 90, 10_000_019)]
    ):
        ids = [i * spread + 7 for i in range(n)]
        if trial == 0:
            edges = [(ids[i], ids[i + 1]) for i in range(n - 1)]  # pure path
        else:
            edges = [
                (rng.choice(ids), rng.choice(ids)) for _ in range(m)
            ]  # includes self-loops
        parent = {i: i for i in ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes_in_pairs = {a for a, _ in edges} | {b for _, b in edges}
        want = {x: find(x) for x in nodes_in_pairs}
        # union-find roots are not necessarily the min — normalize per root
        by_root = {}
        for x, r in want.items():
            by_root.setdefault(find(r), []).append(x)
        want = {x: min(members) for r, members in by_root.items() for x in members}

        df = spark.createDataFrame(edges, "id_a long, id_b long")
        for threshold in CC_THRESHOLDS:
            with broadcast_threshold(spark, threshold):
                got = {
                    r["id"]: r["component"] for r in connected_components(df).collect()
                }
            assert got == want, f"trial {trial} (threshold {threshold}): CC mismatch"


def test_best_survivors_argmax_quality_with_tiebreaks(spark):
    """Quality-aware collapse (dedup.py::best_survivors): per duplicate
    cluster the max-quality row survives, quality ties break to the min
    id, NULL qualities lose to any scored member, an all-NULL cluster
    falls back to the min-id rule, and unpaired rows always survive."""
    from convml_data_spark.operators.dedup import best_survivors, canonical_survivors

    # clusters: {1,2,3} chain (3 best), {10,11} tie (min id 10 wins),
    # {20,21} where 21 is NULL (20 wins despite lower quality),
    # {30,31} both NULL (min id 30), and 99 unpaired (NULL quality).
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (30, 31)], "id_a long, id_b long"
    )
    rows = [
        (1, 5.0), (2, 7.0), (3, 9.0),
        (10, 4.0), (11, 4.0),
        (20, 1.0), (21, None),
        (30, None), (31, None),
        (99, None),
    ]
    ids = spark.createDataFrame(rows, "id long, q double")
    got = {r["id"] for r in best_survivors(ids, pairs, quality_col="q").collect()}
    assert got == {3, 10, 20, 30, 99}

    # structure matches the min-id collapse: one survivor per cluster plus
    # every unpaired row — only the representative differs
    n_canon = canonical_survivors(ids, pairs).count()
    assert best_survivors(ids, pairs, quality_col="q").count() == n_canon

    # empty pair list: everything survives untouched
    empty = pairs.where("id_a < 0")
    assert best_survivors(ids, empty, quality_col="q").count() == ids.count()


def test_minhash_signatures_stateless_equals_aggregated(spark):
    """The stateless array-expression MinHash (dedup.py::
    minhash_signatures_stateless — the streaming-ingest form) is
    value-identical to the explode+groupBy form, including the drop of
    docs shorter than ngram tokens and NULL text."""
    from convml_data_spark.operators.dedup import (
        minhash_signatures,
        minhash_signatures_stateless,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox leaps over the lazy dog"),
            (3, "two words"),       # < 3 tokens: dropped by both forms
            (4, None),              # NULL text: dropped by both forms
            (5, "a b c a b c a b c d e f"),
        ],
        "doc_id long, text string",
    )
    a = {r["id"]: list(r["sig"]) for r in minhash_signatures(docs, num_hashes=8).collect()}
    b = {
        r["id"]: list(r["sig"])
        for r in minhash_signatures_stateless(docs, num_hashes=8).collect()
    }
    assert a == b
    assert set(a) == {1, 2, 5}


def test_dsir_logratio_hand_computed(spark):
    """DSIR importance score (corpus.py::dsir_logratio) matches the
    hand-derived add-one-smoothed unigram log-ratio on a 2-doc corpus,
    and target-like docs score above off-target docs."""
    import math

    from convml_data_spark.operators.corpus import dsir_logratio

    docs = spark.createDataFrame(
        [(1, "a a"), (2, "b")], "doc_id long, text string"
    )
    target = spark.createDataFrame([(9, "a")], "doc_id long, text string")
    got = {r["doc_id"]: r["dsir_logratio"] for r in dsir_logratio(docs, target).collect()}
    # vocab: a(cr=2, ct=1), b(cr=1, ct=0); Nr=3, Nt=1, V=2
    want1 = math.log((1 + 1) / (1 + 2)) - math.log((2 + 1) / (3 + 2))  # ln(10/9)
    want2 = math.log((0 + 1) / (1 + 2)) - math.log((1 + 1) / (3 + 2))  # ln(5/6)
    assert abs(got[1] - want1) < 2e-6
    assert abs(got[2] - want2) < 2e-6
    assert got[1] > 0 > got[2]  # 'a a' is target-like, 'b' is not


def test_bigram_backoff_score_hand_computed(spark):
    """Stupid-Backoff bigram xent (corpus.py::bigram_backoff_score):
    hand-derived values on a tiny LM/scored split — the seen-bigram
    branch uses c(w1 w2)/c(w1), the backoff branch fires for an unseen
    bigram with alpha * add-one unigram, and docs with < 2 tokens emit
    no row."""
    import math

    from convml_data_spark.operators.corpus import bigram_backoff_score

    lm = spark.createDataFrame(
        [(9, "a b"), (10, "b a b")], "doc_id long, text string"
    )
    # LM: cu(a)=2, cu(b)=3, N=5, V=2; cb(a,b)=2, cb(b,a)=1
    docs = spark.createDataFrame(
        [
            (1, "a b a"),   # (a,b): ln(2/2)=0; (b,a): ln(1/3)
            (2, "a c"),     # (a,c) unseen: ln(0.4 * (0+1) / 7)
            (3, "b"),       # 1 token: no transitions, no row
            (4, None),      # NULL text: no row
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["xent_nats"])
        for r in bigram_backoff_score(docs, lm).collect()
    }
    assert set(got) == {1, 2}
    assert got[1][0] == 2
    assert abs(got[1][1] - (-(0.0 + math.log(1 / 3)) / 2)) < 2e-6
    assert got[2][0] == 1
    assert abs(got[2][1] - (-math.log(0.4 * 1 / 7))) < 2e-6
    # scoring a corpus that IS the LM: every bigram seen, xent finite,
    # and the all-seen doc scores lower than the unseen-heavy doc
    self_scored = {
        r["doc_id"]: r["xent_nats"]
        for r in bigram_backoff_score(lm, lm).collect()
    }
    assert set(self_scored) == {9, 10}
    assert all(v >= 0 for v in self_scored.values())
    assert got[1][1] < got[2][1]


def test_exact_span_decontaminate_k_token_guarantee(spark):
    """Exact-substring decontam (corpus.py::exact_span_decontaminate):
    a train doc sharing a VERBATIM >=k-token span with any eval doc is
    flagged with exact window counts and the earliest offset; sharing
    only k-1 consecutive tokens is NOT flagged (the >=k guarantee is
    two-sided); docs shorter than k tokens can never match."""
    from convml_data_spark.operators.corpus import exact_span_decontaminate

    evald = spark.createDataFrame(
        [(100, "q w e r t y u i o p")],  # 10 tokens
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # tokens 2..9 of the eval doc (8 shared tokens = 2 windows of
            # 7 at train offsets 2 and 3)
            (1, "x1 x2 w e r t y u i o x3"),
            # only 6 consecutive shared tokens -> below k, clean
            (2, "w e r t y u zzz"),
            # shares the FULL eval doc + one extra token: 4 windows
            (3, "q w e r t y u i o p extra"),
            (4, "totally different words here nothing shared at all ok"),
            (5, "q w e"),   # shorter than k
            (6, None),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            r["n_span_positions"], r["n_distinct_spans"], r["first_start"]
        )
        for r in exact_span_decontaminate(train, evald, k=7).collect()
    }
    assert set(got) == {1, 3}
    assert got[1] == (2, 2, 2)
    assert got[3] == (4, 4, 0)


def test_excise_contaminated_spans_removes_covered_tokens(spark):
    """Span excision (corpus.py::excise_contaminated_spans): every token
    covered by ANY matched k-window is deleted, survivors re-join in
    order, overlapping windows don't double-count, a fully-leaked doc
    returns clean_text='' (not a missing row), and clean docs emit no
    row (pipeline passes them through untouched)."""
    from convml_data_spark.operators.corpus import (
        exact_span_decontaminate,
        excise_contaminated_spans,
    )

    evald = spark.createDataFrame(
        [(100, "q w e r t y u i o p")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            # 8 shared tokens at offsets 2..9 -> two overlapping 7-windows
            # covering positions 2..9; x1 x2 and x3 survive
            (1, "x1 x2 w e r t y u i o x3"),
            (2, "w e r t y u zzz"),            # 6 shared: clean
            (3, "q w e r t y u i o p"),        # fully leaked
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in excise_contaminated_spans(train, evald, k=7).collect()
    }
    assert set(got) == {1, 3}
    assert got[1] == (11, 8, "x1 x2 x3")
    assert got[3] == (10, 10, "")
    # the flag and excise operators agree on WHICH docs are contaminated
    flagged = {
        r["doc_id"]
        for r in exact_span_decontaminate(train, evald, k=7).collect()
    }
    assert flagged == set(got)


def test_exact_substring_self_dedup_min_id_survivorship(spark):
    """Train×train self-dedup (corpus.py::exact_substring_self_dedup):
    a k-span shared by two docs survives only in the MIN doc id (the
    other doc excises it); a span repeated only WITHIN one doc is
    untouched; an exact-duplicate doc collapses to clean_text=''; the
    owner doc and unaffected docs emit no row."""
    from convml_data_spark.operators.corpus import exact_substring_self_dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g x1 x2"),        # owner of the shared span
            (2, "y1 a b c d e f g y2"),        # shares exactly one 7-span
            (3, "p q r s t u v p q r s t u v"),  # within-doc repeat only
            (4, "completely different tokens here now ok fine"),
            (5, "a b c d e f g x1 x2"),        # exact duplicate of doc 1
            (6, None),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in exact_substring_self_dedup(docs, k=7).collect()
    }
    assert got == {2: (9, 7, "y1 y2"), 5: (9, 9, "")}


def test_exact_substring_self_dedup_matches_python_reference(spark):
    """Randomized cross-check: exact_substring_self_dedup equals a
    brute-force Python implementation (all k-windows, min-id owners over
    cross-doc spans, covered-position union, in-order rebuild) on random
    small-vocab corpora with NULL/empty/short docs in the mix."""
    from convml_data_spark.operators.corpus import exact_substring_self_dedup

    k = 3
    rows = _random_corpus(23, 30, 5, 14)
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    toks = {i: (t or "").lower().split() for i, t in rows}
    spans: dict[tuple, set] = {}
    for i, ts in toks.items():
        for s in range(len(ts) - k + 1):
            spans.setdefault(tuple(ts[s : s + k]), set()).add(i)
    owners = {sp: min(ds) for sp, ds in spans.items() if len(ds) >= 2}
    want = {}
    for i, ts in toks.items():
        bad: set = set()
        for s in range(len(ts) - k + 1):
            sp = tuple(ts[s : s + k])
            if sp in owners and owners[sp] != i:
                bad.update(range(s, s + k))
        if bad:
            clean = " ".join(t for j, t in enumerate(ts) if j not in bad)
            want[i] = (len(ts), len(bad), clean)
    assert want, "vacuous corpus: no cross-doc duplicated spans generated"

    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in exact_substring_self_dedup(docs, k=k).collect()
    }
    assert got == want


def test_incremental_sig_dedup_band_and_agreement_rules(spark):
    """Incremental index dedup (dedup.py::incremental_sig_dedup): a new
    doc drops only when BOTH a full band collides AND the agreement
    fraction clears the threshold; agreement without a band collision is
    never even a candidate; within-batch survivors min-id-collapse."""
    from convml_data_spark.operators.dedup import incremental_sig_dedup

    # 4 hashes, 2 bands of 2, threshold 0.5 (>=2 of 4 components equal)
    old = spark.createDataFrame([(100, [1, 2, 3, 4])], "id long, sig array<long>")
    new = spark.createDataFrame(
        [
            (1, [1, 2, 9, 9]),   # band0 (1,2) collides, agree 2/4 -> drop
            (2, [1, 8, 3, 9]),   # agree 2/4 but NO full band -> kept
            (3, [5, 6, 7, 8]),   # pairs with 5 within-batch; min id keeps
            (5, [5, 6, 7, 0]),   # band0 (5,6) + agree 3/4 -> drops to 3
            (7, [9, 9, 1, 2]),   # band1 (1,2) != old band1 (3,4) -> kept
        ],
        "id long, sig array<long>",
    )
    got = {
        r["id"]
        for r in incremental_sig_dedup(
            new, old, threshold=0.5, bands=2, num_hashes=4
        ).collect()
    }
    assert got == {2, 3, 7}

    # empty index: only the within-batch collapse applies
    empty = old.where("id < 0")
    got2 = {
        r["id"]
        for r in incremental_sig_dedup(
            new, empty, threshold=0.5, bands=2, num_hashes=4
        ).collect()
    }
    assert got2 == {1, 2, 3, 7}


def test_cdc_chunks_partition_and_resync_after_insertion(spark):
    """Content-defined chunking (dedup.py::cdc_chunks): chunks exactly
    partition each doc (contiguous starts/ends from 0 to n_tokens); an
    edited copy with tokens INSERTED AT THE FRONT re-synchronizes — the
    two versions share chunk hashes even though every token offset
    moved, which fixed-size chunking can never do; and the dedup stats
    count those shared chunks corpus-wide."""
    import random

    from convml_data_spark.operators.dedup import cdc_chunks, cdc_dedup_stats

    rng = random.Random(7)
    words = [f"w{rng.randrange(1000)}" for _ in range(120)]
    doc_a = " ".join(words)
    doc_b = " ".join(["ins1", "ins2", "ins3"] + words)  # front insertion
    docs = spark.createDataFrame(
        [(1, doc_a), (2, doc_b), (3, "tiny"), (4, None), (5, "")],
        "doc_id long, text string",
    )
    ch = cdc_chunks(docs).collect()
    by_doc = {}
    for r in ch:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["start"], r["end"], r["chunk_hash"])
        )
    # empty/NULL docs emit nothing; a short doc is one whole-doc chunk
    assert set(by_doc) == {1, 2, 3}
    assert by_doc[3] == [(0, 1, by_doc[3][0][2])]
    for doc_id, n in ((1, 120), (2, 123)):
        spans = sorted(by_doc[doc_id])
        assert spans[0][0] == 0 and spans[-1][1] == n
        for (s1, e1, _), (s2, e2, _) in zip(spans, spans[1:]):
            assert e1 == s2  # contiguous, no gaps or overlaps
        assert all(e > s for s, e, _ in spans)
    # boundaries actually fired (not one giant chunk), and the shifted
    # copy shares chunks with the original
    assert len(by_doc[1]) > 3
    shared = {h for _, _, h in by_doc[1]} & {h for _, _, h in by_doc[2]}
    assert shared, "CDC boundaries must re-sync after a front insertion"
    stats = {
        r["doc_id"]: (r["n_chunks"], r["n_dup_chunks"])
        for r in cdc_dedup_stats(docs).collect()
    }
    assert stats[1][0] == len(by_doc[1])
    assert stats[1][1] >= len(shared)
    assert stats[2][1] >= len(shared)
    assert stats[3] == (1, 0)


def test_banded_slice_keys_rejects_bands_over_num_hashes(spark):
    """banded_slice_keys must refuse bands > num_hashes (and bands < 1):
    an out-of-range slice is empty, its bucket key collapses to '' for
    every row, and the (band, bucket) join degenerates toward a cross
    join — rejected with ValueError instead of silently emitted."""
    import pytest

    from convml_data_spark.operators.dedup import banded_slice_keys

    sigs = spark.createDataFrame(
        [(1, [1, 2, 3, 4]), (2, [5, 6, 7, 8])], "id long, sig array<long>"
    )
    with pytest.raises(ValueError, match="exceeds num_hashes"):
        banded_slice_keys(sigs, bands=8, num_hashes=4)
    with pytest.raises(ValueError, match="bands must be >= 1"):
        banded_slice_keys(sigs, bands=0, num_hashes=4)
    # bands == num_hashes is the legal edge: one component per band,
    # no empty slices, no '' buckets
    rows = banded_slice_keys(sigs, bands=4, num_hashes=4).collect()
    assert len(rows) == 8
    assert all(r["bucket"] != "" for r in rows)


def test_edit_distance_neardup_bounded_verify(spark):
    """Character-level near-dup (dedup.py::edit_distance_neardup): LSH
    candidates verified by thresholded Levenshtein — a one-char edit
    pairs with distance 1, an edit past max_dist is dropped (the
    thresholded levenshtein returns -1), the length-delta prefilter
    kills grossly different lengths, and sub-ngram docs never pair."""
    from convml_data_spark.operators.dedup import edit_distance_neardup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("quick", "quack")),      # dist 1
            (3, base.replace("again and again", "x")),  # big deletion
            (4, "tiny doc"),                           # < 3 tokens: no shingles
            (5, "tiny doc"),
            (6, None),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["edit_dist"]
        for r in edit_distance_neardup(docs, max_dist=4).collect()
    }
    assert got == {(1, 2): 1}
    # widen the budget: the deletion pair (dist 15) appears at 16
    got16 = {
        (r["id_a"], r["id_b"]): r["edit_dist"]
        for r in edit_distance_neardup(docs, max_dist=16).collect()
    }
    assert got16[(1, 2)] == 1
    # "again and again" -> "x": 1 substitution + 14 deletions
    assert got16[(1, 3)] == 15
    assert (4, 5) not in got16  # identical but shingle-free


def test_minhash_lsh_candidates_requires_width_and_bounds_bands(spark):
    """minhash_lsh_candidates: num_hashes is REQUIRED (the silent
    sample-a-row width probe — a construction-time driver job that
    re-executed the whole signature pipeline — is gone), and bands
    outside [1, num_hashes] raise instead of degenerating."""
    import pytest

    from convml_data_spark.operators.dedup import minhash_lsh_candidates

    sigs = spark.createDataFrame(
        [(1, [1, 2, 3, 4]), (2, [1, 2, 9, 9]), (3, [7, 8, 9, 9])],
        "id long, sig array<long>",
    )
    with pytest.raises(TypeError):
        minhash_lsh_candidates(sigs)  # width no longer inferred
    with pytest.raises(ValueError, match="bands must be in"):
        minhash_lsh_candidates(sigs, num_hashes=4, bands=8)
    with pytest.raises(ValueError, match="bands must be in"):
        minhash_lsh_candidates(sigs, num_hashes=4, bands=0)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(sigs, num_hashes=4, bands=2).collect()
    }
    # band (1,2) pairs 1-2; band (9,9) pairs 2-3; 1-3 shares no band
    assert pairs == {(1, 2), (2, 3)}


def test_select_to_token_budget_all_null_quality(spark):
    """select_to_token_budget with an all-NULL quality column: the
    bounded cut sample is empty (cuts = []), every row lands in the NULL
    bucket, and the id-ordered prefix under the budget survives."""
    from convml_data_spark.operators.corpus import select_to_token_budget

    df = spark.createDataFrame(
        [(i, "s", None, 10) for i in range(6)],
        "doc_id long, source string, q double, tok long",
    )
    got = {
        r["doc_id"]
        for r in select_to_token_budget(
            df, budget=30, quality_col="q", token_col="tok"
        ).collect()
    }
    assert got == {0, 1, 2}


def test_gopher_repetition_ladder_known_fractions(spark):
    """Full Gopher table-A1 ladder (corpus.py::gopher_repetition_ladder):
    crafted docs hit exact expected fractions — an alternating bigram
    loop, duplicated lines/paragraphs, and short/empty docs that zero
    every signal."""
    from convml_data_spark.operators.corpus import gopher_repetition_ladder

    rows = [
        # 'a b' repeated 10x: 19 bigrams, 'a b' occurs 10 -> top2 = 10/19;
        # every 5-gram is one of 2 distinct among 16 -> dup5 = 14/16
        (1, " ".join(["a", "b"] * 10)),
        # 4 lines, 'x' twice; 2 paragraphs, both 'x' -> dup_para = 1/2
        (2, "x\ny\nx\nz\n\nx\ny\nx\nz"),
        # 3 distinct words: top2 = 1/2 (2 unique bigrams -> max count 1 of
        # 2) trips the 0.20 cap — faithful to the paper, which applies
        # repetition caps only after the min-word-count gate
        (3, "one two three"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in gopher_repetition_ladder(df).collect()}
    assert got[1]["top_2gram_frac"] == round(10 / 19, 6)
    assert got[1]["dup_5gram_frac"] == round(14 / 16, 6)
    assert got[1]["pass_repetition"] is False
    # doc 2: lines = [x,y,x,z,x,y,x,z] -> 8 total, 3 distinct -> 5/8;
    # paras = [x\ny\nx\nz, x\ny\nx\nz] -> dup 1/2
    assert got[2]["dup_line_frac"] == round(1 - 3 / 8, 6)
    assert got[2]["dup_para_frac"] == 0.5
    assert got[3] == {
        **got[3],
        "top_2gram_frac": 0.5,
        "dup_5gram_frac": 0.0,
        "dup_line_frac": 0.0,
        "pass_repetition": False,
    }
    assert got[4]["pass_repetition"] is True
    assert all(v == 0.0 for k, v in got[4].items() if k.endswith("_frac"))


def test_select_to_token_budget_matches_naive_window(spark):
    """Bucket-decomposed per-group budget prefix (corpus.py::
    select_to_token_budget) equals the naive per-group running-sum window
    on randomized corpora with ties, NULL qualities, and NULL tokens; the
    prefix semantics never overshoot the budget."""
    import random

    from pyspark.sql import Window

    from convml_data_spark.operators.corpus import select_to_token_budget

    rng = random.Random(77)
    rows = []
    for i in range(400):
        rows.append(
            (
                i,
                # NULL sources form their own group (regression: the
                # offsets join-back must be null-safe or they vanish)
                rng.choice([None, "s0", "s1", "s2", "s3"]),
                rng.choice([None, rng.randrange(0, 40)]),
                rng.choice([None, round(rng.random(), 2), 0.5]),  # many ties
            )
        )
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens int, quality double")
    for budget in (0, 37, 200, 10_000):
        got = select_to_token_budget(
            df, budget, quality_col="quality", token_col="n_tokens"
        )
        w = (
            Window.partitionBy("source")
            .orderBy(F.col("quality").desc_nulls_last(), F.col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        want = df.withColumn(
            "_cs", F.sum(F.coalesce(F.col("n_tokens").cast("long"), F.lit(0))).over(w)
        ).where(F.col("_cs") <= budget)
        assert {r["doc_id"] for r in got.collect()} == {
            r["doc_id"] for r in want.collect()
        }, f"budget={budget}"
        # kept token totals never exceed the budget per group
        tots = (
            got.groupBy("source")
            .agg(F.sum(F.coalesce(F.col("n_tokens"), F.lit(0))).alias("t"))
            .collect()
        )
        assert all(r["t"] <= budget for r in tots)


def test_audio_fake_decode_features_and_resample(spark):
    """Audio plumbing: payload bytes replay exactly (md5 stream), features
    match a numpy reference, nearest-sample resample picks exactly the
    floor(i·sr/target) samples."""
    docs = spark.range(6).select(F.col("id").alias("doc_id"))
    wa = multimodal.attach_fake_audio(docs, n_samples=64, sample_rate=8000)
    payloads = {r["doc_id"]: bytes(r["audio_payload"]) for r in wa.collect()}
    for i in range(6):
        want = multimodal.expected_fake_audio(i, n_samples=64)
        assert payloads[i] == want.tobytes()

    feats = {r["doc_id"]: r for r in multimodal.audio_features(wa).collect()}
    for i in range(6):
        c = multimodal.expected_fake_audio(i, 64).astype(np.float64) - 128.0
        r = feats[i]
        assert r["n_samples"] == 64 and r["sample_rate"] == 8000
        assert abs(r["mean_amp"] - c.mean()) < 1e-12
        assert abs(r["rms"] - np.sqrt((c * c).mean())) < 1e-12
        assert r["n_zero_cross"] == int(((c[:-1] * c[1:]) < 0).sum())

    res = {r["doc_id"]: r for r in multimodal.audio_resample(wa, 4000).collect()}
    for i in range(6):
        src = multimodal.expected_fake_audio(i, 64)
        idx = np.minimum((np.arange(32) * 8000) // 4000, 63).astype(int)
        assert bytes(res[i]["audio_payload"]) == src[idx].tobytes()
        assert res[i]["n_samples"] == 32 and res[i]["sample_rate"] == 4000


def test_pq_rerank_recovers_exact_on_clustered_data(spark):
    """PQ shortlist + exact rerank recovers the exact L2 top-k when the
    data clusters (codebooks capture the cluster structure), and the
    pipeline is deterministic across calls."""
    from convml_data_spark.operators import similarity

    rng = np.random.default_rng(5)
    centers = rng.standard_normal((4, 16)) * 10
    rows = [
        (i, [float(v) for v in centers[i % 4] + rng.standard_normal(16) * 0.1])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = [(0, rows[0][1]), (1, rows[1][1])]
    exact = similarity.l2_topk_batch(df, queries, k=5)
    got1 = similarity.pq_rerank_topk_batch(
        df, queries, k=5, shortlist=40, m=4, n_codes=8
    )
    got2 = similarity.pq_rerank_topk_batch(
        df, queries, k=5, shortlist=40, m=4, n_codes=8
    )
    ex = {(r["qid"], r["vec_id"]) for r in exact.collect()}
    g1 = sorted((r["qid"], r["vec_id"], r["score"]) for r in got1.collect())
    g2 = sorted((r["qid"], r["vec_id"], r["score"]) for r in got2.collect())
    assert g1 == g2  # deterministic fit + encode + rank
    hits = len(ex & {(q, i) for q, i, _ in g1})
    assert hits >= 8  # >= 80% of the 10 exact slots


def test_dbscan_planted_clusters(spark):
    """Two tight planted clusters + one isolated point: DBSCAN must find
    exactly the two clusters (labelled by their min id), mark the isolated
    point noise, and classify a near-cluster satellite as a border point."""
    from convml_data_spark.operators.clustering import dbscan_labels

    rows = []
    # cluster A around (0, 0): ids 0..4
    for k in range(5):
        rows.append((k, 0.01 * k, 0.0))
    # cluster B around (10, 10): ids 10..14
    for k in range(5):
        rows.append((10 + k, 10.0 + 0.01 * k, 10.0))
    # border: within eps of A's edge point but with too few neighbors of
    # its own to be core
    rows.append((20, 0.04 + 0.07, 0.0))
    # noise: far from everything
    rows.append((30, 100.0, -50.0))
    pts = spark.createDataFrame(rows, "id long, x double, y double")
    out = {
        r["id"]: (r["label"], r["is_core"])
        for r in dbscan_labels(pts, eps=0.08, min_pts=4).collect()
    }
    for k in range(5):
        assert out[k] == (0, True)
    for k in range(10, 15):
        assert out[10 + k - 10][0] == 10
    assert out[20] == (0, False)   # border -> cluster of min core neighbor
    assert out[30] == (None, False)  # noise


@pytest.fixture(scope="session")
def checkpoint_dir(tmp_path_factory):
    """One reliable-checkpoint dir for the whole session: Spark cannot
    unset ``setCheckpointDir``, so the dir must outlive every later test."""
    return tmp_path_factory.mktemp("spark-checkpoints")


def _assert_durable_matches_local(spark, monkeypatch, checkpoint_dir, run):
    """Run ``run()`` without and then with SPARK_GRAFT_DURABLE_CHECKPOINT=1:
    equal rows, and the durable run wrote new ``rdd-*`` checkpoint files.
    While the session has no checkpoint dir yet, the flag must raise with
    instructions instead of failing mid-job."""
    from convml_data_spark.operators.persist import ENV_FLAG, materialize_for_reuse

    monkeypatch.delenv(ENV_FLAG, raising=False)
    local = sorted(map(tuple, run().collect()))

    monkeypatch.setenv(ENV_FLAG, "1")
    sc = spark.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        with pytest.raises(ValueError, match="setCheckpointDir"):
            materialize_for_reuse(spark.range(1))
    sc.setCheckpointDir(str(checkpoint_dir))
    before = set(checkpoint_dir.rglob("rdd-*"))
    assert sorted(map(tuple, run().collect())) == local
    assert set(checkpoint_dir.rglob("rdd-*")) - before


def test_durable_materialization_matches_local_and_guards_missing_dir(
    spark, monkeypatch, checkpoint_dir
):
    """With SPARK_GRAFT_DURABLE_CHECKPOINT=1 every materialize_for_reuse
    barrier of dbscan_labels writes a RELIABLE checkpoint (survives
    executor loss on a real cluster) and returns the same rows as the
    default executor-local path; without a configured checkpoint dir it
    raises with instructions instead of failing mid-job."""
    from convml_data_spark.operators.clustering import dbscan_labels

    rows = [(k, 0.01 * k, 0.0) for k in range(5)] + [(30, 100.0, -50.0)]
    pts = spark.createDataFrame(rows, "id long, x double, y double")
    _assert_durable_matches_local(
        spark,
        monkeypatch,
        checkpoint_dir,
        lambda: dbscan_labels(pts, eps=0.08, min_pts=4),
    )


def test_durable_materialization_reaches_nested_eager_checkpoint(
    spark, monkeypatch, checkpoint_dir
):
    """The env switch also reaches a barrier nested one operator down:
    canonical_survivors runs connected_components' eager pair checkpoint,
    which then writes a reliable checkpoint with unchanged survivors."""
    ids = spark.createDataFrame([(k,) for k in range(10)], "id long")
    pairs = spark.createDataFrame([(0, 1), (1, 2), (5, 6)], "id_a long, id_b long")
    _assert_durable_matches_local(
        spark,
        monkeypatch,
        checkpoint_dir,
        lambda: dedup.canonical_survivors(ids, pairs),
    )


def test_dbscan_invariants_random_points(spark):
    """Brute-force invariant check on md5-deterministic random point sets:
    core iff >= min_pts neighbors (self included) within eps; every
    border point's label is one of its core neighbors' labels; noise has
    no core neighbor; every label is the minimum id of an eps-connected
    core component."""
    import hashlib

    import numpy as np

    from convml_data_spark.operators.clustering import dbscan_labels

    def u(seed, i):
        return int(hashlib.md5(f"{seed}|{i}".encode()).hexdigest()[:13], 16) / 2**52

    n, eps, min_pts = 120, 0.13, 4
    xs = np.array([u("x", i) for i in range(n)])
    ys = np.array([u("y", i) for i in range(n)])
    pts = spark.createDataFrame(
        [(i, float(xs[i]), float(ys[i])) for i in range(n)], "id long, x double, y double"
    )
    got = {r["id"]: (r["label"], r["is_core"]) for r in
           dbscan_labels(pts, eps, min_pts).collect()}
    d2 = (xs[:, None] - xs[None, :]) ** 2 + (ys[:, None] - ys[None, :]) ** 2
    nbr = d2 <= eps * eps  # includes self
    core = nbr.sum(axis=1) >= min_pts
    # exact core set
    assert {i for i in range(n) if got[i][1]} == {i for i in range(n) if core[i]}
    # components over core-core edges (numpy BFS)
    label = {}
    for s in range(n):
        if not core[s] or s in label:
            continue
        comp, stack = [], [s]
        seen = {s}
        while stack:
            c = stack.pop()
            comp.append(c)
            for t in np.nonzero(nbr[c] & core)[0]:
                if t not in seen:
                    seen.add(t)
                    stack.append(int(t))
        m = min(comp)
        for c in comp:
            label[c] = m
    for i in range(n):
        if core[i]:
            assert got[i][0] == label[i], i
        else:
            core_nbrs = [j for j in np.nonzero(nbr[i])[0] if core[j] and j != i]
            if core_nbrs:
                assert got[i][0] in {label[j] for j in core_nbrs}, i
            else:
                assert got[i][0] is None, i


@pytest.mark.nightly  # heavy audit; driver-budget deselect (r18)
def test_dbscan_eps_ladder_levels_match_single_eps_and_are_monotone(spark):
    """Each ladder level must equal the standalone single-eps DBSCAN on
    the same data (the shared-edge-materialization rewrite is a pure
    optimization), and the CLUSTERED point set must grow monotonically
    with eps (more radius -> more neighbors -> core/border status never
    lost)."""
    from convml_data_spark.operators.clustering import (
        dbscan_eps_ladder,
        dbscan_labels,
    )

    rows = []
    for k in range(5):
        rows.append((k, 0.01 * k, 0.0))
    for k in range(5):
        rows.append((10 + k, 10.0 + 0.03 * k, 10.0))
    rows.append((20, 0.04 + 0.07, 0.0))
    rows.append((30, 100.0, -50.0))
    pts = spark.createDataFrame(rows, "id long, x double, y double")
    ladder = dbscan_eps_ladder(pts, [0.05, 0.16], min_pts=4).collect()
    by_level = {}
    for r in ladder:
        by_level.setdefault(r["eps"], {})[r["id"]] = (r["label"], r["is_core"])
    for eps in (0.05, 0.16):
        single = {
            r["id"]: (r["label"], r["is_core"])
            for r in dbscan_labels(pts, eps=eps, min_pts=4).collect()
        }
        assert by_level[eps] == single, eps
    clustered_small = {i for i, (lab, _) in by_level[0.05].items() if lab is not None}
    clustered_big = {i for i, (lab, _) in by_level[0.16].items() if lab is not None}
    assert clustered_small <= clustered_big
    # the small eps separates B's looser spacing from core status while
    # the big eps clusters it — a real dendrogram transition, not a no-op
    assert clustered_small != clustered_big


@pytest.mark.nightly  # heavy audit; driver-budget deselect (r18)
def test_mutual_reachability_ladder_matches_python_hdbscan_slice(spark):
    """Mutual-reachability level sets (clustering.py::
    mutual_reachability_ladder) against a brute-force Python mirror on
    randomized points: exact squared core distances (k-NN radius, NULL
    when < min_pts-1 neighbors within eps_max), per-level DBSCAN*
    components of the mutual-reachability graph (min-core-id labels,
    border points NOISE — the hdbscan robust-single-linkage cut), label
    monotonicity across levels, warm_start invariance and partitioning
    independence."""
    import random

    from convml_data_spark.operators.clustering import (
        mutual_reachability_ladder,
    )

    rng = random.Random(5)
    rows = [
        (i, round(rng.uniform(0, 1.0), 4), round(rng.uniform(0, 1.0), 4))
        for i in range(150)
    ]
    rows += [(200 + k, 5.0, 5.0 + 0.001 * k) for k in range(6)]  # tight blob
    rows.append((300, -50.0, -50.0))  # isolated
    LEVELS, MP = [0.05, 0.12], 4
    pts = spark.createDataFrame(rows, "id long, x double, y double")

    def d2(a, b):
        return (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2

    eps_max = max(LEVELS)
    core_d2 = {}
    for a in rows:
        ds = sorted(
            d2(a, b) for b in rows if b[0] != a[0] and d2(a, b) <= eps_max**2
        )
        core_d2[a[0]] = ds[MP - 2] if len(ds) >= MP - 1 else None

    def mirror(eps):
        e2 = eps * eps
        cores = [i for i, cd in core_d2.items() if cd is not None and cd <= e2]
        by_id = {r[0]: r for r in rows}
        parent = {i: i for i in cores}

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        for a in cores:
            for b in cores:
                if a < b and d2(by_id[a], by_id[b]) <= e2:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
        comp = {}
        for i in cores:
            comp.setdefault(find(i), []).append(i)
        label = {}
        for members in comp.values():
            m = min(members)
            for i in members:
                label[i] = m
        return {
            i: (core_d2[i], label.get(i), i in label) for i, _, _ in rows
        }

    want = {eps: mirror(eps) for eps in LEVELS}
    for parts, warm in ((1, True), (7, True), (7, False)):
        got = {}
        out = mutual_reachability_ladder(
            pts.repartition(parts), LEVELS, MP, warm_start=warm
        ).collect()
        for r in out:
            got.setdefault(r["eps"], {})[r["id"]] = (
                r["core_d2"], r["label"], r["is_core"],
            )
        assert got == want, (parts, warm)
    # the slice is non-trivial: some point is core at 0.12 but not 0.05,
    # and the isolated point has NULL core distance
    assert want[0.05][300][0] is None
    assert any(
        want[0.12][i][2] and not want[0.05][i][2] for i, _, _ in rows
    )
    # DBSCAN* semantics: a non-core point NEVER carries a label
    assert all(
        lab is None for cd, lab, c in want[0.05].values() if not c
    )


def test_epsilon_grid_cell_skew_metric_fires_on_dense_cell(spark):
    """The one quadratic corner left in the engine — a dense epsilon-grid
    cell — must be OBSERVABLE: epsilon_grid_cell_stats reports the exact
    per-cell occupancy (max_cell_count, sum-of-squares candidate bound),
    and the free skew_observation probe on dbscan_labels reports the
    candidate-join output size during the normal run. A deliberately
    dense cell (60 coincident-cell points) must dominate both."""
    from pyspark.sql import Observation

    from convml_data_spark.operators.clustering import (
        dbscan_labels,
        epsilon_grid_cell_stats,
    )

    eps = 1.0
    rows = []
    for k in range(60):  # all in cell (0, 0): x, y in [0, 1)
        rows.append((k, 0.001 * k, 0.5))
    for k in range(10):  # isolated singleton cells far apart
        rows.append((100 + k, 100.0 * (k + 1), -100.0 * (k + 1)))
    pts = spark.createDataFrame(rows, "id long, x double, y double")

    stats = epsilon_grid_cell_stats(pts, eps).collect()[0]
    assert stats["n_points"] == 70
    assert stats["n_cells"] == 11
    assert stats["max_cell_count"] == 60
    assert stats["sum_sq_cell_count"] == 60 * 60 + 10

    obs = Observation()
    out = dbscan_labels(pts, eps=eps, min_pts=4, skew_observation=obs)
    n = out.count()
    assert n == 70
    # dense cell: 60 points x 60 same-cell candidates (self included)
    # = 3600 of the candidate rows; the singletons add 1 self-candidate
    # each; neighbor-cell offsets add nothing (all other cells empty in
    # the 3x3 halo of every occupied cell)
    assert obs.get["candidate_pairs"] == 60 * 60 + 10


def test_dense_cell_refinement_bounds_candidates(spark):
    """The dense-cell MITIGATION (eps/2 two-level grid): a dense blob in
    the corner of a coarse cell must stop being paired against an entire
    adjacent cell it cannot reach. Unrefined, the corner blob (50 pts)
    and the far-corner neighbor-cell group (30 pts) produce
    50² + 30² + 2·50·30 = 6410 candidates although no cross pair is
    within eps; refined (threshold 40 < 50), the blob's 5×5 eps/2
    sub-cell halo excludes the group entirely and the join emits EXACTLY
    the true same-ball candidate count 50² + 30² = 3400 (K = 1 × true
    pairs). Labels must be identical either way."""
    from pyspark.sql import Observation

    from convml_data_spark.operators.clustering import dbscan_labels

    rows = []
    for k in range(50):  # tight blob in the (0, 0) corner of cell (0, 0)
        rows.append((k, 0.04 + 0.0001 * k, 0.05))
    for k in range(30):  # far corner of the adjacent cell (1, 1)
        rows.append((100 + k, 1.95, 1.9 + 0.001 * k))
    pts = spark.createDataFrame(rows, "id long, x double, y double")

    obs_coarse = Observation()
    lab_coarse = {
        r["id"]: (r["label"], r["is_core"])
        for r in dbscan_labels(
            pts,
            eps=1.0,
            min_pts=4,
            skew_observation=obs_coarse,
            dense_cell_threshold=None,
        ).collect()
    }
    assert obs_coarse.get["candidate_pairs"] == 50 * 50 + 30 * 30 + 2 * 50 * 30

    obs_fine = Observation()
    lab_fine = {
        r["id"]: (r["label"], r["is_core"])
        for r in dbscan_labels(
            pts,
            eps=1.0,
            min_pts=4,
            skew_observation=obs_fine,
            dense_cell_threshold=40,
        ).collect()
    }
    assert obs_fine.get["candidate_pairs"] == 50 * 50 + 30 * 30
    assert lab_fine == lab_coarse
    # both groups are fully mutually-in-range -> two clusters, min-id label
    assert lab_fine[0] == (0, True)
    assert lab_fine[129] == (100, True)


@pytest.mark.nightly  # heavy audit; driver-budget deselect (r18)
def test_dbscan_refined_matches_unrefined_random(spark):
    """Label-identity property: the two-level grid (tiny threshold, so
    real data lands in BOTH the dense and sparse branches and the
    sparse→dense flip carries real edges) must agree with the
    single-level grid on random blobs+background, for the single-eps
    operator and the ladder."""
    import random

    from convml_data_spark.operators.clustering import (
        dbscan_eps_ladder,
        dbscan_labels,
    )

    rng = random.Random(7)
    rows = []
    for b, (bx, by) in enumerate([(0.0, 0.0), (0.5, 0.1), (0.2, 0.6)]):
        for k in range(50):
            rows.append(
                (b * 100 + k, bx + rng.gauss(0, 0.04), by + rng.gauss(0, 0.04))
            )
    for k in range(60):
        rows.append((900 + k, rng.uniform(-0.5, 1.0), rng.uniform(-0.5, 1.0)))
    pts = spark.createDataFrame(rows, "id long, x double, y double")

    base = {
        r["id"]: (r["label"], r["is_core"])
        for r in dbscan_labels(
            pts, eps=0.08, min_pts=5, dense_cell_threshold=None
        ).collect()
    }
    fine = {
        r["id"]: (r["label"], r["is_core"])
        for r in dbscan_labels(
            pts, eps=0.08, min_pts=5, dense_cell_threshold=8
        ).collect()
    }
    assert fine == base
    assert any(lab is not None for lab, _ in base.values())

    levels = [0.04, 0.08, 0.16]
    lad_base = {
        (r["id"], r["eps"]): (r["label"], r["is_core"])
        for r in dbscan_eps_ladder(
            pts, levels, min_pts=5, dense_cell_threshold=None
        ).collect()
    }
    lad_fine = {
        (r["id"], r["eps"]): (r["label"], r["is_core"])
        for r in dbscan_eps_ladder(
            pts, levels, min_pts=5, dense_cell_threshold=8
        ).collect()
    }
    assert lad_fine == lad_base


@pytest.mark.nightly  # heavy audit; driver-budget deselect (r18)
def test_dbscan_eps_ladder_warm_start_matches_cold(spark):
    """The warm-started ladder (level k's core labels contract level
    k+1's CC graph into super-nodes) must be LABEL-IDENTICAL to running
    every level from scratch — on a random point cloud whose density
    makes every level transition real (merges, new cores, and borders
    appear as eps grows), across 4 levels."""
    import random

    from convml_data_spark.operators.clustering import dbscan_eps_ladder

    rng = random.Random(11)
    rows = []
    # three gaussian blobs with different spreads + uniform background
    for b, (cx, cy, s) in enumerate([(0, 0, 0.02), (1, 0, 0.05), (0.5, 1, 0.1)]):
        for k in range(40):
            rows.append(
                (b * 100 + k, cx + rng.gauss(0, s), cy + rng.gauss(0, s))
            )
    for k in range(40):
        rows.append((900 + k, rng.uniform(-1, 2), rng.uniform(-1, 2)))
    pts = spark.createDataFrame(rows, "id long, x double, y double")
    levels = [0.03, 0.06, 0.12, 0.25]
    warm = {
        (r["id"], r["eps"]): (r["label"], r["is_core"])
        for r in dbscan_eps_ladder(pts, levels, min_pts=5).collect()
    }
    cold = {
        (r["id"], r["eps"]): (r["label"], r["is_core"])
        for r in dbscan_eps_ladder(
            pts, levels, min_pts=5, warm_start=False
        ).collect()
    }
    assert warm == cold
    # every level transition did something (the test is vacuous if the
    # ladder collapses to one effective level)
    per_level = {}
    for (_, eps), (lab, _) in warm.items():
        per_level.setdefault(eps, set()).add(lab)
    labelsets = [frozenset(per_level[e]) for e in levels]
    assert len(set(labelsets)) >= 3


def _random_corpus(seed, n_docs, vocab, max_len, null_every=11):
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n_docs):
        if i % null_every == 7:
            rows.append((i, None))
        else:
            n = rng.randrange(0, max_len)
            rows.append(
                (i, " ".join(f"t{rng.randrange(vocab)}" for _ in range(n)))
            )
    return rows


def test_bigram_backoff_score_matches_python_reference(spark):
    """Randomized cross-check: bigram_backoff_score equals a brute-force
    Python Stupid-Backoff implementation on random corpora (short docs,
    empty docs, NULL text, unseen words/bigrams all in the mix)."""
    import math
    from collections import Counter

    from convml_data_spark.operators.corpus import bigram_backoff_score

    lm_rows = _random_corpus(1, 30, vocab=25, max_len=30)
    sc_rows = _random_corpus(2, 40, vocab=40, max_len=25)  # wider vocab
    lm = spark.createDataFrame(lm_rows, "doc_id long, text string")
    docs = spark.createDataFrame(sc_rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["xent_nats"])
        for r in bigram_backoff_score(docs, lm).collect()
    }
    # python reference
    def toks(t):
        return [w for w in (t or "").lower().split() if w]

    cu = Counter(w for _, t in lm_rows for w in toks(t))
    cb = Counter(
        (a, b)
        for _, t in lm_rows
        for a, b in zip(toks(t), toks(t)[1:])
    )
    N, V = sum(cu.values()), len(cu)
    want = {}
    for i, t in sc_rows:
        ws = toks(t)
        if len(ws) < 2:
            continue
        terms = []
        for a, b in zip(ws, ws[1:]):
            if (a, b) in cb:
                terms.append(math.log(cb[(a, b)] / cu[a]))
            else:
                terms.append(math.log(0.4 * (cu.get(b, 0) + 1) / (N + V)))
        want[i] = (len(terms), -sum(terms) / len(terms))
    assert set(got) == set(want)
    for i in want:
        assert got[i][0] == want[i][0], i
        assert abs(got[i][1] - round(want[i][1], 6)) < 2e-6, i


def test_kneser_ney_hand_computed_all_branches(spark):
    """Hand-computed interpolated Kneser-Ney check on a tiny LM whose
    scored docs hit all three branches: seen bigram (discounted mass +
    interpolation), unseen bigram under a seen context (pure
    interpolation), and unseen context (continuation-only). Also pins
    the KN signature: continuation probability ranks words by how many
    CONTEXTS they complete, not raw frequency."""
    import math

    from convml_data_spark.operators.corpus import kneser_ney_score

    # LM bigrams: (a,b)x2 (b,a) (a,c) (c,b)  [from "a b a b" + "a c b"]
    # ctx: a c1=3 nf1=2 ; b c1=1 nf1=1 ; c c1=1 nf1=1
    # nb2: b<-{a,c}=2 ; a<-{b}=1 ; c<-{a}=1 ; T=4, V=3
    lm = spark.createDataFrame(
        [(0, "a b a b"), (1, "a c b")], "doc_id long, text string"
    )
    D = 0.75
    pc = {"a": 2 / 7, "b": 3 / 7, "c": 2 / 7, "z": 1 / 7}

    docs = spark.createDataFrame(
        [
            (10, "a b"),  # seen bigram
            (11, "a a"),  # seen ctx, unseen bigram
            (12, "z b"),  # unseen ctx
            (13, "a z"),  # seen ctx, unseen word
        ],
        "doc_id long, text string",
    )
    want = {
        10: (2 - D) / 3 + D * 2 / 3 * pc["b"],
        11: D * 2 / 3 * pc["a"],
        12: pc["b"],
        13: D * 2 / 3 * pc["z"],
    }
    got = {
        r["doc_id"]: (r["n_bigrams"], r["xent_nats"])
        for r in kneser_ney_score(docs, lm, discount=D).collect()
    }
    for i, prob in want.items():
        assert got[i][0] == 1, i
        assert abs(got[i][1] - round(-math.log(prob), 6)) < 2e-6, (
            i, got[i], -math.log(prob),
        )
    # KN signature: "b" completes 2 contexts, "a"/"c" complete 1 each
    # despite different raw frequencies
    assert pc["b"] > pc["a"] and pc["a"] == pc["c"]


def test_kneser_ney_matches_python_reference(spark):
    """Randomized cross-check: kneser_ney_score equals a brute-force
    Python interpolated-KN implementation on random corpora (short,
    empty, NULL docs; unseen words, bigrams and contexts in the mix),
    and every probability is strictly positive (finite xent)."""
    import math
    from collections import Counter

    from convml_data_spark.operators.corpus import kneser_ney_score

    lm_rows = _random_corpus(5, 30, vocab=25, max_len=30)
    sc_rows = _random_corpus(6, 40, vocab=40, max_len=25)
    lm = spark.createDataFrame(lm_rows, "doc_id long, text string")
    docs = spark.createDataFrame(sc_rows, "doc_id long, text string")
    D = 0.75
    got = {
        r["doc_id"]: (r["n_bigrams"], r["xent_nats"])
        for r in kneser_ney_score(docs, lm, discount=D).collect()
    }

    def toks(t):
        return [w for w in (t or "").lower().split() if w]

    cb = Counter(
        (a, b)
        for _, t in lm_rows
        for a, b in zip(toks(t), toks(t)[1:])
    )
    ctx, nf, nb = Counter(), Counter(), Counter()
    for (a, b), c in cb.items():
        ctx[a] += c
        nf[a] += 1
        nb[b] += 1
    T = len(cb)
    V = len({w for _, t in lm_rows for w in toks(t)})
    want = {}
    for i, t in sc_rows:
        ws = toks(t)
        if len(ws) < 2:
            continue
        terms = []
        for a, b in zip(ws, ws[1:]):
            pcont = (nb.get(b, 0) + 1) / (T + V)
            if a in ctx:
                prob = (
                    max(cb.get((a, b), 0) - D, 0.0) / ctx[a]
                    + D * nf[a] / ctx[a] * pcont
                )
            else:
                prob = pcont
            assert prob > 0
            terms.append(math.log(prob))
        want[i] = (len(terms), -sum(terms) / len(terms))
    assert set(got) == set(want)
    for i in want:
        assert got[i][0] == want[i][0], i
        assert abs(got[i][1] - round(want[i][1], 6)) < 2e-6, i


def test_kneser_ney_trigram_hand_computed_all_branches(spark):
    """Hand-computed interpolated KN TRIGRAM check on a tiny LM whose
    scored docs (one trigram each) hit every branch of the Chen-Goodman
    recursion: seen trigram, seen (w1,w2) context with unseen trigram,
    unseen (w1,w2) with seen w2 continuation context, and the full
    fall-through to the unigram floor."""
    import math

    from convml_data_spark.operators.corpus import kneser_ney_trigram_score

    # LM "a b c a b d": trigram types (a,b,c) (b,c,a) (c,a,b) (a,b,d)
    # cx3: (a,b) c12=2 nf12=2; (b,c) 1,1; (c,a) 1,1
    # n2 (continuation): (b,c) (c,a) (a,b) (b,d) all 1
    # cx2: b cv=2 nfv=2; c 1,1; a 1,1 ; bw nb3: a,b,c,d = 1 ; T=4 V=4
    lm = spark.createDataFrame([(0, "a b c a b d")], "doc_id long, text string")
    D = 0.75
    pc = {"c": 2 / 8, "x": 1 / 8, "q": 1 / 8, "a": 2 / 8}
    p2_cb = (1 - D) / 2 + D * 2 / 2 * pc["c"]   # seen cont. bigram (b,c)
    p2_xc = D * 1 / 1 * pc["x"]                  # seen w2=c, unseen (c,x)
    p2_qb = D * 2 / 2 * pc["q"]                  # seen w2=b, unseen (b,q)
    want_p = {
        10: (1 - D) / 2 + D * 2 / 2 * p2_cb,     # seen trigram (a,b,c)
        11: D * 1 / 1 * p2_xc,                   # seen ctx (b,c), unseen tri
        12: pc["q"],                             # unseen ctx, unseen w2=x
        13: p2_qb,                               # unseen ctx (x,b), seen w2=b
    }
    docs = spark.createDataFrame(
        [(10, "a b c"), (11, "b c x"), (12, "z x q"), (13, "x b q")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_trigrams"], r["xent_nats"])
        for r in kneser_ney_trigram_score(docs, lm, discount=D).collect()
    }
    for i, prob in want_p.items():
        assert got[i][0] == 1, i
        assert abs(got[i][1] - round(-math.log(prob), 6)) < 2e-6, (
            i, got[i], -math.log(prob),
        )


def test_kneser_ney_trigram_matches_python_reference(spark):
    """Randomized cross-check: kneser_ney_trigram_score equals a
    brute-force Python Chen-Goodman implementation (trigram discount →
    continuation-count bigram level → add-one unigram floor) on random
    corpora with unseen words/bigrams/trigrams/contexts in the mix;
    every probability strictly positive."""
    import math
    from collections import Counter

    from convml_data_spark.operators.corpus import kneser_ney_trigram_score

    lm_rows = _random_corpus(15, 30, vocab=20, max_len=30)
    sc_rows = _random_corpus(16, 40, vocab=32, max_len=25)
    lm = spark.createDataFrame(lm_rows, "doc_id long, text string")
    docs = spark.createDataFrame(sc_rows, "doc_id long, text string")
    D = 0.75
    got = {
        r["doc_id"]: (r["n_trigrams"], r["xent_nats"])
        for r in kneser_ney_trigram_score(docs, lm, discount=D).collect()
    }

    def toks(t):
        return [w for w in (t or "").lower().split() if w]

    c3 = Counter(
        (a, b, c)
        for _, t in lm_rows
        for a, b, c in zip(toks(t), toks(t)[1:], toks(t)[2:])
    )
    c12, nf12 = Counter(), Counter()
    n2 = Counter()
    for (a, b, c), n in c3.items():
        c12[(a, b)] += n
        nf12[(a, b)] += 1
        n2[(b, c)] += 1
    cv, nfv, nb3 = Counter(), Counter(), Counter()
    for (b, c), n in n2.items():
        cv[b] += n
        nfv[b] += 1
        nb3[c] += 1
    T = len(n2)
    V = len({w for _, t in lm_rows for w in toks(t)})
    want = {}
    for i, t in sc_rows:
        ws = toks(t)
        if len(ws) < 3:
            continue
        terms = []
        for a, b, c in zip(ws, ws[1:], ws[2:]):
            pcont = (nb3.get(c, 0) + 1) / (T + V)
            if b in cv:
                p2 = (
                    max(n2.get((b, c), 0) - D, 0.0) / cv[b]
                    + D * nfv[b] / cv[b] * pcont
                )
            else:
                p2 = pcont
            if (a, b) in c12:
                p3 = (
                    max(c3.get((a, b, c), 0) - D, 0.0) / c12[(a, b)]
                    + D * nf12[(a, b)] / c12[(a, b)] * p2
                )
            else:
                p3 = p2
            assert p3 > 0
            terms.append(math.log(p3))
        want[i] = (len(terms), -sum(terms) / len(terms))
    assert set(got) == set(want)
    for i in want:
        assert got[i][0] == want[i][0], i
        assert abs(got[i][1] - round(want[i][1], 6)) < 2e-6, i


def test_quality_classifier_fit_separates_and_matches_model_margin(spark):
    """Hashed linear quality classifier: (a) scoring with the fitted
    weights reproduces sigmoid(coef·counts + intercept) recomputed
    independently in Python over the same md5 buckets, (b) the fitted
    classifier separates a synthetic good/bad corpus at AUC ~ 1."""
    import math
    import random

    from pyspark.sql import functions as F

    from convml_data_spark.operators.corpus import (
        _md5_bucket,
        fit_quality_classifier,
        quality_classifier_score,
    )

    rng = random.Random(5)
    good = [f"good{i}" for i in range(20)]
    bad = [f"bad{i}" for i in range(20)]
    common = [f"c{i}" for i in range(10)]
    rows = []
    for i in range(120):
        label = i % 2
        pool = good if label else bad
        words = [
            rng.choice(pool if rng.random() < 0.7 else common)
            for _ in range(rng.randrange(5, 15))
        ]
        rows.append((i, float(label), " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, label double, text string")

    B = 256
    weights, b0 = fit_quality_classifier(df, n_buckets=B)
    scored = quality_classifier_score(
        df, weights, intercept=b0, n_buckets=B, pooling="sum"
    )
    got = {r["doc_id"]: r["quality_score"] for r in scored.collect()}

    # (a) score == sigmoid(coef . counts + intercept), python-recomputed
    vocab = sorted({w for _, _, t in rows for w in t.split()})
    spark_buckets = {
        r["w"]: r["b"]
        for r in spark.createDataFrame([(w,) for w in vocab], "w string")
        .select("w", _md5_bucket(F.col("w"), B).alias("b"))
        .collect()
    }
    wmap = {r["bucket"]: r["weight"] for r in weights.collect()}
    for i, _, t in rows:
        margin = b0 + sum(wmap.get(spark_buckets[w], 0.0) for w in t.split())
        want = 1.0 / (1.0 + math.exp(-margin))
        assert abs(got[i] - want) < 2e-6, i

    # (b) AUC ~ 1 on the separable corpus
    pos = sorted(got[i] for i, lab, _ in rows if lab == 1.0)
    neg = sorted(got[i] for i, lab, _ in rows if lab == 0.0)
    wins = sum(
        (p > n) + 0.5 * (p == n) for p in pos for n in neg
    )
    auc = wins / (len(pos) * len(neg))
    assert auc > 0.98, auc


def test_quality_classifier_score_edge_cases(spark):
    """Scoring-path contract: NULL/empty docs emit no row; tokens whose
    bucket is absent from the weights relation contribute weight 0;
    mean vs sum pooling differ exactly by the n_tokens divisor."""
    import math

    from convml_data_spark.operators.corpus import quality_classifier_score

    docs = spark.createDataFrame(
        [(1, "aa aa bb"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    # weights keyed by the md5 buckets of 'aa' only; 'bb' falls through
    from pyspark.sql import functions as F

    b_aa, b_bb = [
        r["b"]
        for r in spark.createDataFrame([("aa",), ("bb",)], "w string")
        .select(
            F.pmod(
                F.conv(F.substring(F.md5("w"), 1, 13), 16, 10).cast("long"),
                F.lit(64),
            ).alias("b")
        )
        .collect()
    ]
    assert b_aa != b_bb  # fix the vocab if these ever collide
    weights = spark.createDataFrame([(b_aa, 0.3)], "bucket long, weight double")
    for pooling, margin in (("sum", 0.6), ("mean", 0.2)):
        got = {
            r["doc_id"]: (r["n_tokens"], r["quality_score"])
            for r in quality_classifier_score(
                docs, weights, n_buckets=64, pooling=pooling
            ).collect()
        }
        assert set(got) == {1}, pooling
        want = round(1.0 / (1.0 + math.exp(-margin)), 6)
        assert got[1] == (3, want), pooling


def test_bpe_train_merges_hand_computed(spark):
    """BPE training (corpus.py::bpe_train_merges) on the classic
    low/lower/lowest corpus: merge order and weighted pair counts match
    the hand computation, including the lexicographic tie-breaks at
    rounds 0 ((l,o) vs (o,w) at 7), 2 ((e,r) vs (low,e) at 3) and
    3/4 (three-way and two-way ties at 2)."""
    from convml_data_spark.operators.corpus import bpe_train_merges

    docs = spark.createDataFrame(
        [(1, "low low low lower lowest"), (2, "low lower newer new"), (3, None)],
        "doc_id long, text string",
    )
    got = [
        (r["merge_rank"], r["s1"], r["s2"], r["pair_count"])
        for r in bpe_train_merges(docs, num_merges=6)
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == [
        (0, "l", "o", 7),
        (1, "lo", "w", 7),
        (2, "e", "r", 3),
        (3, "e", "w", 2),
        (4, "low", "er", 2),
        (5, "n", "ew", 2),
    ]


def test_bpe_train_merges_matches_python_and_partitioning_free(spark):
    """Randomized cross-check: bpe_train_merges equals a brute-force
    Python BPE trainer (greedy single-pass merge application, count-then
    -lexicographic argmax) on a random corpus, and the learned merge
    list is identical under different input partitionings."""
    from collections import Counter

    from convml_data_spark.operators.corpus import bpe_train_merges

    rows = _random_corpus(31, 25, vocab=9, max_len=12)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    K = 7

    words = Counter(
        w for _, t in rows for w in (t or "").lower().split() if w
    )
    segs = {w: list(w) for w in words}
    want = []
    for k in range(K):
        pc: Counter = Counter()
        for w, syms in segs.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += words[w]
        if not pc:
            break
        (s1, s2), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((k, s1, s2, c))
        for w, syms in segs.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == s1
                    and syms[i + 1] == s2
                ):
                    out.append(s1 + s2)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            segs[w] = out
    assert len(want) == K, "vacuous corpus: ran out of pairs"

    for parts in (1, 13):
        got = [
            (r["merge_rank"], r["s1"], r["s2"], r["pair_count"])
            for r in bpe_train_merges(docs.repartition(parts), num_merges=K)
            .orderBy("merge_rank")
            .collect()
        ]
        assert got == want, parts


def test_bpe_encode_hand_computed_and_matches_python(spark):
    """BPE application (corpus.py::bpe_encode): per-doc symbol counts
    after replaying the learned merges in rank order — hand-checked on
    the classic corpus (3 merges: l+o, lo+w, e+r), then cross-checked
    against a brute-force Python encoder on a random corpus with the
    full 7-merge list (an empty merge table must be a no-op, not an
    annihilating join)."""
    from collections import Counter

    from convml_data_spark.operators.corpus import (
        bpe_encode,
        bpe_train_merges,
    )

    docs = spark.createDataFrame(
        [(1, "low low low lower lowest"), (2, "low lower newer new"), (3, None)],
        "doc_id long, text string",
    )
    merges = bpe_train_merges(docs, num_merges=3)
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_chars"], r["n_symbols"])
        for r in bpe_encode(docs, merges).collect()
    }
    # merges: (l,o) (lo,w) (e,r) -> low:1 sym, lower:[low,er]=2,
    # lowest:[low,e,s,t]=4, newer:[n,e,w,er]=4, new:[n,e,w]=3
    assert got == {1: (5, 20, 3 * 1 + 2 + 4), 2: (4, 16, 1 + 2 + 4 + 3)}

    # empty merge table -> identity segmentation (chars == symbols)
    ident = {
        r["doc_id"]: (r["n_chars"], r["n_symbols"])
        for r in bpe_encode(docs, merges.where("merge_rank < 0")).collect()
    }
    assert all(c == s for c, s in ident.values())

    # randomized cross-check against a python trainer+encoder
    rows = _random_corpus(37, 25, vocab=9, max_len=12)
    rdocs = spark.createDataFrame(rows, "doc_id long, text string")
    K = 7
    words = Counter(
        w for _, t in rows for w in (t or "").lower().split() if w
    )
    segs = {w: list(w) for w in words}

    def apply_merge(syms, s1, s2):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == s1 and syms[i + 1] == s2:
                out.append(s1 + s2)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    for _ in range(K):
        pc: Counter = Counter()
        for w, syms in segs.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += words[w]
        (s1, s2), _c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        segs = {w: apply_merge(syms, s1, s2) for w, syms in segs.items()}
    want = {}
    for i, t in rows:
        ws = [w for w in (t or "").lower().split() if w]
        if not ws:
            continue
        want[i] = (
            len(ws),
            sum(len(w) for w in ws),
            sum(len(segs[w]) for w in ws),
        )
    got2 = {
        r["doc_id"]: (r["n_tokens"], r["n_chars"], r["n_symbols"])
        for r in bpe_encode(
            rdocs, bpe_train_merges(rdocs, num_merges=K)
        ).collect()
    }
    assert got2 == want


def _byte_bpe_python(rows, K):
    """Brute-force byte-level BPE reference: GPT-2-style pre-tokenizer
    (the same RE2∩Java pattern the engine uses), UTF-8 bytes as
    uppercase hex pairs, greedy single-pass merges with the
    (count DESC, s1, s2) argmax. Returns (merge list, piece→symbols)."""
    import re
    from collections import Counter

    pat = re.compile(
        r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"
    )
    pieces = Counter(
        p for _, t in rows if t for p in pat.findall(t)
    )
    segs = {p: [f"{b:02X}" for b in p.encode("utf-8")] for p in pieces}
    merges = []
    for k in range(K):
        pc: Counter = Counter()
        for p, syms in segs.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += pieces[p]
        if not pc:
            break
        (s1, s2), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((k, s1, s2, c))
        for p, syms in segs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == s1 and syms[i + 1] == s2:
                    out.append(s1 + s2)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            segs[p] = out
    return pat, merges, segs


def test_bpe_byte_level_matches_python_on_adversarial_corpus(spark):
    """Byte-level BPE (corpus.py::bpe_train_byte_merges /
    bpe_encode_bytes) against a brute-force Python reference on a
    corpus exercising every fidelity point the word-level trainer
    lacks: case preservation, contraction suffixes ('s/'ll), leading
    spaces inside pieces (Ġ convention — merges of hex 20), digit runs,
    punctuation runs, a non-ASCII character (é → TWO UTF-8 bytes, the
    byte-fallback path), multi-space runs, NULL and empty text. Train
    and encode both match, and training is partitioning-independent."""
    from convml_data_spark.operators.corpus import (
        bpe_encode_bytes,
        bpe_train_byte_merges,
    )

    rows = [
        (1, "The cat's Cat CAT won't sit-still!"),
        (2, "cat cat  cat 1234 12 cats they'll sit"),
        (3, None),
        (4, ""),
        (5, " café café touché 99 bottles... the the"),
        # 1200 DISTINCT pieces: the raw 52-bit-term checksum sum (iid
        # uniform terms, ~2.7e18 ± 9σ margin) exceeds 2^61-1, exercising
        # the Mersenne pmod fold (a raw BIGINT sum would wrap silently
        # here — the r15 ADVICE overflow)
        (6, " ".join(f"w{i}" for i in range(1200))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    K = 7
    pat, want_merges, segs = _byte_bpe_python(rows, K)
    assert len(want_merges) == K

    for parts in (1, 7):
        got = [
            (r["merge_rank"], r["s1"], r["s2"], r["pair_count"])
            for r in bpe_train_byte_merges(
                docs.repartition(parts), num_merges=K
            )
            .orderBy("merge_rank")
            .collect()
        ]
        assert got == want_merges, parts
    # the Ġ path really exercised: some learned symbol starts with the
    # space byte, and the é docs carry a 2-byte fallback segmentation
    assert any(s1.startswith("20") or s2.startswith("20")
               for _, s1, s2, _ in want_merges)
    # é is outside [A-Za-z], so the pre-tokenizer emits it as its own
    # piece — whose start segmentation is the TWO UTF-8 fallback bytes
    assert "é" in segs and "".join(segs["é"]) == "C3A9"

    merges = bpe_train_byte_merges(docs, num_merges=K)
    got_enc = {
        r["doc_id"]: (
            r["n_pieces"], r["n_bytes"], r["n_tokens"], r["seg_checksum"]
        )
        for r in bpe_encode_bytes(docs, merges).collect()
    }
    import hashlib

    def ck(syms):
        # the engine's segmentation-string checksum: top 52 bits of the
        # md5 of the double-space string form ' s1  s2 ... '
        seg = " " + "  ".join(syms) + " "
        return int(hashlib.md5(seg.encode()).hexdigest()[:13], 16)

    MOD = (1 << 61) - 1
    want_enc = {}
    raw_sums = {}
    for i, t in rows:
        ps = pat.findall(t) if t else []
        if not ps:
            continue
        raw_sums[i] = sum(ck(segs[p]) for p in ps)
        want_enc[i] = (
            len(ps),
            sum(len(p.encode("utf-8")) for p in ps),
            sum(len(segs[p]) for p in ps),
            raw_sums[i] % MOD,
        )
    # the fold is genuinely exercised: doc 6's raw sum overflows BIGINT
    # territory past the modulus
    assert raw_sums[6] > MOD
    assert got_enc == want_enc

    # empty merge table -> identity segmentation (bytes == tokens)
    ident = {
        r["doc_id"]: (r["n_bytes"], r["n_tokens"])
        for r in bpe_encode_bytes(
            docs, merges.where("merge_rank < 0")
        ).collect()
    }
    assert ident and all(b == s for b, s in ident.values())


def test_bpe_encode_byte_ids_matches_python_gpt2_id_scheme(spark):
    """GPT-2 token-id encode (corpus.py::bpe_encode_byte_ids) against a
    Python mirror on the same adversarial corpus: ids are 0-255 for the
    byte symbols (the byte's value) + 256+rank per merge (min on symbol
    collision), and id_checksum is the order-SENSITIVE positional sum
    Σ(pos+1)·id mod 2^61-1 over the doc's whole token sequence (the mod
    only bites at ~1e8-token docs — the 100 TB stance — so this pins the
    sub-modulus arithmetic; the fold itself shares CHECKSUM_MOD with the
    bpe_encode_bytes path whose overflow test above exercises it)."""
    from convml_data_spark.operators.corpus import (
        bpe_encode_byte_ids,
        bpe_train_byte_merges,
    )

    rows = [
        (1, "The cat's Cat CAT won't sit-still!"),
        (2, "cat cat  cat 1234 12 cats they'll sit"),
        (3, None),
        (4, ""),
        (5, " café café touché 99 bottles... the the"),
        (6, " ".join(f"w{i}" for i in range(3000))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    K = 7
    pat, want_merges, segs = _byte_bpe_python(rows, K)
    sym_id = {f"{b:02X}": b for b in range(256)}
    for rank, s1, s2, _ in want_merges:
        sym_id.setdefault(s1 + s2, 256 + rank)

    MOD = (1 << 61) - 1
    want = {}
    for i, t in rows:
        ps = pat.findall(t) if t else []
        if not ps:
            continue
        seq = [sym_id[s] for p in ps for s in segs[p]]
        want[i] = (
            len(seq),
            sum((pos + 1) * sid for pos, sid in enumerate(seq)) % MOD,
        )

    merges = bpe_train_byte_merges(docs, num_merges=K)
    for parts in (1, 5):
        got = {
            r["doc_id"]: (r["n_tokens"], r["id_checksum"])
            for r in bpe_encode_byte_ids(
                docs.repartition(parts), merges
            ).collect()
        }
        assert got == want, parts

    # empty merge table -> pure byte-id sequence, every id < 256
    docs1 = spark.createDataFrame([(1, "ab!")], "doc_id long, text string")
    got1 = bpe_encode_byte_ids(
        docs1, merges.where("merge_rank < 0")
    ).collect()[0]
    # 'ab!' -> pieces 'ab', '!' -> bytes 61 62 21 -> ids 97 98 33
    assert got1["n_tokens"] == 3
    assert got1["id_checksum"] == 1 * 97 + 2 * 98 + 3 * 33


def test_bpe_piece_pattern_whitespace_class_matches_duckdb(spark):
    """Java's ``\\s`` includes vertical tab \\x0B; RE2's does not — the
    pre-tokenizer therefore spells whitespace as the explicit class
    [ \\t\\n\\x0B\\f\\r] in BOTH dialects (r15 ADVICE). Pin that a
    \\x0B-bearing text pre-tokenizes into the SAME piece list in Spark
    (Java regex) and DuckDB (RE2), and that the SQL literal derives from
    the Python constant."""
    import duckdb

    import __spark_entry__ as entrymod
    from convml_data_spark.functions.text import BPE_PIECE_PATTERN

    assert entrymod._BPE_PIECE_SQL == BPE_PIECE_PATTERN.replace("'", "''")
    txt = "a\x0bb\tc \x0b\x0b d1\fe\rf\ng \x0b!"
    got_spark = (
        spark.createDataFrame([(txt,)], "text string")
        .select(
            F.regexp_extract_all(
                "text", F.lit(BPE_PIECE_PATTERN), F.lit(0)
            ).alias("p")
        )
        .collect()[0]["p"]
    )
    got_duck = duckdb.sql(
        f"SELECT regexp_extract_all(?, '{entrymod._BPE_PIECE_SQL}') AS p",
        params=[txt],
    ).fetchone()[0]
    assert got_spark == got_duck
    # the vertical tab really lands in whitespace pieces, not punctuation
    assert any("\x0b" in p and p.strip(" \t\n\x0b\f\r") == "" for p in got_spark)


def test_whitespace_tokenizer_class_matches_duckdb_on_vertical_tab(spark):
    """tokens() and TOKEN_PATTERN spell whitespace as the explicit class
    [ \\t\\n\\x0B\\f\\r] (== Java's \\s, so Spark behavior is unchanged);
    this pins that the 60+ DuckDB string_split_regex oracle twins — which
    use the same spelling — now tokenize \\x0B-bearing text identically
    (RE2's \\s excludes \\x0B, so the old '\\s+' twins would have kept
    'a\\x0Bb' as ONE token where Spark split it)."""
    import duckdb

    from convml_data_spark.functions import text as T

    txt = "a\x0bb\tc  d\x0b\x0b e!f"
    got_spark = (
        spark.createDataFrame([(txt,)], "text string")
        .select(T.tokens(F.col("text")).alias("t"))
        .collect()[0]["t"]
    )
    got_duck = duckdb.sql(
        "SELECT list_filter(string_split_regex(?, "
        "'[ \\t\\n\\x0B\\f\\r]+'), x -> x != '') AS t",
        params=[txt],
    ).fetchone()[0]
    assert got_spark == got_duck == ["a", "b", "c", "d", "e!f"]
    # and the regex-token pattern agrees too (word runs + single marks,
    # \x0B consumed as whitespace in both dialects)
    got_rs = (
        spark.createDataFrame([(txt,)], "text string")
        .select(
            F.regexp_extract_all(
                "text", F.lit(T.TOKEN_PATTERN), F.lit(0)
            ).alias("t")
        )
        .collect()[0]["t"]
    )
    got_rd = duckdb.sql(
        f"SELECT regexp_extract_all(?, '{T.TOKEN_PATTERN}') AS t",
        params=[txt],
    ).fetchone()[0]
    assert got_rs == got_rd == ["a", "b", "c", "d", "e", "!", "f"]


def test_trigram_backoff_score_all_three_branches_hand_computed(spark):
    """Hand-computed Stupid-Backoff trigram check: one doc whose three
    transitions hit all three branches (seen trigram, trigram-miss →
    seen bigram, both-miss → α²-discounted add-one unigram)."""
    import math

    from convml_data_spark.operators.corpus import trigram_backoff_score

    # LM: tokens a b c a b d -> trigrams (a,b,c) (b,c,a) (c,a,b) (a,b,d)
    # bigrams (a,b)x2 (b,c) (c,a) (b,d); unigrams a:2 b:2 c:1 d:1
    # N = 6, V = 4
    lm = spark.createDataFrame([(0, "a b c a b d")], "doc_id long, text string")
    # scored: x a b c -> transitions
    #   (x,a,b): trigram unseen, bigram (a,b) seen c=2, cu(a)=2
    #            -> ln(0.4 * 2 / 2)
    #   (a,b,c): trigram seen c=1, c12(a,b)=2 -> ln(1/2)
    # and: c d z  -> (c,d,z): trigram unseen, bigram (d,z) unseen,
    #            cu(z)=0 -> ln(0.4*0.4 * 1 / 10)
    docs = spark.createDataFrame(
        [(1, "x a b c"), (2, "c d z"), (3, "a b")],  # doc 3: no trigrams
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_trigrams"], r["xent_nats"])
        for r in trigram_backoff_score(docs, lm).collect()
    }
    assert set(got) == {1, 2}
    want1 = -(math.log(0.4 * 2 / 2) + math.log(1 / 2)) / 2
    want2 = -math.log(0.4 * 0.4 * 1 / 10)
    assert got[1] == (2, round(want1, 6))
    assert got[2] == (1, round(want2, 6))


def test_trigram_backoff_score_matches_python_reference(spark):
    """Randomized cross-check: trigram_backoff_score equals a brute-force
    Python Stupid-Backoff chain (trigram → α·bigram → α²·add-one
    unigram) on random corpora with short/empty/NULL docs and unseen
    words at every order in the mix."""
    import math
    from collections import Counter

    from convml_data_spark.operators.corpus import trigram_backoff_score

    lm_rows = _random_corpus(3, 30, vocab=20, max_len=30)
    sc_rows = _random_corpus(4, 40, vocab=32, max_len=25)  # wider vocab
    lm = spark.createDataFrame(lm_rows, "doc_id long, text string")
    docs = spark.createDataFrame(sc_rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_trigrams"], r["xent_nats"])
        for r in trigram_backoff_score(docs, lm).collect()
    }

    def toks(t):
        return [w for w in (t or "").lower().split() if w]

    cu = Counter(w for _, t in lm_rows for w in toks(t))
    cb = Counter(
        (a, b) for _, t in lm_rows for a, b in zip(toks(t), toks(t)[1:])
    )
    ct = Counter(
        (a, b, c)
        for _, t in lm_rows
        for a, b, c in zip(toks(t), toks(t)[1:], toks(t)[2:])
    )
    N, V = sum(cu.values()), len(cu)
    want = {}
    for i, t in sc_rows:
        ws = toks(t)
        if len(ws) < 3:
            continue
        terms = []
        for a, b, c in zip(ws, ws[1:], ws[2:]):
            if (a, b, c) in ct:
                terms.append(math.log(ct[(a, b, c)] / cb[(a, b)]))
            elif (b, c) in cb:
                terms.append(math.log(0.4 * cb[(b, c)] / cu[b]))
            else:
                terms.append(
                    math.log(0.4 * 0.4 * (cu.get(c, 0) + 1) / (N + V))
                )
        want[i] = (len(terms), -sum(terms) / len(terms))
    assert set(got) == set(want)
    for i in want:
        assert got[i][0] == want[i][0], i
        assert abs(got[i][1] - round(want[i][1], 6)) < 2e-6, i


def test_exact_span_and_excision_match_python_reference(spark):
    """Randomized cross-check: exact_span_decontaminate and
    excise_contaminated_spans equal brute-force window-set Python on a
    random corpus whose eval half is built by MUTATING train docs (so
    real shared spans exist)."""
    import random

    from convml_data_spark.operators.corpus import (
        exact_span_decontaminate,
        excise_contaminated_spans,
    )

    rng = random.Random(5)
    k = 5
    train_rows = _random_corpus(3, 30, vocab=12, max_len=28)
    # eval docs: mutated copies of some train docs + fresh ones
    eval_rows = []
    for j in range(12):
        i, t = train_rows[rng.randrange(len(train_rows))]
        ws = [w for w in (t or "").split()]
        if ws and rng.random() < 0.7:
            p = rng.randrange(len(ws))
            ws = ws[:p] + ["zz%d" % j] + ws[p:]
        eval_rows.append((1000 + j, " ".join(ws)))
    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    evald = spark.createDataFrame(eval_rows, "doc_id long, text string")

    def toks(t):
        return [w for w in (t or "").lower().split() if w]

    def wins(t):
        ws = toks(t)
        return {
            (s, " ".join(ws[s : s + k]))
            for s in range(0, max(len(ws) - k + 1, 0))
        }

    eval_set = {w for _, t in eval_rows for _, w in wins(t)}
    want_flag, want_excise = {}, {}
    for i, t in train_rows:
        hits = {(s, w) for s, w in wins(t) if w in eval_set}
        if not hits:
            continue
        spans = {w for _, w in hits}
        starts = {s for s, _ in hits}
        want_flag[i] = (len(hits), len(spans), min(starts))
        ws = toks(t)
        bad = {p for s in starts for p in range(s, s + k)}
        want_excise[i] = (
            len(ws),
            len(bad),
            " ".join(w for p, w in enumerate(ws) if p not in bad),
        )
    got_flag = {
        r["doc_id"]: (
            r["n_span_positions"], r["n_distinct_spans"], r["first_start"]
        )
        for r in exact_span_decontaminate(train, evald, k=k).collect()
    }
    got_excise = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in excise_contaminated_spans(train, evald, k=k).collect()
    }
    assert got_flag == want_flag
    assert got_excise == want_excise
    assert want_flag, "mutated eval docs must produce real contamination"


def test_cdc_chunks_match_python_reference(spark):
    """Randomized cross-check: cdc_chunks boundaries and chunk hashes
    equal a brute-force Python replay of the rolling-fingerprint
    predicate (md5 52-bit prefix mod 2^mask)."""
    import hashlib

    from convml_data_spark.operators.dedup import cdc_chunks

    window, mask = 3, 2
    rows = _random_corpus(9, 35, vocab=15, max_len=40)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in cdc_chunks(docs, window=window, mask_bits=mask).collect():
        got.setdefault(r["doc_id"], set()).add(
            (r["start"], r["end"], r["chunk_hash"])
        )

    def md5hex(s):
        return hashlib.md5(s.encode()).hexdigest()

    want = {}
    for i, t in rows:
        ws = [w for w in (t or "").lower().split() if w]
        if not ws:
            continue
        bounds = [
            s
            for s in range(1, len(ws) - window + 1)
            if int(md5hex(" ".join(ws[s : s + window]))[:13], 16)
            % (1 << mask)
            == 0
        ]
        edges = [0] + bounds + [len(ws)]
        want[i] = {
            (a, b, md5hex(" ".join(ws[a:b])))
            for a, b in zip(edges, edges[1:])
        }
    assert got == want
    assert any(len(v) > 1 for v in want.values()), "boundaries must fire"


def test_dsir_hashed_buckets_reduce_to_raw_when_injective(spark):
    """dsir_logratio(n_buckets): with bucket space vastly larger than
    the vocabulary the hash is injective on this corpus and scores are
    IDENTICAL to the raw-token form (bucket counts isomorphic to token
    counts); with a tiny bucket space the LM state collapses but every
    scored doc is still scored."""
    from convml_data_spark.operators.corpus import dsir_logratio

    rows = _random_corpus(21, 25, vocab=30, max_len=20)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    target = docs.where("doc_id % 3 = 0")
    raw = {
        r["doc_id"]: (r["n_tokens"], r["dsir_logratio"])
        for r in dsir_logratio(docs, target).collect()
    }
    wide = {
        r["doc_id"]: (r["n_tokens"], r["dsir_logratio"])
        for r in dsir_logratio(docs, target, n_buckets=1_000_000).collect()
    }
    assert wide == raw
    tiny = {
        r["doc_id"]: r["dsir_logratio"]
        for r in dsir_logratio(docs, target, n_buckets=2).collect()
    }
    assert set(tiny) == set(raw)
    assert tiny != {k: v[1] for k, v in raw.items()}


# ---------------------------------------------------------------- bloom


def test_bloom_decontaminate_no_false_negatives_and_true_hit(spark):
    """A train doc containing an eval doc's exact 7-gram ALWAYS hits
    (Bloom filters have no false negatives); with a filter big enough
    that FPs are improbable for 5 docs, disjoint-vocab docs score 0."""
    from convml_data_spark.operators import corpus

    eval_docs = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta iota")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # contains eval 7-gram "alpha beta ... eta" verbatim
            # (10 tokens -> 4 distinct 7-grams, exactly 1 contaminated)
            (0, "prefix words alpha beta gamma delta epsilon zeta eta suffix"),
            # disjoint vocabulary
            (1, "one two three four five six seven eight nine ten eleven"),
            # verbatim copy of the eval doc: every 7-gram hits
            (2, "alpha beta gamma delta epsilon zeta eta theta iota"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in corpus.bloom_decontaminate(
            train, eval_docs, n=7, m_bits=1 << 20, k_hashes=4,
            flag_threshold=0.3,
        ).collect()
    }
    assert out[0]["n_bloom_hits"] == 1  # no false negatives, ever
    assert out[0]["hit_frac"] == 0.25 and out[0]["flagged"] is False
    assert out[1]["n_bloom_hits"] == 0  # 2^20 bits, few grams: no FP
    assert out[1]["flagged"] is False
    assert out[2]["hit_frac"] == 1.0 and out[2]["flagged"] is True


def test_bloom_bits_bounded_and_mergeable(spark):
    """The set-bit relation is bounded by m_bits and merges across
    shards by plain set union — the sketch contract."""
    from convml_data_spark.operators import corpus

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h i j k l"),
            (1, "m n o p q r s t u v w x"),
        ],
        "doc_id long, text string",
    )
    m = 64
    full = {
        r["bit"]
        for r in corpus.bloom_bits(docs, n=7, m_bits=m, k_hashes=3).collect()
    }
    part0 = {
        r["bit"]
        for r in corpus.bloom_bits(
            docs.where(F.col("doc_id") == 0), n=7, m_bits=m, k_hashes=3
        ).collect()
    }
    part1 = {
        r["bit"]
        for r in corpus.bloom_bits(
            docs.where(F.col("doc_id") == 1), n=7, m_bits=m, k_hashes=3
        ).collect()
    }
    assert full == part0 | part1
    assert all(0 <= b < m for b in full)


def test_bloom_decontaminate_small_filter_false_positives_flagged(spark):
    """With a deliberately tiny filter the FP rate saturates — the
    deterministic md5 family means even the false positives are stable
    across runs/partitionings."""
    from convml_data_spark.operators import corpus

    eval_docs = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [(0, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    kw = dict(n=7, m_bits=4, k_hashes=2, flag_threshold=0.5)
    a = corpus.bloom_decontaminate(train, eval_docs, **kw).collect()
    b = corpus.bloom_decontaminate(
        train.repartition(5), eval_docs, **kw
    ).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    # 4 bits, 4 eval grams x 2 hashes: filter saturates, everything hits
    assert a[0]["hit_frac"] == 1.0 and a[0]["flagged"] is True


def test_bloom_param_validation(spark):
    import pytest

    from convml_data_spark.operators import corpus

    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        corpus.bloom_bits(docs, m_bits=0)
    with pytest.raises(ValueError):
        corpus.bloom_bits(docs, k_hashes=0)


# ---------------------------------------------------------------- count-min


def test_countmin_never_undercounts_and_exact_alone(spark):
    """CM point queries satisfy est >= true always (the defining
    guarantee); a token alone in its cells estimates exactly."""
    from convml_data_spark.operators import corpus

    docs = spark.createDataFrame(
        [(i, "x " * (i + 1)) for i in range(20)], "doc_id long, text string"
    )
    # width 2: massive collisions; est >= true must still hold
    rows = corpus.countmin_heavy_hitters(
        docs, depth=2, width=2, min_frac=0.0001
    ).collect()
    assert rows and all(r["est_count"] >= r["true_count"] for r in rows)
    # single-token corpus: no collisions possible -> exact
    solo = spark.createDataFrame([(0, "y y y y y")], "doc_id long, text string")
    got = corpus.countmin_heavy_hitters(
        solo, depth=3, width=8, min_frac=0.5
    ).collect()
    assert len(got) == 1
    assert got[0]["est_count"] == got[0]["true_count"] == 5


def test_countmin_sketch_mergeable_across_shards(spark):
    """sketch(A union B) == cellwise-sum(sketch(A), sketch(B)) — the
    property that lets 100 TB shards sketch independently."""
    from convml_data_spark.operators import corpus

    docs = spark.createDataFrame(
        [
            (0, "red green blue red"),
            (1, "green blue blue cyan"),
            (2, "red cyan cyan magenta"),
        ],
        "doc_id long, text string",
    )
    kw = dict(depth=3, width=4)
    full = {
        (r["r"], r["c"]): r["counter"]
        for r in corpus.countmin_sketch(docs, **kw).collect()
    }
    a = corpus.countmin_sketch(docs.where(F.col("doc_id") <= 0), **kw)
    bdf = corpus.countmin_sketch(docs.where(F.col("doc_id") > 0), **kw)
    merged = {}
    for r in a.unionByName(bdf).collect():
        merged[(r["r"], r["c"])] = merged.get((r["r"], r["c"]), 0) + r["counter"]
    assert merged == full


def test_countmin_param_validation(spark):
    import pytest

    from convml_data_spark.operators import corpus

    docs = spark.createDataFrame([(0, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        corpus.countmin_sketch(docs, depth=0)
    with pytest.raises(ValueError):
        corpus.countmin_heavy_hitters(docs, min_frac=0.0)
    with pytest.raises(ValueError):
        corpus.countmin_heavy_hitters(docs, min_frac=1.5)


# ---------------------------------------------------------------- bm25


def test_bm25_matches_python_reference(spark):
    """Hand-check the full BM25 formula (Lucene idf) on a 4-doc corpus
    against an independent python computation at round(6)."""
    import math

    from convml_data_spark.operators import corpus

    texts = {
        0: "spark shuffle spark join",
        1: "spark map reduce filter",
        2: "window agg sort merge window",
        3: "totally unrelated words here",
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    terms = ["spark", "window"]
    got = {
        r["doc_id"]: (r["n_matched_terms"], r["score"])
        for r in corpus.bm25_topk(docs, terms, k=10).collect()
    }

    k1, b = 1.2, 0.75
    toks = {d: t.split() for d, t in texts.items()}
    N = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / N
    exp = {}
    for d, t in toks.items():
        s, nm = 0.0, 0
        for q in terms:
            tf = t.count(q)
            if not tf:
                continue
            nm += 1
            df = sum(1 for tt in toks.values() if q in tt)
            idf = math.log(1.0 + (N - df + 0.5) / (df + 0.5))
            s += idf * tf * (k1 + 1.0) / (tf + k1 * (1 - b + b * len(t) / avgdl))
        if nm:
            exp[d] = (nm, round(s, 6))
    assert set(got) == set(exp)
    for d in exp:
        assert got[d][0] == exp[d][0]
        assert abs(got[d][1] - exp[d][1]) < 2e-6
    # doc 3 matches nothing and must be absent
    assert 3 not in got


def test_bm25_topk_cut_and_validation(spark):
    import pytest

    from convml_data_spark.operators import corpus

    docs = spark.createDataFrame(
        [(i, "common term") for i in range(30)], "doc_id long, text string"
    )
    out = corpus.bm25_topk(docs, ["term"], k=5).collect()
    assert len(out) == 5
    # identical scores -> deterministic id tiebreak
    assert [r["doc_id"] for r in out] == [0, 1, 2, 3, 4]
    with pytest.raises(ValueError):
        corpus.bm25_topk(docs, [], k=5)


# ---------------------------------------------------------------- SQ ANN


def test_sq_bounds_exact_and_codes_in_range(spark):
    from convml_data_spark.operators import similarity

    rows = [
        (0, [0.0, -1.0, 5.0]),
        (1, [1.0, 3.0, 5.0]),
        (2, [0.5, 1.0, 5.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    b = similarity.sq_bounds(emb).collect()[0]
    assert b["_mins"] == [0.0, -1.0, 5.0]
    assert b["_maxs"] == [1.0, 3.0, 5.0]
    codes = {
        r["vec_id"]: r["codes"]
        for r in similarity.sq_encode(emb, levels=255).collect()
    }
    for c in codes.values():
        assert all(0 <= x <= 255 for x in c)
    # constant dimension (index 2) encodes 0 everywhere
    assert all(c[2] == 0 for c in codes.values())
    # extremes map to the extreme codes
    assert codes[0][0] == 0 and codes[1][0] == 255
    assert codes[0][1] == 0 and codes[1][1] == 255


def test_sq_topk_exact_when_shortlist_covers_table(spark):
    """With shortlist >= n the exact rerank is exhaustive, so SQ top-k
    EQUALS the exact L2 top-k regardless of quantization error — and
    with a tight shortlist the 8-bit codes still recover the true
    neighbors on smooth data."""
    import random

    from convml_data_spark.operators import similarity

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[5][1]
    exact = [
        (r["vec_id"], r["score"])
        for r in similarity.l2_topk_batch(emb, [(0, q)], k=10).collect()
    ]
    full = similarity.sq_topk(emb, q, k=10, shortlist=200).collect()
    assert [r["vec_id"] for r in full] == [i for i, _ in exact]
    assert all(abs(r["d2"] + s) < 2e-6 for r, (_, s) in zip(full, exact))
    tight = similarity.sq_topk(emb, q, k=10, shortlist=20).collect()
    hits = len({r["vec_id"] for r in tight} & {i for i, _ in exact})
    assert hits >= 8  # 8-bit codes on [-1,1]^8: near-perfect recall


def test_sq_topk_batch_matches_single(spark):
    """Batch SQ serving returns EXACTLY the single-query results for
    every query in the batch (the *_topk_batch contract)."""
    import random

    from convml_data_spark.operators import similarity

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(150)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = [(0, rows[3][1]), (1, rows[77][1]), (2, [0.1] * 8)]
    batch = similarity.sq_topk_batch(emb, qs, k=7, shortlist=30)
    collected = batch.collect()
    # row ORDER is part of the contract: globally (qid, d2, vec_id)-sorted,
    # not partition/AQE-dependent
    keys = [(r["qid"], r["d2"], r["vec_id"]) for r in collected]
    assert keys == sorted(keys)
    got = {}
    for r in collected:
        got.setdefault(r["qid"], []).append((r["vec_id"], r["d2"], r["approx_d2"]))
    for qid, qv in qs:
        single = [
            (r["vec_id"], r["d2"], r["approx_d2"])
            for r in similarity.sq_topk(emb, qv, k=7, shortlist=30).collect()
        ]
        assert got[qid] == single, qid


def test_rrf_fuse_hand_computed(spark):
    """RRF on two 3-item lists with one shared doc — fusion scores and
    ordering checked against the formula by hand."""
    from convml_data_spark.operators import similarity

    rows = [
        ("lex", 10, 5.0), ("lex", 11, 4.0), ("lex", 12, 3.0),
        ("sem", 12, 0.9), ("sem", 20, 0.8), ("sem", 21, 0.7),
    ]
    lists = spark.createDataFrame(rows, "list_id string, id long, score double")
    got = [
        (r["id"], r["n_lists"], r["rrf_score"])
        for r in similarity.rrf_fuse(lists, k_rrf=60, topk=10).collect()
    ]
    # ranks: lex 10->1 11->2 12->3 ; sem 12->1 20->2 21->3
    exp = {
        10: (1, round(1 / 61, 6)),
        11: (1, round(1 / 62, 6)),
        12: (2, round(1 / 63 + 1 / 61, 6)),
        20: (1, round(1 / 62, 6)),
        21: (1, round(1 / 63, 6)),
    }
    assert {i: (n, s) for i, n, s in got} == exp
    # doc 12 (in both lists) must rank first; 11/20 tie resolves by id
    assert [i for i, _, _ in got] == [12, 10, 11, 20, 21]


def test_rrf_fuse_rank_from_scores_not_input_order(spark):
    """Ranks derive from (score desc, id) inside the fusion — shuffled
    input rows or partitioning cannot change the result."""
    from convml_data_spark.operators import similarity

    rows = [
        ("a", 1, 0.2), ("a", 2, 0.9), ("a", 3, 0.5),
        ("b", 3, 0.1), ("b", 1, 0.3),
    ]
    lists = spark.createDataFrame(rows, "list_id string, id long, score double")
    one = [tuple(r) for r in similarity.rrf_fuse(lists, topk=5).collect()]
    two = [
        tuple(r)
        for r in similarity.rrf_fuse(lists.repartition(7), topk=5).collect()
    ]
    assert one == two
    # list a ranks: 2,3,1 ; list b ranks: 1,3
    exp_first = 3  # 1/(60+2) + 1/(60+2) beats 2's 1/61 and 1's 1/63+1/61?
    # compute: id1 = 1/63 + 1/61 = .032264, id2 = 1/61 = .016393,
    #          id3 = 1/62 + 1/62 = .032258 -> id1 first, then id3
    assert [r[0] for r in one][:2] == [1, 3]


def _py_md5_bucket(s: str, n: int) -> int:
    """Independent python twin of corpus._md5_bucket (hashlib, not Spark)."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:13], 16) % n


def test_bloom_decontaminate_matches_python_bruteforce(spark):
    """Randomized third-implementation cross-check: a pure-python Bloom
    (hashlib md5, set arithmetic) must agree with the Spark+md5 pipeline
    on every count, including the false positives."""
    import random

    from convml_data_spark.operators import corpus

    rng = random.Random(31)
    vocab = [f"w{i}" for i in range(30)]
    mk = lambda n: " ".join(rng.choice(vocab) for _ in range(n))  # noqa: E731
    eval_rows = [(100 + i, mk(rng.randint(5, 15))) for i in range(5)]
    train_rows = [(i, mk(rng.randint(5, 25))) for i in range(20)]
    n, m, kh = 5, 64, 3
    eval_docs = spark.createDataFrame(eval_rows, "doc_id long, text string")
    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_ngrams"], r["n_bloom_hits"])
        for r in corpus.bloom_decontaminate(
            train, eval_docs, n=n, m_bits=m, k_hashes=kh
        ).collect()
    }

    def grams(text):
        t = text.lower().split()
        return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}

    bits = {
        _py_md5_bucket(f"{g}#{j}", m)
        for _, txt in eval_rows
        for g in grams(txt)
        for j in range(kh)
    }
    exp = {}
    for did, txt in train_rows:
        gs = grams(txt)
        if not gs:
            continue
        hits = sum(
            1
            for g in gs
            if all(_py_md5_bucket(f"{g}#{j}", m) in bits for j in range(kh))
        )
        exp[did] = (len(gs), hits)
    assert got == exp


def test_countmin_matches_python_bruteforce(spark):
    """Randomized cross-check of the full sketch+probe path against a
    python dict-of-counters Count-Min."""
    import random

    from convml_data_spark.operators import corpus

    rng = random.Random(17)
    vocab = [f"t{i}" for i in range(12)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30))))
        for i in range(15)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d, w = 3, 4
    got = {
        r["token"]: (r["est_count"], r["true_count"])
        for r in corpus.countmin_heavy_hitters(
            docs, depth=d, width=w, min_frac=0.0001
        ).collect()
    }
    counts = {}
    for _, txt in rows:
        for t in txt.split():
            counts[t] = counts.get(t, 0) + 1
    cells = {}
    for t, c in counts.items():
        for r in range(d):
            key = (r, _py_md5_bucket(f"{t}#{r}", w))
            cells[key] = cells.get(key, 0) + c
    exp = {
        t: (
            min(cells[(r, _py_md5_bucket(f"{t}#{r}", w))] for r in range(d)),
            c,
        )
        for t, c in counts.items()
    }
    assert got == exp


def test_bm25_matches_python_on_random_corpus(spark):
    """Randomized corpus (40 docs) BM25 cross-check at round(6)."""
    import math
    import random

    from convml_data_spark.operators import corpus

    rng = random.Random(5)
    vocab = [f"v{i}" for i in range(25)] + ["query", "terms"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 40))))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    terms = ["query", "terms", "v3"]
    got = {
        r["doc_id"]: r["score"]
        for r in corpus.bm25_topk(docs, terms, k=100).collect()
    }
    toks = {d: t.split() for d, t in rows}
    N = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / N
    k1, b = 1.2, 0.75
    for d, t in toks.items():
        s, any_hit = 0.0, False
        for q in terms:
            tf = t.count(q)
            if not tf:
                continue
            any_hit = True
            df = sum(1 for tt in toks.values() if q in tt)
            idf = math.log(1.0 + (N - df + 0.5) / (df + 0.5))
            s += idf * tf * (k1 + 1.0) / (tf + k1 * (1 - b + b * len(t) / avgdl))
        if any_hit:
            assert d in got and abs(got[d] - round(s, 6)) < 2e-6, d
        else:
            assert d not in got


def test_sq_matches_numpy_quantizer(spark):
    """Randomized cross-check: codes and asymmetric distances against a
    numpy reimplementation of the SQ8 quantizer."""
    import random

    import numpy as np

    from convml_data_spark.operators import similarity

    rng = random.Random(23)
    X = np.array(
        [[rng.uniform(-2, 2) for _ in range(6)] for _ in range(60)],
        dtype=np.float32,
    )
    emb = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    levels = 255
    mn = X.astype(np.float64).min(axis=0)
    mx = X.astype(np.float64).max(axis=0)
    codes_np = np.floor(
        (X.astype(np.float64) - mn) / (mx - mn) * levels + 0.5
    ).astype(int)
    got_codes = {
        r["vec_id"]: list(r["codes"])
        for r in similarity.sq_encode(emb, levels=levels).collect()
    }
    for i in range(len(X)):
        assert got_codes[i] == list(codes_np[i]), i
    q = X[7].astype(np.float64)
    deq = mn + codes_np * (mx - mn) / levels
    approx = ((q - deq) ** 2).sum(axis=1)
    exact = ((q - X.astype(np.float64)) ** 2).sum(axis=1)
    order = sorted(range(len(X)), key=lambda i: (round(exact[i], 6), i))[:5]
    got = similarity.sq_topk(
        emb, [float(v) for v in X[7]], k=5, shortlist=60, levels=levels
    ).collect()
    assert [r["vec_id"] for r in got] == order
    for r in got:
        assert abs(r["approx_d2"] - round(approx[r["vec_id"]], 6)) < 2e-6
        assert abs(r["d2"] - round(exact[r["vec_id"]], 6)) < 2e-6


def test_mixture_temperature_matches_python_and_limits(spark):
    """share^alpha weights cross-checked in python; alpha=1 reproduces
    natural proportions; alpha=0 is uniform."""
    from convml_data_spark.operators import corpus

    rows = [
        (0, "a " * 80, "big"), (1, "b " * 20, "big"),
        (2, "c " * 10, "small"), (3, "d " * 40, "mid"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    toks = {"big": 100, "small": 10, "mid": 40}
    tot = sum(toks.values())
    for alpha in (0.3, 1.0, 0.0):
        got = {
            r["source"]: (r["n_tokens"], r["target_frac"], r["rate"])
            for r in corpus.mixture_temperature_rates(
                docs, alpha=alpha, token_budget=60
            ).collect()
        }
        pw = {s: (t / tot) ** alpha for s, t in toks.items()}
        s = sum(pw.values())
        for src, t in toks.items():
            tf = pw[src] / s
            rate = min(1.0, 60 * tf / t)
            assert got[src][0] == t
            assert abs(got[src][1] - round(tf, 6)) < 2e-6, (alpha, src)
            assert abs(got[src][2] - round(rate, 6)) < 2e-6, (alpha, src)
    # alpha=0: uniform target fractions
    got0 = {
        r["source"]: r["target_frac"]
        for r in corpus.mixture_temperature_rates(docs, alpha=0.0).collect()
    }
    assert all(abs(v - round(1 / 3, 6)) < 2e-6 for v in got0.values())
    import pytest

    with pytest.raises(ValueError):
        corpus.mixture_temperature_rates(docs, alpha=-0.1)


def test_mixture_temperature_zero_token_sources_excluded(spark):
    """A zero-token source must not absorb target mass: with alpha=0 a
    naive pow(0/T, 0)=1 weight would deflate every real source's
    target_frac while the empty source's own rate stays 0 (lost mass).
    Empty sources emit target_frac=rate=0 and the real sources'
    fractions sum to 1; an all-empty corpus yields all zeros, not NULL."""
    from convml_data_spark.operators import corpus

    rows = [
        (0, "a " * 30, "real_a"), (1, "b " * 10, "real_b"),
        (2, "", "empty"), (3, None, "empty2"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    for alpha in (0.0, 0.3, 1.0):
        got = {
            r["source"]: (r["target_frac"], r["rate"])
            for r in corpus.mixture_temperature_rates(
                docs, alpha=alpha, token_budget=20
            ).collect()
        }
        assert got["empty"] == (0.0, 0.0) and got["empty2"] == (0.0, 0.0)
        assert abs(got["real_a"][0] + got["real_b"][0] - 1.0) < 2e-6, alpha
    # all-empty corpus: zero fractions/rates everywhere, no NULLs
    empty = spark.createDataFrame(
        [(0, "", "s1"), (1, None, "s2")], "doc_id long, text string, source string"
    )
    rows0 = corpus.mixture_temperature_rates(empty, alpha=0.3).collect()
    assert {(r["target_frac"], r["rate"]) for r in rows0} == {(0.0, 0.0)}


def test_rrf_fuse_single_list_and_empty(spark):
    """One list: fusion reduces to a monotone transform of its ranking
    (ordering preserved); empty input: empty output, stable schema."""
    from convml_data_spark.operators import similarity

    one = spark.createDataFrame(
        [("l", 5, 0.9), ("l", 9, 0.7), ("l", 2, 0.8)],
        "list_id string, id long, score double",
    )
    got = [r["id"] for r in similarity.rrf_fuse(one, topk=10).collect()]
    assert got == [5, 2, 9]  # score order, not insertion order
    empty = one.where(F.col("id") < 0)
    out = similarity.rrf_fuse(empty, topk=10)
    assert out.count() == 0
    assert out.columns == ["id", "n_lists", "rrf_score"]


def test_semantic_decontaminate_flags_planted_near_dup(spark):
    """A train vector planted as a near-copy of an eval vector is
    flagged (same LSH bucket by construction at tiny perturbation);
    an orthogonal vector is not. Scores cross-checked in numpy."""
    import numpy as np

    from convml_data_spark.operators import similarity

    rng = np.random.default_rng(3)
    ev = rng.normal(size=8).astype(np.float32)
    near = (ev + rng.normal(scale=0.01, size=8).astype(np.float32))
    # orthogonalize a random vector against ev
    other = rng.normal(size=8).astype(np.float32)
    other = other - (other @ ev) / (ev @ ev) * ev
    eval_df = spark.createDataFrame(
        [(100, [float(v) for v in ev])], "vec_id long, embedding array<float>"
    )
    train_df = spark.createDataFrame(
        [(0, [float(v) for v in near]), (1, [float(v) for v in other])],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: (r["n_eval_matches"], r["best_score"])
        for r in similarity.semantic_decontaminate(
            train_df, eval_df, threshold=0.9, n_planes=4, dim=8
        ).collect()
    }
    assert 0 in got and got[0][0] == 1
    cos = float(near @ ev / (np.linalg.norm(near) * np.linalg.norm(ev)))
    assert abs(got[0][1] - round(cos, 6)) < 2e-6
    assert 1 not in got  # orthogonal: cosine ~0, below any threshold


# ---------------------------------------------------------------------------
# relational_kmeans (deterministic Lloyd) + kmeans-blocked SemDeDup


def _kmeans_python(pts: dict, k: int, rounds: int, seed: int):
    """Plain-Python replica of clustering.relational_kmeans on exact
    Fractions (the decimal arithmetic is exact, so Fractions reproduce it;
    the mean round(·, 6) is re-applied on the Fraction as Python round of
    the double — same IEEE value off rounding ties)."""
    import hashlib
    from fractions import Fraction as Fr

    def quant(v):
        return [Fr(round(float(x), 6)).limit_denominator(10**7) for x in v]

    def uni(i):
        h = hashlib.md5(f"{seed}|{i}".encode()).hexdigest()[:13]
        return int(h, 16) / 2.0**52

    q = {i: quant(v) for i, v in pts.items()}
    order = sorted(q, key=lambda i: (uni(i), i))
    cents = [q[i] for i in order[:k]]

    def assign():
        lab = {}
        for i, v in q.items():
            d2 = [sum((a - b) * (a - b) for a, b in zip(v, c)) for c in cents]
            lab[i] = min(range(len(cents)), key=lambda j: (d2[j], j))
        return lab

    for _ in range(rounds):
        lab = assign()
        for j in range(len(cents)):
            mem = [q[i] for i in q if lab[i] == j]
            if mem:
                cents[j] = [
                    Fr(round(float(sum(col)) / len(mem), 6)).limit_denominator(10**7)
                    for col in zip(*mem)
                ]
    return assign()


def test_relational_kmeans_matches_python_replica(spark):
    from convml_data_spark.operators.clustering import relational_kmeans

    rng = np.random.default_rng(7)
    pts = {i: [float(v) for v in rng.normal(0, 2, 4)] for i in range(60)}
    df = spark.createDataFrame(
        [(i, v) for i, v in pts.items()], "vec_id long, embedding array<double>"
    )
    got = {
        r["vec_id"]: r["cluster"]
        for r in relational_kmeans(df, k=4, rounds=2, seed=11, out_col="cluster").collect()
    }
    assert got == _kmeans_python(pts, k=4, rounds=2, seed=11)


def test_relational_kmeans_partitioning_independent(spark):
    from convml_data_spark.operators.clustering import relational_kmeans

    rng = np.random.default_rng(3)
    rows = [(i, [float(v) for v in rng.normal(0, 1, 8)]) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(
        (r["vec_id"], r["cluster"])
        for r in relational_kmeans(df, k=5, rounds=2).collect()
    )
    b = sorted(
        (r["vec_id"], r["cluster"])
        for r in relational_kmeans(df.repartition(13), k=5, rounds=2).collect()
    )
    assert a == b


def test_relational_kmeans_separated_clusters_and_empty_cluster(spark):
    from convml_data_spark.operators.clustering import relational_kmeans

    # two tight, far-apart blobs: any 1-round fit must split them cleanly
    rows = [(i, [0.0 + i * 0.001, 0.0]) for i in range(10)] + [
        (100 + i, [50.0 + i * 0.001, 50.0]) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    lab = {
        r["vec_id"]: r["cluster"]
        for r in relational_kmeans(df, k=2, rounds=1).collect()
    }
    lo = {lab[i] for i in range(10)}
    hi = {lab[100 + i] for i in range(10)}
    assert len(lo) == 1 and len(hi) == 1 and lo != hi
    # k > distinct points: emptied clusters keep their seed centroid, no crash
    tiny = spark.createDataFrame(rows[:3], "vec_id long, embedding array<double>")
    out = relational_kmeans(tiny, k=8, rounds=2).collect()
    assert len(out) == 3


def test_semantic_dedup_kmeans_closure_and_survivorship(spark):
    """Every dropped row must be ≥-threshold cosine-reachable (within the
    kmeans blocks) from its group's surviving min-id — the SemDeDup
    contract, checked against a Python brute force over the same blocks."""
    from convml_data_spark.operators import similarity
    from convml_data_spark.operators.clustering import relational_kmeans

    rng = np.random.default_rng(5)
    base = rng.normal(0, 1, (12, 6))
    rows = []
    for i in range(12):
        rows.append((i, [float(v) for v in base[i]]))
        rows.append((100 + i, [float(v) for v in base[i] * 1.001]))  # near-dup
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    survivors = {
        r["vec_id"]
        for r in similarity.semantic_dedup(
            df, threshold=0.9, cluster="kmeans", kmeans_k=3, kmeans_rounds=1
        ).collect()
    }
    lab = {
        r["vec_id"]: r["cluster"]
        for r in relational_kmeans(df, k=3, rounds=1).collect()
    }
    # Python brute force: within-block cosine graph -> components -> min ids
    vec = dict(rows)

    def cos(a, b):
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return round(sum(x * y for x, y in zip(a, b)) / (na * nb), 6)

    ids = sorted(vec)
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in ids:
        for j in ids:
            if i < j and lab[i] == lab[j] and cos(vec[i], vec[j]) >= 0.9:
                parent[find(j)] = find(i)
    comps = {}
    for i in ids:
        comps.setdefault(find(i), set()).add(i)
    expect = {min(c) for c in comps.values()}
    assert survivors == expect


# ---------------------------------------------------------------------------
# langid_classifier (hashed multiclass language ID)


def test_langid_classifier_agrees_with_stopword_heuristic(spark):
    """On synthetic docs dominated by one language's lexicon, the hashed
    classifier and the stopword-ratio heuristic must pick the same
    language wherever the heuristic is CONFIDENT (strictly more hits for
    its winner than any runner-up)."""
    from convml_data_spark.functions import text as T
    from convml_data_spark.operators.corpus import (
        langid_classifier,
        langid_lexicon_weights,
    )

    rows = [
        (0, "the cat sat of the mat and it is a thing to see in it"),
        (1, "der hund ist nicht ein tier und das ist zu sagen"),
        (2, "le chat est dans la maison et les oiseaux est un une"),
        (3, "el gato es un animal y los perros que es una cosa en casa"),
        (4, "zzz qqq www unrelated tokens only"),  # zero-hit -> priority 'en'
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    w = langid_lexicon_weights(spark)
    got = {
        r["doc_id"]: r["lang_pred"] for r in langid_classifier(df, w).collect()
    }
    heur = {
        r["doc_id"]: r["g"]
        for r in df.select("doc_id", T.lang_guess(F.col("text")).alias("g")).collect()
    }
    assert got == {0: "en", 1: "de", 2: "fr", 3: "es", 4: "en"}
    assert all(got[i] == heur[i] for i in range(4))


def test_langid_classifier_margin_and_zero_hit_docs(spark):
    from convml_data_spark.operators.corpus import (
        langid_classifier,
        langid_lexicon_weights,
    )

    # tok0/tok1 verified to hash into buckets NO lexicon word occupies
    # (prediction for hit-free docs is the priority fallback; arbitrary
    # unknown words may collide into an occupied bucket by design)
    df = spark.createDataFrame(
        [(0, "der die das"), (1, "tok0 tok1"), (2, "   ")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in langid_classifier(df, langid_lexicon_weights(spark)).collect()}
    # 3 tokens, every one a 'de' lexicon hit with weight 1 -> margin 1.0
    assert out[0]["lang_pred"] == "de" and out[0]["margin"] == 1.0
    # zero-hit doc: priority fallback, margin 0
    assert out[1]["lang_pred"] == "en" and out[1]["margin"] == 0.0
    # empty doc emits no row (quality_classifier contract)
    assert 2 not in out


# ---------------------------------------------------------------------------
# URL/host dedup (canonical_url + dedup_url)


def test_canonical_url_edge_cases(spark):
    from convml_data_spark.operators.dedup import canonical_url

    cases = [
        ("https://www.Example.COM/a/b/?q=1#f", "example.com/a/b"),
        ("HTTP://user:pw@example.com:443/a", "example.com/a"),
        ("http://example.com:80", "example.com"),
        ("example.com/path/", "example.com/path"),  # schemeless
        ("https://example.com///", "example.com"),
        ("ftp://Files.example.com/X", "files.example.com/X"),  # path case kept
        ("  https://example.com/a  ", "example.com/a"),  # trimmed
        ("https://example.com:8080/a", "example.com:8080/a"),  # non-default port kept
        ("https://example.com/a?x=1&y=2", "example.com/a"),
        ("https://example.com/#frag", "example.com"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)], "i long, url string")
    got = {r["i"]: r["c"] for r in df.select("i", canonical_url(F.col("url")).alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, f"case {i}: {cases[i][0]!r} -> {got[i]!r}, want {want!r}"


def test_dedup_url_min_id_survivor_and_host_cap(spark):
    from convml_data_spark.operators.dedup import dedup_url

    rows = [
        (5, "https://www.a.com/x"),
        (3, "http://A.com/x/"),      # same canonical as 5 -> 3 survives
        (9, "https://a.com/x?utm=1"),  # same canonical -> dropped
        (7, "https://b.com/y"),
        (8, "https://b.com/z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["doc_id"]: (r["canonical_url"], r["host"]) for r in dedup_url(df).collect()}
    assert set(out) == {3, 7, 8}
    assert out[3] == ("a.com/x", "a.com")
    # per-host cap: b.com capped to 1 keeps exactly one of {7, 8}
    capped = [r["doc_id"] for r in dedup_url(df, max_per_host=1).collect()]
    assert len(capped) == 2 and 3 in capped and len({7, 8} & set(capped)) == 1


# ---------------------------------------------------------------------------
# C4 heuristic page cleaning


def test_c4_line_filters_rules(spark):
    from convml_data_spark.operators.corpus import c4_line_filters

    good = "one two three four five.\nsix seven eight nine ten!\na b c d e f?"
    rows = [
        (0, good),                                        # 3 kept -> passed
        (1, good + "\nno terminal punctuation here"),     # extra line dropped
        (2, good + "\nenable javascript to view this."),  # js line dropped
        (3, good.replace("!", "")),                       # 2 kept -> fails min_sentences
        (4, good + "\nlorem ipsum dolor."),               # page rule
        (5, good + "\nvar f = { x: 1 };"),                # brace page rule
        (6, "too few.\nwords here."),                     # short lines dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in c4_line_filters(df).collect()}
    assert [out[i]["passed"] for i in range(7)] == [
        True, True, True, False, False, False, False
    ]
    assert out[0]["n_lines"] == 3 and out[0]["n_kept"] == 3
    assert out[1]["n_lines"] == 4 and out[1]["n_kept"] == 3
    assert out[2]["n_kept"] == 3  # javascript line filtered despite punct
    assert out[0]["clean_chars"] == len(good)
    assert out[4]["clean_chars"] == 0 and out[4]["passed"] is False
    assert out[6]["n_kept"] == 0


# ---------------------------------------------------------------------------
# Winnowing fingerprints / hard negatives / containment


def test_winnow_select_rightmost_min_rule(spark):
    from convml_data_spark.functions.text import winnow_select

    df = spark.createDataFrame([(1, [5, 3, 3, 7, 2, 9])], "id int, hs array<long>")
    out = df.select(winnow_select(F.col("hs"), w=3).alias("fps")).collect()[0]["fps"]
    # windows [5,3,3]->pos2 (rightmost tie), [3,3,7]->pos2, [3,7,2]->pos4,
    # [7,2,9]->pos4; distinct -> {(2,3),(4,2)}
    assert [(r["pos"], r["fp"]) for r in out] == [(2, 3), (4, 2)]
    # shorter than w -> no windows -> empty
    short = spark.createDataFrame([(1, [5, 3])], "id int, hs array<long>")
    assert short.select(winnow_select(F.col("hs"), w=3).alias("f")).collect()[0]["f"] == []


def test_winnow_fingerprints_local_match_guarantee(spark):
    """Schleimer guarantee: substring matches of length >= w + k - 1 share
    at least one selected fingerprint."""
    from convml_data_spark.operators import dedup

    shared = "abcdefghijklmnopq"  # 17 chars >= w + k - 1 = 11
    rows = [
        (0, "xxxx" + shared + "yyyyyyy"),
        (1, "zzzzzzzzz" + shared + "qqqq"),
        (2, "totally unrelated text with no overlap at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = dedup.winnow_fingerprints(df, k=8, w=4)
    sets = {
        r["doc_id"]: r["s"]
        for r in fps.groupBy("doc_id").agg(F.collect_set("fp").alias("s")).collect()
    }
    assert set(sets[0]) & set(sets[1])
    assert not (set(sets[0]) & set(sets[2]))


def test_hard_negative_mining_band_stop(spark):
    from convml_data_spark.operators import similarity

    rng = np.random.default_rng(11)
    base = [float(v) for v in rng.normal(0, 1, 8)]
    rows = [(0, base)]
    rows.append((1, [v * 1.0001 for v in base]))  # near-duplicate of 0
    for i in range(2, 30):
        v = rng.normal(0, 1, 8)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.hard_negative_mining(
        df, n_anchors=30, k=3, dup_threshold=0.99
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["qid"], []).append((r["vec_id"], r["score"]))
    # anchor 0's near-duplicate 1 is band-stopped out of its negatives
    assert all(v != 1 for v, _ in by_q[0])
    assert all(s < 0.99 for v, s in by_q[0])
    # scores sorted hardest-first and self excluded
    for q, lst in by_q.items():
        assert all(v != q for v, _ in lst)
        assert [s for _, s in lst] == sorted((s for _, s in lst), reverse=True)


def test_containment_pairs_directed_quote_detection(spark):
    """A short doc quoted inside a much larger one: containment flags the
    (quote -> host) direction even though Jaccard is far below any usable
    threshold (the MinHash/Jaccard blind spot this operator exists for)."""
    from convml_data_spark.operators import dedup

    quote = "the quick brown fox jumps over the lazy dog tonight"
    filler = " ".join(f"filler{i} word{i} extra{i}" for i in range(40))
    rows = [
        (0, quote),
        (1, filler + " " + quote + " " + filler.replace("filler", "pad")),
        (2, "entirely different content with nothing shared at all okay"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.containment_pairs(df, threshold=0.8).collect()
    }
    spark.catalog.clearCache()
    assert (0, 1) in out and out[(0, 1)] >= 0.99  # quote fully contained
    assert (1, 0) not in out                      # host not contained in quote
    assert not any(2 in p for p in out)
    # and the symmetric-Jaccard path would have missed it at 0.5
    jac = dedup.jaccard_dedup_prefix(df, threshold=0.5).collect()
    spark.catalog.clearCache()
    assert not any({r["id_a"], r["id_b"]} == {0, 1} for r in jac)


def test_langid_classifier_unknown_lang_sorts_last_on_ties(spark):
    """A lang present in weights but absent from the priority list must
    LOSE margin ties to priority langs (review finding: array_position's
    0-for-miss would otherwise outrank everything)."""
    from convml_data_spark.operators.corpus import (
        _md5_bucket_py,
        langid_classifier,
    )

    b = _md5_bucket_py("tok0", 1024)  # tok0 hashes to an unoccupied bucket
    w = spark.createDataFrame(
        [(b, "xx", 1.0), (b, "en", 1.0)], "bucket long, lang string, weight double"
    )
    docs = spark.createDataFrame([(0, "tok0 tok0")], "doc_id long, text string")
    out = langid_classifier(docs, w).collect()[0]
    assert out["lang_pred"] == "en"  # exact tie -> priority lang wins


def test_winnow_density_approximates_two_over_w_plus_one(spark):
    """Schleimer et al. 2003 Thm: random hashes select an expected
    2/(w+1) fraction of positions. md5 k-gram hashes over random text
    should land near that density (loose band — it is an expectation)."""
    from convml_data_spark.operators import dedup

    rng = np.random.default_rng(13)
    rows = [
        (i, "".join(rng.choice(list("abcdefghijklmnop"), 400)))
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    w = 7
    n_pos = 400 - 8 + 1  # k-gram count per doc
    fps = dedup.winnow_fingerprints(df, k=8, w=w).groupBy("doc_id").count().collect()
    density = sum(r["count"] for r in fps) / (len(rows) * n_pos)
    assert 0.6 * 2 / (w + 1) < density < 1.5 * 2 / (w + 1), density


def test_containment_pairs_matches_brute_force_randomized(spark):
    from convml_data_spark.operators import dedup

    rng = np.random.default_rng(23)
    vocab = [f"w{i}" for i in range(30)]
    texts = [
        " ".join(rng.choice(vocab, rng.integers(5, 40)))
        for _ in range(25)
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.containment_pairs(df, threshold=0.4).collect()
    }
    spark.catalog.clearCache()

    def sh(t):
        ws = t.lower().split()
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    shs = {i: sh(t) for i, t in enumerate(texts)}
    exp = {}
    for a in shs:
        for b in shs:
            if a != b and shs[a]:
                c = len(shs[a] & shs[b]) / len(shs[a])
                if c >= 0.4:
                    exp[(a, b)] = round(c, 6)
    assert got == exp


def test_containment_pairs_hot_shingle_cap(spark):
    """max_df (hot-shingle ceiling): below the cap the pair set is
    EXACTLY the uncapped one; a tiny cap yields a subset (candidates
    whose only shared prefix token is hot are the documented loss)."""
    from convml_data_spark.operators import dedup

    rng = np.random.default_rng(47)
    vocab = [f"w{i}" for i in range(6)]  # tiny vocab -> hot shingles
    texts = [
        " ".join(rng.choice(vocab, rng.integers(5, 12))) for _ in range(30)
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")

    def pairs(**kw):
        out = {
            (r["id_a"], r["id_b"]): r["containment"]
            for r in dedup.containment_pairs(df, threshold=0.4, **kw).collect()
        }
        spark.catalog.clearCache()
        return out

    exact = pairs()
    assert exact, "generator should produce overlapping docs"
    # cap far above any df in a 30-doc corpus: pair-set EQUALITY
    assert pairs(max_df=10_000) == exact
    # tiny cap: strict subset semantics (never invents pairs, and every
    # surviving pair carries the identical exact containment value)
    capped = pairs(max_df=3)
    assert set(capped) <= set(exact)
    assert all(capped[p] == exact[p] for p in capped)


def test_containment_pairs_integer_prefix_keeps_boundary_pair(spark):
    """Double-rounding regression (r13 ADVICE): at t = 0.07, n = 100,
    float ceil(t*n) = 8 (0.07*100 -> 7.000000000000001) which would
    shorten the prefix to 93 and lose a pair whose only df>=2 prefix
    token sits at exactly rank 94; integer arithmetic keeps it."""
    import math

    from convml_data_spark.operators import dedup

    # the hazard precondition this test exists for
    assert math.ceil(0.07 * 100) == 8

    # doc A: 102 distinct words -> 100 distinct trigram shingles, 93 of
    # them df=1 (rarity ranks 1..93); the 7 shingles over w93..w101 are
    # shared with doc B (df=2, ranks 94..100). |A∩B|/|A| = 7/100 = t.
    a_words = [f"w{i:03d}" for i in range(102)]
    b_fill = [f"b{i:03d}" for i in range(40)]
    rows = [
        (0, " ".join(a_words)),
        (1, " ".join(b_fill + a_words[93:])),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.containment_pairs(df, threshold=0.07).collect()
    }
    spark.catalog.clearCache()
    assert (0, 1) in got and got[(0, 1)] == 0.07
    # B -> A holds too (7 shared / 47 B-shingles >= 0.07): both emerge
    # from the one candidate join
    assert (1, 0) in got


def test_hard_negatives_matches_numpy_brute_force(spark):
    from convml_data_spark.operators import similarity
    from convml_data_spark.operators.sampling import hash_uniform  # noqa: F401
    import hashlib

    rng = np.random.default_rng(31)
    vecs = {i: rng.normal(0, 1, 6) for i in range(40)}
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    got = sorted(
        (r["qid"], r["vec_id"], r["score"])
        for r in similarity.hard_negative_mining(
            df, n_anchors=5, k=4, dup_threshold=0.9, seed=42
        ).collect()
    )

    def uni(i):
        return int(hashlib.md5(f"42|{i}".encode()).hexdigest()[:13], 16) / 2.0**52

    anchors = sorted(vecs, key=lambda i: (uni(i), i))[:5]
    exp = []
    for q in anchors:
        cands = []
        for i, v in vecs.items():
            if i == q:
                continue
            s = round(
                float(np.dot(vecs[q], v))
                / (np.linalg.norm(vecs[q]) * np.linalg.norm(v)),
                6,
            )
            if s < 0.9:
                cands.append((i, s))
        cands.sort(key=lambda t: (-t[1], t[0]))
        exp.extend((q, i, s) for i, s in cands[:4])
    assert got == sorted(exp)


# ---------------------------------------------------------------------------
# round 14: blocklist scan + calibrated langid


def test_blocklist_scan_counts_and_row_per_doc(spark):
    """Crafted corpus: unigram + bigram terms, overlapping occurrences,
    a zero-hit doc, an empty doc and a NULL-text doc — every input doc
    keeps its row; counts are occurrence-exact."""
    from convml_data_spark.operators import corpus

    rows = [
        (0, "bad apple bad apple tree"),       # 'bad apple' x2, 'tree' x1
        (1, "nothing to see here"),            # zero hits
        (2, "tree tree bad apple"),            # 'tree' x2, 'bad apple' x1
        (3, ""),                               # empty -> 0 tokens
        (4, None),                             # NULL -> 0 tokens
        (5, "BAD APPLE Tree"),                 # case-insensitive
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # 'bad  apple' (double space) and padded ' tree ' exercise term
    # normalization: the join key must be the space-joined token form
    bl = spark.createDataFrame(
        [("bad  apple",), (" tree ",), ("missing-term",)], "term string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_hits"], r["n_terms"], r["blocked"])
        for r in corpus.blocklist_scan(docs, bl, min_hits=2).collect()
    }
    assert set(got) == {0, 1, 2, 3, 4, 5}
    assert got[0] == (5, 3, 2, True)
    assert got[1] == (4, 0, 0, False)
    assert got[2] == (4, 3, 2, True)
    assert got[3] == (0, 0, 0, False)
    assert got[4] == (0, 0, 0, False)
    assert got[5] == (3, 2, 2, True)   # lowercased on both sides


def test_blocklist_scan_matches_brute_force_randomized(spark):
    from convml_data_spark.operators import corpus

    rng = np.random.default_rng(71)
    vocab = [f"w{i}" for i in range(8)]
    texts = [" ".join(rng.choice(vocab, rng.integers(3, 25))) for _ in range(40)]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    terms = ["w0", "w3 w4", "w1 w1 w2", "zz"]
    bl = spark.createDataFrame([(t,) for t in terms], "term string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_hits"], r["n_terms"], r["blocked"])
        for r in corpus.blocklist_scan(docs, bl, min_hits=1).collect()
    }

    def expected(t):
        ws = t.split()
        hits, hit_terms = 0, set()
        for term in terms:
            tw = term.split()
            c = sum(
                1
                for i in range(len(ws) - len(tw) + 1)
                if ws[i : i + len(tw)] == tw
            )
            if c:
                hits += c
                hit_terms.add(term)
        return (len(ws), hits, len(hit_terms), hits >= 1)

    assert got == {i: expected(t) for i, t in enumerate(texts)}


def test_langid_calibrated_buckets_and_agreement(spark):
    """The calibration head's arithmetic cross-checked in Python: tercile
    buckets from the margin distribution, per-bucket agreement with
    lang_guess on the doc_id % 5 holdout, every scored doc stamped."""
    import math

    from convml_data_spark.operators import corpus

    rng = np.random.default_rng(83)
    langs = {
        "en": "the a of and to in is it",
        "de": "der die das und ist nicht ein zu",
        "fr": "le la les et est un une dans",
        "es": "el los y es un una en que",
    }
    rows = []
    for i in range(60):
        lang = ["en", "de", "fr", "es"][i % 4]
        base = langs[lang].split()
        noise = [f"x{rng.integers(0, 50)}" for _ in range(int(rng.integers(0, 12)))]
        words = list(rng.permutation(base + noise))
        rows.append((i, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    w = corpus.langid_lexicon_weights(spark, n_buckets=1024)
    out = corpus.langid_calibrated(docs, w, holdout_mod=5, conf_threshold=0.5)
    got = {r["doc_id"]: r.asDict() for r in out.collect()}
    assert len(got) == 60

    scored = {
        r["doc_id"]: (r["lang_pred"], r["margin"])
        for r in corpus.langid_classifier(docs, w, n_buckets=1024).collect()
    }
    margins = sorted(m for _, m in scored.values())

    def cut(q):
        pos = (len(margins) - 1) * q
        lo = int(pos)
        hi = min(lo + (0 if pos == lo else 1), len(margins) - 1)
        f = pos - lo
        return margins[lo] + (margins[hi] - margins[lo]) * f if f else margins[lo]

    c1, c2 = cut(1 / 3), cut(2 / 3)

    def bucket(m):
        return "tail" if m < c1 else ("middle" if m < c2 else "head")

    from pyspark.sql import functions as F  # noqa: F401
    labels = {
        r["doc_id"]: r["g"]
        for r in docs.where("doc_id % 5 = 0")
        .select("doc_id", __import__("convml_data_spark.functions.text", fromlist=["lang_guess"]).lang_guess(docs["text"]).alias("g"))
        .collect()
    }
    agree: dict = {}
    for d, (pred, m) in scored.items():
        if d % 5 == 0:
            b = bucket(m)
            tot, ok = agree.get(b, (0, 0))
            agree[b] = (tot + 1, ok + (1 if pred == labels[d] else 0))
    for d, r in got.items():
        pred, m = scored[d]
        b = bucket(m)
        assert (r["lang_pred"], r["margin"], r["bucket"]) == (pred, m, b)
        if b in agree:
            tot, ok = agree[b]
            exp_conf = math.floor(1e6 * (ok / tot) + 0.5) / 1e6
        else:
            exp_conf = 0.0
        assert r["calib_conf"] == exp_conf
        assert r["confident"] == (exp_conf >= 0.5)


@pytest.mark.nightly  # heavy audit; driver-budget deselect (r18)
def test_minhash_lsh_recall_measured_at_sf01(spark):
    """MEASURED LSH recall certificate (r13 verdict #6): the banded
    S-curve contract says a pair at exactly the j=0.5 threshold survives
    candidate generation with probability 1-(1-t^r)^b = 0.98997 at the
    configured 32 hashes / 16 bands — but that was only ever asserted,
    never measured against exact-Jaccard ground truth at a corpus scale
    where misses could hide (the unit-scale brute-force checks cannot
    show a tail miss). Ground truth = jaccard_dedup_prefix (exact
    prefix-filtered all-pairs, its own certified oracle); measured =
    minhash_dedup's verified pair set, which is a SUBSET by construction
    (exact verify of LSH candidates). md5 hashing makes the measurement
    deterministic: 256/256 pairs at sf0.1 → recall 1.0, recorded in
    BASELINE.md. Assert both the subset property and recall >= the
    S-curve bound."""
    from convml_data_spark.operators import dedup
    from convml_data_spark import tables

    docs = tables.load_table(spark, "/root/testdata/sf0.1", "documents")
    exact = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in dedup.jaccard_dedup_prefix(docs, threshold=0.5).collect()
    }
    spark.catalog.clearCache()
    mh = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in dedup.minhash_dedup(
            docs, threshold=0.5, num_hashes=32, bands=16
        ).collect()
    }
    spark.catalog.clearCache()
    assert exact, "ground truth must be non-empty for a meaningful recall"
    assert mh <= exact  # exact verify of candidates can never invent a pair
    recall = len(mh & exact) / len(exact)
    bound = 1 - (1 - 0.5 ** 2) ** 16
    assert recall >= bound, (len(mh), len(exact), recall, bound)


def test_ivf_recall_measured_at_sf01(spark):
    """MEASURED IVF recall certificate (r14 verdict #3, modeled on the
    MinHash certificate above): the registered similarity_ivf_topk key
    certifies recall >= 0.4 by a structural bound only — this measures
    recall@10 against the exact cosine scan at sf0.1 over the same 5
    probe vectors and the same (n_lists=8, n_probes=3,
    fit_fraction=0.25) configuration, and pins the measured value:
    40/50 = 0.80 (verified identical under local[16] and local[32] —
    the seeded sample + seeded KMeans quantizer is
    parallelism-independent on this data). Recorded in BASELINE.md. If
    a legitimate quantizer change moves the number, re-measure and
    re-pin BOTH places."""
    from pyspark.sql import functions as F

    from convml_data_spark import tables
    from convml_data_spark.operators import similarity

    emb = tables.load_table(spark, "/root/testdata/sf0.1", "embeddings")
    qrows = emb.where(F.col("vec_id") < 5).select(
        "vec_id", "embedding"
    ).collect()
    queries = [
        (int(r["vec_id"]), [float(v) for v in r["embedding"]])
        for r in qrows
    ]
    exact = {
        (r["qid"], r["vec_id"])
        for r in similarity.cosine_topk_batch(emb, queries, k=10)
        .select("qid", "vec_id").collect()
    }
    approx = {
        (r["qid"], r["vec_id"])
        for r in similarity.ivf_topk_batch(
            emb, queries, k=10, n_lists=8, n_probes=3, fit_fraction=0.25
        ).select("qid", "vec_id").collect()
    }
    assert len(exact) == 50
    assert len(exact & approx) == 40, (
        f"measured IVF recall moved: {len(exact & approx)}/50 "
        f"(pinned 40/50 = 0.80 at r15)"
    )


def test_lsh_topk_recall_measured_at_sf01(spark):
    """MEASURED LSH-bucketed top-k recall certificate (completes the
    set: every approximate-retrieval key now carries a measured sf0.1
    number next to its structural bound): recall@10 of the 6-plane /
    hamming-2-multiprobe bucketed scan against the exact cosine scan
    over the registered key's 5 probe vectors at sf0.1:
    30/50 = 0.60 (the key's own bound is 0.4; md5-seeded planes make
    the bucketing deterministic — verified identical across repeated
    runs and under local[16]/local[32]). Recorded in BASELINE.md;
    re-pin on any legitimate plane-family change."""
    from pyspark.sql import functions as F

    from convml_data_spark import tables
    from convml_data_spark.operators import similarity

    emb = tables.load_table(spark, "/root/testdata/sf0.1", "embeddings")
    qrows = emb.where(F.col("vec_id") < 5).select(
        "vec_id", "embedding"
    ).collect()
    queries = [
        (int(r["vec_id"]), [float(v) for v in r["embedding"]])
        for r in qrows
    ]
    exact = {
        (r["qid"], r["vec_id"])
        for r in similarity.cosine_topk_batch(emb, queries, k=10)
        .select("qid", "vec_id").collect()
    }
    approx = {
        (r["qid"], r["vec_id"])
        for r in similarity.lsh_bucketed_topk_batch(
            emb, queries, k=10, n_planes=6, multiprobe_hamming=2
        ).select("qid", "vec_id").collect()
    }
    assert len(exact) == 50
    assert len(exact & approx) == 30, (
        f"measured LSH recall moved: {len(exact & approx)}/50 "
        f"(pinned 30/50 = 0.60 at r15)"
    )


def test_pq_recall_measured_at_sf01(spark):
    """MEASURED PQ recall certificate (r14 verdict #3): recall@10 of the
    m=8/n_codes=16/shortlist=100 PQ rerank path against the exact L2
    scan at sf0.1 over the 5 probe vectors: 33/50 = 0.66 (the synthetic
    near-random embeddings are PQ's hardest case; verified identical
    under local[16] and local[32]). Recorded in BASELINE.md; re-pin on
    any legitimate codebook change."""
    from pyspark.sql import functions as F

    from convml_data_spark import tables
    from convml_data_spark.operators import similarity

    emb = tables.load_table(spark, "/root/testdata/sf0.1", "embeddings")
    qrows = emb.where(F.col("vec_id") < 5).select(
        "vec_id", "embedding"
    ).collect()
    queries = [
        (int(r["vec_id"]), [float(v) for v in r["embedding"]])
        for r in qrows
    ]
    exact = {
        (r["qid"], r["vec_id"])
        for r in similarity.l2_topk_batch(emb, queries, k=10)
        .select("qid", "vec_id").collect()
    }
    approx = {
        (r["qid"], r["vec_id"])
        for r in similarity.pq_rerank_topk_batch(
            emb, queries, k=10, shortlist=100, m=8, n_codes=16
        ).select("qid", "vec_id").collect()
    }
    assert len(exact) == 50
    assert len(exact & approx) == 33, (
        f"measured PQ recall moved: {len(exact & approx)}/50 "
        f"(pinned 33/50 = 0.66 at r15)"
    )


def test_lsh_neardup_pairs_banded_recall_matches_collision_curve(spark):
    """MEASURED banded-recall certificate for the LSH pair path
    (similarity.lsh_neardup_pairs, 6 planes, same-bucket only) against
    brute-force all-pairs cosine ground truth at sf0.1 — an empirical
    validation of the hyperplane-LSH collision curve
    p(cos θ) = (1 − θ/π)^6 on this data, and honest documentation of
    where that curve sits on NEAR-ORTHOGONAL vectors: at the 0.35
    threshold band recall is ~6% (186/3217 measured vs 0.0581 theory at
    the band midpoint — a 0.5% relative gap on 3217 pairs), because the
    single-bucket design targets true near-duplicates (cos → 1 ⇒
    recall → 1), not threshold-grazing pairs; the multiprobe/banded
    variants are the recall knobs. Also pins the no-false-positive
    property (LSH candidates are exact-verified ⇒ strict subset of
    ground truth). All values deterministic (md5-seeded planes,
    verified across repeated runs)."""
    from pyspark.sql import functions as F

    from convml_data_spark import tables
    from convml_data_spark.operators import similarity

    emb = tables.load_table(
        spark, "/root/testdata/sf0.1", "embeddings"
    ).select("vec_id", "embedding")
    a = emb.select(
        F.col("vec_id").alias("ia"),
        F.col("embedding").alias("ea"),
        F.sqrt(
            F.aggregate(
                F.transform("embedding", lambda x: x * x),
                F.lit(0.0),
                lambda s, x: s + x,
            )
        ).alias("na"),
    )
    b = a.select(
        F.col("ia").alias("ib"),
        F.col("ea").alias("eb"),
        F.col("na").alias("nb"),
    )
    exact = (
        a.crossJoin(b)
        .where(F.col("ia") < F.col("ib"))
        .withColumn(
            "dot",
            F.aggregate(
                F.zip_with("ea", "eb", lambda x, y: x * y),
                F.lit(0.0),
                lambda s, x: s + x,
            ),
        )
        .withColumn("cos", F.col("dot") / (F.col("na") * F.col("nb")))
        .where(F.col("cos") >= 0.35)
        .select("ia", "ib", "cos")
    )
    ex = {(r["ia"], r["ib"]): r["cos"] for r in exact.collect()}
    lsh = {
        (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
        for r in similarity.lsh_neardup_pairs(
            emb, threshold=0.35, n_planes=6, dim=64
        ).collect()
    }
    assert lsh <= set(ex)  # exact verify can never invent a pair
    assert len(ex) == 4137 and len(lsh) == 252
    bands = {
        (0.35, 0.40): (186, 3217),
        (0.40, 0.45): (57, 776),
        (0.45, 0.55): (9, 142),
        (0.55, 1.01): (0, 2),
    }
    for (lo, hi), (want_hit, want_tot) in bands.items():
        tot = [p for p, c in ex.items() if lo <= c < hi]
        hit = [p for p in tot if p in lsh]
        assert (len(hit), len(tot)) == (want_hit, want_tot), (
            lo, hi, len(hit), len(tot),
        )


def test_langid_calibrated_empty_holdout_defaults_to_zero_conf(spark):
    """When no doc id hits the holdout modulus, the calibration relation
    is empty: every doc must still emit a row with calib_conf 0.0 and
    confident False (the LEFT-join + coalesce contract), never be
    dropped or NULL."""
    from convml_data_spark.operators import corpus

    rows = [(i, "the a of and to") for i in range(1, 6)]  # no id % 7 == 0
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    w = corpus.langid_lexicon_weights(spark, n_buckets=1024)
    got = corpus.langid_calibrated(docs, w, holdout_mod=7).collect()
    assert len(got) == 5
    assert all(r["calib_conf"] == 0.0 and r["confident"] is False for r in got)
    assert all(r["bucket"] in ("head", "middle", "tail") for r in got)


def test_jaccard_prefix_integer_arithmetic_keeps_boundary_pair(spark):
    """Symmetric twin of the containment boundary test, catching TWO
    float hazards at once. A has 100 shingles, B = A's last 9 words (7
    shingles, all shared) -> J = 7/(100+7-7) = 0.07 = t exactly.
    (1) Prefix: A's shared shingles are its only df>=2 tokens, at ranks
    94..100; the exact prefix is 94 (keeping rank 94, the sole shared
    candidate token on A's side) while float ceil(0.07*100) = 8 would
    cut it at 93 and the symmetric join (a pair needs a shared token in
    BOTH prefixes) loses the pair. (2) Size ratio: min >= t*max reads
    7 >= 7.000000000000001 and drops the pair at the verify stage; the
    integer q*min >= p*max keeps it."""
    import math

    from convml_data_spark.operators import dedup

    assert math.ceil(0.07 * 100) == 8  # the hazard precondition

    a_words = [f"w{i:03d}" for i in range(102)]
    rows = [
        (0, " ".join(a_words)),
        (1, " ".join(a_words[93:])),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        tuple(sorted((r["id_a"], r["id_b"]))): r["jaccard"]
        for r in dedup.jaccard_dedup_prefix(df, threshold=0.07).collect()
    }
    spark.catalog.clearCache()
    assert got == {(0, 1): 0.07}


@pytest.mark.parametrize("t", [0.07, 0.15, 0.3, 0.333333, 0.66])
def test_jaccard_and_containment_brute_force_across_thresholds(spark, t):
    """Threshold sweep for the r14 integer-arithmetic fixes: the prefix
    length and size-ratio filters must match an unfiltered Python brute
    force at awkward rationals (0.07 and 0.3 are the float-product
    hazards; 0.333333 exercises a long decimal; 0.15/0.66 land t*n on
    or adjacent to integers for many n in the corpus)."""
    from convml_data_spark.operators import dedup

    rng = np.random.default_rng(59)
    vocab = [f"w{i}" for i in range(10)]
    texts = [" ".join(rng.choice(vocab, rng.integers(4, 30))) for _ in range(30)]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")

    def sh(txt):
        ws = txt.lower().split()
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    shs = {i: sh(x) for i, x in enumerate(texts)}

    got_j = {
        tuple(sorted((r["id_a"], r["id_b"]))): r["jaccard"]
        for r in dedup.jaccard_dedup_prefix(df, threshold=t).collect()
    }
    spark.catalog.clearCache()
    exp_j = {}
    for a in shs:
        for b in shs:
            if a < b and (shs[a] or shs[b]):
                i = len(shs[a] & shs[b])
                u = len(shs[a] | shs[b])
                if u and i / u >= t:  # same IEEE compare as the engine
                    exp_j[(a, b)] = round(i / u, 6)
    assert got_j == exp_j, (t, len(got_j), len(exp_j))

    got_c = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.containment_pairs(df, threshold=t).collect()
    }
    spark.catalog.clearCache()
    exp_c = {}
    for a in shs:
        for b in shs:
            if a != b and shs[a]:
                c = len(shs[a] & shs[b]) / len(shs[a])
                if c >= t:
                    exp_c[(a, b)] = round(c, 6)
    assert got_c == exp_c, (t, len(got_c), len(exp_c))


def test_checksum_mod_sum_matches_decimal_form_and_bigint_math(spark):
    """checksum_mod_sum (hi/lo-split long partial sums) must equal both
    the former DECIMAL(38,0) accumulate-then-pmod form and exact Python
    bigint math, across term magnitudes up to its documented 2^62 range,
    including groups whose raw sum overflows BIGINT (the overflow class
    the decimal form was introduced for) and all-NULL groups (-> NULL)."""
    import random

    from pyspark.sql import functions as F

    from convml_data_spark.operators.dedup import _MERSENNE_P, checksum_mod_sum

    rng = random.Random(7)
    rows = []
    expected = {}
    for g in range(20):
        n = rng.randrange(1, 40)
        mag = rng.choice([2**10, 2**31, 2**52, 2**61, 2**62 - 1])
        terms = [rng.randrange(0, mag) for _ in range(n)]
        # a couple of NULL terms mixed in (skipped by SUM in both forms)
        nulls = rng.randrange(0, 3)
        rows += [(g, t) for t in terms] + [(g, None)] * nulls
        expected[g] = sum(terms) % _MERSENNE_P
    # an all-NULL group yields NULL
    rows += [(99, None), (99, None)]
    expected[99] = None

    df = spark.createDataFrame(rows, "g int, term long")
    got_long = {
        r["g"]: r["ck"]
        for r in df.groupBy("g").agg(checksum_mod_sum(F.col("term")).alias("ck")).collect()
    }
    got_dec = {
        r["g"]: r["ck"]
        for r in df.groupBy("g")
        .agg(
            F.pmod(
                F.sum(F.col("term").cast("decimal(38,0)")),
                F.lit(_MERSENNE_P).cast("decimal(38,0)"),
            )
            .cast("long")
            .alias("ck")
        )
        .collect()
    }
    assert got_long == expected
    assert got_dec == expected


def test_mulmod_mersenne_long_matches_python_bigint(spark):
    """_mulmod_mersenne_long (variable x variable limb mulmod) must equal
    exact Python bigint (x*y) % p across the full documented input range
    [0, 2^61), including both operands at the boundary p-1 (where every
    limb is saturated) and the zero/identity elements."""
    import random

    from pyspark.sql import functions as F

    from convml_data_spark.operators.dedup import (
        _MERSENNE_P,
        _mulmod_mersenne_long,
    )

    rng = random.Random(13)
    pairs = [(0, 0), (1, _MERSENNE_P - 1), (_MERSENNE_P - 1, _MERSENNE_P - 1)]
    for _ in range(400):
        mag_x = rng.choice([2**8, 2**31, 2**40, 2**52, _MERSENNE_P])
        mag_y = rng.choice([2**8, 2**31, 2**40, 2**52, _MERSENNE_P])
        pairs.append((rng.randrange(0, mag_x), rng.randrange(0, mag_y)))
    df = spark.createDataFrame(pairs, "x long, y long")
    got = {
        (r["x"], r["y"]): r["m"]
        for r in df.select(
            "x", "y", _mulmod_mersenne_long(F.col("x"), F.col("y")).alias("m")
        ).collect()
    }
    for x, y in pairs:
        assert got[(x, y)] == (x * y) % _MERSENNE_P, (x, y)
