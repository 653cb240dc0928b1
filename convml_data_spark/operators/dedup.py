"""Deduplication operators for LLM-training-data pipelines (north-star
extension; BASELINE.json). Exact, blocked-Jaccard, MinHash-LSH and SimHash
variants over a ``documents(doc_id, text, ...)`` table.

Scale design:
- exact dedup is one hash-groupBy (map-side partial agg on md5);
- blocked Jaccard explodes shingles and self-joins only *within a block*
  (here (lang, source)) — the classic blocking strategy that bounds the
  candidate-pair blowup;
- MinHash-LSH computes k hashes per shingle with explicit affine hash
  functions (deterministic cluster-wide — same motivation as the
  reference's seed bugfix, CHANGELOG.md #19), bands them, and equi-joins on
  (band, band_hash) buckets: candidate generation is a hash join, never a
  cross product. Verification re-checks exact Jaccard on candidates only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import kgram_hashes, ngrams_from_tokens, tokens, winnow_select

# Affine minhash parameters: h_i(x) = (a_i * x + b_i) mod p over a 61-bit
# Mersenne prime; a/b fixed (seeded) so signatures are reproducible across
# partitionings and cluster sizes.
_MERSENNE_P = (1 << 61) - 1


def _hash_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE_P), rng.randrange(0, _MERSENNE_P)) for _ in range(k)]


def _shingle_hash64(col):
    """Deterministic 60-bit integer hash of a shingle string via md5
    (engine-agnostic — DuckDB can reproduce it, unlike xxhash64)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _spread(docs: DataFrame, id_col: str) -> DataFrame:
    """Repartition before expression-heavy fan-out.

    Document corpora often arrive as few large files; Spark's scan
    parallelism follows file splits, so a single small parquet file would
    put ALL tokenization on one task. Hash-repartitioning on the id column
    decouples CPU parallelism from file layout — the difference between one
    core and the whole cluster shingling at 100 TB.
    """
    from ..session import exclude_generate_filter_inference

    # every _spread caller explodes an expression-built array next; without
    # this, InferFiltersFromGenerate + pushdown re-evaluates the whole
    # shingling expression serially in the scan stage (see session.py)
    exclude_generate_filter_inference(docs.sparkSession)
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    return docs.repartition(parallelism, id_col)


def _shingles(docs: DataFrame, text_col: str, id_col: str, ngram: int, extra_cols: list[str]):
    """(extra..., id, sh ARRAY<STRING>) with the token array materialized
    once per row (tokenizing inside the n-gram lambda is quadratic)."""
    return (
        _spread(docs, id_col)
        .select(
            *extra_cols,
            F.col(id_col).alias("id"),
            tokens(F.lower(F.col(text_col))).alias("_toks"),
        )
        .select(
            *extra_cols,
            "id",
            F.array_distinct(ngrams_from_tokens(F.col("_toks"), ngram)).alias("sh"),
        )
    )


def _hashed_shingle_sets(
    docs: DataFrame, text_col: str, id_col: str, ngram: int
) -> DataFrame:
    """``(id, sh ARRAY<LONG>)``: the distinct shingle set mapped through
    the 60-bit md5 shingle hash — the engine-wide shingle identity
    convention (:func:`minhash_signatures` and every LSH path already
    compute on these, and the DuckDB twin replays them exactly via
    ``CAST('0x'||substr(md5(s),1,15) AS BIGINT)``).

    Exists for the prefix-filter joins (guide §2.3/§3 narrow-types
    class): token identity, document frequency, the rarity-first global
    order, candidate join keys and the verify intersections all run in
    LONG space instead of shuffling/sorting/comparing 3-word STRING
    shingles — the join payload shrinks to 8 bytes/token and the
    verify's array_intersect compares longs. ``array_distinct`` after
    the hash keeps the relation a SET in both engines even under a
    (≈ n²/2^61-probability) collision, so engine and oracle stay in
    lockstep unconditionally."""
    sh = _shingles(docs, text_col, id_col, ngram, [])
    return sh.select(
        "id", F.array_distinct(F.transform("sh", _shingle_hash64)).alias("sh")
    )


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group by md5(text); emit groups with >1 doc, keeping the
    min id as canonical. Returns (text_hash, canonical_id, n_dupes)."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("n_dupes"))
        .where(F.col("n_dupes") > 1)
    )


def _size_ratio_ok(size_a, size_b, threshold: float):
    """EXACT size-ratio necessary condition for J ≥ t (J ≤ min/max, so
    q·min ≥ p·max with t = p/q read as the exact rational of its
    decimal form). The multiplicative float form ``min >= t*max`` can
    round UP across an integer (0.07*100 → 7.000000000000001) and drop
    a boundary pair the exact verify — and the prefix-free oracle —
    would keep; the integer comparison cannot."""
    from fractions import Fraction

    fr = Fraction(str(threshold))
    return F.lit(int(fr.denominator)) * F.least(size_a, size_b) >= F.lit(
        int(fr.numerator)
    ) * F.greatest(size_a, size_b)


def jaccard_dedup_blocked(
    docs: DataFrame,
    block_cols: list[str],
    threshold: float = 0.5,
    ngram: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs within blocks by exact word-n-gram Jaccard.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    The shingle self-join runs per block; distinct-shingle sets are
    pre-aggregated so |pairs| cost is ∝ shared shingles within a block.

    BLOCKS MUST BE BOUNDED: within a block this is all-pairs by design
    (the exact-verification member of the dedup family), so a
    low-cardinality ``block_cols`` makes the largest block O(B²). If no
    natural bounded blocking key exists, use
    :func:`minhash_lsh_candidates` / :func:`jaccard_dedup_prefix` —
    their banded/prefix candidate generation is the 100 TB route.
    """
    sh = _shingles(docs, text_col, id_col, ngram, block_cols)
    a = sh.select(*block_cols, F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(*block_cols, F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    jac = (
        a.join(b, on=list(block_cols))
        .where(F.col("id_a") < F.col("id_b"))
        # necessary size condition for J >= t: |A| >= t(|A|+|B|)/(1+t) ⇒
        # min/max size ratio >= t — an O(1) filter that skips the O(|A|+|B|)
        # array_intersect for most pairs
        .where(_size_ratio_ok(F.size("sh_a"), F.size("sh_b"), threshold))
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return jac


def jaccard_dedup_prefix(
    docs: DataFrame,
    threshold: float = 0.5,
    ngram: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT all-pairs Jaccard ≥ t via prefix filtering (PPJoin-style),
    no blocking columns needed.

    Under a global shingle order (rarity-first: ascending document
    frequency, then shingle), any pair with J ≥ t must share a token inside
    each side's prefix of length ``n − ⌈t·n⌉ + 1`` — so the candidate join
    is an inverted-index join on PREFIX tokens only. Rarity-first ordering
    makes prefixes mostly rare tokens, keeping each inverted list short:
    the shuffle is ∝ Σ prefix lengths, not ∝ |docs|², which is what makes
    exact all-pairs feasible at corpus scale. Candidates are verified with
    the exact set intersection (plus the O(1) size-ratio filter).

    Returns (id_a, id_b, jaccard) — identical semantics to a full O(n²)
    scan, so this IS oracle-checkable.

    Caveat: shingles are compared as 60-bit md5 hashes
    (:func:`_hashed_shingle_sets`), so two distinct shingles collide with
    probability ≈ n²/2⁶¹ over n distinct shingles, and a collision can
    inflate a pair's intersection. The DuckDB oracle hashes in lockstep,
    so it cannot detect one.
    """
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    # the shingle relation feeds the plan 4× (inverted index, size lookup,
    # and both verify-join sides) and the prefix relation 2× (candidate
    # self-join) — persist both so tokenization + the df-count/window
    # pipeline run once, not per reference. MEMORY_AND_DISK spills at
    # corpus scale; lifecycle follows the engine convention (tiler.py:99):
    # the returned DataFrame pins the persisted relations, callers drop
    # them with spark.catalog.clearCache() when the result is consumed.
    # r18: shingle identity is the 60-bit md5 hash (_hashed_shingle_sets)
    # — every downstream shuffle/sort/join/intersect moves longs, not
    # 3-word strings; the oracle twin hashes in lockstep.
    from fractions import Fraction

    sh = _hashed_shingle_sets(docs, text_col, id_col, ngram).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    ex = sh.select("id", F.explode("sh").alias("shingle"))
    df_counts = ex.groupBy("shingle").agg(F.count("*").alias("_df"))
    w = Window.partitionBy("id").orderBy("_df", "shingle")
    # prefix length in INTEGER arithmetic (t read as the exact rational
    # of its decimal representation): _rn <= n - ceil(t*n) + 1
    # <=> p*n <= q*(n - _rn + 1). A float ceil(t*n) can round UP across
    # an integer when t*n is adjacent to one (e.g. 0.07*100 ->
    # 7.000000000000001 -> 8), silently shortening the prefix and
    # dropping a boundary pair — the containment_pairs fix, applied to
    # the symmetric filter too.
    frac = Fraction(str(threshold))
    p_num, q_den = frac.numerator, frac.denominator
    pre = (
        ex.join(df_counts, "shingle")
        .withColumn("_rn", F.row_number().over(w))
        .join(sh.select("id", F.size("sh").alias("_n")), "id")
        .where(
            F.lit(int(p_num)) * F.col("_n")
            <= F.lit(int(q_den)) * (F.col("_n") - F.col("_rn") + F.lit(1))
        )
        # a candidate pair must SHARE a prefix token, and a shared token has
        # document frequency ≥ 2 — df=1 prefix tokens can't produce a pair,
        # so dropping them shrinks the inverted-index join without losing
        # any candidate (big win when most shingles are unique)
        .where(F.col("_df") >= 2)
        .select("id", "shingle")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cands = (
        pre.select(F.col("id").alias("id_a"), "shingle")
        .join(pre.select(F.col("id").alias("id_b"), "shingle"), "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    pairs = (
        cands.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .where(_size_ratio_ok(F.size("sh_a"), F.size("sh_b"), threshold))
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return pairs


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 32,
    ngram: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """MinHash signatures: (id, sig ARRAY<LONG>[num_hashes]).

    Signature values are min over shingles of affine hashes of the 60-bit
    shingle hash — fully deterministic, partitioning-independent.
    """
    sh = _shingles(docs, text_col, id_col, ngram, [])
    return _minhash_signatures_from_shingles(sh, num_hashes=num_hashes, seed=seed)


_MASK31 = (1 << 31) - 1
_MASK30 = (1 << 30) - 1


def _affine_mersenne_long(x, ai: int, bi: int):
    """Exact ``(ai*x + bi) mod p`` for ``p = 2^61-1`` in pure 64-bit LONG
    arithmetic — value-identical to the former DECIMAL(38,0) form but
    ~7x cheaper per evaluation (BigDecimal multiply/mod vs a dozen long
    ops; the signature aggregation runs this num_hashes times per
    shingle, so it dominated minhash cost).

    Splitting both operands at bit 31 keeps every intermediate < 2^63
    (``x < 2^61``, ``ai, bi < p``): with ``a = a1*2^31 + a0`` and
    ``x = x1*2^31 + x0``,

        a*x = a1*x1*2^62 + (a1*x0 + a0*x1)*2^31 + a0*x0

    and mod the Mersenne prime ``2^61 ≡ 1`` so ``2^62 ≡ 2``; the middle
    term re-splits at bit 30 (``mid = m1*2^30 + m0`` gives
    ``mid*2^31 = m1*2^61 + m0*2^31 ≡ m1 + m0*2^31``) and the low term
    folds as ``low ≡ (low >> 61) + (low & p)``. Bounds: a1,x1 < 2^30,
    a0,x0 < 2^31 ⇒ 2*a1*x1 < 2^61, mid < 2^62, m1 < 2^32,
    m0*2^31 < 2^61, low < 2^62 — every sum below stays under 2^63.
    """
    p = F.lit(_MERSENNE_P)
    a1, a0 = ai >> 31, ai & _MASK31
    x1 = F.shiftright(x, 31)
    x0 = x.bitwiseAND(F.lit(_MASK31))
    t1 = F.pmod(F.lit(2 * a1) * x1, p)
    mid = F.lit(a1) * x0 + F.lit(a0) * x1
    t2 = F.shiftright(mid, 30) + mid.bitwiseAND(F.lit(_MASK30)) * F.lit(1 << 31)
    low = F.lit(a0) * x0
    t3 = F.shiftright(low, 61) + low.bitwiseAND(p)
    return F.pmod(F.pmod(t1 + t3, p) + F.pmod(t2 + F.lit(bi), p), p)


def _affine_mersenne_sql(x: str, ai: int, bi: int) -> str:
    """SQL-text twin of :func:`_affine_mersenne_long` over a column/lambda
    variable reference ``x`` — same limb algebra, same bounds, same exact
    value (pinned by ``test_minhash_single_parse_sql_matches_column_form``).

    Exists for DRIVER-side cost (guide §5, the r17 k-means lesson): the
    Column builder pushes ~20 py4j round-trips per hash through the
    gateway, so 32 hashes cost ~650 blocking socket round-trips PER
    CONSTRUCTION (~1-2 s of pure driver latency on the bench host,
    re-paid every time a pipeline builds the signature stage). One
    ``F.expr`` parse is a single round-trip; the parsed tree duplicates
    the ``mid``/``low`` sub-terms textually exactly as the Column form
    duplicated their subtrees (Column reuse embeds copies — Catalyst
    expressions are trees, not DAGs), so per-row work is unchanged."""
    p = _MERSENNE_P
    a1, a0 = ai >> 31, ai & _MASK31
    x1 = f"shiftright({x}, 31)"
    x0 = f"({x} & {_MASK31}L)"
    t1 = f"pmod({2 * a1}L * {x1}, {p}L)"
    mid = f"({a1}L * {x0} + {a0}L * {x1})"
    t2 = f"(shiftright({mid}, 30) + ({mid} & {_MASK30}L) * {1 << 31}L)"
    low = f"({a0}L * {x0})"
    t3 = f"(shiftright({low}, 61) + ({low} & {p}L))"
    return f"pmod(pmod({t1} + {t3}, {p}L) + pmod({t2} + {bi}L, {p}L), {p}L)"


def _mulmod_mersenne_long(x, y):
    """Exact ``(x*y) mod p`` for ``p = 2^61-1`` with BOTH operands as
    Columns — :func:`_affine_mersenne_long`'s limb algebra with the
    constant's Python-int limbs replaced by Column limbs. The bound
    analysis is unchanged because it only uses ``operand < 2^61``:
    x1,y1 < 2^30 ⇒ 2*x1*y1 < 2^61; mid = x1*y0 + x0*y1 < 2^62;
    low = x0*y0 < 2^62 — every intermediate stays under 2^63.

    Preconditions: ``0 <= x, y < 2^61`` (callers pmod first when a raw
    value could exceed that)."""
    p = F.lit(_MERSENNE_P)
    x1 = F.shiftright(x, 31)
    x0 = x.bitwiseAND(F.lit(_MASK31))
    y1 = F.shiftright(y, 31)
    y0 = y.bitwiseAND(F.lit(_MASK31))
    t1 = F.pmod(F.lit(2) * x1 * y1, p)
    mid = x1 * y0 + x0 * y1
    t2 = F.shiftright(mid, 30) + mid.bitwiseAND(F.lit(_MASK30)) * F.lit(1 << 31)
    low = x0 * y0
    t3 = F.shiftright(low, 61) + low.bitwiseAND(p)
    return F.pmod(F.pmod(t1 + t3, p) + F.pmod(t2, p), p)


def checksum_mod_sum(term) -> "F.Column":
    """Aggregate expression: exact ``SUM(term) mod (2^61-1)`` in pure
    64-bit long arithmetic — the cheap twin of accumulating the sum in
    DECIMAL(38,0) and folding with ``pmod`` (value-identical where both
    are in range; the decimal form paid a BigDecimal allocation + add per
    ROW, this pays a shift/mask/two long partial sums).

    Split each term at bit 31: ``Σterm = (Σhi)·2^31 + Σlo`` exactly, so
    ``Σterm mod p = ((Σhi mod p)·2^31 + Σlo) mod p`` with the constant
    multiply folded by :func:`_affine_mersenne_long`.

    Preconditions (callers document their own bounds): ``0 <= term <
    2^62`` and at most ``2^31`` non-NULL rows per group, which keeps both
    partial long sums under 2^62 (``hi < 2^31``, ``lo < 2^31``). Beyond
    that an ANSI session RAISES on the long sum rather than wrapping —
    never a silent wrong answer — where the decimal form kept going to
    10^38. NULL terms are skipped by both forms; an all-NULL group
    yields NULL (every piece of the reassembly propagates the NULL sum).
    """
    p = F.lit(_MERSENNE_P)
    shi = F.pmod(F.sum(F.shiftright(term, 31)), p)
    slo = F.pmod(F.sum(term.bitwiseAND(F.lit(_MASK31))), p)
    return F.pmod(_affine_mersenne_long(shi, 1 << 31, 0) + slo, p)


def _minhash_signatures_from_shingles(
    sh: DataFrame, num_hashes: int = 32, seed: int = 42
) -> DataFrame:
    """Signatures from a prebuilt ``(id, sh ARRAY<STRING>)`` relation —
    lets pipelines that also need the shingle sets (candidate
    verification) tokenize ONCE instead of per consumer."""
    params = _hash_params(num_hashes, seed)
    ex = sh.select("id", F.explode("sh").alias("shingle"))
    # md5-hash each shingle ONCE into a bound column; the per-hash affine
    # maps are exact long arithmetic (see _affine_mersenne_long — the
    # DECIMAL(38,0) form this replaces was the minhash cost center).
    # Each agg is ONE parsed F.expr (r18, guide §5 / the k-means one-parse
    # lesson): the Column builder paid ~650 py4j round-trips per
    # 32-hash construction, ~1-2 s of driver latency re-paid by every
    # composed pipeline that builds this stage.
    h = ex.select("id", _shingle_hash64(F.col("shingle")).alias("x"))
    aggs = [
        F.expr(f"min({_affine_mersenne_sql('x', ai, bi)})").alias(f"h{i}")
        for i, (ai, bi) in enumerate(params)
    ]
    sigs = h.groupBy("id").agg(*aggs)
    return sigs.select("id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))


def minhash_signatures_stateless(
    docs: DataFrame,
    num_hashes: int = 32,
    ngram: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Per-row MinHash signatures — value-identical to
    :func:`minhash_signatures` (same shingling, same decimal-exact affine
    hashes, same drop of docs shorter than ``ngram`` tokens) but computed
    entirely as array expressions with NO aggregation: ``min`` over the
    exploded shingles becomes ``array_min`` over the shingle array.

    Exists for STREAMING ingest (a stateless per-micro-batch projection —
    the explode+groupBy form is a stateful streaming agg) and for batch
    plans that want to avoid the shuffle when downstream doesn't need the
    shingle relation. Per-row cost is O(|shingles|·num_hashes) either way.
    """
    params = _hash_params(num_hashes, seed)
    grams = F.array_distinct(
        ngrams_from_tokens(tokens(F.lower(F.col(text_col))), ngram)
    )
    return (
        docs.select(F.col(id_col).alias("id"), grams.alias("_sh"))
        .where(F.size("_sh") > 0)
        # md5-hash each shingle ONCE into a bound array column — the
        # per-hash transforms below would otherwise re-run md5 per hash
        # function (num_hashes x); the affine maps are exact long
        # arithmetic (_affine_mersenne_long), value-identical to the
        # DECIMAL(38,0) form they replace. The whole 32-lambda signature
        # array is ONE parsed F.expr (r18, guide §5): the per-hash
        # Column-lambda builder pushed ~800 py4j round-trips per
        # construction through the gateway.
        .select("id", F.transform("_sh", _shingle_hash64).alias("_hx"))
        .select(
            "id",
            F.expr(
                "array("
                + ", ".join(
                    f"array_min(transform(_hx, x -> {_affine_mersenne_sql('x', ai, bi)}))"
                    for ai, bi in params
                )
                + ")"
            ).alias("sig"),
        )
    )


def minhash_lsh_candidates(
    sigs: DataFrame, num_hashes: int, bands: int = 16
) -> DataFrame:
    """Band signatures and bucket-join: (id_a, id_b) candidate pairs.

    Pick bands so the S-curve threshold ``(1/bands)^(bands/num_hashes)``
    sits WELL BELOW the dedup threshold: with 32 hashes, 16 bands (r=2)
    → ~0.25, so j≥0.5 pairs are caught w.p. ≥ 1-(1-0.25)^16 ≈ 0.99;
    8 bands (r=4) → ~0.59, which silently drops pairs near j=0.5.

    ``num_hashes`` is REQUIRED (the :func:`incremental_sig_dedup`
    contract): every composed pipeline knows its signature width, and
    the old sample-a-row fallback was a silent construction-time driver
    job — ``limit(1)`` cannot short-circuit through the upstream
    repartition + groupBy, so it re-executed the entire signature
    pipeline once just to read an array length."""
    # band b covers sig[b*r : (b+1)*r]
    if bands < 1 or bands > num_hashes:
        raise ValueError(
            f"bands must be in [1, num_hashes={num_hashes}], got {bands}"
        )
    rows_per_band = max(num_hashes // bands, 1)
    banded = sigs.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.hash(F.slice("sig", b * rows_per_band + 1, rows_per_band)).alias("bucket"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    # the self-join below references `banded` twice, and Catalyst plans a
    # full independent subtree per reference — the ENTIRE upstream
    # signature aggregation (the minhash cost center) ran twice per call.
    # One lazy materialization (narrow (id, band, bucket) rows) halves it;
    # batch-only callers here (streams go through banded_slice_keys).
    from .persist import materialize_for_reuse

    banded = materialize_for_reuse(banded)
    a = banded.withColumnRenamed("id", "id_a")
    b = banded.withColumnRenamed("id", "id_b")
    return (
        a.join(b, on=["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup(
    docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 16,
    ngram: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded candidates →
    exact-Jaccard verification of candidates only.

    Returns (id_a, id_b, jaccard) like :func:`jaccard_dedup_blocked` but
    without any blocking assumption — the LSH buckets ARE the blocks, so
    this is the 100 TB path.
    """
    from pyspark.storagelevel import StorageLevel

    # one persisted shingle relation feeds BOTH the signature build and the
    # two verification join sides — tokenization runs once, not 3×
    # (lifecycle convention as in jaccard_dedup_prefix / tiler.py:99)
    sh = _shingles(docs, text_col, id_col, ngram, []).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sigs = _minhash_signatures_from_shingles(sh, num_hashes=num_hashes)
    cands = minhash_lsh_candidates(sigs, num_hashes=num_hashes, bands=bands)
    pairs = (
        cands.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        # size-ratio necessary condition (min >= t·max ⟺ J can reach t)
        .where(_size_ratio_ok(F.size("sh_a"), F.size("sh_b"), threshold))
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return pairs


def edit_distance_neardup(
    docs: DataFrame,
    max_dist: int = 16,
    num_hashes: int = 32,
    bands: int = 16,
    ngram: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CHARACTER-level near-duplicate pairs: MinHash-LSH candidate
    generation verified by exact bounded Levenshtein distance — the
    complement to :func:`minhash_dedup`'s token-set Jaccard (edit
    distance sees small in-token edits and byte-level templating that
    shingle sets smear out). Returns ``(id_a, id_b, edit_dist)`` for
    unordered pairs with distance ≤ ``max_dist`` over the lowercased
    text.

    Recall contract (same class as the whole LSH family): candidates
    come from the banded signature join, so a qualifying pair is found
    with probability ``1 − (1 − j^r)^bands`` of its shingle Jaccard j —
    for pairs within a small edit budget j is high by construction
    (d character edits touch ≤ d shingles), e.g. j ≥ 0.8 at the
    defaults ⇒ recall ≈ 1 − 4e-8. Docs with fewer than ``ngram`` tokens
    produce no shingles and never pair.

    Scale design: candidate volume is LSH-bounded (never all-pairs); a
    cheap length-delta prefilter (``|len_a − len_b| > max_dist`` forces
    distance > ``max_dist``) discards hopeless candidates before any
    quadratic work; the surviving pairs use Spark's THRESHOLDED
    ``levenshtein`` — the banded O(len·max_dist) algorithm, not the
    full O(len²) matrix — so per-pair cost is linear in document length
    at a fixed edit budget.
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    sh = _shingles(docs, text_col, id_col, ngram, [])
    sigs = _minhash_signatures_from_shingles(sh, num_hashes=num_hashes)
    cands = minhash_lsh_candidates(sigs, num_hashes=num_hashes, bands=bands)
    texts = docs.select(
        F.col(id_col).alias("id"),
        F.lower(F.col(text_col)).alias("t"),
        F.length(F.lower(F.col(text_col))).alias("n"),
    )
    d = F.levenshtein("ta", "tb", int(max_dist))
    return (
        cands.join(
            texts.select(
                F.col("id").alias("id_a"),
                F.col("t").alias("ta"),
                F.col("n").alias("na"),
            ),
            "id_a",
        )
        .join(
            texts.select(
                F.col("id").alias("id_b"),
                F.col("t").alias("tb"),
                F.col("n").alias("nb"),
            ),
            "id_b",
        )
        .where(F.abs(F.col("na") - F.col("nb")) <= F.lit(int(max_dist)))
        .select("id_a", "id_b", d.cast("long").alias("edit_dist"))
        .where(F.col("edit_dist") >= 0)
    )


def simhash64(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash fingerprint per document from word-level features.

    Bit b of the fingerprint is 1 iff the majority of token hashes have bit
    b set. Pure JVM bit arithmetic (shiftright/bitwise-and) either way:

    - ``hash_fn="xxhash64"`` (default): 64-bit xxhash64 token hashes — the
      fastest JVM path for production fingerprinting;
    - ``hash_fn="md5_60"``: 60-bit md5-derived token hashes — bit-identical
      replayable in any engine with md5 (the DuckDB oracle path).

    Locality is the same in both (independent uniform bits per token).
    """
    n_bits = 64 if hash_fn == "xxhash64" else 60
    toks = _spread(docs, id_col).select(
        F.col(id_col).alias("id"),
        F.explode(
            # explicit ASCII whitespace class == Java \s; keeps the
            # RE2 oracle twin byte-identical on \x0B-bearing text
            F.split(F.lower(F.col(text_col)), r"[ \t\n\x0B\f\r]+")
        ).alias("tok"),
    ).where(F.col("tok") != "")
    if hash_fn == "xxhash64":
        hashed = toks.withColumn("h", F.xxhash64("tok"))
    elif hash_fn == "md5_60":
        hashed = toks.withColumn("h", _shingle_hash64(F.col("tok")))
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    bit_sums = hashed.groupBy("id").agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"b{b}")
            for b in range(n_bits)
        ],
    )
    fp = F.lit(0).cast("long")
    for b in range(n_bits):
        bit = F.when(
            F.col(f"b{b}") * 2 > F.col("n"), F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
        fp = fp.bitwiseOR(bit)
    return bit_sums.select("id", fp.alias("simhash"))


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round over a canonical (u < v) edge list: every node
    strictly larger than a center c is re-attached to m(c) = min(Γ(c) ∪
    {c}). Emitted edges (m, x) are already canonical since m ≤ c < x."""
    adj = e.select(F.col("u").alias("c"), F.col("v").alias("x")).unionAll(
        e.select(F.col("v").alias("c"), F.col("u").alias("x"))
    )
    m = (
        adj.groupBy("c")
        .agg(F.min("x").alias("_mn"))
        .select("c", F.least("c", "_mn").alias("m"))
    )
    # NO trailing distinct: for a set-valued input (p0 and every small-star
    # output are distinct), each surviving adjacency (c, x) emits exactly
    # one row, so the multiset size is ≤ |e| — duplicates only arise when
    # two centers re-attach the same x to the same m, and _small_star's
    # min-aggregation and final distinct absorb those. Dropping the dedup
    # removes one full Exchange per CC round at every scale (r17: a round
    # over 244 edges spent ~1.4 s almost entirely on AQE stage barriers).
    return (
        adj.join(m, "c")
        .where(F.col("x") > F.col("c"))
        .select(F.col("m").alias("u"), F.col("x").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: for each node c, all smaller neighbors plus c
    itself re-attach to m(c) = min of the smaller neighborhood. Since every
    x here satisfies x < c, m = min(Γ⁻(c)) and emitted edges are (m, x)
    with m ≤ x, self-loops dropped."""
    adj = e.select(F.col("v").alias("c"), F.col("u").alias("x"))  # x < c
    m = adj.groupBy("c").agg(F.min("x").alias("m"))
    return (
        adj.join(m, "c")
        .select("x", "m")
        .unionAll(m.select(F.col("c").alias("x"), F.col("m")))
        .where(F.col("x") != F.col("m"))
        .select(F.least("x", "m").alias("u"), F.greatest("x", "m").alias("v"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
    durable: bool | None = None,
) -> DataFrame:
    """Connected components over an undirected near-dup edge list:
    (id, component) with component = the minimum node id reachable.

    This is the clustering step a dedup pipeline runs after candidate-pair
    generation (minhash/LSH/cosine) to pick one canonical document per
    duplicate cluster — the reference stops at pairwise filtering, but at
    corpus scale transitive near-dup chains must collapse together.

    Algorithm: the ALTERNATING large-star/small-star algorithm (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14, Alg. 2),
    which contracts the EDGE SET toward per-component stars in O(log² n)
    rounds regardless of graph diameter. (The previous min-label
    propagation was O(diameter): a near-dup chain of length d — e.g.
    successive crawl snapshots each similar to the last — needed d rounds;
    measured 16 rounds at sf0.1 vs 4 for this formulation.)

    Scale design: edges only ever move through hash-partitioned groupBy
    (min) and equi-joins — no driver-sized state, no cross product. TWO
    alternating star rounds run per materialization (r18: each eager
    checkpoint is one job launch + one AQE barrier chain + one block
    write; fusing a large/small/large/small quartet into each
    materialized step halves that per-round fixed cost — measured
    ~0.6-1.2 s/round at sf0.1, partition-count-insensitive — while the
    shuffles inside the step are unchanged). The convergence probe is a
    four-scalar (count/sum/sum/hash-sum) ``observe()`` metric collected
    DURING the step's eager checkpoint — zero extra jobs or scans per
    step. Observation metrics are accumulator-backed, so a task retry or
    speculative duplicate can distort a step's quadruple in EITHER
    direction: a spurious mismatch only burns extra star rounds (star
    rounds are idempotent at the fixed point), but a distorted quadruple
    could in principle also coincide with the next step's and fake a
    fixed point. The accumulator probe is therefore only a TRIGGER: when
    two consecutive steps' observed quadruples match, the loop accepts
    only on an exact-job check of the FIXED-POINT PROPERTY itself —
    ``sigs(e) == sigs(small_star(large_star(e)))``, one union-of-aggs
    job over the checkpointed blocks (computing one extra in-flight star
    round), paid once per convergence, never per step. This is the same
    acceptance condition the pre-r18 consecutive-set comparison tested
    (e_k = R(e_{k-1}) equal to e_{k-1} ⟺ R at a fixed point), but stated
    directly on the current edge set, so fusing rounds needs no 2-cycle
    convergence argument: a genuine fixed point is accepted, anything
    else (including a hypothetical period-2 orbit that fools the
    trigger) fails the exact check and the loop continues. Residual
    risk after the exact check is hash-sum collision between different
    edge sets (three independent 64-bit hash sums + a count, ≈ 2^-192),
    not retry noise. A checkpoint truncates lineage each step so the
    plan does not grow with the iteration count (``durable`` picks the
    mechanism — executor-local by default, reliable on request, see
    :func:`~.persist.materialize_for_reuse`; observation metrics fire on
    both checkpoint kinds). Only nodes that appear in ``pairs`` are
    labelled (self-pairs label themselves).

    At most ``max_iters`` star rounds run. If the budget runs out before
    the exact fixed-point check passes, a ``RuntimeError`` names the
    rounds run; no labels are emitted from an unconverged edge set.
    """
    from pyspark.sql import Observation

    from .persist import materialize_for_reuse

    def _sig_exprs():
        # exact-enough fixed-point probe: star rounds never change a
        # component's membership, so an unchanged (count, Σu, Σv, Σhash)
        # quadruple across a round means the edge set is stable. Every
        # term hash-based: numeric casts of the ids would raise
        # CAST_INVALID_INPUT under ANSI for string ids (URLs, content
        # hashes — the normal id shape for text dedup) and silently go
        # NULL otherwise. Decimal sums: long sums of 64-bit hashes
        # overflow under ANSI. Self-pairs are excluded by the guard so
        # the p0 observation measures the same edge set the rounds do.
        nz = F.col("u") != F.col("v")
        return [
            F.sum(F.when(nz, 1).otherwise(0)).alias("n"),
            F.sum(F.when(nz, F.xxhash64("u")).cast("decimal(38,0)")).alias("su"),
            F.sum(F.when(nz, F.xxhash64("v")).cast("decimal(38,0)")).alias("sv"),
            F.sum(F.when(nz, F.xxhash64("u", "v")).cast("decimal(38,0)")).alias(
                "sh"
            ),
        ]

    def _sig_of(obs: Observation):
        m = obs.get
        return (m["n"], m["su"], m["sv"], m["sh"])

    # materialize the normalized pair list ONCE: both the edge set and the
    # node set derive from it, and `pairs` is typically an expensive
    # candidate-generation plan (cosine scoring, LSH verify) that must not
    # re-execute for the final node labelling. The initial signature rides
    # on the same checkpoint execution via observe().
    obs0 = Observation()
    p0 = (
        pairs.select(
            F.least(id_a, id_b).alias("u"), F.greatest(id_a, id_b).alias("v")
        )
        .distinct()
        .observe(obs0, *_sig_exprs())
    )
    p0 = materialize_for_reuse(p0, durable=durable, eager=True)
    nodes = (
        p0.select(F.col("u").alias("id"))
        .unionAll(p0.select(F.col("v").alias("id")))
        .distinct()
    )
    e = p0.where(F.col("u") != F.col("v"))

    def _exact_fixed_point(d: DataFrame) -> bool:
        # ordinary aggregation jobs (not accumulator-backed): retries
        # cannot distort them. Verifies the fixed-point property
        # R(e) = e DIRECTLY: one union-of-aggs job that computes one
        # star-round pair in flight over the checkpointed blocks — paid
        # only at the convergence trigger, never per step.
        rows = (
            d.agg(*_sig_exprs())
            .unionAll(_small_star(_large_star(d)).agg(*_sig_exprs()))
            .collect()
        )
        a, b = [tuple(r[c] for c in ("n", "su", "sv", "sh")) for r in rows]
        return a == b

    sig = _sig_of(obs0)
    # Empty edge set (no pairs, or self-pairs only): zero star rounds are
    # needed, and the loop's MID-PLAN observation below would never fire
    # (AQE's runtime empty-relation propagation drops the inner
    # CollectMetrics stage once a shuffle reports 0 rows — root-level
    # observations survive, mid-plan ones do not). The n==0/NULL
    # accumulator reading is only the TRIGGER; the skip is accepted on an
    # exact isEmpty() probe, so a retry-distorted observation can cost
    # one tiny job, never a wrong answer.
    converged = not sig[0] and e.isEmpty()
    rounds = 0
    while not converged and rounds < max_iters:
        obs_out = Observation()
        # two alternating star rounds per materialized step — ONE
        # eager-checkpoint action per round PAIR instead of one per
        # round. The inner round goes through a LAZY checkpoint: a
        # star round references its input ~4 times (two adj
        # projections, each feeding the min-agg and the re-attach
        # join), and Catalyst plans a full subtree per reference, so
        # naive composition re-executes the inner round ~4x inside
        # the outer plan (measured 2x slower end-to-end). The lazy
        # block fills exactly once INSIDE the outer step's eager
        # action, keeping: one action per two rounds, every round's
        # shuffles executed once, lineage truncated at both levels.
        # (An inner observe() is impossible here — metrics never
        # fire on lazily-checkpointed plans — so the trigger is
        # cross-step: the quadruple two rounds apart. Detection lags
        # one step behind the r17 per-round trigger at worst, and
        # the extra rounds run over the already-contracted star set.)
        # An odd budget's last step runs its single remaining round.
        fused = max_iters - rounds >= 2
        step = _small_star(_large_star(e))
        if fused:
            inner = materialize_for_reuse(step, durable=durable)
            step = _small_star(_large_star(inner))
        rounds += 2 if fused else 1
        e = materialize_for_reuse(
            step.observe(obs_out, *_sig_exprs()), durable=durable, eager=True
        )
        new_sig = _sig_of(obs_out)
        # accumulator match is only the trigger — accept only on an
        # EXACT-job verification of the fixed-point property, so a
        # retry-distorted observation can never end the loop early
        # (and a trigger that is NOT a fixed point — the hypothetical
        # 2-cycle — can never be accepted)
        converged = new_sig == sig and _exact_fixed_point(e)
        sig = new_sig
    # budget exit: the trigger may simply not have fired yet, so check the
    # fixed point once; labels read off an unconverged edge set would
    # silently split components
    if not converged and not _exact_fixed_point(e):
        raise RuntimeError(
            f"connected_components did not converge in {rounds} star rounds "
            f"(max_iters={max_iters})"
        )
    # at the fixed point every component is a star centered at its minimum:
    # component(x) = min(neighbors ∪ {x}); unpaired/self-pair nodes keep
    # their own id via the left join
    adj = e.select(F.col("u").alias("id"), F.col("v").alias("nbr")).unionAll(
        e.select(F.col("v").alias("id"), F.col("u").alias("nbr"))
    )
    comp = adj.groupBy("id").agg(F.min("nbr").alias("_mn"))
    return nodes.join(comp, "id", "left").select(
        "id", F.least("id", F.coalesce("_mn", F.col("id"))).alias("component")
    )


def canonical_survivors(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    durable: bool | None = None,
) -> DataFrame:
    """The user-facing dedup collapse: given the full id set and the
    near-dup pair list (from any candidate generator — minhash-LSH,
    cosine, prefix-filter), keep exactly one canonical row per duplicate
    cluster (the minimum id) plus every row in no pair.

    Composition: :func:`connected_components` labels each paired node
    with its cluster minimum; non-canonical members (``id != component``)
    are removed with a left-anti join. Both steps are hash-partitioned
    joins — no driver state, no cross product. ``durable`` threads through
    to the CC rounds' per-iteration materialization.
    """
    comp = connected_components(pairs, id_a=id_a, id_b=id_b, durable=durable)
    drop = comp.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return ids.join(drop, id_col, "left_anti")


def banded_slice_keys(
    sigs: DataFrame,
    bands: int,
    num_hashes: int,
    id_col: str = "id",
    out_id: str = "id",
) -> DataFrame:
    """Explode a ``(id, sig ARRAY<LONG>)`` relation into one row per LSH
    band with the band's SLICE VALUES as the bucket key (a string of the
    ``num_hashes/bands`` components) — unlike the engine-hash bucket of
    :func:`minhash_lsh_candidates`, slice-value keys are replayable in
    any engine and equality on them IS full-band equality. Stateless
    (pure explode/projection), so it also runs on a streaming DataFrame.

    Requires ``1 <= bands <= num_hashes``: a band whose slice starts past
    the signature is EMPTY, its bucket key collapses to ``''`` for every
    row, and the downstream (band, bucket) equi-join degenerates toward a
    cross join over the whole relation — a silent quadratic blow-up, so
    it is rejected here instead.
    """
    if bands < 1:
        raise ValueError(f"bands must be >= 1, got {bands}")
    if bands > num_hashes:
        raise ValueError(
            f"bands={bands} exceeds num_hashes={num_hashes}: every band "
            "needs at least one signature component (an out-of-range "
            "slice yields an empty '' bucket shared by ALL rows, turning "
            "the (band, bucket) join into a cross join)"
        )
    r = num_hashes // bands
    return sigs.select(
        F.col(id_col).alias(out_id),
        F.col("sig").alias(f"sig_{out_id}"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice("sig", b * r + 1, r),
                            lambda x: x.cast("string"),
                        ),
                    ).alias("bucket"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select(out_id, f"sig_{out_id}", "bb.band", "bb.bucket")


def sig_agreement(a: str, b: str, num_hashes: int):
    """Fraction of equal signature components between two sig arrays —
    the MinHash estimate of Jaccard similarity, as a pure JVM fold."""
    eq = F.zip_with(a, b, lambda x, y: F.when(x == y, 1).otherwise(0))
    hits = F.aggregate(eq, F.lit(0), lambda acc, v: acc + v)
    return hits / F.lit(num_hashes)


def incremental_sig_dedup(
    new_sigs: DataFrame,
    old_sigs: DataFrame,
    num_hashes: int,
    threshold: float = 0.5,
    bands: int = 4,
    id_col: str = "id",
    durable: bool | None = None,
) -> DataFrame:
    """Incremental corpus dedup against a MinHash signature INDEX — the
    production shape for continuously-ingested corpora: the standing
    corpus is represented only by its stored signatures (never re-read,
    never re-shingled), and each new batch is (1) dropped where it
    LSH-collides with the index at sig-agreement ≥ ``threshold``, then
    (2) min-id-collapsed within the batch under the same criterion.
    Returns the surviving rows of ``new_sigs``.

    Match criterion: ≥1 full band collision (all ``num_hashes/bands``
    signature components of some band equal) AND component-agreement
    fraction ≥ ``threshold`` — both computed purely from signatures, so
    the whole program is replayable from a sig table (and by the DuckDB
    oracle; band keys are the slice VALUES, not an engine hash).

    Scale design: candidates come from equi-joins on (band, slice-key) —
    new×index and new×new only, NEVER index×index (the index side is the
    100 TB corpus; it is banded and joined, n_bands rows per indexed doc,
    but no index pair is ever formed). Agreement verification is a JVM
    ``zip_with`` fold per candidate. The within-batch collapse reuses
    :func:`canonical_survivors` (hash-partitioned CC).

    ``num_hashes`` is REQUIRED (the signature width the index was built
    with — a stored-index pipeline always knows it): inferring it from
    the data would run a construction-time driver job against what may be
    a live stream or an expensive plan, and a batch/index width mismatch
    must be the caller's explicit, checkable contract rather than a
    silent probe.
    """

    from .persist import materialize_for_reuse

    def banded(sigs: DataFrame, out_id: str) -> DataFrame:
        return banded_slice_keys(sigs, bands, num_hashes, id_col=id_col, out_id=out_id)

    def agreement(a: str, b: str):
        return sig_agreement(a, b, num_hashes)

    # the new-batch sig relation is consumed by the cross-drop banding
    # AND the anti-join (and `rem` again by the within-batch banding and
    # the survivor collapse): un-materialized, Catalyst re-plans the
    # whole upstream signature build — re-shingling the batch text 3x —
    # per consumer. Sigs are num_hashes ints per doc, tiny vs the text.
    new_sigs = materialize_for_reuse(new_sigs, durable=durable)
    nb = banded(new_sigs, "nid")
    ob = banded(old_sigs, "oid")
    cross_drop = (
        nb.join(ob, ["band", "bucket"])
        .where(agreement("sig_nid", "sig_oid") >= F.lit(threshold))
        .select(F.col("nid").alias(id_col))
        .distinct()
    )
    rem = materialize_for_reuse(
        new_sigs.join(cross_drop, id_col, "left_anti"), durable=durable
    )
    rb = banded(rem, "id_a")
    rb2 = rb.select(
        F.col("id_a").alias("id_b"), F.col("sig_id_a").alias("sig_id_b"),
        "band", "bucket",
    )
    within = (
        rb.join(rb2, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(agreement("sig_id_a", "sig_id_b") >= F.lit(threshold))
        .select("id_a", "id_b")
        .distinct()
    )
    return canonical_survivors(rem, within, id_col=id_col, durable=durable)


def best_survivors(
    ids: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    durable: bool | None = None,
) -> DataFrame:
    """Quality-aware dedup collapse: keep the HIGHEST-``quality_col`` row
    per duplicate cluster (ties broken by minimum id) plus every row in no
    pair — the SlimPajama-style "keep the best, not the first" policy, vs
    :func:`canonical_survivors`' min-id rule. Mirrors the selection intent
    of the reference's per-group canonical pick (triplets.py:101-118
    chooses one representative scene per group) with an explicit score.

    Scale design: the argmax is two hash aggregations (max quality per
    component, then min id among the maximal members) plus equi-joins —
    all map-side-combinable and skew-safe even for a degenerate
    boilerplate cluster with millions of members, where a per-component
    ``row_number`` window would funnel that cluster through one task.
    NULL qualities lose to any non-NULL quality; an all-NULL cluster
    falls back to the min-id rule (null-safe equality on the max).
    """
    comp = connected_components(pairs, id_a=id_a, id_b=id_b, durable=durable)
    members = comp.join(
        ids.select(F.col(id_col).alias("id"), F.col(quality_col).alias("_q")),
        "id",
    )
    best = members.groupBy("component").agg(F.max("_q").alias("_bq"))
    keep = (
        members.join(best, "component")
        .where(F.col("_q").eqNullSafe(F.col("_bq")))
        .groupBy("component")
        .agg(F.min("id").alias("_keep"))
    )
    drop = (
        members.join(keep, "component")
        .where(F.col("id") != F.col("_keep"))
        .select(F.col("id").alias(id_col))
    )
    return ids.join(drop, id_col, "left_anti")


def cdc_chunks(
    docs: DataFrame,
    window: int = 4,
    mask_bits: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-defined chunking over the token stream — the
    storage-layer dedup primitive (Muthitacharoen et al. 2001 LBFS /
    FastCDC family): a chunk boundary falls BEFORE token position s
    whenever the rolling ``window``-token fingerprint at s satisfies
    ``H(s) mod 2**mask_bits == 0``. Because the predicate depends only on
    local content, boundaries RE-SYNCHRONIZE after an insertion or
    deletion — near-identical document versions (crawl snapshots, edited
    pages) share every chunk outside the edit neighborhood, which
    position-based (fixed-size) chunking never does. Expected chunk
    length ≈ ``2**mask_bits`` tokens; no min/max chunk clamp (the
    classic min-size skip is a sequential fold — dropping it keeps every
    position's verdict independent, fully parallel, and replayable in
    any engine; the trade is occasional short chunks, documented here).

    Returns the chunk table ``(id, start, end, chunk_hash)`` (token
    offsets, ``end`` exclusive; md5 of the chunk's token string). Chunks
    partition each non-empty doc exactly: starts/ends are contiguous
    from 0 to n_tokens. Empty/NULL-text docs emit no chunks.

    Scale design: boundary candidates ride the certified
    :func:`~.corpus.sliding_token_windows` program (in-row explode, ≤ n
    rows per doc, no text shuffled — windows project to their md5
    immediately); per-doc boundary lists collapse in ONE hash
    aggregation (state bounded by the doc's own token count); chunk
    reconstruction is an in-row zip+explode+slice — plain column
    expressions after the explode, no token-level shuffle.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if mask_bits < 0:
        raise ValueError(f"mask_bits must be >= 0, got {mask_bits}")
    from .corpus import sliding_token_windows

    w = sliding_token_windows(
        docs, size=window, stride=1, id_col=id_col, text_col=text_col
    )
    h = F.conv(F.substring(F.md5("win_text"), 1, 13), 16, 10).cast("long")
    bounds = (
        w.where(F.col("end") - F.col("start") == window)
        .where(F.col("start") > 0)
        .where(F.pmod(h, F.lit(1 << mask_bits)) == 0)
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("start")).alias("_bs"))
    )
    toks = tokens(F.lower(F.col(text_col)))
    base = (
        _spread(docs, id_col)
        .select(F.col(id_col), toks.alias("_toks"))
        .where(F.size("_toks") > 0)
        .join(bounds, id_col, "left")
        .select(
            F.col(id_col),
            "_toks",
            F.coalesce("_bs", F.array().cast("array<long>")).alias("_bs"),
        )
    )
    starts = F.concat(F.array(F.lit(0).cast("long")), F.col("_bs"))
    ends = F.concat(
        F.col("_bs"), F.array(F.size("_toks").cast("long"))
    )
    span = base.select(
        F.col(id_col),
        "_toks",
        F.explode(
            F.arrays_zip(starts.alias("start"), ends.alias("end"))
        ).alias("_c"),
    ).select(
        F.col(id_col),
        F.col("_c.start").alias("start"),
        F.col("_c.end").alias("end"),
        F.md5(
            F.array_join(
                F.slice(
                    "_toks",
                    F.col("_c.start") + F.lit(1),
                    (F.col("_c.end") - F.col("_c.start")).cast("int"),
                ),
                " ",
            )
        ).alias("chunk_hash"),
    )
    return span


def cdc_dedup_stats(
    docs: DataFrame,
    window: int = 4,
    mask_bits: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    durable: bool | None = None,
) -> DataFrame:
    """Per-doc content-defined-chunk dedup statistics:
    ``(id, n_chunks, n_dup_chunks)`` where a chunk is DUP when its hash
    occurs more than once across the whole corpus (shared with another
    doc OR repeated within this one) — the storage-dedup ratio a
    chunk-store would achieve, and a shift-robust near-version signal
    (an edited copy shares most chunks even though every byte offset
    moved). One corpus-wide hash aggregation on chunk_hash (map-side
    combined, broadcast nothing) + one per-doc aggregation; the chunk
    table is materialized once for its two consumers (``durable`` picks
    the checkpoint kind, see :func:`~.persist.materialize_for_reuse`).
    """
    from .persist import materialize_for_reuse

    ch = cdc_chunks(
        docs, window=window, mask_bits=mask_bits,
        id_col=id_col, text_col=text_col,
    )
    # the chunk table feeds two consumers (corpus-wide counts + the
    # per-doc join-back) — materialize once, lazily, instead of running
    # the tokenize/window/rebuild program twice
    ch = materialize_for_reuse(ch, durable=durable)
    counts = ch.groupBy("chunk_hash").agg(F.count("*").alias("_n"))
    return (
        ch.join(counts, "chunk_hash")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("_n") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_chunks"),
        )
    )


# ---------------------------------------------------------------------------
# URL/host-level dedup (CCNet / RefinedWeb preprocessing: Wenzek et al. 2019,
# Penedo et al. 2023 §3.1 both dedup fetched pages by normalized URL and cap
# per-host page counts BEFORE any content-level stage — it is the cheapest
# dedup a web corpus runs, and removes the trivially-refetched duplicates
# content hashing would pay full tokenization for).


def canonical_url(url):
    """Canonical form of a URL as a pure Column expression: trim, strip
    scheme and userinfo, drop query string and fragment, lowercase the
    host, strip a leading ``www.`` and an explicit default port
    (:80/:443), strip trailing slashes from the path. The path's case is
    preserved (paths are case-sensitive; hosts are not).

    Every pattern is anchored and in the RE2∩Java-safe subset
    (functions/text.py::redact_pii's rule), and single-occurrence by
    anchoring — so Spark's replace-all and DuckDB's replace-first
    regexp_replace agree and the expression replays engine-side.
    """
    u = F.trim(url)
    u = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    u = F.regexp_replace(u, r"^[^/?#@]*@", "")
    u = F.regexp_replace(u, r"#.*$", "")
    u = F.regexp_replace(u, r"\?.*$", "")
    host = F.lower(F.regexp_extract(u, r"^([^/]*)", 1))
    host = F.regexp_replace(host, r":(80|443)$", "")
    host = F.regexp_replace(host, r"^www\.", "")
    path = F.regexp_replace(F.regexp_replace(u, r"^[^/]*", ""), r"/+$", "")
    return F.concat(host, path)


def url_host(canonical):
    """Host component of a :func:`canonical_url` value."""
    return F.regexp_extract(canonical, r"^([^/]*)", 1)


def dedup_url(
    docs: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    max_per_host: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """URL-level dedup + optional per-host cap: one row per distinct
    canonical URL (the minimum-``id_col`` fetch survives — the standing
    survivorship rule), then at most ``max_per_host`` rows per host via
    the two-phase salted ranking of :func:`~.corpus.cap_per_group` (a
    billion-page host never hits a single-task window). Returns
    ``(id, canonical_url, host)``.

    Scale: ONE map-side-combined hash aggregation on the canonical-URL
    key (the same shape as :func:`exact_duplicates`) + the cap's bounded
    two-phase rank — no windows over unbounded groups, no text shuffled.
    """
    from .corpus import cap_per_group

    surv = (
        docs.select(
            F.col(id_col), canonical_url(F.col(url_col)).alias("canonical_url")
        )
        .groupBy("canonical_url")
        .agg(F.min(id_col).alias(id_col))
        .withColumn("host", url_host(F.col("canonical_url")))
    )
    if max_per_host is not None:
        surv = cap_per_group(surv, "host", int(max_per_host), id_col=id_col, seed=seed)
    return surv.select(id_col, "canonical_url", "host")


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints as a JOINABLE relation
    ``(id, pos, fp)``: char-k-gram md5 hashes
    (:func:`~..functions.text.kgram_hashes`) winnowed per row
    (:func:`~..functions.text.winnow_select`), then exploded — the
    fingerprint index two corpora equi-join on ``fp`` to find partial
    overlaps of length ≥ w + k − 1 (MOSS-style), where
    :func:`exact_duplicates` needs whole-text equality and shingle
    Jaccard needs near-global overlap.

    Scale: selection is in-row (one map pass); the explode fans out
    only the SELECTED fingerprints (≈ 2/(w+1) of positions — the paper's
    expected density), so the index relation is a fraction of the
    token-level explode every shingle path already pays."""
    # two selects, load-bearing: winnow_select's fold references its input
    # array TWICE PER WINDOW STEP — handing it the raw kgram_hashes
    # EXPRESSION re-derives the whole md5 array per lookup (O(n²·w) md5
    # calls; measured 275 s vs ~2 s at sf0.1). Project the array into a
    # bound column first so lookups are O(1) attribute reads.
    base = _spread(docs, id_col).select(
        F.col(id_col), kgram_hashes(F.col(text_col), k).alias("_hs")
    ).select(
        F.col(id_col), winnow_select(F.col("_hs"), w).alias("_fps")
    )
    # getField on the aliased struct must live one select AFTER the
    # generator (struct-alias + generator analyzer gotcha)
    ex = base.select(F.col(id_col), F.explode("_fps").alias("_s"))
    return ex.select(
        F.col(id_col),
        F.col("_s")["pos"].cast("long").alias("pos"),
        F.col("_s")["fp"].alias("fp"),
    )

def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    ngram: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """EXACT all-pairs shingle CONTAINMENT ≥ t: the asymmetric twin of
    :func:`jaccard_dedup_prefix` for partial-overlap detection —
    C(A→B) = |A∩B| / |A| is high when A is quoted/embedded inside a
    larger B even though Jaccard (and hence MinHash recall) collapses
    with the size ratio (the Lee et al. 2022 argument for substring-level
    dedup, at shingle-set granularity).

    Prefix filter, asymmetric form: C(A→B) ≥ t implies A∩B is non-empty
    within A's rarity-first prefix of length |A| − ⌈t·|A|⌉ + 1, with NO
    prefix available on the B side — so candidates come from A-prefix
    tokens joined against the full inverted index (rarity-first ordering
    keeps the joined lists short: prefix tokens are the rarest). The
    candidate join applies the EXACT size prune (|A∩B| ≤ |B|, so
    q·|B| ≥ p·|A| is necessary — zero recall loss), killing the
    hopeless big-A→small-B direction before the distinct and the
    intersection verify. (The full PPJoin j-rank positional bound, Xiao
    et al. 2008 §3.2, was measured and rejected: building the windowed
    positional index on the B side ran 2.4x slower at sf0.1 than the
    pruning saves below web-scale fan-out — ``max_df`` owns the
    hot-token worst case instead.) Survivors are verified with the
    exact intersection; both directions emerge from one candidate join
    since candidates are unordered. Returns
    ``(id_a, id_b, containment)`` with id_a ≠ id_b, containment =
    round(|A∩B|/|A|, 6) ≥ t (A = id_a's shingles; the relation is
    DIRECTED — a contained quote lists (quote, host) but not the
    reverse unless the host is also mostly covered). Shingles are 60-bit
    md5 hashes, with the collision caveat of :func:`jaccard_dedup_prefix`
    (≈ n²/2⁶¹; the lockstep-hashing oracle cannot detect it).

    Scale: shuffle ∝ Σ prefix-token inverted-list lengths (the PPJoin
    economics), one exact verify join; shingle relation persisted once
    (jaccard_dedup_prefix lifecycle: caller clears cache when done).
    ``max_df`` is the hot-shingle ceiling: prefix tokens whose corpus
    document frequency exceeds it are dropped from CANDIDATE GENERATION
    (the verify stays exact for surviving candidates). Rarity-first
    ordering already keeps prefixes rare, but a doc whose shingles are
    ALL common puts a df-in-the-millions token in its prefix and that
    single join key fans out O(df) — the cap bounds the worst case the
    way ``max_bucket`` does for the banded paths. Below the cap the
    pair set is EXACTLY the uncapped one (every kept prefix token joins
    its full inverted list); above it, pairs whose ONLY shared prefix
    token is hotter than the cap are missed — the documented recall
    bound, analogous to blocked-Jaccard's bounded blocks. Default None
    = exact.

    Exactness: the prefix length n − ⌈t·n⌉ + 1 is computed in INTEGER
    arithmetic (t is read as the exact rational of its shortest decimal
    representation via ``Fraction(str(threshold))``), so thresholds
    where t·n lands on or adjacent to an integer cannot lose a boundary
    position to double rounding.
    """
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    # r18: shingle identity is the 60-bit md5 hash (_hashed_shingle_sets)
    # — the inverted index, df counts, rarity order, candidate keys and
    # the verify intersections all move longs; oracle hashes in lockstep
    sh = _hashed_shingle_sets(docs, text_col, id_col, ngram).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # set size rides the explode IN-ROW (computed before the generator),
    # so neither join side needs a separate size join
    ex = sh.select(
        "id", F.size("sh").alias("_n"), F.explode("sh").alias("shingle")
    )
    df_counts = ex.groupBy("shingle").agg(F.count("*").alias("_df"))
    ranked = ex.join(df_counts, "shingle")
    # Prefix predicate in INTEGER arithmetic: _rn <= n - ceil(t*n) + 1
    # <=> ceil(t*n) <= n - _rn + 1  <=> (RHS integral) t*n <= n - _rn + 1
    # <=> p*n <= q*(n - _rn + 1) for t = p/q. No double rounding: a
    # threshold whose t*n lands adjacent to an integer keeps the exact
    # boundary position a float ceil could drop.
    from fractions import Fraction

    frac = Fraction(str(threshold))
    p_num, q_den = frac.numerator, frac.denominator
    w = Window.partitionBy("id").orderBy("_df", "shingle")
    pre = (
        ranked.withColumn("_rn", F.row_number().over(w))
        .where(
            F.lit(int(p_num)) * F.col("_n")
            <= F.lit(int(q_den)) * (F.col("_n") - F.col("_rn") + F.lit(1))
        )
        .where(F.col("_df") >= 2)  # df=1 tokens cannot produce a pair
        .select("id", "shingle", "_n", "_df")
    )
    if max_df is not None:
        # hot-shingle ceiling: bound the pre ⋈ ex fan-out (see docstring)
        pre = pre.where(F.col("_df") <= int(max_df))
    # EXACT size prune at the candidate join (|A∩B| ≤ |B|, so C(A→B) ≥ t
    # needs q·n_b ≥ p·n_a — integer arithmetic, zero recall loss): the
    # quote→host and host→quote directions both emerge from every shared
    # token, and this kills the hopeless big-A→small-B direction BEFORE
    # the distinct + intersection verify, roughly halving candidate rows
    # on quote-in-host workloads. The full PPJoin j-rank positional
    # bound was measured and REJECTED here: it needs the windowed
    # positional index on the B side, whose build cost (one extra sort +
    # df join over the whole token relation) ran the operator 2.4x
    # slower at sf0.1 than it saves below web-scale fan-out — the
    # max_df ceiling above owns the hot-token worst case instead.
    cands = (
        pre.select(
            F.col("id").alias("id_a"), "shingle", F.col("_n").alias("_na")
        )
        .join(
            ex.select(
                F.col("id").alias("id_b"), "shingle", F.col("_n").alias("_nb")
            ),
            "shingle",
        )
        .where(F.col("id_a") != F.col("id_b"))
        .where(
            F.lit(int(q_den)) * F.col("_nb") >= F.lit(int(p_num)) * F.col("_na")
        )
        .select("id_a", "id_b")
        .distinct()
    )
    pairs = (
        cands.join(
            sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
        )
        .join(
            sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b"
        )
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.greatest(F.size("sh_a"), F.lit(1))
            ).alias("_c"),
        )
        .where(F.col("_c") >= F.lit(float(threshold)))
        .select("id_a", "id_b", F.round(F.col("_c"), 6).alias("containment"))
    )
    return pairs
