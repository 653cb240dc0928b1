"""Corpus-level LLM-training-data operators: benchmark decontamination,
Gopher-style quality gating, TF-IDF term extraction, quality-weighted
sampling.

These extend the reference's surface (the reference stops at per-scene
filtering; a 100 TB text corpus additionally needs eval-set leakage
removal and quality curation). All hot paths are JVM Column expressions
and hash-partitioned joins/aggregations — no Python in the data path, no
driver-sized state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as T
from .sampling import hash_uniform

# Hard cap on construction-time sample collects (select_to_token_budget's
# bucket-cut estimation) — same bound as the ANN fit sample
# (similarity.py): fixed driver memory at any corpus size.
_CUT_SAMPLE_ROWS = 65_536

# Modulus for order-insensitive content checksums (2^61 − 1, Mersenne
# prime): per-term md5 values sum exactly in DECIMAL(38,0) / HUGEINT and
# fold back into a non-negative BIGINT identically in Spark and DuckDB —
# a raw BIGINT sum of 52-bit terms wraps silently on large docs.
CHECKSUM_MOD = (1 << 61) - 1


def ngram_overlap(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark decontamination: per-train-document overlap with an
    eval/benchmark set, measured in distinct shared word n-grams.

    Returns ``(doc_id, n_shared_ngrams, n_eval_docs)`` for every train
    document sharing at least one n-gram with any eval document — the
    rows a decontamination pass would drop or flag.

    Scale design: the eval side (benchmark suites are ≤ millions of
    n-grams even at 100 TB train scale) is deduplicated then broadcast,
    so the train side is one scan + broadcast-hash-join + partial agg —
    no shuffle of the 100 TB side beyond the final per-doc groupBy, and
    that groupBy only carries matching rows (a tiny fraction after the
    semi-selective join). Set ``broadcast_eval=False`` to fall back to a
    shuffle join when the eval side is genuinely large.
    """
    def grams(df: DataFrame, out_id: str) -> DataFrame:
        toks = T.tokens(F.lower(F.col(text_col)))
        return df.select(
            F.col(id_col).alias(out_id),
            F.explode(F.array_distinct(T.ngrams_from_tokens(toks, n))).alias("ng"),
        )

    eg = grams(eval_docs, "eval_id")
    if broadcast_eval:
        eg = F.broadcast(eg)
    # decouple the train-side n-gram explode from the file layout: a
    # single-file corpus would otherwise tokenize in ONE scan task
    # (see dedup._spread — same trap)
    from .dedup import _spread

    return (
        grams(_spread(train, id_col), "doc_id")
        .join(eg, "ng")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("ng").alias("n_shared_ngrams"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )


def gopher_quality(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_top_bigram_frac: float = 0.20,
    max_dup_trigram_frac: float = 0.30,
    min_stopword_hits: int = 2,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher-style document quality gate (Rae et al. 2021, appendix A1.1,
    thresholds engine-defined): word-count bounds, mean-word-length band,
    repetition caps (top-2-gram / duplicate-3-gram fractions), and a
    stopword-presence check. Emits the measures, per-rule flags, and the
    conjunction ``pass_gopher``.

    One narrow projection per row — token array built once and shared by
    every measure through common-subexpression elimination; no shuffle.
    ``carry_cols`` ride through to the output unchanged — how a STREAMING
    pipeline keeps the text flowing to the next stage (a re-join of the
    gate verdict onto the stream would be a stream-stream join).
    """
    toks = T.tokens(F.lower(F.col(text_col)))
    n_words = F.size(toks)
    mwl = T.mean_word_len(toks)
    top2 = T.top_ngram_frac(toks, 2)
    dup3 = T.dup_ngram_frac(toks, 3)
    stop_hits = F.size(
        F.array_intersect(toks, F.array(*[F.lit(s) for s in T.EN_STOPWORDS]))
    )
    flags = {
        "word_count_ok": (n_words >= min_words) & (n_words <= max_words),
        "word_len_ok": (mwl >= min_mean_word_len) & (mwl <= max_mean_word_len),
        "rep_2gram_ok": top2 <= max_top_bigram_frac,
        "rep_3gram_ok": dup3 <= max_dup_trigram_frac,
        "stopword_ok": stop_hits >= min_stopword_hits,
    }
    passed = None
    for c in flags.values():
        passed = c if passed is None else (passed & c)
    return docs.select(
        id_col,
        n_words.cast("int").alias("n_words"),
        F.round(mwl, 6).alias("mean_word_len"),
        F.round(top2, 6).alias("top_bigram_frac"),
        F.round(dup3, 6).alias("dup_trigram_frac"),
        stop_hits.cast("int").alias("stopword_hits"),
        *[c.alias(name) for name, c in flags.items()],
        passed.alias("pass_gopher"),
        *[F.col(c) for c in carry_cols],
    )


# Rae et al. 2021 table A1 repetition caps (a doc passes when every
# signal is at or under its cap). Fractions here are occurrence
# fractions, engine-defined like gopher_quality's — the paper uses
# character fractions for some rows.
GOPHER_TOP_NGRAM_CAPS = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_CAPS = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
GOPHER_DUP_LINE_CAP = 0.30
GOPHER_DUP_PARA_CAP = 0.30


def gopher_repetition_ladder(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The FULL Gopher repetition suite (Rae et al. 2021, table A1):
    top-n-gram occurrence fractions for n=2..4, duplicate-n-gram
    fractions for n=5..10, and duplicate line / paragraph fractions —
    :func:`gopher_quality` carries only the n=2/3 pair. Emits every
    measure plus the conjunction ``pass_repetition`` under the published
    caps (module constants; pass-flag comparisons use the raw fractions,
    outputs are round(6) like every float surface here). Compose with a
    min-word-count gate (:func:`gopher_quality`) as the paper does —
    very short docs trivially trip the top-n-gram caps (3 words →
    top-2-gram = 1/2).

    One narrow projection per row: the token array materializes once and
    every n-gram array derives from it JVM-side — no explode, no shuffle,
    no Python.
    """
    toks = T.tokens(F.lower(F.col(text_col)))
    # NULL text must behave like the empty doc on every signal (the
    # tokens() coalesce convention — size(NULL) is session-conf-dependent)
    txt = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.filter(F.split(txt, "\n"), lambda x: x != "")
    paras = F.filter(F.split(txt, "\n\n"), lambda x: x != "")
    measures: list[tuple[str, object, object]] = []  # (name, raw, cap)
    for n, cap in GOPHER_TOP_NGRAM_CAPS.items():
        measures.append((f"top_{n}gram_frac", T.top_ngram_frac(toks, n), cap))
    for n, cap in GOPHER_DUP_NGRAM_CAPS.items():
        measures.append((f"dup_{n}gram_frac", T.dup_ngram_frac(toks, n), cap))
    measures.append(("dup_line_frac", T.dup_frac(lines), GOPHER_DUP_LINE_CAP))
    measures.append(("dup_para_frac", T.dup_frac(paras), GOPHER_DUP_PARA_CAP))
    passed = None
    for _, raw, cap in measures:
        c = raw <= F.lit(cap)
        passed = c if passed is None else (passed & c)
    return docs.select(
        id_col,
        *[F.round(raw, 6).alias(name) for name, raw, _ in measures],
        passed.alias("pass_repetition"),
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF
    (idf = ln((N+1)/(df+1)), smoothed).

    Two hash-partitioned aggregations (term frequency by (doc, term),
    document frequency by term) plus a per-document window rank — every
    shuffle is on a high-cardinality key, the doc-count scalar travels as
    a broadcast 1-row join rather than a driver collect, and the rank
    window partitions by document (millions of small partitions, never
    one global sort). Deterministic: ties rank by rounded score then
    term.
    """
    from .persist import materialize_for_reuse

    terms = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(T.tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    # tf feeds BOTH the document-frequency agg and the scoring join —
    # materialize once (lazy) instead of tokenizing the corpus twice
    tf = materialize_for_reuse(
        terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.select(
        F.countDistinct(id_col).alias("n_docs")
    )
    scored = (
        tf.join(F.broadcast(df_.join(F.broadcast(n_docs))), "term")
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1) / (F.col("df") + 1)),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", "score", F.col("rank").cast("int").alias("rank"))
    )


def quality_weighted_sample(
    docs: DataFrame,
    weight_col: str,
    seed: int | str = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Importance sampling: keep each row with probability
    ``clamp(weight, 0, 1)`` using the replayable md5 uniform (the
    quality-proportional downsampling step of a corpus-curation
    pipeline, cf. CCNet / Gopher quality buckets).

    Pure per-row expression filter — no shuffle, deterministic across
    retries and engines (DuckDB replays the same md5 arithmetic).
    """
    u = hash_uniform(seed, F.col(id_col))
    w = F.least(F.greatest(F.col(weight_col).cast("double"), F.lit(0.0)), F.lit(1.0))
    return docs.where(u < w)


def build_vocab(
    docs: DataFrame,
    min_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide vocabulary build (the tokenizer-training precursor):
    global token frequencies, frequency cutoff, contiguous ids assigned by
    ``(count DESC, token ASC)`` rank.

    Returns ``(token, n, token_id)`` with ids 0..|V|-1.

    Scale design: the corpus-side work is ONE hash aggregation with
    map-side combine (the explode never shuffles raw tokens — partial
    counts do). The global rank decomposes so no single-partition window
    ever sees the vocabulary: rank(token) = (# tokens in strictly more
    frequent count-classes) + (lexicographic rank within its own class).
    The cross-class prefix sum runs over the count-class HISTOGRAM
    (distinct frequency values — thousands at most, Zipf collapses the
    tail), and the within-class ranks are windows PARTITIONED by count,
    so parallelism follows the class structure; the min-count tail class
    is the widest single partition and bounds the critical path."""
    from .persist import materialize_for_reuse

    toks = docs.select(F.explode(T.tokens(F.lower(F.col(text_col)))).alias("token"))
    # the count relation feeds BOTH the histogram and the final rank join;
    # un-materialized, Catalyst plans two independent subtrees = two full
    # corpus tokenization scans (lazy checkpoint: runs once, in-job)
    counts = materialize_for_reuse(
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= F.lit(min_count))
    )
    hist = counts.groupBy("n").agg(F.count("*").alias("_cnt"))
    w_hist = (
        Window.orderBy(F.col("n").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = hist.withColumn(
        "_off", F.coalesce(F.sum("_cnt").over(w_hist), F.lit(0))
    ).select("n", "_off")
    w_class = Window.partitionBy("n").orderBy("token")
    return (
        counts.join(F.broadcast(offsets), "n")
        .withColumn(
            "token_id",
            (F.col("_off") + F.row_number().over(w_class) - 1).cast("int"),
        )
        .select("token", "n", "token_id")
    )


def bpe_train_merges(
    docs: DataFrame,
    num_merges: int = 8,
    text_col: str = "text",
    durable: bool | None = None,
) -> DataFrame:
    """BPE pair-merge TRAINING (Sennrich et al. 2016, "Neural Machine
    Translation of Rare Words with Subword Units") — the actual
    tokenizer-training loop for which :func:`build_vocab` /
    :func:`encode_tokens` are the precursor. Words start as character
    sequences; each round counts adjacent symbol pairs weighted by word
    frequency, merges the most frequent pair corpus-wide, and
    re-segments. Returns the learned merge table — one row per round:
    ``(merge_rank, s1, s2, pair_count)``, deterministic via the
    ``(count DESC, s1 ASC, s2 ASC)`` tie-break. If the corpus runs out
    of mergeable pairs early, later rounds emit no row.

    Segmentations are kept as STRINGS, not symbol arrays: a word's
    segmentation is its symbols joined with TWO spaces, bounded by one
    space each side (``'low' → ' l  o  w '``). Merging pair ``(s1, s2)``
    is then a single literal ``replace(' s1  s2 ' → ' s1s2 ')`` — the
    scan-left-to-right non-overlapping semantics of ``replace`` IS the
    greedy single-pass BPE merge, the double-space delimiter keeps
    consecutive matches from stealing each other's boundary space
    (``' a  a  a  a '`` merges to ``' aa  aa '``, not ``' aa  a a '``),
    and the space-bounded invariant is restored by the replacement
    itself. No higher-order-function lambdas, no per-symbol explode of
    the corpus, and the identical expression replays in any engine with
    a literal ``replace``.

    Scale design: the corpus is touched ONCE (one map-side-combined word
    count); everything after is VOCABULARY-bounded. Each of the
    ``num_merges`` plan-time rounds (the CC-rounds pattern) is one pair
    aggregation over the vocab (in-row shifted-slice zip → explode,
    ≤ word_len rows per word), one deterministic TakeOrdered-1 for the
    argmax, and one broadcast of that single row into the re-segmenting
    projection; the evolving state is materialized per round
    (``durable``: :func:`~.persist.materialize_for_reuse`) so round k+1
    re-reads a checkpoint, not the whole chain. Web-scale corpora with
    unbounded raw vocabularies should pre-cap ``docs`` (e.g. feed the
    :func:`build_vocab` min-count survivors as pseudo-docs) — the loop
    itself adds no corpus-scale work per round.
    """
    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1, got {num_merges}")
    words = (
        docs.select(F.explode(T.tokens(F.lower(F.col(text_col)))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    state = words.select(
        "w", "c", F.regexp_replace(F.col("w"), "(.)", " $1 ").alias("seg")
    )
    return _bpe_merge_rounds(state, num_merges, durable)


def _bpe_merge_rounds(
    state: DataFrame, num_merges: int, durable: bool | None = None
) -> DataFrame:
    """The BPE training loop shared by the word-level and byte-level
    trainers: ``state`` is ``(w, c, seg)`` with ``seg`` in the
    double-space string form (`` s1  s2  s3 ``). Symbol alphabet is the
    caller's choice (characters / hex byte pairs) — the loop only
    requires that symbols never contain a space."""
    from .persist import materialize_for_reuse

    merges = []
    for k in range(num_merges):
        state = materialize_for_reuse(state, durable=durable)
        syms = F.split(F.trim(F.col("seg")), "  ")
        m = F.greatest(F.size("_sy") - 1, F.lit(0))
        pairs = (
            state.select("c", syms.alias("_sy"))
            .select(
                "c",
                F.explode(
                    F.arrays_zip(
                        F.slice("_sy", 1, m).alias("s1"),
                        F.slice("_sy", 2, m).alias("s2"),
                    )
                ).alias("_p"),
            )
            .groupBy(
                F.col("_p.s1").alias("s1"), F.col("_p.s2").alias("s2")
            )
            .agg(F.sum("c").alias("pair_count"))
        )
        best = materialize_for_reuse(
            pairs.orderBy(
                F.col("pair_count").desc(), F.col("s1"), F.col("s2")
            ).limit(1),
            durable=durable,
        )
        merges.append(
            best.select(
                F.lit(k).alias("merge_rank"), "s1", "s2", "pair_count"
            )
        )
        state = state.crossJoin(
            F.broadcast(best.select(F.col("s1").alias("_m1"), F.col("s2").alias("_m2")))
        ).select(
            "w",
            "c",
            F.replace(
                F.col("seg"),
                F.concat(
                    F.lit(" "), F.col("_m1"), F.lit("  "), F.col("_m2"), F.lit(" ")
                ),
                F.concat(F.lit(" "), F.col("_m1"), F.col("_m2"), F.lit(" ")),
            ).alias("seg"),
        )
    out = merges[0]
    for mdf in merges[1:]:
        out = out.unionByName(mdf)
    return out


def bpe_encode(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned BPE merge list (:func:`bpe_train_merges` output —
    ``(merge_rank, s1, s2, ...)``) to a corpus: each word re-segments by
    replaying the merges IN RANK ORDER, and each doc reports its
    tokenizer-level size. Returns ``(id, n_tokens, n_chars, n_symbols)``
    — words, characters, and post-merge BPE symbols (the unit an LM's
    context window actually consumes; n_symbols/n_chars is the learned
    compression). Docs with no tokens emit no row.

    Scale design: merges apply to the DISTINCT-WORD relation
    (vocabulary-bounded), not per token instance — one distinct, one
    fold over the broadcast ≤K-row merge array (``aggregate`` with the
    same double-space literal-replace trick as training; the lambda
    touches only its own variables, no outer refs), then one equi-join
    back to the exploded tokens and one per-doc aggregation. The merge
    table rides ONE broadcast row (``array_sort(collect_list(...))`` —
    sorted by rank, so application order is deterministic regardless of
    partitioning)."""
    from .dedup import _spread

    marr = merges.agg(
        F.array_sort(
            F.collect_list(F.struct("merge_rank", "s1", "s2"))
        ).alias("_ms")
    )
    tok = _spread(docs, id_col).select(
        F.col(id_col),
        F.explode(T.tokens(F.lower(F.col(text_col)))).alias("w"),
    )
    seg0 = F.regexp_replace(F.col("w"), "(.)", " $1 ")
    enc = (
        tok.select("w")
        .distinct()
        .crossJoin(F.broadcast(marr))
        .select(
            "w",
            F.aggregate(
                "_ms",
                seg0,
                lambda acc, m: F.replace(
                    acc,
                    F.concat(
                        F.lit(" "),
                        m["s1"],
                        F.lit("  "),
                        m["s2"],
                        F.lit(" "),
                    ),
                    F.concat(F.lit(" "), m["s1"], m["s2"], F.lit(" ")),
                ),
            ).alias("_seg"),
        )
        .select(
            "w",
            F.length("w").alias("_chars"),
            F.size(F.split(F.trim("_seg"), "  ")).alias("_syms"),
        )
    )
    return (
        tok.join(enc, "w")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("_chars").alias("n_chars"),
            F.sum("_syms").alias("n_symbols"),
        )
    )


def _byte_seg(piece: Column) -> Column:
    """Byte-level BPE start state for one pre-token: UTF-8 bytes as
    uppercase hex pairs in the double-space string form (``'key'`` →
    ``' 6B  65  79 '``). Hex pairs are the engine-portable rendering of
    GPT-2's bytes_to_unicode table — 0x20 (hex ``20``) plays the role of
    the printable Ġ space marker, and any non-ASCII character decomposes
    into its UTF-8 bytes (byte fallback) with no lookup table. The hex
    alphabet [0-9A-F] can never collide with the space delimiters, and
    ``hex()`` is uppercase in both Spark and DuckDB."""
    return F.regexp_replace(F.hex(piece), "(..)", " $1 ")


def _bpe_pieces(docs: DataFrame, text_col: str, id_col: str | None) -> DataFrame:
    """GPT-2-style pre-tokenization (functions.text.BPE_PIECE_PATTERN —
    the RE2∩Java subset: contraction suffixes, space-prefixed
    letter/digit/punctuation runs, whitespace runs; no lookahead, so the
    identical pattern replays in DuckDB). One row per piece; leading
    spaces stay INSIDE the piece (the byte-level Ġ convention). Text is
    NOT lowercased — byte-level BPE is case-faithful by design."""
    cols = ([F.col(id_col)] if id_col else []) + [
        F.explode(
            F.regexp_extract_all(
                F.col(text_col), F.lit(T.BPE_PIECE_PATTERN), F.lit(0)
            )
        ).alias("w")
    ]
    return docs.select(*cols)


def bpe_train_byte_merges(
    docs: DataFrame,
    num_merges: int = 8,
    text_col: str = "text",
    durable: bool | None = None,
) -> DataFrame:
    """BYTE-level BPE training (the GPT-2 tokenizer family: Radford et
    al. 2019; Sennrich et al. 2016 for the merge loop) — the fidelity
    gap the word-level :func:`bpe_train_merges` leaves open. Differences
    from the word-level trainer, all three from the GPT-2 construction:
    (1) the unit relation is the PRE-TOKEN (regex pieces with their
    leading space attached — the Ġ convention), not the whitespace word;
    (2) the start symbols are UTF-8 BYTES (hex pairs, see
    :func:`_byte_seg`), so any input — non-ASCII included — segments
    with byte fallback and no unknown symbol exists; (3) case is
    preserved. Returns ``(merge_rank, s1, s2, pair_count)`` with s1/s2
    as hex strings (a learned merge ``6B65`` is the byte string "ke").

    Scale design identical to the word-level trainer: one map-side
    combined piece count touches the corpus, then every round is
    vocabulary-bounded (pair agg over distinct pieces, TakeOrdered-1
    argmax, broadcast literal-replace re-segmentation). Pre-token regex
    runs once per doc (JVM codegen), never per byte."""
    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1, got {num_merges}")
    words = _bpe_pieces(docs, text_col, None).groupBy("w").agg(
        F.count("*").alias("c")
    )
    state = words.select("w", "c", _byte_seg(F.col("w")).alias("seg"))
    return _bpe_merge_rounds(state, num_merges, durable)


def bpe_encode_bytes(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned BYTE-level merge list
    (:func:`bpe_train_byte_merges` output) to a corpus. Returns
    ``(id, n_pieces, n_bytes, n_tokens, seg_checksum)`` per doc —
    pre-tokenizer pieces, UTF-8 bytes, post-merge BPE tokens (the GPT-2
    context unit; n_tokens/n_bytes is the learned byte-level
    compression), and an order-insensitive content checksum: the sum
    over piece INSTANCES of the top-52-bit md5 of the piece's final
    segmentation string, reduced mod 2^61−1 — certifying the exact
    post-merge segmentation of every piece, not just its length (the
    encode_tokens ``id_checksum`` idea at the segmentation level; md5
    replays in any engine). A raw BIGINT sum of 52-bit terms wraps
    silently past ~4096 pieces (routine doc sizes in a web corpus)
    while DuckDB's HUGEINT sum does not — engine/oracle parity would
    break exactly on big docs; the sum therefore goes through
    :func:`~.dedup.checksum_mod_sum` (hi/lo split long partial sums,
    exact mod 2^61−1, good to 2^31 pieces per doc; formerly a
    DECIMAL(38,0) accumulate — value-identical, minus the BigDecimal
    per piece). Docs with
    no pieces (NULL/empty text) emit no row.

    Scale design mirrors :func:`bpe_encode`: merges fold over ONE
    broadcast rank-sorted array onto the DISTINCT-piece relation
    (vocabulary-bounded), then one equi-join back to the exploded
    pieces and one per-doc aggregation."""
    from .dedup import _spread

    marr = merges.agg(
        F.array_sort(
            F.collect_list(F.struct("merge_rank", "s1", "s2"))
        ).alias("_ms")
    )
    tok = _bpe_pieces(_spread(docs, id_col), text_col, id_col)
    enc = (
        tok.select("w")
        .distinct()
        .crossJoin(F.broadcast(marr))
        .select(
            "w",
            F.aggregate(
                "_ms",
                _byte_seg(F.col("w")),
                lambda acc, m: F.replace(
                    acc,
                    F.concat(
                        F.lit(" "), m["s1"], F.lit("  "), m["s2"], F.lit(" ")
                    ),
                    F.concat(F.lit(" "), m["s1"], m["s2"], F.lit(" ")),
                ),
            ).alias("_seg"),
        )
        .select(
            "w",
            F.octet_length(F.col("w")).cast("bigint").alias("_bytes"),
            F.size(F.split(F.trim("_seg"), "  ")).alias("_toks"),
            F.conv(F.substring(F.md5("_seg"), 1, 13), 16, 10)
            .cast("long")
            .alias("_ck"),
        )
    )
    from .dedup import checksum_mod_sum

    return (
        tok.join(enc, "w")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_pieces"),
            F.sum("_bytes").alias("n_bytes"),
            F.sum("_toks").cast("bigint").alias("n_tokens"),
            # _ck is a 52-bit md5 value — well inside checksum_mod_sum's
            # exact term range; value-identical to the former
            # DECIMAL(38,0) accumulate without BigDecimal per piece
            checksum_mod_sum(F.col("_ck")).alias("seg_checksum"),
        )
    )


def bpe_encode_byte_ids(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """GPT-2-style token-ID encode — the id assignment that completes
    the byte-level construction (Radford et al. 2019): the vocabulary is
    the 256 byte symbols with ids 0-255 (the byte's value) plus one id
    per learned merge, ``256 + merge_rank`` — the GPT-2 construction
    (a token's id is the order its symbol entered the vocabulary) with
    byte-VALUE base ids; real GPT-2 orders the 256 base ids by its
    bytes_to_unicode codepoint mapping (printable bytes first), so these
    ids intentionally differ from the published encoder.json numbering
    while preserving the same id-assignment semantics. A
    symbol two different merges can assemble (``(a,bc)`` and ``(ab,c)``
    both yield ``abc``) takes its FIRST-creation (minimum) id, so the
    map is a function in both engines. Returns ``(id, n_tokens,
    id_checksum)`` per doc with ``id_checksum = Σ (pos+1)·token_id`` over
    the doc's full token sequence in order, reduced mod 2^61−1
    (:data:`CHECKSUM_MOD`) — the order-SENSITIVE positional certificate
    of :func:`encode_tokens`, certifying the exact id sequence a
    training pipeline would ship without emitting an array column. Docs
    with no pieces (NULL/empty text) emit no row.

    Scale design: the merge fold runs once over the DISTINCT-piece
    relation (vocabulary-bounded, as :func:`bpe_encode_bytes`); token-id
    arithmetic also stays in vocabulary space — each distinct piece
    reduces to ``(n_toks, Σ id, Σ (tpos+1)·id)``, and a piece instance
    at global token offset ``o`` contributes ``Σ (o+tpos+1)·id =
    wsum + o·Σid``, so the corpus-scale path never explodes per-token
    rows. One equi-join back to the positioned pieces, one per-doc
    keyed window for the running offset, one aggregation; the id table
    (256 + n_merges rows) is broadcast."""
    from .dedup import _spread

    spark = docs.sparkSession
    marr = merges.agg(
        F.array_sort(
            F.collect_list(F.struct("merge_rank", "s1", "s2"))
        ).alias("_ms")
    )
    tok = _spread(docs, id_col).select(
        F.col(id_col),
        F.posexplode(
            F.regexp_extract_all(
                F.col(text_col), F.lit(T.BPE_PIECE_PATTERN), F.lit(0)
            )
        ).alias("_ppos", "w"),
    )
    enc = (
        tok.select("w")
        .distinct()
        .crossJoin(F.broadcast(marr))
        .select(
            "w",
            F.aggregate(
                "_ms",
                _byte_seg(F.col("w")),
                lambda acc, m: F.replace(
                    acc,
                    F.concat(
                        F.lit(" "), m["s1"], F.lit("  "), m["s2"], F.lit(" ")
                    ),
                    F.concat(F.lit(" "), m["s1"], m["s2"], F.lit(" ")),
                ),
            ).alias("_seg"),
        )
    )
    byte_ids = spark.range(256).select(
        F.lpad(F.upper(F.hex(F.col("id"))), 2, "0").alias("_sym"),
        F.col("id").cast("long").alias("_sid"),
    )
    merge_ids = (
        merges.select(
            F.concat("s1", "s2").alias("_sym"),
            (F.lit(256) + F.col("merge_rank")).cast("long").alias("_sid"),
        )
        .groupBy("_sym")
        .agg(F.min("_sid").alias("_sid"))
    )
    ids = byte_ids.unionByName(merge_ids)
    # _wsum folds mod 2^61-1 as it accumulates (checksum_mod_sum): a raw
    # BIGINT sum of (tpos+1)·id terms wraps on a pathological single
    # piece of ~3e8+ tokens while the DuckDB twin's HUGEINT sum does not
    # (the seg_checksum overflow class, one level down). Each term is
    # (tpos+1) < 2^31 times _sid ≤ 256+merges < 2^9, i.e. < 2^40 —
    # well inside checksum_mod_sum's 2^62 exact range; formerly a
    # DECIMAL(38,0) accumulate, value-congruent mod p by construction.
    from .dedup import _MERSENNE_P, _mulmod_mersenne_long, checksum_mod_sum

    wids = (
        enc.select(
            "w",
            F.posexplode(F.split(F.trim("_seg"), "  ")).alias("_tpos", "_sym"),
        )
        .join(F.broadcast(ids), "_sym")
        .groupBy("w")
        .agg(
            F.count("*").alias("_ntok"),
            F.sum("_sid").alias("_sumid"),
            checksum_mod_sum(
                (F.col("_tpos") + F.lit(1)) * F.col("_sid")
            ).alias("_wsum"),
        )
    )
    off = F.coalesce(
        F.sum("_ntok").over(
            Window.partitionBy(id_col)
            .orderBy("_ppos")
            .rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    # reduce the offset product mod p BEFORE it can materialize: offset
    # (≈ doc token count) × sumid (≈ 300·piece tokens) exceeds BIGINT on
    # huge docs, so _mulmod_mersenne_long folds it limb-wise with every
    # intermediate under 2^63 (inputs: off < 2^31 tokens per doc,
    # _sumid < 2^40, both already < 2^61). The window offset binds to a
    # column first so the limb splits reference ONE computed attribute
    # (project-then-fold idiom). contrib ≡ _wsum + off·_sumid (mod p)
    # term-by-term, so the final checksum_mod_sum over the < 2^61
    # residues is value-congruent to the former DECIMAL(38,0)
    # accumulate-then-pmod — identical output.
    contrib = F.pmod(
        F.col("_wsum")
        + _mulmod_mersenne_long(F.col("_off"), F.col("_sumid")),
        F.lit(_MERSENNE_P),
    )
    return (
        tok.join(wids, "w")
        .select(
            F.col(id_col), F.col("_ntok"), F.col("_wsum"),
            F.col("_sumid"), off.alias("_off"),
        )
        .select(F.col(id_col), F.col("_ntok"), contrib.alias("_c"))
        .groupBy(id_col)
        .agg(
            F.sum("_ntok").cast("bigint").alias("n_tokens"),
            checksum_mod_sum(F.col("_c")).alias("id_checksum"),
        )
    )


def encode_tokens(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize documents against a built vocabulary (broadcast join — the
    vocab is the small side at any corpus scale) and reduce per document:
    ``(doc_id, n_tokens, n_known, n_unk, id_checksum)`` where the
    checksum is ``sum((pos+1) * token_id)`` over known tokens, reduced
    mod 2^61−1 (:data:`CHECKSUM_MOD`) — an order-sensitive scalar that
    certifies the full positional encoding without emitting an array
    column. A raw BIGINT sum of position-weighted ids wraps silently on
    multi-megabyte docs (Σ ≈ n²·V/2) while the DuckDB twin's HUGEINT
    does not — the seg_checksum overflow class; the sum therefore goes
    through :func:`~.dedup.checksum_mod_sum` (hi/lo split long partial
    sums, exact mod 2^61−1 — formerly a per-term DECIMAL(38,0)
    accumulate, value-identical but BigDecimal-per-token). NULL when
    the doc has no known tokens (all-unknown sum is empty), as before.
    """
    from .dedup import checksum_mod_sum

    tok = docs.select(
        F.col(id_col),
        F.posexplode(T.tokens(F.lower(F.col(text_col)))).alias("pos", "token"),
    )
    joined = tok.join(F.broadcast(vocab.select("token", "token_id")), "token", "left")
    # (pos+1)*token_id in plain longs: pos+1 <= doc tokens (< 2^31 for any
    # real document) and token_id is a dense vocab rank (< 2^31), so the
    # product stays < 2^62 — checksum_mod_sum's exact range. The former
    # per-term DECIMAL(38,0) multiply paid BigDecimal per token; value
    # identical (sum mod p == sum of in-range terms mod p), NULL token_id
    # terms skipped by both, all-unknown docs still NULL.
    term = (F.col("pos").cast("long") + F.lit(1)) * F.col("token_id").cast(
        "long"
    )
    return joined.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.count("token_id").alias("n_known"),
        (F.count("*") - F.count("token_id")).alias("n_unk"),
        checksum_mod_sum(term).alias("id_checksum"),
    )


def source_token_entropy(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-mixture diagnostics: per-group token count, vocabulary size
    and Shannon entropy (nats) of the token distribution — the numbers a
    data-mixing pipeline monitors when reweighting sources.

    Two hash aggregations ((group, token) counts → per-group reduction),
    both map-side combined; no window, no sort, no driver state. Float
    discipline: each ``c·ln c`` term is truncated to DECIMAL(38,12) BEFORE
    summing, so the reduction is exact and order-independent (a raw double
    sum would drift with partial-aggregation order under AQE); the per-term
    ln itself agrees across engines at this scale (≤1 ulp ≪ 1e-12)."""
    tok = docs.select(
        F.col(group_col), F.explode(T.tokens(F.lower(F.col(text_col)))).alias("token")
    )
    tc = tok.groupBy(group_col, "token").agg(F.count("*").alias("c"))
    n = F.sum("c")
    # H = ln(N) - sum(c*ln c)/N  (algebraic form avoids a second pass for p)
    term = (F.col("c") * F.log("c")).cast("decimal(38,12)")
    ent = F.log(n) - F.sum(term).cast("double") / n
    return tc.groupBy(group_col).agg(
        n.alias("n_tokens"),
        F.count("*").alias("vocab_size"),
        F.round(ent, 6).alias("entropy_nats"),
    )


def duplicate_span_dedup(
    docs: DataFrame,
    span_words: int = 5,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style cross-corpus duplicate-span removal: chop every document
    into consecutive non-overlapping ``span_words``-word spans, drop every
    span whose exact text occurs in ≥ ``min_docs`` DISTINCT documents
    (boilerplate / license headers / navigation chrome at web scale), and
    reassemble the surviving spans in order.

    Returns ``(doc_id, n_spans, n_dropped, clean_text)`` — one row per
    input document, including documents whose every span was dropped
    (``clean_text = ''``).

    Scale design: explode → two hash aggregations, and the corpus TEXT
    is tokenized exactly twice (the find pass and the rebuild pass —
    the policy minimum: caching the exploded span relation would spill
    a copy of the corpus to executor storage). The span-frequency count
    is a partial-aggregated groupBy on the span string (Spark's
    map-side combine collapses repeats before the shuffle); the drop is
    a LEFT join + flag on the same key (one pass computes totals,
    drops, and the reassembly together — `posexplode_outer` keeps
    zero-span documents in the relation), and the reassembly is one
    groupBy per document with an in-row sort of (position, span)
    structs — no window over a global order, no driver state, so the
    plan is three shuffles end-to-end regardless of corpus size. C4
    does exactly this at the line level over its 156B-token crawl; span
    granularity is a parameter here because the synthetic corpus has no
    newlines.
    """
    toks = T.tokens(F.col(text_col))
    n_spans = F.ceil(F.size(toks) / F.lit(span_words)).cast("int")
    span_arr = F.when(F.size(toks) > 0, F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.array_join(
            F.slice(toks, i * span_words + 1, span_words), " "
        ),
    )).otherwise(F.array().cast("array<string>"))
    # _outer: a zero-span doc keeps one (NULL-span) row, so the single
    # rebuild aggregation below covers EVERY document — no third scan
    # for a totals relation
    spans = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode_outer(span_arr).alias("_si", "_span"),
    )
    dup = (
        spans.where(F.col("_span").isNotNull())
        .groupBy("_span")
        .agg(F.count_distinct("_id").alias("_nd"))
        .where(F.col("_nd") >= F.lit(min_docs))
        .select("_span", F.lit(True).alias("_dup"))
    )
    flagged = spans.join(dup, "_span", "left")
    kept_struct = F.when(
        F.col("_dup").isNull() & F.col("_span").isNotNull(),
        F.struct("_si", "_span"),
    )
    # collect_list SKIPS the NULLs the `when` emits for dropped/padding
    # rows, so the rebuild shuffle carries only the kept spans
    rebuilt = flagged.groupBy("_id").agg(
        F.count("_span").cast("int").alias("n_spans"),
        F.sum(F.coalesce(F.col("_dup").cast("int"), F.lit(0)))
        .cast("int")
        .alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["_span"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return rebuilt.select(
        F.col("_id").alias(id_col), "n_spans", "n_dropped", "clean_text"
    )


def pack_token_chunks(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_count_col: str | None = None,
    seed: int = 42,
) -> DataFrame:
    """GPT-style sequence packing: deterministically shuffle the corpus,
    concatenate, and cut every ``budget`` tokens.

    Each document gets the chunk id and intra-chunk offset its FIRST token
    lands on (documents may straddle chunk boundaries — exactly how LLM
    pretraining packs a corpus into fixed-length training sequences).
    Returns (id, n_tokens, chunk_id, chunk_offset).

    Scale design: the deterministic shuffle key is an md5 of the id
    (replayable anywhere, partitioning-independent) and the global running
    token count is :func:`binning.global_cumsum` — bucket-decomposed, so
    no single-task window ever sees the corpus. The md5 key takes fixed
    cuts, so building the plan runs no job: the bucket sums and the
    per-bucket window both run inside the sink's query.
    """
    from .binning import global_cumsum
    from .dedup import _spread

    n_tok = (
        F.col(token_count_col)
        if token_count_col
        else F.size(T.tokens(F.lower(F.col(text_col))))
    )
    # The text path is NULL-safe at the tokenizer choke point (T.tokens
    # coalesces NULL text to []); this guard is for the USER-SUPPLIED
    # token_count_col branch, where a NULL or negative count would poison
    # the exclusive cumsum and every downstream chunk id
    n_tok = F.greatest(n_tok.cast("long"), F.lit(0).cast("long"))
    base = _spread(docs, id_col).select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        # numeric shuffle key: top 60 bits of md5(seed ⊕ id) — uniform,
        # sortable, and exactly replayable in DuckDB
        F.conv(
            F.substring(F.md5(F.concat_ws("_", F.lit(seed), F.col(id_col))), 1, 15),
            16,
            10,
        )
        .cast("long")
        .alias("_shuf"),
    )
    # _shuf is md5-uniform over [0, 2^60) — fixed equidistant cuts skip
    # the sketch job (cuts only balance buckets, never affect values)
    p = max(docs.sparkSession.sparkContext.defaultParallelism, 2)
    packed = global_cumsum(
        base,
        "n_tokens",
        "_shuf",
        tiebreak=[id_col],
        out_col="_before",
        inclusive=False,
        cuts=[i * float(1 << 60) / p for i in range(1, p)],
    )
    return packed.select(
        F.col(id_col),
        "n_tokens",
        # integer division: exact at any corpus size (a double quotient
        # is only trunc-safe below 2^53)
        F.expr(f"_before div {int(budget)}").alias("chunk_id"),
        F.pmod(F.col("_before"), F.lit(int(budget))).cast("long").alias("chunk_offset"),
    )


def pack_bestfit_decreasing(
    docs: DataFrame,
    budget: int,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_count_col: str | None = None,
    seed: int = 42,
) -> DataFrame:
    """Best-fit-decreasing sequence packing WITHOUT document splitting —
    the truncation-free alternative to :func:`pack_token_chunks`'s
    GPT-style concat-and-cut (modern pipelines pack by length-sorted
    best-fit to minimize padding waste; Krell et al. 2021, "Efficient
    Sequence Packing without Cross-contamination", frames the family).
    Each document is assigned WHOLE to a fixed-capacity bin: documents
    are sorted by token count descending (md5 tiebreak) and each goes
    into the open bin with the SMALLEST remaining capacity that still
    fits (ties → lowest bin index), else opens a new bin. A document
    longer than ``budget`` opens its own permanently-unfillable bin
    (remaining goes negative) — flagged by ``bin_fill > 1``, never
    silently truncated. Returns one row per document:
    ``(id, n_tokens, bucket, bin, bin_tokens, bin_fill)`` where ``bin``
    is 1-based within its bucket and ``bin_fill = bin_tokens/budget``
    (exactly dyadic when ``budget`` is a power of two — no rounding
    needed for cross-engine parity).

    Scale design: exact global BFD is inherently sequential, so the
    corpus is decomposed into ``n_buckets`` deterministic md5 buckets
    (id-hash, partitioning-independent, NEVER spark_partition_id) and
    BFD runs EXACTLY within each bucket — the classic blocked
    approximation: per-bucket optimality with at most ``n_buckets``
    extra partially-filled bins corpus-wide vs the sequential run. One
    map pass computes lengths, ONE shuffle groups buckets, and the
    per-bucket scan is an Arrow-batched applyInPandas that also emits
    the per-bin totals in-batch (no second aggregation or join).
    ``n_buckets`` is the parallelism/memory knob: a bucket
    (corpus_size/n_buckets rows of (id, length)) must fit one task —
    at 100 TB, size n_buckets so buckets hold ~1M docs. Like any
    any-fit algorithm, per-bucket BFD never uses more bins than
    next-fit on the same order (property-tested) and at most
    11/9·OPT + 2/3 (Dósa 2007, the FFD/BFD bound)."""
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from .dedup import _spread

    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    n_tok = (
        F.col(token_count_col)
        if token_count_col
        else F.size(T.tokens(F.lower(F.col(text_col))))
    )
    n_tok = F.greatest(n_tok.cast("long"), F.lit(0).cast("long"))
    key = F.conv(
        F.substring(
            F.md5(F.concat_ws("_", F.lit(seed), F.col(id_col))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    base = _spread(docs, id_col).select(
        F.col(id_col).alias("_id"),
        n_tok.alias("n_tokens"),
        F.pmod(key, F.lit(int(n_buckets))).cast("int").alias("bucket"),
        key.alias("_shuf"),
    )

    def _bfd(pdf: pd.DataFrame) -> pd.DataFrame:
        import bisect

        pdf = pdf.sort_values(
            ["n_tokens", "_shuf", "_id"], ascending=[False, True, True]
        )
        # best fit = smallest remaining >= length, tie -> lowest bin
        # index: a bisect-maintained sorted list of (remaining, idx)
        # tuples makes the per-doc probe O(log bins) instead of a full
        # O(bins) scan — bisect_left with (length, -1) lands on exactly
        # the (r, i)-lexicographic minimum among fitting bins, the same
        # tie-break as the previous linear min((r, i)). Bins driven
        # negative by an oversize doc leave the free list permanently
        # (they can never fit a length >= 0), matching the linear
        # scan's r >= length exclusion.
        free: list[tuple[int, int]] = []  # (remaining, bin idx), sorted
        n_bins = 0
        bins: list[int] = []
        for length in pdf["n_tokens"].tolist():
            pos = bisect.bisect_left(free, (length, -1))
            if pos == len(free):
                rem = budget - length
                if rem >= 0:
                    bisect.insort(free, (rem, n_bins))
                n_bins += 1
                bins.append(n_bins)
            else:
                r, i = free.pop(pos)
                bisect.insort(free, (r - length, i))
                bins.append(i + 1)
        out = pdf.assign(bin=pd.array(bins, dtype="int32"))
        tot = out.groupby("bin")["n_tokens"].transform("sum")
        return pd.DataFrame(
            {
                "_id": out["_id"],
                "n_tokens": out["n_tokens"],
                "bucket": out["bucket"],
                "bin": out["bin"],
                "bin_tokens": tot.astype("int64"),
            }
        )

    # the _id field keeps the caller's id dtype (string doc ids are as
    # valid as longs — a hardcoded "long" corrupts or rejects them)
    packed = base.groupBy("bucket").applyInPandas(
        _bfd,
        schema=StructType(
            [
                StructField("_id", docs.schema[id_col].dataType),
                StructField("n_tokens", LongType()),
                StructField("bucket", IntegerType()),
                StructField("bin", IntegerType()),
                StructField("bin_tokens", LongType()),
            ]
        ),
    )
    return packed.select(
        F.col("_id").alias(id_col),
        "n_tokens",
        "bucket",
        "bin",
        "bin_tokens",
        (F.col("bin_tokens").cast("double") / F.lit(float(budget))).alias(
            "bin_fill"
        ),
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    n_max: int,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Per-group document cap (the web-corpus per-domain cap): keep at most
    ``n_max`` rows per group, chosen by a deterministic md5 ranking so the
    survivors are a uniform sample that replays identically anywhere.

    Scale design: ranking only matters up to ``n_max``, so a skewed group
    (one domain with billions of pages) never hits a single-task window —
    phase 1 ranks within (group, salt) — salt is a hash of the id, NEVER
    ``spark_partition_id`` — keeping ≤ n_max per salt cell; phase 2 ranks
    the surviving ≤ P·n_max rows per group exactly. Same two-phase shape
    as similarity._topk_per_query.
    """
    from pyspark.sql import Window

    P = max(df.sparkSession.sparkContext.defaultParallelism, 2)
    rk = F.md5(F.concat_ws("_", F.lit(seed), F.col(id_col)))
    salted = df.withColumn("_rk", rk).withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(P))
    )
    w1 = Window.partitionBy(group_col, "_salt").orderBy("_rk", id_col)
    w2 = Window.partitionBy(group_col).orderBy("_rk", id_col)
    return (
        salted.withColumn("_r", F.row_number().over(w1))
        .where(F.col("_r") <= n_max)
        .withColumn("_r", F.row_number().over(w2))
        .where(F.col("_r") <= n_max)
        .drop("_rk", "_salt", "_r")
    )


def select_to_token_budget(
    df: DataFrame,
    budget: int,
    quality_col: str,
    token_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-ordered corpus curation under a per-group token budget:
    within each group, rank rows by ``quality_col`` DESC (ties → min
    ``id_col``, NULL qualities last) and keep the maximal prefix whose
    running ``token_col`` total stays ≤ ``budget`` — the "take the best N
    tokens per source" step a training-mix builder runs after scoring.
    A row survives iff its inclusive running token sum ≤ ``budget``
    (the first overflowing row and everything after it is dropped; no
    backfilling with smaller later docs).

    Scale design: the running sum is NEVER a per-group window (a group is
    a coarse key — one source can hold billions of docs). Same
    decomposition as :func:`~.binning.global_cumsum`, applied per group:
    sample-derived quality cut points split each group into ~P buckets
    (equal qualities always share a bucket, so the id tiebreak never
    crosses a boundary), per-(group, bucket) window cumsums run in
    parallel, and each bucket's group-local offset comes from the
    offsets relation of :func:`~.binning._bucket_offsets` (|groups|·P
    rows, executor-side), broadcast back. Token counts are assumed ≥ 0;
    NULL tokens count as 0.

    Cut estimation is a CONSTRUCTION-TIME job, deliberately bounded the
    same way as the ANN fit sample (similarity.py's 65,536-row cap): a
    deterministic md5-ordered TakeOrdered brings ≤ ``_CUT_SAMPLE_ROWS``
    quality values to the driver (per-partition top-k heaps — one scan,
    no full sort, fixed driver memory at any corpus size), replacing the
    previous full-data ``approxQuantile`` sketch. Cut placement only
    BALANCES the buckets; the surviving row set is cut-invariant (bucket
    assignment is monotone in quality and ties share a bucket), so
    sample error can skew bucket sizes but never change the answer.
    """
    from .binning import _bucket_offsets, _cut_bucket, _stratum_key

    spark = df.sparkSession
    P = max(spark.sparkContext.defaultParallelism, 2)
    qvals = [
        r[0]
        for r in df.select(F.col(quality_col).cast("double"))
        .where(F.col(quality_col).isNotNull())
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(_CUT_SAMPLE_ROWS)
        .collect()
    ]
    qvals.sort()
    cuts = (
        [qvals[(i * len(qvals)) // P] for i in range(1, P)] if qvals else []
    )
    q = F.col(quality_col)
    # bucket 0 = highest quality: the number of cuts above q
    bexpr = F.when(q.isNull(), F.lit(len(cuts) + 1)).otherwise(
        F.lit(len(cuts)) - _cut_bucket(q, cuts)
    )
    val = F.coalesce(F.col(token_col).cast("long"), F.lit(0).cast("long"))
    parts = (
        df.withColumn("_b", bexpr)
        .withColumn("_tok", val)
        .withColumn("_gk", _stratum_key(group_col))
    )
    w = (
        Window.partitionBy(group_col, "_b")
        .orderBy(q.desc_nulls_last(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        parts.withColumn("_local", F.sum("_tok").over(w))
        # the offsets relation is bounded by construction (|groups|·(P+2)
        # rows) but sits behind an aggregate plan Catalyst has no stats
        # for — broadcast. Its null-safe _gk keeps NULL-group rows
        .join(F.broadcast(_bucket_offsets(parts, F.sum("_tok"))), ["_gk", "_b"])
        .where(F.col("_off") + F.col("_local") <= F.lit(int(budget)))
    )
    return out.select(*df.columns)


def exact_span_decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    k: int = 7,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring decontamination (the Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better" shape, token-level): flag
    every train doc sharing a VERBATIM ≥ ``k``-token span with any eval
    doc. Reduction: a shared span of length ≥ k contains at least one
    shared k-token window, so hashing ALL k-token windows (stride 1) of
    both corpora and equi-joining on the hash finds exactly the
    contaminated docs — no suffix array, no all-pairs. This is the exact
    complement to :func:`ngram_overlap`'s fixed-n approximation: that
    operator samples one n; this one certifies the ≥k guarantee.

    Returns one row per CONTAMINATED train doc:
    ``(id, n_span_positions, n_distinct_spans, first_start)`` — how many
    of its k-token window positions match, how many distinct spans, and
    the earliest matching token offset (for masking/excision downstream).

    Scale design: windows come from :func:`sliding_token_windows`
    (in-row explode, ≤ n_tokens rows per doc) projected immediately to
    ``(id, start, md5(win_text))`` so no window TEXT ever shuffles; the
    eval side is reduced to its DISTINCT span-hash set BEFORE the join,
    so a span repeated across the eval suite cannot fan out; candidates
    come from one hash equi-join on the span hash (grouped by span —
    never all-pairs) and collapse in one per-doc aggregation. Partial
    trailing windows (< k tokens) are excluded on both sides — only full
    k-token spans count.
    """
    tspan, espan = _span_hash_sides(train, eval_docs, k, id_col, text_col)
    return (
        tspan.join(espan, "_h")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_span_positions"),
            F.count_distinct("_h").alias("n_distinct_spans"),
            F.min("start").alias("first_start"),
        )
    )


def _span_hash_sides(
    train: DataFrame,
    eval_docs: DataFrame,
    k: int,
    id_col: str,
    text_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared span program of the exact-substring decontam family:
    stride-1 full k-token windows hashed to ``(id, start, _h)`` on the
    train side and the DISTINCT ``_h`` set on the eval side."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def spans(docs: DataFrame, cols: list[str]) -> DataFrame:
        w = sliding_token_windows(
            docs, size=k, stride=1, id_col=id_col, text_col=text_col
        )
        return w.where(F.col("end") - F.col("start") == k).select(
            *cols, F.md5("win_text").alias("_h")
        )

    return spans(train, [id_col, "start"]), spans(eval_docs, []).distinct()


def excise_contaminated_spans(
    train: DataFrame,
    eval_docs: DataFrame,
    k: int = 7,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The excision half of exact-substring decontamination (Lee et al.
    2022 REMOVE the leaked spans rather than drop whole documents):
    for every contaminated train doc, delete each token covered by ANY
    matched k-token window and re-join the remaining tokens in order.
    Returns one row per contaminated doc —
    ``(id, n_tokens, n_removed, clean_text)`` — over the same
    lowercased/whitespace-normalized token stream the matching runs on
    (clean docs pass through a pipeline untouched: anti-join on the ids
    here). A doc that is one big leaked span comes back with
    ``clean_text = ''``, not a missing row.

    Scale design: matched window starts reuse the
    :func:`exact_span_decontaminate` span program (grouped by span hash,
    eval side distinct'd — never all-pairs); covered positions collapse
    to ONE sorted distinct array per doc in a single hash aggregation
    (state bounded by the doc's own token count); the rebuild is a
    per-row array filter by index — token streams are never exploded or
    shuffled token-by-token.
    """
    tspan, espan = _span_hash_sides(train, eval_docs, k, id_col, text_col)
    hits = tspan.join(espan, "_h").select(F.col(id_col), F.col("start"))
    return _excise_by_hits(train, hits, k, id_col, text_col)


def _excise_by_hits(
    docs: DataFrame,
    hits: DataFrame,
    k: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Shared excision tail of the exact-substring family: given the
    matched k-window starts ``hits(id, start)``, delete every covered
    token and rebuild — one row per AFFECTED doc
    ``(id, n_tokens, n_removed, clean_text)``. Covered positions
    collapse to ONE sorted distinct array per doc in a single hash
    aggregation (state bounded by the doc's own token count); the
    rebuild is a per-row array filter by index — token streams are never
    exploded or shuffled token-by-token."""
    badarr = hits.groupBy(id_col).agg(
        F.array_sort(
            F.array_distinct(
                F.flatten(
                    F.collect_list(
                        F.sequence(
                            F.col("start"), F.col("start") + F.lit(k - 1)
                        )
                    )
                )
            )
        ).alias("_bad")
    )
    from .dedup import _spread

    toks = T.tokens(F.lower(F.col(text_col)))
    return (
        _spread(docs, id_col)
        .join(badarr, id_col)
        .select(
            F.col(id_col),
            F.size(toks).cast("long").alias("n_tokens"),
            F.size("_bad").cast("long").alias("n_removed"),
            F.array_join(
                F.filter(
                    toks,
                    lambda t, i: ~F.array_contains(
                        F.col("_bad"), i.cast("long")
                    ),
                ),
                " ",
            ).alias("clean_text"),
        )
    )


def exact_substring_self_dedup(
    docs: DataFrame,
    k: int = 7,
    id_col: str = "doc_id",
    text_col: str = "text",
    durable: bool | None = None,
) -> DataFrame:
    """Train×train exact-substring SELF-deduplication — the headline use
    of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better"): :func:`exact_span_decontaminate` removes training
    spans leaked from an EVAL suite; this operator removes spans the
    training corpus duplicates WITHIN ITSELF. Any k-token span occurring
    in ≥ 2 distinct docs keeps its occurrences only in the span's
    MINIMUM doc id (the survivor — deterministic, engine-replayable);
    every other doc holding the span deletes every covered token and
    re-joins the remainder (the paper's remove-the-span policy, via the
    same certified excision tail as :func:`excise_contaminated_spans`).
    Spans repeated only WITHIN one doc are untouched (single-doc
    repetition is :func:`gopher_repetition_ladder`'s subject, not
    cross-doc duplication).

    Returns one row per AFFECTED doc:
    ``(id, n_tokens, n_removed, clean_text)`` over the lowercased/
    whitespace-normalized token stream the matching runs on; a doc that
    is one big duplicated span comes back with ``clean_text = ''``.

    Scale design: stride-1 k-windows from :func:`sliding_token_windows`
    (in-row explode) project IMMEDIATELY to ``(id, start, md5)`` — no
    window text ever shuffles; the span relation feeds two consumers
    (the owner aggregation and the hit join), so it is materialized once
    (``durable`` as in :func:`~.persist.materialize_for_reuse`); owners
    come from one map-side-combined hash aggregation KEPT ONLY where
    ``min(id) != max(id)`` — unique spans (the overwhelming mass of a
    real corpus) never enter the hit join; everything is grouped by span
    hash — never all-pairs, no suffix array, no driver state.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from .persist import materialize_for_reuse

    w = sliding_token_windows(
        docs, size=k, stride=1, id_col=id_col, text_col=text_col
    )
    span = w.where(F.col("end") - F.col("start") == k).select(
        F.col(id_col), F.col("start"), F.md5("win_text").alias("_h")
    )
    span = materialize_for_reuse(span, durable=durable)
    dup = (
        span.groupBy("_h")
        .agg(F.min(id_col).alias("_owner"), F.max(id_col).alias("_mx"))
        .where(F.col("_owner") != F.col("_mx"))
        .select("_h", "_owner")
    )
    hits = (
        span.join(dup, "_h")
        .where(F.col(id_col) != F.col("_owner"))
        .select(F.col(id_col), F.col("start"))
    )
    return _excise_by_hits(docs, hits, k, id_col, text_col)


def unigram_logprob_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Unigram cross-entropy per document under the corpus's own unigram
    LM — the CCNet-style "LM quality" filtering proxy (docs of common
    language score low, gibberish/rare-token soup scores high).

    ``xent_nats = ln N − (Σ_t ln c_t) / n_doc`` over the document's token
    instances, where ``c_t`` is the corpus frequency and ``N`` the corpus
    token count.

    Scale design: one corpus-wide hash aggregation (map-side combined)
    builds the frequency table, the per-doc pass is a hash join on token +
    one aggregation; the corpus total rides a broadcast 1-row join (the
    tfidf pattern). Float discipline as in :func:`source_token_entropy`:
    each ``ln c`` is cast to DECIMAL(38,12) BEFORE summing, so the
    reduction is exact and order-independent under AQE.
    """
    from .dedup import _spread

    from .persist import materialize_for_reuse

    tok = _spread(docs, id_col).select(
        F.col(id_col), F.explode(T.tokens(F.lower(F.col(text_col)))).alias("token")
    )
    # the (vocab-bounded) frequency table feeds the per-doc join AND the
    # corpus total — materialize once or each consumer re-scans the corpus
    tc = materialize_for_reuse(tok.groupBy("token").agg(F.count("*").alias("c")))
    n_total = tc.agg(F.sum("c").alias("_N"))
    per = (
        tok.join(tc, "token")
        .join(F.broadcast(n_total))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.log("c").cast("decimal(38,12)")).alias("_s"),
            F.max("_N").alias("_N"),
        )
    )
    return per.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.round(
            F.log(F.col("_N")) - F.col("_s").cast("double") / F.col("n_tokens"), 6
        ).alias("xent_nats"),
    )


def _bigram_instances(
    docs: DataFrame, id_cols: list[str], text_col: str
) -> DataFrame:
    """(id_cols..., w1, w2) — one row per ordered token transition, built
    IN-ROW (two shifted slices zipped) so the only fan-out is the explode:
    no window, no self-join, no shuffle before the explode."""
    toks = T.tokens(F.lower(F.col(text_col)))
    m = F.greatest(F.size("_t") - 1, F.lit(0))
    return (
        docs.select(*id_cols, toks.alias("_t"))
        .select(
            *id_cols,
            F.explode(
                F.arrays_zip(
                    F.slice("_t", 1, m).alias("w1"),
                    F.slice("_t", 2, m).alias("w2"),
                )
            ).alias("_bg"),
        )
        .select(*id_cols, F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))
    )


def bigram_backoff_score(
    docs: DataFrame,
    lm_docs: DataFrame,
    alpha: float = 0.4,
    id_col: str = "doc_id",
    text_col: str = "text",
    durable: bool | None = None,
) -> DataFrame:
    """Stupid-Backoff bigram cross-entropy (Brants et al. 2007, "Large
    Language Models in Machine Translation") — the standard CCNet/KenLM
    quality-proxy shape one step up from
    :func:`unigram_logprob_score`: score each doc in ``docs`` under a
    bigram LM built from ``lm_docs`` (a reference corpus — e.g. the
    already-curated portion; scoring a corpus under itself makes the
    backoff branch dead since every observed bigram is in the LM).

    Per token transition::

        S(w2 | w1) = c(w1 w2) / c(w1)              seen bigram
                   = alpha * (c(w2) + 1) / (N + V)  backoff (add-one
                                                    unigram, so unseen
                                                    words stay finite)

    ``xent_nats = −(Σ ln S) / n_bigrams`` over the doc's ``n_tokens − 1``
    transitions; docs with < 2 tokens emit no row (no transitions to
    score). Lower = more LM-like.

    Scale design: bigram instances are built in-row (two shifted slices
    zipped — no window, no self-join); the LM tables are two corpus-wide
    map-side-combined hash aggregations; the per-doc pass is three hash
    equi-joins (bigram, w1-unigram, w2-unigram) + one aggregation; the
    (N, V) scalars ride a broadcast 1-row relation. The unigram LM
    relation feeds THREE consumers (both unigram joins + the scalars) —
    it is vocabulary-bounded, so it is materialized once rather than
    re-scanning the LM corpus per consumer (``durable`` picks the
    checkpoint kind, :func:`~.persist.materialize_for_reuse`). Float
    discipline as the whole LM-score family: every ``ln`` term casts to
    DECIMAL(38,12) before summing (exact, order-independent under AQE),
    final ``round(6) + 0.0`` (−0.0 repr guard).
    """
    from .dedup import _spread
    from .persist import materialize_for_reuse

    inst = _bigram_instances(_spread(docs, id_col), [id_col], text_col)
    lm_big = _bigram_instances(lm_docs, [], text_col)
    cb = lm_big.groupBy("w1", "w2").agg(F.count("*").alias("_cb"))
    cu = (
        lm_docs.select(F.explode(T.tokens(F.lower(F.col(text_col)))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("_cu"))
    )
    cu = materialize_for_reuse(cu, durable=durable)
    nv = cu.agg(F.sum("_cu").alias("_N"), F.count("*").alias("_V"))
    scored = (
        inst.join(cb, ["w1", "w2"], "left")
        .join(
            cu.select(F.col("w").alias("w1"), F.col("_cu").alias("_cu1")),
            "w1",
            "left",
        )
        .join(
            cu.select(F.col("w").alias("w2"), F.col("_cu").alias("_cu2")),
            "w2",
            "left",
        )
        .join(F.broadcast(nv))
    )
    # seen bigram implies seen w1 (c(w1 w2) <= c(w1)), so _cu1 is never
    # NULL on that branch; S <= 1 there, hence ln S <= 0 and xent >= 0
    term = F.when(
        F.col("_cb").isNotNull(), F.log(F.col("_cb") / F.col("_cu1"))
    ).otherwise(
        F.log(
            F.lit(float(alpha))
            * (F.coalesce("_cu2", F.lit(0)) + F.lit(1))
            / (F.col("_N") + F.col("_V"))
        )
    )
    per = scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.sum(term.cast("decimal(38,12)")).alias("_s"),
    )
    return per.select(
        F.col(id_col),
        F.col("n_bigrams"),
        (
            F.round(-F.col("_s").cast("double") / F.col("n_bigrams"), 6)
            + F.lit(0.0)
        ).alias("xent_nats"),
    )


def kneser_ney_score(
    docs: DataFrame,
    lm_docs: DataFrame,
    discount: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    durable: bool | None = None,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram cross-entropy (Kneser & Ney 1995;
    Chen & Goodman 1998's interpolated formulation) — the smoothing
    family KenLM actually implements, next to the cruder Stupid-Backoff
    of :func:`bigram_backoff_score` (CCNet's filter is a KN-smoothed
    KenLM model). Per transition, with absolute discount ``D``::

        P(w2 | w1) = max(c(w1 w2) − D, 0) / c(w1 ·)
                     + D · N1+(w1 ·) / c(w1 ·) · Pcont(w2)   seen context
                   = Pcont(w2)                                unseen context

        Pcont(w2)  = (N1+(· w2) + 1) / (T + V)

    where ``c(w1 ·) = Σ_w2 c(w1 w2)`` is the CONTEXT count (the
    denominator under which the discounted mass exactly normalizes —
    the raw unigram count over-counts w1 occurrences with no
    follower), ``N1+(w1 ·)`` / ``N1+(· w2)`` are the distinct-follower
    / distinct-predecessor type counts, ``T`` the number of distinct
    bigram types and ``V`` the vocabulary size. The +1/(T+V) add-one
    floor on the continuation distribution is this implementation's
    end-of-recursion smoothing (Chen & Goodman end at uniform 1/V):
    it keeps unseen words finite — the same role the add-one unigram
    plays in :func:`bigram_backoff_score` — while preserving KN's
    signature property that Pcont ranks words by how many CONTEXTS
    they complete, not how often they occur ("Francisco" scores low
    despite high frequency). Every seen context has ≥ 1 distinct
    follower, so the interpolation weight is ≥ D/c(w1 ·) > 0 and P is
    always strictly positive. A w1 observed ONLY as the final token of
    LM docs has no followers, hence no context row — it takes the
    unseen-context branch by construction. Returns
    ``(id, n_bigrams, xent_nats)`` with ``xent_nats = −(Σ ln P) /
    n_bigrams`` over the doc's n_tokens − 1 transitions; docs with
    < 2 tokens emit no row.

    Scale design mirrors the backoff scorer: in-row bigram instances
    (shifted-slice zip, no window); the LM side is ONE bigram hash agg
    — materialized once, since the context totals, follower and
    predecessor type counts and the T scalar ALL derive from it — plus
    one unigram agg feeding only the V scalar; the per-doc pass is
    three hash equi-joins (bigram, w1 context relation, w2
    continuation relation) + a broadcast 1-row (T, V) relation + one
    aggregation. All counts are vocabulary-bounded. Float discipline
    as the LM family: DECIMAL(38,12) term sums (AQE-order-
    independent), round(6) + 0.0 on the final double."""
    from .dedup import _spread
    from .persist import materialize_for_reuse

    D = float(discount)
    if not (0.0 < D < 1.0):
        raise ValueError(f"discount must be in (0, 1), got {discount}")
    inst = _bigram_instances(_spread(docs, id_col), [id_col], text_col)
    lm_big = _bigram_instances(lm_docs, [], text_col)
    # the bigram-type relation feeds FOUR consumers (instance join,
    # context relation, continuation relation, T scalar)
    cb = materialize_for_reuse(
        lm_big.groupBy("w1", "w2").agg(F.count("*").alias("_cb")),
        durable=durable,
    )
    ctx = cb.groupBy("w1").agg(
        F.sum("_cb").alias("_c1"), F.count("*").alias("_nf1")
    )
    bwd = cb.groupBy("w2").agg(F.count("*").alias("_nb2"))
    tv = cb.agg(F.count("*").alias("_T")).crossJoin(
        lm_docs.select(
            F.explode(T.tokens(F.lower(F.col(text_col)))).alias("w")
        )
        .agg(F.count_distinct("w").alias("_V"))
    )
    scored = (
        inst.join(cb, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .join(bwd, "w2", "left")
        .join(F.broadcast(tv))
    )
    pcont = (F.coalesce("_nb2", F.lit(0)) + F.lit(1)) / (
        F.col("_T") + F.col("_V")
    )
    # seen context implies _nf1 >= 1, and coalesce(_cb, 0) zeroes the
    # discounted term on unseen bigrams (greatest floors the negative)
    term = F.when(
        F.col("_c1").isNotNull(),
        F.log(
            F.greatest(
                F.coalesce("_cb", F.lit(0)) - F.lit(D), F.lit(0.0)
            )
            / F.col("_c1")
            + F.lit(D) * F.col("_nf1") / F.col("_c1") * pcont
        ),
    ).otherwise(F.log(pcont))
    per = scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.sum(term.cast("decimal(38,12)")).alias("_s"),
    )
    return per.select(
        F.col(id_col),
        F.col("n_bigrams"),
        (
            F.round(-F.col("_s").cast("double") / F.col("n_bigrams"), 6)
            + F.lit(0.0)
        ).alias("xent_nats"),
    )


def kneser_ney_trigram_score(
    docs: DataFrame,
    lm_docs: DataFrame,
    discount: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    durable: bool | None = None,
) -> DataFrame:
    """Interpolated Kneser-Ney TRIGRAM cross-entropy — the recursive
    Chen & Goodman 1998 chain one order above :func:`kneser_ney_score`,
    with every level's counts derived from ONE materialized trigram-type
    relation (the n-gram-relation pattern of
    :func:`trigram_backoff_score`). With absolute discount ``D``::

        P(w3 | w1 w2) = max(c(w1 w2 w3) − D, 0) / c(w1 w2 ·)
                        + D · N1+(w1 w2 ·) / c(w1 w2 ·) · P(w3 | w2)
                      = P(w3 | w2)                      unseen (w1 w2)

        P(w3 | w2)    = max(n(w2 w3) − D, 0) / n(w2 ·)
                        + D · N1+cont(w2 ·) / n(w2 ·) · Pcont(w3)
                      = Pcont(w3)                       unseen w2 ctx

        Pcont(w3)     = (N1+(· w3) + 1) / (T + V)

    where the MIDDLE level runs on CONTINUATION counts ``n(w2 w3) =
    N1+(· w2 w3)`` (distinct w1 preceding the bigram — Chen & Goodman's
    defining substitution: lower-order levels count how many contexts a
    unit completes, not how often it occurs), ``c(w1 w2 ·)`` /
    ``n(w2 ·)`` are the context totals under which each discounted
    level exactly normalizes, ``N1+(w1 w2 ·)`` / ``N1+cont(w2 ·)`` the
    distinct-follower type counts at each level, ``N1+(· w3)`` the
    distinct-predecessor count IN the continuation type space, ``T``
    the number of continuation bigram types and ``V`` the vocabulary
    size — the same +1/(T+V) end-of-recursion floor as the bigram
    scorer (strictly positive P for any token). Every evaluated
    transition with a seen (w1 w2) context has ≥ 1 distinct follower,
    and a seen trigram implies a seen continuation bigram, so no
    in-branch denominator is ever NULL. Returns ``(id, n_trigrams,
    xent_nats)`` with ``xent_nats = −(Σ ln P) / n_trigrams`` over the
    doc's n_tokens − 2 transitions; docs with < 3 tokens emit no row.

    Scale design: in-row trigram instances (three shifted slices
    zipped, no window); the LM side is ONE trigram hash agg
    materialized once — context totals (w1 w2), continuation counts
    (w2 w3), their (w2) totals, predecessor counts (w3) and the T
    scalar ALL derive from it — plus one unigram agg feeding only the
    V scalar; the per-doc pass is five hash equi-joins + a broadcast
    1-row (T, V) relation + one aggregation, all vocabulary-bounded.
    Float discipline as the LM family: DECIMAL(38,12) term sums
    (AQE-order-independent), round(6) + 0.0 on the final double."""
    from .dedup import _spread
    from .persist import materialize_for_reuse

    D = float(discount)
    if not (0.0 < D < 1.0):
        raise ValueError(f"discount must be in (0, 1), got {discount}")
    inst = _trigram_instances(_spread(docs, id_col), [id_col], text_col)
    # the trigram-type relation feeds FIVE consumers (instance join,
    # trigram-context relation, continuation relation and everything
    # derived from it)
    c3 = materialize_for_reuse(
        _trigram_instances(lm_docs, [], text_col)
        .groupBy("w1", "w2", "w3")
        .agg(F.count("*").alias("_c3")),
        durable=durable,
    )
    ctx3 = c3.groupBy("w1", "w2").agg(
        F.sum("_c3").alias("_c12"), F.count("*").alias("_nf12")
    )
    # continuation counts n(w2 w3) = N1+(· w2 w3): distinct w1 per
    # (w2, w3) — feeds the instance join, the (w2) totals, the (w3)
    # predecessor counts and the T scalar
    n2 = materialize_for_reuse(
        c3.groupBy("w2", "w3").agg(F.count("*").alias("_n2")),
        durable=durable,
    )
    ctx2 = n2.groupBy("w2").agg(
        F.sum("_n2").alias("_cv"), F.count("*").alias("_nfv")
    )
    bwd = n2.groupBy("w3").agg(F.count("*").alias("_nb3"))
    tv = n2.agg(F.count("*").alias("_T")).crossJoin(
        lm_docs.select(
            F.explode(T.tokens(F.lower(F.col(text_col)))).alias("w")
        ).agg(F.count_distinct("w").alias("_V"))
    )
    scored = (
        inst.join(c3, ["w1", "w2", "w3"], "left")
        .join(ctx3, ["w1", "w2"], "left")
        .join(n2, ["w2", "w3"], "left")
        .join(ctx2, "w2", "left")
        .join(bwd, "w3", "left")
        .join(F.broadcast(tv))
    )
    pcont = (F.coalesce("_nb3", F.lit(0)) + F.lit(1)) / (
        F.col("_T") + F.col("_V")
    )
    p2 = F.when(
        F.col("_cv").isNotNull(),
        F.greatest(F.coalesce("_n2", F.lit(0)) - F.lit(D), F.lit(0.0))
        / F.col("_cv")
        + F.lit(D) * F.col("_nfv") / F.col("_cv") * pcont,
    ).otherwise(pcont)
    p3 = F.when(
        F.col("_c12").isNotNull(),
        F.greatest(F.coalesce("_c3", F.lit(0)) - F.lit(D), F.lit(0.0))
        / F.col("_c12")
        + F.lit(D) * F.col("_nf12") / F.col("_c12") * p2,
    ).otherwise(p2)
    per = scored.groupBy(id_col).agg(
        F.count("*").alias("n_trigrams"),
        F.sum(F.log(p3).cast("decimal(38,12)")).alias("_s"),
    )
    return per.select(
        F.col(id_col),
        F.col("n_trigrams"),
        (
            F.round(-F.col("_s").cast("double") / F.col("n_trigrams"), 6)
            + F.lit(0.0)
        ).alias("xent_nats"),
    )


def _trigram_instances(
    docs: DataFrame, id_cols: list[str], text_col: str
) -> DataFrame:
    """(id_cols..., w1, w2, w3) — one row per ordered token triple, built
    IN-ROW (three shifted slices zipped, the :func:`_bigram_instances`
    construction one step up): no window, no self-join, no shuffle before
    the explode."""
    toks = T.tokens(F.lower(F.col(text_col)))
    m = F.greatest(F.size("_t") - 2, F.lit(0))
    return (
        docs.select(*id_cols, toks.alias("_t"))
        .select(
            *id_cols,
            F.explode(
                F.arrays_zip(
                    F.slice("_t", 1, m).alias("w1"),
                    F.slice("_t", 2, m).alias("w2"),
                    F.slice("_t", 3, m).alias("w3"),
                )
            ).alias("_tg"),
        )
        .select(
            *id_cols,
            F.col("_tg.w1").alias("w1"),
            F.col("_tg.w2").alias("w2"),
            F.col("_tg.w3").alias("w3"),
        )
    )


def trigram_backoff_score(
    docs: DataFrame,
    lm_docs: DataFrame,
    alpha: float = 0.4,
    id_col: str = "doc_id",
    text_col: str = "text",
    durable: bool | None = None,
) -> DataFrame:
    """Stupid-Backoff TRIGRAM cross-entropy — the recursive backoff chain
    of Brants et al. 2007 one level above :func:`bigram_backoff_score`
    (the paper's recipe applies the same α-discounted relative-frequency
    step at every order). Per token transition::

        S(w3 | w1 w2) = c(w1 w2 w3) / c(w1 w2)          seen trigram
                      = α · c(w2 w3) / c(w2)             seen bigram
                      = α² · (c(w3) + 1) / (N + V)       add-one unigram

    ``xent_nats = −(Σ ln S) / n_trigrams`` over the doc's
    ``n_tokens − 2`` transitions; docs with < 3 tokens emit no row.
    Lower = more LM-like. A seen trigram implies a seen (w1 w2) bigram
    and a seen bigram implies a seen w2, so neither in-branch
    denominator is ever NULL and every branch has S ≤ 1 except the
    α-discounted ones (bounded by α, α²) — xent stays finite for any
    input.

    Scale design (the :func:`bigram_backoff_score` shape, one order up):
    trigram instances are built in-row (three shifted slices zipped);
    the LM tables are three corpus-wide map-side-combined hash
    aggregations; the per-doc pass is five hash equi-joins (trigram,
    both bigram roles, both unigram roles) + one aggregation; the (N, V)
    scalars ride a broadcast 1-row relation. The bigram LM relation
    feeds TWO consumers (the (w1 w2) denominator join and the (w2 w3)
    backoff join) and the unigram relation THREE (both word roles + the
    scalars) — both are vocabulary-bounded and materialized once
    (``durable``: :func:`~.persist.materialize_for_reuse`). Float
    discipline as the whole LM-score family: every ``ln`` term casts to
    DECIMAL(38,12) before summing, final ``round(6) + 0.0``.
    """
    from .dedup import _spread
    from .persist import materialize_for_reuse

    inst = _trigram_instances(_spread(docs, id_col), [id_col], text_col)
    c3 = (
        _trigram_instances(lm_docs, [], text_col)
        .groupBy("w1", "w2", "w3")
        .agg(F.count("*").alias("_c3"))
    )
    c2 = (
        _bigram_instances(lm_docs, [], text_col)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("_c2"))
    )
    c2 = materialize_for_reuse(c2, durable=durable)
    cu = (
        lm_docs.select(F.explode(T.tokens(F.lower(F.col(text_col)))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("_cu"))
    )
    cu = materialize_for_reuse(cu, durable=durable)
    nv = cu.agg(F.sum("_cu").alias("_N"), F.count("*").alias("_V"))
    scored = (
        inst.join(c3, ["w1", "w2", "w3"], "left")
        .join(
            c2.select("w1", "w2", F.col("_c2").alias("_c12")),
            ["w1", "w2"],
            "left",
        )
        .join(
            c2.select(
                F.col("w1").alias("w2"),
                F.col("w2").alias("w3"),
                F.col("_c2").alias("_c23"),
            ),
            ["w2", "w3"],
            "left",
        )
        .join(
            cu.select(F.col("w").alias("w2"), F.col("_cu").alias("_cu2")),
            "w2",
            "left",
        )
        .join(
            cu.select(F.col("w").alias("w3"), F.col("_cu").alias("_cu3")),
            "w3",
            "left",
        )
        .join(F.broadcast(nv))
    )
    a = F.lit(float(alpha))
    term = (
        F.when(F.col("_c3").isNotNull(), F.log(F.col("_c3") / F.col("_c12")))
        .when(
            F.col("_c23").isNotNull(),
            F.log(a * F.col("_c23") / F.col("_cu2")),
        )
        .otherwise(
            F.log(
                (a * a)
                * (F.coalesce("_cu3", F.lit(0)) + F.lit(1))
                / (F.col("_N") + F.col("_V"))
            )
        )
    )
    per = scored.groupBy(id_col).agg(
        F.count("*").alias("n_trigrams"),
        F.sum(term.cast("decimal(38,12)")).alias("_s"),
    )
    return per.select(
        F.col(id_col),
        F.col("n_trigrams"),
        (
            F.round(-F.col("_s").cast("double") / F.col("n_trigrams"), 6)
            + F.lit(0.0)
        ).alias("xent_nats"),
    )


def dsir_logratio(
    docs: DataFrame,
    target_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int | None = None,
) -> DataFrame:
    """DSIR-style importance score (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", unigram feature space):
    per raw doc, the mean per-token log-ratio ``ln p_target(t) − ln
    p_raw(t)`` under add-one-smoothed unigram LMs over the shared
    vocabulary. Positive = more target-like; feed the score into
    :func:`quality_weighted_sample` / :func:`select_to_token_budget` for
    the resampling step.

    Scale design: two corpus-wide map-side-combined hash aggregations
    build the frequency tables; the vocabulary union is one full-outer
    join bounded by VOCABULARY size, not corpus size; the three scalars
    (N_raw, N_target, V) ride a broadcast 1-row relation; the per-doc
    pass is one token equi-join + hash agg. Each log-ratio term casts to
    DECIMAL(38,12) before summing so the reduction is exact and
    order-independent under AQE (the :func:`unigram_logprob_score`
    discipline).

    ``n_buckets`` (optional) switches to the paper's actual feature
    space: tokens HASH into ``n_buckets`` buckets (Xie et al. 2023 use
    10k hashed n-gram buckets) and the two LMs are fit over bucket
    counts. This bounds BOTH frequency tables and the vocabulary outer
    join by a constant of the caller's choosing — on a web-scale corpus
    the raw-token vocabulary is itself unbounded, so the hashed form is
    the 100 TB-safe one. The bucket function is the engine-replayable
    md5 52-bit integer mod ``n_buckets``; V becomes the number of
    OBSERVED buckets (same observed-support smoothing as the raw form).
    """
    from .dedup import _spread

    def feat(col):
        if n_buckets is None:
            return col
        return F.pmod(
            F.conv(F.substring(F.md5(col), 1, 13), 16, 10).cast("long"),
            F.lit(int(n_buckets)),
        )

    tok = (
        _spread(docs, id_col)
        .select(
            F.col(id_col),
            F.explode(T.tokens(F.lower(F.col(text_col)))).alias("_w"),
        )
        .select(F.col(id_col), feat(F.col("_w")).alias("token"))
    )
    ttok = target_docs.select(
        F.explode(T.tokens(F.lower(F.col(text_col)))).alias("_w")
    ).select(feat(F.col("_w")).alias("token"))
    cr = tok.groupBy("token").agg(F.count("*").alias("cr"))
    ct = ttok.groupBy("token").agg(F.count("*").alias("ct"))
    from .persist import materialize_for_reuse

    # the (vocabulary-bounded) LM table feeds the scalar agg AND the
    # per-doc join — materialize once or both full frequency
    # aggregations (raw + target corpus scans) re-run per consumer
    vocab = materialize_for_reuse(
        cr.join(ct, "token", "full_outer").select(
            "token",
            F.coalesce("cr", F.lit(0)).alias("cr"),
            F.coalesce("ct", F.lit(0)).alias("ct"),
        )
    )
    scal = vocab.agg(
        F.sum("cr").alias("_Nr"), F.sum("ct").alias("_Nt"), F.count("*").alias("_V")
    )
    lr = F.log((F.col("ct") + 1) / (F.col("_Nt") + F.col("_V"))) - F.log(
        (F.col("cr") + 1) / (F.col("_Nr") + F.col("_V"))
    )
    per = (
        tok.join(vocab, "token")
        .join(F.broadcast(scal))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(lr.cast("decimal(38,12)")).alias("_s"),
        )
    )
    # + 0.0 collapses IEEE negative zero (a tiny negative mean rounds to
    # -0.0 in engines that round by multiply — repr-level parity breaks)
    return per.select(
        F.col(id_col),
        F.col("n_tokens"),
        (F.round(F.col("_s").cast("double") / F.col("n_tokens"), 6) + F.lit(0.0)).alias(
            "dsir_logratio"
        ),
    )


def seeded_bucket_weights(
    spark,
    n_buckets: int,
    scale: float = 0.0625,
    prefix: str = "qw",
) -> DataFrame:
    """Deterministic pseudo-weights for the hashed linear classifier's
    SCORING path: one row per bucket, ``weight = (2u − 1) · scale`` with
    ``u`` the md5 52-bit uniform of ``prefix:bucket`` — the engine's
    standard replayable randomness (any SQL engine reproduces it from
    the same md5 expression). The default scale keeps mean-pooled
    margins well inside the sigmoid's linear region so scores stay
    diverse rather than saturating at 0/1."""
    b = F.col("id").cast("long")
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(prefix + ":"), b.cast("string"))), 1, 13
        ),
        16,
        10,
    ).cast("long") / F.lit(2.0**52)
    return spark.range(int(n_buckets)).select(
        b.alias("bucket"),
        ((u * F.lit(2.0) - F.lit(1.0)) * F.lit(float(scale))).alias("weight"),
    )


def _md5_bucket(col, n_buckets: int):
    """The engine-replayable hashed feature space shared by
    :func:`dsir_logratio` and the quality classifier: md5 52-bit uniform
    integer mod ``n_buckets``."""
    return F.pmod(
        F.conv(F.substring(F.md5(col), 1, 13), 16, 10).cast("long"),
        F.lit(int(n_buckets)),
    )


def quality_classifier_score(
    docs: DataFrame,
    weights: DataFrame,
    intercept: float = 0.0,
    n_buckets: int = 1024,
    pooling: str = "mean",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """fastText-style hashed linear quality classifier — SCORING path
    (Joulin et al. 2016 "Bag of Tricks for Efficient Text
    Classification"; CCNet pairs exactly this kind of linear classifier
    with its LM perplexity signal). Tokens hash into ``n_buckets`` md5
    buckets (the :func:`dsir_logratio` feature space — engine-replayable
    by construction), each bucket carries a learned or seeded weight,
    and the doc scores ``sigmoid(pool(Σ w_bucket(t)) + intercept)`` —
    ``pooling="mean"`` is fastText's average pooling; ``pooling="sum"``
    is the raw count-feature margin (use with
    :func:`fit_quality_classifier` output so scores equal the fitted
    model's probabilities). Returns ``(id, n_tokens, quality_score)``;
    docs with no tokens emit no row; buckets absent from ``weights``
    contribute weight 0.

    Scale design: scoring is one in-row explode + ONE broadcast
    equi-join against the bucket-bounded weights relation (constant
    size by construction) + one map-side-combined per-doc aggregation —
    pure JVM expressions, no UDFs, no driver state. Weight terms cast
    to DECIMAL(38,12) before summing (exact, order-independent under
    AQE); final ``round(6)``.
    """
    if pooling not in ("mean", "sum"):
        raise ValueError(f"pooling must be 'mean' or 'sum', got {pooling!r}")
    from .dedup import _spread

    tok = _spread(docs, id_col).select(
        F.col(id_col),
        F.explode(T.tokens(F.lower(F.col(text_col)))).alias("_w"),
    )
    bexpr = _md5_bucket(F.col("_w"), n_buckets)
    per = (
        tok.select(F.col(id_col), bexpr.alias("bucket"))
        .join(F.broadcast(weights), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.coalesce("weight", F.lit(0.0)).cast("decimal(38,12)")
            ).alias("_s"),
        )
    )
    margin = F.col("_s").cast("double")
    if pooling == "mean":
        margin = margin / F.col("n_tokens")
    margin = margin + F.lit(float(intercept))
    return per.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)), 6).alias(
            "quality_score"
        ),
    )


def fit_quality_classifier(
    labeled_docs: DataFrame,
    n_buckets: int = 1024,
    label_col: str = "label",
    id_col: str = "doc_id",
    text_col: str = "text",
    reg_param: float = 0.01,
    max_iter: int = 50,
) -> tuple[DataFrame, float]:
    """Fit the hashed linear quality classifier on a LABELED sample with
    Spark ML ``LogisticRegression`` over md5-bucket count features — the
    public-API realization of the fastText/CCNet linear quality model,
    in the SAME engine-replayable feature space the scoring path uses
    (Spark ML's ``HashingTF`` is deliberately avoided: its Murmur3
    variant, ``hashUnsafeBytes2``, has no SQL-expression twin, so its
    indices could never be replayed engine-side). Returns
    ``(weights, intercept)``: the ``(bucket, weight)`` relation
    (non-zero coefficients only, ≤ ``n_buckets`` rows) and the bias —
    score new corpora with :func:`quality_classifier_score`
    ``(pooling="sum")`` and the scores equal the fitted model's
    ``sigmoid(coef·counts + intercept)``.

    The feature vectors are built WITHOUT Python UDFs: per-doc bucket
    counts (one hash agg) collapse to a bucket→count map, a ``transform``
    over ``sequence(0, B−1)`` densifies it in-row, and
    ``pyspark.ml.functions.array_to_vector`` converts JVM-side.

    NOTE: fitting executes driver jobs at CALL time (the ML optimizer
    iterates); the model state is bounded by ``n_buckets`` coefficients
    — a constant of the caller's choosing, never corpus-scale. The
    labeled sample is the small relation here (human/LLM labels are the
    scarce resource); the SCORING path is the corpus-scale one and
    stays a broadcast join.
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    B = int(n_buckets)
    spark = labeled_docs.sparkSession
    tok = labeled_docs.select(
        F.col(id_col),
        F.explode(T.tokens(F.lower(F.col(text_col)))).alias("_w"),
    )
    cnt = (
        tok.select(F.col(id_col), _md5_bucket(F.col("_w"), B).alias("_b"))
        .groupBy(id_col, "_b")
        .agg(F.count("*").cast("double").alias("_c"))
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(B - 1)).cast("array<bigint>"),
        lambda b: F.coalesce(F.element_at(F.col("_m"), b), F.lit(0.0)),
    )
    feat = (
        cnt.groupBy(id_col)
        .agg(
            F.map_from_entries(F.collect_list(F.struct("_b", "_c"))).alias(
                "_m"
            )
        )
        .join(
            labeled_docs.select(
                F.col(id_col), F.col(label_col).cast("double").alias("label")
            ),
            id_col,
        )
        .select("label", array_to_vector(dense).alias("features"))
    )
    lr = LogisticRegression(
        featuresCol="features",
        labelCol="label",
        regParam=float(reg_param),
        maxIter=int(max_iter),
    )
    model = lr.fit(feat)
    rows = [
        (int(i), float(v))
        for i, v in enumerate(model.coefficients.toArray())
        if v != 0.0
    ]
    weights = spark.createDataFrame(rows, "bucket long, weight double")
    return weights, float(model.intercept)


def mixture_rates(
    docs: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Data-mixture planning: per-source deterministic sampling rates that
    hit a ``token_budget`` at the requested mixture ``weights`` (the
    reweighting step a pretraining pipeline runs before sampling — cf.
    The Pile / Gopher mixture tables).

    For each source s with available tokens ``T_s`` and normalized target
    weight ``w_s``: ``rate_s = min(1, budget·w_s / T_s)`` — capped at 1
    because a source cannot yield more tokens than it has (the shortfall
    is reported, not silently re-spread, so the operator is a pure
    function of its inputs). Returns
    ``(source, n_docs, n_tokens, target_frac, rate, expected_tokens)``.

    One map-side-combined aggregation; weights/budget are plan literals.
    Feed ``rate`` into :func:`quality_weighted_sample`-style md5-uniform
    filters (``sample_mixture``) for the actual draw.
    """
    wsum = float(sum(weights.values()))
    if wsum <= 0:
        raise ValueError("mixture weights must sum > 0")
    frac = F.create_map(
        *[x for k, v in weights.items() for x in (F.lit(k), F.lit(float(v) / wsum))]
    )
    per = docs.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        # NULL-safety lives in T.tokens (NULL text -> []), so size is
        # always a plain non-negative count here
        F.sum(F.size(T.tokens(F.lower(F.col(text_col))))).alias("n_tokens"),
    )
    tf = F.coalesce(F.element_at(frac, F.col(group_col)), F.lit(0.0))
    # zero-token guard: budget·tf/0 is NULL (or a DIVIDE_BY_ZERO under
    # ANSI), and least() SKIPS nulls — an empty source would silently get
    # rate 1.0 instead of contributing nothing
    rate = F.when(
        F.col("n_tokens") > 0,
        F.least(F.lit(1.0), F.lit(float(token_budget)) * tf / F.col("n_tokens")),
    ).otherwise(F.lit(0.0))
    return per.select(
        group_col,
        "n_docs",
        "n_tokens",
        F.round(tf, 6).alias("target_frac"),
        F.round(rate, 6).alias("rate"),
        F.round(rate * F.col("n_tokens"), 6).alias("expected_tokens"),
    )


def sample_mixture(
    docs: DataFrame,
    rates: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: int | str = 0,
) -> DataFrame:
    """Draw the mixture: keep each doc with its source's planned ``rate``
    via the replayable md5 uniform. The rates relation is tiny (one row
    per source) — broadcast join, then a pure per-row expression filter;
    deterministic across retries, partitionings, and engines."""
    u = hash_uniform(seed, F.col(id_col))
    return docs.join(
        F.broadcast(rates.select(group_col, "rate")), group_col
    ).where(u < F.col("rate"))


def sliding_token_windows(
    docs: DataFrame,
    size: int,
    stride: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping token-window chunking for long documents (the
    embedding/RAG chunker: windows of ``size`` tokens every ``stride``
    tokens, so consecutive windows overlap by ``size − stride``).

    Emits ``(id, win_id, start, end, win_text)`` — one row per window,
    where ``start``/``end`` are 0-based token offsets (``end`` exclusive,
    clamped to the doc) and ``win_text`` re-joins the window's tokens.
    Every doc emits at least one window (short docs emit themselves).

    One layout-decoupling hash repartition (``dedup._spread`` — a
    single-file corpus would otherwise chunk in one scan task), then pure
    in-row expression work: tokenize once, ``explode(sequence(...))`` over
    window starts, ``slice`` per window; the explode fan-out is
    ≤ n_tokens/stride rows per doc and never shuffles again.
    """
    if size <= 0 or stride <= 0:
        raise ValueError("size and stride must be positive")
    from .dedup import _spread

    # NULL text tokenizes to [] at the T.tokens choke point -> one empty
    # window per NULL doc, no NULL plumbing
    toks = T.tokens(F.lower(F.col(text_col)))
    base = _spread(docs, id_col).select(
        F.col(id_col), toks.alias("_toks"), F.size(toks).alias("_n")
    )
    # last start = the largest multiple of stride strictly below n (so a
    # doc with n <= size still gets exactly one window at 0)
    last = F.greatest(
        F.lit(0),
        (F.floor((F.greatest(F.col("_n"), F.lit(1)) - 1) / F.lit(stride))
         * F.lit(stride)).cast("int"),
    )
    # drop trailing windows fully covered by the previous one: keep start
    # 0 and any start with start + size within-or-first-to-cross n
    win = base.select(
        F.col(id_col),
        "_toks",
        "_n",
        F.explode(F.sequence(F.lit(0), last, F.lit(stride))).alias("start"),
    ).where(
        (F.col("start") == 0) | (F.col("start") - F.lit(stride) + F.lit(size) < F.col("_n"))
    )
    end = F.least(F.col("start") + F.lit(size), F.col("_n"))
    return win.select(
        F.col(id_col),
        (F.col("start") / F.lit(stride)).cast("long").alias("win_id"),
        F.col("start").cast("long").alias("start"),
        end.cast("long").alias("end"),
        F.array_join(
            F.slice(F.col("_toks"), F.col("start") + 1, F.lit(size)), " "
        ).alias("win_text"),
    )


def _doc_ngrams(
    df: DataFrame, n: int, id_col: str, text_col: str, out_id: str
) -> DataFrame:
    """Distinct lowercase word n-grams per document — the shared probe
    shape of :func:`ngram_overlap` and the Bloom decontamination pair."""
    toks = T.tokens(F.lower(F.col(text_col)))
    return df.select(
        F.col(id_col).alias(out_id),
        F.explode(F.array_distinct(T.ngrams_from_tokens(toks, n))).alias("ng"),
    )


def bloom_bits(
    eval_docs: DataFrame,
    n: int = 7,
    m_bits: int = 262_144,
    k_hashes: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Build a Bloom filter over an eval/benchmark set's word n-grams,
    represented as its SET-BIT relation: one ``bit`` column, distinct
    positions in ``[0, m_bits)`` (Bloom 1970). Each n-gram sets
    ``k_hashes`` positions ``md5(ng || '#j') mod m_bits`` — the
    engine-replayable hash family shared with :func:`_md5_bucket`.

    The set-bit relation is semantically the filter (membership =
    "every probed position present") and is bounded by ``m_bits`` rows
    regardless of eval-set size — fixed-size, broadcastable state, and
    mergeable across shards by plain set union (``unionByName`` +
    ``distinct``), exactly like the HLL/GK sketches. A packed
    ``m_bits/64``-long bitmap is a constant-factor encoding of the same
    relation; the relational form keeps the membership test a hash join
    the oracle can replay.
    """
    if m_bits <= 0 or k_hashes <= 0:
        raise ValueError("m_bits and k_hashes must be positive")
    grams = _doc_ngrams(eval_docs, n, id_col, text_col, "eval_id")
    pos = F.array(
        *[
            _md5_bucket(F.concat(F.col("ng"), F.lit(f"#{j}")), m_bits)
            for j in range(k_hashes)
        ]
    )
    return grams.select(F.explode(pos).alias("bit")).distinct()


def bloom_decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 7,
    m_bits: int = 262_144,
    k_hashes: int = 4,
    flag_threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bloom-filter benchmark decontamination — the fixed-memory form of
    :func:`ngram_overlap` (the shape Brown et al. 2020 appendix C and
    Soldaini et al. 2024 (Dolma) use at corpus scale: the eval side
    compresses to a bitmap, never a joinable n-gram table).

    Per train document: how many of its distinct word ``n``-grams the
    eval-set Bloom filter claims to contain. Returns ``(doc_id,
    n_ngrams, n_bloom_hits, hit_frac, flagged)`` for every train doc
    with at least one n-gram; ``flagged`` compares the ROUNDED fraction
    to ``flag_threshold`` so engine and oracle agree at the boundary.

    False positives are part of the (deterministic) semantics: a hit
    means "all k md5 positions set", which the md5 family replays
    exactly in the DuckDB oracle — there is no RNG and no approximation
    drift, just the documented Bloom FP rate ≈ (1 − e^{−kN/m})^k.

    Scale design: the filter is ≤ ``m_bits`` rows of bounded state
    (broadcast), so the train side — the 100 TB side — is ONE scan:
    tokenize in-row, probe via a broadcast hash join, collapse with one
    per-doc aggregation. Nothing eval-sized ever shuffles with the
    corpus, which is the whole point of the Bloom form over
    :func:`ngram_overlap`'s n-gram equi-join when the eval suite is
    large.
    """
    from .dedup import _spread

    bits = F.broadcast(
        bloom_bits(eval_docs, n, m_bits, k_hashes, id_col, text_col)
        .withColumn("_in", F.lit(1))
    )
    probe = _doc_ngrams(_spread(train, id_col), n, id_col, text_col, "doc_id")
    probed = probe.select(
        "doc_id",
        "ng",
        F.explode(
            F.array(
                *[
                    _md5_bucket(F.concat(F.col("ng"), F.lit(f"#{j}")), m_bits)
                    for j in range(k_hashes)
                ]
            )
        ).alias("bit"),
    )
    per_gram = (
        probed.join(bits, "bit", "left")
        .groupBy("doc_id", "ng")
        .agg((F.count("_in") == k_hashes).alias("hit"))
    )
    frac = F.round(
        F.sum(F.col("hit").cast("int")) / F.count("*"), 6
    )
    return per_gram.groupBy("doc_id").agg(
        F.count("*").alias("n_ngrams"),
        F.sum(F.col("hit").cast("int")).cast("bigint").alias("n_bloom_hits"),
        frac.alias("hit_frac"),
        (frac >= F.lit(float(flag_threshold))).alias("flagged"),
    )


def countmin_sketch(
    docs: DataFrame,
    depth: int = 3,
    width: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Count-Min sketch of corpus token frequencies (Cormode &
    Muthukrishnan 2005): ``depth`` hash rows × ``width`` counters;
    every token occurrence adds its count to cell ``(r, md5(token ||
    '#r') mod width)``. Returns the counter relation ``(r, c, counter)``
    — ≤ ``depth·width`` rows of bounded state, mergeable across corpus
    shards by summing matching cells (the defining sketch property,
    same contract as the HLL/GK keys).

    Build cost: ONE corpus-scale hash aggregation (token counts,
    map-side combined — the :func:`build_vocab` agg), then the
    ``depth``-way fan-out and cell aggregation run on the vocab-bounded
    relation only. The md5 hash family replays in DuckDB, so estimates
    are deterministic and fully oracle-checkable.
    """
    if depth <= 0 or width <= 0:
        raise ValueError("depth and width must be positive")
    return _cm_cells(_token_counts(docs, id_col, text_col), depth, width)


def _token_counts(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The ONE corpus-scale aggregation behind the CM sketch: lowercase
    token -> occurrence count (map-side combined; layout-decoupled)."""
    from .dedup import _spread

    tok = _spread(docs, id_col).select(
        F.explode(T.tokens(F.lower(F.col(text_col)))).alias("token")
    )
    return tok.groupBy("token").agg(F.count("*").alias("cnt"))


def _cm_hash_cells(depth: int, width: int):
    """The depth (r, c) cell coordinates of a token — shared verbatim by
    the sketch build and the point-query probe so they can never drift."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"),
                    _md5_bucket(
                        F.concat(F.col("token"), F.lit(f"#{r}")), width
                    ).alias("c"),
                )
                for r in range(depth)
            ]
        )
    ).alias("_cell")


def _cm_cells(vocab: DataFrame, depth: int, width: int) -> DataFrame:
    cells = vocab.select("cnt", _cm_hash_cells(depth, width))
    return cells.groupBy(
        F.col("_cell.r").alias("r"), F.col("_cell.c").alias("c")
    ).agg(F.sum("cnt").cast("bigint").alias("counter"))


def countmin_heavy_hitters(
    docs: DataFrame,
    depth: int = 3,
    width: int = 1024,
    min_frac: float = 0.01,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Heavy hitters by Count-Min estimate: tokens whose sketch estimate
    (``min_r counter[r, h_r(token)]``) reaches ``min_frac`` of the total
    token count — the classic CM point-query pass (Cormode &
    Muthukrishnan 2005 §4.1). Returns ``(token, est_count, true_count)``;
    the CM guarantee ``est ≥ true`` (never undercounts) is asserted by
    the unit tests and visible in the output columns.

    The probe pass re-uses the ONE corpus-scale token aggregation that
    built the sketch: the vocab relation is materialized once (lazy
    checkpoint — Catalyst plans multi-consumer subtrees independently,
    so without it the sketch build, the probe, and the total would each
    re-scan the corpus); everything downstream is vocab- or
    ``depth·width``-bounded. ``true_count`` rides along from the vocab
    relation; a pure sketch-only deployment would drop it, the estimate
    needs no second corpus pass either way.
    """
    if not 0.0 < min_frac <= 1.0:
        raise ValueError("min_frac must be in (0, 1]")
    if depth <= 0 or width <= 0:
        raise ValueError("depth and width must be positive")
    from .persist import materialize_for_reuse

    vocab = materialize_for_reuse(_token_counts(docs, id_col, text_col))
    sketch = F.broadcast(_cm_cells(vocab, depth, width))
    total = F.broadcast(vocab.agg(F.sum("cnt").cast("bigint").alias("_N")))
    probes = vocab.select(
        "token", "cnt", _cm_hash_cells(depth, width)
    ).select("token", "cnt", F.col("_cell.r").alias("r"), F.col("_cell.c").alias("c"))
    est = (
        probes.join(sketch, ["r", "c"])
        .groupBy("token")
        .agg(
            F.min("counter").cast("bigint").alias("est_count"),
            F.min("cnt").cast("bigint").alias("true_count"),
        )
    )
    return est.join(total).where(
        F.col("est_count") >= F.col("_N") * F.lit(float(min_frac))
    ).select("token", "est_count", "true_count")


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 lexical retrieval (Robertson & Zaragoza 2009, the Okapi/Lucene
    form): score every document against a literal bag of query terms and
    return the top ``k`` — the classic sparse-retrieval twin of the
    embedding ANN keys (``similarity.cosine_topk``), and the lexical half
    of a hybrid RAG retriever.

    ``score(D) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|D|/avgdl))``
    with the Lucene idf ``ln(1 + (N−df+0.5)/(df+0.5))`` (always
    positive). Returns ``(doc_id, n_matched_terms, score)`` ordered
    score-desc / id-asc, score rounded to 6 dp.

    Scale design: TWO corpus scans — one computes the (N, Σ|D|) scalars,
    one explodes tokens in-row PRE-FILTERED to the query vocabulary (a
    few literals), so the exploded relation is bounded by matching
    occurrences, not corpus tokens. The (doc, term, tf) relation
    materializes once (lazy checkpoint) for its two consumers — the
    document-frequency agg and the scoring join — which is what keeps
    the plan at two scans instead of three. df and the scalars ride
    tiny broadcast relations; per-term scores sum as DECIMAL(38,12)
    (exact, AQE-order-independent — the unigram/bigram LM discipline)
    before the final round.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted({t.lower() for t in query_terms})
    from .dedup import _spread

    toks = T.tokens(F.lower(F.col(text_col)))
    # the (N, sum dl) scalars reduce with partial map-side aggregation —
    # routing them through the _spread repartition shuffled the full
    # corpus text a second time for no benefit (guide 2.4: remove
    # shuffles outright); only the explode fan-out below needs _spread
    stats = F.broadcast(
        docs.agg(
            F.count("*").cast("bigint").alias("_ndocs"),
            F.sum(F.size(toks)).cast("bigint").alias("_sumdl"),
        )
    )
    base = _spread(docs, id_col).select(
        F.col(id_col), toks.alias("_toks"), F.size(toks).alias("_dl")
    )
    occ = base.select(
        F.col(id_col),
        F.col("_dl"),
        F.explode(
            F.filter(F.col("_toks"), lambda t: t.isin(terms))
        ).alias("token"),
    )
    # tf feeds BOTH the document-frequency agg and the scoring join;
    # without a materialization Catalyst plans two independent subtrees,
    # i.e. a second full corpus scan just to count df. Lazy checkpoint:
    # computed once inside the final job, no construction-time work
    # (operators/persist.py on durability).
    from .persist import materialize_for_reuse

    tf = materialize_for_reuse(
        occ.groupBy(id_col, "token").agg(
            F.count("*").alias("_tf"), F.min("_dl").alias("_dl")
        )
    )
    dft = F.broadcast(
        tf.groupBy("token").agg(F.count("*").cast("bigint").alias("_dft"))
    )
    avgdl = F.col("_sumdl").cast("double") / F.col("_ndocs")
    idf = F.log(
        F.lit(1.0)
        + (F.col("_ndocs") - F.col("_dft") + 0.5) / (F.col("_dft") + 0.5)
    )
    denom = F.col("_tf") + F.lit(float(k1)) * (
        F.lit(1.0 - float(b)) + F.lit(float(b)) * F.col("_dl") / avgdl
    )
    term_score = idf * F.col("_tf") * F.lit(float(k1) + 1.0) / denom
    scored = (
        tf.join(dft, "token")
        .join(stats)
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_matched_terms"),
            F.sum(term_score.cast("decimal(38,12)")).alias("_s"),
        )
        .select(
            F.col(id_col),
            "n_matched_terms",
            F.round(F.col("_s").cast("double"), 6).alias("score"),
        )
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def mixture_temperature_rates(
    docs: DataFrame,
    alpha: float = 0.3,
    token_budget: int = 100_000,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-based mixture planning (the multilingual/multi-source
    standard: T5's examples-proportional mixing and XLM-R's
    ``p_s ∝ share_s^alpha`` with α≈0.3): instead of hand-written weights
    (:func:`mixture_rates`), the target fraction of each source is its
    OBSERVED token share raised to ``alpha`` and renormalized —
    α=1 reproduces natural proportions, α→0 approaches uniform, the
    usual knob for up-sampling low-resource sources.

    Returns the :func:`mixture_rates` shape ``(source, n_docs, n_tokens,
    target_frac, rate, expected_tokens)`` with ``rate = min(1,
    budget·target_frac / T_s)``.

    Scale design: ONE corpus-scale map-side-combined aggregation; the
    per-source relation (bounded by the number of sources) materializes
    once for its three consumers (total, weight normalizer, final
    projection) — un-materialized, each would re-run the corpus agg.
    The α-power weights sum as DECIMAL(38,12) so the normalizer is
    order-independent under AQE.

    Zero-token sources are excluded from the weight normalizer (with
    α=0, ``pow(0/T, 0)`` would otherwise evaluate to 1 and silently
    deflate every real source's ``target_frac`` while the empty source's
    own rate is forced to 0 — lost target mass); they are still emitted,
    with ``target_frac = rate = 0``. An all-empty corpus yields all-zero
    fractions rather than NULLs.
    """
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    from .persist import materialize_for_reuse

    per = materialize_for_reuse(
        docs.groupBy(group_col).agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(T.tokens(F.lower(F.col(text_col)))))
            .cast("bigint")
            .alias("n_tokens"),
        )
    )
    tot = F.broadcast(per.agg(F.sum("n_tokens").cast("bigint").alias("_T")))
    w = per.join(tot).select(
        group_col,
        "n_docs",
        "n_tokens",
        F.when(
            F.col("n_tokens") > 0,
            F.pow(F.col("n_tokens") / F.col("_T"), F.lit(float(alpha))),
        )
        .otherwise(F.lit(0.0))
        .alias("_w"),
    )
    wsum = F.broadcast(
        w.agg(
            F.sum(F.col("_w").cast("decimal(38,12)"))
            .cast("double")
            .alias("_ws")
        )
    )
    tf = F.when(F.col("_ws") > 0, F.col("_w") / F.col("_ws")).otherwise(F.lit(0.0))
    rate = F.when(
        F.col("n_tokens") > 0,
        F.least(F.lit(1.0), F.lit(float(token_budget)) * tf / F.col("n_tokens")),
    ).otherwise(F.lit(0.0))
    return w.join(wsum).select(
        group_col,
        "n_docs",
        "n_tokens",
        F.round(tf, 6).alias("target_frac"),
        F.round(rate, 6).alias("rate"),
        F.round(rate * F.col("n_tokens"), 6).alias("expected_tokens"),
    )


# ---------------------------------------------------------------------------
# Hashed-classifier language ID (fastText langid, Joulin et al. 2016 — the
# production langid standard; CCNet runs exactly this model for its lang
# split). Reuses the quality_classifier machinery: the SAME md5 feature
# buckets, per-LANGUAGE weight columns instead of one, argmax instead of
# sigmoid. functions/text.py::lang_guess is the zero-parameter heuristic
# twin; this is the model-driven form a user swaps real fastText weights
# into.

LANGID_PRIORITY = ("en", "de", "fr", "es")


def _md5_bucket_py(word: str, n_buckets: int) -> int:
    """Python twin of :func:`_md5_bucket` — MUST track it bit-for-bit
    (md5 hex → first 13 nibbles → int → mod)."""
    import hashlib

    return int(hashlib.md5(word.encode()).hexdigest()[:13], 16) % int(n_buckets)


def langid_lexicon_counts(
    langs: tuple[str, ...] = LANGID_PRIORITY, n_buckets: int = 1024
) -> dict[tuple[int, str], int]:
    """(bucket, lang) -> lexicon-word count — ONE builder shared by the
    Spark weights relation and the DuckDB oracle's inlined VALUES, so
    the two cannot drift apart."""
    counts: dict[tuple[int, str], int] = {}
    for lang in langs:
        for word in T.LANG_STOPWORDS[lang]:
            key = (_md5_bucket_py(word, n_buckets), lang)
            counts[key] = counts.get(key, 0) + 1
    return counts


def langid_lexicon_weights(
    spark,
    langs: tuple[str, ...] = LANGID_PRIORITY,
    n_buckets: int = 1024,
) -> DataFrame:
    """Seeded per-language weights from the ``LANG_STOPWORDS`` lexicons:
    ``weight(bucket, lang)`` = how many of that language's lexicon words
    hash into the bucket (a naive-Bayes-style indicator model —
    deterministic, so the whole classifier replays engine-side). Bounded
    by construction: ≤ langs·lexicon rows, built driver-side as
    literals like the IVF centroids. Real fastText weights drop in as
    any (bucket, lang, weight) relation."""
    rows = [
        (b, lang, float(c))
        for (b, lang), c in sorted(langid_lexicon_counts(langs, n_buckets).items())
    ]
    return spark.createDataFrame(rows, "bucket long, lang string, weight double")


def langid_classifier(
    docs: DataFrame,
    weights: DataFrame,
    langs: tuple[str, ...] = LANGID_PRIORITY,
    n_buckets: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Multiclass hashed linear language-ID — the scoring path of a
    fastText-style langid model over the md5-bucket feature space.

    Per doc: tokens hash to buckets, each bucket contributes its
    per-language weights, prediction = argmax of the mean-pooled
    per-language margin with ties (and zero-hit docs) resolved by the
    ``langs`` priority order — the same order
    :func:`~..functions.text.lang_guess` uses, so the two agree where
    both are confident. Returns ``(id, n_tokens, lang_pred, margin)``;
    docs with no tokens emit no row (the quality_classifier contract).

    Scale design: one in-row explode + ONE broadcast equi-join against
    the bucket-bounded weights + two map-side-combined aggregations —
    pure JVM expressions. Weight sums ride DECIMAL(38,12) (exact,
    order-independent under AQE); the per-(doc, lang) argmax is a
    ``min_by`` over (−margin, priority) with no possible ties (lang is
    the group key). The tokenized relation feeds the count AND the hit
    join: materialized once."""
    from .dedup import _spread
    from .persist import materialize_for_reuse

    tok = materialize_for_reuse(
        _spread(docs, id_col).select(
            F.col(id_col),
            F.explode(T.tokens(F.lower(F.col(text_col)))).alias("_w"),
        )
    )
    cnt = tok.groupBy(id_col).agg(F.count("*").alias("n_tokens"))
    # a lang in `weights` but absent from `langs` must sort LAST on
    # ties, not first (array_position returns 0 for misses, which would
    # silently outrank every documented priority language)
    pr0 = F.array_position(F.array(*[F.lit(l) for l in langs]), F.col("lang"))
    pr = F.when(pr0 > 0, pr0).otherwise(F.lit(len(langs) + 1))
    hits = (
        tok.select(F.col(id_col), _md5_bucket(F.col("_w"), n_buckets).alias("bucket"))
        .join(F.broadcast(weights), "bucket")
        .groupBy(id_col, "lang")
        .agg(F.sum(F.col("weight").cast("decimal(38,12)")).alias("_s"))
    )
    best = hits.groupBy(id_col).agg(
        F.min_by(
            F.struct("lang", "_s"),
            # final lang tiebreak: two non-priority langs tying on the
            # exact margin would otherwise hand min_by an identical key
            F.struct(
                (-F.col("_s")).alias("_n"), pr.alias("_p"), F.col("lang").alias("_l")
            ),
        ).alias("_b")
    )
    return (
        cnt.join(best, id_col, "left")
        .select(
            F.col(id_col),
            "n_tokens",
            F.coalesce(F.col("_b")["lang"], F.lit(langs[0])).alias("lang_pred"),
            F.round(
                F.coalesce(F.col("_b")["_s"].cast("double"), F.lit(0.0))
                / F.col("n_tokens"),
                6,
            ).alias("margin"),
        )
    )


# ---------------------------------------------------------------------------
# C4 heuristic page cleaning (Raffel et al. 2020 §2.2 — the canonical web
# cleaning stage every C4-descended corpus runs before dedup/quality):
# line-level keep rules + page-level discard rules, as pure in-row Column
# expressions (no explode, no shuffle, no UDF — a 100 TB page table cleans
# in one map pass).

C4_TERMINAL_RE = r'[.!?"]$'


def c4_line_filters(
    docs: DataFrame,
    min_words: int = 5,
    min_sentences: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """C4's cleaning heuristics over newline-delimited page text:

    - keep a line iff it ends in terminal punctuation (``.!?"``), has at
      least ``min_words`` whitespace words, and does not mention
      "javascript" (all three are Raffel et al. 2020's line rules);
    - discard the page iff it contains "lorem ipsum" or a ``{`` (the
      code/boilerplate page rules), or fewer than ``min_sentences``
      lines survive.

    Returns ``(id, n_lines, n_kept, passed, clean_chars)`` where
    ``clean_chars`` is the length of the kept lines re-joined with
    newlines (0 for discarded pages) — the size the page contributes to
    the cleaned corpus. Line predicates reference only their own lambda
    var, so the filter is safe in every plan shape (the outer-ref-in-HOF
    caveat); everything is engine-replayable string math. ``carry_cols``
    ride through unchanged (streaming composition — see
    :func:`gopher_quality`).
    """
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(
        lines,
        lambda ln: ln.rlike(C4_TERMINAL_RE)
        & (F.size(F.split(F.trim(ln), " +")) >= int(min_words))
        & ~F.lower(ln).contains("javascript"),
    )
    n_kept = F.greatest(F.size(kept), F.lit(0))
    doc_bad = F.lower(F.col(text_col)).contains("lorem ipsum") | F.col(
        text_col
    ).contains("{")
    passed = (~doc_bad) & (n_kept >= int(min_sentences))
    clean = F.when(passed, F.array_join(kept, "\n")).otherwise(F.lit(""))
    return docs.select(
        F.col(id_col),
        F.greatest(F.size(lines), F.lit(0)).cast("long").alias("n_lines"),
        n_kept.cast("long").alias("n_kept"),
        passed.alias("passed"),
        F.length(clean).cast("long").alias("clean_chars"),
        *[F.col(c) for c in carry_cols],
    )


def langid_calibrated(
    docs: DataFrame,
    weights: DataFrame,
    holdout_mod: int = 5,
    conf_threshold: float = 0.5,
    langs: tuple[str, ...] = LANGID_PRIORITY,
    n_buckets: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Calibration head for :func:`langid_classifier` — raw argmax
    margins are not probabilities and are not comparable across corpora,
    so thresholding on ``margin`` directly is unprincipled. Real
    pipelines threshold on CALIBRATED confidence (CCNet keeps docs by
    perplexity bucket, Wenzek et al. 2020 §4.2; fastText langid
    thresholds on predicted probability, Joulin et al. 2016). This
    builds the calibration relation deterministically:

    1. margin terciles — the score distribution is cut at its exact
       global 1/3 and 2/3 quantiles (binning.exact_quantiles, the
       certified distributed-selection path; cut values become plan
       literals, the quality_terciles pattern) → bucket head/middle/tail
       (head = highest margin).
    2. a deterministic labeled HOLDOUT (docs with id % holdout_mod == 0,
       labeled by the INDEPENDENT stopword-ratio heuristic
       functions.text.lang_guess) yields each bucket's empirical
       agreement rate = P(classifier correct | bucket) — the
       score→empirical-rate map that makes thresholding principled.

    Returns ``(id, n_tokens, lang_pred, margin, bucket, calib_conf,
    confident)``, one row per doc the classifier scored (zero-token docs
    emit no row — the langid_classifier contract). ``calib_conf`` is the
    doc's bucket rate (0.0 when the bucket has no holdout members),
    ``confident`` = calib_conf >= conf_threshold.

    Engine parity: margins carry heavy ties (mass points), and a cut
    that lands ON one exposes any sub-ulp difference in the quantile
    arithmetic — DuckDB's quantile_cont emits lo + ~1e-18 there and
    flips every doc at the mass point (proven at sf0.1), so the oracle
    replays exact_quantiles' interpolation VERBATIM over order
    statistics instead (``_exact_quantile_cuts_cte``); the agreement
    ratio uses explicit IEEE rounding (floor(x*1e6 + 0.5)/1e6) on both
    sides — long/long division is IEEE double in Spark and DuckDB
    alike. Scale: the scored relation is
    materialized once (feeds the quantile jobs, bucket assignment and
    the holdout agg); the calibration relation is ≤3 rows, broadcast."""
    from .binning import exact_quantiles
    from .persist import materialize_for_reuse

    scored = materialize_for_reuse(
        langid_classifier(
            docs, weights, langs=langs, n_buckets=n_buckets,
            id_col=id_col, text_col=text_col,
        )
    )
    c1, c2 = exact_quantiles(scored, "margin", [1 / 3, 2 / 3])
    bucket = (
        F.when(F.col("margin") < F.lit(float(c1)), "tail")
        .when(F.col("margin") < F.lit(float(c2)), "middle")
        .otherwise("head")
    )
    labels = docs.where(F.col(id_col) % int(holdout_mod) == 0).select(
        F.col(id_col), T.lang_guess(F.col(text_col)).alias("_label")
    )
    hold = (
        scored.where(F.col(id_col) % int(holdout_mod) == 0)
        .select(F.col(id_col), "lang_pred", bucket.alias("bucket"))
        .join(labels, id_col)
    )
    calib = hold.groupBy("bucket").agg(
        (
            F.floor(
                F.lit(1e6)
                * (
                    F.sum((F.col("lang_pred") == F.col("_label")).cast("long"))
                    / F.count("*")
                )
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("_conf")
    )
    conf = F.coalesce(F.col("_conf"), F.lit(0.0))
    return (
        scored.select(
            F.col(id_col), "n_tokens", "lang_pred", "margin",
            bucket.alias("bucket"),
        )
        .join(F.broadcast(calib), "bucket", "left")
        .select(
            F.col(id_col),
            "n_tokens",
            "lang_pred",
            "margin",
            "bucket",
            conf.alias("calib_conf"),
            (conf >= F.lit(float(conf_threshold))).alias("confident"),
        )
    )


def blocklist_scan(
    docs: DataFrame,
    blocklist: DataFrame,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Multi-pattern blocklist / PII-term scan with Aho-Corasick
    economics (thousands of patterns, ONE text traversal) recast
    relationally: patterns live in a BOUNDED ``(term)`` relation, the
    corpus explodes to word n-grams once per DISTINCT PATTERN WIDTH, and
    matching is a broadcast equi-join (the bloom/decontam shape) — where
    the per-pattern ``regexp_replace`` chain (functions/text.py PII
    scrub) re-scans the text once per pattern and stops being viable
    past ~10 patterns.

    Multi-word terms are supported: a term's width = its token count,
    and it matches against the corpus' word n-grams of that width
    (case-insensitive on both sides). Returns one row PER INPUT DOC —
    zero-hit and zero-token docs included (the inner-join-drops-entities
    gotcha): ``(id, n_tokens, n_hits, n_terms, blocked)`` where
    ``n_hits`` counts every occurrence, ``n_terms`` the distinct terms
    hit, ``blocked`` = n_hits >= min_hits.

    Scale: the blocklist is bounded by construction (a curated list), so
    collecting its distinct widths at plan time is O(widths) driver
    rows and each match join broadcasts ≤|blocklist| terms; the token
    relation is materialized once and feeds every width's in-row n-gram
    explode plus the final per-doc projection. Counts are map-side
    combinable hash aggs — no windows, no driver loops."""
    from .dedup import _spread
    from .persist import materialize_for_reuse

    # normalize each term to its space-joined token form: the join key
    # must equal the corpus-side n-gram string exactly, so a term with
    # irregular whitespace ("bad  apple", tabs, padding) would otherwise
    # silently never match despite a correct width
    terms = (
        blocklist.select(
            F.array_join(T.tokens(F.lower(F.col("term"))), " ").alias("term"),
            F.greatest(
                F.size(T.tokens(F.lower(F.col("term")))), F.lit(0)
            ).alias("_w"),
        )
        .where(F.col("_w") >= 1)
        .distinct()
    )
    # bounded-relation collect (the IVF-centroid pattern): widths only
    widths = sorted(
        r["_w"] for r in terms.select("_w").distinct().collect()
    )
    base = materialize_for_reuse(
        _spread(docs, id_col).select(
            F.col(id_col), T.tokens(F.lower(F.col(text_col))).alias("_toks")
        )
    )
    hits = None
    for w in widths:
        grams = base.select(
            F.col(id_col),
            F.explode(T.ngrams_from_tokens(F.col("_toks"), int(w))).alias(
                "term"
            ),
        )
        part = grams.join(
            F.broadcast(terms.where(F.col("_w") == int(w)).select("term")),
            "term",
        ).select(F.col(id_col), "term")
        hits = part if hits is None else hits.unionByName(part)
    if hits is None:  # empty blocklist: no doc can be blocked
        agg = base.select(F.col(id_col)).limit(0).select(
            F.col(id_col),
            F.lit(0).cast("long").alias("n_hits"),
            F.lit(0).cast("long").alias("n_terms"),
        )
    else:
        agg = hits.groupBy(id_col).agg(
            F.count("*").alias("n_hits"),
            F.countDistinct("term").alias("n_terms"),
        )
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0).cast("long"))
    return (
        base.select(
            F.col(id_col),
            F.greatest(F.size("_toks"), F.lit(0)).cast("long").alias("n_tokens"),
        )
        .join(agg, id_col, "left")
        .select(
            F.col(id_col),
            "n_tokens",
            n_hits.alias("n_hits"),
            F.coalesce(F.col("n_terms"), F.lit(0).cast("long")).alias("n_terms"),
            (n_hits >= F.lit(int(min_hits))).alias("blocked"),
        )
    )
