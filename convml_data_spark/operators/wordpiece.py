"""WordPiece tokenizer (Wu et al. 2016, "Google's Neural Machine
Translation System" §3.1; the BERT tokenizer) — vocabulary construction
and greedy longest-match-first encoding, completing the tokenizer triad
next to BPE (``corpus.bpe_train_merges``/``bpe_encode``, the GPT family)
and unigram-LM (``spm.unigram_train``/``unigram_encode``, the T5/
SentencePiece family).

WordPiece segments each word greedily: at every position take the LONGEST
vocabulary piece that matches, where word-initial pieces are stored raw
and word-internal pieces carry the ``##`` continuation prefix; a position
with no match makes the whole word UNK (the BERT rule). Greedy matching
is deterministic — no scores, no ties — so the whole encoder replays
engine-side exactly.

Scale design (the ``bpe_encode``/``unigram_encode`` shape): segmentation
runs over the bounded DISTINCT-word relation against a ONE-ROW packed
vocabulary broadcast; the greedy loop is unrolled to ``word_max_len``
plan-time steps (each step consumes ≥1 character) of pure in-row Column
CASE/array ops — no UDF, no per-piece join — then one equi-join back to
the exploded tokens and one map-side-combined per-doc aggregation.

Reference parity note: the reference (convml/convml-data) has no
tokenizer; this module is part of the LLM-training-data surface
(SURVEY.md §8, north star) built on public algorithms only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as T
from .spm import _distinct_words


def _pack_pieces(vocab: DataFrame) -> DataFrame:
    """ONE-ROW packed piece array (``_ps``, sorted ASC) for broadcast —
    membership tests become in-row ``array_position`` calls."""
    return vocab.agg(F.array_sort(F.collect_list("piece")).alias("_ps"))


def wordpiece_vocab(
    docs: DataFrame,
    vocab_top: int = 24,
    piece_max_len: int = 4,
    word_max_len: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Deterministic WordPiece vocabulary from a corpus: every
    single-character piece in both positional forms (word-initial raw,
    word-internal ``##c`` — keeps every in-cap word segmentable, the
    same feasibility argument as unigram_train's char seed) plus the top
    ``vocab_top`` multi-character pieces by corpus count (ties broken by
    piece string), counted in their positional form — a substring
    starting at position 1 contributes to the raw piece, elsewhere to
    the ``##`` piece, exactly as the encoder will look them up.

    (BERT's real vocab comes from likelihood-driven merges; the count
    ranking here is the deterministic, engine-replayable stand-in —
    real vocabularies drop in as any ``(piece,)`` relation.)

    Returns ``(piece, cnt)``, bounded by construction. One in-row grid
    explode over the DISTINCT-word relation, one hash aggregation, one
    bounded TakeOrdered.
    """
    from .persist import materialize_for_reuse

    if piece_max_len < 2:
        raise ValueError(f"piece_max_len must be >= 2, got {piece_max_len}")
    # words containing '#' are excluded: the positional encoding ('##'
    # marks continuation) cannot represent them unambiguously — a raw
    # piece '##a' would be indistinguishable from the continuation form
    # of 'a' (BERT's real pre-tokenizer splits punctuation off before
    # WordPiece ever sees it, so '#' never reaches the segmenter there);
    # the encoder symmetrically treats such words as UNK
    words = materialize_for_reuse(
        _distinct_words(docs, text_col, word_max_len).where(
            ~F.col("w").contains("#")
        ),
    )
    grid = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.transform(
                F.sequence(
                    F.lit(1), F.least(F.lit(piece_max_len), F.length("w") - i + 1)
                ),
                lambda k: F.when(i == 1, F.substring(F.col("w"), i, k)).otherwise(
                    F.concat(F.lit("##"), F.substring(F.col("w"), i, k))
                ),
            ),
        )
    )
    seeds = materialize_for_reuse(
        words.select(F.explode(grid).alias("piece"), F.col("c"))
        .groupBy("piece")
        .agg(F.sum("c").alias("cnt")),
    )
    body_len = F.length("piece") - F.when(
        F.col("piece").startswith("##"), F.lit(2)
    ).otherwise(F.lit(0))
    chars = seeds.where(body_len == 1)
    multis = (
        seeds.where(body_len >= 2)
        .orderBy(F.col("cnt").desc(), F.col("piece"))
        .limit(int(vocab_top))
    )
    return chars.unionByName(multis).select("piece", "cnt")


def greedy_segment(
    df: DataFrame,
    word_col: str,
    word_max_len: int,
    piece_max_len: int,
) -> DataFrame:
    """Attach ``_np`` (piece count) and ``_unk`` (no full segmentation)
    to a relation carrying ``word_col`` and a packed piece array
    ``_ps``. Greedy longest-match-first, unrolled to ``word_max_len``
    plan-time steps: step t takes the longest k (descending first-match
    CASE) whose positional form — raw at position 1, ``##``-prefixed
    after — is in the vocabulary; a position with no match freezes the
    word as UNK. Words longer than ``word_max_len`` are UNK by fiat
    (they cannot finish inside the unroll)."""
    L, K = int(word_max_len), int(piece_max_len)
    out = df.withColumn("_len", F.length(word_col))
    # '#'-containing words are UNK by fiat (the positional '##' encoding
    # cannot represent them — see wordpiece_vocab), as are over-long ones
    out = out.withColumn("_pos_0", F.lit(1)).withColumn(
        "_np_0", F.lit(0)
    ).withColumn(
        "_unk_0", (F.col("_len") > L) | F.col(word_col).contains("#")
    )
    for t in range(1, L + 1):
        pos, np, unk = (
            F.col(f"_pos_{t - 1}"),
            F.col(f"_np_{t - 1}"),
            F.col(f"_unk_{t - 1}"),
        )
        active = (~unk) & (pos <= F.col("_len"))
        # descending k via COALESCE of independent whens: the first
        # non-null branch IS the longest match. (A self-referencing
        # when-chain duplicates the accumulated expression per level —
        # 2^K generated-code blowup that breached janino's 64 KB method
        # limit and forced interpreted fallback.)
        branches = []
        for k in range(K, 0, -1):
            form = F.when(
                pos == 1, F.substring(word_col, pos, F.lit(k))
            ).otherwise(F.concat(F.lit("##"), F.substring(word_col, pos, F.lit(k))))
            hit = (pos + k - 1 <= F.col("_len")) & (
                F.array_position(F.col("_ps"), form) > 0
            )
            branches.append(F.when(hit, F.lit(k)))
        out = out.withColumn(f"_k_{t}", F.when(active, F.coalesce(*branches)))
        out = out.withColumn(
            f"_pos_{t}",
            F.when(F.col(f"_k_{t}").isNotNull(), pos + F.col(f"_k_{t}")).otherwise(pos),
        )
        out = out.withColumn(
            f"_np_{t}", F.when(F.col(f"_k_{t}").isNotNull(), np + 1).otherwise(np)
        )
        out = out.withColumn(
            f"_unk_{t}", unk | (active & F.col(f"_k_{t}").isNull())
        )
    last_pos, last_np, last_unk = (
        F.col(f"_pos_{L}"), F.col(f"_np_{L}"), F.col(f"_unk_{L}")
    )
    unk = last_unk | (last_pos <= F.col("_len"))
    keep = [c for c in df.columns]
    return out.select(
        *keep,
        F.when(unk, F.lit(0)).otherwise(last_np).alias("_np"),
        unk.alias("_unk"),
    )


def wordpiece_encode(
    docs: DataFrame,
    vocab: DataFrame,
    word_max_len: int = 10,
    piece_max_len: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode a corpus against a WordPiece vocabulary (``(piece, ...)``
    relation — :func:`wordpiece_vocab` output or any imported vocab).
    Returns per document ``(id, n_words, n_chars, n_pieces,
    n_unk_words)`` with UNK words contributing 0 pieces (one UNK symbol
    apiece) — the same contract as ``unigram_encode``, so the two
    tokenizers compare row-for-row on any corpus."""
    from .dedup import _spread

    packed = _pack_pieces(vocab)
    tok = _spread(docs, id_col).select(
        F.col(id_col),
        F.explode(T.tokens(F.lower(F.col(text_col)))).alias("w"),
    )
    seg = greedy_segment(
        tok.select("w").distinct().crossJoin(F.broadcast(packed)),
        "w",
        word_max_len,
        piece_max_len,
    ).select(
        "w",
        F.length("w").alias("_chars"),
        "_np",
        F.col("_unk").cast("int").alias("_unki"),
    )
    return (
        tok.join(seg, "w")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_words"),
            F.sum("_chars").alias("n_chars"),
            F.sum("_np").alias("n_pieces"),
            F.sum("_unki").alias("n_unk_words"),
        )
    )
