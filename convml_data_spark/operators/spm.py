"""Unigram-LM subword tokenizer (SentencePiece) — train and encode.

Kudo 2018, "Subword Regularization: Improving Neural Network Translation
Models with Multiple Subword Candidates" (the SentencePiece unigram
model): a vocabulary of subword pieces with unigram probabilities, seeded
from frequent substrings, refined by EM, applied by Viterbi segmentation.
Completes the tokenizer-training family next to BPE
(:func:`~convml_data_spark.operators.corpus.bpe_train_merges` — reference
parity anchor: the reference has no tokenizer training at all; this is
part of the LLM-pipeline surface, not convml/convml-data parity).

Deterministic engine-portable variant (every choice replayable in ANSI
SQL / DuckDB):

* **hard EM** (Viterbi-EM): the E-step assigns each word its single best
  segmentation under the current piece scores, instead of the paper's
  forward-backward expectations — the standard hard-EM specialization;
  pieces no Viterbi path uses drop out, which IS the pruning step.
* **integer scores**: piece log-probabilities are quantized to
  micro-nats ``units(x) = floor(ln(n_x / N) * 1e6 + 0.5)`` (BIGINT), so
  every DP sum and comparison is EXACT integer arithmetic — no float
  accumulation can split the Spark and DuckDB argmaxes. ``ln`` itself
  agrees across libm/JVM within 1 ulp and the explicit IEEE
  ``floor(x + 0.5)`` rounding avoids the BigDecimal-vs-multiply
  round-tie trap (see verify notes).
* **total tie-break order**: seed vocabulary = all single characters
  plus the top ``vocab_top`` multi-char substrings by
  ``(count DESC, piece ASC)``; the Viterbi DP prefers the SMALLEST
  last-piece length on equal scores.

Scale design: the corpus is touched ONCE (one map-side-combined word
count); the EM rounds fold over the DISTINCT-WORD relation
(vocabulary-bounded — the `bpe_train_merges` stance, corpus.py:332-343),
each round one Viterbi pass over words × a ONE-ROW packed vocabulary
broadcast and one piece aggregation. The DP itself has two engines
(:func:`viterbi_segment`): the default Arrow-batched ``mapInPandas``
pass — legitimate Python under the scale stance because the relation it
touches is vocabulary-bounded, never corpus-scale, and ~10x faster
end-to-end since the expression form's cost was Catalyst planning +
codegen of the L·K projection pyramid, not data — and the original
pure-Column ``engine="expr"`` form (chained projections, named columns,
never nested expression trees), kept as the oracle-shaped
whole-stage-codegen reference and property-pinned equal to the Arrow
path. No driver state, no windows; integer micro-nat scores make both
engines and the DuckDB oracle agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as T


def _lookup_units(word_col, start, length):
    """Score of piece ``substr(word, start, length)`` under the packed
    vocabulary (``_ps`` pieces sorted ASC, ``_us`` aligned BIGINT units);
    NULL when the piece is not in the vocabulary. The ``when`` guard is
    load-bearing: ``element_at(_, 0)`` (absent piece) throws in ANSI
    mode; DuckDB's ``arr[0]`` is NULL, so the guarded form is the
    engine-portable one."""
    piece = F.substring(F.col(word_col), start, length)
    pos = F.array_position(F.col("_ps"), piece)
    return F.when(pos > 0, F.element_at(F.col("_us"), pos.cast("int")))


def viterbi_segment(
    df: DataFrame,
    word_col: str,
    word_max_len: int,
    piece_max_len: int,
    engine: str = "arrow",
) -> DataFrame:
    """Attach ``_score`` (BIGINT best segmentation score, NULL when the
    word is unsegmentable or longer than ``word_max_len``) and
    ``_pieces`` (the argmax piece array) to a relation carrying
    ``word_col`` and a packed vocabulary (``_ps``/``_us``).

    Two engines computing the IDENTICAL integer DP (property-pinned
    equal on randomized vocab/word sets, ties and UNK paths included):

    * ``"arrow"`` (default): one ``mapInPandas`` pass — the DP runs in
      Python over Arrow batches. Legitimate under the scale stance
      because the input is the DISTINCT-WORD relation crossed with a
      one-row vocab (vocabulary-bounded, never corpus-scale), and ~10x
      faster end-to-end: the expression form's cost was never the data
      but Catalyst planning + codegen of the ~L·K-column projection
      pyramid (r15 measurement: spm_train 11.1 → ~2 s, spm_encode
      17.7 → ~2 s at sf0.1 on the same machine).
    * ``"expr"``: the original pure-Column unrolled form — kept as the
      reference implementation (it is the shape the DuckDB oracle
      replays) and for plans that must stay whole-stage-codegen.

    The lattice DP ``b_i = max_k b_{i-k} + units(w[i-k+1 .. i])`` is
    unrolled to ``word_max_len`` positions (plan-time columns in expr,
    a loop in arrow); positions past ``length(word)`` compute garbage
    that the backtrace (which starts AT ``length(word)``) never reads.
    Ties choose the smallest ``k`` (first-match CASE / first-match loop
    — the identical evaluation order). Backtrace consumes ≥1 character
    per step, so any feasible path terminates within the unroll; the
    piece array is emitted in BACKTRACE order (last piece first) by
    both engines — consumers explode or size it, and the property test
    pins the order equal.
    """
    if engine == "arrow":
        return _viterbi_segment_arrow(df, word_col, word_max_len, piece_max_len)
    if engine != "expr":
        raise ValueError(f"unknown viterbi engine {engine!r}")
    L, K = int(word_max_len), int(piece_max_len)
    out = df.withColumn("_len", F.length(word_col))
    out = out.withColumn("_b_0", F.lit(0).cast("bigint"))
    for i in range(1, L + 1):
        ks = range(1, min(K, i) + 1)
        for k in ks:
            out = out.withColumn(
                f"_c_{i}_{k}",
                F.col(f"_b_{i - k}") + _lookup_units(word_col, i - k + 1, k),
            )
        cands = [F.col(f"_c_{i}_{k}") for k in ks]
        out = out.withColumn(
            f"_b_{i}", cands[0] if len(cands) == 1 else F.greatest(*cands)
        )
        bp = F.when(F.col(f"_c_{i}_1") == F.col(f"_b_{i}"), F.lit(1))
        for k in list(ks)[1:]:
            bp = bp.when(F.col(f"_c_{i}_{k}") == F.col(f"_b_{i}"), F.lit(k))
        out = out.withColumn(f"_bp_{i}", bp)
    score = F.when(F.col("_len") == 1, F.col("_b_1"))
    for i in range(2, L + 1):
        score = score.when(F.col("_len") == i, F.col(f"_b_{i}"))
    out = out.withColumn("_score", score)
    out = out.withColumn(
        "_pos_0",
        F.when(F.col("_score").isNotNull(), F.col("_len")).otherwise(F.lit(0)),
    )
    for t in range(1, L + 1):
        prev = F.col(f"_pos_{t - 1}")
        kx = F.when(prev == 1, F.col("_bp_1"))
        for i in range(2, L + 1):
            kx = kx.when(prev == i, F.col(f"_bp_{i}"))
        out = out.withColumn(f"_k_{t}", kx)
        out = out.withColumn(
            f"_piece_{t}",
            F.when(
                F.col(f"_k_{t}").isNotNull(),
                F.substring(
                    F.col(word_col), prev - F.col(f"_k_{t}") + 1, F.col(f"_k_{t}")
                ),
            ),
        )
        out = out.withColumn(
            f"_pos_{t}",
            F.when(F.col(f"_k_{t}").isNotNull(), prev - F.col(f"_k_{t}")).otherwise(
                F.lit(0)
            ),
        )
    pieces = F.filter(
        F.array(*[F.col(f"_piece_{t}") for t in range(1, L + 1)]),
        lambda x: x.isNotNull(),
    )
    out = out.withColumn("_pieces", F.when(F.col("_score").isNotNull(), pieces))
    keep = [c for c in df.columns] + ["_score", "_pieces"]
    return out.select(*keep)


def _viterbi_segment_arrow(
    df: DataFrame,
    word_col: str,
    word_max_len: int,
    piece_max_len: int,
) -> DataFrame:
    """The Arrow-batched twin of the expression DP (see
    :func:`viterbi_segment` for the contract). One mapInPandas pass; the
    packed vocabulary rides the ``_ps``/``_us`` columns (identical
    broadcast-literal arrays in every row, so the dict is built once per
    batch). Integer arithmetic throughout — no float can split the
    argmax from the expr/oracle path."""
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    L, K = int(word_max_len), int(piece_max_len)
    schema = StructType(
        list(df.schema.fields)
        + [
            StructField("_score", LongType()),
            StructField("_pieces", ArrayType(StringType())),
        ]
    )

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                pdf = pdf.assign(_score=[], _pieces=[])
                yield pdf
                continue
            units = dict(
                zip(list(pdf["_ps"].iloc[0]), [int(u) for u in pdf["_us"].iloc[0]])
            )
            scores, pieces = [], []
            for w in pdf[word_col]:
                if w is None:
                    # expr-path parity: a NULL word scores NULL, like
                    # empty/overlong words below
                    scores.append(None)
                    pieces.append(None)
                    continue
                n = len(w)
                if n == 0 or n > L:
                    scores.append(None)
                    pieces.append(None)
                    continue
                b = [0] + [None] * n
                bp = [None] * (n + 1)
                for i in range(1, n + 1):
                    best, bk = None, None
                    for k in range(1, min(K, i) + 1):
                        prev = b[i - k]
                        if prev is None:
                            continue
                        u = units.get(w[i - k : i])
                        if u is None:
                            continue
                        c = prev + u
                        # strict > keeps the FIRST (smallest-k) winner on
                        # ties — the expr path's first-match CASE order
                        if best is None or c > best:
                            best, bk = c, k
                    b[i], bp[i] = best, bk
                if b[n] is None:
                    scores.append(None)
                    pieces.append(None)
                    continue
                out, pos = [], n
                while pos > 0:
                    k = bp[pos]
                    out.append(w[pos - k : pos])  # backtrace order
                    pos -= k
                scores.append(b[n])
                pieces.append(out)
            yield pdf.assign(_score=scores, _pieces=pieces)

    keep = [c for c in df.columns] + ["_score", "_pieces"]
    return df.mapInPandas(run, schema).select(*keep)


def _units(n_col, total_col):
    """Micro-nat quantized log-probability: exact-integer DP scores and
    the explicit IEEE floor(x+0.5) rounding on both engines."""
    return F.floor(
        F.log(n_col.cast("double") / total_col.cast("double")) * F.lit(1e6)
        + F.lit(0.5)
    ).cast("bigint")


def _pack(vocab: DataFrame) -> DataFrame:
    """ONE-ROW packed vocabulary: ``_ps`` pieces sorted ASC with ``_us``
    units aligned — broadcast-joined onto the distinct-word relation so
    the DP's lookups are in-row array ops, no per-piece join."""
    return vocab.agg(
        F.array_sort(F.collect_list(F.struct("piece", "units"))).alias("_pu")
    ).select(
        F.transform("_pu", lambda s: s["piece"]).alias("_ps"),
        F.transform("_pu", lambda s: s["units"]).alias("_us"),
    )


def _with_units(counts: DataFrame, count_col: str) -> DataFrame:
    """(piece, n) -> (piece, n, units): normalize by the total and
    quantize. The counts relation feeds BOTH the total aggregate and the
    projection — materialized (bounded by the vocabulary) so the
    upstream E-step does not re-plan per consumer."""
    from .persist import materialize_for_reuse

    counts = materialize_for_reuse(counts)
    tot = F.broadcast(
        counts.agg(F.sum(count_col).cast("bigint").alias("_tot"))
    )
    return counts.join(tot).select(
        "piece",
        F.col(count_col).cast("bigint").alias("n"),
        _units(F.col(count_col), F.col("_tot")).alias("units"),
    )


def _distinct_words(
    docs: DataFrame, text_col: str, word_max_len: int
) -> DataFrame:
    """(w, c): distinct lowercase whitespace tokens with corpus counts,
    words longer than ``word_max_len`` excluded from training (encode
    reports them as UNK; the synthetic corpus tops out well below any
    sane cap)."""
    return (
        docs.select(F.explode(T.tokens(F.lower(F.col(text_col)))).alias("w"))
        .where(F.length("w") <= word_max_len)
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )


def unigram_train(
    docs: DataFrame,
    vocab_top: int = 24,
    piece_max_len: int = 4,
    em_rounds: int = 2,
    word_max_len: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Train a unigram-LM subword vocabulary (module docstring for the
    algorithm and determinism contract). Returns ``(piece, n, logp)`` —
    the surviving pieces after the final EM round with their Viterbi
    counts and quantized log-probabilities (``units / 1e6``; the same
    dyadic-exact value in any engine).

    Seed = every single character (keeps all ≤``word_max_len`` training
    words segmentable — and hard-EM can only drop a piece when no best
    path uses it, so feasibility survives every round) plus the top
    ``vocab_top`` multi-character substrings of length
    ≤ ``piece_max_len``.
    """
    if em_rounds < 1:
        raise ValueError(f"em_rounds must be >= 1, got {em_rounds}")
    if piece_max_len < 2:
        raise ValueError(f"piece_max_len must be >= 2, got {piece_max_len}")
    from .persist import materialize_for_reuse

    words = materialize_for_reuse(_distinct_words(docs, text_col, word_max_len))
    # seed substring counts (with in-word multiplicity), one in-row grid
    # explode over the bounded distinct-word relation
    grid = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.transform(
                F.sequence(
                    F.lit(1), F.least(F.lit(piece_max_len), F.length("w") - i + 1)
                ),
                lambda k: F.substring(F.col("w"), i, k),
            ),
        )
    )
    seeds = materialize_for_reuse(
        words.select(F.explode(grid).alias("piece"), F.col("c"))
        .groupBy("piece")
        .agg(F.sum("c").alias("cnt")),
    )
    chars = seeds.where(F.length("piece") == 1)
    multis = (
        seeds.where(F.length("piece") >= 2)
        .orderBy(F.col("cnt").desc(), F.col("piece"))
        .limit(int(vocab_top))
    )
    vocab = _with_units(chars.unionByName(multis), "cnt")
    for _ in range(em_rounds):
        seg = viterbi_segment(
            words.crossJoin(F.broadcast(_pack(vocab))),
            "w",
            word_max_len,
            piece_max_len,
        )
        counts = (
            seg.select(F.explode("_pieces").alias("piece"), "c")
            .groupBy("piece")
            .agg(F.sum("c").alias("cnt"))
        )
        vocab = _with_units(counts, "cnt")
    return vocab.select(
        "piece", "n", (F.col("units").cast("double") / F.lit(1e6)).alias("logp")
    )


def unigram_encode(
    docs: DataFrame,
    vocab: DataFrame,
    word_max_len: int = 10,
    piece_max_len: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Viterbi-encode a corpus against a trained unigram vocabulary
    (``(piece, logp)`` — :func:`unigram_train` output; units are
    recovered exactly from the quantized logp). Returns per document
    ``(id, n_words, n_chars, n_pieces, n_unk_words)``: words, characters,
    total subword pieces over segmentable words, and words that are
    unsegmentable under the vocabulary or longer than ``word_max_len``
    (those contribute 0 to ``n_pieces`` — an UNK symbol apiece).

    Scale design mirrors :func:`~convml_data_spark.operators.corpus.
    bpe_encode`: segmentation runs on the DISTINCT-word relation against
    the one-row packed vocabulary broadcast, then equi-joins back to the
    exploded tokens for one per-doc aggregation.
    """
    from .dedup import _spread

    packed = _pack(
        vocab.select(
            "piece",
            F.floor(F.col("logp") * F.lit(1e6) + F.lit(0.5))
            .cast("bigint")
            .alias("units"),
        )
    )
    tok = _spread(docs, id_col).select(
        F.col(id_col),
        F.explode(T.tokens(F.lower(F.col(text_col)))).alias("w"),
    )
    seg = viterbi_segment(
        tok.select("w").distinct().crossJoin(F.broadcast(packed)),
        "w",
        word_max_len,
        piece_max_len,
    ).select(
        "w",
        F.length("w").alias("_chars"),
        F.when(F.col("_score").isNotNull(), F.size("_pieces"))
        .otherwise(F.lit(0))
        .alias("_np"),
        F.col("_score").isNull().cast("int").alias("_unk"),
    )
    return (
        tok.join(seg, "w")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_words"),
            F.sum("_chars").alias("n_chars"),
            F.sum("_np").alias("n_pieces"),
            F.sum("_unk").alias("n_unk_words"),
        )
    )
