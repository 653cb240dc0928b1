"""Corpus-curation operators (operators/corpus.py, dedup.canonical_survivors):
decontamination, Gopher quality gate, TF-IDF, PII scrub, weighted sampling."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from convml_data_spark.functions import text as T
from convml_data_spark.operators import corpus
from convml_data_spark.operators.dedup import canonical_survivors
from tests.conftest import CC_THRESHOLDS, broadcast_threshold


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_overlap_counts_and_broadcast(spark):
    train = _docs(
        spark,
        [
            (1, "a b c d e f g h"),          # shares the eval 8-token run
            (2, "a b c d e f x y"),          # shares no full 3-gram window? (see n=3)
            (3, "zz yy xx ww vv uu tt ss"),  # disjoint
        ],
    )
    ev = _docs(spark, [(100, "a b c d e f g h i j")])
    out = corpus.ngram_overlap(train, ev, n=3)
    got = {r["doc_id"]: (r["n_shared_ngrams"], r["n_eval_docs"]) for r in out.collect()}
    # doc 1: 3-grams abc bcd cde def efg fgh -> all 6 present in eval
    # doc 2: abc bcd cde def shared (efx fxy not)
    assert got[1] == (6, 1)
    assert got[2] == (4, 1)
    assert 3 not in got
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    assert "BroadcastHashJoin" in buf.getvalue()


def test_gopher_quality_flags(spark):
    long_ok = " ".join(
        w for i in range(30) for w in (f"item{i:02d}", "the" if i % 2 else "of")
    )
    repeat2 = " ".join(["spam ham"] * 30)  # top bigram dominates
    short = "tiny doc here"
    docs = _docs(spark, [(1, long_ok), (2, repeat2), (3, short)])
    got = {r["doc_id"]: r.asDict() for r in corpus.gopher_quality(docs).collect()}
    assert got[1]["word_count_ok"] and got[1]["stopword_ok"] and got[1]["pass_gopher"]
    assert not got[2]["rep_2gram_ok"] and not got[2]["pass_gopher"]
    assert not got[3]["word_count_ok"] and not got[3]["pass_gopher"]
    assert got[3]["n_words"] == 3
    assert abs(got[3]["mean_word_len"] - (4 + 3 + 4) / 3) < 1e-6  # round(6) output


def test_tfidf_rank_and_determinism(spark):
    docs = _docs(
        spark,
        [
            (1, "apple apple apple shared"),
            (2, "banana banana shared shared"),
            (3, "cherry shared kiwi melon"),
        ],
    )
    out = corpus.tfidf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["term"], r["score"]))
    # 'shared' appears in all 3 docs -> idf = ln(4/4) = 0 -> never outranks
    assert by_doc[1][0][1] == "apple"
    assert by_doc[2][0][1] == "banana"
    # doc 3 singletons tie on score -> term-asc tiebreak
    top3 = sorted(by_doc[3])
    assert [t[1] for t in top3] == ["cherry", "kiwi"]
    assert all(len(v) == 2 for v in by_doc.values())


def test_pii_scrub_redacts_and_counts(spark):
    docs = _docs(
        spark,
        [(1, "mail a.b+c@x-y.org and bob@ex.io call 555-0102 or 123-4567-89 end")],
    )
    t = F.col("text")
    n_email, n_phone = T.pii_counts(t)
    row = docs.select(
        n_email.alias("e"), n_phone.alias("p"), T.redact_pii(t).alias("red")
    ).collect()[0]
    assert row["e"] == 2 and row["p"] == 2
    assert "<EMAIL>" in row["red"] and "<PHONE>" in row["red"]
    assert "@" not in row["red"] and "555" not in row["red"]


def test_quality_weighted_sample_deterministic_and_monotone(spark):
    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 10 / F.lit(10.0)).alias("w"),
    )
    kept = corpus.quality_weighted_sample(docs, "w", seed=9)
    again = corpus.quality_weighted_sample(docs, "w", seed=9)
    a = sorted(r["doc_id"] for r in kept.collect())
    assert a == sorted(r["doc_id"] for r in again.collect())
    # w=0 rows can never be kept; higher weight keeps more
    rates = {
        r["w"]: r["n"]
        for r in kept.groupBy("w").agg(F.count("*").alias("n")).collect()
    }
    assert 0.0 not in rates
    assert rates[0.9] > rates.get(0.1, 0)
    # keep-rate roughly matches the weight (200 rows per bucket)
    assert 0.6 * 200 * 0.9 < rates[0.9] <= 200


def test_canonical_survivors_collapse(spark):
    ids = spark.range(10).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "id_a long, id_b long"
    )
    for threshold in CC_THRESHOLDS:
        with broadcast_threshold(spark, threshold):
            got = sorted(
                r["doc_id"]
                for r in canonical_survivors(ids, pairs, id_col="doc_id").collect()
            )
        # cluster {0,1,2} -> keep 0; {5,6} -> keep 5; others untouched
        assert got == [0, 3, 4, 5, 7, 8, 9], threshold


def test_gate_carry_cols_ride_through(spark):
    """carry_cols pass-through on the two quality gates — the streaming
    composition contract (stream_curation_pipeline chains gate → gate →
    signatures on ONE streaming relation; a verdict re-join would be a
    stream-stream join). Carried values must arrive unchanged and the
    gate columns must be unaffected by the carry."""
    from convml_data_spark.operators import corpus

    df = spark.createDataFrame(
        [(1, "the cat sat. on the mat today fine.", "payload-1"),
         (2, "", "payload-2")],
        "doc_id long, text string, extra string",
    )
    g = corpus.gopher_quality(df, min_words=2, carry_cols=("extra", "text"))
    rows = {r["doc_id"]: r for r in g.collect()}
    assert rows[1]["extra"] == "payload-1" and rows[1]["text"].startswith("the cat")
    assert rows[2]["extra"] == "payload-2"
    base = {
        r["doc_id"]: r["pass_gopher"]
        for r in corpus.gopher_quality(df, min_words=2).collect()
    }
    assert {k: rows[k]["pass_gopher"] for k in rows} == base
    c = corpus.c4_line_filters(
        df.withColumnRenamed("text", "page"), text_col="page",
        carry_cols=("extra",),
    )
    crows = {r["doc_id"]: r for r in c.collect()}
    assert crows[1]["extra"] == "payload-1" and crows[2]["extra"] == "payload-2"
