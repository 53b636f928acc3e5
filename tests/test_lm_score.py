"""Unigram LM quality scoring: smoothing math, OOV handling, determinism."""
import math

import pytest

from sissaschool_xmlschema_spark.functions.lm_score import (
    lm_quality,
    train_unigram_lm,
)


def _corpus(spark):
    return spark.createDataFrame(
        [
            (1, "the cat sat"),
            (2, "the dog sat"),
            (3, "the the the"),
            (4, "zzz qqq xxx"),
        ],
        "doc_id long, text string",
    )


def test_train_matches_hand_computed(spark):
    # counts: the=5, sat=2, cat=1, dog=1, zzz=1, qqq=1, xxx=1 ; N=12
    vocab, oov = train_unigram_lm(_corpus(spark), "text", vocab_size=3,
                                  alpha=0.5)
    rows = {r["tok"]: r["logp"] for r in vocab.collect()}
    denom = 12 + 0.5 * 4
    # top-3 by (count desc, tok asc): the, sat, cat
    assert set(rows) == {"the", "sat", "cat"}
    assert rows["the"] == pytest.approx(math.log(5.5 / denom))
    assert rows["sat"] == pytest.approx(math.log(2.5 / denom))
    assert rows["cat"] == pytest.approx(math.log(1.5 / denom))
    assert oov == pytest.approx(math.log(0.5 / denom))


def test_scores_and_gate(spark):
    df = _corpus(spark)
    vocab, oov = train_unigram_lm(df, "text", vocab_size=3, alpha=0.5)
    scores = {r["doc_id"]: r for r in
              lm_quality(df, "doc_id", "text", vocab, oov).collect()}
    denom = 12 + 0.5 * 4
    d3 = math.log(5.5 / denom)  # "the the the"
    assert scores[3]["avg_logp"] == pytest.approx(round(d3, 6))
    d4 = math.log(0.5 / denom)  # all OOV
    assert scores[4]["avg_logp"] == pytest.approx(round(d4, 6))
    assert scores[1]["n_tokens"] == 3


def test_vocab_tiebreak_deterministic(spark):
    # all counts equal -> vocab must be the lexicographically first tokens
    df = spark.createDataFrame(
        [(1, "b a d c")], "doc_id long, text string"
    )
    vocab, _ = train_unigram_lm(df, "text", vocab_size=2, alpha=0.5)
    assert sorted(r["tok"] for r in vocab.collect()) == ["a", "b"]


def test_invalid_params(spark):
    df = _corpus(spark)
    with pytest.raises(ValueError):
        train_unigram_lm(df, "text", vocab_size=0)
    with pytest.raises(ValueError):
        train_unigram_lm(df, "text", alpha=0.0)


# --- bigram LM ---------------------------------------------------------------

import math

from sissaschool_xmlschema_spark.functions.lm_score import (
    lm_quality_bigram,
    train_bigram_lm,
)


def _bigram_corpus(spark):
    return spark.createDataFrame(
        [(0, "a b a"), (1, "a b"), (2, "c")], "doc_id long, text string"
    )


def _bigram_model(spark):
    return train_bigram_lm(
        _bigram_corpus(spark), "text", vocab_size=2, bigram_size=3, alpha=0.5
    )


def test_bigram_training_hand_worked(spark):
    """vocab {a,b}; c→<unk>; V+2=4.  Pairs: (<s>,a)x2 (a,b)x2 (b,a) (<s>,<unk>).
    bigram_size=3 keeps (<s>,a),(a,b),(<s>,<unk>) — tie at count 1 broken by
    prev asc ('<s>' < 'b'); (b,a) falls to the context backoff."""
    vt, bg, cx, floor = _bigram_model(spark)
    assert sorted(r.tok for r in vt.collect()) == ["a", "b"]
    got = {(r.prev, r.cur): r.logp2 for r in bg.collect()}
    assert set(got) == {("<s>", "a"), ("a", "b"), ("<s>", "<unk>")}
    assert abs(got[("<s>", "a")] - math.log(2.5 / 5.0)) < 1e-9
    assert abs(got[("a", "b")] - math.log(2.5 / 4.0)) < 1e-9
    assert abs(got[("<s>", "<unk>")] - math.log(1.5 / 5.0)) < 1e-9
    backoff = {r.prev: r.backoff_logp for r in cx.collect()}
    assert abs(backoff["b"] - math.log(0.5 / 3.0)) < 1e-9
    assert abs(floor - math.log(0.25)) < 1e-9


def test_bigram_scoring_hand_worked(spark):
    docs = _bigram_corpus(spark)
    vt, bg, cx, floor = _bigram_model(spark)
    got = {
        r.doc_id: (r.n_bigrams, r.avg_logp2)
        for r in lm_quality_bigram(
            docs, "doc_id", "text", vt, bg, cx, floor
        ).collect()
    }
    exp0 = (math.log(0.5) + math.log(0.625) + math.log(0.5 / 3.0)) / 3
    exp1 = (math.log(0.5) + math.log(0.625)) / 2
    exp2 = math.log(0.3)
    assert got[0][0] == 3 and abs(got[0][1] - round(exp0, 6)) < 1e-6
    assert got[1][0] == 2 and abs(got[1][1] - round(exp1, 6)) < 1e-6
    assert got[2][0] == 1 and abs(got[2][1] - round(exp2, 6)) < 1e-6


def test_bigram_unseen_context_floor(spark):
    """A context never seen in training ('<unk>' as prev) coalesces to the
    global floor log(1/(V+2)); a seen (prev,cur) in a NEW doc still hits
    the bigram table."""
    vt, bg, cx, floor = _bigram_model(spark)
    new = spark.createDataFrame([(9, "z z")], "doc_id long, text string")
    row = lm_quality_bigram(new, "doc_id", "text", vt, bg, cx, floor).first()
    # (<s>,<unk>) -> table ln(0.3); (<unk>,<unk>) -> floor ln(0.25)
    exp = (math.log(0.3) + math.log(0.25)) / 2
    assert row.n_bigrams == 2 and abs(row.avg_logp2 - round(exp, 6)) < 1e-6


def test_bigram_null_and_empty_text(spark):
    """NULL text contributes no rows; empty text contributes the single
    pair ('<s>', '')."""
    docs = spark.createDataFrame(
        [(0, "a b a"), (7, None), (8, "")], "doc_id long, text string"
    )
    vt, bg, cx, floor = _bigram_model(spark)
    out = lm_quality_bigram(docs, "doc_id", "text", vt, bg, cx, floor)
    ids = {r.doc_id: r.n_bigrams for r in out.collect()}
    assert 7 not in ids and ids[8] == 1
