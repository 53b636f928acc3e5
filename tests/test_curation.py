"""Curation operators: decontamination, repetition/PII signals, mixture +
deterministic sampling (operators/curation.py).

Strategy mirrors the reference's plant-then-assert tests (the XSD suite
plants invalid values and asserts exact violation rows): every case builds a
tiny corpus where the right answer is computable by hand or by a pure-Python
oracle, then asserts the Spark result exactly.
"""

import pytest
from pyspark.sql import functions as F

from sissaschool_xmlschema_spark.operators import curation as C


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# token n-grams


def test_token_ngrams_basic_and_short(spark):
    df = _docs(spark, [(1, "A b c d"), (2, "x y"), (3, "q")])
    out = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id", C.token_ngrams(F.col("text"), 3).alias("g")
        ).collect()
    }
    assert out[1] == ["a b c", "b c d"]  # lowercased, sliding
    assert out[2] == []  # shorter than n -> empty, never a descending range
    assert out[3] == []


def test_token_ngrams_rejects_bad_width(spark):
    with pytest.raises(ValueError):
        C.token_ngrams(F.col("text"), 0)


# ---------------------------------------------------------------------------
# decontamination


@pytest.fixture(scope="module")
def contam_corpus(spark):
    # bench doc holds "one two three four"; c1 contains that exact 4-gram
    # span, c2 shares tokens but no contiguous 3-gram, c3 is disjoint,
    # c4 is shorter than n and must always survive
    corpus = _docs(
        spark,
        [
            (1, "zz one two three four yy"),
            (2, "two one four three"),
            (3, "alpha beta gamma delta"),
            (4, "one two"),
        ],
    )
    bench = _docs(spark, [(100, "one two three four")])
    return corpus, bench


def test_contamination_hits_and_keep(spark, contam_corpus):
    corpus, bench = contam_corpus
    hits = {
        r["doc_id"]: r["n_hits"]
        for r in C.contamination_hits(
            corpus, bench, "doc_id", "text", n=3
        ).collect()
    }
    # doc 1 shares the grams "one two three" and "two three four"
    assert hits == {1: 2}
    kept = sorted(
        r["doc_id"]
        for r in C.decontaminate(corpus, bench, "doc_id", "text", n=3).collect()
    )
    assert kept == [2, 3, 4]


def test_contamination_hash_flavor_matches(spark, contam_corpus):
    corpus, bench = contam_corpus
    a = sorted(
        map(
            tuple,
            C.contamination_hits(corpus, bench, "doc_id", "text", n=3).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            C.contamination_hits(
                corpus, bench, "doc_id", "text", n=3, hash_grams=True
            ).collect(),
        )
    )
    assert a == b


# ---------------------------------------------------------------------------
# repetition metrics


def test_repetition_metrics_counts(spark):
    # "a b a b a b" -> 6 tokens, 2 distinct -> 4 dup; 2-grams:
    # [a b, b a, a b, b a, a b] -> 5 grams, 2 distinct -> 3 dup
    df = _docs(spark, [(1, "a b a b a b"), (2, "u v w")])
    out = {
        r["doc_id"]: r
        for r in C.repetition_metrics(df, "doc_id", "text", gram_n=2).collect()
    }
    assert (out[1]["n_tokens"], out[1]["n_dup_token"]) == (6, 4)
    assert (out[1]["n_gram"], out[1]["n_dup_gram"]) == (5, 3)
    assert (out[2]["n_dup_token"], out[2]["n_dup_gram"]) == (0, 0)


def test_top_ngram_counts(spark):
    df = _docs(spark, [(1, "a b a b a b"), (2, "u v w"), (3, "q")])
    out = {
        r["doc_id"]: r["top_n"]
        for r in C.top_ngram_counts(df, "doc_id", "text", n=2).collect()
    }
    assert out[1] == 3  # "a b" occurs 3 times
    assert out[2] == 1
    assert 3 not in out  # no bigrams -> absent, not 0


# ---------------------------------------------------------------------------
# span dedup


def test_span_dedup_cross_doc_and_within_doc(spark):
    # doc 1 defines spans [a b c] [d e f]; doc 2 repeats [a b c] then has its
    # own [x y z]; doc 3 repeats one span WITHIN itself; doc 4 is entirely a
    # duplicate of doc 1's first span and must vanish
    df = _docs(
        spark,
        [
            (1, "a b c d e f"),
            (2, "a b c x y z"),
            (3, "p q r p q r"),
            (4, "a b c"),
        ],
    )
    out = {
        r["doc_id"]: r for r in C.span_dedup(df, "doc_id", "text", width=3).collect()
    }
    assert out[1]["clean_text"] == "a b c d e f"
    assert (out[1]["n_spans"], out[1]["n_kept"]) == (2, 2)
    assert out[2]["clean_text"] == "x y z"  # first span deduped away
    assert out[3]["clean_text"] == "p q r"  # within-doc repeat dropped
    assert 4 not in out  # fully duplicated doc drops out entirely


def test_span_dedup_short_doc_and_tail(spark):
    # a doc shorter than width is one span; tails shorter than width count
    df = _docs(spark, [(1, "a b c d"), (2, "zz")])
    out = {
        r["doc_id"]: r for r in C.span_dedup(df, "doc_id", "text", width=3).collect()
    }
    assert out[1]["clean_text"] == "a b c d"
    assert out[1]["n_spans"] == 2  # [a b c] + tail [d]
    assert out[2]["clean_text"] == "zz"


def test_span_dedup_hash_flavor_matches(spark):
    df = _docs(
        spark,
        [(i, f"w{i % 7} common span tokens here plus w{i % 3}") for i in range(40)],
    )
    a = sorted(map(tuple, C.span_dedup(df, "doc_id", "text", 3).collect()))
    b = sorted(
        map(tuple, C.span_dedup(df, "doc_id", "text", 3, hash_spans=True).collect())
    )
    assert a == b


# ---------------------------------------------------------------------------
# PII


def test_pii_scan_and_redaction(spark):
    df = _docs(
        spark,
        [
            (1, "mail bob.smith+x@corp.example.org please"),
            (2, "host 192.168.0.1 then 10.0.0.7"),
            (3, "call +1 415 555-0123 today"),
            (4, "clean text only"),
        ],
    )
    out = {r["doc_id"]: r for r in C.pii_scan(df, "doc_id", "text").collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_ipv4"] == 0
    assert out[2]["n_ipv4"] == 2
    assert out[3]["n_phone"] == 1
    assert (out[4]["n_email"], out[4]["n_ipv4"], out[4]["n_phone"]) == (0, 0, 0)
    red = {
        r["doc_id"]: r["red"]
        for r in df.select(
            "doc_id", C.redact_pii(F.col("text")).alias("red")
        ).collect()
    }
    assert red[1] == "mail <EMAIL> please"
    assert red[2] == "host <IP> then <IP>"
    assert red[3] == "call <PHONE> today"
    assert red[4] == "clean text only"


# ---------------------------------------------------------------------------
# mixture + sampling


def test_mixture_weights(spark):
    df = spark.createDataFrame(
        [(1, "a b c", "en"), (2, "d e", "en"), (3, "f", "fr")],
        "doc_id long, text string, lang string",
    )
    out = {
        r["lang"]: (r["n_docs"], r["n_tokens"])
        for r in C.mixture_weights(df, ["lang"], "text").collect()
    }
    assert out == {"en": (2, 5), "fr": (1, 1)}


def test_stratified_sample_deterministic_and_rate(spark):
    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("fr").alias("lang"),
    )
    kept = C.stratified_sample(
        df, "doc_id", "lang", {"en": 250000, "fr": 750000}
    )
    rows = {(r["doc_id"], r["lang"]) for r in kept.collect()}
    # deterministic: the exact same set on a second run
    rows2 = {
        (r["doc_id"], r["lang"])
        for r in C.stratified_sample(
            df, "doc_id", "lang", {"en": 250000, "fr": 750000}
        ).collect()
    }
    assert rows == rows2
    n_en = sum(1 for _, l in rows if l == "en")
    n_fr = sum(1 for _, l in rows if l == "fr")
    # 1000 ids per stratum; binomial(1000, p) stays well inside ±5 sigma
    assert 180 < n_en < 320
    assert 680 < n_fr < 820
    # unlisted strata fall back to default_ppm=0 -> dropped entirely
    only_en = C.stratified_sample(df, "doc_id", "lang", {"en": 250000})
    assert only_en.filter(F.col("lang") == "fr").count() == 0


def test_sample_ppm_portable_matches_python_md5(spark):
    # cross-check the md5 gate against a pure-Python md5 oracle
    import hashlib

    ids = list(range(50))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["doc_id"]: r["ppm"]
        for r in df.select(
            "doc_id", C.sample_ppm(F.col("doc_id")).alias("ppm")
        ).collect()
    }
    for i in ids:
        h = hashlib.md5(f"42|{i}".encode()).hexdigest()
        assert got[i] == int(h[:8], 16) % 1_000_000


def test_sample_exact_k(spark):
    """sample_exact_k: exactly min(k, |stratum|) rows per stratum, stable
    under re-execution, and a strict subset ordering — k=2 rows are a
    prefix of the k=3 selection (hash-rank determinism)."""
    from sissaschool_xmlschema_spark.operators.curation import sample_exact_k

    rows = [(i, "en" if i % 3 else "fr") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out3 = sample_exact_k(df, "doc_id", "lang", k=3)
    got3 = {(r.lang, r.doc_id) for r in out3.collect()}
    by_lang = {}
    for lang, i in got3:
        by_lang.setdefault(lang, set()).add(i)
    assert {len(v) for v in by_lang.values()} == {3}
    # deterministic under re-run
    assert {(r.lang, r.doc_id) for r in sample_exact_k(
        df, "doc_id", "lang", k=3).collect()} == got3
    # k=2 is a prefix of k=3
    got2 = {(r.lang, r.doc_id) for r in sample_exact_k(
        df, "doc_id", "lang", k=2).collect()}
    assert got2 < got3
    # quota larger than stratum: returns the whole stratum
    tiny = spark.createDataFrame([(1, "x")], "doc_id long, lang string")
    assert sample_exact_k(tiny, "doc_id", "lang", k=5).count() == 1


def test_mixture_plan_and_apply(spark):
    """mixture_plan: rate = min(1, budget*w / stratum_tokens); a stratum too
    small for its share is taken whole (capped, shortfall exposed, never
    silently re-normalized).  mixture_apply keeps ~rate of each stratum
    deterministically."""
    from sissaschool_xmlschema_spark.operators.curation import (
        mixture_apply,
        mixture_plan,
    )

    rows = (
        [(i, "en", "w " * 9 + "w") for i in range(100)]       # 1000 en tokens
        + [(1000 + i, "fr", "w " * 9 + "w") for i in range(5)]  # 50 fr tokens
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    plan = mixture_plan(
        df, "lang", "text", {"en": 0.5, "fr": 0.5}, budget_tokens=200
    )
    p = {r.lang: r for r in plan.collect()}
    # en: 100*0.5/1000 = 10% -> 100000 ppm, expects 100 tokens
    assert p["en"].target_ppm == 100_000 and p["en"].expected_tokens == 100
    # fr: budget share 100 > 50 available -> capped at 10^6 (whole stratum)
    assert p["fr"].target_ppm == 1_000_000 and p["fr"].expected_tokens == 50
    kept = mixture_apply(df, plan, "doc_id", "lang")
    by = {r.lang: r.n for r in kept.groupBy("lang").agg(
        F.count("*").alias("n")).collect()}
    assert by["fr"] == 5                      # whole stratum kept
    assert 2 <= by.get("en", 0) <= 25         # ~10% of 100, hash-deterministic
    # deterministic under re-run
    assert kept.count() == mixture_apply(df, plan, "doc_id", "lang").count()
    # unknown stratum -> rate 0
    plan2 = mixture_plan(df, "lang", "text", {"en": 1.0}, budget_tokens=100)
    p2 = {r.lang: r.target_ppm for r in plan2.collect()}
    assert p2["fr"] == 0
