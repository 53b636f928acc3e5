"""The batch ANN join and the end-to-end curation pipeline."""

import math

import pytest
from pyspark.sql import functions as F

from sissaschool_xmlschema_spark.functions.xxh64 import xxhash64_planes
from sissaschool_xmlschema_spark.operators import pipeline, similarity


# ---------------------------------------------------------------------------
# knn_join
# ---------------------------------------------------------------------------


def _vec_rows(n=200, dim=8):
    # directional clusters so LSH buckets are meaningful
    import random

    rnd = random.Random(7)
    rows = []
    for i in range(n):
        base = [1.0 if (i % 4) == (j % 4) else 0.1 for j in range(dim)]
        rows.append((i, [x + rnd.random() * 0.05 for x in base]))
    return rows


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(_vec_rows(), "id int, v array<double>")


def _python_knn(rows, planes, queries, k, multiprobe):
    def bucket(v):
        b = 0
        for p, pl in enumerate(planes):
            if sum(a * c for a, c in zip(v, pl)) > 0:
                b |= 1 << p
        return b

    buckets = {i: bucket(v) for i, v in rows}
    by_v = dict(rows)
    out = {}
    for qi in queries:
        qb = buckets[qi]
        probes = {qb} | (
            {qb ^ (1 << p) for p in range(len(planes))} if multiprobe
            else set()
        )
        qv = by_v[qi]
        qn = math.sqrt(sum(x * x for x in qv))
        cand = []
        for ci, cv in rows:
            if buckets[ci] in probes:
                cn = math.sqrt(sum(x * x for x in cv))
                cos = sum(a * b for a, b in zip(cv, qv)) / (cn * qn)
                cand.append((-cos, ci))
        cand.sort()
        out[qi] = [ci for _, ci in cand[:k]]
    return out


def test_knn_join_matches_python_oracle(spark, vecs):
    planes = xxhash64_planes(3, 8)
    got = similarity.knn_join(
        vecs.filter("id < 5"), vecs, k=4, n_planes=3, dim=8,
        q_id="id", q_vec="v", c_id="id", c_vec="v",
    ).collect()
    expect = _python_knn(_vec_rows(), planes, range(5), 4, multiprobe=False)
    by_q = {}
    for r in sorted(got, key=lambda r: (r["q_id"], r["rank"])):
        by_q.setdefault(r["q_id"], []).append(r["c_id"])
    assert by_q == expect


def test_knn_join_multiprobe_dominates(spark, vecs):
    planes = xxhash64_planes(3, 8)
    kwargs = dict(
        k=4, n_planes=3, dim=8,
        q_id="id", q_vec="v", c_id="id", c_vec="v",
    )
    single = similarity.knn_join(
        vecs.filter("id < 10"), vecs, multiprobe=False, **kwargs
    )
    multi = similarity.knn_join(
        vecs.filter("id < 10"), vecs, multiprobe=True, **kwargs
    )
    exact = {
        r["id"]
        for r in similarity.cosine_topk(
            vecs, "id", "v", _vec_rows()[3][1], 4
        ).collect()
    }

    def recall(df, q):
        ids = {r["c_id"] for r in df.collect() if r["q_id"] == q}
        return len(ids & exact)

    # each (q, c) candidate appears at most once even with multiprobe
    mrows = multi.collect()
    assert len(mrows) == len({(r["q_id"], r["c_id"]) for r in mrows})
    assert recall(multi, 3) >= recall(single, 3)
    # python-oracle parity for the multiprobe flavor too
    expect = _python_knn(_vec_rows(), planes, range(10), 4, multiprobe=True)
    by_q = {}
    for r in sorted(mrows, key=lambda r: (r["q_id"], r["rank"])):
        by_q.setdefault(r["q_id"], []).append(r["c_id"])
    assert by_q == expect


# ---------------------------------------------------------------------------
# pretraining_keep pipeline
# ---------------------------------------------------------------------------

LONG_EN = (
    "the quick brown fox jumps over the lazy dog and then runs back to "
    "the barn where it sleeps for a while before it is time to hunt again"
)
LONG_EN_DUP = (
    "the quick brown fox jumps over the lazy dog and then runs back to "
    "the barn where it sleeps for a while before it is time to hunt too"
)
LONG_ES = (
    "el zorro marron salta sobre el perro perezoso y luego corre de "
    "vuelta al granero donde duerme un rato antes de que sea hora de "
    "cazar de nuevo otra vez"
)
NO_STOP = (
    "zorp blick flum grackle snerd plonk wizzle crunk blat frop zim "
    "nuzzle quang dreep vorm splick trone gwam blurt skiff plim drone"
)
PUNCTY = "!!! ??? *** " * 20 + "the fox is here to stay for a while ok"


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, LONG_EN),          # kept (smallest id of the near-dup pair)
        (2, LONG_EN_DUP),      # gated in, dropped by dedup against 1
        (3, LONG_ES),          # rejected: language
        (4, NO_STOP),          # rejected: no marker tokens -> lang 'und'
        (5, "the fox is ok"),  # rejected: too short
        (6, PUNCTY),           # rejected: punctuation-heavy
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pipeline_gates_and_dedup(spark, corpus):
    kept = pipeline.pretraining_keep(
        corpus, "doc_id", "text", min_tokens=20, langs=("en",),
    ).collect()
    assert {r["id"] for r in kept} == {1}
    row = kept[0]
    assert row["lang"] == "en" and row["n_tokens"] >= 20


def test_pipeline_dedup_ignores_rejected_docs(spark, corpus):
    # doc 2 is a near-dup of doc 1; if doc 1 is REJECTED by a stricter
    # length gate, doc 2 must survive (dedup runs after the gates)
    stricter = pipeline.pretraining_keep(
        corpus.withColumn(
            "text",
            F.when(F.col("doc_id") == 1, F.lit("the fox is ok")).otherwise(
                F.col("text")
            ),
        ),
        "doc_id",
        "text",
        min_tokens=20,
        langs=("en",),
    ).collect()
    assert {r["id"] for r in stricter} == {2}


def test_pipeline_no_lang_gate(spark, corpus):
    kept = pipeline.pretraining_keep(
        corpus, "doc_id", "text", min_tokens=20, langs=None
    ).collect()
    assert {r["id"] for r in kept} == {1, 3}
    langs = {r["id"]: r["lang"] for r in kept}
    assert langs[3] == "es"


def test_bm25_topk_matches_python(spark):
    """BM25 scores match an independent python computation exactly (to the
    6-dp rounding), ranking and tie-breaks included."""
    import math

    from sissaschool_xmlschema_spark.operators.retrieval import bm25_topk

    docs = [
        (0, "spark shuffles data across the cluster"),
        (1, "spark  spark\tspark\ntuning guide "),  # multi-space/tab/newline
        (2, "the cat sat on the mat"),
        (3, "data locality and shuffle avoidance in spark"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    query = ["spark", "shuffle"]
    got = [(r.doc_id, r.score) for r in bm25_topk(
        df, "doc_id", "text", query, k=3).collect()]

    # independent python oracle; .split() = whitespace tokens, empties
    # dropped — the same tokenization as text.whitespace_tokens, so BM25's
    # dl matches text.token_count even on messy whitespace
    k1, b = 1.2, 0.75
    toks = {i: t.lower().split() for i, t in docs}
    N = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / N
    def idf(term):
        dfq = sum(1 for v in toks.values() if term in v)
        return math.log(1 + (N - dfq + 0.5) / (dfq + 0.5))
    exp = {}
    for i, v in toks.items():
        s = 0.0
        for t in set(q.lower() for q in query):
            tf = v.count(t)
            if tf:
                s += idf(t) * tf * (k1 + 1) / (
                    tf + k1 * (1 - b + b * len(v) / avgdl))
        if s > 0:
            exp[i] = round(s, 6)
    expected = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert got == expected
    # doc 2 (no query terms) never appears
    assert 2 not in {i for i, _ in got}


def test_bm25_dl_equals_token_count(spark):
    """BM25's internal document length uses the same tokenizer as
    text.token_count: split on any whitespace run, empties dropped."""
    from pyspark.sql import functions as F

    from sissaschool_xmlschema_spark.functions.text import token_count
    from sissaschool_xmlschema_spark.operators.retrieval import _terms

    df = spark.createDataFrame(
        [(0, "a  b\tc\nd "), (1, " x "), (2, "one two  three")],
        "doc_id long, text string",
    )
    rows = df.select(
        F.size(_terms("text")).alias("dl"),
        token_count(F.col("text")).alias("tc"),
    ).collect()
    assert all(r.dl == r.tc for r in rows)
