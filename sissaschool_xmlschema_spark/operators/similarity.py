"""Similarity search over embedding columns (``array<float/double>``).

North-star training-data extension; no reference counterpart.  Three tiers:

* **brute force** — cosine against a broadcast query vector, exact top-k.  One
  scan, no shuffle until the final top-k (``orderBy().limit(k)`` lowers to
  TakeOrderedAndProject: per-partition heaps + driver merge of k rows, NOT a
  global sort).
* **LSH buckets** — deterministic random-hyperplane signatures (sign patterns)
  so queries only scan their own bucket: the scale path.  At 100 TB the bucket
  column becomes the table's partition/bucketing key so a probe prunes to
  matching files.
* **IVF lists** — k data-derived centroids, every vector assigned to its
  nearest list (a row-local argmax over k in-plan dot products), queries scan
  only the ``n_probe`` lists nearest to the query.  Unlike the data-oblivious
  hyperplanes, IVF adapts to the corpus's density (the standard
  inverted-file trade: train once, then ~n·n_probe/k rows per probe).

Dot products are ``aggregate(zip_with(...))`` Column expressions — JVM-side,
no Python.  For very wide vectors a pandas-UDF/numpy batch path could win on
SIMD, but at 64–1024 dims the expression path avoids Arrow transfer entirely.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(x: Column, y: Column) -> Column:
    """Σ xᵢ·yᵢ as a higher-order-function Column (whole-stage codegen'd)."""
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p * q),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(x: Column) -> Column:
    return F.sqrt(dot(x, x))


def cosine_scores(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: Sequence[float],
) -> DataFrame:
    """``(id, cos)`` — cosine of every row's vector against the query vector.

    The query is a literal array (broadcast in the plan itself); zero-norm rows
    yield NULL (0/0) and are dropped, matching the convention that an empty
    embedding matches nothing.
    """
    q = F.array(*[F.lit(float(v)) for v in query])
    cos = dot(F.col(vec_col), q) / (norm(F.col(vec_col)) * norm(q))
    return (
        df.select(F.col(id_col).alias("id"), cos.alias("cos"))
        .where(F.col("cos").isNotNull())
    )


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine — TakeOrderedAndProject, not a global sort.

    Ties at the k-boundary are broken by id so the result is deterministic.
    """
    scores = cosine_scores(df, id_col, vec_col, query)
    return scores.orderBy(F.col("cos").desc(), F.col("id").asc()).limit(k)


def bucket_expr(
    vec_col: str,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> Column:
    """Sign-pattern LSH bucket id in [0, 2^n_planes) as a Column expression.

    The ±1 plane components are recomputed on executors from
    xxhash64(seed, p, j) — nothing is shipped (functions/xxh64.py
    ``xxhash64_planes`` gives the same grid as driver-side literals).
    sign(v·h_p) gives bit p; cosine-similar vectors collide with probability
    1 − θ/π per plane (Charikar 2002).
    """
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        comps = F.array(
            *[
                F.when(
                    F.xxhash64(F.lit(seed), F.lit(p), F.lit(j))
                    .bitwiseAND(F.lit(1)) == 1,
                    F.lit(1.0),
                ).otherwise(F.lit(-1.0))
                for j in range(dim)
            ]
        )
        proj = dot(F.col(vec_col), comps)
        bucket = bucket + F.when(
            proj > 0, F.shiftleft(F.lit(1).cast("long"), p)
        ).otherwise(F.lit(0).cast("long"))
    return bucket


def hyperplane_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """``(id, bucket)`` — see :func:`bucket_expr`.  At 100 TB the bucket
    column becomes the table's partition/bucketing key so a probe prunes to
    matching files; near neighbours land together and a probe scans
    ~n/2^n_planes rows."""
    return df.select(
        F.col(id_col).alias("id"),
        bucket_expr(vec_col, n_planes, dim, seed).alias("bucket"),
    )


def probe_buckets(qb: int, n_planes: int, multiprobe: bool) -> list[int]:
    """The bucket ids a query scans: its own, plus (with ``multiprobe``) every
    single-bit-flip neighbour — the standard multiprobe-LSH ring-1 probe set
    (Lv et al., VLDB'07): a near neighbour that landed on the wrong side of
    exactly one hyperplane is recovered at the cost of ≤ n_planes extra
    bucket filters, all still partition-pruning-friendly."""
    probes = [qb]
    if multiprobe:
        probes += [qb ^ (1 << p) for p in range(n_planes)]
    return probes


def lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate top-k: score only rows in the query's probe bucket(s).

    ``multiprobe=True`` additionally probes every single-bit-flip neighbour
    bucket (see :func:`probe_buckets`): recall strictly dominates the
    single-bucket scan at equal n_planes, while the scanned fraction stays
    ~(1 + n_planes)/2^n_planes of the table — at 100 TB each probe is a
    partition-pruned file scan, not a shuffle.
    """
    dim = len(query)
    qb = query_bucket(df.sparkSession, query, n_planes, seed)
    probes = probe_buckets(qb, n_planes, multiprobe)
    # the bucket is a pure row-local expression, so it is computed inline and
    # filtered in the SAME scan — no self-join, no shuffle; on a
    # bucket-partitioned 100 TB table this same predicate is partition pruning
    candidates = (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_vec"),
            bucket_expr(vec_col, n_planes, dim, seed).alias("_b"),
        )
        .filter(F.col("_b").isin(probes))
        .select("_id", "_vec")
    )
    scores = cosine_scores(candidates, "_id", "_vec", query)
    return scores.orderBy(F.col("cos").desc(), F.col("id").asc()).limit(k)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    multiprobe: bool = False,
    q_id: str = "id",
    q_vec: str = "vec",
    c_id: str = "id",
    c_vec: str = "vec",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Batch ANN — per-query approximate top-k for a whole QUERY TABLE.

    ``(q_id, c_id, rank, cos)``: every query joined to its LSH probe
    bucket(s) in the corpus, exact cosine within the bucket, per-query top-k
    via one ``row_number`` window.  The production serving shape when there
    are many queries (dedup-against-corpus, retrieval eval, batch knn):

    * bucket assignment is row-local on BOTH sides (no shuffle to build);
    * the join is an equi-join on the bucket id — with
      ``broadcast_queries=True`` (the serving default: query batches are
      small) the corpus side never shuffles at all, so the whole job is one
      corpus scan + a broadcast hash join + a window over the candidate set
      (~n_queries · n/2^n_planes rows, not n);
    * ``multiprobe=True`` explodes each query to its ring-1 probe set
      (:func:`probe_buckets`) before the join — recall up, corpus cost
      unchanged, candidate volume ×(n_planes+1).

    At 100 TB the corpus is partitioned by the bucket column, so the join
    prunes files; a hot bucket (skewed embedding cluster) is handled by
    AQE's skew-join split since the corpus side is the shuffled one only
    when queries aren't broadcast.  Ties are broken by ``c_id`` so results
    are deterministic and portable (the DuckDB oracle reproduces them with
    the ``xxhash64_planes`` literals).
    """
    from pyspark.sql import Window

    qb = queries.select(
        F.col(q_id).alias("q_id"),
        F.col(q_vec).alias("_qv"),
        bucket_expr(q_vec, n_planes, dim, seed).alias("_qb"),
    )
    if multiprobe:
        probes = F.array(
            F.col("_qb"),
            *[
                F.col("_qb").bitwiseXOR(F.lit(1 << p).cast("long"))
                for p in range(n_planes)
            ],
        )
        qb = qb.select(
            "q_id", "_qv", F.explode(probes).alias("bucket")
        )
    else:
        qb = qb.select("q_id", "_qv", F.col("_qb").alias("bucket"))
    if broadcast_queries:
        qb = F.broadcast(qb)
    cb = corpus.select(
        F.col(c_id).alias("c_id"),
        F.col(c_vec).alias("_cv"),
        bucket_expr(c_vec, n_planes, dim, seed).alias("bucket"),
    )
    cos = dot(F.col("_cv"), F.col("_qv")) / (
        norm(F.col("_cv")) * norm(F.col("_qv"))
    )
    scored = (
        cb.join(qb, "bucket")
        .select("q_id", "c_id", cos.alias("cos"))
        .where(F.col("cos").isNotNull())
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("c_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def query_bucket(spark, query: Sequence[float], n_planes: int = 8,
                 seed: int = 42) -> int:
    """Bucket of the query vector, computed with the *identical* Spark
    expression on a local 1-row DataFrame - guaranteed to match executors
    (no driver-side reimplementation of xxhash64)."""
    one = spark.createDataFrame(
        [(0, [float(v) for v in query])], "id long, vec array<double>"
    )
    row = hyperplane_buckets(one, "id", "vec", n_planes, len(query), seed)
    return row.first()["bucket"]


# ---------------------------------------------------------------------------
# IVF (inverted-file) lists — the data-adaptive ANN scale path
# ---------------------------------------------------------------------------


def ivf_seed_centroids(
    df: DataFrame, id_col: str, vec_col: str, k: int = 8
) -> list:
    """Deterministic seed centroids: the vectors of the ``k`` smallest ids.

    ``orderBy(id).limit(k)`` lowers to TakeOrderedAndProject (per-partition
    heaps of k rows + driver merge — no global sort), so the collect is
    bounded by k·dim doubles regardless of table size.  Id-order seeding is
    reproducible across engines, which is what lets a SQL oracle rebuild the
    identical centroid set; :func:`ivf_refine` turns these into proper
    k-means centroids when quality matters more than portability.
    """
    rows = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy("id")
        .limit(k)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"need at least k={k} rows to seed centroids")
    return [[float(x) for x in r["v"]] for r in rows]


def _centroid_matrix(centroids: Sequence[Sequence[float]]) -> Column:
    """The centroid set as one ``array<array<double>>`` literal column."""
    return F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
    )


def ivf_scores_expr(vec_col: str, centroids: Sequence[Sequence[float]]) -> Column:
    """Per-centroid scores ``dot(v, c)/|c|`` as one array expression.

    The |v| factor is common to every centroid so the argmax is the cosine
    argmax without computing it; |c| is evaluated IN-PLAN (not pre-divided on
    the driver) so an oracle that derives the same centroids from the same
    table reproduces every double bit-for-bit.
    """
    return F.transform(
        _centroid_matrix(centroids),
        lambda c: dot(F.col(vec_col), c) / F.sqrt(dot(c, c)),
    )


def ivf_assign_expr(vec_col: str, centroids: Sequence[Sequence[float]]) -> Column:
    """0-based index of the nearest centroid (ties → smallest index).

    Row-local: k literal dot products and an array argmax inside one
    whole-stage-codegen span — no shuffle, no Python.  At 100 TB this column
    is the table's partition key, so a probe is partition pruning.
    """
    scores = ivf_scores_expr(vec_col, centroids)
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


def ivf_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: Sequence[Sequence[float]],
) -> DataFrame:
    """``(id, list_idx)`` — every vector's inverted-list assignment."""
    return df.select(
        F.col(id_col).alias("id"),
        ivf_assign_expr(vec_col, centroids).alias("list_idx"),
    )


def ivf_refine(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: Sequence[Sequence[float]],
    iters: int = 1,
) -> list:
    """Lloyd iterations entirely as DataFrame ops; returns refined centroids.

    Each iteration: assign (row-local argmax) → per-(list, dimension) mean via
    ``posexplode`` + one groupBy → collect k·dim cell means (kilobytes — a
    model, not row data, same bounded-transfer argument as
    functions/lang_model.py train).  Lists that lose all members keep their
    previous centroid (the standard empty-cluster fallback).
    """
    dim = len(centroids[0])
    cur = [list(map(float, c)) for c in centroids]
    for _ in range(iters):
        assigned = df.select(
            ivf_assign_expr(vec_col, cur).alias("list_idx"),
            F.col(vec_col).alias("v"),
        )
        cells = (
            assigned.select(
                "list_idx", F.posexplode("v").alias("pos", "x")
            )
            .groupBy("list_idx", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        nxt = [list(c) for c in cur]
        for row in cells:
            nxt[row["list_idx"]][row["pos"]] = float(row["m"])
        cur = nxt
    return cur


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    centroids: Sequence[Sequence[float]] | None = None,
    n_lists: int = 8,
    n_probe: int = 2,
) -> DataFrame:
    """Approximate top-k: exact cosine over the ``n_probe`` nearest lists.

    Probe selection is driver-side arithmetic over the k centroids (a model,
    not data); candidate filtering is the same row-local assignment
    expression, so the whole query is one pruned scan + TakeOrderedAndProject
    — no shuffle, no self-join.  With ``centroids=None`` the id-order seed
    set is used (portable; see :func:`ivf_seed_centroids`) — production
    callers pass :func:`ivf_refine`'d centroids computed once per corpus.
    """
    if centroids is None:
        centroids = ivf_seed_centroids(df, id_col, vec_col, n_lists)
    qv = [float(x) for x in query]
    # probe ranking mirrors ivf_scores_expr: dot(q, c)/|c|, ties → smaller idx
    scored = []
    for i, c in enumerate(centroids):
        nc = math.sqrt(sum(x * x for x in c))
        scored.append((-(sum(a * b for a, b in zip(qv, c)) / nc), i))
    probes = [i for _, i in sorted(scored)[:n_probe]]
    candidates = (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_vec"),
            ivf_assign_expr(vec_col, centroids).alias("_l"),
        )
        .filter(F.col("_l").isin(probes))
        .select("_id", "_vec")
    )
    scores = cosine_scores(candidates, "_id", "_vec", query)
    return scores.orderBy(F.col("cos").desc(), F.col("id").asc()).limit(k)
