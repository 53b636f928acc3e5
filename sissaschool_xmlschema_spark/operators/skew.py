"""Key-skew diagnostics — the planning stage for salted joins and groupBys.

The north rule requires "partitioning / shuffle / skew handled explicitly".
The engine already ships the *mechanisms* (opt-in salting of the occurrence
counts, ``occurs_program(salt=)`` / ``occurs_violations(salt=)`` in
operators/sequence.py, and AQE skew-join); this module ships the
*measurement* that decides when to use them: a one-pass report of how a key
column's mass is distributed across would-be shuffle partitions.

The reference has no analogue (single-process validators have no shuffles);
this is new-engine surface, like operators/stats.py.

Outputs are deliberately tiny (top-N rows + one summary row), so the report
itself is safe to compute on a 100 TB table: a single partial-aggregated
groupBy on the key (the same shuffle shape the diagnosed join would have,
but carrying one count per distinct key instead of the payload), then a
driver-sized top-N.

* :func:`heavy_hitters` — exact top-N keys by row count with corpus share:
  the keys you would salt (or broadcast the other side of).
* :func:`skew_report` — one summary row: distinct keys, max/avg key mass,
  the skew ratio (max key count / mean key count), and the share held by
  the top-N keys.  ``skew_ratio >> n_shuffle_partitions`` means one task
  processes a multiple of the average load and salting pays for itself.
* :func:`suggest_salt` — the engine's own decision rule, as a pure
  function: given the summary row, the salt factor that levels the largest
  key onto roughly-average tasks (what the ``salt`` argument of
  sequence.py's ``occurs_program`` / ``occurs_violations`` expects).

All exact and SQL-expressible — the driver's DuckDB oracle reproduces both
DataFrames bit-for-bit (queries ``skew_hitters`` / ``skew_summary``).
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F


def _key_counts(df: DataFrame, key: str):
    """One groupBy producing per-key counts; the grand total re-aggregates
    the SAME counts frame, so AQE's ReusedExchange serves both consumers
    from one shuffle and the raw table is scanned exactly once (verified
    in tests/test_skew.py on the final adaptive plan).  NULL keys count as
    a key: an all-NULL join column is the worst skew there is.

    (A ``rollup`` would compute both grouping sets in one aggregate, but
    Catalyst pushes the grouping-id filters below the aggregate into the
    Expand, making the two subtrees differ — which BLOCKS exchange reuse
    and doubles the scan.  Measured, not guessed.)
    """
    per_key = df.groupBy(F.col(key).alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total = per_key.agg(F.sum("n").alias("_total"))
    return per_key, total


def heavy_hitters(df: DataFrame, key: str, top_n: int = 20) -> DataFrame:
    """Top-``top_n`` keys by row count: ``(key, n, share)``.

    One partial-aggregated groupBy (executors ship one count per distinct
    key) followed by ``TakeOrderedAndProject`` — no full sort; the grand
    total for ``share`` reuses the counts exchange (broadcast back), so
    the raw table is scanned exactly once.  ``share`` is rounded to 9 dp
    so double division cannot perturb a value hash.
    """
    per_key, total = _key_counts(df, key)
    return (
        per_key.orderBy(F.col("n").desc(), F.col("key").asc_nulls_last())
        .limit(top_n)
        .crossJoin(F.broadcast(total))
        .select(
            F.col("key").cast("string").alias("key"),
            F.col("n"),
            F.round(F.col("n") / F.col("_total"), 9).alias("share"),
        )
    )


def skew_report(df: DataFrame, key: str, top_n: int = 20) -> DataFrame:
    """One-row skew summary for ``key``:

    ``n_rows, n_keys, max_key_n, avg_key_n, skew_ratio, top_share``

    ``skew_ratio`` = max key mass / mean key mass — 1.0 is perfectly
    uniform; a ratio of R means the hottest shuffle task does ~R× the
    average work (AQE can split post-hoc, salting prevents it up front).
    ``top_share`` is the fraction of all rows held by the ``top_n``
    hottest keys — near 1.0 means "broadcast the other side / give these
    keys their own plan", not just salting.

    Two aggregations over the one-count-per-key frame (tiny after the
    groupBy, whose exchange every consumer reuses); everything is exact
    integers + one rounded double.
    """
    per_key, _ = _key_counts(df, key)
    top = (
        per_key.orderBy(F.col("n").desc(), F.col("key").asc_nulls_last())
        .limit(top_n)
        .agg(F.sum("n").alias("top_n_rows"))
    )
    summary = per_key.agg(
        F.sum("n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n").alias("max_key_n"),
    )
    return summary.crossJoin(top).select(
        "n_rows",
        "n_keys",
        "max_key_n",
        F.round(F.col("n_rows") / F.col("n_keys"), 9).alias("avg_key_n"),
        F.round(
            F.col("max_key_n") * F.col("n_keys") / F.col("n_rows"), 9
        ).alias("skew_ratio"),
        F.round(F.col("top_n_rows") / F.col("n_rows"), 9).alias("top_share"),
    )


def suggest_salt(
    summary: Row, shuffle_partitions: int, threshold: float = 2.0
) -> int:
    """Salt factor for the measured distribution (pure driver logic).

    Returns 1 (no salting) unless the hottest key exceeds ``threshold``×
    the average *partition* load (``n_rows / shuffle_partitions``); else
    the factor that splits the hottest key down to roughly one average
    partition per salt bucket, capped at ``shuffle_partitions``.  Feed the
    result to the ``salt`` argument of ``occurs_program`` /
    ``occurs_violations`` in operators/sequence.py.
    """
    avg_partition = summary["n_rows"] / max(shuffle_partitions, 1)
    if avg_partition <= 0 or summary["max_key_n"] <= threshold * avg_partition:
        return 1
    return min(
        shuffle_partitions, math.ceil(summary["max_key_n"] / avg_partition)
    )
