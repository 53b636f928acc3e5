"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then compares
row count, column names, and order-insensitive values (sorted rows, columns
sorted by name — the driver's value-hash equivalent).

Usage: python tools/check_oracle.py [--sf DIR] [query ...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()

# Approximate queries cannot hash-match an exact oracle, but they CAN be
# bounds-checked (round-2 verdict item 7): HLL distinct counts must land
# within 3·rsd of DuckDB's exact counts, and each approx percentile must lie
# between the exact quantiles one accuracy step on either side.
STATS_APPROX_RSD = 0.05  # matches q_stats_approx's column_stats(rsd=...)


def check_stats_approx_bounds(sdf, con, cte) -> list:
    """Bounds problems for the stats_approx query result (empty = pass)."""
    row = sdf.iloc[0]
    exact = con.execute(f"""
WITH t AS ({cte})
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT conv_id) AS conv_id_d,
       COUNT(DISTINCT role) AS role_d,
       COUNT(DISTINCT turn_idx) AS turn_idx_d,
       quantile_disc(turn_idx, 0.40) AS p50_lo,
       quantile_disc(turn_idx, 0.60) AS p50_hi,
       quantile_disc(turn_idx, 0.85) AS p95_lo,
       quantile_disc(turn_idx, 1.00) AS p95_hi
FROM t
""").df().iloc[0]
    problems = []
    if int(row["n_rows"]) != int(exact["n_rows"]):
        problems.append(
            f"n_rows {row['n_rows']} != exact {exact['n_rows']}"
        )
    for col, key in (("conv_id_distinct", "conv_id_d"),
                     ("role_distinct", "role_d"),
                     ("turn_idx_distinct", "turn_idx_d")):
        got, ex = float(row[col]), float(exact[key])
        if abs(got - ex) > 3 * STATS_APPROX_RSD * ex:
            problems.append(
                f"{col}={got} outside 3*rsd of exact {ex}"
            )
    for col, lo_k, hi_k in (("turn_idx_p50", "p50_lo", "p50_hi"),
                            ("turn_idx_p95", "p95_lo", "p95_hi")):
        got = float(row[col])
        lo, hi = float(exact[lo_k]), float(exact[hi_k])
        if not (lo <= got <= hi):
            problems.append(f"{col}={got} outside [{lo}, {hi}]")
    return problems


def register_udfs(con) -> None:
    """DuckDB twins of the Spark functions the oracles call but DuckDB lacks:
    ``spark_xxhash64(s, [a, ...])`` is ``F.xxhash64(s, F.lit(a), ...)``."""
    import duckdb
    from duckdb.typing import BIGINT, INTEGER, VARCHAR

    from sissaschool_xmlschema_spark.functions.xxh64 import spark_xxhash64

    con.create_function(
        "spark_xxhash64",
        lambda s, ints: spark_xxhash64([s, *ints]),
        [VARCHAR, duckdb.list_type(INTEGER)],
        BIGINT,
    )


def normalize(df):
    """Pandas frame → sorted list of tuples with columns sorted by name."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()

    def norm_cell(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return f"{v:.9g}"
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return tuple(norm_cell(x) for x in v)
        return v

    rows = [tuple(norm_cell(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows, key=repr)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--emit-json",
        metavar="PATH",
        help="also write driver-format rows (rows_match/schema_match/"
        "hash_match/spark_rows/oracle_rows/err per query) to PATH — keeps a "
        "committed local twin of CORRECTNESS_r{N}.json covering the FULL "
        "registry even when the driver snapshot lags the round",
    )
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("oracle-check")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    register_udfs(con)
    for t in TABLES:
        path = f"{args.sf}/{t}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    selected = args.queries or list(qs)
    n_fail = 0
    report = {}

    def record(name, rows_match=None, schema_match=None, hash_match=None,
               spark_rows=None, oracle_rows=None, err=None):
        report[name] = {
            "rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": spark_rows,
            "oracle_rows": oracle_rows, "err": err,
        }

    for name in selected:
        fn = qs[name]
        try:
            sdf = fn(spark, args.sf).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            record(name, err=f"spark:{type(e).__name__}")
            n_fail += 1
            continue
        if name == "stats_approx":
            problems = check_stats_approx_bounds(sdf, con, entry._CTE)
            if problems:
                print(f"FAIL  {name}: bounds: " + "; ".join(problems))
                record(name, spark_rows=len(sdf), err="bounds:" + ";".join(problems))
                n_fail += 1
            else:
                print(f"ok    {name} (bounds check: HLL within 3*rsd, "
                      "percentiles inside exact neighbors)")
                record(name, spark_rows=len(sdf), err="bounds_checked_ok")
            continue
        if name not in oracles:
            print(f"skip  {name}: rows-only ({len(sdf)} rows)")
            record(name, spark_rows=len(sdf), err="no_oracle")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error {type(e).__name__}: {e}")
            record(name, spark_rows=len(sdf), err=f"oracle:{type(e).__name__}")
            n_fail += 1
            continue
        problems = []
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(
                f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
            )
        if len(sdf) != len(odf):
            problems.append(f"rows spark={len(sdf)} oracle={len(odf)}")
        if not problems:
            a, b = normalize(sdf), normalize(odf)
            if a != b:
                diff_a = [r for r in a if r not in set(b)][:3]
                diff_b = [r for r in b if r not in set(a)][:3]
                problems.append(
                    f"values differ; spark-only={diff_a} oracle-only={diff_b}"
                )
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            record(name,
                   rows_match=len(sdf) == len(odf),
                   schema_match=sorted(sdf.columns) == sorted(odf.columns),
                   hash_match=False,
                   spark_rows=len(sdf), oracle_rows=len(odf),
                   err="; ".join(problems))
            n_fail += 1
        else:
            print(f"ok    {name} ({len(sdf)} rows)")
            record(name, rows_match=True, schema_match=True, hash_match=True,
                   spark_rows=len(sdf), oracle_rows=len(odf))
    print(f"\n{len(selected) - n_fail}/{len(selected)} passed")
    if args.emit_json:
        import json

        with open(args.emit_json, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
        print(f"wrote {len(report)} rows to {args.emit_json}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
