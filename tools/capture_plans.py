"""Regenerate the raw plan dumps behind PLANS.md.

Usage: python tools/capture_plans.py > /tmp/plans_raw.txt
Requires the bench tables (run `python bench.py --suite-only` once first).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", "/tmp/spark_graft_bench/warehouse")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from sissaschool_xmlschema_spark import spec as S
    from sissaschool_xmlschema_spark.operators.identity import keyref_misses
    from sissaschool_xmlschema_spark.operators.sequence import (
        model_window_violations,
        occurs_violations,
    )
    from sissaschool_xmlschema_spark.plans.compiler import compile_plan
    from sissaschool_xmlschema_spark.plans.runner import (
        row_local_violations,
        validate,
    )
    from sissaschool_xmlschema_spark.spec import transcript_spec

    def show(title, df):
        print(f"@@@ {title}", flush=True)
        df.explain(mode="formatted")

    sp = transcript_spec()
    plan = compile_plan(sp)
    plain = spark.read.parquet(
        "/tmp/spark_graft_bench/transcripts_400000.parquet"
    )
    spark.sql(
        """CREATE TABLE IF NOT EXISTS bench_bucketed_400000 (
          conv_id string, turn_idx int, role string, text string,
          tool string, ts timestamp)
        USING PARQUET CLUSTERED BY (conv_id) SORTED BY (conv_id, turn_idx)
        INTO 64 BUCKETS
        LOCATION '/tmp/spark_graft_bench/warehouse/bench_bucketed_400000'"""
    )
    bucketed = spark.table("bench_bucketed_400000")

    show("rowlocal-bitmask (plain parquet)", row_local_violations(plain, plan))
    key = [c for c in sp.identities if isinstance(c, S.Key)][0]
    show(
        "window single-WindowExec + occurs + turn-key duplicates (bucketed)",
        model_window_violations(
            bucketed, [*plan.model, key], sp.name, sp.scope_col,
            sp.order_col, (),
        ),
    )
    show(
        "occurs groupBy (bucketed)",
        occurs_violations(bucketed, plan.model, sp.name, sp.scope_col),
    )
    kr = [c for c in sp.identities if isinstance(c, S.Keyref)][0]
    show("keyref fused same-table (bucketed)", keyref_misses(bucketed, kr))
    show("transcript suite (plain parquet)", validate(plain, plan).violations)
    show(
        "filter pushdown",
        plain.filter("role = 'tool'").select("conv_id", "tool"),
    )
    orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    cust = spark.read.parquet(
        "/root/testdata/sf0.01/customer.parquet"
    ).withColumnRenamed("c_custkey", "o_custkey")
    c2 = S.Keyref(
        "oc", fields=("o_custkey",), refer_fields=("o_custkey",),
        refer_selector="c_acctbal >= 0", broadcast_keys=True,
    )
    show(
        "keyref cross-table broadcast anti-join",
        keyref_misses(orders, c2, keys_df=cust),
    )

    # round-3 operators (sf0.01 testdata)
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.01"
    show("simhash combined-chunk tables (fast flavor)",
         e.q_simhash_fast(spark, sf))
    show("dedup keep-list connected components", e.q_dedup_keep_cc(spark, sf))
    show("lsh_topk multiprobe", e.q_lsh_topk_probe(spark, sf))
    show("ivf_topk pruned scan", e.q_ivf_topk(spark, sf))
    show("lang_id_model mapInPandas", e.q_lang_id_model(spark, sf))
    show("decontamination broadcast gram join", e.q_decontam_fast(spark, sf))
    show("pack_chunks two-phase prefix sum", e.q_pack_chunks(spark, sf))
    show("lm_quality broadcast vocab join", e.q_lm_quality(spark, sf))


if __name__ == "__main__":
    main()
