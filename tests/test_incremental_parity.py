"""The incremental runner reports what the batch operators report.

A corrupted transcript table, with duplicated turns added, is split into
three parquet files by a hash of ``(conv_id, turn_idx)``, so most
conversations and most duplicated tuples span micro-batches.  Every
end-of-stream rollup of :func:`run_incremental` must equal the batch
operator over the union of the files.
"""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.operators.identity import (
    keyref_misses,
    unique_dups,
)
from sissaschool_xmlschema_spark.operators.sequence import occurs_violations
from sissaschool_xmlschema_spark.plans.runner import validate
from sissaschool_xmlschema_spark.sources.transcripts import (
    corrupt_transcripts,
    synthetic_transcripts,
)
from sissaschool_xmlschema_spark.spec import transcript_spec

SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)


def parity_spec():
    """Facets, a Unique and a Key on (conv_id, turn_idx), a same-table
    keyref, a document-wide keyref and two Occurs; no ordered check."""
    return S.TableSpec(
        name="transcripts",
        columns=transcript_spec().columns,
        identities=(
            S.Unique("turn-unique", fields=("conv_id", "turn_idx"),
                     selector="role <> 'system'"),
            S.Key("turn-key", fields=("turn_idx",), scope="conv_id"),
            S.Keyref(
                "tool-ref", fields=("tool",), refer_fields=("tool",),
                scope="conv_id", selector="role = 'tool'",
                refer_selector="role = 'assistant' AND tool IS NOT NULL",
            ),
            S.Keyref(
                "tool-ref-doc", fields=("tool",), refer_fields=("tool",),
                scope="conv_id", refer_scope=None,
                selector="role = 'tool'",
                refer_selector="role = 'assistant' AND tool IS NOT NULL",
            ),
        ),
        model=(
            S.Occurs("min-three-user", where="role = 'user'", min_occurs=3),
            S.Occurs("max-eight-assistant", where="role = 'assistant'",
                     max_occurs=8),
        ),
    )


def _rows(df):
    return Counter(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def parity_run(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("parity")
    table = corrupt_transcripts(
        synthetic_transcripts(spark, n_convs=80, hot_convs=0)
    ).withColumn(
        "_file", F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(3))
    )
    # re-deliver some turns one index later, in the file of the original
    # turn: each copy duplicates the (conv_id, turn_idx) of a neighbour
    # that usually sits in another file
    dups = table.filter(
        F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(7)), F.lit(17)) == 0
    ).withColumn("turn_idx", F.col("turn_idx") + 1)
    table = table.unionByName(dups)
    src = str(tmp / "src")
    for i in range(3):
        table.filter(F.col("_file") == i).drop("_file").coalesce(1).write \
            .parquet(f"{src}/f{i}.parquet")
    from sissaschool_xmlschema_spark.streaming.incremental import (
        run_incremental,
    )

    sp = parity_spec()
    res = run_incremental(
        spark, src + "/*", sp, str(tmp / "work"), schema=SCHEMA,
        max_files_per_trigger=1,
    )
    union = spark.read.schema(SCHEMA).parquet(src + "/*")
    return sp, res, union, src


def test_incremental_spans_batches(spark, parity_run):
    sp, res, union, src = parity_run
    assert res.n_batches == 3
    files = None
    for i in range(3):
        f = spark.read.parquet(f"{src}/f{i}.parquet").withColumn(
            "_file", F.lit(i)
        )
        files = f if files is None else files.unionByName(f)

    def spanning(*keys):
        return (
            files.groupBy(*keys).agg(F.countDistinct("_file").alias("n"))
            .filter("n > 1").count()
        )

    # most conversations, and some duplicated turns, span files
    assert spanning("conv_id") > union.select("conv_id").distinct().count() / 2
    assert spanning("conv_id", "turn_idx") > 0


def test_incremental_duplicate_keys_equal_batch(spark, parity_run):
    sp, res, union, _ = parity_run
    for c in sp.identities:
        if isinstance(c, S.Unique):
            want = _rows(unique_dups(union, c))
            assert want, c.name
            assert _rows(res.duplicate_keys(spark, c)) == want, c.name


def test_incremental_keyref_misses_equal_batch(spark, parity_run):
    sp, res, union, _ = parity_run
    for c in sp.identities:
        if isinstance(c, S.Keyref):
            want = _rows(keyref_misses(union, c))
            assert want, c.name
            assert _rows(res.keyref_misses(spark, c)) == want, c.name


def test_incremental_occurs_violations_equal_batch(spark, parity_run):
    sp, res, union, _ = parity_run
    want = _rows(
        occurs_violations(union, sp.model, sp.name, sp.scope_col)
    )
    assert {k[3] for k in want} == {
        "occurs:min-three-user", "occurs:max-eight-assistant"
    }
    assert _rows(res.occurs_violations(spark, sp)) == want


def test_incremental_verdicts_equal_batch(spark, parity_run):
    sp, res, union, _ = parity_run
    want = _rows(validate(union, sp).verdicts())
    assert sum(n for (_, _, v), n in want.items() if v == "invalid") > 0
    assert _rows(res.verdicts(spark, sp)) == want
