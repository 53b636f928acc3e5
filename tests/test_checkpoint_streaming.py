"""Checkpoint/resume manifests and incremental (streaming) validation."""

import datetime as dt

from pyspark.sql import functions as F

from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.plans.checkpoint import (
    Manifest,
    run_checkpointed,
    spec_hash,
)
from sissaschool_xmlschema_spark.plans.runner import validate
from sissaschool_xmlschema_spark.sources.transcripts import (
    corrupt_transcripts,
    synthetic_transcripts,
)
from sissaschool_xmlschema_spark.spec import transcript_spec
from sissaschool_xmlschema_spark.streaming.incremental import (
    run_incremental,
    stateful_contiguity_stream,
)

TS = dt.datetime(2024, 1, 1)


def small_spec():
    return S.TableSpec(
        name="transcripts",
        columns=(
            S.ColumnSpec(
                "role", (S.Enumeration(("system", "user", "assistant", "tool")),)
            ),
        ),
        identities=(S.Unique("turn-unique", fields=("turn_idx",), scope="conv_id"),),
    )


def test_checkpoint_run_and_resume(spark, tmp_path):
    df = corrupt_transcripts(synthetic_transcripts(spark, n_convs=40))
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    r1 = run_checkpointed(
        df, transcript_spec(), "pmod(hash(conv_id), 4)", ck, out
    )
    assert len(r1) == 4 and not any(p.skipped for p in r1)
    total_viols = sum(p.n_violations for p in r1)
    assert total_viols > 0
    assert sum(p.n_rows for p in r1) == df.count()

    # resume: everything skips, same numbers come from the manifest
    r2 = run_checkpointed(
        df, transcript_spec(), "pmod(hash(conv_id), 4)", ck, out
    )
    assert all(p.skipped for p in r2)
    assert sum(p.n_violations for p in r2) == total_viols

    # a partially-complete manifest resumes only the missing partitions
    m = Manifest.load(str(tmp_path / "ck" / "manifest.json"))
    dropped = sorted(m.partitions)[0]
    del m.partitions[dropped]
    m.save()
    r3 = run_checkpointed(
        df, transcript_spec(), "pmod(hash(conv_id), 4)", ck, out
    )
    assert sum(1 for p in r3 if not p.skipped) == 1
    assert sum(p.n_violations for p in r3) == total_viols


def test_checkpoint_null_partition_key_is_validated(spark, tmp_path):
    """Regression (ADVICE): rows whose partition expression is NULL must be
    validated under a distinguished '__null__' partition, not silently
    skipped by a str-vs-NULL equality filter."""
    rows = [
        ("c1", 0, "alien", "t", None, TS),      # violation, NULL partition
        ("c2", 0, "user", "t", None, TS),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp",
    )
    ck = str(tmp_path / "cknull")
    res = run_checkpointed(
        df, small_spec(),
        "CASE WHEN conv_id = 'c1' THEN NULL ELSE conv_id END", ck,
    )
    by_part = {p.partition: (p.n_rows, p.n_violations) for p in res}
    assert by_part["__null__"] == (1, 1)  # the NULL-keyed row WAS validated
    assert by_part["c2"] == (1, 0)
    # and resume skips it like any other partition
    res2 = run_checkpointed(
        df, small_spec(),
        "CASE WHEN conv_id = 'c1' THEN NULL ELSE conv_id END", ck,
    )
    assert all(p.skipped for p in res2)


def test_spec_change_invalidates_checkpoint(spark, tmp_path):
    df = synthetic_transcripts(spark, n_convs=10)
    ck = str(tmp_path / "ck")
    run_checkpointed(df, transcript_spec(), "pmod(hash(conv_id), 2)", ck)
    assert spec_hash(transcript_spec()) != spec_hash(small_spec())
    r = run_checkpointed(df, small_spec(), "pmod(hash(conv_id), 2)", ck)
    assert not any(p.skipped for p in r)  # progress was discarded


def test_incremental_cross_batch_duplicates(spark, tmp_path):
    rows1 = [("c1", 0, "user", "a", None, TS), ("c1", 1, "assistant", "b", None, TS)]
    rows2 = [("c1", 1, "user", "dup", None, TS), ("c2", 0, "alien", "x", None, TS)]
    schema = (
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp"
    )
    src = str(tmp_path / "src")
    spark.createDataFrame(rows1, schema).repartition(1).write.parquet(src + "/f1.parquet")
    spark.createDataFrame(rows2, schema).repartition(1).write.parquet(src + "/f2.parquet")

    res = run_incremental(
        spark, src + "/*", small_spec(), str(tmp_path / "work"),
        schema=schema, max_files_per_trigger=1,
    )
    assert res.n_batches == 2
    # facet violation from batch 2 landed in the sink
    v = res.violations(spark)
    assert v.filter("constraint_id = 'facet:role:Enumeration'").count() == 1
    # the (c1, 1) duplicate spans batches — only visible after the merge
    dups = res.duplicate_keys(
        spark, S.Unique("turn-unique", fields=("turn_idx",), scope="conv_id")
    ).collect()
    assert [(d["conv_id"], d["turn_idx"], d["_n"]) for d in dups] == [("c1", 1, 2)]

    # re-run: stream checkpoint remembers processed files → no new batches
    res2 = run_incremental(
        spark, src + "/*", small_spec(), str(tmp_path / "work"),
        schema=schema, max_files_per_trigger=1,
    )
    assert res2.n_batches == 0


def keyref_spec():
    return S.TableSpec(
        name="transcripts",
        identities=(
            S.Keyref(
                "tool-ref",
                fields=("tool",),
                refer_fields=("tool",),
                scope="conv_id",
                selector="role = 'tool'",
                refer_selector="role = 'assistant' AND tool IS NOT NULL",
            ),
        ),
    )


def test_incremental_keyref_epilogue(spark, tmp_path):
    """End-of-stream referential check (schemas.py:1391-1405 replay): a tool
    reference in batch 1 whose declaring key arrives in batch 2 resolves; a
    reference that never resolves is a miss with its multiplicity."""
    schema = (
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp"
    )
    # batch 1: two tool turns referencing tool-001 and one referencing
    # tool-999 (twice, across both batches)
    rows1 = [
        ("c1", 0, "tool", "a", "tool-001", TS),
        ("c1", 1, "tool", "b", "tool-999", TS),
    ]
    # batch 2: the assistant declaration of tool-001 (cross-batch key),
    # plus another dangling tool-999 reference
    rows2 = [
        ("c1", 2, "assistant", "c", "tool-001", TS),
        ("c1", 3, "tool", "d", "tool-999", TS),
    ]
    src = str(tmp_path / "kr")
    spark.createDataFrame(rows1, schema).repartition(1).write.parquet(
        src + "/f1.parquet"
    )
    spark.createDataFrame(rows2, schema).repartition(1).write.parquet(
        src + "/f2.parquet"
    )
    res = run_incremental(
        spark, src + "/*", keyref_spec(), str(tmp_path / "krwork"),
        schema=schema, max_files_per_trigger=1,
    )
    assert res.n_batches == 2
    c = keyref_spec().identities[0]
    misses = {
        (r["conv_id"], r["tool"]): r["_n"]
        for r in res.keyref_misses(spark, c).collect()
    }
    # tool-001 resolved across batches — NOT a violation; tool-999 never
    # declared — one miss with multiplicity 2
    assert misses == {("c1", "tool-999"): 2}


def test_stateful_contiguity_across_batches(spark, tmp_path):
    schema = (
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp"
    )
    src = str(tmp_path / "s2")
    spark.createDataFrame(
        [("c1", 0, "user", "a", None, TS), ("c1", 1, "assistant", "b", None, TS)],
        schema,
    ).repartition(1).write.parquet(src + "/f1.parquet")
    # batch 2 jumps from 1 to 3 — the gap is only visible with cross-batch state
    spark.createDataFrame(
        [("c1", 3, "user", "c", None, TS)], schema
    ).repartition(1).write.parquet(src + "/f2.parquet")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out = stateful_contiguity_stream(stream, small_spec())
    q = (
        out.writeStream.format("memory")
        .queryName("contig_out")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("select * from contig_out").collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in rows] == [("c1", 3)]


def occurs_spec():
    return S.TableSpec(
        name="transcripts",
        columns=(
            S.ColumnSpec(
                "role", (S.Enumeration(("system", "user", "assistant", "tool")),)
            ),
        ),
        identities=(S.Unique("turn-unique", fields=("turn_idx",),
                             scope="conv_id"),),
        model=(S.Occurs("min-one-user", where="role = 'user'", min_occurs=1),
               S.Occurs("max-two-system", where="role = 'system'",
                        max_occurs=2)),
    )


def test_incremental_occurs_merge_across_batches(spark, tmp_path):
    """Round-2 verdict item 4: a conversation whose min-one-user requirement
    is satisfied only by a LATER batch must not be flagged after the merge;
    one that never satisfies it must be — per-batch counts alone get both
    wrong."""
    schema = (
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp"
    )
    # batch 1: c1 has only system/assistant turns; c2 likewise
    rows1 = [
        ("c1", 0, "system", "s", None, TS),
        ("c1", 1, "assistant", "a", None, TS),
        ("c2", 0, "system", "s", None, TS),
        ("c3", 0, "system", "s", None, TS),
    ]
    # batch 2: c1 gets its user turn; c2 never does; c3 gets 2 more system
    # turns (3 total > max_occurs=2 — also only visible after the merge)
    rows2 = [
        ("c1", 2, "user", "u", None, TS),
        ("c2", 1, "assistant", "a", None, TS),
        ("c3", 1, "system", "s", None, TS),
        ("c3", 2, "system", "s", None, TS),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows1, schema).repartition(1).write.parquet(
        src + "/f1.parquet")
    spark.createDataFrame(rows2, schema).repartition(1).write.parquet(
        src + "/f2.parquet")

    res = run_incremental(
        spark, src + "/*", occurs_spec(), str(tmp_path / "work"),
        schema=schema, max_files_per_trigger=1,
    )
    assert res.n_batches == 2
    occ = res.occurs_violations(spark, occurs_spec()).collect()
    by_conv = {(r["conv_id"], r["constraint_id"]) for r in occ}
    assert ("c1", "occurs:min-one-user") not in by_conv  # resolved in batch 2
    assert ("c2", "occurs:min-one-user") in by_conv      # never resolved
    assert ("c3", "occurs:max-two-system") in by_conv    # 3 spans batches
    offending = {r["conv_id"]: r["offending_value"] for r in occ}
    assert offending["c2"] == "0" and offending["c3"] == "3"

    verd = {r["conv_id"]: (r["n_violations"], r["validity"])
            for r in res.verdicts(spark, occurs_spec()).collect()}
    assert set(verd) == {"c1", "c2", "c3"}  # universe spans all batches
    assert verd["c1"] == (0, "valid")
    assert verd["c2"][1] == "invalid" and verd["c3"][1] == "invalid"


def test_incremental_verdicts_count_identity_and_facets(spark, tmp_path):
    """Streaming verdicts fold in row-local facets, cross-batch duplicate
    keys and occurrence bounds — one rollup per conversation."""
    schema = (
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp"
    )
    rows1 = [("c1", 0, "user", "a", None, TS),
             ("c2", 0, "alien", "x", None, TS)]
    rows2 = [("c1", 0, "user", "dup-idx", None, TS),
             ("c2", 1, "user", "y", None, TS)]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows1, schema).repartition(1).write.parquet(
        src + "/f1.parquet")
    spark.createDataFrame(rows2, schema).repartition(1).write.parquet(
        src + "/f2.parquet")
    res = run_incremental(
        spark, src + "/*", occurs_spec(), str(tmp_path / "work"),
        schema=schema, max_files_per_trigger=1,
    )
    verd = {r["conv_id"]: (r["n_violations"], r["validity"])
            for r in res.verdicts(spark, occurs_spec()).collect()}
    # c1: cross-batch duplicate turn_idx → 1 violation
    assert verd["c1"][1] == "invalid"
    # c2: bad role enum (batch 1) → invalid even though occurs is satisfied
    assert verd["c2"][1] == "invalid"


def test_incremental_reports_key_missing_field(spark, tmp_path):
    """A NULL key field is a compiled row check, so the incremental runner
    reports it like batch validate does — it used to drop it and call the
    conversation valid."""
    schema = (
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp"
    )
    sp = S.TableSpec(
        name="transcripts",
        identities=(S.Key("turn-key", fields=("turn_idx",), scope="conv_id"),),
    )
    df = spark.createDataFrame([("c1", None, "user", "a", None, TS)], schema)
    src = str(tmp_path / "src")
    df.repartition(1).write.parquet(src + "/f1.parquet")

    def counts(v):
        return {
            r["constraint_id"]: r["n"]
            for r in v.groupBy("constraint_id").agg(F.count("*").alias("n"))
            .collect()
        }

    batch = counts(validate(df, sp).violations)
    res = run_incremental(
        spark, src + "/*", sp, str(tmp_path / "work"), schema=schema
    )
    assert batch == {"key:turn-key:missing-field": 1}
    assert counts(res.violations(spark)) == batch
    verd = [tuple(r) for r in res.verdicts(spark, sp).collect()]
    assert verd == [("c1", 1, "invalid")]


def test_incremental_over_empty_input(spark, tmp_path):
    """No micro-batch ran: every accessor returns an empty frame, the
    identity ones with their ``(scope?, *fields, _n)`` columns."""
    schema = (
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp"
    )
    src = tmp_path / "empty"
    src.mkdir()
    key = S.Key("turn-key", fields=("turn_idx",), scope="conv_id")
    ref = keyref_spec().identities[0]
    sp = S.TableSpec(
        name="transcripts",
        identities=(key, ref),
        model=(S.Occurs("one-user", where="role = 'user'", min_occurs=1),),
    )
    res = run_incremental(
        spark, str(src), sp, str(tmp_path / "work"), schema=schema
    )
    assert res.n_batches == 0
    dups = res.duplicate_keys(spark, key)
    misses = res.keyref_misses(spark, ref)
    assert dups.columns == ["conv_id", "turn_idx", "_n"]
    assert misses.columns == ["conv_id", "tool", "_n"]
    for df in (res.violations(spark), dups, misses,
               res.occurs_violations(spark, sp), res.verdicts(spark, sp)):
        assert df.count() == 0


def test_stream_dedup_within_watermark(spark, tmp_path):
    """A turn re-delivered in a later micro-batch within the watermark is
    dropped; distinct keys all pass (at-least-once ingest guard)."""
    from sissaschool_xmlschema_spark.streaming.incremental import stream_dedup

    schema = (
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp"
    )
    src = str(tmp_path / "dd")
    spark.createDataFrame(
        [("c1", 0, "user", "a", None, TS), ("c1", 1, "assistant", "b", None, TS)],
        schema,
    ).repartition(1).write.parquet(src + "/f1.parquet")
    # batch 2 re-delivers (c1, 1) and adds (c2, 0)
    spark.createDataFrame(
        [("c1", 1, "assistant", "b", None, TS), ("c2", 0, "user", "c", None, TS)],
        schema,
    ).repartition(1).write.parquet(src + "/f2.parquet")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out = stream_dedup(stream, keys=("conv_id", "turn_idx"))
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckdd"))
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "select conv_id, turn_idx from dedup_out order by conv_id, turn_idx"
    ).collect()
    assert [(r.conv_id, r.turn_idx) for r in rows] == [
        ("c1", 0), ("c1", 1), ("c2", 0),
    ]
    # batch fallback: plain dropDuplicates semantics
    batch = spark.createDataFrame(
        [("c1", 0, "user", "a", None, TS), ("c1", 0, "user", "a", None, TS)],
        schema,
    )
    assert stream_dedup(batch).count() == 1


def test_processing_time_trigger_matches_available_now(spark, tmp_path):
    """A continuous processingTime trigger (the monitor deployment shape,
    bounded here by run_incremental's drain-then-stop loop) reaches the
    identical end-state as availableNow over the same rate-limited file
    source: same violations, same merged cross-batch duplicate counters."""
    rows1 = [("c1", 0, "user", "a", None, TS),
             ("c1", 1, "assistant", "b", None, TS)]
    rows2 = [("c1", 1, "user", "dup", None, TS),
             ("c2", 0, "alien", "x", None, TS)]
    schema = (
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp"
    )
    src = str(tmp_path / "srcpt")
    spark.createDataFrame(rows1, schema).repartition(1).write.parquet(
        src + "/f1.parquet")
    spark.createDataFrame(rows2, schema).repartition(1).write.parquet(
        src + "/f2.parquet")

    u = S.Unique("turn-unique", fields=("turn_idx",), scope="conv_id")

    def end_state(work):
        res_v = res.violations(spark)
        viol = sorted(
            (r["conv_id"], r["turn_idx"], r["constraint_id"])
            for r in res_v.collect()
        )
        dups = sorted(
            (d["conv_id"], d["turn_idx"], d["_n"])
            for d in res.duplicate_keys(spark, u).collect()
        )
        return viol, dups

    res = run_incremental(
        spark, src + "/*", small_spec(), str(tmp_path / "work_pt"),
        schema=schema, max_files_per_trigger=1,
        processing_time="250 milliseconds",
    )
    assert res.n_batches >= 2  # rate limit forced multiple micro-batches
    state_pt = end_state(res)

    res = run_incremental(
        spark, src + "/*", small_spec(), str(tmp_path / "work_an"),
        schema=schema, max_files_per_trigger=1,
    )
    state_an = end_state(res)
    assert state_pt == state_an
    # the merged counter found the cross-batch duplicate in both modes
    assert state_pt[1] == [("c1", 1, 2)]


def test_processing_time_trigger_empty_input_drains(spark, tmp_path):
    """ADVICE r4: an input directory with zero rows is a legitimate drained
    state — the processingTime loop must return cleanly (like availableNow)
    instead of burning the idle timeout and raising TimeoutError."""
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    src = str(tmp_path / "srcempty")
    spark.createDataFrame([], schema).repartition(1).write.parquet(
        src + "/f0.parquet")
    res = run_incremental(
        spark, src + "/*", small_spec(), str(tmp_path / "work_e"),
        schema=schema, processing_time="250 milliseconds",
        idle_timeout_s=60,
    )
    assert res.violations(spark).count() == 0
