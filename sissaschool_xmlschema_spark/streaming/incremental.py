"""Incremental / streaming validation.

The reference's streaming story is lazy iterparse: bounded-memory subtree
iteration with identity counters kept across subtrees and merged at the end
(xmlschema/resources/xml_resource.py:536-579; counter merge
validators/schemas.py:1386-1389; end-of-document reference checks
schemas.py:1391-1405).  The Spark lowering:

* **row-local checks** (facets, row assertions, xs:key missing fields) are
  stateless projections — they run unchanged on a streaming DataFrame (one
  micro-batch = one lazy subtree).
* **identity constraints** need cross-batch state: each micro-batch's partial
  key counts merge into a persistent key-count store (parquet), exactly the
  ``counter.update(counter.counter)`` merge; duplicates are whatever exceeds 1
  after the merge.  Keyrefs accumulate per-batch referencing-tuple counts and
  key-tuple sets the same way; :meth:`IncrementalResult.keyref_misses` runs
  the end-of-stream anti-join — the ``_validate_references`` epilogue
  (schemas.py:1391-1405: still-enabled keyrefs + unresolved IDREFs at
  document end), so a reference seen in batch 1 whose key arrives in batch 5
  resolves, and one that never resolves is reported.
* **occurrence bounds & verdicts** need the same cross-batch treatment:
  each micro-batch lands per-scope conditional-count partials under
  ``occstate/batch=<id>`` (conditional counts are distributive, so the
  merge is a sum); :meth:`IncrementalResult.occurs_violations` applies the
  min/maxOccurs bounds AFTER the merge and :meth:`IncrementalResult.verdicts`
  rolls merged facet + identity + occurrence violations into the
  per-conversation validity verdict (schemas.py:851-876 analogue).
* **idempotent sinks**: foreachBatch is at-least-once — every per-batch
  write lands under a ``batch=<id>`` subdirectory with overwrite semantics,
  so a micro-batch retry or crash-restart rewrites its own directory instead
  of appending duplicate rows/counts (the standard idempotent-foreachBatch
  pattern).
* **order/contiguity checks** across batches use a custom stateful operator
  (``applyInPandasWithState``): per-conversation state = last seen turn_idx —
  the streaming-only pandas path the SURVEY allows (§2.10).

``run_incremental`` drives a file-source stream with ``availableNow`` — the
batch-incremental mode (one Iceberg snapshot range per run); the same
``foreachBatch`` body works for a continuous trigger.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Iterator, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.plans.compiler import compile_plan
from sissaschool_xmlschema_spark.plans.runner import (
    VIOLATION_SCHEMA,
    row_local_violations,
)


def stream_facet_violations(stream_df: DataFrame, spec: S.TableSpec) -> DataFrame:
    """Row-local violations as a *streaming* DataFrame (stateless projection).

    Compose with ``writeStream`` to land violations continuously; watermarks
    are unnecessary because no aggregation state is involved.
    """
    return row_local_violations(stream_df, compile_plan(spec))


@dataclass
class IncrementalResult:
    n_batches: int
    violations_path: str
    keystate_path: str
    refstate_path: str = ""
    occstate_path: str = ""

    def violations(self, spark: SparkSession) -> DataFrame:
        if not os.path.exists(self.violations_path):
            return spark.createDataFrame([], VIOLATION_SCHEMA)
        # drop the batch=<id> partition column the idempotent layout adds
        return spark.read.parquet(self.violations_path).drop("batch")

    def duplicate_keys(self, spark: SparkSession, c: S.Unique) -> DataFrame:
        """Cross-batch duplicates after the counter merge
        (schemas.py:1386-1389 analogue)."""
        st = spark.read.parquet(os.path.join(self.keystate_path, c.name))
        keys = ([c.scope] if c.scope else []) + list(c.fields)
        return (
            st.groupBy(*keys)
            .agg(F.sum("_n").alias("_n"))
            .filter(F.col("_n") > 1)
        )

    def keyref_misses(self, spark: SparkSession, c: S.Keyref) -> DataFrame:
        """End-of-stream referential epilogue — ``_validate_references``
        (schemas.py:1391-1405): anti-join the accumulated referencing-tuple
        counts against the accumulated key-tuple set.  Returns
        ``(scope?, *fields, _n)`` like the batch ``keyref_misses`` operator;
        a reference whose key arrived in ANY batch resolves, one that never
        resolved is a miss with its total multiplicity.

        Honors ``Keyref.refer_scope`` exactly like the batch operator: the
        scope joins only when both domains have one (refer_path cross-domain
        resolution, identities.py:317-334)."""
        same_scope = c.refer_scope == S.SAME_SCOPE
        ref_scope = c.scope if same_scope else c.refer_scope
        join_scope = c.scope is not None and ref_scope is not None
        group_keys = ([c.scope] if c.scope else []) + list(c.fields)
        refs_path = os.path.join(self.refstate_path, c.name, "refs")
        keys_path = os.path.join(self.refstate_path, c.name, "keys")
        if not os.path.exists(refs_path):
            # no referencing rows ever arrived → nothing can be missing
            schema = ", ".join(f"`{k}` string" for k in group_keys)
            return spark.createDataFrame([], schema + ", `_n` long")
        refs = (
            spark.read.parquet(refs_path)
            .groupBy(*group_keys)
            .agg(F.sum("_n").alias("_n"))
        )
        if os.path.exists(keys_path):
            key_cols = ([ref_scope] if join_scope else []) + list(
                c.refer_fields
            )
            keys = (
                spark.read.parquet(keys_path)
                .select(
                    *[
                        F.col(k).alias(f"_k_{i}")
                        for i, k in enumerate(key_cols)
                    ]
                )
                .dropDuplicates()
            )
            join_keys = ([c.scope] if join_scope else []) + list(c.fields)
            cond = None
            for i, r in enumerate(join_keys):
                e = F.col(r) == F.col(f"_k_{i}")
                cond = e if cond is None else cond & e
            refs = refs.join(keys, cond, "left_anti")
        return refs

    def occurs_violations(
        self, spark: SparkSession, spec: S.TableSpec
    ) -> DataFrame:
        """min/maxOccurs over the WHOLE stream: per-batch conditional-count
        partials merged by sum (distributive), then the shared bounds
        reporter — a conversation that gets its required user turn only in a
        later batch is NOT a violation after the merge, and one that never
        does IS (the particle-bound analogue of the reference's end-of-run
        counter merge, particles.py:109-126 + schemas.py:1386-1389)."""
        from sissaschool_xmlschema_spark.operators.sequence import (
            occurs_violations_from_counts,
        )

        occurs = [c for c in spec.model if isinstance(c, S.Occurs)]
        if not occurs or not os.path.exists(self.occstate_path):
            return spark.createDataFrame([], VIOLATION_SCHEMA)
        st = spark.read.parquet(self.occstate_path)
        merged = st.groupBy(spec.scope_col).agg(
            *[
                F.sum(f"_n_{i}").alias(f"_n_{i}")
                for i in range(len(occurs))
            ]
        )
        return occurs_violations_from_counts(
            merged, occurs, spec.name, spec.scope_col
        )

    def verdicts(self, spark: SparkSession, spec: S.TableSpec) -> DataFrame:
        """Per-conversation ``(conv_id, n_violations, validity)`` over the
        whole stream — merged row-local violations + cross-batch duplicate
        keys + end-of-stream keyref misses + merged occurrence bounds; the
        streaming twin of ``ValidationResult.verdicts`` (validity attribute,
        schemas.py:851-876).  The scope universe comes from the occstate
        partials, which record every scope each batch touched."""
        if not os.path.exists(self.occstate_path):
            return spark.createDataFrame(
                [], "conv_id string, n_violations long, validity string"
            )
        scope = spec.scope_col
        universe = (
            spark.read.parquet(self.occstate_path)
            .select(F.col(scope).cast("string").alias("conv_id"))
            .distinct()
        )
        parts = [
            self.violations(spark).select(F.col("conv_id").cast("string"))
        ]
        parts.append(
            self.occurs_violations(spark, spec).select(
                F.col("conv_id").cast("string")
            )
        )
        for c in spec.identities:
            if isinstance(c, S.Unique) and c.scope == scope:
                parts.append(
                    self.duplicate_keys(spark, c).select(
                        F.col(c.scope).cast("string").alias("conv_id")
                    )
                )
            elif isinstance(c, S.Keyref) and c.scope == scope:
                parts.append(
                    self.keyref_misses(spark, c).select(
                        F.col(c.scope).cast("string").alias("conv_id")
                    )
                )
        viol = parts[0]
        for p in parts[1:]:
            viol = viol.unionByName(p)
        counts = viol.groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("_n")
        )
        return (
            universe.join(counts, "conv_id", "left")
            .select(
                "conv_id",
                F.coalesce("_n", F.lit(0)).alias("n_violations"),
                F.when(F.coalesce("_n", F.lit(0)) > 0, "invalid")
                .otherwise("valid")
                .alias("validity"),
            )
        )


def run_incremental(
    spark: SparkSession,
    input_path: str,
    spec: S.TableSpec,
    work_dir: str,
    schema: Optional[str] = None,
    max_files_per_trigger: Optional[int] = None,
    processing_time: Optional[str] = None,
    idle_timeout_s: float = 120.0,
) -> IncrementalResult:
    """Validate a growing file directory incrementally with availableNow.

    ``processing_time`` switches the trigger to a continuous
    ``processingTime`` cadence (the long-running-monitor deployment shape).
    Because such a query never terminates on its own, the run is bounded by
    a drain-then-stop loop: once at least one data batch has been processed
    and the two most recent progress reports are empty, the query stops.
    The end-state is identical to an availableNow run over the same input —
    the foreachBatch body and the idempotent ``batch=<id>`` sinks don't
    depend on the trigger (pinned by test_checkpoint_streaming).

    Per micro-batch: row-local violations, per-constraint partial key counts
    (map-side shrunk), and per-keyref referencing-counts + key-tuple sets
    each land under ``<sink>/<name>/batch=<batch_id>`` with OVERWRITE
    semantics — foreachBatch is at-least-once, so a retried batch rewrites
    its own directory instead of double-counting (idempotent sink).  The
    stream checkpoint makes re-runs resume from unprocessed files only — the
    engine's lazy-iteration memory bound: state grows with *distinct keys*,
    never with rows.
    """
    violations_path = os.path.join(work_dir, "violations")
    keystate_path = os.path.join(work_dir, "keystate")
    refstate_path = os.path.join(work_dir, "refstate")
    occstate_path = os.path.join(work_dir, "occstate")
    ckpt = os.path.join(work_dir, "_stream_checkpoint")

    from sissaschool_xmlschema_spark.sources.tables import incremental_source

    # Iceberg runtimes stream snapshot ranges; the file fallback streams new
    # parquet files — either way one micro-batch = one lazy subtree.
    stream = incremental_source(
        spark, input_path, schema=schema,
        max_files_per_trigger=max_files_per_trigger,
    )

    plan = compile_plan(spec)
    uniques = [c for c in spec.identities if isinstance(c, S.Unique)]
    keyrefs = [c for c in spec.identities if isinstance(c, S.Keyref)]
    occurs = [c for c in spec.model if isinstance(c, S.Occurs)]
    n_batches = 0

    def process(batch: DataFrame, batch_id: int) -> None:
        nonlocal n_batches
        n_batches += 1
        bdir = f"batch={batch_id}"
        v = row_local_violations(batch, plan)
        if v is not None:
            v.write.mode("overwrite").parquet(
                os.path.join(violations_path, bdir)
            )
        for c in uniques:
            keys = ([c.scope] if c.scope else []) + list(c.fields)
            sel = batch.filter(F.expr(c.selector)) if c.selector else batch
            for fcol in c.fields:
                sel = sel.filter(F.col(fcol).isNotNull())
            counts = sel.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
            counts.write.mode("overwrite").parquet(
                os.path.join(keystate_path, c.name, bdir)
            )
        for c in keyrefs:
            # referencing side: partial counts per tuple (counter merge)
            refs = batch.filter(F.expr(c.selector)) if c.selector else batch
            for fcol in c.fields:
                refs = refs.filter(F.col(fcol).isNotNull())
            rkeys = ([c.scope] if c.scope else []) + list(c.fields)
            refs.groupBy(*rkeys).agg(
                F.count(F.lit(1)).alias("_n")
            ).write.mode("overwrite").parquet(
                os.path.join(refstate_path, c.name, "refs", bdir)
            )
            # key side: the distinct key-tuple set this batch contributes
            # (scoped by refer_scope when it differs — cross-domain keyrefs)
            ks = (
                batch.filter(F.expr(c.refer_selector))
                if c.refer_selector else batch
            )
            same = c.refer_scope == S.SAME_SCOPE
            kscope = c.scope if same else c.refer_scope
            join_scope = c.scope is not None and kscope is not None
            kcols = ([kscope] if join_scope else []) + list(c.refer_fields)
            ks.select(*kcols).dropDuplicates().write.mode(
                "overwrite"
            ).parquet(os.path.join(refstate_path, c.name, "keys", bdir))
        # occurrence partials: per-scope conditional counts (+ the row count,
        # which doubles as the scope universe for verdicts) — sums merge
        # across batches because conditional counts are distributive
        occ_aggs = [F.count(F.lit(1)).alias("_rows")] + [
            F.sum(F.when(F.expr(c.where), 1).otherwise(0)).alias(f"_n_{i}")
            for i, c in enumerate(occurs)
        ]
        batch.groupBy(spec.scope_col).agg(*occ_aggs).write.mode(
            "overwrite"
        ).parquet(os.path.join(occstate_path, bdir))

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", ckpt
    )
    if processing_time is None:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        import time

        q = writer.trigger(processingTime=processing_time).start()
        deadline = time.time() + idle_timeout_s
        try:
            while time.time() < deadline:
                prog = q.recentProgress
                # drained: data was seen and the last two ticks were empty —
                # OR no input exists at all (empty / fully-checkpointed
                # directory): >=2 consecutive empty reports is the
                # legitimate no-input drained state, same end state the
                # availableNow path returns cleanly from
                if len(prog) >= 2 and all(
                    p["numInputRows"] == 0 for p in prog[-2:]
                ):
                    break
                time.sleep(0.2)
            else:
                raise TimeoutError(
                    f"processingTime stream did not drain the available input "
                    f"within {idle_timeout_s}s"
                )
        finally:
            q.stop()
        q.awaitTermination()
    return IncrementalResult(
        n_batches, violations_path, keystate_path, refstate_path,
        occstate_path,
    )


# ---------------------------------------------------------------------------
# custom stateful operator: cross-batch contiguity
# ---------------------------------------------------------------------------

_CONTIG_OUT = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", LongType()),
        StructField("constraint_id", StringType()),
        StructField("reason", StringType()),
    ]
)
_CONTIG_STATE = StructType([StructField("last_idx", LongType())])


def stateful_contiguity_stream(
    stream_df: DataFrame, spec: S.TableSpec
) -> DataFrame:
    """Cross-batch turn-contiguity via ``applyInPandasWithState``.

    Per-conversation state = the last seen ``order_col``; a new batch's rows
    (sorted in pandas — batches are small per group) must continue the 0..n
    sequence across micro-batch boundaries, mirroring how the reference keeps
    identity counters alive across lazy subtrees until the ancestor changes
    (schemas.py:1342-1360).  This is the engine's ONLY streaming Python path
    and state is one long per conversation.
    """
    scope, order = spec.scope_col, spec.order_col

    def fn(
        key: tuple, pdfs: Iterator, state: GroupState
    ) -> Iterator:
        import pandas as pd

        last = state.get[0] if state.exists else None
        out: List[dict] = []
        for pdf in pdfs:
            pdf = pdf.sort_values(order)
            for idx in pdf[order]:
                idx = int(idx)
                expected_ok = (last is None and idx == 0) or (
                    last is not None and idx == last + 1
                )
                if not expected_ok:
                    out.append(
                        {
                            "conv_id": str(key[0]),
                            "turn_idx": idx,
                            "constraint_id": "model:turn-contiguity",
                            "reason": (
                                "turn index breaks the 0..n-1 sequence "
                                "across micro-batches"
                            ),
                        }
                    )
                last = idx
        state.update((last if last is not None else -1,))
        yield pd.DataFrame(out, columns=[f.name for f in _CONTIG_OUT.fields])

    return (
        stream_df.groupBy(F.col(scope))
        .applyInPandasWithState(
            fn,
            outputStructType=_CONTIG_OUT,
            stateStructType=_CONTIG_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def session_turn_counts(
    stream_df: DataFrame,
    spec: S.TableSpec,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-conversation session windows over event time (SURVEY §2.9).

    Sessions close after ``gap`` of inactivity; the watermark bounds state and
    admits late turns up to ``watermark`` behind the stream's max event time
    (late-data handling the reference never needed — documents arrive whole).
    Works identically on a batch DataFrame (no watermark applied there).
    """
    src = stream_df
    if stream_df.isStreaming:
        src = stream_df.withWatermark("ts", watermark)
    return (
        src.groupBy(
            F.col(spec.scope_col),
            F.session_window(F.col("ts"), gap),
        )
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(
                F.when(F.col("role") == "user", 1).otherwise(0)
            ).alias("n_user"),
        )
        .select(
            spec.scope_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_turns",
            "n_user",
        )
    )


def stream_dedup(
    stream_df: DataFrame,
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    ts_col: str = "ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact deduplication with bounded state.

    ``dropDuplicatesWithinWatermark`` keeps the FIRST arrival per key and
    drops re-deliveries that land within the watermark horizon — the
    streaming analogue of the exact-dedup groupBy (operators/dedup.py) and
    the ingest-side guard for the (conv_id, turn_idx) uniqueness constraint
    on append-only transcript streams: an at-least-once upstream (Kafka
    replay, Iceberg re-read) cannot double-count a turn it delivers twice.

    State is O(distinct keys within the horizon), not O(stream) — the
    property that makes it safe on an unbounded 10^12-turn feed; exact
    duplicates older than ``delay`` are the batch layer's job (the
    engine's Unique counter reports them from the table itself).  On a
    batch DataFrame this degrades to plain ``dropDuplicates`` semantics.
    """
    if not stream_df.isStreaming:
        return stream_df.dropDuplicates(list(keys))
    return stream_df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        list(keys)
    )
