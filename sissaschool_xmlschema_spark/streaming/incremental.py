"""Incremental / streaming validation.

The reference's streaming story is lazy iterparse: bounded-memory subtree
iteration with identity counters kept across subtrees and merged at the end
(xmlschema/resources/xml_resource.py:536-579; counter merge
validators/schemas.py:1386-1389; end-of-document reference checks
schemas.py:1391-1405).  The Spark lowering:

* **row-local checks** (facets, row assertions, xs:key missing fields) are
  stateless projections — they run unchanged on a streaming DataFrame (one
  micro-batch = one lazy subtree).
* **unique/key, keyref and occurrence checks** use the batch programs of
  ``operators/identity.py`` and ``operators/sequence.py``.  Each
  micro-batch writes every program's partial aggregate (its filters, group
  keys and aggregates); at the end of the stream :class:`IncrementalResult`
  sums the partials and applies the program's own having or anti-join, so
  a key arriving in batch 5 resolves a reference seen in batch 1.  Its
  verdicts are the batch verdict rollup over the merged violations.
* **idempotent sinks**: foreachBatch is at-least-once, so every per-batch
  write overwrites its own ``batch=<id>`` directory.
* **order/contiguity checks** across batches use a custom stateful operator
  (``applyInPandasWithState``): per-conversation state = last seen turn_idx —
  the streaming-only pandas path the SURVEY allows (§2.10).

State under ``work_dir``, one ``batch=<id>`` directory per micro-batch:
``violations/`` (row-local violation rows), ``keystate/<unique>/``
(``UniqueProgram.partial``), ``refstate/<keyref>/refs/``
(``KeyrefProgram.partial``: ``_n``, and ``_n_key`` for a same-table
keyref), ``refstate/<keyref>/keys/`` (``KeyrefProgram.key_set``, other
keyrefs only), ``occstate/`` (the ``OccursProgram`` counts beside a row
count ``_rows``, which records every scope for the verdicts) and the
stream's ``_stream_checkpoint/``.  A work directory written by an earlier
layout (a same-table keyref kept reference counts and a key-tuple set)
must not be resumed: start a new one.

``run_incremental`` drives a file-source stream with ``availableNow`` — the
batch-incremental mode (one Iceberg snapshot range per run); the same
``foreachBatch`` body works for a continuous trigger.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import reduce
from typing import Iterator, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.operators.identity import (
    keyref_program,
    unique_program,
)
from sissaschool_xmlschema_spark.operators.sequence import (
    VIOLATION_ROW,
    occurs_program,
)
from sissaschool_xmlschema_spark.plans.compiler import compile_plan
from sissaschool_xmlschema_spark.plans.runner import (
    VIOLATION_SCHEMA,
    row_local_violations,
    verdict_rollup,
)


def stream_facet_violations(stream_df: DataFrame, spec: S.TableSpec) -> DataFrame:
    """Row-local violations as a *streaming* DataFrame (stateless projection).

    Compose with ``writeStream`` to land violations continuously; watermarks
    are unnecessary because no aggregation state is involved.
    """
    return row_local_violations(stream_df, compile_plan(spec))


def _state(spark: SparkSession, path: str) -> Optional[DataFrame]:
    """Every micro-batch's rows under ``path`` (``None`` if no batch wrote
    there), without the ``batch=<id>`` partition column."""
    if not os.path.exists(path):
        return None
    return spark.read.parquet(path).drop("batch")


def _no_counts(spark: SparkSession, c) -> DataFrame:
    """The empty ``(scope?, *fields, _n)`` frame of a unique or keyref."""
    keys = ([c.scope] if c.scope else []) + list(c.fields)
    schema = ", ".join(f"`{k}` string" for k in keys)
    return spark.createDataFrame([], schema + ", `_n` long")


@dataclass
class IncrementalResult:
    n_batches: int
    violations_path: str
    keystate_path: str
    refstate_path: str = ""
    occstate_path: str = ""

    def violations(self, spark: SparkSession) -> DataFrame:
        v = _state(spark, self.violations_path)
        return spark.createDataFrame([], VIOLATION_SCHEMA) if v is None else v

    def duplicate_keys(self, spark: SparkSession, c: S.Unique) -> DataFrame:
        """Cross-batch duplicates ``(scope?, *fields, _n)``: the program's
        per-batch counts merged (schemas.py:1386-1389 analogue)."""
        counts = _state(spark, os.path.join(self.keystate_path, c.name))
        if counts is None:
            return _no_counts(spark, c)  # no batch ran: nothing repeats
        return unique_program(c, "").merge(counts)

    def keyref_misses(self, spark: SparkSession, c: S.Keyref) -> DataFrame:
        """End-of-stream referential epilogue (``_validate_references``,
        schemas.py:1391-1405): ``(scope?, *fields, _n)`` like the batch
        ``keyref_misses``; a reference whose key arrived in ANY batch
        resolves."""
        refs = _state(spark, os.path.join(self.refstate_path, c.name, "refs"))
        if refs is None:
            # no referencing rows ever arrived → nothing can be missing
            return _no_counts(spark, c)
        return keyref_program(c, "").merge(
            refs,
            _state(spark, os.path.join(self.refstate_path, c.name, "keys")),
        )

    def occurs_violations(
        self, spark: SparkSession, spec: S.TableSpec
    ) -> DataFrame:
        """min/maxOccurs over the WHOLE stream: the program's bounds over
        its summed per-batch counts (particles.py:109-126 +
        schemas.py:1386-1389)."""
        prog = occurs_program(spec.model, spec.name, spec.scope_col)
        counts = _state(spark, self.occstate_path)
        if prog is None or counts is None:
            return spark.createDataFrame([], VIOLATION_SCHEMA)
        return prog.merged(counts)

    def verdicts(self, spark: SparkSession, spec: S.TableSpec) -> DataFrame:
        """Per-conversation ``(conv_id, n_violations, validity)`` over the
        whole stream: the batch :func:`verdict_rollup` of merged row-local
        violations, occurrence bounds, duplicate keys and keyref misses.
        The scope universe is every scope the occstate partials saw."""
        counts = _state(spark, self.occstate_path)
        if counts is None:
            return spark.createDataFrame(
                [], "conv_id string, n_violations long, validity string"
            )
        scope = spec.scope_col

        def conv_id(df: DataFrame, col: str = "conv_id") -> DataFrame:
            return df.select(F.col(col).cast("string").alias("conv_id"))

        parts = [
            conv_id(self.violations(spark)),
            conv_id(self.occurs_violations(spark, spec)),
        ]
        for c in spec.identities:
            rows = (self.duplicate_keys if isinstance(c, S.Unique)
                    else self.keyref_misses)
            if c.scope == scope:
                parts.append(conv_id(rows(spark, c), scope))
        viol = reduce(DataFrame.unionByName, parts)
        return verdict_rollup(conv_id(counts, scope), viol)


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

    Per micro-batch, the row-local violations and the partial aggregate of
    each unique, keyref and occurrence program overwrite their own
    ``batch=<id>`` directory (layout in the module docstring).  The stream
    checkpoint makes re-runs resume from unprocessed files only — the
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
    uniques = {
        c.name: unique_program(c, spec.name)
        for c in spec.identities if isinstance(c, S.Unique)
    }
    keyrefs = {
        c.name: keyref_program(c, spec.name)
        for c in spec.identities if isinstance(c, S.Keyref)
    }
    occurs = occurs_program(spec.model, spec.name, spec.scope_col)
    # the occurrence partials keep a row count per scope: every scope a
    # batch touched, the verdicts' universe
    occ_aggs = [F.count(F.lit(1)).alias("_rows")] + (
        occurs.counts if occurs else []
    )
    n_batches = 0

    def process(batch: DataFrame, batch_id: int) -> None:
        nonlocal n_batches
        n_batches += 1
        bdir = f"batch={batch_id}"

        def sink(df: DataFrame, *path: str) -> None:
            df.write.mode("overwrite").parquet(os.path.join(*path, bdir))

        v = row_local_violations(batch, plan)
        if v is not None:
            sink(v, violations_path)
        for name, prog in uniques.items():
            sink(prog.partial(batch), keystate_path, name)
        for name, prog in keyrefs.items():
            sink(prog.partial(batch), refstate_path, name, "refs")
            if not prog.fused:
                sink(prog.key_set(batch), refstate_path, name, "keys")
        sink(batch.groupBy(spec.scope_col).agg(*occ_aggs), occstate_path)

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

_CONTIG_COLS = ["conv_id", "turn_idx", "constraint_id", "reason"]
_CONTIG_OUT = ", ".join(
    f"{n} {t}" for n, t in VIOLATION_ROW if n in _CONTIG_COLS
)


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
        yield pd.DataFrame(out, columns=_CONTIG_COLS)

    return (
        stream_df.groupBy(F.col(scope))
        .applyInPandasWithState(
            fn,
            outputStructType=_CONTIG_OUT,
            stateStructType="last_idx long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
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
