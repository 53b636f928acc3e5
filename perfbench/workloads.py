"""The benchmark's workloads.

Each workload has these phases, called by ``run.py``:

* ``prepare()`` — make (or reuse) the inputs for the seed and compute the
  expected results with the independent oracle.  Not timed.
* ``setup()`` — register the inputs and compile the spec or schema: the
  per-process work a user pays before the first validation.  Timed.
* ``op()`` — one closed-loop operation; returns ``(turns, correct)``.
* ``trace(probe)`` — the per-layer metrics, each layer forced on its own;
  returns ``(metrics, correct)``.
* ``record()`` — input sizes for the run's environment record.

Why each workload exists is recorded in ``BENCHMARK.json``.
"""

from __future__ import annotations

import os
import shutil
import statistics

from perfbench import inputs
from perfbench.probe import plan_counts


def _compile_layer(probe) -> dict:
    """Driver-side compile times: the spec → plan lowering and the XSD
    front door.  Both run on every workload so the compile layer is
    measured everywhere."""
    from sissaschool_xmlschema_spark.plans.compiler import compile_plan
    from sissaschool_xmlschema_spark.spec import transcript_spec
    from sissaschool_xmlschema_spark.xsd_compile import compile_xsd

    plan_t, xsd_t = [], []
    for _ in range(5):
        with probe.span("compile.plan") as s:
            compile_plan(transcript_spec())
        plan_t.append(s.seconds)
        with probe.span("compile.xsd") as s:
            compile_xsd(inputs.XSD_PATH)
        xsd_t.append(s.seconds)
    return {
        "compile.plan_s": statistics.median(plan_t),
        "compile.xsd_s": statistics.median(xsd_t),
    }


def suite_layers(probe, df, plan) -> dict:
    """Each branch of ``plans.runner.validate`` forced with ``count()`` in its
    own job group, then the whole suite."""
    from sissaschool_xmlschema_spark import spec as S
    from sissaschool_xmlschema_spark.operators.identity import (
        key_missing_field_violations,
        keyref_violations,
        unique_violations,
    )
    from sissaschool_xmlschema_spark.operators.sequence import (
        model_window_violations,
        occurs_violations,
    )
    from sissaschool_xmlschema_spark.plans.runner import (
        row_local_violations,
        validate,
    )

    spec = plan.spec

    def run(name, frame):
        if frame is None:  # the spec has no check of this kind
            return 0.0, 0
        with probe.span(name) as s:
            n = frame.count()
        return s.seconds, n

    m = {}
    m["stage_a.s"], m["stage_a.violations"] = run(
        "stage_a", row_local_violations(df, plan)
    )
    window = None
    if any(not isinstance(c, S.Occurs) for c in plan.model):
        window = model_window_violations(
            df, plan.model, spec.name, spec.scope_col, spec.order_col,
            tuple(spec.tiebreakers),
        )
    m["window.s"], m["window.violations"] = run("window", window)
    m["occurs.s"], _ = run(
        "occurs", occurs_violations(df, plan.model, spec.name, spec.scope_col)
    )
    ident = {"unique": [0.0, 0], "key_missing": [0.0, 0], "keyref": [0.0, 0]}
    for c in plan.identities:
        branches = []
        if isinstance(c, S.Keyref):
            branches.append(("keyref", keyref_violations(df, c, spec.name)))
        else:
            branches.append(
                ("unique", unique_violations(df, c, spec.name, spec.order_col))
            )
            if isinstance(c, S.Key):
                branches.append((
                    "key_missing",
                    key_missing_field_violations(
                        df, c, spec.name, spec.order_col
                    ),
                ))
        for kind, frame in branches:
            t, n = run(f"identity.{kind}", frame)
            ident[kind][0] += t
            ident[kind][1] += n
    for kind, (t, _) in ident.items():
        m[f"identity.{kind}_s"] = t
    m["identity.violations"] = sum(n for _, n in ident.values())

    with probe.span("suite.build") as s:
        violations = validate(df, plan).violations
    m["suite.build_s"] = s.seconds
    m.update(plan_counts(violations))
    with probe.span("suite") as s:
        violations.count()
    m["suite.s"] = s.seconds
    m["suite.jobs"] = s.jobs
    m["suite.stages"] = s.stages
    branches_s = sum(
        m[k] for k in ("stage_a.s", "window.s", "occurs.s")
    ) + sum(t for t, _ in ident.values())
    m["suite.branch_sum_ratio"] = branches_s / s.seconds
    return m


class SuitePlain:
    """Full transcript suite over plain parquet (shuffles and sorts)."""

    name = "suite-plain"
    SIZES = {"full": 8_000, "tiny": 400}

    def __init__(self, spark, seed: int, scale: str) -> None:
        self.spark, self.seed, self.scale = spark, seed, scale
        self.n_convs = self.SIZES[scale]

    def prepare(self) -> None:
        self.path = self._write()
        self.expected = inputs.by_constraint(inputs.oracle_counts(self.path))
        self.turns = inputs.count_rows(self.path)

    def _write(self) -> str:
        return inputs.plain_table(
            self.spark, self.n_convs, self.seed, every=101, files=inputs.PARTITIONS
        )

    def setup(self) -> None:
        from sissaschool_xmlschema_spark.plans.compiler import compile_plan
        from sissaschool_xmlschema_spark.spec import transcript_spec

        self.df = self._table()
        self.plan = compile_plan(transcript_spec())

    def _table(self):
        return self.spark.read.parquet(self.path)

    def op(self):
        from sissaschool_xmlschema_spark.plans.runner import validate

        got = validate(self.df, self.plan).by_constraint().collect()
        return self.turns, dict(map(tuple, got)) == self.expected

    def trace(self, probe) -> tuple:
        m = _compile_layer(probe)
        m["compile.row_checks"] = len(self.plan.row_checks)
        m.update(suite_layers(probe, self.df, self.plan))
        return m, True

    def record(self) -> dict:
        hot = inputs.HOT_CONVS * inputs.hot_turns_for(self.n_convs)
        return {
            "turns": self.turns,
            "hot_turns": hot,
            "hot_share": hot / self.turns,
            "violations": sum(self.expected.values()),
        }


class SuiteBucketed(SuitePlain):
    """The same rows bucketed by conv_id and write-sorted: the exchange-free
    production layout, the no-change control for shuffle-only changes."""

    name = "suite-bucketed"
    BUCKETS = inputs.PARTITIONS

    def _write(self) -> str:
        return inputs.bucketed_table(
            self.spark, self.n_convs, self.seed, every=101,
            buckets=self.BUCKETS,
        )

    def _table(self):
        return inputs.register_bucketed(
            self.spark, "pb_bucketed", self.path, self.BUCKETS
        )

    def trace(self, probe) -> tuple:
        m, ok = super().trace(probe)
        ckpt, ckpt_ok = CheckpointLayers(
            self.spark, self.seed, self.scale
        ).measure(probe)
        m.update(ckpt)
        return m, ok and ckpt_ok


class CheckpointLayers:
    """``run_checkpointed`` over a partitioned, bucketed table with about 20%
    bad rows (each partition filter prunes to its own files), then
    ``column_stats`` and drift against a snapshot saved at preparation."""

    SIZES = {"full": 2_000, "tiny": 200}
    PARTS = 8
    BUCKETS = 2
    EVERY = 5

    def __init__(self, spark, seed: int, scale: str) -> None:
        from sissaschool_xmlschema_spark.operators.drift import save_baseline
        from sissaschool_xmlschema_spark.spec import transcript_spec

        self.spark = spark
        self.spec = transcript_spec()
        path = inputs.bucketed_table(
            spark, self.SIZES[scale], seed, self.EVERY, self.BUCKETS,
            parts=self.PARTS,
        )
        counts = inputs.oracle_counts(path, partitioned=True)
        self.expected = inputs.by_constraint(counts)
        self.expected_parts = {
            str(p): n for p, n in inputs.by_part(counts).items()
        }
        self.turns = inputs.count_rows(path)
        self.work = os.path.join(inputs.CACHE_DIR, f"work-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        self.ckpt_dir = os.path.join(self.work, "ckpt")
        self.out_dir = os.path.join(self.work, "violations")
        self.baseline = os.path.join(self.work, "baseline")
        self.df = inputs.register_bucketed(
            spark, "pb_dirty", path, self.BUCKETS, partitioned=True
        )
        save_baseline(self.df, "turn_idx", self.baseline)

    def _checkpointed(self, resume: bool):
        from sissaschool_xmlschema_spark.plans.checkpoint import run_checkpointed

        return run_checkpointed(
            self.df, self.spec, "part", self.ckpt_dir, out_dir=self.out_dir,
            resume=resume,
        )

    def measure(self, probe) -> tuple:
        """``(metrics, correct)``."""
        from sissaschool_xmlschema_spark.operators.drift import (
            drift_report_vs_snapshot,
        )
        from sissaschool_xmlschema_spark.operators.stats import column_stats

        m = {}
        with probe.span("checkpoint") as s:
            results = self._checkpointed(resume=False)
        m["checkpoint.run_s"] = s.seconds
        m["checkpoint.partition_p50_s"] = statistics.median(
            r.wall_s for r in results
        )
        # includes the jobs that list the partition keys
        m["checkpoint.jobs_per_partition"] = s.jobs / len(results)
        m["write.violation_rows"] = sum(r.n_violations for r in results)
        m["write.bytes"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(self.out_dir)
            for f in files
            if f.endswith(".parquet")
        )
        with probe.span("checkpoint.resume") as s:
            resumed = self._checkpointed(resume=True)
        m["checkpoint.resume_s"] = s.seconds
        with probe.span("stats") as s:
            stats = column_stats(
                self.df, numeric_cols=["turn_idx"], string_cols=["role", "tool"]
            ).first()
        m["stats.column_stats_s"] = s.seconds
        with probe.span("drift") as s:
            drift = drift_report_vs_snapshot(self.df, self.baseline).first()
        m["drift.vs_snapshot_s"] = s.seconds

        written = self.spark.read.parquet(self.out_dir).groupBy(
            "constraint_id"
        ).count().collect()
        ok = (
            {r.partition: r.n_violations for r in results} == self.expected_parts
            and sum(r.n_rows for r in results) == self.turns
            and all(r.skipped for r in resumed)
            and dict(map(tuple, written)) == self.expected
            and stats["n_rows"] == self.turns
            # the snapshot was taken of this same table: no drift at all
            and (drift["psi"], drift["ks"]) == (0.0, 0.0)
        )
        shutil.rmtree(self.work, ignore_errors=True)
        return m, ok


class XmlDocs:
    """``validate_xml_instance`` per raw XML document."""

    name = "xml-docs"
    # Turns per document.  No record of real traffic gives a size mix, so
    # every document has the same size and every operation the same work.
    SIZES = {"full": 200, "tiny": 40}
    N_DOCS = 16

    def __init__(self, spark, seed: int, scale: str) -> None:
        self.spark, self.seed = spark, seed
        self.n_turns = self.SIZES[scale]
        self.i = 0

    def prepare(self) -> None:
        self.docs = inputs.xml_docs(self.seed, self.n_turns, self.N_DOCS)

    def setup(self) -> None:
        from sissaschool_xmlschema_spark.xsd_compile import compile_xsd

        self.compiled = compile_xsd(inputs.XSD_PATH)

    def op(self):
        from sissaschool_xmlschema_spark.sources.xml_instance import (
            validate_xml_instance,
        )

        path, turns, planted = self.docs[self.i % len(self.docs)]
        self.i += 1
        rows = validate_xml_instance(self.spark, path, self.compiled).collect()
        return turns, len(rows) == planted

    def trace(self, probe) -> tuple:
        from sissaschool_xmlschema_spark.plans.compiler import compile_plan
        from sissaschool_xmlschema_spark.sources.xml_instance import (
            validate_xml_instance,
            xml_instance_tables,
        )

        m = _compile_layer(probe)
        plans = {n: compile_plan(s) for n, s in self.compiled.specs.items()}
        m["compile.row_checks"] = sum(len(p.row_checks) for p in plans.values())
        path, _, planted = self.docs[0]
        with probe.span("xml.tables") as s:
            tables = xml_instance_tables(self.spark, path, self.compiled)
            for t in tables.values():
                t.count()
        m["xml.tables_s"] = s.seconds
        with probe.span("xml.validate") as s:
            rows = validate_xml_instance(self.spark, path, self.compiled).collect()
        m["xml.validate_s"] = s.seconds
        m["xml.jobs_per_doc"] = s.jobs
        m.update(suite_layers(probe, tables["turn"], plans["turn"]))
        return m, len(rows) == planted

    def record(self) -> dict:
        return {
            "docs": len(self.docs),
            "doc_turns": self.n_turns,
            "planted_errors": sum(e for _, _, e in self.docs),
        }


WORKLOADS = {w.name: w for w in (SuitePlain, SuiteBucketed, XmlDocs)}
