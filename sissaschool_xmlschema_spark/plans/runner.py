"""Plan execution — the distributed ``iter_errors`` / ``validate`` analogue.

One logical job, four stages (SURVEY.md §3.2), all declared via the DataFrame API so
Catalyst fuses/pushes/prunes:

* **stage A** — every row-local facet check, row assertion and xs:key
  missing-field check in ONE projection pass compiled to a violation *bitmask*
  (zero allocation on clean rows); violation structs are built and exploded
  only for flagged rows.  The scan reads only the columns the checks reference
  (column pruning) and whole-stage codegen evaluates all predicates in one pass.
* **stage B** — all window/model checks in one window pass (one exchange+sort on
  the scope key), its explode gated on the rows where some check fails.
  Stage A's checks, the occurrence bounds (stage C) and the duplicate count of
  every Unique/Key whose fields are the sort key ride it: stage A's bitmask
  and violation array are selected below the sort, the rest are running
  aggregates of the same WindowExec, so none costs a scan or shuffle of its
  own.  Without an ordered check, or with ``max_scope_rows`` set (the window
  input drops oversized scopes), they run as passes of their own instead.
* **stage D** — the remaining identity constraints: unique/key groupBys and
  keyref anti-joins (broadcast where the spec says the key side is small).

The transcript suite thus reads its input twice: the window pass and the
same-table keyref groupBy.

Every Column those stages need is data-independent, so :func:`build_program`
builds them once per :class:`CompiledPlan` (its cached ``program``): a
:class:`SuiteProgram` of one small program per branch, each holding prebuilt
select, filter, groupBy and aggregate lists.  :func:`validate` only *binds*
the program to the input — the same DataFrame calls in the same order, so
the executed plan is the one a per-call build gives — which costs about a
hundred Py4J round trips instead of thousands.  Nothing in a program refers
to a DataFrame (no ``df["col"]``), so one plan validates any number of
inputs.  The standalone operators (``model_window_violations``,
``occurs_violations``, ``unique_violations``, ``keyref_violations``) build
and bind the same programs per call.

Every branch emits the one violation row of ``operators/sequence.py``
(``VIOLATION_SCHEMA`` is derived from it): stage A, the window pass and the
Occurs bounds through its ``PassProgram``, the per-group selects (guard,
identities) through its ``violation_cols``, the pandas kernels under its
``VIOLATION_COLS``.  Violations union into the canonical lax-mode error
collection (ValidationContext.errors, validation.py:216-236); ``strict``
raises on the first violation like ``raise_or_collect``; verdict rollup
mirrors the schema ``validity``/``validation_attempted`` attributes
(schemas.py:851-876).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.operators.identity import (
    keyref_program,
    unique_program,
)
from sissaschool_xmlschema_spark.operators.sequence import (
    VIOLATION_COLS,
    VIOLATION_SCHEMA,
    OccursProgram,
    PassProgram,
    occurs_program,
    rides_window,
    row_local_program,
    violation_cols,
    window_program,
)
from sissaschool_xmlschema_spark.plans.compiler import CompiledPlan, compile_plan


class SparkSchemaValidationError(Exception):
    """Strict-mode error — the XMLSchemaValidationError analogue
    (exceptions.py:316-339): carries path, constraint id, offending value, reason.
    """

    def __init__(self, row) -> None:
        self.path = row["path"]
        self.constraint_id = row["constraint_id"]
        self.offending_value = row["offending_value"]
        self.reason = row["reason"]
        super().__init__(
            f"failed validating {self.offending_value!r} against "
            f"{self.constraint_id} at {self.path}: {self.reason}"
        )


def row_local_violations(df: DataFrame, plan: CompiledPlan) -> Optional[DataFrame]:
    """Stage A over ``df``: the plan's
    :func:`~sissaschool_xmlschema_spark.operators.sequence.row_local_program`."""
    prog = plan.program.stage_a
    return None if prog is None else prog.bind(df)


def verdict_rollup(scopes: DataFrame, violations: DataFrame) -> DataFrame:
    """Per-scope pass/fail — the validity rollup (schemas.py:851-876): the
    distinct ``conv_id`` values of ``scopes`` left-joined to the violation
    count per ``conv_id``; a scope with any violation is 'invalid'."""
    per_scope = violations.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_violations")
    )
    n = F.coalesce(F.col("n_violations"), F.lit(0))
    return scopes.dropDuplicates().join(per_scope, "conv_id", "left").select(
        "conv_id",
        n.alias("n_violations"),
        F.when(n > 0, "invalid").otherwise("valid").alias("validity"),
    )


@dataclass
class ValidationResult:
    """Lax-mode result: the violations DataFrame plus rollups."""

    violations: DataFrame
    source: DataFrame
    spec: S.TableSpec

    def verdicts(self) -> DataFrame:
        """:func:`verdict_rollup` over every scope of the input.

        Scope-less (document-wide) violations carry a NULL conv_id and are by
        design NOT attributed to any scope here — they still fail
        :meth:`is_valid` and appear in :meth:`by_constraint`; use the
        violations frame directly for table-level verdicts.
        """
        return verdict_rollup(
            self.source.select(
                F.col(self.spec.scope_col).cast("string").alias("conv_id")
            ),
            self.violations,
        )

    def by_constraint(self) -> DataFrame:
        return self.violations.groupBy("constraint_id").agg(
            F.count(F.lit(1)).alias("n_violations")
        )

    def is_valid(self) -> bool:
        """``schema.is_valid`` analogue — True iff no violations exist."""
        return self.violations.isEmpty()


def pandas_check_violations(
    df: DataFrame, check: "S.PandasCheck", spec: S.TableSpec
) -> DataFrame:
    """Arrow-batched custom check (§2.10 extra_validator UDF escape hatch).

    ``check.fn(pdf) -> Series`` yields a reason string per violating row; the
    kernel only sees the columns the check declared (pruning the scan) plus the
    scope/order keys for the violation row.
    """
    need = {spec.scope_col, spec.order_col} | set(check.columns)
    sub = df.select(*sorted(need))
    cid = f"pandas:{check.name}"
    scope, order = spec.scope_col, spec.order_col
    fn = check.fn

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            reasons = fn(pdf)
            mask = reasons.notna()
            bad = pdf[mask]
            yield pd.DataFrame(
                {
                    "conv_id": bad[scope].astype(str),
                    "turn_idx": pd.to_numeric(
                        bad[order], errors="coerce"
                    ).astype("Int64"),
                    "path": cid.replace("pandas:", f"{spec.name}/"),
                    "constraint_id": cid,
                    "offending_value": None,
                    "reason": reasons[mask].astype(str),
                }
            )

    return sub.mapInPandas(kernel, VIOLATION_SCHEMA)


def group_check_violations(
    df: DataFrame, check: "S.GroupPandasCheck", spec: S.TableSpec
) -> DataFrame:
    """Per-conversation assert via applyInPandas (assertions.py:36-147).

    One shuffle on the scope key; each group arrives as a pandas frame sorted
    by order_col.  Oversized groups keep their first ``max_group_rows`` rows
    in that order, with a dedicated guard violation, instead of OOMing the
    executor.
    """
    need = {spec.scope_col, spec.order_col} | set(check.columns)
    sub = df.select(*sorted(need))
    cid = f"group:{check.name}"
    scope, order = spec.scope_col, spec.order_col
    fn, cap = check.fn, check.max_group_rows
    path = f"{spec.name}/{check.name}"

    def kernel(pdf):
        import pandas as pd

        rows = []
        conv = str(pdf[scope].iloc[0])
        pdf = pdf.sort_values(order)
        if len(pdf) > cap:
            rows.append(
                {
                    "conv_id": conv,
                    "turn_idx": None,
                    "path": path,
                    "constraint_id": cid + ":group-size-guard",
                    "offending_value": str(len(pdf)),
                    "reason": f"group exceeds max_group_rows={cap}",
                }
            )
            pdf = pdf.iloc[:cap]
        for reason in fn(pdf):
            rows.append(
                {
                    "conv_id": conv,
                    "turn_idx": None,
                    "path": path,
                    "constraint_id": cid,
                    "offending_value": None,
                    "reason": str(reason),
                }
            )
        return pd.DataFrame(rows, columns=list(VIOLATION_COLS))

    return sub.groupBy(scope).applyInPandas(kernel, VIOLATION_SCHEMA)


def _union(parts: List[Optional[DataFrame]]) -> Optional[DataFrame]:
    dfs = [d for d in parts if d is not None]
    if not dfs:
        return None
    return reduce(lambda a, b: a.unionByName(b), dfs)


@dataclass
class GuardProgram:
    """The ``max_scope_rows`` guard as Columns built once: the per-scope
    row count, its violation rows and the oversized-scope key the window
    input anti-joins."""

    scope: str
    count: Column
    oversized: Column
    report: List[Column]
    big_scope: List[Column]

    def bind(self, df: DataFrame) -> tuple:
        """``(guard violations, window input without oversized groups)``."""
        oversized = df.groupBy(self.scope).agg(self.count).filter(
            self.oversized
        )
        keep = oversized.select(*self.big_scope)
        window_input = df.join(
            F.broadcast(keep),
            df[self.scope] == F.col("_big_scope"),
            "left_anti",
        )
        return oversized.select(*self.report), window_input


def guard_program(spec: S.TableSpec, cap: int) -> GuardProgram:
    """MAX_XML_ELEMENTS-style guard (limits.py:58-67): oversized scope
    groups are excluded from the ordered window pass (one sort task per
    group) and reported; counts come from one groupBy that the bucketed
    layout runs shuffle-free."""
    return GuardProgram(
        scope=spec.scope_col,
        count=F.count(F.lit(1)).alias("_n_rows"),
        oversized=F.col("_n_rows") > cap,
        report=violation_cols(
            F.col(spec.scope_col), None, spec.name, "limit:max-scope-rows",
            F.col("_n_rows"),
            f"scope group exceeds max_scope_rows={cap}; ordered model "
            "checks skipped for this group",
        ),
        big_scope=[F.col(spec.scope_col).alias("_big_scope")],
    )


@dataclass
class SuiteProgram:
    """Every data-independent Column of :func:`validate`, in branch order:
    built once per :class:`CompiledPlan` (its ``program``), then bound to
    each input.  ``stage_a`` is stage A on its own
    (:func:`row_local_violations`); when ``fused``, ``window`` carries its
    checks and ``validate`` runs no separate stage A pass."""

    stage_a: Optional[PassProgram]
    fused: bool
    guard: Optional[GuardProgram]
    window: Optional[PassProgram]
    occurs: Optional[OccursProgram]
    identities: List[object]


def build_program(plan: CompiledPlan) -> SuiteProgram:
    """Lower a compiled plan's checks to the Columns of its passes."""
    spec = plan.spec
    cap = getattr(spec, "max_scope_rows", None)
    ordered = [c for c in plan.model if not isinstance(c, S.Occurs)]
    occurs = [c for c in plan.model if isinstance(c, S.Occurs)]
    tiebreakers = tuple(spec.tiebreakers)
    # stage A's row checks, occurrence bounds and sort-key duplicates ride
    # the ordered pass; with the scope-size guard they stay passes of their
    # own over the FULL input, because the window input drops the oversized
    # groups
    fused = bool(ordered) and not cap
    riders = occurs + [
        c for c in plan.identities
        if rides_window(c, spec.scope_col, spec.order_col, tiebreakers)
    ] if fused else []
    identities: List[object] = []
    for c in plan.identities:
        # a Key's missing-field check is a row check in stage A
        if isinstance(c, S.Unique):
            if c not in riders:
                identities.append(
                    unique_program(c, spec.name, spec.order_col)
                )
        elif isinstance(c, S.Keyref):
            identities.append(keyref_program(c, spec.name))
        else:
            raise ValueError(f"unknown identity constraint {c!r}")
    stage_a = row_local_program(plan.row_checks, spec.order_col)
    return SuiteProgram(
        stage_a=stage_a,
        fused=fused,
        guard=guard_program(spec, cap) if cap else None,
        window=window_program(
            ordered + riders, spec.name, spec.scope_col, spec.order_col,
            tiebreakers, stage_a=stage_a if fused else None,
        ) if ordered else None,
        occurs=(
            None if fused
            else occurs_program(occurs, spec.name, spec.scope_col)
        ),
        identities=identities,
    )


def validate(
    df: DataFrame,
    spec_or_plan: S.TableSpec | CompiledPlan,
    mode: Optional[str] = None,
) -> ValidationResult:
    """Run the full constraint suite; the ``schema.validate`` analogue.

    ``mode='lax'`` (default) collects all violations; ``'strict'`` raises a
    :class:`SparkSchemaValidationError` on the first one (raise_or_collect,
    validation.py:216-236).

    A :class:`CompiledPlan` builds its program on first use and keeps it, so
    validating many inputs against one plan only binds it to each
    DataFrame; a bare TableSpec is compiled (and its program built) per
    call.
    """
    plan = (
        spec_or_plan
        if isinstance(spec_or_plan, CompiledPlan)
        else compile_plan(spec_or_plan)
    )
    spec = plan.spec
    mode = mode or spec.mode
    prog = plan.program

    parts: List[Optional[DataFrame]] = [
        prog.stage_a.bind(df) if prog.stage_a and not prog.fused else None
    ]
    window_input = df
    if prog.guard is not None:
        guard_violations, window_input = prog.guard.bind(df)
        parts.append(guard_violations)
    if prog.window is not None:
        parts.append(prog.window.bind(window_input))
    if prog.occurs is not None:
        parts.append(prog.occurs.bind(df))
    parts += [p.bind(df) for p in prog.identities]
    for pc in getattr(spec, "pandas_checks", ()):
        parts.append(pandas_check_violations(df, pc, spec))
    for gc in getattr(spec, "group_checks", ()):
        parts.append(group_check_violations(df, gc, spec))

    violations = _union(parts)
    if violations is None:
        violations = df.sparkSession.createDataFrame([], VIOLATION_SCHEMA)

    if mode == "strict":
        first = violations.take(1)
        if first:
            raise SparkSchemaValidationError(first[0].asDict())

    return ValidationResult(violations=violations, source=df, spec=spec)
