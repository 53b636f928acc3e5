"""Spec → compiled plan lowering (the ``XsdGlobals.build()`` analogue).

The reference compiles an XSD once into a component graph with bound validator
closures under a build lock (xmlschema/validators/xsd_globals.py:537-578).  Here the
"build" happens once on the driver, in two steps:

* :func:`compile_plan` lowers every facet, alternative arm, row assertion and
  xs:key missing-field rule to a :class:`RowCheck` Column predicate;
* :attr:`CompiledPlan.program`, on first use, builds every other
  data-independent Column ``validate`` needs — stage A's masks and explode
  list, the window pass's helpers and violation structs, the occurrence,
  unique and keyref aggregate and select lists — and keeps them
  (``plans/runner.py``).

``validate`` then only binds that program to its input DataFrame.  Building
the Columns is the expensive part on the driver: PySpark records a call site
for each Column operation (``spark.python.sql.dataFrameDebugging.enabled``, on
by default), several Py4J round trips each, so the transcript suite's build
fell from about 6,000 round trips per call to about a hundred per bind.
Nothing is interpreted per row at execution time — Catalyst compiles the Column
predicates into whole-stage codegen, which is the engine's equivalent of the
reference's validator-closure specialization (facets bind ``validate`` at parse
time, facets.py:129-140).  A plan's Columns belong to the SparkContext that was
active when they were built.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property
from typing import List, Optional, Tuple

from pyspark.sql import Column
from pyspark.sql import functions as Fn

from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.functions.facets import facet_id, lower_facet


@dataclass
class RowCheck:
    """A compiled row-local check: one Column predicate + violation metadata.

    ``value`` is the offending_value expression (None → NULL, e.g. for
    whole-row assertions); ``scope`` names the column whose value labels the
    violation's conv_id (None → NULL, a document-wide check)."""

    constraint_id: str
    path: str
    ok: Column
    reason: str
    scope: Optional[str]
    value: Optional[Column] = None


@dataclass
class CompiledPlan:
    spec: S.TableSpec
    row_checks: List[RowCheck] = field(default_factory=list)
    identities: Tuple[object, ...] = ()
    model: Tuple[object, ...] = ()

    @property
    def check_ids(self) -> List[str]:
        ids = [c.constraint_id for c in self.row_checks]
        for c in self.identities:
            kind = type(c).__name__.lower()
            ids.append(f"{kind}:{c.name}")
        for c in self.model:
            prefix = "occurs" if isinstance(c, S.Occurs) else "model"
            ids.append(f"{prefix}:{getattr(c, 'name', type(c).__name__)}")
        return ids

    @cached_property
    def program(self):
        """The :class:`~sissaschool_xmlschema_spark.plans.runner.SuiteProgram`
        ``validate`` binds to each input: built on first use, so
        ``compile_plan`` itself stays cheap, and kept for every later call."""
        from sissaschool_xmlschema_spark.plans.runner import build_program

        return build_program(self)


def key_missing_field_check(c: S.Key, table: str) -> RowCheck:
    """xs:key's missing-field rule (identities.py:523-531) as a row check:
    a selected row with any NULL field fails; the offending value is the
    ``|``-joined field tuple.  A NULL selector selects nothing."""
    any_null = Fn.lit(False)
    for f in c.fields:
        any_null = any_null | Fn.col(f).isNull()
    selected = Fn.expr(c.selector) if c.selector else Fn.lit(True)
    return RowCheck(
        constraint_id=f"key:{c.name}:missing-field",
        path=table,
        ok=~(selected & any_null),
        reason=(
            f"missing key field for identity constraint '{c.name}' "
            f"(fields {list(c.fields)})"
        ),
        scope=c.scope,
        value=Fn.concat_ws("|", *[Fn.col(f).cast("string") for f in c.fields]),
    )


def compile_plan(spec: S.TableSpec) -> CompiledPlan:
    """Lower a TableSpec. ``mode='skip'`` checks are dropped at compile time —
    the skip-mode short-circuit (simple_types.py:710-714) costs nothing at run
    time because the predicate is never emitted."""
    row_checks: List[RowCheck] = []

    def emit(col, facet, gate: Column = None, tag: str = "") -> None:
        if facet.mode == "skip":
            return
        ok, reason = lower_facet(facet, col.name)
        if getattr(col, "when", None):
            # xsi:type-style conditional column: facets apply only where
            # the discriminator predicate holds (elements.py:657-682)
            ok = ~Fn.expr(col.when) | ok
            reason = f"{reason} (where {col.when})"
        if gate is not None:
            ok = ~gate | ok
        cid = facet_id(facet, col.name) + tag
        row_checks.append(
            RowCheck(
                constraint_id=cid,
                path=f"{spec.name}/{col.name}",
                ok=ok,
                reason=reason,
                scope=spec.scope_col,
                value=Fn.col(col.name),
            )
        )

    def test_col(test: str) -> Column:
        # NULL test results select nothing, like an XPath test that raises
        return Fn.coalesce(Fn.expr(test), Fn.lit(False))

    for col in spec.columns:
        alts = tuple(getattr(col, "alternatives", ()) or ())
        if not alts:
            for facet in col.facets:
                emit(col, facet)
            continue
        # XSD 1.1 conditional type assignment (get_alternative_type,
        # elements.py:1338-1361): FIRST arm whose test matches selects that
        # arm's facets; test=None always matches; the column's own facets
        # are the declared default type.  Lowered to first-match-wins gates
        # fused into the same single row-local pass.
        not_earlier = Fn.lit(True)
        for i, alt in enumerate(alts):
            matches = (
                Fn.lit(True) if alt.test is None else test_col(alt.test)
            )
            gate = not_earlier & matches
            arm = alt.name or f"alt{i}"
            for facet in alt.facets:
                emit(col, facet, gate=gate, tag=f"@{arm}")
            not_earlier = not_earlier & ~matches
        for facet in col.facets:
            emit(col, facet, gate=not_earlier, tag="@default")
    for ra in getattr(spec, "row_assertions", ()):
        # extra_validator analogue (validation.py:494-498) as a whole-row
        # SQL predicate, fused into the same single projection pass
        row_checks.append(
            RowCheck(
                constraint_id=f"assert:{ra.name}",
                path=spec.name,
                ok=Fn.expr(ra.expr),
                reason=ra.reason or f"row assertion failed: {ra.expr}",
                scope=spec.scope_col,
            )
        )
    for c in spec.identities:
        if isinstance(c, S.Key):
            row_checks.append(key_missing_field_check(c, spec.name))
    return CompiledPlan(
        spec=spec,
        row_checks=row_checks,
        identities=tuple(spec.identities),
        model=tuple(spec.model),
    )
