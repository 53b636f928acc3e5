"""Content-model checks as window functions + occurrence aggregation.

The reference validates child order and occurrence bounds with the ``ModelVisitor``
automaton (xmlschema/validators/models.py:177-366) and ``ParticleMixin`` bounds
(particles.py:109-126), emitting ``XMLSchemaChildrenValidationError`` with the
failing child index (exceptions.py:438-533).

Flat-table lowering: document order is ``Window.partitionBy(scope).orderBy(order)``.
All window-based checks for a spec are fused into ONE window pass (one shuffle on the
scope key, one sort) — at 100 TB this matters: k checks cost one exchange, not k.
Occurs bounds and the duplicate count of a Unique/Key whose fields are the sort
key ride that same pass as running aggregates over the same window spec.
:func:`occurs_violations` is the standalone form of the Occurs bounds: ONE
groupBy with conditional sums (map-side partial aggregation makes this a single
shuffle of tiny partial rows), used where no ordered pass runs over the full input.

Both passes are built as programs of prebuilt Columns (:class:`PassProgram`,
:class:`OccursProgram`): ``validate`` keeps them per compiled plan and binds
them to each input; the standalone functions build and bind them per call.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.functions.facets import truncate_value
from sissaschool_xmlschema_spark.operators.identity import (
    duplicate_id,
    duplicate_reason,
)

VIOLATION_COLS = (
    "conv_id",
    "turn_idx",
    "path",
    "constraint_id",
    "offending_value",
    "reason",
)


def rides_window(c: object, scope: str, order: str,
                 tiebreakers: Sequence[str] = ()) -> bool:
    """True for a Unique/Key the ordered pass can count: no selector, the
    pass's scope, and the field tuple is exactly the sort key, so one peer
    run of the window is one field tuple."""
    return (
        isinstance(c, S.Unique)
        and c.selector is None
        and c.scope == scope
        and tuple(c.fields) == (order, *tiebreakers)
    )


@dataclass
class PassProgram:
    """One pass over the input as Columns built once — stage A
    (``plans/runner.row_local_program``) or the ordered pass
    (:func:`window_program`): ``head`` is selected next to every input
    column (the violation bitmask, the window helpers), rows where ``flag``
    holds are kept (``None``: all rows), ``explode`` turns the failed checks
    into one row each and ``flatten`` gives them the violation schema."""

    head: List[Column]
    flag: Optional[Column]
    explode: List[Column]
    flatten: List[Column]

    def bind(self, df: DataFrame) -> DataFrame:
        staged = df.select(*self.head)
        if self.flag is not None:
            staged = staged.filter(self.flag)
        return staged.select(*self.explode).select(*self.flatten)


def window_program(
    checks: Sequence[object],
    table: str,
    scope: str,
    order: str,
    tiebreakers: Sequence[str] = (),
) -> PassProgram | None:
    """All Contiguity / Monotone / FirstTurn / LastTurn / Transition checks,
    Occurs bounds and window-riding Unique/Key duplicates (see
    :func:`rides_window`) as the Columns of a single window pass; ``None``
    without checks.

    Window expressions cannot appear inside the higher-order
    ``explode(filter(array(...)))`` projection, so the pass is two selects
    over the SAME window partitioning: the first materializes the helper
    columns (one exchange + sort), the second is a plain projection Catalyst
    fuses into it.

    Every helper is over the ONE ordered window spec, so all of them share a
    single WindowExec: an Occurs count is a running conditional sum read on
    the group's last row, a duplicate count is ``row_number - rank + 1`` read
    on the last row of each peer run.
    """
    w = Window.partitionBy(scope).orderBy(order, *tiebreakers)
    sort_key = (order, *tiebreakers)

    occurs = [c for c in checks if isinstance(c, S.Occurs)]
    uniques = [c for c in checks if isinstance(c, S.Unique)]
    for c in uniques:
        if not rides_window(c, scope, order, tiebreakers):
            raise ValueError(
                f"{c!r} is not counted by the ordered pass over {sort_key}"
            )
    lag_cols = {order}
    needs_first = False
    needs_last = bool(occurs or uniques)
    for chk in checks:
        if isinstance(chk, (S.Monotone, S.Transition)):
            lag_cols.add(chk.column)
        if isinstance(chk, S.FirstTurn):
            needs_first = True
        if isinstance(chk, S.LastTurn):
            needs_last = True

    # first/last-row detection uses lag/lead of a literal (NULL exactly at
    # the partition edge, robust to NULL data values) instead of
    # row_number/count-over-partition — a whole-partition frame would force
    # a SECOND WindowExec pass (different window spec), measured +40% on the
    # window stage at 80M rows.
    helpers = [F.col("*")]
    helpers += [
        F.lag(F.col(c)).over(w).alias(f"_prev_{c}") for c in sorted(lag_cols)
    ]
    if needs_first:
        helpers.append(F.lag(F.lit(1)).over(w).alias("_lag1"))
    if needs_last:
        helpers.append(F.lead(F.lit(1)).over(w).alias("_lead1"))
    if uniques:
        helpers += [
            F.lead(F.col(c)).over(w).alias(f"_next_{c}") for c in sort_key
        ]
        helpers.append(
            (F.row_number().over(w) - F.rank().over(w) + 1).alias("_run")
        )
    for i, c in enumerate(occurs):
        helpers.append(
            F.sum(F.when(F.expr(c.where), 1).otherwise(0)).over(w).alias(f"_occ_{i}")
        )

    prev_order = F.col(f"_prev_{order}")
    is_first = F.col("_lag1").isNull() if needs_first else None
    is_last = F.col("_lead1").isNull() if needs_last else None

    structs = []

    def emit(ok, cid: str, value, reason, tix=None) -> None:
        structs.append(
            F.when(
                ~ok,
                F.struct(
                    F.lit(f"{table}").alias("path"),
                    F.lit(cid).alias("constraint_id"),
                    truncate_value(value).alias("offending_value"),
                    (
                        reason if isinstance(reason, Column) else F.lit(reason)
                    ).alias("reason"),
                    (
                        tix if tix is not None
                        else F.col(order).try_cast("long")
                    ).alias("tix"),
                ),
            )
        )

    for chk in checks:
        if isinstance(chk, S.Contiguity):
            # position automaton: expected index = prev+1, first index = 0
            # (models.py:267-366; error index exceptions.py:471-498)
            ok = F.when(prev_order.isNull(), F.col(order) == 0).otherwise(
                F.col(order) == prev_order + 1
            )
            emit(
                ok,
                f"model:{chk.name}",
                F.col(order),
                "turn index breaks the 0..n-1 sequence (gap, duplicate or bad "
                "start)",
            )
        elif isinstance(chk, S.Monotone):
            prev_val = F.col(f"_prev_{chk.column}")
            cmp = (
                F.col(chk.column) > prev_val
                if chk.strict
                else F.col(chk.column) >= prev_val
            )
            ok = prev_val.isNull() | cmp
            emit(
                ok,
                f"model:{chk.name}",
                F.col(chk.column),
                f"column '{chk.column}' must be "
                f"{'strictly increasing' if chk.strict else 'non-decreasing'} "
                f"in turn order",
            )
        elif isinstance(chk, S.FirstTurn):
            ok = ~is_first | F.expr(chk.where)
            emit(
                ok,
                f"model:{chk.name}",
                F.col(order),
                f"first turn must satisfy: {chk.where}",
            )
        elif isinstance(chk, S.LastTurn):
            ok = ~is_last | F.expr(chk.where)
            emit(
                ok,
                f"model:{chk.name}",
                F.col(order),
                f"last turn must satisfy: {chk.where}",
            )
        elif isinstance(chk, S.Transition):
            prev_val = F.col(f"_prev_{chk.column}")
            ok = F.lit(True)
            # closed transitions for listed prev values; unlisted prev values are
            # open content (InterleavedModelVisitor, models.py:737-817)
            for prev, nexts in chk.allowed.items():
                ok = ok & (
                    (prev_val != F.lit(prev))
                    | prev_val.isNull()
                    | F.col(chk.column).isin(list(nexts))
                )
            if chk.start is not None:
                ok = ok & (
                    prev_val.isNotNull() | F.col(chk.column).isin(list(chk.start))
                )
            emit(
                ok,
                f"model:{chk.name}",
                F.col(chk.column),
                f"illegal transition on '{chk.column}'",
            )
        elif isinstance(chk, S.Occurs):
            n = F.col(f"_occ_{occurs.index(chk)}")
            # once per scope group, on its last row (the running count is
            # complete there); turn_idx stays NULL like occurs_violations
            emit(
                ~is_last | _occurs_ok(chk, n),
                f"occurs:{chk.name}",
                n,
                _occurs_reason(chk),
                tix=F.lit(None).cast("long"),
            )
        elif isinstance(chk, S.Unique):
            # once per duplicated tuple, on the last row of its peer run;
            # tuples with a NULL field are skipped (elements.py:912)
            run_end, repeated = is_last, F.col("_run") > 1
            for c in sort_key:
                run_end = run_end | ~F.col(f"_next_{c}").eqNullSafe(F.col(c))
                repeated = repeated & F.col(c).isNotNull()
            emit(
                ~(run_end & repeated),
                duplicate_id(chk),
                F.concat_ws("|", *[F.col(c).cast("string") for c in sort_key]),
                duplicate_reason(chk, F.col("_run")),
            )
        else:
            raise ValueError(f"unknown model check {chk!r}")

    if not structs:
        return None

    arr = F.filter(F.array(*structs), lambda x: x.isNotNull())
    return PassProgram(
        head=helpers,
        flag=None,
        explode=[
            F.col(scope).cast("string").alias("conv_id"),
            F.explode(arr).alias("_v"),
        ],
        flatten=[
            F.col("conv_id"),
            F.col("_v.tix").alias("turn_idx"),
            *[F.col(f"_v.{c}") for c in VIOLATION_COLS[2:]],
        ],
    )


def model_window_violations(
    df: DataFrame,
    checks: Sequence[object],
    table: str,
    scope: str,
    order: str,
    tiebreakers: Sequence[str] = (),
) -> DataFrame | None:
    """The checks of :func:`window_program` in a single window pass over
    ``df``."""
    prog = window_program(checks, table, scope, order, tiebreakers)
    return None if prog is None else prog.bind(df)


def _occurs_ok(c: S.Occurs, n: Column) -> Column:
    ok = n >= c.min_occurs
    if c.max_occurs is not None:
        ok = ok & (n <= c.max_occurs)
    return ok


def _occurs_reason(c: S.Occurs) -> str:
    bound = (
        f"[{c.min_occurs}, "
        f"{'unbounded' if c.max_occurs is None else c.max_occurs}]"
    )
    return f"occurrences of rows where ({c.where}) must be in {bound}"


@dataclass
class OccursProgram:
    """The standalone Occurs bounds as Columns built once
    (:func:`occurs_program`): per-scope conditional counts (salted partials
    first when ``salt_key`` is set), then :func:`occurs_report`."""

    scope: Column
    counts: List[Column]
    report: List[Column]
    flatten: List[Column]
    salt_key: Optional[Column]
    merge: List[Column]

    def bind(self, df: DataFrame) -> DataFrame:
        if self.salt_key is not None:
            counts = (
                df.groupBy(self.salt_key, self.scope).agg(*self.counts)
                .groupBy(self.scope).agg(*self.merge)
            )
        else:
            counts = df.groupBy(self.scope).agg(*self.counts)
        return counts.select(*self.report).select(*self.flatten)


def occurs_program(
    checks: Sequence[S.Occurs],
    table: str,
    scope: str,
    salt: int = 0,
) -> OccursProgram | None:
    """All min/maxOccurs bounds in one groupBy(scope) with conditional sums;
    ``None`` without an Occurs check.

    particles.py:109-126 semantics: count of rows matching the particle predicate
    per scope group, compared to [min_occurs, max_occurs].  Catalyst's partial
    (map-side) aggregation already gives a two-phase shape; ``salt > 0``
    additionally spreads each scope group over ``salt`` reducers explicitly
    (groupBy(salt_key, scope) partials re-aggregated by scope) — the
    north-rule key-salting lever for a pathologically hot conv_id whose
    *reduce-side* partial row would otherwise pair with millions of map
    partials on one reducer.  Results are bit-identical with or without salt.
    """
    occurs = [c for c in checks if isinstance(c, S.Occurs)]
    if not occurs:
        return None
    report, flatten = occurs_report(occurs, table, scope)
    return OccursProgram(
        scope=F.col(scope),
        counts=[
            F.sum(F.when(F.expr(c.where), 1).otherwise(0)).alias(f"_n_{i}")
            for i, c in enumerate(occurs)
        ],
        report=report,
        flatten=flatten,
        salt_key=F.pmod(
            F.xxhash64(F.col(scope), F.monotonically_increasing_id()),
            F.lit(salt),
        ).alias("_salt") if salt > 0 else None,
        merge=[
            F.sum(F.col(f"_n_{i}")).alias(f"_n_{i}")
            for i in range(len(occurs))
        ] if salt > 0 else [],
    )


def occurs_violations(
    df: DataFrame,
    checks: Sequence[S.Occurs],
    table: str,
    scope: str,
    salt: int = 0,
) -> DataFrame | None:
    """The bounds of :func:`occurs_program` over ``df``."""
    prog = occurs_program(checks, table, scope, salt)
    return None if prog is None else prog.bind(df)


def occurs_report(
    occurs: Sequence[S.Occurs],
    table: str,
    scope: str,
) -> tuple:
    """``(report, flatten)`` select lists: bounds check + violation rows over
    pre-aggregated per-scope counts (``scope`` + one ``_n_<i>`` column per
    constraint, in ``occurs`` order)."""
    structs = []
    for i, c in enumerate(occurs):
        n = F.col(f"_n_{i}")
        structs.append(
            F.when(
                ~_occurs_ok(c, n),
                F.struct(
                    F.lit(table).alias("path"),
                    F.lit(f"occurs:{c.name}").alias("constraint_id"),
                    n.cast("string").alias("offending_value"),
                    F.lit(_occurs_reason(c)).alias("reason"),
                ),
            )
        )
    arr = F.filter(F.array(*structs), lambda x: x.isNotNull())
    report = [
        F.col(scope).cast("string").alias("conv_id"),
        F.lit(None).cast("long").alias("turn_idx"),
        F.explode(arr).alias("_v"),
    ]
    flatten = [F.col(c) for c in VIOLATION_COLS[:2]] + [
        F.col(f"_v.{c}") for c in VIOLATION_COLS[2:]
    ]
    return report, flatten


def occurs_violations_from_counts(
    counts: DataFrame,
    occurs: Sequence[S.Occurs],
    table: str,
    scope: str,
) -> DataFrame:
    """:func:`occurs_report` over ``counts``.

    Split out so the incremental runner can MERGE per-batch partial counts
    (a sum — conditional counts are distributive) and reuse the exact same
    reporting: the cross-batch analogue of the reference's identity-counter
    merge applied to particle occurrence bounds (particles.py:109-126 +
    schemas.py:1386-1389)."""
    report, flatten = occurs_report(occurs, table, scope)
    return counts.select(*report).select(*flatten)
