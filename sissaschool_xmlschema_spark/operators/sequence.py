"""Content-model checks as window functions + occurrence aggregation.

The reference validates child order and occurrence bounds with the ``ModelVisitor``
automaton (xmlschema/validators/models.py:177-366) and ``ParticleMixin`` bounds
(particles.py:109-126), emitting ``XMLSchemaChildrenValidationError`` with the
failing child index (exceptions.py:438-533).

Flat-table lowering: document order is ``Window.partitionBy(scope).orderBy(order)``.
All window-based checks for a spec are fused into ONE window pass (one shuffle on the
scope key, one sort) — at 100 TB this matters: k checks cost one exchange, not k.
Occurs bounds and the duplicate count of a Unique/Key whose fields are the sort
key ride that same pass as running aggregates over the same window spec, and
stage A's row checks ride it as a violation array selected below the sort.
:func:`occurs_violations` is the standalone form of the Occurs bounds: ONE
groupBy with conditional sums (map-side partial aggregation makes this a single
shuffle of tiny partial rows), used where no ordered pass runs over the full input.

This module also owns the engine's one violation row (``VIOLATION_ROW``:
``VIOLATION_COLS``, ``VIOLATION_SCHEMA``, :func:`violation_cols`) and its one
emitter, :class:`PassProgram`: a pass that can emit several violations per
input row builds an array of :func:`violation_struct` s and explodes it.
Stage A (:func:`row_local_program`), the ordered pass, the Occurs bounds
over their per-scope counts and an XML row set's structural flags are all
``PassProgram`` s; a check with one violation per row selects
:func:`violation_cols` directly.

Every pass is built as a program of prebuilt Columns (:class:`PassProgram`,
:class:`OccursProgram`): ``validate`` keeps them per compiled plan and binds
them to each input; the standalone functions build and bind them per call.
The incremental runner (``streaming/incremental.py``) writes the
:class:`OccursProgram` counts per micro-batch and applies its ``merged``
bounds at the end of the stream.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.functions.facets import truncate_value

# the violation row every check emits, in column order (the reference's
# one XMLSchemaValidationError: path, reason, offending object,
# exceptions.py:316-339)
VIOLATION_ROW = (
    ("conv_id", "string"),
    ("turn_idx", "bigint"),
    ("path", "string"),
    ("constraint_id", "string"),
    ("offending_value", "string"),
    ("reason", "string"),
)
VIOLATION_COLS = tuple(name for name, _ in VIOLATION_ROW)
VIOLATION_SCHEMA = ", ".join(f"{n} {t}" for n, t in VIOLATION_ROW)


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


def violation_cols(conv_id, turn_idx, path, constraint_id, value,
                   reason) -> List[Column]:
    """The violation row's columns, in order, one per argument: a Column or
    a literal (None is a typed NULL); ``offending_value`` is truncated like
    exceptions.py:328-329."""
    cols = []
    for (name, dtype), v in zip(
        VIOLATION_ROW,
        (conv_id, turn_idx, path, constraint_id, value, reason),
    ):
        c = v if isinstance(v, Column) else F.lit(v)
        c = truncate_value(c) if name == "offending_value" else c.cast(dtype)
        cols.append(c.alias(name))
    return cols


def violation_struct(conv_id, turn_idx, path, constraint_id, value,
                     reason) -> Column:
    """One violation as the element type every pass explodes: the
    :func:`violation_cols` as one struct, so ``_v.*`` flattens it."""
    return F.struct(*violation_cols(
        conv_id, turn_idx, path, constraint_id, value, reason
    ))


def tuple_repr(fields) -> Column:
    """String form of a field tuple, as identity violations report it."""
    return truncate_value(
        F.concat_ws("|", *[F.col(f).cast("string") for f in fields])
    )


def duplicate_id(c: S.Unique) -> str:
    return f"{'key' if isinstance(c, S.Key) else 'unique'}:{c.name}"


def duplicate_reason(c: S.Unique, n: Column) -> Column:
    """Reason text of a duplicated field tuple seen ``n`` times."""
    return F.concat(
        F.lit("duplicated value ("),
        tuple_repr(c.fields),
        F.lit(f") for identity constraint '{c.name}' ("),
        n.cast("string"),
        F.lit(" times)"),
    )


@dataclass
class PassProgram:
    """One pass that emits violations, as Columns built once — stage A
    (:func:`row_local_program`), the ordered pass (:func:`window_program`),
    the Occurs bounds over per-scope counts (:class:`OccursProgram`), an
    XML row set's structural flags: each of ``selects`` in turn is selected
    (the violation bitmask, the window helpers), rows where ``flag`` holds
    are kept, and their ``violations`` — an array of
    :func:`violation_struct` s, NULL where a check passes — are exploded
    into one row each, the NULLs dropped after the explode.  No
    higher-order ``filter(array, lambda)`` compacts the array: a lambda is
    interpreted (CodegenFallback) and would take the projection out of
    whole-stage codegen."""

    selects: List[List[Column]]
    flag: Column
    violations: Column

    def __post_init__(self) -> None:
        self.explode = F.explode(self.violations).alias("_v")
        self.emitted = F.col("_v").isNotNull()
        self.flatten = F.col("_v.*")

    def bind(self, df: DataFrame) -> DataFrame:
        for cols in self.selects:
            df = df.select(*cols)
        return (
            df.filter(self.flag).select(self.explode)
            .filter(self.emitted).select(self.flatten)
        )


def row_local_program(checks: Sequence[object],
                      order: Optional[str]) -> Optional[PassProgram]:
    """Stage A: the row checks (``plans/compiler.RowCheck``) in one
    projection (scan-fused, codegen'd); ``None`` without checks.

    Two-phase shape for allocation economy: phase 1 evaluates every predicate
    into one LONG bitmask — pure arithmetic, zero object allocation for the
    (overwhelmingly common) clean rows, so 32 scan threads don't fight the GC.
    Phase 2 builds the violation structs only for rows whose mask ≠ 0 (the
    explode's input array exists only on that ~1% subset).  A naive
    struct-array-per-row projection measured 2.5x SLOWER at high thread counts
    purely from allocation pressure.  ``turn_idx`` is ``order`` (NULL when
    None).
    """
    if not checks:
        return None

    # one 63-bit mask column per chunk of checks (a LONG holds 63 usable bits;
    # wider specs just get a second mask in the same projection)
    chunks = [checks[i: i + 63] for i in range(0, len(checks), 63)]
    masks = [F.col("*")]
    for ci, chunk in enumerate(chunks):
        mask = F.lit(0).cast("long")
        for i, chk in enumerate(chunk):
            mask = mask + F.when(
                ~chk.ok, F.shiftleft(F.lit(1).cast("long"), i)
            ).otherwise(F.lit(0).cast("long"))
        masks.append(mask.alias(f"_m{ci}"))

    any_flag = F.col("_m0") > 0
    for ci in range(1, len(chunks)):
        any_flag = any_flag | (F.col(f"_m{ci}") > 0)

    tix = None if order is None else F.col(order).try_cast("long")
    structs = [
        F.when(
            F.shiftright(F.col(f"_m{ci}"), i).bitwiseAND(F.lit(1)) == 1,
            violation_struct(
                None if chk.scope is None else F.col(chk.scope), tix,
                chk.path, chk.constraint_id, chk.value, chk.reason,
            ),
        )
        for ci, chunk in enumerate(chunks)
        for i, chk in enumerate(chunk)
    ]
    return PassProgram(
        selects=[masks], flag=any_flag, violations=F.array(*structs)
    )


def window_program(
    checks: Sequence[object],
    table: str,
    scope: str,
    order: str,
    tiebreakers: Sequence[str] = (),
    stage_a: Optional[PassProgram] = None,
) -> PassProgram | None:
    """All Contiguity / Monotone / FirstTurn / LastTurn / Transition checks,
    Occurs bounds and window-riding Unique/Key duplicates (see
    :func:`rides_window`) as the Columns of a single window pass; ``None``
    without checks.

    Window expressions cannot appear inside the generator's
    ``explode(array(...))`` projection, so the pass is two selects over the
    SAME window partitioning: the first materializes the helper columns (one
    exchange + sort), the second is a plain projection Catalyst fuses into
    it.  The explode runs only on rows where some check fails: ``flag`` is
    the OR of every check's ``~ok``, TRUE exactly where some
    ``when(~ok, struct)`` emits (both are NULL-safe the same way).

    ``stage_a`` (:func:`row_local_program`) rides the same pass:
    its bitmask and its violation array for flagged rows are selected below
    the window, so the sort (and exchange) carries that mostly-NULL ``_rv``
    column instead of the columns stage A reads, and the explode emits it
    with the window's own violations.  Only for a window over the full
    input: every row must reach it.

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

    structs, fails = [], []

    def emit(ok, cid: str, value, reason,
             tix=F.col(order).try_cast("long")) -> None:
        fail = ~ok
        fails.append(fail)
        structs.append(
            F.when(
                fail,
                violation_struct(F.col(scope), tix, table, cid, value,
                                 reason),
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
                tix=None,
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

    arr = F.array(*structs)
    flag = reduce(lambda a, b: a | b, fails)
    if stage_a is None:
        return PassProgram(selects=[helpers], flag=flag, violations=arr)
    carried = F.col("_rv")
    return PassProgram(
        selects=[
            *stage_a.selects,
            [F.col("*"),
             F.when(stage_a.flag, stage_a.violations).alias("_rv")],
            helpers,
        ],
        flag=carried.isNotNull() | flag,
        violations=F.concat(F.coalesce(carried, F.array()), arr),
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
    (:func:`occurs_program`): per-scope conditional counts (salted partials,
    summed by ``merge``, first when ``salt_key`` is set), then the bounds
    over them, the :class:`PassProgram` ``report``."""

    scope: Column
    counts: List[Column]
    report: PassProgram
    salt_key: Optional[Column]
    merge: List[Column]

    def bind(self, df: DataFrame) -> DataFrame:
        if self.salt_key is not None:
            return self.merged(
                df.groupBy(self.salt_key, self.scope).agg(*self.counts)
            )
        return self.reported(df.groupBy(self.scope).agg(*self.counts))

    def merged(self, partials: DataFrame) -> DataFrame:
        """The bounds over summed per-scope ``_n_<i>`` partial counts."""
        return self.reported(partials.groupBy(self.scope).agg(*self.merge))

    def reported(self, counts: DataFrame) -> DataFrame:
        """Violation rows of per-scope counts."""
        return self.report.bind(counts)


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
    fails = [~_occurs_ok(c, F.col(f"_n_{i}")) for i, c in enumerate(occurs)]
    return OccursProgram(
        scope=F.col(scope),
        counts=[
            F.sum(F.when(F.expr(c.where), 1).otherwise(0)).alias(f"_n_{i}")
            for i, c in enumerate(occurs)
        ],
        report=PassProgram(
            selects=[],
            flag=reduce(lambda a, b: a | b, fails),
            violations=F.array(*[
                F.when(fail, violation_struct(
                    F.col(scope), None, table, f"occurs:{c.name}",
                    F.col(f"_n_{i}"), _occurs_reason(c),
                ))
                for i, (c, fail) in enumerate(zip(occurs, fails))
            ]),
        ),
        salt_key=F.pmod(
            F.xxhash64(F.col(scope), F.monotonically_increasing_id()),
            F.lit(salt),
        ).alias("_salt") if salt > 0 else None,
        merge=[
            F.sum(F.col(f"_n_{i}")).alias(f"_n_{i}")
            for i in range(len(occurs))
        ],
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
