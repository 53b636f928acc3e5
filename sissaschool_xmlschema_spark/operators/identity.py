"""Identity constraints as distributed aggregations and anti-joins.

Reference semantics (xmlschema/validators/identities.py):

* xs:unique — ``IdentityCounter.increase`` errors when a field tuple's count hits 2
  (identities.py:385-389); tuples containing a null field are skipped
  (elements.py:912).
* xs:key — every selected row must provide every field (missing field → error,
  identities.py:523-531), then unique semantics.
* xs:keyref — referencing tuples must exist in the referred key's set;
  ``KeyrefCounter.iter_errors`` reports each missing tuple once with its
  multiplicity (identities.py:403-418, anti-membership filter :410).

Spark lowering:

* unique/key → ``groupBy(scope, *fields).count()`` — Catalyst already performs
  map-side partial aggregation (the salted two-phase shape) and AQE splits skewed
  reduce partitions; because the grouping key includes the high-cardinality field
  tuple, hot ``conv_id`` values do not concentrate on one reducer.  ``validate``
  counts a tuple that is exactly the ordered pass's sort key in that pass
  instead (``operators/sequence.py``).
* key missing field → a compiled row check (``plans/compiler.py``) that
  ``validate`` evaluates inside stage A's bitmask.
* keyref → ``left_anti`` join, broadcasting the distinct key side when the spec says
  it is small; otherwise a shuffled hash join on the field tuple.

All violations land in the engine's one violation row
(``operators/sequence.VIOLATION_ROW``): each duplicate or missing tuple
selects its :func:`~sissaschool_xmlschema_spark.operators.sequence.violation_cols`,
and the key missing-field check is stage A's ``PassProgram``.

Each check is built as a program of prebuilt Columns (:class:`UniqueProgram`,
:class:`KeyrefProgram`): ``validate`` keeps them per compiled plan and binds
them to each input; the standalone functions build and bind them per call.
The incremental runner (``streaming/incremental.py``) writes each program's
``partial`` aggregate per micro-batch and calls its ``merge`` at the end.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.operators.sequence import (
    duplicate_id,
    duplicate_reason,
    row_local_program,
    tuple_repr,
    violation_cols,
)
from sissaschool_xmlschema_spark.plans.compiler import key_missing_field_check


def _violation_cols(scope: str | None, order: str | None, fields, path: str,
                    cid: str, reason: F.Column) -> list:
    """One violation row per group: the field tuple is the offending
    value, ``order`` the turn index when it is one of the fields."""
    return violation_cols(
        F.col(scope) if scope else None,
        F.col(order).try_cast("long") if order and order in fields else None,
        path, cid,
        F.concat_ws("|", *[F.col(f).cast("string") for f in fields]),
        reason,
    )


def _filters(df: DataFrame, filters) -> DataFrame:
    for f in filters:
        df = df.filter(f)
    return df


def _sum_by(partials: DataFrame, keys: list, names) -> DataFrame:
    return partials.groupBy(*keys).agg(*[F.sum(n).alias(n) for n in names])


@dataclass
class UniqueProgram:
    """One xs:unique / xs:key duplicate count as Columns built once
    (:func:`unique_program`)."""

    filters: list
    keys: list
    count: F.Column
    having: F.Column
    select: list

    def partial(self, df: DataFrame) -> DataFrame:
        """Per-tuple counts ``(scope?, *fields, _n)``, before the having."""
        return _filters(df, self.filters).groupBy(*self.keys).agg(self.count)

    def dups(self, df: DataFrame) -> DataFrame:
        return self.partial(df).filter(self.having)

    def merge(self, partials: DataFrame) -> DataFrame:
        """:meth:`dups` from the :meth:`partial` counts of parts of the
        input — the counter merge (schemas.py:1386-1389)."""
        return _sum_by(partials, self.keys, ["_n"]).filter(self.having)

    def bind(self, df: DataFrame) -> DataFrame:
        return self.dups(df).select(*self.select)


def unique_program(c: S.Unique, table: str,
                   order_col: str | None = None) -> UniqueProgram:
    """The counting core of xs:unique (IdentityCounter.increase errors when a
    tuple's count hits 2, identities.py:385-389) as a single groupBy —
    Catalyst's partial (map-side) aggregation gives the salted two-phase
    shape for free because the grouping key includes the high-cardinality
    field tuple — then one violation row per duplicated tuple."""
    filters = [F.expr(c.selector)] if c.selector else []
    # null-tuple skip rule (elements.py:912): any null field → tuple not counted
    filters += [F.col(f).isNotNull() for f in c.fields]
    keys = ([c.scope] if c.scope else []) + list(c.fields)
    return UniqueProgram(
        filters=filters,
        keys=[F.col(k) for k in keys],
        count=F.count(F.lit(1)).alias("_n"),
        having=F.col("_n") > 1,
        select=_violation_cols(
            c.scope, order_col, c.fields, table, duplicate_id(c),
            duplicate_reason(c, F.col("_n")),
        ),
    )


def unique_dups(df: DataFrame, c: S.Unique) -> DataFrame:
    """Raw duplicate tuples: ``(scope?, *fields, _n)`` with ``_n > 1``."""
    return unique_program(c, "").dups(df)


def unique_violations(df: DataFrame, c: S.Unique, table: str,
                      order_col: str | None = None) -> DataFrame:
    """Duplicate field tuples for xs:unique / xs:key (identities.py:385-389)."""
    return unique_program(c, table, order_col).bind(df)


def key_missing_field_violations(df: DataFrame, c: S.Key, table: str,
                                 order_col: str | None = None) -> DataFrame:
    """xs:key rows with a missing field (identities.py:523-531), on their own:
    :func:`row_local_program` over the one compiled row check that
    ``validate`` evaluates inside stage A."""
    return row_local_program(
        [key_missing_field_check(c, table)], order_col
    ).bind(df)


@dataclass
class KeyrefProgram:
    """One xs:keyref check as Columns built once (:func:`keyref_program`).

    ``fused`` is the same-table shape: one groupBy with a referencing and a
    key count per tuple.  Otherwise the referencing rows anti-join the
    distinct key tuples of ``keys_df`` (default: the same DataFrame)."""

    fused: bool
    filters: list
    keys: list
    aggs: list
    having: F.Column | None
    select: list
    key_filters: list = ()
    key_cols: list = ()
    broadcast: bool = False
    cond: F.Column | None = None

    def partial(self, df: DataFrame) -> DataFrame:
        """Referencing counts per tuple ``(scope?, *fields, _n)`` (fused:
        and the key count ``_n_key``), before the having or anti-join."""
        return _filters(df, self.filters).groupBy(*self.keys).agg(*self.aggs)

    def key_set(self, df: DataFrame) -> DataFrame:
        """The distinct key tuples ``(_k_0, ...)`` the anti-join matches."""
        return (
            _filters(df, self.key_filters).select(*self.key_cols)
            .dropDuplicates()
        )

    def misses(self, df: DataFrame,
               keys_df: DataFrame | None = None) -> DataFrame:
        if self.fused:
            return self.partial(df).filter(self.having).drop("_n_key")
        keys = self.key_set(keys_df if keys_df is not None else df)
        if self.broadcast:
            keys = F.broadcast(keys)
        return (
            _filters(df, self.filters).join(keys, self.cond, "left_anti")
            .groupBy(*self.keys).agg(*self.aggs)
        )

    def merge(self, partials: DataFrame,
              key_sets: DataFrame | None = None) -> DataFrame:
        """:meth:`misses` from the :meth:`partial` counts and, unless
        fused, the :meth:`key_set` tuples of parts of the input
        (schemas.py:1391-1405); the anti-join reads only group keys."""
        refs = _sum_by(partials, self.keys,
                       ["_n", "_n_key"] if self.fused else ["_n"])
        if self.fused:
            return refs.filter(self.having).drop("_n_key")
        return refs.join(key_sets.dropDuplicates(), self.cond, "left_anti")

    def bind(self, df: DataFrame,
             keys_df: DataFrame | None = None) -> DataFrame:
        return self.misses(df, keys_df).select(*self.select)


def keyref_program(c: S.Keyref, table: str,
                   cross: bool = False) -> KeyrefProgram:
    """Raw missing referents ``(scope?, *fields, _n)`` — each absent tuple
    once with its multiplicity, the counting core of
    ``KeyrefCounter.iter_errors`` (identities.py:403-418, anti-membership
    filter :410) — then one violation row per missing tuple.

    ``cross`` marks a keyref whose key lives on a *different* table (the
    cross-table analogue of refer_path scope propagation,
    identities.py:317-334), passed as ``keys_df`` when binding; by default
    keys come from the same DataFrame.

    ``c.refer_scope`` resolves cross-domain keyrefs (refer_path,
    identities.py:317-334): ``None`` makes the key side document-wide (a key
    defined on a BROADER domain than the keyref), a different column name is
    the scope-mapping join, and a scoped key under a ``scope=None`` keyref is
    the upward-propagation merge (per-scope key tables union at the ancestor
    — the distinct over refer_fields only).  The scope participates in the
    join only when BOTH sides have one.

    **Fused same-table path**: when the keyref and its referred key live on the
    same DataFrame over the same field tuple, the anti-join collapses into ONE
    groupBy with two conditional counts — a tuple is missing iff it has
    referencing rows and zero key rows.  One shuffle instead of three (distinct
    + join + count), ~4x faster at 10^6 rows and shuffle-count-stable at 10^12.
    """
    same_scope = c.refer_scope == S.SAME_SCOPE
    ref_scope = c.scope if same_scope else c.refer_scope
    group_keys = [
        F.col(k) for k in ([c.scope] if c.scope else []) + list(c.fields)
    ]
    # skip tuples with null fields — they are reported by Required/Key checks
    not_null = [F.col(f).isNotNull() for f in c.fields]
    reason = F.concat(
        F.lit("value ("),
        tuple_repr(c.fields),
        F.lit(f") not found for identity constraint '{c.name}' ("),
        F.col("_n").cast("string"),
        F.lit(" times)"),
    )
    select = _violation_cols(
        c.scope, None, c.fields, table, f"keyref:{c.name}", reason
    )
    if (
        not cross
        and tuple(c.fields) == tuple(c.refer_fields)
        and ref_scope == c.scope
    ):
        sel = F.expr(c.selector) if c.selector else F.lit(True)
        ref_sel = F.expr(c.refer_selector) if c.refer_selector else F.lit(True)
        return KeyrefProgram(
            fused=True,
            filters=not_null,
            keys=group_keys,
            aggs=[
                F.sum(F.when(sel, 1).otherwise(0)).alias("_n"),
                F.sum(F.when(ref_sel, 1).otherwise(0)).alias("_n_key"),
            ],
            having=(F.col("_n") > 0) & (F.col("_n_key") == 0),
            select=select,
        )

    # scope joins only when both domains have one; otherwise the broader
    # side's absence of a scope means fields-only matching (refer_path)
    join_scope = c.scope is not None and ref_scope is not None
    key_cols = ([ref_scope] if join_scope else []) + list(c.refer_fields)
    ref_cols = ([c.scope] if join_scope else []) + list(c.fields)
    cond = None
    for i, r in enumerate(ref_cols):
        e = F.col(r) == F.col(f"_k_{i}")
        cond = e if cond is None else cond & e
    return KeyrefProgram(
        fused=False,
        filters=([F.expr(c.selector)] if c.selector else []) + not_null,
        keys=group_keys,
        aggs=[F.count(F.lit(1)).alias("_n")],
        having=None,
        select=select,
        key_filters=[F.expr(c.refer_selector)] if c.refer_selector else [],
        key_cols=[F.col(k).alias(f"_k_{i}") for i, k in enumerate(key_cols)],
        broadcast=c.broadcast_keys,
        cond=cond,
    )


def keyref_misses(df: DataFrame, c: S.Keyref,
                  keys_df: DataFrame | None = None) -> DataFrame:
    """Raw missing referents of :func:`keyref_program`: ``(scope?, *fields,
    _n)``."""
    return keyref_program(c, "", keys_df is not None).misses(df, keys_df)


def keyref_violations(df: DataFrame, c: S.Keyref, table: str,
                      keys_df: DataFrame | None = None) -> DataFrame:
    """Anti-join referential check with multiplicity (identities.py:403-418)."""
    return keyref_program(c, table, keys_df is not None).bind(df, keys_df)
