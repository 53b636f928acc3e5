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

All violations land in the engine's canonical violation schema
``(conv_id, turn_idx, path, constraint_id, offending_value, reason)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.functions.facets import truncate_value
from sissaschool_xmlschema_spark.plans.compiler import key_missing_field_check


def _tuple_repr(fields) -> F.Column:
    """String form of the field tuple for the offending_value column."""
    return truncate_value(
        F.concat_ws("|", *[F.col(f).cast("string") for f in fields])
    )


def _violation_select(df: DataFrame, scope: str | None, order: str | None,
                      fields, path: str, cid: str, reason: F.Column) -> DataFrame:
    scope_col = (
        F.col(scope).cast("string") if scope else F.lit(None).cast("string")
    )
    order_col = (
        F.col(order).try_cast("long")
        if order and order in fields
        else F.lit(None).cast("long")
    )
    return df.select(
        scope_col.alias("conv_id"),
        order_col.alias("turn_idx"),
        F.lit(path).alias("path"),
        F.lit(cid).alias("constraint_id"),
        _tuple_repr(fields).alias("offending_value"),
        reason.alias("reason"),
    )


def unique_dups(df: DataFrame, c: S.Unique) -> DataFrame:
    """Raw duplicate tuples: ``(scope?, *fields, _n)`` with ``_n > 1``.

    The counting core of xs:unique (IdentityCounter.increase errors when a tuple's
    count hits 2, identities.py:385-389) as a single groupBy — Catalyst's partial
    (map-side) aggregation gives the salted two-phase shape for free because the
    grouping key includes the high-cardinality field tuple.
    """
    selected = df.filter(F.expr(c.selector)) if c.selector else df
    # null-tuple skip rule (elements.py:912): any null field → tuple not counted
    non_null = selected
    for f in c.fields:
        non_null = non_null.filter(F.col(f).isNotNull())
    keys = ([c.scope] if c.scope else []) + list(c.fields)
    return (
        non_null.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
    )


def duplicate_id(c: S.Unique) -> str:
    return f"{'key' if isinstance(c, S.Key) else 'unique'}:{c.name}"


def duplicate_reason(c: S.Unique, n: F.Column) -> F.Column:
    """Reason text of a duplicated field tuple seen ``n`` times."""
    return F.concat(
        F.lit("duplicated value ("),
        _tuple_repr(c.fields),
        F.lit(f") for identity constraint '{c.name}' ("),
        n.cast("string"),
        F.lit(" times)"),
    )


def unique_violations(df: DataFrame, c: S.Unique, table: str,
                      order_col: str | None = None) -> DataFrame:
    """Duplicate field tuples for xs:unique / xs:key (identities.py:385-389)."""
    dups = unique_dups(df, c)
    reason = duplicate_reason(c, F.col("_n"))
    return _violation_select(
        dups, c.scope, order_col, c.fields, table, duplicate_id(c), reason
    )


def key_missing_field_violations(df: DataFrame, c: S.Key, table: str,
                                 order_col: str | None = None) -> DataFrame:
    """xs:key rows with a missing field (identities.py:523-531), on their own;
    ``validate`` runs the same compiled row check inside stage A."""
    chk = key_missing_field_check(c, table)
    scope_col = (
        F.col(chk.scope).cast("string") if chk.scope
        else F.lit(None).cast("string")
    )
    order_expr = (
        F.col(order_col).try_cast("long") if order_col else F.lit(None).cast("long")
    )
    return df.filter(~chk.ok).select(
        scope_col.alias("conv_id"),
        order_expr.alias("turn_idx"),
        F.lit(chk.path).alias("path"),
        F.lit(chk.constraint_id).alias("constraint_id"),
        truncate_value(chk.value).alias("offending_value"),
        F.lit(chk.reason).alias("reason"),
    )


def keyref_misses(df: DataFrame, c: S.Keyref,
                  keys_df: DataFrame | None = None) -> DataFrame:
    """Raw missing referents: ``(scope?, *fields, _n)`` — each absent tuple once
    with its multiplicity, the counting core of ``KeyrefCounter.iter_errors``
    (identities.py:403-418, anti-membership filter :410).

    ``keys_df`` lets a keyref refer to a key on a *different* table (the
    cross-table analogue of refer_path scope propagation, identities.py:317-334);
    by default keys come from the same DataFrame.

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
    if (
        keys_df is None
        and tuple(c.fields) == tuple(c.refer_fields)
        and ref_scope == c.scope
    ):
        group_keys = ([c.scope] if c.scope else []) + list(c.fields)
        sel = F.expr(c.selector) if c.selector else F.lit(True)
        ref_sel = F.expr(c.refer_selector) if c.refer_selector else F.lit(True)
        non_null = df
        for f in c.fields:
            non_null = non_null.filter(F.col(f).isNotNull())
        return (
            non_null.groupBy(*group_keys)
            .agg(
                F.sum(F.when(sel, 1).otherwise(0)).alias("_n"),
                F.sum(F.when(ref_sel, 1).otherwise(0)).alias("_n_key"),
            )
            .filter((F.col("_n") > 0) & (F.col("_n_key") == 0))
            .drop("_n_key")
        )

    refs = df.filter(F.expr(c.selector)) if c.selector else df
    # skip tuples with null fields — they are reported by Required/Key checks
    for f in c.fields:
        refs = refs.filter(F.col(f).isNotNull())

    key_src = keys_df if keys_df is not None else df
    keys = (
        key_src.filter(F.expr(c.refer_selector)) if c.refer_selector else key_src
    )
    # scope joins only when both domains have one; otherwise the broader
    # side's absence of a scope means fields-only matching (refer_path)
    join_scope = c.scope is not None and ref_scope is not None
    key_cols = ([ref_scope] if join_scope else []) + list(c.refer_fields)
    keys = keys.select(
        *[F.col(k).alias(f"_k_{i}") for i, k in enumerate(key_cols)]
    ).dropDuplicates()
    if c.broadcast_keys:
        keys = F.broadcast(keys)

    ref_cols = ([c.scope] if join_scope else []) + list(c.fields)
    cond = None
    for i, r in enumerate(ref_cols):
        e = F.col(r) == F.col(f"_k_{i}")
        cond = e if cond is None else cond & e
    misses = refs.join(keys, cond, "left_anti")

    group_keys = ([c.scope] if c.scope else []) + list(c.fields)
    return misses.groupBy(*group_keys).agg(F.count(F.lit(1)).alias("_n"))


def keyref_violations(df: DataFrame, c: S.Keyref, table: str,
                      keys_df: DataFrame | None = None) -> DataFrame:
    """Anti-join referential check with multiplicity (identities.py:403-418)."""
    cid = f"keyref:{c.name}"
    counted = keyref_misses(df, c, keys_df)
    reason = F.concat(
        F.lit("value ("),
        _tuple_repr(c.fields),
        F.lit(f") not found for identity constraint '{c.name}' ("),
        F.col("_n").cast("string"),
        F.lit(" times)"),
    )
    return _violation_select(counted, c.scope, None, c.fields, table, cid, reason)
