"""Facet → Column-predicate lowering (reference: xmlschema/validators/facets.py).

Every facet lowers to a pure JVM-side Column predicate — no Python in the hot path.
The contract mirrors the reference's decode pipeline (``simple_types.py:488-503``):
facets judge *present* values only (a null passes every facet; required-ness is the
separate :class:`~sissaschool_xmlschema_spark.spec.Required` check, exactly like the
reference separates facet validation from attribute ``use='required'``
(attributes.py:663-664)).

Each lowering returns ``(ok, reason)``: ``ok`` is a BooleanType Column that is True
for passing rows, ``reason`` a human-readable message patterned on
``XMLSchemaValidationError.reason`` strings (exceptions.py:316-339).
"""

from __future__ import annotations

import math
import operator
import re
from decimal import Decimal
from typing import Tuple

from pyspark.sql import Column
from pyspark.sql import functions as F

from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.functions.xsd_regex import translate_and_anchor

_REASON_MAX = 200  # error message value truncation, exceptions.py:328-329


_LENGTHS = {
    S.Length: (operator.eq, "length has to be"),
    S.MinLength: (operator.ge, "value length cannot be lesser than"),
    S.MaxLength: (operator.le, "value length cannot be greater than"),
}
_BOUNDS = {
    S.MinInclusive: (operator.ge, "greater or equal than"),
    S.MinExclusive: (operator.gt, "greater than"),
    S.MaxInclusive: (operator.le, "lesser or equal than"),
    S.MaxExclusive: (operator.lt, "lesser than"),
}


def _null_ok(col: Column, pred: Column) -> Column:
    return col.isNull() | pred


def lower_facet(facet: S.Facet, column: str) -> Tuple[Column, str]:
    """Lower one facet on ``column`` to (ok_predicate, reason)."""
    return _lower(facet, F.col(column), column)


def _lower(facet: S.Facet, c: Column, column: str) -> Tuple[Column, str]:
    """Lower against an arbitrary Column expression — lets ListOf re-lower
    item facets inside a ``forall`` lambda (item facets are value-space only;
    row-context facets like Required/Assertion still reference ``column``)."""

    if isinstance(facet, S.Enumeration):
        vals = list(facet.values)
        if getattr(facet, "canon", None) == "hex":
            # hexBinary value space: case-insensitive digits (issue_222)
            pred = F.upper(c).isin(
                [v.upper() if isinstance(v, str) else v for v in vals]
            )
        else:
            pred = c.isin(vals)
        # NaN special case (facets.py:689-698): enum containing NaN admits NaN.
        if any(isinstance(v, float) and math.isnan(v) for v in vals):
            pred = pred | F.isnan(c)
        shown = vals[:5]  # enum repr caps at 5 items, facets.py:677-683
        return _null_ok(c, pred), f"value must be one of {shown!r}"

    if isinstance(facet, S.Pattern):
        # match-any across patterns (facets.py:798-804), full-match anchored.
        anchored = [translate_and_anchor(p) for p in facet.patterns]
        pred = c.rlike(anchored[0])
        for p in anchored[1:]:
            pred = pred | c.rlike(p)
        return _null_ok(c, pred), (
            f"pattern mismatch: value doesn't match any of {list(facet.patterns)!r}"
        )

    length = _LENGTHS.get(type(facet))
    if length is not None:
        op, says = length
        return _null_ok(c, op(F.length(c), facet.value)), (
            f"{says} {facet.value}"
        )

    bound = _BOUNDS.get(type(facet))
    if bound is not None:
        op, says = bound
        v = facet.value
        # a numeric bound compares in the numeric value space through a
        # tolerant cast: a non-numeric lexical is NULL and passes
        # (BuiltinLexical reports it) where Spark's implicit cast of the
        # string column would fail the whole job
        x, lit = (
            (c.try_cast("double"), float(v))
            if isinstance(v, (int, float)) else (c, v)
        )
        return _null_ok(c, op(x, F.lit(lit))), f"value has to be {says} {v}"

    if isinstance(facet, S.TotalDigits):
        # count_digits on the decimal string form (utils/decoding.py:32-52):
        # strip sign, point and leading/trailing zeros around them.
        digits = F.length(
            F.regexp_replace(
                F.regexp_replace(c.cast("string"), r"^[+-]?0*|\.?0*$", ""), r"\.", ""
            )
        )
        return _null_ok(c, digits <= facet.value), (
            f"the number of digits has to be lesser or equal than {facet.value}"
        )
    if isinstance(facet, S.FractionDigits):
        frac = F.length(F.regexp_extract(c.cast("string"), r"\.(\d*?)0*$", 1))
        return _null_ok(c, frac <= facet.value), (
            f"the number of fraction digits has to be lesser or equal than "
            f"{facet.value}"
        )

    if isinstance(facet, S.WhiteSpace):
        if facet.value == "preserve":
            return F.lit(True), "whiteSpace=preserve admits every value"
        if facet.value == "replace":
            # replace-mode validator rejects tab/newline/CR (facets.py:129-134)
            return _null_ok(c, ~c.rlike("[\\t\\n\\r]")), (
                "value contains tabs or newlines (whiteSpace=replace)"
            )
        if facet.value == "collapse":
            # collapse additionally rejects double/leading/trailing spaces
            # (facets.py:136-140)
            return _null_ok(c, ~c.rlike("^\\s|\\s{2}|[\\t\\n\\r]|\\s$")), (
                "value contains non-collapsed whitespace (whiteSpace=collapse)"
            )
        raise ValueError(f"bad whiteSpace value {facet.value!r}")

    if isinstance(facet, S.ExplicitTimezone):
        # judged on the raw lexical form (facets.py:551-593); Spark timestamps
        # are normalized, so the column must be the *string* form.
        tz = c.rlike("(Z|[+-]\\d{2}:\\d{2})$")
        if facet.value == "required":
            return _null_ok(c, tz), "time zone required for value"
        if facet.value == "prohibited":
            return _null_ok(c, ~tz), "time zone prohibited for value"
        return F.lit(True), "explicitTimezone=optional admits every value"

    if isinstance(facet, S.BooleanLexical):
        return _null_ok(c, c.isin("true", "1", "false", "0")), (
            "value is not a boolean lexical form {'true','1','false','0'}"
        )

    if isinstance(facet, S.Required):
        pred = c.isNotNull()
        if facet.when:
            pred = ~F.expr(facet.when) | pred
        return pred, (
            f"missing required value for {column!r}"
            + (f" where {facet.when}" if facet.when else "")
        )

    if isinstance(facet, S.Prohibited):
        pred = c.isNull()
        if facet.when:
            pred = ~F.expr(facet.when) | pred
        return pred, (
            f"prohibited value present for {column!r}"
            + (f" where {facet.when}" if facet.when else "")
        )

    if isinstance(facet, S.FixedValue):
        if getattr(facet, "canon", None) == "hex" \
                and isinstance(facet.value, str):
            # hexBinary value space: case-insensitive digits (issue_222)
            pred = F.upper(c) == F.lit(facet.value.upper())
        else:
            pred = c == F.lit(facet.value)
        return _null_ok(c, pred), (
            f"must have the fixed value {facet.value!r}"
        )

    if isinstance(facet, S.HexBinary):
        # even number of hex digits (hex_binary_validator, helpers.py:249-257)
        return _null_ok(c, c.rlike("^([0-9a-fA-F]{2})*$")), (
            "not a valid hexBinary lexical form"
        )

    if isinstance(facet, S.Base64Binary):
        # canonical base64: 4-char groups, tail padding (helpers.py:240-246);
        # unbase64 null-check would accept whitespace forms — be strict.
        b64 = "^(?:[A-Za-z0-9+/]{4})*(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$"
        return _null_ok(c, c.rlike(b64)), (
            "not a valid base64Binary lexical form"
        )

    if isinstance(facet, S.BinaryLength):
        # octet count from the lexical form (facets.py binary lengths):
        # hex = chars/2; base64 = 3*chars/4 minus '='-padding.  Malformed
        # lexicals are HexBinary/Base64Binary's violation, not this one —
        # the formula is only meaningful on well-formed values, so gate on
        # the same lexical shape.
        if facet.codec == "hex":
            well = c.rlike("^([0-9a-fA-F]{2})*$")
            n = F.length(c) / F.lit(2)
        else:
            b64 = ("^(?:[A-Za-z0-9+/]{4})*"
                   "(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$")
            well = c.rlike(b64)
            pad = (
                F.when(c.endswith("=="), F.lit(2))
                .when(c.endswith("="), F.lit(1))
                .otherwise(F.lit(0))
            )
            n = F.length(c) * 3 / F.lit(4) - pad
        pred = F.lit(True)
        if facet.lo is not None:
            pred = pred & (n >= facet.lo)
        if facet.hi is not None:
            pred = pred & (n <= facet.hi)
        return _null_ok(c, ~well | pred), (
            f"binary length (octets) must be in "
            f"[{facet.lo}, {facet.hi}]"
        )

    if isinstance(facet, S.IntRange):
        # builtin integer width (builtins.py:216-330): tolerant decimal
        # cast, then value-space bounds.  A non-castable value yields NULL
        # (no bit set) — BuiltinLexical owns the malformed-lexical report.
        # Bounds are decimal literals: a Python int beyond int64 (the
        # unsignedLong max) cannot cross Py4J as a plain literal.
        d = c.cast("string").try_cast("decimal(38,0)")
        pred = F.lit(True)
        if facet.lo is not None:
            pred = pred & (d >= F.lit(Decimal(facet.lo)))
        if facet.hi is not None:
            pred = pred & (d <= F.lit(Decimal(facet.hi)))
        return _null_ok(c, pred), (
            f"value out of the builtin integer range "
            f"[{facet.lo}, {facet.hi}]"
        )

    if isinstance(facet, S.Nillable):
        # xsi:nil triple condition (elements.py:711-728): (1) nil must be a
        # boolean lexical, (2) nil=true requires empty content, (3) nil=true
        # conflicts with a fixed-value constraint.  NOT _null_ok-wrapped on
        # the value: a null value is exactly what a true nil demands.
        nil = F.col(facet.nil_col)
        is_bool = nil.isin("true", "1", "false", "0")
        is_true = nil.isin("true", "1")
        if facet.fixed is not None:
            content_ok = ~is_true  # nil=true is an error under fixed
        else:
            content_ok = ~is_true | c.isNull()
        return nil.isNull() | (is_bool & content_ok), (
            f"xsi:nil violation on {facet.nil_col!r}: nil must be boolean; a "
            "true nil requires empty content"
            + (" and conflicts with the fixed value" if facet.fixed is not None
               else "")
        )

    if isinstance(facet, S.NotInSet):
        return _null_ok(c, ~c.isin(list(facet.values))), (
            f"value must not be one of {list(facet.values)[:5]!r} "
            "(wildcard denylist)"
        )

    if isinstance(facet, S.BuiltinLexical):
        # builtin lexical space (builtins.py:72-183, 365-500) — KeyError for
        # unknown names surfaces here, at compile time on the driver
        from sissaschool_xmlschema_spark.functions.lexical import (
            lexical_java_regex,
        )

        java = lexical_java_regex(facet.type_name)
        if java is None:
            # type imposes no regex-checkable lexical constraint (anyURI)
            return F.lit(True), f"xs:{facet.type_name} imposes no lexical check"
        # validate the STRING form; non-string columns (a typed int column
        # against xs:int) go through their canonical cast rendering
        return _null_ok(c, c.cast("string").rlike(java)), (
            f"not a valid xs:{facet.type_name} lexical form"
        )

    if isinstance(facet, S.XsdError):
        # xs:error rejects every present value (helpers.py:260-262)
        return c.isNull(), "the type xs:error admits no value"

    if isinstance(facet, S.ListOf):
        # separator is a literal string, not a regex — escape it so '.'/'|'
        # separators split literally (F.split interprets its arg as a regex)
        items = F.split(c, re.escape(facet.separator))
        pred = F.lit(True)
        if facet.min_items is not None:
            pred = pred & (F.size(items) >= facet.min_items)
        if facet.max_items is not None:
            pred = pred & (F.size(items) <= facet.max_items)
        def item_pred(item_facet):
            # closure factory, NOT a default-arg lambda: PySpark sniffs lambda
            # arity and would bind the array index to the second parameter
            return lambda it: _lower(item_facet, it, "__item__")[0]

        for item_facet in facet.item_facets:
            # re-lower the item facet against the lambda variable — stays
            # row-local (split + forall), no explode
            pred = pred & F.forall(items, item_pred(item_facet))
        return _null_ok(c, pred), (
            "not every list item satisfies the item type's facets"
        )

    if isinstance(facet, S.UnionOf):
        any_ok = F.lit(False)
        for alt in facet.alternatives:
            alt_ok = F.lit(True)
            for alt_facet in alt:
                # lower against the *current* expression c (not F.col(column))
                # so a UnionOf used as a ListOf item facet validates the item
                # lambda variable, not the whole column
                ok_a, _ = _lower(alt_facet, c, column)
                alt_ok = alt_ok & ok_a
            any_ok = any_ok | alt_ok
        return _null_ok(c, any_ok), (
            "value matches no member type of the union "
            "(first-member-that-validates, simple_types.py:1183-1195)"
        )

    if isinstance(facet, S.Assertion):
        # assertion facet with $value (facets.py:826-884): the standalone token
        # `$value` / `value` names the column being asserted on.  Word-boundary
        # substitution that skips single-quoted SQL string literals — a blind
        # substring replace would corrupt identifiers like `values`/`value_x`
        # and literals like 'value'.
        # backtick-quote the substituted identifier: XML names may carry
        # hyphens/dots (issue_208 'interface-category'), which the SQL
        # parser would otherwise read as arithmetic
        quoted = column if column.startswith("`") else f"`{column}`"
        expr = re.sub(
            r"'[^']*'|\$?\bvalue\b",
            lambda m: m.group(0) if m.group(0).startswith("'") else quoted,
            facet.expr,
        )
        return _null_ok(c, F.expr(expr)), f"assertion test {facet.expr!r} failed"

    raise ValueError(f"unknown facet {facet!r}")


def facet_id(facet: S.Facet, column: str) -> str:
    """Stable constraint id, e.g. 'facet:role:Enumeration'."""
    return f"facet:{column}:{type(facet).__name__}"


def truncate_value(col: Column) -> Column:
    """Cast offending value to string, truncated like exceptions.py:328-329."""
    return F.substring(col.cast("string"), 1, _REASON_MAX)
