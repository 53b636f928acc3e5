"""Validated decoding — the distributed ``schema.decode`` / ``to_dict``.

The reference decodes while validating: lexical forms become typed Python
values via each simple type's ``text_decode``, and failures become errors in
the same pass (xmlschema/documents.py:275-299 → schemas.py:1407-1437;
DecodeContext datatype options validators/validation.py:321-371).

Spark lowering: decoding a table = one typed-cast projection emitting BOTH the
clean typed DataFrame and a cast-failure side channel, in a single scan.
``try_cast`` semantics (NULL on failure) distinguish "was null" from "failed
to decode" by comparing against the source nullness — no exceptions, no row
path, and Catalyst prunes whichever output a consumer doesn't use.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class FieldDecode:
    """One column's decode rule: target Spark type + optional parse format.

    ``fmt`` applies to date/timestamp targets (to_timestamp/to_date pattern);
    other types use ANSI try_cast.  ``default`` mirrors XSD default values
    (missing → default, elements.py:748-770).

    Decode-side hooks (reference DecodeContext options,
    validation.py:95-104):

    * ``fill`` — the *filler* analogue: the value substituted where the
      lexical form FAILED to decode (the failure is still recorded in the
      failure channel — lax mode keeps going with a placeholder).
      Distinct from ``default``, which applies to ABSENT (null) values.
    * ``transform`` — the *value_hook* analogue: a SQL expression over the
      decoded column (referenced by its own name) applied as the last
      step, e.g. ``"round(value_col, 2)"`` or ``"upper(role)"``.  Runs in
      the same row-local projection — no extra pass.
    """

    name: str
    dtype: str
    fmt: Optional[str] = None
    default: Optional[object] = None
    fill: Optional[object] = None
    transform: Optional[str] = None


def _decode_col(fd: FieldDecode) -> Column:
    c = F.col(fd.name)
    if fd.fmt and fd.dtype in ("timestamp", "timestamp_ntz"):
        out = F.try_to_timestamp(c, F.lit(fd.fmt))
    elif fd.fmt and fd.dtype == "date":
        out = F.try_to_timestamp(c, F.lit(fd.fmt)).cast("date")
    else:
        out = c.try_cast(fd.dtype)
    if fd.fill is not None:
        # filler: failed decode (source present, cast null) → placeholder
        out = F.when(
            c.isNotNull() & out.isNull(), F.lit(fd.fill).cast(fd.dtype)
        ).otherwise(out)
    if fd.default is not None:
        # default: absent value → default (elements.py:748-770)
        out = F.coalesce(out, F.lit(fd.default).cast(fd.dtype))
    return out


def _raw_cast(fd: FieldDecode) -> Column:
    """The bare cast, before fill/default — what the failure channel keys on."""
    c = F.col(fd.name)
    if fd.fmt and fd.dtype in ("timestamp", "timestamp_ntz", "date"):
        return F.try_to_timestamp(c, F.lit(fd.fmt))
    return c.try_cast(fd.dtype)


def decode(
    df: DataFrame,
    fields: Sequence[FieldDecode],
    keep_columns: Sequence[str] = (),
    errors_as: str = "dataframe",
    element_hook=None,
) -> Tuple[DataFrame, DataFrame]:
    """Typed decode with a cast-failure side channel, one scan each.

    Returns ``(typed, failures)``:

    * ``typed`` — the input with each field replaced by its decoded value
      (NULL where undecodable unless ``fill`` is set, default applied),
      per-field ``transform`` hooks applied, then the optional
      ``element_hook`` (a ``DataFrame → DataFrame`` callable — the
      whole-element decode hook, validation.py:95-104) over the typed
      frame; plus ``keep_columns`` passed through untouched.
    * ``failures`` — rows ``(column, offending_value, n)``: each distinct
      undecodable lexical form with its multiplicity, the decode-error
      aggregation (reason strings mirror XMLSchemaDecodeError,
      exceptions.py:342-369).  ``fill`` does NOT hide a failure: the
      channel keys on the raw cast.
    """
    typed = df.select(
        *[F.col(k) for k in keep_columns],
        *[_decode_col(fd).alias(fd.name) for fd in fields],
    )
    transforms = {
        fd.name: F.expr(fd.transform) for fd in fields if fd.transform
    }
    if transforms:
        typed = typed.select(
            *[
                transforms.get(c, F.col(c)).alias(c)
                for c in typed.columns
            ]
        )
    if element_hook is not None:
        typed = element_hook(typed)

    fail_structs = []
    for fd in fields:
        src = F.col(fd.name)
        failed = src.isNotNull() & _raw_cast(fd).isNull()
        fail_structs.append(
            F.when(
                failed,
                F.struct(
                    F.lit(fd.name).alias("column"),
                    src.cast("string").alias("offending_value"),
                ),
            )
        )
    arr = F.filter(F.array(*fail_structs), lambda x: x.isNotNull())
    failures = (
        df.select(F.explode(arr).alias("_f"))
        .select("_f.column", "_f.offending_value")
        .groupBy("column", "offending_value")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return typed, failures


def union_decode_col(name: str, members: Sequence[str]) -> Column:
    """xs:union typed decode (simple_types.py:1177-1210): the value decodes
    into the value space of the FIRST member whose cast succeeds — an ordered
    coalesce of try_casts.  Because members have different Spark types, the
    result is a struct: ``member`` names the winning member (NULL = no member
    matched / input null) and one typed ``as_<type>`` slot per member, only
    the winner's slot non-null.
    """
    c = F.col(name)
    casts = [c.try_cast(m) for m in members]
    member = F.coalesce(
        *[
            F.when(casts[i].isNotNull(), F.lit(m))
            for i, m in enumerate(members)
        ],
        F.lit(None).cast("string"),
    )
    slots = []
    prior_failed = F.lit(True)
    for i, m in enumerate(members):
        slot = F.when(prior_failed & casts[i].isNotNull(), casts[i])
        slots.append(slot.alias(f"as_{m.replace(' ', '_')}"))
        prior_failed = prior_failed & casts[i].isNull()
    return F.struct(member.alias("member"), *slots)


def union_decode(
    df: DataFrame,
    name: str,
    members: Sequence[str],
    keep_columns: Sequence[str] = (),
) -> Tuple[DataFrame, DataFrame]:
    """Union decode with a failure side channel, mirroring :func:`decode`.

    ``typed`` replaces ``name`` with the union struct; ``failures`` lists the
    distinct lexical forms NO member accepted, with multiplicity (the
    reference raises a decode error after the member cascade is exhausted,
    simple_types.py:1201-1210).
    """
    typed = df.select(
        *[F.col(k) for k in keep_columns],
        union_decode_col(name, members).alias(name),
    )
    src = F.col(name)
    all_fail = src.isNotNull()
    for m in members:
        all_fail = all_fail & src.try_cast(m).isNull()
    failures = (
        df.filter(all_fail)
        .select(
            F.lit(name).alias("column"),
            src.cast("string").alias("offending_value"),
        )
        .groupBy("column", "offending_value")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return typed, failures
