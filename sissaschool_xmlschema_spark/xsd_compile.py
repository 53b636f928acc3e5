"""XSD schema-document front door: compile real ``.xsd`` files to TableSpecs.

The reference's entry point is ``XMLSchema('schema.xsd')``
(``xmlschema/validators/schemas.py:149``; document loading
``xmlschema/loaders.py:84-167``), which parses the XSD DOM into a component
graph.  This module is the engine's twin for the FLAT-TABLE SUBSET: a
driver-side, pure-Python compiler from the XSD document to
:class:`~sissaschool_xmlschema_spark.spec.TableSpec` dataclasses — executors
never see any of this; they only see the Column plans the spec compiles to.

Supported subset (everything a tabular corpus can express):

* global/inline ``xs:simpleType`` with restriction chains — facets
  enumeration, pattern (ORed within a step, ANDed across derivation steps,
  facets.py:798-804), length/minLength/maxLength, min/max In/Exclusive,
  totalDigits/fractionDigits, whiteSpace, explicitTimezone, assertion
  (XSD 1.1 ``$value``), plus ``xs:list`` / ``xs:union``;
* every builtin lexical space in :mod:`.functions.lexical` (duration,
  gregorian fragments, dateTimeStamp, names, numerics — builtins.py:72-500),
  with integer-width value ranges emitted as cast assertions;
* ``xs:complexType`` content flattened to columns: attributes (use=
  required/prohibited, fixed — attributes.py:663-709), simple-typed child
  elements (minOccurs → Required), nested single-occurrence complex children
  flattened with ``parent_child`` underscore paths;
* repeated complex elements become TABLES (one TableSpec per "row element"),
  the tabular analogue of ``maxOccurs='unbounded'`` children;
* identity constraints ``xs:unique/key/keyref`` (identities.py:252-337):
  selector/field XPaths resolved against the row element and flattened to
  column names; a keyref whose key lives on a different row element becomes
  an :class:`ExternalKeyref` (cross-table broadcast/hash join form);
* ``xs:ID`` attributes get a per-document Unique (the xs:ID uniqueness rule);
* ``xs:any`` / ``xs:anyAttribute`` / XSD 1.1 ``xs:openContent``
  (wildcards.py:33-164; groups.py:425-431) compile to :class:`Wildcard`
  markers — namespace set + processContents — that gate the instance
  reader's undeclared-content flags;
* ``mixed="true"`` (complex_types.py:35) marks its path so char data among
  element children is admitted;
* repeated children BELOW a row element (simple or complex, any depth ≤ 6)
  become NESTED tables scoped per parent row — the composite
  ``doc#parentIndex`` lands in the ordinary scope column so
  identities/occurs machinery applies unchanged;
* ``xsi:type`` dynamic type substitution (elements.py:657-682): every
  global complexType deriving from a row element's declared type compiles
  to an overlay column-set the instance reader validates against.

Deliberately out of scope (recorded in ``CompiledXsd.restrictions``, never
silently dropped): substitution groups in the document structure (the
engine models them as enumerations — operators/substitution.py), and
identity constraints selecting a nested table from outside its parent
chain.
"""

from __future__ import annotations

import os
import re
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field
from typing import Optional, Sequence, Union

from sissaschool_xmlschema_spark import spec as S
from sissaschool_xmlschema_spark.functions.lexical import (
    INTEGER_RANGES,
    XSD_LEXICAL,
)
from sissaschool_xmlschema_spark.xml_text import read_xml_text

XSD_NS = "http://www.w3.org/2001/XMLSchema"


def _xs(tag: str) -> str:
    return f"{{{XSD_NS}}}{tag}"


class XsdCompileError(ValueError):
    """Raised on the driver for XSD constructs outside the flat-table subset
    that cannot be safely skipped (e.g. an unresolvable type reference)."""


@dataclass(frozen=True)
class Wildcard:
    """One compiled ``xs:any`` / ``xs:anyAttribute`` / ``xs:openContent``
    marker (reference wildcards.py:33-164): open content admitted at
    ``path`` inside a row element.  ``ns`` is the raw namespace set
    (``##any`` / ``##other`` / a space-separated list possibly containing
    ``##targetNamespace`` / ``##local``); ``process`` is the
    processContents mode (strict/lax/skip, wildcards.py:95-99)."""

    path: tuple  # steps relative to the row element ('' level = ())
    kind: str  # 'element' | 'attribute'
    ns: str
    process: str


@dataclass(frozen=True)
class NestedTable:
    """A repeated element BELOW a row element, modelled as its own table
    (the reference validates these as ordinary subtrees; the flat engine
    gives each nesting level its own table scoped per parent row — the
    composite ``doc#parentIndex`` value lands in the ordinary scope column,
    so identities/occurs machinery applies unchanged)."""

    parent_table: str  # the enclosing row element (or nested table)
    rel_path: tuple  # element steps from the parent row to this element
    # only parent rows carrying this xsi:type contribute (None = all rows)
    xsi_type: Optional[str] = None


@dataclass(frozen=True)
class ExternalKeyref:
    """A keyref whose referenced key lives on a DIFFERENT row element — the
    cross-table form executed via ``identity.keyref_violations(..., keys_df=
    <key_table>)`` (broadcast/hash equi-join, identities.py:317-334)."""

    keyref: S.Keyref
    table: str  # referencing row element
    key_table: str  # row element holding the referred key
    key_selector_cols: tuple  # flattened key field columns on key_table
    # the referred key was declared ON a single element (selector '.'):
    # the reference resolves it with last-sibling-override upward
    # propagation (identities.py; collection3bis) — only the LAST key
    # element per document scope is visible to the keyref
    last_wins: bool = False


@dataclass
class CompiledXsd:
    """Result of :func:`compile_xsd`: one TableSpec per row element, plus
    cross-table keyrefs and the list of constructs outside the subset."""

    specs: dict
    external_keyrefs: tuple
    restrictions: tuple
    # row element -> its enclosing global element (the per-document
    # container, e.g. car -> cars): what an XML-instance reader uses as the
    # structural rowTag (sources/xml_instance.py)
    parent_of: dict = field(default_factory=dict)
    # table -> {column -> element-tree path} ('@' marks the attribute step)
    column_paths: dict = field(default_factory=dict)
    # table -> set of schema-declared subtree paths OUTSIDE the compiled
    # subset (mirrors `restrictions`, machine-usable for instance readers)
    skipped_paths: dict = field(default_factory=dict)
    # row elements that are repeated SIMPLE children of a global element
    # (the menù example's shape): one row per occurrence, single column
    # 'value' holding the element text
    simple_rows: frozenset = frozenset()
    # document-singleton tables: one row per document holding a global
    # element's own non-repeated fields (the element IS the row)
    doc_rows: frozenset = frozenset()
    # table -> tuple of Wildcard markers (xs:any / xs:anyAttribute /
    # xs:openContent): open content the instance reader must NOT flag as
    # undeclared (skip/lax suppress; strict still requires a declaration)
    wildcards: dict = field(default_factory=dict)
    # table -> frozenset of path tuples whose complexType is mixed="true"
    # (char data admitted; () = the row element's own level)
    mixed_paths: dict = field(default_factory=dict)
    # global element names whose type is mixed (container-level char data)
    mixed_containers: frozenset = frozenset()
    # schema targetNamespace ('' = no namespace): the ##other/##target
    # reference point for wildcard namespace sets
    target_namespace: str = ""
    # global xs:element declaration names: what processContents="strict"
    # wildcard content resolves against
    global_elements: frozenset = frozenset()
    # document-value tables whose simple type is whiteSpace=preserve: the
    # instance reader keeps surrounding space for these
    preserve_space: frozenset = frozenset()
    # table -> NestedTable for repeated elements below a row element
    nested_tables: dict = field(default_factory=dict)
    # row element -> {xsi:type local name -> overlay view dict
    # (spec, column_paths, skipped, wildcards, mixed)}: dynamic type
    # substitution on instances (reference elements.py:657-682)
    xsi_overlays: dict = field(default_factory=dict)
    # row element -> its declared type's local name (xsi:type naming the
    # declared type is a no-op, anything else unknown is a violation)
    declared_types: dict = field(default_factory=dict)
    # head row element -> {substitution member name -> overlay view dict}:
    # a member element standing in for its head in the document
    # (reference elements.py:611-621); member rows are validated against
    # the member's own type and merged into the head's table for
    # occurrence/identity checks
    subst_overlays: dict = field(default_factory=dict)
    # row element -> ordered tuple of conditional-type arms (XSD 1.1
    # xs:alternative, reference elements.py:1450-1476): dicts with 'attr'/
    # 'value' (the @attr='v' test subset; attr None = the unconditional
    # default arm) + the overlay view dict.  First matching arm wins;
    # non-matching rows fall back to the declared type.
    alt_overlays: dict = field(default_factory=dict)
    # table -> position of its element particle in its container's content
    # model (row elements among their global element's children, nested
    # tables in discovery order): the instance reader reports the FIRST
    # content-model error of a container in this order
    particle_rank: dict = field(default_factory=dict)
    # compiled plans and other Columns the instance reader builds on first
    # use and binds to every document (sources/xml_instance.py), each with
    # the SparkContext it was built under
    programs: dict = field(default_factory=dict, repr=False, compare=False)

    def spec(self, name: Optional[str] = None) -> S.TableSpec:
        if name is None:
            if len(self.specs) != 1:
                raise XsdCompileError(
                    f"schema defines {sorted(self.specs)} row elements; "
                    "pass the table name"
                )
            return next(iter(self.specs.values()))
        return self.specs[name]


# ---------------------------------------------------------------------------
# internal model
# ---------------------------------------------------------------------------


@dataclass
class _Column:
    name: str
    facets: list = field(default_factory=list)
    # element-tree location of this column relative to the row element:
    # element steps by local name, the final attribute step marked '@name'
    # (e.g. author_dn <- ('author', '@dn')).  The instance reader
    # (sources/xml_instance.py) uses this to extract nested values.
    path: tuple = ()


@dataclass
class _Ctx:
    """One parsed schema document."""

    root: ET.Element
    simple_types: dict = field(default_factory=dict)
    complex_types: dict = field(default_factory=dict)
    elements: dict = field(default_factory=dict)
    groups: dict = field(default_factory=dict)  # named xs:group
    attr_groups: dict = field(default_factory=dict)  # named xs:attributeGroup
    restrictions: list = field(default_factory=list)
    lexical: bool = True
    # table -> set of path tuples whose subtrees are OUTSIDE the compiled
    # subset (repeated simple children, nested repeated groups): recorded so
    # the instance reader knows they are schema-declared (not "undeclared")
    skipped: dict = field(default_factory=dict)
    # table -> list of RowAssertions compiled from xs:choice groups
    # (mutual-exclusion of branches)
    assertions: dict = field(default_factory=dict)
    # table -> list of Wildcard markers (xs:any/xs:anyAttribute/openContent)
    wildcards: dict = field(default_factory=dict)
    # table -> set of path tuples with mixed="true" content
    mixed: dict = field(default_factory=dict)
    # repeated children BELOW a row element, queued for their own nested
    # tables: dicts (parent, name, path, kind, payload, eff_min, eff_max)
    pending_nested: list = field(default_factory=list)
    # complexType nodes currently being flattened (recursion guard):
    # a recursive element reference (import-case4 rootA<->rootB,
    # issue_437 NodeList->...->NodeList) is CUT at re-entry — the
    # recursive subtree is recorded in skipped (schema-declared, not
    # deep-validated) and in restrictions, never looped on
    flatten_stack: list = field(default_factory=list)
    # number of cycle cuts taken so far: a global element whose flatten
    # yields NO columns but took a cut still becomes a (zero-column)
    # document table — its content is schema-declared, just recursive
    cycle_cuts: int = 0


def _local(qname: Optional[str]) -> str:
    """Strip any namespace prefix from a QName reference ('xs:string' →
    'string', 'p:name' → 'name').  The compiler treats all non-XSD types as
    belonging to the schema's own target namespace — the single-namespace
    flat-table case."""
    if qname is None:
        return ""
    return qname.split(":", 1)[-1]


def _is_builtin(qname: str, ctx: _Ctx) -> bool:
    local = _local(qname)
    # a user type shadows nothing: builtins live in the XSD namespace, user
    # types in the target namespace; prefixes differ but locals may collide —
    # prefer the user definition when one exists (reference resolution order)
    if local in ctx.simple_types or local in ctx.complex_types:
        return False
    return local in XSD_LEXICAL or local in (
        "string", "boolean", "hexBinary", "base64Binary", "anySimpleType",
        "anyAtomicType", "anyType", "normalizedString", "token",
    )


def builtin_facets(local: str, lexical: bool = True) -> tuple:
    """Facet set for one builtin type by local name (builtins.py:72-500).

    ``lexical=False`` suppresses the regex lexical checks — the right setting
    for tables whose columns are already decoded/typed (a parquet int column
    needs no integer-lexical rlike), keeping value-space checks only.
    """
    facets: list = []
    if local in ("string", "anySimpleType", "anyAtomicType", "anyType",
                 "anyURI"):
        return ()
    if local == "boolean":
        return (S.BooleanLexical(),)
    if local == "hexBinary":
        return (S.HexBinary(),)
    if local == "base64Binary":
        return (S.Base64Binary(),)
    if local == "normalizedString":
        return (S.WhiteSpace("replace"),)
    if local == "token":
        return (S.WhiteSpace("collapse"),)
    if local not in XSD_LEXICAL:
        raise XsdCompileError(f"unknown builtin type xs:{local}")
    if lexical and XSD_LEXICAL[local] is not None:
        facets.append(S.BuiltinLexical(local))
    if local in INTEGER_RANGES:
        lo, hi = INTEGER_RANGES[local]
        # value-space width check (builtins.py:216-330): Column-op facet —
        # works on string AND typed columns, hyphenated names, list items
        facets.append(S.IntRange(lo, hi))
    return tuple(facets)


def _parse_bound(text: str):
    """Facet value → int/float when numeric, else the raw string (dates,
    durations compare lexicographically in their canonical forms)."""
    try:
        return int(text)
    except ValueError:
        pass
    try:
        return float(text)
    except ValueError:
        return text


_VALUE_FACETS = {
    "length": S.Length,
    "minLength": S.MinLength,
    "maxLength": S.MaxLength,
    "totalDigits": S.TotalDigits,
    "fractionDigits": S.FractionDigits,
}
_BOUND_FACETS = {
    "minInclusive": S.MinInclusive,
    "minExclusive": S.MinExclusive,
    "maxInclusive": S.MaxInclusive,
    "maxExclusive": S.MaxExclusive,
}


def _compile_simple(node_or_ref, ctx: _Ctx, where: str = "") -> tuple:
    """Compile a simpleType (by reference name or inline element) to facets,
    following restriction chains (base facets first — the reference validates
    base-to-derived, simple_types.py:488-503)."""
    if isinstance(node_or_ref, str):
        local = _local(node_or_ref)
        if local in ctx.simple_types:
            return _compile_simple(ctx.simple_types[local], ctx, where)
        if _is_builtin(node_or_ref, ctx):
            return builtin_facets(local, ctx.lexical)
        raise XsdCompileError(f"unresolved simpleType reference {node_or_ref!r}")

    st = node_or_ref
    restriction = st.find(_xs("restriction"))
    if restriction is not None:
        facets: list = []
        base = restriction.get("base")
        inline_base = restriction.find(_xs("simpleType"))
        if base:
            facets.extend(_compile_simple(base, ctx, where))
        elif inline_base is not None:
            facets.extend(_compile_simple(inline_base, ctx, where))
        patterns = []
        enums = []
        for child in restriction:
            tag = child.tag.split("}")[-1]
            if tag == "pattern":
                patterns.append(child.get("value"))
            elif tag == "enumeration":
                enums.append(child.get("value"))
            elif tag in _VALUE_FACETS:
                facets.append(_VALUE_FACETS[tag](int(child.get("value"))))
            elif tag in _BOUND_FACETS:
                facets.append(_BOUND_FACETS[tag](_parse_bound(child.get("value"))))
            elif tag == "whiteSpace":
                facets.append(S.WhiteSpace(child.get("value")))
            elif tag == "explicitTimezone":
                facets.append(S.ExplicitTimezone(child.get("value")))
            elif tag == "assertion":
                facets.append(S.Assertion(child.get("test")))
            elif tag in ("simpleType", "annotation"):
                pass
            else:
                ctx.restrictions.append(
                    f"{where}: unsupported restriction facet xs:{tag} (skipped)"
                )
        if patterns:
            # one restriction step's patterns OR together; the step itself
            # ANDs with the base chain (one Pattern facet per step)
            facets.append(S.Pattern(tuple(patterns)))
        if enums:
            # hexBinary base: membership compares in the VALUE space
            # (case-insensitive hex digits, issue_222)
            canon = (
                "hex" if any(isinstance(f, S.HexBinary) for f in facets)
                else None
            )
            facets.append(S.Enumeration(tuple(enums), canon=canon))
        lof = next((f for f in facets if isinstance(f, S.ListOf)), None)
        if lof is not None:
            # length facets restricting a LIST type bound the ITEM COUNT,
            # not the character count (facets.py XsdGroup list handling;
            # issue_311 'point' = 2-item decimal list)
            lo, hi = lof.min_items, lof.max_items
            rest: list = []
            for f in facets:
                if f is lof:
                    continue
                if isinstance(f, S.Length):
                    lo = hi = f.value
                elif isinstance(f, S.MinLength):
                    lo = f.value
                elif isinstance(f, S.MaxLength):
                    hi = f.value
                else:
                    rest.append(f)
            rest.append(S.ListOf(
                item_facets=lof.item_facets, separator=lof.separator,
                min_items=lo, max_items=hi,
            ))
            facets = rest
        codec = (
            "hex" if any(isinstance(f, S.HexBinary) for f in facets)
            else "base64"
            if any(isinstance(f, S.Base64Binary) for f in facets)
            else None
        )
        if codec is not None:
            # length facets on BINARY types count decoded octets, not
            # lexical characters (decoder hexCode length=4 admits
            # 'AABBCCDD'); runs after the list fold, so list-item
            # counting wins when both apply
            lo = hi = None
            rest2: list = []
            for f in facets:
                if isinstance(f, S.Length):
                    lo = hi = f.value
                elif isinstance(f, S.MinLength):
                    lo = f.value
                elif isinstance(f, S.MaxLength):
                    hi = f.value
                else:
                    rest2.append(f)
            if lo is not None or hi is not None:
                rest2.append(S.BinaryLength(lo, hi, codec=codec))
            facets = rest2
        return tuple(facets)

    lst = st.find(_xs("list"))
    if lst is not None:
        item_ref = lst.get("itemType")
        inline = lst.find(_xs("simpleType"))
        items = (
            _compile_simple(item_ref, ctx, where)
            if item_ref
            else _compile_simple(inline, ctx, where)
        )
        # keep only value-space item facets (row-context facets like Required
        # are meaningless per list item)
        items = tuple(f for f in items if not isinstance(f, (S.Required,
                                                             S.Prohibited)))
        return (S.ListOf(item_facets=items),)

    union = st.find(_xs("union"))
    if union is not None:
        alts = []
        member_types = (union.get("memberTypes") or "").split()
        for m in member_types:
            alts.append(_compile_simple(m, ctx, where))
        for inline in union.findall(_xs("simpleType")):
            alts.append(_compile_simple(inline, ctx, where))
        return (S.UnionOf(alternatives=tuple(alts)),)

    raise XsdCompileError(f"{where}: simpleType without restriction/list/union")


# ---------------------------------------------------------------------------
# complexType flattening
# ---------------------------------------------------------------------------


def _resolve_element(el: ET.Element, ctx: _Ctx) -> ET.Element:
    ref = el.get("ref")
    if ref:
        local = _local(ref)
        if local not in ctx.elements:
            raise XsdCompileError(f"unresolved element ref {ref!r}")
        return ctx.elements[local]
    return el


def _element_type(el: ET.Element, ctx: _Ctx):
    """→ ('simple', facets) | ('complex', ctype_element) for one element."""
    t = el.get("type")
    if t:
        local = _local(t)
        if local in ctx.complex_types:
            return "complex", ctx.complex_types[local]
        return "simple", _compile_simple(t, ctx, el.get("name") or "")
    inline_ct = el.find(_xs("complexType"))
    if inline_ct is not None:
        return "complex", inline_ct
    inline_st = el.find(_xs("simpleType"))
    if inline_st is not None:
        return "simple", _compile_simple(inline_st, ctx, el.get("name") or "")
    # no type = anyType; no constraints
    return "simple", ()


def _max_occurs(el: ET.Element) -> Optional[int]:
    v = el.get("maxOccurs", "1")
    return None if v == "unbounded" else int(v)


def _flatten_attributes(ct: ET.Element, ctx: _Ctx, prefix: str,
                        cols: list, uniques: list, scope_col: str,
                        steps: tuple = (), table: str = "") -> None:
    # named attribute groups (attributes.py XsdAttributeGroup): inline the
    # referenced group's attributes (which may nest further group refs)
    for agref in ct.findall(_xs("attributeGroup")):
        ref = agref.get("ref")
        ag = ctx.attr_groups.get(_local(ref)) if ref else agref
        if ag is None:
            raise XsdCompileError(f"unresolved attributeGroup ref {ref!r}")
        _flatten_attributes(ag, ctx, prefix, cols, uniques, scope_col, steps,
                            table)
    # xs:anyAttribute (wildcards.py:33-164): open attribute content at this
    # level — recorded as a marker so the instance reader can gate its
    # undeclared-attribute flags (never silently dropped)
    for aw in ct.findall(_xs("anyAttribute")):
        ctx.wildcards.setdefault(table, []).append(
            Wildcard(steps, "attribute", aw.get("namespace", "##any"),
                     aw.get("processContents", "strict"))
        )
    for attr in ct.findall(_xs("attribute")):
        aname = attr.get("name") or _local(attr.get("ref"))
        name = prefix + aname
        facets: list = []
        use = attr.get("use", "optional")
        if use == "required":
            facets.append(S.Required())
        elif use == "prohibited":
            facets.append(S.Prohibited())
        if attr.get("fixed") is not None:
            facets.append(S.FixedValue(attr.get("fixed")))
        t = attr.get("type")
        type_local = _local(t) if t else ""
        if t:
            facets.extend(_compile_simple(t, ctx, name))
        else:
            inline = attr.find(_xs("simpleType"))
            if inline is not None:
                facets.extend(_compile_simple(inline, ctx, name))
        if any(isinstance(f, S.HexBinary) for f in facets):
            # hexBinary fixed values compare in the value space (issue_222)
            facets = [
                S.FixedValue(f.value, canon="hex")
                if isinstance(f, S.FixedValue) else f
                for f in facets
            ]
        cols.append(_Column(name, facets, path=steps + ("@" + aname,)))
        if type_local == "ID":
            # xs:ID uniqueness: IDs are unique per document
            # (identities via ID map, attributes ID handling)
            uniques.append(
                S.Unique(f"{name}-id-unique", fields=(name,), scope=scope_col)
            )


def _flatten_type(ct: ET.Element, ctx: _Ctx, prefix: str, cols: list,
                  uniques: list, scope_col: str, in_choice: bool,
                  table: str, steps: tuple = (), path_min: int = 1) -> None:
    """Flatten one complexType's attributes + content into columns.

    Recursion guard: a recursive element reference (mutually recursive
    globals import-case4 rootA<->rootB; self-recursive content models
    issue_437) re-enters the same complexType NODE while it is still being
    flattened.  The cycle is cut at re-entry: the recursive subtree is
    recorded in ``skipped`` (schema-declared — the instance reader must
    not flag it undeclared) and in ``restrictions`` (the no-silent-drop
    contract), and validation covers one unrolled level only — the flat
    subset's honest limit for unbounded-depth content."""
    key = id(ct)
    if key in ctx.flatten_stack:
        note = (
            f"{table}: recursive type re-entered at "
            f"{'/'.join(steps) or 'row'} (cycle cut: subtree is "
            "schema-declared, validated one level deep)"
        )
        if note not in ctx.restrictions:
            ctx.restrictions.append(note)
        ctx.skipped.setdefault(table, set()).add(steps)
        ctx.cycle_cuts += 1
        return
    ctx.flatten_stack.append(key)
    try:
        _flatten_type_guarded(ct, ctx, prefix, cols, uniques, scope_col,
                              in_choice, table, steps, path_min)
    finally:
        ctx.flatten_stack.pop()


def _flatten_type_guarded(ct: ET.Element, ctx: _Ctx, prefix: str,
                          cols: list, uniques: list, scope_col: str,
                          in_choice: bool, table: str, steps: tuple = (),
                          path_min: int = 1) -> None:
    # mixed="true" (complex_types.py:35): char data admitted among the
    # element children — recorded per path so the instance reader gates its
    # char-data check (on the complexType, or overriding on complexContent)
    cc_node = ct.find(_xs("complexContent"))
    mixed_attr = (
        cc_node.get("mixed") if cc_node is not None
        and cc_node.get("mixed") is not None else ct.get("mixed")
    )
    if mixed_attr == "true":
        ctx.mixed.setdefault(table, set()).add(steps)
    # complexContent extension/restriction (complex_types.py derivation):
    # extension = base's content + attributes FOLLOWED BY the derived
    # additions; restriction = the restricted content REPLACES the base's
    # (the restriction repeats what it keeps), base attributes still apply
    cc = ct.find(_xs("complexContent"))
    if cc is not None:
        for deriv_tag in ("extension", "restriction"):
            deriv = cc.find(_xs(deriv_tag))
            if deriv is None:
                continue
            base_local = _local(deriv.get("base"))
            base_ct = ctx.complex_types.get(base_local)
            if base_ct is None:
                raise XsdCompileError(
                    f"complexContent {deriv_tag} of unresolved base "
                    f"{deriv.get('base')!r}"
                )
            if deriv_tag == "extension":
                _flatten_type(base_ct, ctx, prefix, cols, uniques,
                              scope_col, in_choice, table, steps, path_min)
            else:
                # restriction: content comes from the derived node only;
                # the base contributes attributes (they are inherited)
                _flatten_attributes(base_ct, ctx, prefix, cols, uniques,
                                    scope_col, steps, table)
            _flatten_type_body(deriv, ctx, prefix, cols, uniques, scope_col,
                               in_choice, table, steps, path_min)
            # a restriction (or malformed extension) redeclares base
            # attributes/children it constrains: the DERIVED declaration
            # wins, at the base's position
            seen: dict = {}
            for i, c in enumerate(cols):
                if c.name in seen:
                    cols[seen[c.name]] = c
                    cols[i] = None
                else:
                    seen[c.name] = i
            cols[:] = [c for c in cols if c is not None]
            useen: set = set()
            uniques[:] = [
                u for u in uniques
                if not (u.name in useen or useen.add(u.name))
            ]
        return
    sc = ct.find(_xs("simpleContent"))
    if sc is not None:
        # simpleContent extension: the element's TEXT is a simple-typed
        # value and it carries attributes (complex_types.py simple-content
        # derivation).  Nested form flattens to <elem> (text, at the
        # element's own path) + <elem>_<attr> columns.
        ext = sc.find(_xs("extension"))
        if ext is None:
            # simpleContent RESTRICTION (complex_types.py simple-content
            # derivation; issue_013): the base complexType contributes the
            # text column + attributes, the restriction's facet children
            # narrow the text, its attribute declarations override
            restr = sc.find(_xs("restriction"))
            if restr is None:
                ctx.restrictions.append(
                    f"{table}: simpleContent without extension/restriction "
                    f"under {prefix or 'row'} (skipped)"
                )
                return
            base = restr.get("base")
            base_local = _local(base) if base else ""
            vname = prefix[:-1] if prefix else "value"
            if base_local in ctx.complex_types:
                _flatten_type(ctx.complex_types[base_local], ctx, prefix,
                              cols, uniques, scope_col, in_choice, table,
                              steps, path_min)
            elif base and (
                _is_builtin(base, ctx) or base_local in ctx.simple_types
            ):
                cols.append(
                    _Column(vname, list(_compile_simple(base, ctx, prefix)),
                            path=steps)
                )
            else:
                ctx.restrictions.append(
                    f"{table}: simpleContent restriction of unresolved "
                    f"base {base!r} (skipped)"
                )
                return
            # the restriction step's facet children narrow the TEXT column
            fake = ET.Element(_xs("simpleType"))
            fr = ET.SubElement(fake, _xs("restriction"))
            for child in restr:
                tag = child.tag.split("}")[-1]
                if tag not in ("attribute", "attributeGroup",
                               "anyAttribute", "annotation", "assert",
                               "simpleType"):
                    fr.append(child)
            extra = _compile_simple(fake, ctx, prefix)
            vcol = next((c for c in cols if c.name == vname), None)
            if vcol is not None:
                vcol.facets.extend(extra)
            else:
                cols.append(_Column(vname, list(extra), path=steps))
            _flatten_attributes(restr, ctx, prefix, cols, uniques,
                                scope_col, steps, table)
            # a redeclared attribute narrows the base's: derived wins
            seen: dict = {}
            for i, c in enumerate(cols):
                if c.name in seen:
                    cols[seen[c.name]] = c
                    cols[i] = None
                else:
                    seen[c.name] = i
            cols[:] = [c for c in cols if c is not None]
            return
        base = ext.get("base")
        facets: list = []
        if base and (
            _is_builtin(base, ctx) or _local(base) in ctx.simple_types
        ):
            facets = list(_compile_simple(base, ctx, prefix))
        # nested: <elem> column; at the ROW element itself: the text is the
        # 'value' column (path () = the row's own text)
        cols.append(
            _Column(prefix[:-1] if prefix else "value", facets, path=steps)
        )
        _flatten_attributes(ext, ctx, prefix, cols, uniques, scope_col,
                            steps, table)
        return
    _flatten_type_body(ct, ctx, prefix, cols, uniques, scope_col,
                       in_choice, table, steps, path_min)


def _flatten_type_body(ct: ET.Element, ctx: _Ctx, prefix: str, cols: list,
                       uniques: list, scope_col: str, in_choice: bool,
                       table: str, steps: tuple = (),
                       path_min: int = 1) -> None:
    """Attributes + model groups of one complexType/derivation node."""
    _flatten_attributes(ct, ctx, prefix, cols, uniques, scope_col, steps,
                        table)
    # XSD 1.1 xs:openContent (groups.py:425-431): interleave/suffix admit
    # wildcard content anywhere in this level's model — same marker as
    # xs:any; mode="none" disables inherited open content (no marker)
    for oc in ct.findall(_xs("openContent")):
        if oc.get("mode", "interleave") == "none":
            continue
        oc_any = oc.find(_xs("any"))
        ctx.wildcards.setdefault(table, []).append(
            Wildcard(
                steps, "element",
                oc_any.get("namespace", "##any") if oc_any is not None
                else "##any",
                oc_any.get("processContents", "lax") if oc_any is not None
                else "lax",
            )
        )
    # named model groups (xs:group ref, groups.py XsdGroup): inline the
    # referenced group's own sequence/all/choice as if declared in place
    for gref in ct.findall(_xs("group")):
        ref = gref.get("ref")
        g = ctx.groups.get(_local(ref)) if ref else gref
        if g is None:
            raise XsdCompileError(f"unresolved group ref {ref!r}")
        fake = ET.Element(_xs("complexType"))
        for sub in g:
            if sub.tag in (_xs("sequence"), _xs("all"), _xs("choice")):
                fake.append(sub)
        _flatten_type(fake, ctx, prefix, cols, uniques, scope_col,
                      in_choice, table, steps, path_min)
    for group_tag in ("sequence", "all", "choice"):
        for group in ct.findall(_xs(group_tag)):
            child_in_choice = in_choice or group_tag == "choice"
            # xs:choice branches are mutually exclusive: collect each
            # branch's columns and emit a RowAssertion (at most one branch
            # may have any value present — XSD requires exactly one, but a
            # branch whose members are all absent is indistinguishable
            # from an unchosen one on a flat row, so only exclusivity is
            # checkable; models.py ModelVisitor analogue)
            branches: list = []
            # a repeated model group repeats its children (issue_026):
            # they belong in their own tables, not in this row's columns
            gmax_attr = group.get("maxOccurs", "1")
            g_repeat = gmax_attr == "unbounded" or int(gmax_attr) > 1
            gmin = int(group.get("minOccurs", "1"))
            # xs:any (wildcards.py:33-164): open element content at this
            # level — marker for the instance reader, never silently dropped
            for anynode in group.findall(_xs("any")):
                ctx.wildcards.setdefault(table, []).append(
                    Wildcard(steps, "element",
                             anynode.get("namespace", "##any"),
                             anynode.get("processContents", "strict"))
                )
            # no-silent-drop sweep: any group child outside the handled set
            # lands in restrictions (the module contract, never dropped)
            for child in group:
                ctag = child.tag.split("}")[-1]
                if ctag not in ("element", "sequence", "choice", "all",
                                "group", "any", "annotation"):
                    ctx.restrictions.append(
                        f"{table}: unsupported model-group child xs:{ctag} "
                        f"under {prefix or 'row'} (skipped)"
                    )
            for el in group.findall(_xs("element")):
                _branch_start = len(cols)
                decl = _resolve_element(el, ctx)
                name = decl.get("name")
                max_occ = _max_occurs(el)
                if g_repeat:
                    max_occ = None
                min_occ = int(el.get("minOccurs", "1"))
                kind, payload = _element_type(decl, ctx)
                if kind == "simple":
                    if max_occ is None or max_occ > 1:
                        # repeated simple child below a row element:
                        # its own nested value table, scoped per parent row
                        ctx.pending_nested.append(dict(
                            parent=table, name=name,
                            path=steps + (name,), kind="simple",
                            payload=payload,
                            eff_min=0 if child_in_choice
                            else path_min * min_occ
                            * (gmin if g_repeat else 1),
                            eff_max=max_occ,
                        ))
                        ctx.skipped.setdefault(table, set()).add(
                            steps + (name,)
                        )
                        continue
                    facets = list(payload)
                    nillable = decl.get("nillable") == "true"
                    nil_col = prefix + name + "__nil"
                    if min_occ >= 1 and not child_in_choice:
                        # a nilled element is PRESENT (xsi:nil='true'
                        # satisfies the occurrence, elements.py:711-728,
                        # issue_243): required only where not nilled
                        facets.insert(0, S.Required(
                            when=(
                                f"coalesce(`{nil_col}`, 'false') "
                                "NOT IN ('true','1')"
                            ) if nillable else None
                        ))
                    if decl.get("fixed") is not None:
                        facets.append(S.FixedValue(
                            decl.get("fixed"),
                            canon="hex" if any(
                                isinstance(f, S.HexBinary) for f in facets
                            ) else None,
                        ))
                    if nillable:
                        facets.append(S.Nillable(
                            nil_col=nil_col, fixed=decl.get("fixed")
                        ))
                        cols.append(_Column(
                            nil_col, [S.BooleanLexical()],
                            path=steps + (name, "@xsi:nil"),
                        ))
                    cols.append(
                        _Column(prefix + name, facets, path=steps + (name,))
                    )
                else:
                    if max_occ is None or max_occ > 1:
                        # repeated complex child below a row element:
                        # its own nested table, scoped per parent row
                        ctx.pending_nested.append(dict(
                            parent=table, name=name,
                            path=steps + (name,), kind="complex",
                            payload=payload,
                            # declared type NAME: xsi:type overlays on
                            # nested tables resolve derived types from it
                            # (issue_314)
                            type_name=_local(decl.get("type") or ""),
                            eff_min=0 if child_in_choice
                            else path_min * min_occ
                            * (gmin if g_repeat else 1),
                            eff_max=max_occ,
                        ))
                        ctx.skipped.setdefault(table, set()).add(
                            steps + (name,)
                        )
                        continue
                    n_cols0 = len(cols)
                    n_wild0 = len(ctx.wildcards.get(table, ()))
                    mixed0 = set(ctx.mixed.get(table, ()))
                    cuts0 = ctx.cycle_cuts
                    n_nest0 = len(ctx.pending_nested)
                    _flatten_type(payload, ctx, prefix + name + "_", cols,
                                  uniques, scope_col, child_in_choice, table,
                                  steps + (name,), path_min * min_occ)
                    # a singleton complex child whose subtree produced no
                    # columns but IS open (wildcard/mixed/recursion-cut
                    # content, issue_298's Container->Freeform chain) is
                    # schema-declared: record it so the instance reader
                    # does not flag the subtree as undeclared
                    if len(cols) == n_cols0 and (
                        len(ctx.wildcards.get(table, ())) > n_wild0
                        or set(ctx.mixed.get(table, ())) != mixed0
                        or ctx.cycle_cuts > cuts0
                        or len(ctx.pending_nested) > n_nest0
                    ):
                        ctx.skipped.setdefault(table, set()).add(
                            steps + (name,)
                        )
                if group_tag == "choice":
                    names = [c.name for c in cols[_branch_start:]]
                    if names:
                        branches.append(names)
            for sub in (
                group.findall(_xs("sequence"))
                + group.findall(_xs("choice"))
                + group.findall(_xs("all"))
            ):
                _branch_start = len(cols)
                # nested model groups: treat children like the parent's
                ctx.restrictions.append(
                    f"{table}: nested model group under {prefix or 'row'} "
                    "(children compiled, group ordering not enforced)"
                )
                fake = ET.Element(_xs("complexType"))
                fake.append(sub)
                _flatten_type(fake, ctx, prefix, cols, uniques, scope_col,
                              in_choice or sub.tag == _xs("choice"), table,
                              steps,
                              path_min * int(sub.get("minOccurs", "1")))
                if group_tag == "choice":
                    names = [c.name for c in cols[_branch_start:]]
                    if names:
                        branches.append(names)
            for gref in group.findall(_xs("group")):
                # xs:group ref inside a model group: inline in place
                ref = gref.get("ref")
                g = ctx.groups.get(_local(ref)) if ref else gref
                if g is None:
                    raise XsdCompileError(f"unresolved group ref {ref!r}")
                fake = ET.Element(_xs("complexType"))
                for sub in g:
                    if sub.tag in (_xs("sequence"), _xs("all"),
                                   _xs("choice")):
                        fake.append(sub)
                _flatten_type(fake, ctx, prefix, cols, uniques, scope_col,
                              child_in_choice, table, steps, path_min)
            if group_tag == "choice" and len(branches) >= 2:
                present = [
                    "(" + " OR ".join(f"{c} IS NOT NULL" for c in b) + ")"
                    for b in branches
                ]
                expr = (
                    "("
                    + " + ".join(
                        f"(CASE WHEN {p} THEN 1 ELSE 0 END)"
                        for p in present
                    )
                    + ") <= 1"
                )
                ctx.assertions.setdefault(table, []).append(
                    S.RowAssertion(
                        f"choice-{table}-{prefix or 'row'}-"
                        f"{len(ctx.assertions.get(table, ()))}",
                        expr,
                    )
                )
    # no-silent-drop sweep over the complexType/derivation node itself:
    # any direct child outside the handled set lands in restrictions
    for child in ct:
        ctag = child.tag.split("}")[-1]
        if ctag not in ("annotation", "attribute", "attributeGroup",
                        "anyAttribute", "openContent", "group", "sequence",
                        "all", "choice", "simpleContent", "complexContent"):
            ctx.restrictions.append(
                f"{table}: unsupported complexType child xs:{ctag} under "
                f"{prefix or 'row'} (skipped)"
            )


# ---------------------------------------------------------------------------
# identity constraints
# ---------------------------------------------------------------------------


def _xpath_tokens(xpath: str) -> list:
    """Normalize a selector/field XPath to local-name tokens.

    Handles the reference's supported forms (identities.py selector parsing):
    leading ``./``, ``.//`` (descendant — treated as relative), namespace
    prefixes stripped, ``@attr`` kept with its marker.
    """
    p = xpath.strip()
    for lead in ("./", ".//", "//"):
        if p.startswith(lead):
            p = p[len(lead):]
            break
    if p == ".":
        return []
    tokens = []
    for seg in p.split("/"):
        seg = seg.strip()
        if not seg or seg == ".":
            continue
        is_attr = seg.startswith("@")
        seg = seg.lstrip("@")
        seg = _local(seg)
        tokens.append(("@" + seg) if is_attr else seg)
    return tokens


def _flatten_field(selector_rest: list, field_tokens: list) -> str:
    parts = [t.lstrip("@") for t in selector_rest] + [
        t.lstrip("@") for t in field_tokens
    ]
    return "_".join(parts)


# ---------------------------------------------------------------------------
# the compiler
# ---------------------------------------------------------------------------


def _parse_schema_text(text: str, what: str) -> ET.Element:
    try:
        # fromstring parses the decoded text as text: a file-like source
        # would re-apply the declared encoding to its UTF-8 re-encoding
        root = ET.fromstring(text)
    except ET.ParseError as err:
        # a malformed schema DOCUMENT is a compile error with a clear
        # source, not a raw parser traceback (resources/malformed.xsd)
        raise XsdCompileError(
            f"{what}: not well-formed XML ({err})"
        ) from err
    if root.tag != _xs("schema"):
        raise XsdCompileError(
            f"{what}: root element is {root.tag!r}, not xs:schema"
        )
    return root


def _collect_schema_roots(
    source: Union[str, os.PathLike], base_dir: Optional[str]
) -> tuple:
    """Parse ``source`` and transitively resolve ``xs:include`` (and
    ``xs:import`` carrying a schemaLocation) against the including file's
    directory — the filesystem subset of the reference's location-driven
    loading (loaders.py:84-117, SchemaLoader.load_declared_schemas).

    Returns ``(roots, notes)``: the including document first, then included
    documents in discovery order (cycles — e.g. the vehicles example's
    types.xsd↔cars.xsd — are cut by an absolute-path visited set); ``notes``
    records includes that could not be resolved (string sources with no
    ``base_dir``, missing files) — recorded loudly, never silently dropped.
    """
    notes: list = []
    roots: list = []
    redefines: list = []  # (kind, redefine/override node, target root|None)
    visited: set = set()

    def load(src, directory, what):
        if isinstance(src, str) and src.lstrip().startswith("<"):
            root, here = _parse_schema_text(src, what), directory
        else:
            path = os.path.abspath(os.fspath(src))
            if path in visited:
                return None
            visited.add(path)
            root = _parse_schema_text(read_xml_text(path), path)
            here = os.path.dirname(path)
        roots.append(root)
        for tag in ("include", "import", "redefine", "override"):
            for node in root.findall(_xs(tag)):
                loc = node.get("schemaLocation")
                if not loc:
                    continue  # location-less import: nothing to fetch
                if here is None:
                    notes.append(
                        f"xs:{tag} {loc!r}: string source has no base "
                        "directory (pass base_dir=) — skipped"
                    )
                    continue
                target = os.path.join(here, loc)
                if not os.path.exists(target):
                    notes.append(f"xs:{tag} {loc!r}: not found under "
                                 f"{here!r} — skipped")
                    continue
                troot = load(target, os.path.dirname(target), target)
                if tag in ("redefine", "override"):
                    redefines.append((tag, node, troot))
        return root

    load(source, base_dir, "source")
    return roots, notes, redefines


def _rewire_self_base(node: ET.Element, name: str, alias: str) -> bool:
    """Point any self-referential derivation/ref inside a redefine child at
    ``alias`` (the preserved original definition).  Returns True if anything
    was rewired — the canonical xs:redefine pattern derives from itself
    (e.g. ``<xs:restriction base="X">`` inside the redefinition of X)."""
    hit = False
    for el in node.iter():
        base = el.get("base")
        if base is not None and _local(base) == name and el.tag in (
            _xs("restriction"), _xs("extension")
        ):
            el.set("base", alias)
            hit = True
        ref = el.get("ref")
        if (
            ref is not None and _local(ref) == name
            and el.tag in (_xs("group"), _xs("attributeGroup"))
            and el is not node
        ):
            el.set("ref", alias)
            hit = True
    return hit


def compile_xsd(
    source: Union[str, os.PathLike],
    scope_col: str = "doc_id",
    order_col: str = "row_idx",
    row_elements: Optional[Sequence[str]] = None,
    lexical: bool = True,
    emit_occurs: bool = True,
    base_dir: Optional[str] = None,
    version: str = "1.0",
) -> CompiledXsd:
    """Compile an XSD document to TableSpecs (one per row element).

    ``source`` is a filesystem path or a literal XSD string.  ``scope_col``
    / ``order_col`` name the document-id and document-order columns the flat
    tables carry (the tabular stand-ins for the XML document identity and
    child position).  ``row_elements`` overrides auto-detection (elements
    with ``maxOccurs > 1`` and complex content directly under a global
    element).  ``lexical=False`` compiles value-space checks only — for
    tables whose columns are already decoded/typed.  ``xs:include`` /
    located ``xs:import`` are followed relative to each including file
    (``base_dir`` supplies the anchor for literal string sources).
    """
    roots, include_notes, redefines = _collect_schema_roots(source, base_dir)
    root = roots[0]

    # version-control gating (schemas.py XSD_VERSION; issue_349): a 1.0
    # processor must treat a schema with vc:minVersion > 1.0 as having no
    # declarations at all — every instance element is then undeclared
    min_v = root.get(
        "{http://www.w3.org/2007/XMLSchema-versioning}minVersion"
    )
    if min_v:
        try:
            inapplicable = float(min_v) > float(version)
        except ValueError:
            inapplicable = False
        if inapplicable:
            return CompiledXsd(
                specs={},
                external_keyrefs=(),
                restrictions=(
                    f"vc:minVersion {min_v} > processor version "
                    f"{version}: the schema is inapplicable — no "
                    "declarations are available",
                ),
                target_namespace=root.get("targetNamespace") or "",
            )

    ctx = _Ctx(root=root, lexical=lexical)
    ctx.restrictions.extend(include_notes)
    # xs:redefine / xs:override children REPLACE the target document's
    # same-named globals (loaders.py redefine/override handling).  They
    # register FIRST so the later setdefault sweep cannot shadow them; a
    # redefine whose derivation references its own name (the canonical
    # redefine pattern) gets the base rewired to the preserved original
    # under '<name>__orig'.
    _REG_TAGS = {
        _xs("simpleType"): "simple_types",
        _xs("complexType"): "complex_types",
        _xs("group"): "groups",
        _xs("attributeGroup"): "attr_groups",
    }
    for kind, node, troot in redefines:
        for child in list(node):
            regname = _REG_TAGS.get(child.tag)
            name = child.get("name")
            if regname is None or name is None:
                continue  # xs:annotation etc.
            reg = getattr(ctx, regname)
            if kind == "redefine":
                orig = None
                if troot is not None:
                    orig = next(
                        (o for o in troot.findall(child.tag)
                         if o.get("name") == name), None
                    )
                rewired = _rewire_self_base(child, name, f"{name}__orig")
                if rewired:
                    if orig is None:
                        raise XsdCompileError(
                            f"xs:redefine of {name!r}: self-referential "
                            "derivation but the original definition was "
                            "not found in the redefined document"
                        )
                    reg[f"{name}__orig"] = orig
            reg[name] = child
    # first definition wins across the include graph (the including document
    # is roots[0]), matching the reference's maps-level global registration
    # (loaders.py:118-167: a name is registered once per namespace)
    for r in roots:
        for st in r.findall(_xs("simpleType")):
            ctx.simple_types.setdefault(st.get("name"), st)
        for ct in r.findall(_xs("complexType")):
            ctx.complex_types.setdefault(ct.get("name"), ct)
        for el in r.findall(_xs("element")):
            ctx.elements.setdefault(el.get("name"), el)
        for g in r.findall(_xs("group")):
            ctx.groups.setdefault(g.get("name"), g)
        for ag in r.findall(_xs("attributeGroup")):
            ctx.attr_groups.setdefault(ag.get("name"), ag)

    # --- row-element detection -------------------------------------------
    # a row element is a repeated complex child directly under a global
    # element's complexType (the collection/object shape); its parent is the
    # per-document singleton whose identity constraints scope to scope_col
    detected: dict = {}  # name -> (decl element, ctype, parent global element)
    # repeated SIMPLE children of a global element (menù example shape):
    # name -> (decl element, facet tuple, parent global element)
    detected_simple: dict = {}
    # row element -> its particle position under its global element
    particle_rank: dict = {}
    n_particles: dict = {}
    def _model_groups(ct):
        """Model groups of a complexType, following complexContent
        extension chains (the base's groups first)."""
        cc = ct.find(_xs("complexContent"))
        if cc is not None:
            for deriv_tag in ("extension", "restriction"):
                deriv = cc.find(_xs(deriv_tag))
                if deriv is None:
                    continue
                if deriv_tag == "extension":
                    base = ctx.complex_types.get(_local(deriv.get("base")))
                    if base is not None:
                        yield from _model_groups(base)
                for group_tag in ("sequence", "all", "choice"):
                    for group in deriv.findall(_xs(group_tag)):
                        yield group
            return
        for group_tag in ("sequence", "all", "choice"):
            for group in ct.findall(_xs(group_tag)):
                yield group

    for gname, gel in ctx.elements.items():
        _, gpayload = _element_type(gel, ctx)
        if not isinstance(gpayload, ET.Element):
            continue
        for group in _model_groups(gpayload):
            # a repeated model GROUP repeats its children (issue_026's
            # <xs:sequence maxOccurs="unbounded">): effective occurrence
            # bounds multiply through the group's
            gmax_attr = group.get("maxOccurs", "1")
            gmax = None if gmax_attr == "unbounded" else int(gmax_attr)
            gmin = int(group.get("minOccurs", "1"))
            # a CHOICE picks one branch per repetition: each child's
            # effective minimum is 0 (models.py choice semantics)
            is_choice = group.tag == _xs("choice")
            for el in group.findall(_xs("element")):
                decl = _resolve_element(el, ctx)
                position = n_particles.get(gname, 0)
                n_particles[gname] = position + 1
                max_occ = _max_occurs(el)
                eff_max = (
                    None if (max_occ is None or gmax is None)
                    else max_occ * gmax
                )
                eff_min = (
                    0 if is_choice
                    else int(el.get("minOccurs", "1")) * gmin
                )
                if eff_max is not None and eff_max <= 1:
                    continue
                kind, payload = _element_type(decl, ctx)
                particle_rank[decl.get("name")] = position
                if kind != "complex":
                    detected_simple[decl.get("name")] = (
                        el, payload, gel, eff_min, eff_max
                    )
                    continue
                detected[decl.get("name")] = (
                    el, payload, gel, eff_min, eff_max
                )

    # --- flatten each row element to columns ------------------------------
    tables: dict = {}
    table_uniques: dict = {}
    table_model: dict = {}
    for name, (el, ctype, _parent, eff_min, eff_max) in detected.items():
        cols: list = []
        uniques: list = []
        _flatten_type(ctype, ctx, "", cols, uniques, scope_col,
                      in_choice=False, table=name)
        tables[name] = cols
        table_uniques[name] = uniques
        model: list = []
        if emit_occurs and (eff_min > 0 or eff_max is not None):
            model.append(
                S.Occurs(
                    f"occurs-{name}", where="TRUE",
                    min_occurs=eff_min, max_occurs=eff_max,
                )
            )
        table_model[name] = model

    # --- document-singleton tables ------------------------------------------
    # A global element that CONTAINS row elements may also carry singleton
    # simple children / attributes of its own (features/decoder/data: config,
    # duration, ... next to the repeated values).  Those flatten into a
    # one-row-per-document table named after the global element; its
    # repeated children stay in their own tables (recorded as skipped paths
    # so the instance reader knows they're schema-declared).
    doc_rows: set = set()
    parent_names = {
        gel.get("name") for (_e, _p, gel, _mn, _mx) in detected.values()
    } | {
        gel.get("name")
        for (_e, _p, gel, _mn, _mx) in detected_simple.values()
    }
    if not detected and not detected_simple:
        # pure-singleton documents (issue_028's root): every global complex
        # element with flattenable fields becomes a document table
        parent_names = set(ctx.elements)
    for gname, gel in ctx.elements.items():
        if gname in tables or gname in detected_simple \
                or gname not in parent_names:
            continue
        _, gpayload = _element_type(gel, ctx)
        if not isinstance(gpayload, ET.Element):
            continue
        dcols: list = []
        duniq: list = []
        # speculative flatten: if no singleton column exists, roll back the
        # restriction notes / skipped paths it recorded (the repeated
        # children DO have their own tables — nothing is being skipped)
        n_restr = len(ctx.restrictions)
        prev_skipped = set(ctx.skipped.get(gname, ()))
        n_asserts = len(ctx.assertions.get(gname, ()))
        n_wild = len(ctx.wildcards.get(gname, ()))
        prev_mixed = set(ctx.mixed.get(gname, ()))
        n_pend = len(ctx.pending_nested)
        n_cuts = ctx.cycle_cuts
        _flatten_type(gpayload, ctx, "", dcols, duniq, scope_col,
                      in_choice=False, table=gname)
        # zero columns is still a table when the element's content is
        # schema-declared but not column-izable: a recursion cut
        # (import-case4), wildcard/mixed open content (issue_298's
        # Freeform), or repeated descendants that queued NESTED tables
        # below this document element (issue_190's root -> a -> choice*)
        # — the instance reader needs the markers / child tables kept
        new_nested = [
            e for e in ctx.pending_nested[n_pend:]
            if e["name"] not in tables and e["name"] not in detected_simple
        ]
        declared_open = (
            ctx.cycle_cuts > n_cuts
            or len(ctx.wildcards.get(gname, ())) > n_wild
            or set(ctx.mixed.get(gname, ())) != prev_mixed
            # repeated descendants needing NEW nested tables (issue_190);
            # children that already ARE row tables (vehicles' cars/car)
            # contribute nothing — the row path validates them
            or bool(new_nested)
        )
        if not dcols and not declared_open:
            del ctx.pending_nested[n_pend:]
            del ctx.restrictions[n_restr:]
            if prev_skipped:
                ctx.skipped[gname] = prev_skipped
            else:
                ctx.skipped.pop(gname, None)
            if gname in ctx.assertions:
                del ctx.assertions[gname][n_asserts:]
            if gname in ctx.wildcards:
                del ctx.wildcards[gname][n_wild:]
                if not ctx.wildcards[gname]:
                    del ctx.wildcards[gname]
            if prev_mixed:
                ctx.mixed[gname] = prev_mixed
            else:
                ctx.mixed.pop(gname, None)
            continue
        doc_rows.add(gname)
        tables[gname] = dcols
        table_uniques[gname] = duniq
        table_model[gname] = []

    # --- xsi:type overlays ---------------------------------------------------
    # dynamic type substitution on instances (reference elements.py:657-682):
    # for each row element with a NAMED declared type, every global
    # complexType DERIVING from it (complexContent base chains) compiles to
    # an overlay column-set; the instance reader validates rows carrying
    # xsi:type=T against T's overlay.  Nested repeated children discovered
    # inside an overlay become nested tables gated on that xsi:type.
    def _base_chain(tname: str, seen: tuple = ()) -> list:
        ct = ctx.complex_types.get(tname)
        if ct is None:
            return []
        node = ct.find(_xs("complexContent"))
        if node is None:
            node = ct.find(_xs("simpleContent"))
        if node is None:
            return []
        for dt in ("extension", "restriction"):
            d = node.find(_xs(dt))
            if d is not None and d.get("base"):
                b = _local(d.get("base"))
                if b in seen:
                    return []
                return [b] + _base_chain(b, seen + (b,))
        return []

    derived_of: dict = {}
    for tname in ctx.complex_types:
        for b in _base_chain(tname):
            derived_of.setdefault(b, []).append(tname)

    xsi_overlays: dict = {}
    declared_types: dict = {}
    for name, (el, _ctype, _p, _mn, _mx) in detected.items():
        decl = _resolve_element(el, ctx)
        d_local = _local(decl.get("type") or "")
        if d_local:
            declared_types[name] = d_local
        for T in derived_of.get(d_local, ()):
            key = f"{name}@{T}"
            ocols: list = []
            ouniq: list = []
            n_pend = len(ctx.pending_nested)
            _flatten_type(ctx.complex_types[T], ctx, "", ocols, ouniq,
                          scope_col, in_choice=False, table=key)
            for ent in ctx.pending_nested[n_pend:]:
                if ent["parent"] == key:
                    ent["parent"] = name
                    ent["xsi_type"] = T
            spec_o = S.TableSpec(
                name=key,
                scope_col=scope_col,
                order_col=order_col,
                columns=tuple(
                    S.ColumnSpec(c.name, tuple(c.facets)) for c in ocols
                ),
                identities=tuple(ouniq),
                row_assertions=tuple(ctx.assertions.get(key, ())),
            )
            xsi_overlays.setdefault(name, {})[T] = dict(
                spec=spec_o,
                column_paths={c.name: c.path for c in ocols},
                skipped=frozenset(ctx.skipped.get(key, ())),
                wildcards=tuple(ctx.wildcards.get(key, ())),
                mixed=frozenset(ctx.mixed.get(key, ())),
            )

    # --- XSD 1.1 conditional type alternatives -------------------------------
    # <xs:alternative test="@mode='A'" type="T"/> children of an element
    # declaration (reference XsdAlternative elements.py:1450-1476,
    # conditional assignment elements.py:1345-1365): instance rows whose
    # test matches validate against T's overlay instead of the declared
    # type.  Supported test subset: @attr='v' equality (and the
    # unconditional final arm); anything richer records a restriction and
    # the arm is not applied — never silently dropped.
    alt_overlays: dict = {}
    if version != "1.0":
        for name, (el, _ctype, _p, _mn, _mx) in detected.items():
            decl = _resolve_element(el, ctx)
            for arm in decl.findall(_xs("alternative")):
                test = arm.get("test")
                tlocal = _local(arm.get("type") or "")
                attr = value = None
                if test is not None:
                    m = re.match(
                        r"^\s*@([\w.-]+)\s*=\s*(['\"])(.*)\2\s*$", test
                    )
                    if m is None:
                        ctx.restrictions.append(
                            f"{name}: xs:alternative test {test!r} outside "
                            "the @attr='v' subset (arm not applied)"
                        )
                        continue
                    attr, value = m.group(1), m.group(3)
                if tlocal not in ctx.complex_types:
                    ctx.restrictions.append(
                        f"{name}: xs:alternative type {arm.get('type')!r} "
                        "is not a named complexType (arm not applied)"
                    )
                    continue
                key = f"{name}@alt@{tlocal}"
                acols: list = []
                auniq: list = []
                n_pend = len(ctx.pending_nested)
                _flatten_type(ctx.complex_types[tlocal], ctx, "", acols,
                              auniq, scope_col, in_choice=False, table=key)
                del ctx.pending_nested[n_pend:]  # not supported below arms
                spec_a = S.TableSpec(
                    name=name,  # violation paths read '<element>/<col>'
                    scope_col=scope_col,
                    order_col=order_col,
                    columns=tuple(
                        S.ColumnSpec(c.name, tuple(c.facets)) for c in acols
                    ),
                    identities=tuple(auniq),
                    row_assertions=tuple(ctx.assertions.get(key, ())),
                )
                alt_overlays.setdefault(name, []).append(dict(
                    attr=attr, value=value, type=tlocal,
                    spec=spec_a,
                    column_paths={c.name: c.path for c in acols},
                    skipped=frozenset(ctx.skipped.get(key, ())),
                    wildcards=tuple(ctx.wildcards.get(key, ())),
                    mixed=frozenset(ctx.mixed.get(key, ())),
                ))

    # --- substitution-group members as document structure --------------------
    # a global element with substitutionGroup=H may stand in for H in the
    # instance (elements.py:611-621): compile the member's type to an
    # overlay the reader validates member rows against, merging them into
    # the head's table for occurrence/identity checks
    subst_overlays: dict = {}
    for gname, gel in ctx.elements.items():
        head = _local(gel.get("substitutionGroup") or "")
        if not head or head not in detected or gname in detected:
            continue
        mkind, mpayload = _element_type(gel, ctx)
        if mkind != "complex":
            ctx.restrictions.append(
                f"substitution member {gname!r} of head {head!r} has a "
                "simple type (outside the flat member-overlay subset; "
                "skipped)"
            )
            continue
        key = f"{head}@@{gname}"
        mcols: list = []
        muniq: list = []
        n_pend = len(ctx.pending_nested)
        _flatten_type(mpayload, ctx, "", mcols, muniq, scope_col,
                      in_choice=False, table=key)
        for ent in ctx.pending_nested[n_pend:]:
            if ent["parent"] == key:
                ent["parent"] = None  # not supported below members
                ctx.restrictions.append(
                    f"substitution member {gname!r}: nested repeated "
                    f"child {ent['name']!r} below a member element "
                    "(skipped)"
                )
        ctx.pending_nested[:] = [
            e for e in ctx.pending_nested if e["parent"] is not None
        ]
        spec_m = S.TableSpec(
            name=gname,  # violation paths read '<member>/<col>'
            scope_col=scope_col,
            order_col=order_col,
            columns=tuple(
                S.ColumnSpec(c.name, tuple(c.facets)) for c in mcols
            ),
            identities=tuple(muniq),
            row_assertions=tuple(ctx.assertions.get(key, ())),
        )
        subst_overlays.setdefault(head, {})[gname] = dict(
            spec=spec_m,
            column_paths={c.name: c.path for c in mcols},
            skipped=frozenset(ctx.skipped.get(key, ())),
            wildcards=tuple(ctx.wildcards.get(key, ())),
            mixed=frozenset(ctx.mixed.get(key, ())),
        )

    # --- nested repeated tables --------------------------------------------
    # repeated children BELOW a row element become their own tables scoped
    # per parent row (composite doc#parentIndex in the ordinary scope
    # column), processed as a queue so nesting levels chain; an element
    # already modelled as a table elsewhere keeps its skipped-path marker
    # and is not duplicated
    nested_meta: dict = {}  # name -> NestedTable
    qi = 0
    while qi < len(ctx.pending_nested):
        ent = ctx.pending_nested[qi]
        qi += 1
        nname = ent["name"]
        if nname in tables or nname in detected_simple \
                or nname in nested_meta:
            continue
        if len(ent["path"]) > 6:
            ctx.restrictions.append(
                f"{ent['parent']}: nested repeated element {nname} deeper "
                "than 6 levels (skipped)"
            )
            continue
        if ent["kind"] == "simple":
            ncols = [_Column("value", list(ent["payload"]), path=())]
            nuniq: list = []
        else:
            ncols, nuniq = [], []
            _flatten_type(ent["payload"], ctx, "", ncols, nuniq, scope_col,
                          in_choice=False, table=nname)
        tables[nname] = ncols
        table_uniques[nname] = nuniq
        model: list = []
        if emit_occurs and (
            ent["eff_min"] > 0 or ent["eff_max"] is not None
        ):
            model.append(
                S.Occurs(
                    f"occurs-{nname}", where="TRUE",
                    min_occurs=ent["eff_min"], max_occurs=ent["eff_max"],
                )
            )
        table_model[nname] = model
        nested_meta[nname] = NestedTable(
            parent_table=ent["parent"], rel_path=tuple(ent["path"]),
            xsi_type=ent.get("xsi_type"),
        )
        particle_rank[nname] = qi
        # xsi:type overlays for the NESTED table's own derived types
        # (issue_314: <item b:type="Concrete..."> below a doc row): same
        # overlay shape as row elements, applied by _flatten_nested
        d_local = ent.get("type_name") or ""
        if d_local:
            declared_types[nname] = d_local
        for T in derived_of.get(d_local, ()):
            key = f"{nname}@{T}"
            ocols2: list = []
            ouniq2: list = []
            n_pend2 = len(ctx.pending_nested)
            _flatten_type(ctx.complex_types[T], ctx, "", ocols2, ouniq2,
                          scope_col, in_choice=False, table=key)
            del ctx.pending_nested[n_pend2:]  # not supported below overlays
            xsi_overlays.setdefault(nname, {})[T] = dict(
                spec=S.TableSpec(
                    name=key,
                    scope_col=scope_col,
                    order_col=order_col,
                    columns=tuple(
                        S.ColumnSpec(c.name, tuple(c.facets))
                        for c in ocols2
                    ),
                    identities=tuple(ouniq2),
                    row_assertions=tuple(ctx.assertions.get(key, ())),
                ),
                column_paths={c.name: c.path for c in ocols2},
                skipped=frozenset(ctx.skipped.get(key, ())),
                wildcards=tuple(ctx.wildcards.get(key, ())),
                mixed=frozenset(ctx.mixed.get(key, ())),
            )

    # --- identity constraints ---------------------------------------------
    # constraints may sit on ANY element declaration; resolve each selector
    # to the row element it selects (identities.py:252-337)
    keys_by_name: dict = {}  # key/unique name -> (table, field cols)
    per_table_idents: dict = {n: list(table_uniques[n]) for n in tables}
    pending_keyrefs: list = []
    seen_constraints: set = set()

    def walk_constraints(el: ET.Element, host: Optional[str] = None):
        for tag, cls in (("unique", S.Unique), ("key", S.Key),
                         ("keyref", S.Keyref)):
            for node in el.findall(_xs(tag)):
                # a named/ref'd type can be reached from several walks;
                # constraint names are unique per schema — compile once
                if node.get("name") in seen_constraints:
                    continue
                seen_constraints.add(node.get("name"))
                sel = node.find(_xs("selector")).get("xpath")
                fields = [
                    f.get("xpath") for f in node.findall(_xs("field"))
                ]
                sel_tokens = _xpath_tokens(sel)
                # locate the row element along the selector path
                table = None
                rest: list = []
                last_wins = False
                for i, t in enumerate(sel_tokens):
                    if t in tables:
                        table = t
                        rest = sel_tokens[i + 1:]
                        break
                if table is None and host in tables and not sel_tokens:
                    # constraint declared ON a row element itself with
                    # selector '.' (collection3bis): each element is its
                    # own scope; the reference propagates the key upward
                    # with last-sibling-override, so only the LAST
                    # occurrence per document is visible to outer keyrefs
                    table = host
                    rest = []
                    last_wins = True
                if table is None:
                    ctx.restrictions.append(
                        f"identity {node.get('name')!r}: selector {sel!r} "
                        "does not reach a row element (skipped)"
                    )
                    continue
                if table in nested_meta:
                    # a nested table's scope column is doc#parentIndex —
                    # correct exactly when the constraint is declared on
                    # an ancestor in its parent chain (issue_245: key on
                    # 'part' selecting './/circle')
                    chain = {table}
                    cur = table
                    while cur in nested_meta:
                        cur = nested_meta[cur].parent_table
                        chain.add(cur)
                    if host not in chain:
                        ctx.restrictions.append(
                            f"identity {node.get('name')!r}: selector "
                            f"{sel!r} reaches nested table {table!r} from "
                            f"outside its parent chain (host "
                            f"{host!r}; skipped)"
                        )
                        continue
                cols = tuple(
                    _flatten_field(rest, _xpath_tokens(fx)) for fx in fields
                )
                known = {c.name for c in tables[table]}
                bad = [c for c in cols if c not in known]
                if bad:
                    ctx.restrictions.append(
                        f"identity {node.get('name')!r}: fields {bad} not "
                        f"columns of {table} (skipped)"
                    )
                    continue
                if tag == "keyref":
                    pending_keyrefs.append((node.get("name"), table, cols,
                                            _local(node.get("refer"))))
                elif last_wins:
                    # single-element scope: per-document uniqueness does
                    # NOT apply (duplicate sibling keys are legal — the
                    # later one overrides); record for keyref resolution
                    keys_by_name[node.get("name")] = (table, cols, True)
                else:
                    per_table_idents[table].append(
                        cls(node.get("name"), fields=cols, scope=scope_col)
                    )
                    keys_by_name[node.get("name")] = (table, cols, False)
        for child in el:
            if child.tag == _xs("element"):
                decl = child if child.get("name") else _resolve_element(
                    child, ctx
                )
                walk_constraints(child, host=decl.get("name"))
            elif child.tag in (_xs("complexType"), _xs("sequence"),
                               _xs("all"), _xs("choice")):
                walk_constraints(child, host=host)

    for gname, gel in ctx.elements.items():
        walk_constraints(gel, host=gname)
    for ct in ctx.complex_types.values():
        walk_constraints(ct)

    external: list = []
    for name, table, cols, refer in pending_keyrefs:
        if refer not in keys_by_name:
            ctx.restrictions.append(
                f"keyref {name!r}: refers to unknown key {refer!r} (skipped)"
            )
            continue
        key_table, key_cols, last_wins = keys_by_name[refer]
        kr = S.Keyref(
            name, fields=cols, refer_fields=key_cols, scope=scope_col
        )
        if key_table == table and not last_wins:
            per_table_idents[table].append(kr)
        else:
            external.append(
                ExternalKeyref(kr, table=table, key_table=key_table,
                               key_selector_cols=key_cols,
                               last_wins=last_wins)
            )

    specs = {
        name: S.TableSpec(
            name=name,
            scope_col=scope_col,
            order_col=order_col,
            columns=tuple(
                S.ColumnSpec(c.name, tuple(c.facets)) for c in tables[name]
            ),
            identities=tuple(per_table_idents[name]),
            model=tuple(table_model[name]),
            row_assertions=tuple(ctx.assertions.get(name, ())),
        )
        for name in tables
    }
    parent_of = {
        name: parent.get("name")
        for name, (_el, _ct, parent, _mn, _mx) in detected.items()
    }
    parent_of.update({name: name for name in doc_rows})
    # a nested table reads through its TOP row element's container
    for nname, nt in nested_meta.items():
        top = nt.parent_table
        while top in nested_meta:
            top = nested_meta[top].parent_table
        parent_of[nname] = parent_of.get(top, top)
    column_paths = {
        name: {c.name: c.path for c in tables[name]} for name in tables
    }
    # repeated SIMPLE children as one-column tables: one row per element
    # occurrence, 'value' = element text carrying the simple type's facets
    for name, (el, facets, gel, eff_min, eff_max) in detected_simple.items():
        model = (
            (S.Occurs(f"occurs-{name}", where="TRUE",
                      min_occurs=eff_min, max_occurs=eff_max),)
            if emit_occurs and (eff_min > 0 or eff_max is not None) else ()
        )
        # element content deriving from xs:ID carries the document-wide ID
        # uniqueness rule (simple_types.py:758-780), same as ID attributes
        idents = tuple(
            (S.Unique(f"{name}-id-unique", fields=("value",),
                      scope=scope_col),)
            if any(isinstance(f, S.BuiltinLexical) and f.type_name == "ID"
                   for f in facets) else ()
        )
        specs[name] = S.TableSpec(
            name=name,
            scope_col=scope_col,
            order_col=order_col,
            columns=(S.ColumnSpec("value", tuple(facets)),),
            identities=idents,
            model=model,
        )
        parent_of[name] = gel.get("name")
        column_paths[name] = {"value": ()}

    # global SIMPLE-typed elements as document-value tables (issue_223's
    # shape: the root element IS one simple value).  Only when nothing else
    # was detected — a schema with real row tables keeps auxiliary global
    # simple declarations as declarations, not tables.
    preserve_space: set = set()
    if not specs:
        for gname, gel in ctx.elements.items():
            kind, payload = _element_type(gel, ctx)
            if kind != "simple":
                continue
            facets = tuple(payload)
            specs[gname] = S.TableSpec(
                name=gname,
                scope_col=scope_col,
                order_col=order_col,
                columns=(S.ColumnSpec("value", facets),),
            )
            doc_rows.add(gname)
            parent_of[gname] = gname
            column_paths[gname] = {"value": ()}
            # whiteSpace preserve (no collapse/replace facet, no non-string
            # builtin): the instance reader must keep surrounding space so
            # facet checks see the raw lexical value (issue_223's trailing
            # newline defeats its pattern)
            if not any(
                isinstance(f, (S.WhiteSpace, S.BuiltinLexical))
                for f in facets
            ):
                preserve_space.add(gname)
    if not specs:
        raise XsdCompileError(
            "no row element: the schema has no repeated complex or simple "
            "child under a global element and no flattenable document "
            "fields (pass row_elements= to override)"
        )
    if row_elements is not None:
        missing = [r for r in row_elements if r not in specs]
        if missing:
            raise XsdCompileError(
                f"row elements {missing} not found as repeated complex "
                f"children of a global element (detected: {sorted(specs)})"
            )
        keep = list(row_elements)
        for nname, nt in nested_meta.items():
            top = nt.parent_table
            while top in nested_meta:
                top = nested_meta[top].parent_table
            if top in row_elements and nname not in keep:
                keep.append(nname)  # nested tables follow their parent
        specs = {k: specs[k] for k in keep}
        external = [
            e for e in external
            if e.table in specs and e.key_table in specs
        ]
        doc_rows &= set(specs)
    # container-level mixed: global elements whose own type admits char
    # data among element children (gates the container _VALUE check)
    mixed_containers: set = set()
    for gname, gel in ctx.elements.items():
        _k, gpayload = _element_type(gel, ctx)
        if not isinstance(gpayload, ET.Element):
            continue
        gcc = gpayload.find(_xs("complexContent"))
        m = (
            gcc.get("mixed") if gcc is not None
            and gcc.get("mixed") is not None else gpayload.get("mixed")
        )
        if m == "true":
            mixed_containers.add(gname)
    return CompiledXsd(
        specs=specs,
        external_keyrefs=tuple(external),
        restrictions=tuple(ctx.restrictions),
        parent_of=parent_of,
        column_paths=column_paths,
        skipped_paths={
            name: frozenset(ctx.skipped.get(name, ())) for name in tables
        },
        simple_rows=frozenset(detected_simple),
        doc_rows=frozenset(doc_rows),
        wildcards={
            name: tuple(ctx.wildcards.get(name, ())) for name in specs
        },
        mixed_paths={
            name: frozenset(ctx.mixed.get(name, ())) for name in specs
        },
        mixed_containers=frozenset(mixed_containers),
        target_namespace=root.get("targetNamespace") or "",
        global_elements=frozenset(ctx.elements),
        preserve_space=frozenset(preserve_space),
        nested_tables={
            n: nt for n, nt in nested_meta.items() if n in specs
        },
        xsi_overlays={
            n: o for n, o in xsi_overlays.items() if n in specs
        },
        declared_types=declared_types,
        subst_overlays={
            n: o for n, o in subst_overlays.items() if n in specs
        },
        alt_overlays={
            n: tuple(o) for n, o in alt_overlays.items() if n in specs
        },
        particle_rank={
            n: r for n, r in particle_rank.items() if n in specs
        },
    )


def xsd_to_spec(
    source: Union[str, os.PathLike],
    row_element: Optional[str] = None,
    **kwargs,
) -> S.TableSpec:
    """Single-table convenience: ``XMLSchema('x.xsd')`` → one TableSpec."""
    compiled = compile_xsd(
        source,
        row_elements=[row_element] if row_element else None,
        **kwargs,
    )
    return compiled.spec(row_element)
