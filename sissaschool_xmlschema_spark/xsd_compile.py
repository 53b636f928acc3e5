"""XSD schema-document front door: compile real ``.xsd`` files to TableSpecs.

The reference's entry point is ``XMLSchema('schema.xsd')``
(``xmlschema/validators/schemas.py:149``; document loading
``xmlschema/loaders.py:84-167``), which parses the XSD DOM into a component
graph.  This module is the engine's twin for the FLAT-TABLE SUBSET: a
driver-side, pure-Python compiler from the XSD document to
:class:`~sissaschool_xmlschema_spark.spec.TableSpec` dataclasses — executors
never see any of this; they only see the Column plans the spec compiles to.

One loader reads the schema: :func:`load_schema_graph` parses each
document once and follows its include/import/redefine/override locations
(the reference's ``SchemaLoader``).  One registry holds its global
components: :func:`schema_components` keys each by kind, namespace URI and
local name (the reference's ``XsdGlobals``), and every QName reference
resolves in the namespace its own document binds the prefix to.  The
schema-document checker (:mod:`.xsd_meta`) reads the same graph and
registry.  :func:`compile_xsd` is a sequence of phases over one ``_Ctx``:
load, register the global components, detect the tables, flatten them,
overlays (xsi:type, alternatives, substitution members), nested tables,
identities, assemble.

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
  to an overlay column-set the instance reader validates that type's rows
  against, as rows of the row element's table;
* substitution-group members (elements.py:611-621): a global element
  standing in for a row element compiles to an overlay of its own type.

Before the phases, every QName reference is resolved by the schema
checker's walk (:func:`reference_problems`): one naming no component is
a compile error even in a component no table uses.

Deliberately out of scope (recorded in ``CompiledXsd.restrictions``, never
silently dropped): identity constraints selecting a nested table from
outside its parent chain.  Table, column, overlay and identity-constraint
names are local names.
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
XML_NS = "http://www.w3.org/XML/1998/namespace"
XSI_NS = "http://www.w3.org/2001/XMLSchema-instance"


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


def _ns_admits(ns_set: str, uri: Optional[str], target_ns: str) -> bool:
    """Whether a wildcard namespace set admits namespace ``uri``
    (wildcards.py:95-164): '' is no namespace, None an unresolvable
    prefix, a foreign namespace that only ``##any`` and ``##other``
    admit."""
    if ns_set == "##any":
        return True
    if ns_set == "##other":
        return uri != "" and uri != target_ns
    for tok in ns_set.split():
        want = (
            target_ns if tok == "##targetNamespace"
            else "" if tok == "##local" else tok
        )
        if uri == want:
            return True
    return False


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


@dataclass(frozen=True)
class RowType:
    """One type the rows of a table are read and checked against: the
    table's declared type, or an overlay — a type the reference reads
    some of its elements against instead (reference elements.py:657-682
    xsi:type, :1345-1365 xs:alternative, :611-621 substitution member).
    The instance reader walks each row against ``column_paths``,
    ``skipped``, ``wildcards`` and ``mixed``, and checks it with
    ``spec``."""

    kind: str  # 'declared', 'xsi', 'alt' or 'member'
    # the type's local name (None: an anonymous declared type); a
    # member's is the member element's name, which its rows carry
    name: Optional[str]
    # the row checks; an overlay's TableSpec name is its violation path
    # prefix, and its identities the declared type lacks select its rows
    spec: S.TableSpec
    # column -> element-tree path ('@' marks the attribute step)
    column_paths: dict
    # schema-declared subtree paths OUTSIDE the compiled subset (mirrors
    # `restrictions`): not undeclared content
    skipped: frozenset
    # Wildcard markers (xs:any / xs:anyAttribute / xs:openContent): open
    # content the reader must NOT flag as undeclared (skip/lax suppress;
    # strict still requires a declaration)
    wildcards: tuple
    # path tuples whose complexType is mixed="true" (char data admitted;
    # () = the row element's own level)
    mixed: frozenset
    # an alternative arm's @attr='v' test (attr None: the unconditional
    # default arm); None on every other kind
    attr: Optional[str] = None
    value: Optional[str] = None


@dataclass
class CompiledXsd:
    """Result of :func:`compile_xsd`: one TableSpec per row element, plus
    cross-table keyrefs and the list of constructs outside the subset.
    ``row_types`` holds what the instance reader needs of every table:
    its declared :class:`RowType` (whose ``spec`` is ``specs[table]``)
    followed by its overlays."""

    specs: dict
    external_keyrefs: tuple
    restrictions: tuple
    # row element -> its enclosing global element (the per-document
    # container, e.g. car -> cars): what an XML-instance reader uses as the
    # structural rowTag (sources/xml_instance.py)
    parent_of: dict = field(default_factory=dict)
    # table -> (declared RowType, *overlays): the overlays in the
    # reference's order — the types an xsi:type may name, the
    # xs:alternative arms (first match wins, non-matching rows keep the
    # declared type), then the substitution members.  Overlay rows are
    # rows of their table: the table's identities and occurrence bounds
    # count them (sources/xml_instance.py _table_plan).
    row_types: dict = field(default_factory=dict)
    # document-singleton tables: one row per document holding a global
    # element's own non-repeated fields (the element IS the row)
    doc_rows: frozenset = frozenset()
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
    """One compilation: the global components of the schema graph, what
    flattening records per table, and what each phase of
    :func:`compile_xsd` adds for the later ones."""

    root: ET.Element
    reg: Components
    scope_col: str = "doc_id"
    order_col: str = "row_idx"
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
    # names of the xs:group definitions being inlined: each reference
    # inlines a new node, so a group cycle needs its own guard
    group_stack: list = field(default_factory=list)
    # number of cycle cuts taken so far: a global element whose flatten
    # yields NO columns but took a cut still becomes a (zero-column)
    # document table — its content is schema-declared, just recursive
    cycle_cuts: int = 0
    # phase results.  detected: row element -> (particle, ctype, parent
    # global element, eff_min, eff_max); detected_simple: the same for
    # repeated SIMPLE children (menù example shape), facets for ctype
    detected: dict = field(default_factory=dict)
    detected_simple: dict = field(default_factory=dict)
    particle_rank: dict = field(default_factory=dict)
    # table -> [_Column] / identities / Occurs model
    tables: dict = field(default_factory=dict)
    identities: dict = field(default_factory=dict)
    models: dict = field(default_factory=dict)
    doc_rows: set = field(default_factory=set)
    # global complexType -> [(name, complexType)] of the types deriving
    # from it
    derived_of: dict = field(default_factory=dict)
    # table -> its declared type's local name
    declared_names: dict = field(default_factory=dict)
    # table -> {(kind, name, or an arm's position) -> overlay RowType},
    # in the order the phases add them
    overlays: dict = field(default_factory=dict)
    nested: dict = field(default_factory=dict)  # name -> NestedTable
    external: list = field(default_factory=list)  # ExternalKeyrefs

    def mark(self, table: str) -> tuple:
        """What a flatten under ``table`` may record, taken before it:
        :meth:`opened` tells whether the flatten left declared content
        without columns, :meth:`rollback` undoes what it recorded."""
        return (table, len(self.restrictions),
                set(self.skipped.get(table, ())),
                len(self.assertions.get(table, ())),
                len(self.wildcards.get(table, ())),
                set(self.mixed.get(table, ())), len(self.pending_nested),
                self.cycle_cuts)

    def opened(self, mark: tuple, counts=None) -> bool:
        """Whether the flatten since ``mark`` took a recursion cut, met a
        wildcard or mixed content, or queued a nested table (only those
        ``counts`` accepts, when given)."""
        table, _r, _s, _a, n_wild, mixed, n_pend, cuts = mark
        queued = self.pending_nested[n_pend:]
        return (
            self.cycle_cuts > cuts
            or len(self.wildcards.get(table, ())) > n_wild
            or set(self.mixed.get(table, ())) != mixed
            or (any(map(counts, queued)) if counts else bool(queued))
        )

    def rollback(self, mark: tuple) -> None:
        table, n_restr, skipped, n_asserts, n_wild, mixed, n_pend, _c = mark
        del self.pending_nested[n_pend:]
        del self.restrictions[n_restr:]
        for reg, before in ((self.skipped, skipped), (self.mixed, mixed)):
            if before:
                reg[table] = before
            else:
                reg.pop(table, None)
        if table in self.assertions:
            del self.assertions[table][n_asserts:]
        if table in self.wildcards:
            del self.wildcards[table][n_wild:]
            if not self.wildcards[table]:
                del self.wildcards[table]


def _local(qname: Optional[str]) -> str:
    """The local part of a QName ('xs:string' → 'string', 'p:name' →
    'name'): the name a table, column or overlay takes.  References
    resolve through the registry (:func:`_ref`), never by local name."""
    if qname is None:
        return ""
    return qname.split(":", 1)[-1]


# builtins whose facets are no lexical regex (builtin_facets)
_NON_LEXICAL = {
    "string": (), "anySimpleType": (), "anyAtomicType": (), "anyType": (),
    "anyURI": (),
    "boolean": (S.BooleanLexical(),),
    "hexBinary": (S.HexBinary(),),
    "base64Binary": (S.Base64Binary(),),
    "normalizedString": (S.WhiteSpace("replace"),),
    "token": (S.WhiteSpace("collapse"),),
}


# every builtin type name: what builtin_facets compiles and the schema
# checker accepts as an xs: reference
BUILTIN_TYPES = frozenset(XSD_LEXICAL) | frozenset(_NON_LEXICAL)


def _builtin(ctx: _Ctx, node: ET.Element, qname: Optional[str]
             ) -> Optional[str]:
    """The builtin type ``qname`` names at ``node``, by local name: an xs:
    QName naming one, and nothing else, is a builtin."""
    local = _local(qname)
    if qname and local in BUILTIN_TYPES \
            and ctx.reg.uri(node, qname) == XSD_NS:
        return local
    return None


def _ref(ctx: _Ctx, kinds: tuple, node: ET.Element, qname: Optional[str],
         missing: Optional[str] = None) -> Optional[ET.Element]:
    """The global component of one of ``kinds`` that ``qname`` names at
    ``node`` (None when there is none, or raise ``missing`` when given).
    :func:`compile_xsd` has checked every reference's namespace and that
    it names some component (:func:`reference_problems`)."""
    found = ctx.reg.resolve(kinds, node, qname) if qname else None
    if found is None and missing:
        raise XsdCompileError(missing)
    return found


def _effective_mixed(ct: ET.Element) -> bool:
    """A complexType's mixed="true" (complex_types.py:35), overridden by
    its complexContent's own mixed attribute when that is present."""
    cc = ct.find(_xs("complexContent"))
    if cc is not None and cc.get("mixed") is not None:
        return cc.get("mixed") == "true"
    return ct.get("mixed") == "true"


def builtin_facets(local: str, lexical: bool = True) -> tuple:
    """Facet set for one builtin type by local name (builtins.py:72-500).

    ``lexical=False`` suppresses the regex lexical checks — the right setting
    for tables whose columns are already decoded/typed (a parquet int column
    needs no integer-lexical rlike), keeping value-space checks only.
    """
    facets: list = []
    if local in _NON_LEXICAL:
        return _NON_LEXICAL[local]
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


def _binary(facets, codec: str) -> Optional[str]:
    """``codec`` ('hex' | 'base64') when ``facets`` hold that binary
    builtin's lexical check, else None."""
    kind = S.HexBinary if codec == "hex" else S.Base64Binary
    return codec if any(isinstance(f, kind) for f in facets) else None


def _count(node: ET.Element, attr: str, default: Optional[str] = None
           ) -> Optional[int]:
    """The integer ``attr`` of ``node`` (an occurrence bound or a facet
    value, ``default`` when absent); None for maxOccurs="unbounded".  A
    malformed value raises, naming the attribute."""
    text = node.get(attr, default)
    if attr == "maxOccurs" and text == "unbounded":
        return None
    try:
        return int(text)
    except (TypeError, ValueError):
        raise XsdCompileError(
            f"{attr}={text!r} on xs:{node.tag.split('}')[-1]} is not an "
            "integer"
        ) from None


def _parse_bound(text: str):
    """Facet value → int/float when numeric, else the raw string (dates,
    durations compare lexicographically in their canonical forms)."""
    for number in (int, float):
        try:
            return number(text)
        except ValueError:
            pass
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


def _length_bounds(facets: list, lo=None, hi=None) -> tuple:
    """``(lo, hi, rest)``: the length/minLength/maxLength facets folded
    into bounds over ``lo``/``hi``, and the other facets in order."""
    rest: list = []
    for f in facets:
        if isinstance(f, S.Length):
            lo = hi = f.value
        elif isinstance(f, S.MinLength):
            lo = f.value
        elif isinstance(f, S.MaxLength):
            hi = f.value
        else:
            rest.append(f)
    return lo, hi, rest


def _simple_ref(ctx: _Ctx, node: ET.Element, qname: str, where: str
                ) -> tuple:
    """Facets of the simple type ``qname`` names at ``node``: a builtin
    for an xs: QName, else a global simpleType."""
    local = _builtin(ctx, node, qname)
    if local is not None:
        return builtin_facets(local, ctx.lexical)
    return _compile_simple(_ref(
        ctx, ("simpleType",), node, qname,
        f"unresolved simpleType reference {qname!r}",
    ), ctx, where)


def _simple_of(ctx: _Ctx, node: ET.Element, attr: str, where: str) -> tuple:
    """Facets of the simple type ``node`` names in ``attr``, else of its
    inline xs:simpleType child (none for neither)."""
    if node.get(attr):
        return _simple_ref(ctx, node, node.get(attr), where)
    inline = node.find(_xs("simpleType"))
    return () if inline is None else _compile_simple(inline, ctx, where)


def _compile_simple(st: ET.Element, ctx: _Ctx, where: str = "") -> tuple:
    """Compile one xs:simpleType to facets, following restriction chains
    (base facets first — the reference validates base-to-derived,
    simple_types.py:488-503)."""
    restriction = st.find(_xs("restriction"))
    if restriction is not None:
        facets = list(_simple_of(ctx, restriction, "base", where))
        patterns = []
        enums = []
        for child in restriction:
            tag = child.tag.split("}")[-1]
            if tag == "pattern":
                patterns.append(child.get("value"))
            elif tag == "enumeration":
                enums.append(child.get("value"))
            elif tag in _VALUE_FACETS:
                facets.append(_VALUE_FACETS[tag](_count(child, "value")))
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
            facets.append(S.Enumeration(tuple(enums),
                                        canon=_binary(facets, "hex")))
        lof = next((f for f in facets if isinstance(f, S.ListOf)), None)
        if lof is not None:
            # length facets restricting a LIST type bound the ITEM COUNT,
            # not the character count (facets.py XsdGroup list handling;
            # issue_311 'point' = 2-item decimal list)
            lo, hi, facets = _length_bounds(
                [f for f in facets if f is not lof],
                lof.min_items, lof.max_items,
            )
            facets.append(S.ListOf(
                item_facets=lof.item_facets, separator=lof.separator,
                min_items=lo, max_items=hi,
            ))
        codec = _binary(facets, "hex") or _binary(facets, "base64")
        if codec is not None:
            # length facets on BINARY types count decoded octets, not
            # lexical characters (decoder hexCode length=4 admits
            # 'AABBCCDD'); runs after the list fold, so list-item
            # counting wins when both apply
            lo, hi, facets = _length_bounds(facets)
            if lo is not None or hi is not None:
                facets.append(S.BinaryLength(lo, hi, codec=codec))
        return tuple(facets)

    lst = st.find(_xs("list"))
    if lst is not None:
        items = _simple_of(ctx, lst, "itemType", where)
        # keep only value-space item facets (row-context facets like Required
        # are meaningless per list item)
        items = tuple(f for f in items if not isinstance(f, (S.Required,
                                                             S.Prohibited)))
        return (S.ListOf(item_facets=items),)

    union = st.find(_xs("union"))
    if union is not None:
        alts = [
            _simple_ref(ctx, union, m, where)
            for m in (union.get("memberTypes") or "").split()
        ] + [
            _compile_simple(m, ctx, where)
            for m in union.findall(_xs("simpleType"))
        ]
        return (S.UnionOf(alternatives=tuple(alts)),)

    raise XsdCompileError(f"{where}: simpleType without restriction/list/union")


# ---------------------------------------------------------------------------
# complexType flattening
# ---------------------------------------------------------------------------


def _resolve_element(el: ET.Element, ctx: _Ctx) -> ET.Element:
    ref = el.get("ref")
    if ref:
        return _ref(ctx, ("element",), el, ref)
    return el


def _element_type(el: ET.Element, ctx: _Ctx):
    """→ ('simple', facets) | ('complex', ctype_element) for one element."""
    t = el.get("type")
    if t:
        ct = _ref(ctx, ("complexType",), el, t)
        if ct is not None:
            return "complex", ct
        return "simple", _simple_ref(ctx, el, t, el.get("name") or "")
    inline_ct = el.find(_xs("complexType"))
    if inline_ct is not None:
        return "complex", inline_ct
    inline_st = el.find(_xs("simpleType"))
    if inline_st is not None:
        return "simple", _compile_simple(inline_st, ctx, el.get("name") or "")
    # no type = anyType; no constraints
    return "simple", ()


def _flatten_attributes(ct: ET.Element, ctx: _Ctx, prefix: str,
                        cols: list, uniques: list, steps: tuple = (),
                        table: str = "") -> None:
    # named attribute groups (attributes.py XsdAttributeGroup): inline the
    # referenced group's attributes (which may nest further group refs)
    for agref in ct.findall(_xs("attributeGroup")):
        ref = agref.get("ref")
        ag = _ref(ctx, ("attributeGroup",), agref, ref) if ref else agref
        _flatten_attributes(ag, ctx, prefix, cols, uniques, steps, table)
    # xs:anyAttribute (wildcards.py:33-164): open attribute content at this
    # level — recorded as a marker so the instance reader can gate its
    # undeclared-attribute flags (never silently dropped)
    for aw in ct.findall(_xs("anyAttribute")):
        _wildcard(ctx, table, steps, "attribute", aw, "strict")
    for attr in ct.findall(_xs("attribute")):
        ref = attr.get("ref")
        # a reference takes its type and fixed value from the global
        # declaration and its use (and a fixed value of its own) from here
        decl = _ref(ctx, ("attribute",), attr, ref) if ref else attr
        aname = attr.get("name") or _local(ref)
        name = prefix + aname
        facets: list = []
        use = attr.get("use", "optional")
        if use == "required":
            facets.append(S.Required())
        elif use == "prohibited":
            facets.append(S.Prohibited())
        fixed = attr.get("fixed", decl.get("fixed"))
        if fixed is not None:
            facets.append(S.FixedValue(fixed))
        facets.extend(_simple_of(ctx, decl, "type", name))
        if _binary(facets, "hex"):
            # hexBinary fixed values compare in the value space (issue_222)
            facets = [
                S.FixedValue(f.value, canon="hex")
                if isinstance(f, S.FixedValue) else f
                for f in facets
            ]
        cols.append(_Column(name, facets, path=steps + ("@" + aname,)))
        if _builtin(ctx, decl, decl.get("type")) == "ID":
            # xs:ID uniqueness: IDs are unique per document
            # (identities via ID map, attributes ID handling)
            uniques.append(S.Unique(f"{name}-id-unique", fields=(name,),
                                    scope=ctx.scope_col))


def _wildcard(ctx: _Ctx, table: str, steps: tuple, kind: str,
              node: Optional[ET.Element], process: str) -> None:
    """Record one xs:any / xs:anyAttribute / xs:openContent marker of
    ``table`` (``node`` None = an openContent without its xs:any)."""
    ctx.wildcards.setdefault(table, []).append(Wildcard(
        steps, kind,
        "##any" if node is None else node.get("namespace", "##any"),
        process if node is None else node.get("processContents", process),
    ))


def _derived_wins(cols: list) -> None:
    """A derivation that redeclares a base column replaces it in place:
    the later (derived) declaration wins, at the base's position."""
    seen: dict = {}
    for i, c in enumerate(cols):
        if c.name in seen:
            cols[seen[c.name]] = c
            cols[i] = None
        else:
            seen[c.name] = i
    cols[:] = [c for c in cols if c is not None]


_MODEL_GROUPS = (_xs("sequence"), _xs("all"), _xs("choice"))


def _flatten_group(gref: ET.Element, ctx: _Ctx, *args) -> None:
    """Flatten in place the model groups of the xs:group ``gref`` refers
    to (groups.py XsdGroup); ``args`` as for :func:`_flatten_type`.  A
    group reached again while inlined is circular: the error names the
    cycle as the schema checker does, from its member registered first."""
    ref = gref.get("ref")
    g = _ref(ctx, ("group",), gref, ref) if ref else gref
    if ref and g in ctx.group_stack:
        cycle = ctx.group_stack[ctx.group_stack.index(g):]
        order = [el for _name, el in ctx.reg.named("group")]
        k = cycle.index(min((el for el in cycle if el in order),
                            key=order.index))
        names = [el.get("name") for el in cycle[k:] + cycle[:k]]
        raise XsdCompileError(
            "circular xs:group reference: " + " -> ".join(names + names[:1])
        )
    fake = ET.Element(_xs("complexType"))
    fake.extend(sub for sub in g if sub.tag in _MODEL_GROUPS)
    ctx.group_stack.append(g)
    _flatten_type(fake, ctx, *args)
    ctx.group_stack.pop()


def _flatten_type(ct: ET.Element, ctx: _Ctx, prefix: str, cols: list,
                  uniques: list, in_choice: bool, table: str,
                  steps: tuple = (), path_min: int = 1) -> None:
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
        # mixed="true" (complex_types.py:35): char data admitted among the
        # element children — recorded per path so the instance reader gates
        # its char-data check
        if _effective_mixed(ct):
            ctx.mixed.setdefault(table, set()).add(steps)
        # complexContent extension/restriction (complex_types.py derivation):
        # extension = base's content + attributes FOLLOWED BY the derived
        # additions; restriction = the restricted content REPLACES the base's
        # (the restriction repeats what it keeps), base attributes still apply
        cc = ct.find(_xs("complexContent"))
        if cc is not None:
            for deriv in _derivations(cc):
                deriv_tag = deriv.tag.split("}")[-1]
                base_ct = _ref(
                    ctx, ("complexType",), deriv, deriv.get("base"),
                    f"complexContent {deriv_tag} of unresolved base "
                    f"{deriv.get('base')!r}",
                )
                if deriv_tag == "extension":
                    _flatten_type(base_ct, ctx, prefix, cols, uniques,
                                  in_choice, table, steps, path_min)
                else:
                    # restriction: content comes from the derived node only;
                    # the base contributes attributes (they are inherited)
                    _flatten_attributes(base_ct, ctx, prefix, cols, uniques,
                                        steps, table)
                _flatten_type_body(deriv, ctx, prefix, cols, uniques,
                                   in_choice, table, steps, path_min)
                # a restriction (or malformed extension) redeclares base
                # attributes/children it constrains
                _derived_wins(cols)
                useen: set = set()
                uniques[:] = [
                    u for u in uniques
                    if not (u.name in useen or useen.add(u.name))
                ]
            return
        sc = ct.find(_xs("simpleContent"))
        if sc is not None:
            # simpleContent (complex_types.py simple-content derivation): the
            # element's TEXT is a simple-typed value and it carries attributes.
            # Nested form flattens to <elem> (text, at the element's own path)
            # + <elem>_<attr> columns; at the ROW element itself the text is
            # the 'value' column (path () = the row's own text).  An extension
            # takes the facets of a simple base; a RESTRICTION (issue_013)
            # takes a complex base's text column + attributes, narrows the
            # text by its facet children and overrides redeclared attributes.
            derivs = _derivations(sc)
            if not derivs:
                ctx.restrictions.append(
                    f"{table}: simpleContent without extension/restriction "
                    f"under {prefix or 'row'} (skipped)"
                )
                return
            deriv = derivs[0]
            restricts = deriv.tag == _xs("restriction")
            base = deriv.get("base")
            found = _ref(ctx, ("complexType", "simpleType"), deriv, base)
            vname = prefix[:-1] if prefix else "value"
            if restricts and found is not None \
                    and found.tag == _xs("complexType"):
                _flatten_type(found, ctx, prefix, cols, uniques, in_choice,
                              table, steps, path_min)
            elif _builtin(ctx, deriv, base) or (
                found is not None and found.tag == _xs("simpleType")
            ):
                cols.append(_Column(
                    vname, list(_simple_ref(ctx, deriv, base, prefix)),
                    path=steps,
                ))
            elif not restricts:
                cols.append(_Column(vname, [], path=steps))
            else:
                ctx.restrictions.append(
                    f"{table}: simpleContent restriction of unresolved "
                    f"base {base!r} (skipped)"
                )
                return
            if restricts:
                # the restriction step's facet children narrow the TEXT column
                fake = ET.Element(_xs("simpleType"))
                ET.SubElement(fake, _xs("restriction")).extend(
                    child for child in deriv
                    if child.tag.split("}")[-1] not in (
                        "attribute", "attributeGroup", "anyAttribute",
                        "annotation", "assert", "simpleType")
                )
                extra = _compile_simple(fake, ctx, prefix)
                vcol = next((c for c in cols if c.name == vname), None)
                if vcol is not None:
                    vcol.facets.extend(extra)
                else:
                    cols.append(_Column(vname, list(extra), path=steps))
            _flatten_attributes(deriv, ctx, prefix, cols, uniques, steps,
                                table)
            if restricts:
                _derived_wins(cols)
            return
        _flatten_type_body(ct, ctx, prefix, cols, uniques, in_choice, table,
                           steps, path_min)
    finally:
        ctx.flatten_stack.pop()


def _flatten_type_body(ct: ET.Element, ctx: _Ctx, prefix: str, cols: list,
                       uniques: list, in_choice: bool, table: str,
                       steps: tuple = (), path_min: int = 1) -> None:
    """Attributes + model groups of one complexType/derivation node."""
    _flatten_attributes(ct, ctx, prefix, cols, uniques, steps, table)
    # XSD 1.1 xs:openContent (groups.py:425-431): interleave/suffix admit
    # wildcard content anywhere in this level's model — same marker as
    # xs:any; mode="none" disables inherited open content (no marker)
    for oc in ct.findall(_xs("openContent")):
        if oc.get("mode", "interleave") != "none":
            _wildcard(ctx, table, steps, "element", oc.find(_xs("any")),
                      "lax")
    # named model groups (xs:group ref, groups.py XsdGroup): inline the
    # referenced group's own sequence/all/choice as if declared in place
    for gref in ct.findall(_xs("group")):
        _flatten_group(gref, ctx, prefix, cols, uniques, in_choice, table,
                       steps, path_min)
    for group_tag in ("sequence", "all", "choice"):
        for group in ct.findall(_xs(group_tag)):
            child_in_choice = in_choice or group_tag == "choice"
            # xs:choice branches are mutually exclusive: collect each
            # branch's columns for the choice's RowAssertion
            branches: list = []
            # a repeated model group repeats its children (issue_026):
            # they belong in their own tables, not in this row's columns
            gmax = _count(group, "maxOccurs", "1")
            g_repeat = gmax is None or gmax > 1
            gmin = _count(group, "minOccurs", "1")
            # xs:any (wildcards.py:33-164): open element content at this
            # level — marker for the instance reader, never silently dropped
            for anynode in group.findall(_xs("any")):
                _wildcard(ctx, table, steps, "element", anynode, "strict")
            _sweep(ctx, group, ("element", "sequence", "choice", "all",
                                "group", "any", "annotation"),
                   f"{table}: unsupported model-group child", prefix)
            for el in group.findall(_xs("element")):
                branch_start = len(cols)
                decl = _resolve_element(el, ctx)
                name = decl.get("name")
                max_occ = _count(el, "maxOccurs", "1")
                if g_repeat:
                    max_occ = None
                min_occ = _count(el, "minOccurs", "1")
                kind, payload = _element_type(decl, ctx)
                if max_occ is None or max_occ > 1:
                    # a repeated child below a row element: queued for its
                    # own nested table, scoped per parent row; its path is
                    # schema-declared content of this table
                    ctx.pending_nested.append(dict(
                        parent=table, name=name, path=steps + (name,),
                        kind=kind, payload=payload, eff_max=max_occ,
                        eff_min=0 if child_in_choice
                        else path_min * min_occ * (gmin if g_repeat else 1),
                        # declared type NAME: xsi:type overlays on nested
                        # tables resolve derived types from it (issue_314)
                        type_name=_local(decl.get("type") or "")
                        if kind == "complex" else "",
                    ))
                    ctx.skipped.setdefault(table, set()).add(steps + (name,))
                elif kind == "simple":
                    cols += _simple_columns(
                        decl, payload, prefix + name, steps + (name,),
                        required=min_occ >= 1 and not child_in_choice,
                    )
                else:
                    mark, n_cols = ctx.mark(table), len(cols)
                    # a group reached again below an element is recursion
                    # the type guard cuts, not a circular group
                    outer, ctx.group_stack = ctx.group_stack, []
                    _flatten_type(payload, ctx, prefix + name + "_", cols,
                                  uniques, child_in_choice, table,
                                  steps + (name,), path_min * min_occ)
                    ctx.group_stack = outer
                    # a singleton complex child whose subtree produced no
                    # columns but IS open (wildcard/mixed/recursion-cut
                    # content, issue_298's Container->Freeform chain) is
                    # schema-declared: record it so the instance reader
                    # does not flag the subtree as undeclared
                    if len(cols) == n_cols and ctx.opened(mark):
                        ctx.skipped.setdefault(table, set()).add(
                            steps + (name,)
                        )
                if group_tag == "choice" and len(cols) > branch_start:
                    branches.append([c.name for c in cols[branch_start:]])
            for sub in (
                group.findall(_xs("sequence"))
                + group.findall(_xs("choice"))
                + group.findall(_xs("all"))
            ):
                branch_start = len(cols)
                # nested model groups: treat children like the parent's
                ctx.restrictions.append(
                    f"{table}: nested model group under {prefix or 'row'} "
                    "(children compiled, group ordering not enforced)"
                )
                fake = ET.Element(_xs("complexType"))
                fake.append(sub)
                _flatten_type(fake, ctx, prefix, cols, uniques,
                              in_choice or sub.tag == _xs("choice"), table,
                              steps,
                              path_min * _count(sub, "minOccurs", "1"))
                if group_tag == "choice" and len(cols) > branch_start:
                    branches.append([c.name for c in cols[branch_start:]])
            for gref in group.findall(_xs("group")):
                # xs:group ref inside a model group: inline in place
                _flatten_group(gref, ctx, prefix, cols, uniques,
                               child_in_choice, table, steps, path_min)
            if group_tag == "choice" and len(branches) >= 2:
                # at most one branch has a value present: XSD requires
                # exactly one, but a branch whose members are all absent
                # is indistinguishable from an unchosen one on a flat row,
                # so only exclusivity is checkable (models.py ModelVisitor)
                present = " + ".join(
                    "(CASE WHEN ("
                    + " OR ".join(f"{c} IS NOT NULL" for c in b)
                    + ") THEN 1 ELSE 0 END)"
                    for b in branches
                )
                ctx.assertions.setdefault(table, []).append(S.RowAssertion(
                    f"choice-{table}-{prefix or 'row'}-"
                    f"{len(ctx.assertions.get(table, ()))}",
                    f"({present}) <= 1",
                ))
    _sweep(ctx, ct, ("annotation", "attribute", "attributeGroup",
                     "anyAttribute", "openContent", "group", "sequence",
                     "all", "choice", "simpleContent", "complexContent"),
           f"{table}: unsupported complexType child", prefix)


def _sweep(ctx: _Ctx, node: ET.Element, handled: tuple, what: str,
           prefix: str) -> None:
    """The no-silent-drop sweep (the module contract): each child of
    ``node`` outside the ``handled`` set lands in restrictions."""
    for child in node:
        ctag = child.tag.split("}")[-1]
        if ctag not in handled:
            ctx.restrictions.append(
                f"{what} xs:{ctag} under {prefix or 'row'} (skipped)"
            )


def _simple_columns(decl: ET.Element, facets: tuple, name: str,
                    path: tuple, required: bool) -> list:
    """The column of one singleton simple-typed child element, preceded by
    its ``__nil`` column when the element is nillable."""
    facets = list(facets)
    nillable = decl.get("nillable") == "true"
    nil_col = name + "__nil"
    if required:
        # a nilled element is PRESENT (xsi:nil='true' satisfies the
        # occurrence, elements.py:711-728, issue_243): required only where
        # not nilled
        facets.insert(0, S.Required(
            when=(
                f"coalesce(`{nil_col}`, 'false') NOT IN ('true','1')"
            ) if nillable else None
        ))
    if decl.get("fixed") is not None:
        facets.append(S.FixedValue(decl.get("fixed"),
                                   canon=_binary(facets, "hex")))
    cols: list = []
    if nillable:
        facets.append(S.Nillable(nil_col=nil_col, fixed=decl.get("fixed")))
        cols.append(_Column(nil_col, [S.BooleanLexical()],
                            path=path + ("@xsi:nil",)))
    return cols + [_Column(name, facets, path=path)]




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
    return "_".join(t.lstrip("@") for t in [*selector_rest, *field_tokens])


# ---------------------------------------------------------------------------
# the schema loader
# ---------------------------------------------------------------------------

_INCLUSIONS = (_xs("include"), _xs("redefine"), _xs("override"))


@dataclass
class SchemaDoc:
    """One schema document of a :class:`SchemaGraph`."""

    root: ET.Element
    nsmaps: dict  # id(element) -> {prefix: URI} in scope at it
    where: str  # file name, or '<string>' for a literal source
    tns: Optional[str]  # declared targetNamespace (None = absent)
    effective_tns: str  # a chameleon include adopts its includer's
    imports: set  # namespaces this document xs:imports
    # the xs:include/import/redefine/override that reached this document
    # and the document holding it (None for the source)
    via: Optional[ET.Element] = None
    parent: Optional["SchemaDoc"] = None

    def uri_of(self, elem: ET.Element, qname: str) -> Optional[str]:
        """Namespace URI of one QName reference at ``elem`` ('' = no
        namespace, None = unresolvable prefix).  The ``xml`` prefix is
        bound to the xml namespace everywhere (Namespaces in XML, 3).  In
        a chameleon-included document, no-namespace references are
        remapped to the adopted targetNamespace (loaders.py chameleon
        inclusion)."""
        nsmap = self.nsmaps.get(id(elem), {})
        prefix, _, _name = qname.rpartition(":")
        if prefix:
            return nsmap.get(prefix, XML_NS if prefix == "xml" else None)
        uri = nsmap.get("", "")
        if uri == "" and self.tns is None and self.effective_tns:
            return self.effective_tns  # chameleon adoption
        return uri

    def may_reference(self, uri: Optional[str]) -> bool:
        """Whether a reference in this document may name namespace
        ``uri``: no namespace, its own, the XSD, xml and xsi namespaces,
        or one it imports (loaders.py import rules).  None, an unbound
        prefix, is left to resolution."""
        return uri is None or uri in self.imports or uri in (
            "", self.effective_tns, XSD_NS, XML_NS, XSI_NS,
        )


@dataclass
class SchemaGraph:
    """What :func:`load_schema_graph` read.  ``docs``: the source first,
    then each document the first time a reference reaches it.
    ``unresolved``: ``(reference node, directory)`` per located reference
    that could not be followed (directory None: a literal source without
    ``base_dir``).  ``failures``: ``(path, code, detail)`` per document
    that is not a schema — code ``not-well-formed`` (detail: the parser's
    message) or ``not-a-schema`` (detail: the root tag); path None is the
    literal source."""

    docs: list = field(default_factory=list)
    unresolved: list = field(default_factory=list)
    failures: list = field(default_factory=list)


def _parse_with_ns(text: str) -> tuple:
    """``(root, nsmaps)``: the parsed text and, per element, the
    prefix→URI map in scope at it (ElementTree drops xmlns declarations
    from ``attrib``; references resolve in the map of their element)."""
    parser = ET.XMLPullParser(events=("start-ns", "start", "end"))
    parser.feed(text)
    ns_stack: list = [{}]
    pending: list = []
    nsmaps: dict = {}
    root = None
    for event, obj in parser.read_events():
        if event == "start-ns":
            pending.append(obj)
        elif event == "start":
            ns_stack.append({**ns_stack[-1], **dict(pending)})
            nsmaps[id(obj)] = ns_stack[-1]
            pending = []
            if root is None:
                root = obj
        else:
            ns_stack.pop()
    parser.close()
    return root, nsmaps


def load_schema_graph(
    source: Union[str, os.PathLike], base_dir: Optional[str] = None
) -> SchemaGraph:
    """Read ``source`` (a path or a literal XSD string) and every document
    its include/import/redefine/override locations reach, each resolved
    against its referencing document's directory (``base_dir`` anchors a
    literal source): the filesystem subset of the reference's SchemaLoader
    (loaders.py:84-167).  Each path is read once, which cuts include
    cycles (the vehicles example's types.xsd↔cars.xsd); a document's
    includes are followed first, then imports, redefines, overrides."""
    graph = SchemaGraph()
    visited: set = set()

    def load(src, here, via, parent) -> None:
        path = None
        if isinstance(src, str) and src.lstrip().startswith("<"):
            text = src
        else:
            path = os.path.abspath(os.fspath(src))
            if path in visited:
                return
            visited.add(path)
            # decoded text, parsed as text: a file-like source would
            # re-apply the declared encoding to its UTF-8 re-encoding
            text, here = read_xml_text(path), os.path.dirname(path)
        try:
            root, nsmaps = _parse_with_ns(text)
        except ET.ParseError as err:
            graph.failures.append((path, "not-well-formed", str(err)))
            return
        if root.tag != _xs("schema"):
            graph.failures.append((path, "not-a-schema", root.tag))
            return
        tns = root.get("targetNamespace")
        chameleon = via is not None and via.tag in _INCLUSIONS
        doc = SchemaDoc(
            root, nsmaps, os.path.basename(path) if path else "<string>",
            tns,
            tns if tns is not None
            else parent.effective_tns if chameleon else "",
            {n.get("namespace") or "" for n in root.findall(_xs("import"))},
            via, parent,
        )
        graph.docs.append(doc)
        for tag in ("include", "import", "redefine", "override"):
            for node in root.findall(_xs(tag)):
                loc = node.get("schemaLocation")
                if not loc:
                    continue  # location-less import: nothing to fetch
                target = None if here is None else os.path.join(here, loc)
                if target is None or not os.path.exists(target):
                    graph.unresolved.append((node, here))
                else:
                    load(target, None, node, doc)

    load(source, base_dir, None, None)
    return graph


# the kinds of global components, each registered once per namespace
_KINDS = {_xs(k): k for k in ("simpleType", "complexType", "element",
                              "attribute", "group", "attributeGroup",
                              "notation")}
# the kinds an xs:redefine / xs:override child replaces
_REDEFINABLE = ("simpleType", "complexType", "group", "attributeGroup")


@dataclass
class Components:
    """The global components of a :class:`SchemaGraph` (the reference's
    XsdGlobals, xsd_globals.py:51), keyed by ``(kind, namespace URI, local
    name)``: the first declaration of a key wins, the source document
    first (loaders.py:118-167); an xs:redefine / xs:override child
    replaces the component it names and registers before the others.

    ``homes``: each element of the graph -> the :class:`SchemaDoc` holding
    it.  ``duplicates``: ``(doc, kind, name)`` per declaration of a key
    already declared.  ``members``: substitution head ``(uri, name)`` ->
    its members' ``(uri, name)``.  ``originals``: a reference inside an
    xs:redefine child to the name it redefines -> the original definition
    it means (None: the redefined document holds none)."""

    homes: dict
    table: dict = field(default_factory=dict)
    duplicates: list = field(default_factory=list)
    members: dict = field(default_factory=dict)
    originals: dict = field(default_factory=dict)

    def named(self, kind: str) -> list:
        """``(local name, element)`` of each global ``kind``, in
        registration order."""
        return [(k[2], el) for k, el in self.table.items() if k[0] == kind]

    def uri(self, node: ET.Element, qname: str) -> Optional[str]:
        """Namespace URI of ``qname`` read at ``node``
        (:meth:`SchemaDoc.uri_of`)."""
        return self.homes[node].uri_of(node, qname)

    def lookup(self, kinds: tuple, uri: Optional[str], name: str):
        """The global of one of ``kinds`` named ``name`` in namespace
        ``uri`` (None: an unbound prefix, which names no component)."""
        for kind in kinds:
            found = self.table.get((kind, uri, name))
            if found is not None:
                return found
        return None

    def resolve(self, kinds: tuple, node: ET.Element, qname: str):
        """The global of one of ``kinds`` that ``qname`` names at
        ``node``."""
        original = self.originals.get(node)
        if original is not None and _KINDS[original.tag] in kinds:
            return original
        return self.lookup(kinds, self.uri(node, qname),
                           qname.rpartition(":")[-1])


def schema_components(graph: SchemaGraph) -> Components:
    """The :class:`Components` of ``graph``."""
    reg = Components({el: doc for doc in graph.docs
                      for el in doc.root.iter()})
    reached = {id(d.via): d for d in graph.docs if d.via is not None}
    unresolved = {id(node) for node, _here in graph.unresolved}
    for doc in graph.docs:
        for how in ("redefine", "override"):
            for node in doc.root.findall(_xs(how)):
                if not node.get("schemaLocation") or id(node) in unresolved:
                    continue
                target = reached.get(id(node))
                for child in node:
                    kind, name = _KINDS.get(child.tag), child.get("name")
                    if kind not in _REDEFINABLE or name is None:
                        continue  # xs:annotation etc.
                    if how == "redefine":
                        # the canonical pattern derives from its own name:
                        # that reference means the original definition
                        original = None if target is None else next(
                            (o for o in target.root.findall(child.tag)
                             if o.get("name") == name), None)
                        for el in child.iter():
                            if el.tag in (_xs("restriction"),
                                          _xs("extension")):
                                q = el.get("base")
                            elif el.tag in (_xs("group"),
                                            _xs("attributeGroup")) \
                                    and el is not child:
                                q = el.get("ref")
                            else:
                                continue
                            if q is not None and _local(q) == name:
                                reg.originals[el] = original
                    reg.table[(kind, doc.effective_tns, name)] = child
    declared: set = set()
    for doc in graph.docs:
        for child in doc.root:
            kind, name = _KINDS.get(child.tag), child.get("name")
            if kind is None or name is None:
                continue
            key = (kind, doc.effective_tns, name)
            if key in declared:
                reg.duplicates.append((doc, kind, name))
                continue
            declared.add(key)
            reg.table.setdefault(key, child)
            head = child.get("substitutionGroup")
            if kind == "element" and head:
                reg.members.setdefault(
                    (doc.uri_of(child, head), _local(head)), []
                ).append((doc.effective_tns, name))
    # the xml namespace's attributes are predefined unless the schema
    # imports a declaration of them
    root, nsmaps = _parse_with_ns(_XML_XSD)
    xml_doc = SchemaDoc(root, nsmaps, "xml.xsd", XML_NS, XML_NS, set())
    for attr in root:
        reg.table.setdefault(("attribute", XML_NS, attr.get("name")), attr)
    reg.homes.update((el, xml_doc) for el in root.iter())
    return reg


# the predefined xml attributes, typed as the reference's built-in xml.xsd
# types them
_XML_XSD = f"""<xs:schema xmlns:xs="{XSD_NS}" targetNamespace="{XML_NS}">
  <xs:attribute name="lang"><xs:simpleType>
    <xs:union memberTypes="xs:language"><xs:simpleType>
      <xs:restriction base="xs:string"><xs:enumeration value=""/>
      </xs:restriction>
    </xs:simpleType></xs:union>
  </xs:simpleType></xs:attribute>
  <xs:attribute name="space"><xs:simpleType>
    <xs:restriction base="xs:NCName">
      <xs:enumeration value="default"/><xs:enumeration value="preserve"/>
    </xs:restriction>
  </xs:simpleType></xs:attribute>
  <xs:attribute name="base" type="xs:anyURI"/>
  <xs:attribute name="id" type="xs:ID"/>
</xs:schema>"""


# attribute -> the kinds of global component a reference in it names (a
# ``ref`` names its own element's kind: xs:group ref= a group)
_REF_ATTRS = {"type": ("simpleType", "complexType"),
              "base": ("simpleType", "complexType"),
              "itemType": ("simpleType",), "ref": None,
              "substitutionGroup": ("element",)}
_REF_TAGS = ("element", "attribute", "group", "attributeGroup")


def reference_problems(reg: Components, doc: SchemaDoc):
    """``(code, reason)`` for each QName reference in ``doc`` (annotations
    aside) that names no component (loaders.py:118-167): an unknown xs:
    builtin (``unknown-builtin``), a foreign namespace ``doc`` does not
    import (``missing-import``), no global of the referenced kind in the
    reference's namespace, or a prefix bound to none
    (``unresolved-reference``).  The schema checker reports every one;
    :func:`compile_xsd` raises on the first reference error."""
    stack = [doc.root]
    while stack:
        el = stack.pop()
        if el.tag == _xs("annotation"):
            continue
        stack.extend(el)
        if not el.tag.startswith(_xs("")):
            continue
        tag = el.tag[len(_xs("")):]
        qnames = [
            (attr, el.get(attr), kinds or (tag,))
            for attr, kinds in _REF_ATTRS.items()
            if el.get(attr) is not None and (kinds or tag in _REF_TAGS)
        ] + [("memberTypes", m, ("simpleType",))
             for m in (el.get("memberTypes") or "").split()]
        for attr, qname, kinds in qnames:
            uri = doc.uri_of(el, qname)
            prefix, _, local = qname.rpartition(":")
            if uri == XSD_NS:
                if local not in BUILTIN_TYPES and local not in (
                    "IDREFS", "ENTITIES", "NMTOKENS",
                ):
                    yield ("unknown-builtin",
                           f"unknown builtin type xs:{local} "
                           f"({attr} of xs:{tag})")
            elif not doc.may_reference(uri):
                yield ("missing-import",
                       f"{attr}={qname!r} references namespace {uri!r} "
                       f"which {doc.where} does not import "
                       "(loaders.py import rules)")
            elif uri is None:
                yield ("unresolved-reference",
                       f"{attr}={qname!r} on xs:{tag}: prefix {prefix!r} "
                       "is bound to no namespace")
            # same-document inline definitions satisfy a reference only
            # for GLOBAL components; the registry holds exactly those
            elif reg.resolve(kinds, el, qname) is None:
                yield ("unresolved-reference",
                       f"{attr}={qname!r} on xs:{tag} does not resolve to "
                       f"a global {'/'.join(kinds)} in namespace {uri!r}")


# ---------------------------------------------------------------------------
# the compiler phases
# ---------------------------------------------------------------------------


def _load(source, base_dir: Optional[str]) -> tuple:
    """``(graph, notes)``: the schema graph (a document that is not a
    schema raises) and one restriction note per reference that could not
    be followed (recorded loudly, never silently dropped)."""
    graph = load_schema_graph(source, base_dir)
    if graph.failures:
        path, code, detail = graph.failures[0]
        what = path or "source"
        raise XsdCompileError(
            f"{what}: not well-formed XML ({detail})"
            if code == "not-well-formed"
            else f"{what}: root element is {detail!r}, not xs:schema"
        )
    notes = [
        f"xs:{node.tag.split('}')[-1]} {node.get('schemaLocation')!r}: "
        + ("string source has no base directory (pass base_dir=)"
           if here is None else f"not found under {here!r}")
        + " — skipped"
        for node, here in graph.unresolved
    ]
    return graph, notes


def _version_gate(root: ET.Element, version: str) -> Optional[CompiledXsd]:
    """The empty result of a schema this processor version must ignore
    (schemas.py XSD_VERSION; issue_349): under 1.0, vc:minVersion > 1.0
    means no declarations at all — every instance element is then
    undeclared."""
    min_v = root.get(
        "{http://www.w3.org/2007/XMLSchema-versioning}minVersion"
    )
    try:
        inapplicable = bool(min_v) and float(min_v) > float(version)
    except ValueError:
        inapplicable = False
    if not inapplicable:
        return None
    return CompiledXsd(specs={}, external_keyrefs=(), restrictions=(
        f"vc:minVersion {min_v} > processor version {version}: the "
        "schema is inapplicable — no declarations are available",
    ), target_namespace=root.get("targetNamespace") or "")


def _derivations(content: Optional[ET.Element]) -> list:
    """The xs:extension then xs:restriction children of a complexContent
    or simpleContent node (none for None)."""
    if content is None:
        return []
    found = (content.find(_xs(t)) for t in ("extension", "restriction"))
    return [d for d in found if d is not None]


def _model_groups(ctx: _Ctx, ct: ET.Element):
    """Model groups of a complexType, following complexContent extension
    chains (the base's groups first)."""
    cc = ct.find(_xs("complexContent"))
    for node in [ct] if cc is None else _derivations(cc):
        if node.tag == _xs("extension"):
            base = _ref(ctx, ("complexType",), node, node.get("base"))
            if base is not None:
                yield from _model_groups(ctx, base)
        for group_tag in ("sequence", "all", "choice"):
            yield from node.findall(_xs(group_tag))


def _detect_tables(ctx: _Ctx) -> None:
    """A row element is a repeated child directly under a global element's
    complexType (the collection/object shape): complex ones become row
    tables, simple ones one-column tables.  Its parent is the per-document
    singleton whose identity constraints scope to scope_col."""
    n_particles: dict = {}
    for gname, gel in ctx.reg.named("element"):
        _, gpayload = _element_type(gel, ctx)
        if not isinstance(gpayload, ET.Element):
            continue
        for group in _model_groups(ctx, gpayload):
            # a repeated model GROUP repeats its children (issue_026's
            # <xs:sequence maxOccurs="unbounded">): effective occurrence
            # bounds multiply through the group's
            gmax = _count(group, "maxOccurs", "1")
            gmin = _count(group, "minOccurs", "1")
            # a CHOICE picks one branch per repetition: each child's
            # effective minimum is 0 (models.py choice semantics)
            is_choice = group.tag == _xs("choice")
            for el in group.findall(_xs("element")):
                decl = _resolve_element(el, ctx)
                position = n_particles.get(gname, 0)
                n_particles[gname] = position + 1
                max_occ = _count(el, "maxOccurs", "1")
                eff_max = (
                    None if (max_occ is None or gmax is None)
                    else max_occ * gmax
                )
                eff_min = (
                    0 if is_choice
                    else _count(el, "minOccurs", "1") * gmin
                )
                if eff_max is not None and eff_max <= 1:
                    continue
                kind, payload = _element_type(decl, ctx)
                ctx.particle_rank[decl.get("name")] = position
                found = (
                    ctx.detected if kind == "complex"
                    else ctx.detected_simple
                )
                found[decl.get("name")] = (el, payload, gel, eff_min,
                                           eff_max)


def _flat(ctx: _Ctx, ctype: ET.Element, table: str) -> tuple:
    """``(columns, identities)`` of ``ctype`` flattened as the row type of
    ``table`` (the key its skipped paths, wildcards and assertions are
    recorded under)."""
    cols: list = []
    uniques: list = []
    _flatten_type(ctype, ctx, "", cols, uniques, in_choice=False,
                  table=table)
    return cols, uniques


def _occurs(name: str, eff_min: int, eff_max: Optional[int]) -> tuple:
    """Table ``name``'s occurrence bound per container (none when the
    bounds are 0..unbounded)."""
    if eff_min <= 0 and eff_max is None:
        return ()
    return (S.Occurs(f"occurs-{name}", where="TRUE", min_occurs=eff_min,
                     max_occurs=eff_max),)


def _spec(ctx: _Ctx, name: str, cols: list, identities=(), model=(),
          assertions=()) -> S.TableSpec:
    return S.TableSpec(
        name=name,
        scope_col=ctx.scope_col,
        order_col=ctx.order_col,
        columns=tuple(S.ColumnSpec(c.name, tuple(c.facets)) for c in cols),
        identities=tuple(identities),
        model=tuple(model),
        row_assertions=tuple(assertions),
    )


def _flatten_tables(ctx: _Ctx) -> None:
    """Columns of each row element, then the document-singleton tables.

    A global element that CONTAINS row elements may also carry singleton
    simple children / attributes of its own (features/decoder/data:
    config, duration, ... next to the repeated values).  Those flatten
    into a one-row-per-document table named after the global element; its
    repeated children stay in their own tables (recorded as skipped paths
    so the instance reader knows they're schema-declared)."""
    for name, (_el, ctype, _parent, eff_min, eff_max) in \
            ctx.detected.items():
        ctx.tables[name], ctx.identities[name] = _flat(ctx, ctype, name)
        ctx.models[name] = _occurs(name, eff_min, eff_max)
    parent_names = {
        entry[2].get("name")
        for found in (ctx.detected, ctx.detected_simple)
        for entry in found.values()
    }
    if not ctx.detected and not ctx.detected_simple:
        # pure-singleton documents (issue_028's root): every global complex
        # element with flattenable fields becomes a document table
        parent_names = {gname for gname, _gel in ctx.reg.named("element")}
    for gname, gel in ctx.reg.named("element"):
        if gname in ctx.tables or gname in ctx.detected_simple \
                or gname not in parent_names:
            continue
        _, gpayload = _element_type(gel, ctx)
        if not isinstance(gpayload, ET.Element):
            continue
        # speculative flatten: without a singleton column, roll back what
        # it recorded (the repeated children DO have their own tables) —
        # unless the element's content is schema-declared but not
        # column-izable: a recursion cut (import-case4), wildcard/mixed
        # open content (issue_298's Freeform), or repeated descendants
        # that queued NEW nested tables below it (issue_190's root -> a
        # -> choice*); children that already ARE row tables (vehicles'
        # cars/car) contribute nothing — the row path validates them
        mark = ctx.mark(gname)
        cols, uniques = _flat(ctx, gpayload, gname)
        if not cols and not ctx.opened(mark, counts=lambda e: (
            e["name"] not in ctx.tables
            and e["name"] not in ctx.detected_simple
        )):
            ctx.rollback(mark)
            continue
        ctx.doc_rows.add(gname)
        ctx.tables[gname], ctx.identities[gname] = cols, uniques
        ctx.models[gname] = ()


def _row_type(ctx: _Ctx, kind: str, name: Optional[str], key: str,
              spec: S.TableSpec, cols: list, attr: Optional[str] = None,
              value: Optional[str] = None) -> RowType:
    """The :class:`RowType` checked by ``spec`` whose columns ``cols``
    were flattened under ``key`` (see :func:`_flat`)."""
    return RowType(
        kind=kind, name=name, spec=spec,
        column_paths={c.name: c.path for c in cols},
        skipped=frozenset(ctx.skipped.get(key, ())),
        wildcards=tuple(ctx.wildcards.get(key, ())),
        mixed=frozenset(ctx.mixed.get(key, ())),
        attr=attr, value=value,
    )


def _overlay(ctx: _Ctx, table: str, kind: str, name: str,
             ctype: ET.Element, attr: Optional[str] = None,
             value: Optional[str] = None) -> tuple:
    """``(key, n_pend)``: adds to ``table`` the overlay ``kind``/``name``
    of complexType ``ctype``, flattened under ``key``.  Its TableSpec's
    name, the violation path prefix, is ``table@T`` for an xsi:type T,
    the table's own for an alternative arm and the member's for a
    substitution member.  The nested repeated children it queued are
    ``ctx.pending_nested[n_pend:]``."""
    key = {"xsi": f"{table}@{name}", "alt": f"{table}@alt@{name}",
           "member": f"{table}@@{name}"}[kind]
    spec_name = {"xsi": key, "alt": table, "member": name}[kind]
    n_pend = len(ctx.pending_nested)
    cols, uniques = _flat(ctx, ctype, key)
    spec = _spec(ctx, spec_name, cols, uniques,
                 assertions=ctx.assertions.get(key, ()))
    # the reader tells xsi:types and members apart by local name: one of
    # each per name and table, a later one replacing an earlier in place
    overlays = ctx.overlays.setdefault(table, {})
    overlays[kind, len(overlays) if kind == "alt" else name] = _row_type(
        ctx, kind, name, key, spec, cols, attr, value)
    return key, n_pend


def _base_chain(ctx: _Ctx, ct: ET.Element, seen: tuple = ()) -> list:
    """The global complexTypes ``ct`` derives from, nearest first."""
    node = ct.find(_xs("complexContent"))
    if node is None:
        node = ct.find(_xs("simpleContent"))
    for d in _derivations(node):
        if d.get("base"):
            b = _ref(ctx, ("complexType",), d, d.get("base"))
            if b is None or b in seen:
                return []
            return [b] + _base_chain(ctx, b, seen + (b,))
    return []


def _xsi_row_types(ctx: _Ctx, name: str, d_local: str, ctype,
                   nested: bool) -> None:
    """Dynamic type substitution on instances (reference
    elements.py:657-682): for table ``name`` of declared type ``d_local``
    (the complexType ``ctype``), every global complexType DERIVING from it
    compiles to an overlay the instance reader validates rows carrying
    xsi:type=T against.  Nested repeated children found inside a row
    table's overlay become nested tables gated on that xsi:type; below a
    nested table's overlay they are not supported."""
    if d_local:
        ctx.declared_names[name] = d_local
    for T, tct in ctx.derived_of.get(ctype, ()):
        key, n_pend = _overlay(ctx, name, "xsi", T, tct)
        if nested:
            del ctx.pending_nested[n_pend:]
        for ent in ctx.pending_nested[n_pend:]:
            if ent["parent"] == key:
                ent["parent"] = name
                ent["xsi_type"] = T


def _overlays(ctx: _Ctx, version: str) -> None:
    """The overlays of the row tables: xsi:type (:func:`_xsi_row_types`),
    XSD 1.1 conditional type alternatives and substitution-group
    members."""
    for tname, ct in ctx.reg.named("complexType"):
        for b in _base_chain(ctx, ct):
            ctx.derived_of.setdefault(b, []).append((tname, ct))
    for name, (el, ctype, *_rest) in ctx.detected.items():
        decl = _resolve_element(el, ctx)
        _xsi_row_types(ctx, name, _local(decl.get("type") or ""), ctype,
                       nested=False)
    # <xs:alternative test="@mode='A'" type="T"/> children of an element
    # declaration (reference XsdAlternative elements.py:1450-1476,
    # conditional assignment elements.py:1345-1365): instance rows whose
    # test matches validate against T's overlay instead of the declared
    # type.  Supported test subset: @attr='v' equality (and the
    # unconditional final arm); anything richer records a restriction and
    # the arm is not applied — never silently dropped.
    if version != "1.0":
        for name, (el, *_rest) in ctx.detected.items():
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
                tct = _ref(ctx, ("complexType",), arm, arm.get("type"))
                if tct is None:
                    ctx.restrictions.append(
                        f"{name}: xs:alternative type {arm.get('type')!r} "
                        "is not a named complexType (arm not applied)"
                    )
                    continue
                _key, n_pend = _overlay(ctx, name, "alt", tlocal, tct,
                                        attr=attr, value=value)
                del ctx.pending_nested[n_pend:]  # not supported below arms
    # a global element with substitutionGroup=H may stand in for H in the
    # instance (elements.py:611-621): compile the member's type to an
    # overlay the reader validates member rows against, merging them into
    # the head's table for occurrence/identity checks
    for gname, gel in ctx.reg.named("element"):
        head_el = _ref(ctx, ("element",), gel, gel.get("substitutionGroup"))
        head = "" if head_el is None else head_el.get("name")
        if not head or head not in ctx.detected or gname in ctx.detected:
            continue
        # the member stands where its head does: declared content of the
        # document row beside the head's table
        container = ctx.detected[head][2].get("name")
        if container in ctx.doc_rows:
            ctx.skipped.setdefault(container, set()).add((gname,))
        mkind, mpayload = _element_type(gel, ctx)
        if mkind != "complex":
            ctx.restrictions.append(
                f"substitution member {gname!r} of head {head!r} has a "
                "simple type (outside the flat member-overlay subset; "
                "skipped)"
            )
            continue
        key, n_pend = _overlay(ctx, head, "member", gname, mpayload)
        new = ctx.pending_nested[n_pend:]
        for ent in new:
            if ent["parent"] == key:  # not supported below members
                ctx.restrictions.append(
                    f"substitution member {gname!r}: nested repeated "
                    f"child {ent['name']!r} below a member element "
                    "(skipped)"
                )
        ctx.pending_nested[n_pend:] = [
            e for e in new if e["parent"] != key
        ]


def _nested_tables(ctx: _Ctx) -> None:
    """Repeated children BELOW a row element become their own tables
    scoped per parent row (composite doc#parentIndex in the ordinary scope
    column), processed as a queue so nesting levels chain; an element
    already modelled as a table elsewhere keeps its skipped-path marker
    and is not duplicated."""
    qi = 0
    while qi < len(ctx.pending_nested):
        ent = ctx.pending_nested[qi]
        qi += 1
        nname = ent["name"]
        if nname in ctx.tables or nname in ctx.detected_simple \
                or nname in ctx.nested:
            continue
        if len(ent["path"]) > 6:
            ctx.restrictions.append(
                f"{ent['parent']}: nested repeated element {nname} deeper "
                "than 6 levels (skipped)"
            )
            continue
        if ent["kind"] == "simple":
            ctx.tables[nname] = [_Column("value", list(ent["payload"]))]
            ctx.identities[nname] = []
        else:
            ctx.tables[nname], ctx.identities[nname] = _flat(
                ctx, ent["payload"], nname
            )
        ctx.models[nname] = _occurs(nname, ent["eff_min"], ent["eff_max"])
        ctx.nested[nname] = NestedTable(
            parent_table=ent["parent"], rel_path=tuple(ent["path"]),
            xsi_type=ent.get("xsi_type"),
        )
        ctx.particle_rank[nname] = qi
        # the nested table's own derived types (issue_314: <item
        # b:type="Concrete..."> below a doc row)
        _xsi_row_types(ctx, nname, ent["type_name"],
                       ent["payload"] if ent["kind"] == "complex" else None,
                       nested=True)


def _constraints(ctx: _Ctx, el: ET.Element, host: Optional[str]):
    """``(xs:unique/key/keyref node, host element name)`` for every
    identity constraint declared at or below ``el``."""
    for tag in ("unique", "key", "keyref"):
        for node in el.findall(_xs(tag)):
            yield node, host
    for child in el:
        if child.tag == _xs("element"):
            decl = child if child.get("name") else _resolve_element(
                child, ctx
            )
            yield from _constraints(ctx, child, decl.get("name"))
        elif child.tag in (_xs("complexType"),) + _MODEL_GROUPS:
            yield from _constraints(ctx, child, host)


_IDENTITY = {_xs("unique"): S.Unique, _xs("key"): S.Key,
             _xs("keyref"): S.Keyref}


def _identities(ctx: _Ctx) -> None:
    """Identity constraints may sit on ANY element declaration: resolve
    each selector to the table it selects (identities.py:252-337).  A
    keyref whose key lives on another table is an ExternalKeyref."""
    keys_by_name: dict = {}  # key/unique name -> (table, field cols, last)
    keyrefs: list = []
    seen: set = set()
    walks = [(gel, gname) for gname, gel in ctx.reg.named("element")]
    walks += [(ct, None) for _name, ct in ctx.reg.named("complexType")]
    for el, top in walks:
        for node, host in _constraints(ctx, el, top):
            name = node.get("name")
            # a named/ref'd type can be reached from several walks;
            # constraint names are unique per schema — compile once
            if name in seen:
                continue
            seen.add(name)
            sel = node.find(_xs("selector")).get("xpath")
            fields = [f.get("xpath") for f in node.findall(_xs("field"))]
            sel_tokens = _xpath_tokens(sel)
            # locate the table along the selector path
            table = None
            rest: list = []
            last_wins = False
            for i, t in enumerate(sel_tokens):
                if t in ctx.tables:
                    table = t
                    rest = sel_tokens[i + 1:]
                    break
            if table is None and host in ctx.tables and not sel_tokens:
                # constraint declared ON a row element itself with
                # selector '.' (collection3bis): each element is its own
                # scope; the reference propagates the key upward with
                # last-sibling-override, so only the LAST occurrence per
                # document is visible to outer keyrefs
                table = host
                last_wins = True
            if table is None:
                ctx.restrictions.append(
                    f"identity {name!r}: selector {sel!r} does not reach "
                    "a row element (skipped)"
                )
                continue
            # a nested table's scope column is doc#parentIndex — correct
            # exactly when the constraint is declared on an ancestor in
            # its parent chain (issue_245: key on 'part' selecting
            # './/circle')
            if table in ctx.nested and host not in _chain(ctx.nested,
                                                          table):
                ctx.restrictions.append(
                    f"identity {name!r}: selector {sel!r} reaches nested "
                    f"table {table!r} from outside its parent chain (host "
                    f"{host!r}; skipped)"
                )
                continue
            cols = tuple(
                _flatten_field(rest, _xpath_tokens(fx)) for fx in fields
            )
            known = {c.name for c in ctx.tables[table]}
            bad = [c for c in cols if c not in known]
            if bad:
                ctx.restrictions.append(
                    f"identity {name!r}: fields {bad} not columns of "
                    f"{table} (skipped)"
                )
            elif node.tag == _xs("keyref"):
                keyrefs.append((name, table, cols, _local(node.get("refer"))))
            elif last_wins:
                # single-element scope: per-document uniqueness does NOT
                # apply (duplicate sibling keys are legal — the later one
                # overrides); record for keyref resolution
                keys_by_name[name] = (table, cols, True)
            else:
                ctx.identities[table].append(_IDENTITY[node.tag](
                    name, fields=cols, scope=ctx.scope_col
                ))
                keys_by_name[name] = (table, cols, False)
    for name, table, cols, refer in keyrefs:
        if refer not in keys_by_name:
            ctx.restrictions.append(
                f"keyref {name!r}: refers to unknown key {refer!r} (skipped)"
            )
            continue
        key_table, key_cols, last_wins = keys_by_name[refer]
        kr = S.Keyref(
            name, fields=cols, refer_fields=key_cols, scope=ctx.scope_col
        )
        if key_table == table and not last_wins:
            ctx.identities[table].append(kr)
        else:
            ctx.external.append(
                ExternalKeyref(kr, table=table, key_table=key_table,
                               key_selector_cols=key_cols,
                               last_wins=last_wins)
            )


def _chain(nested: dict, table: str) -> list:
    """``table`` and the tables above it, its top row table last."""
    chain = [table]
    while chain[-1] in nested:
        chain.append(nested[chain[-1]].parent_table)
    return chain


def _assemble(ctx: _Ctx, row_elements: Optional[Sequence[str]]
              ) -> CompiledXsd:
    """The TableSpecs and row types of every table, restricted to
    ``row_elements`` (and the nested tables below them) when given."""
    specs = {
        name: _spec(ctx, name, ctx.tables[name], ctx.identities[name],
                    ctx.models[name], ctx.assertions.get(name, ()))
        for name in ctx.tables
    }
    parent_of = {
        name: parent.get("name")
        for name, (_el, _ct, parent, *_b) in ctx.detected.items()
    }
    parent_of.update({name: name for name in ctx.doc_rows})
    # a nested table reads through its TOP row element's container
    for nname in ctx.nested:
        top = _chain(ctx.nested, nname)[-1]
        parent_of[nname] = parent_of.get(top, top)
    columns = dict(ctx.tables)

    def value_table(name, facets, parent, identities=(), model=()):
        columns[name] = [_Column("value", facets)]
        specs[name] = _spec(ctx, name, columns[name], identities, model)
        parent_of[name] = parent

    # repeated SIMPLE children as one-column tables: one row per element
    # occurrence, 'value' = element text carrying the simple type's facets
    for name, (_el, facets, gel, eff_min, eff_max) in \
            ctx.detected_simple.items():
        # element content deriving from xs:ID carries the document-wide ID
        # uniqueness rule (simple_types.py:758-780), same as ID attributes
        idents = (
            (S.Unique(f"{name}-id-unique", fields=("value",),
                      scope=ctx.scope_col),)
            if any(isinstance(f, S.BuiltinLexical) and f.type_name == "ID"
                   for f in facets) else ()
        )
        value_table(name, facets, gel.get("name"), idents,
                    _occurs(name, eff_min, eff_max))
    # global SIMPLE-typed elements as document-value tables (issue_223's
    # shape: the root element IS one simple value).  Only when nothing else
    # was detected — a schema with real row tables keeps auxiliary global
    # simple declarations as declarations, not tables.
    doc_rows = set(ctx.doc_rows)
    preserve_space: set = set()
    if not specs:
        for gname, gel in ctx.reg.named("element"):
            kind, facets = _element_type(gel, ctx)
            if kind != "simple":
                continue
            value_table(gname, facets, gname)
            doc_rows.add(gname)
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
    external = ctx.external
    if row_elements is not None:
        missing = [r for r in row_elements if r not in specs]
        if missing:
            raise XsdCompileError(
                f"row elements {missing} not found as repeated complex "
                f"children of a global element (detected: {sorted(specs)})"
            )
        keep = list(row_elements)
        for nname in ctx.nested:
            if _chain(ctx.nested, nname)[-1] in row_elements \
                    and nname not in keep:
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
    for gname, gel in ctx.reg.named("element"):
        gpayload = _element_type(gel, ctx)[1]
        if isinstance(gpayload, ET.Element) and _effective_mixed(gpayload):
            mixed_containers.add(gname)

    def kept(d: dict) -> dict:
        return {n: v for n, v in d.items() if n in specs}

    return CompiledXsd(
        specs=specs,
        external_keyrefs=tuple(external),
        restrictions=tuple(ctx.restrictions),
        parent_of=parent_of,
        row_types={
            name: (_row_type(ctx, "declared", ctx.declared_names.get(name),
                             name, spec, columns[name]),
                   *ctx.overlays.get(name, {}).values())
            for name, spec in specs.items()
        },
        doc_rows=frozenset(doc_rows),
        mixed_containers=frozenset(mixed_containers),
        target_namespace=ctx.root.get("targetNamespace") or "",
        global_elements=frozenset(
            gname for gname, _gel in ctx.reg.named("element")
        ),
        preserve_space=frozenset(preserve_space),
        nested_tables=kept(ctx.nested),
        particle_rank=kept(ctx.particle_rank),
    )


def compile_xsd(
    source: Union[str, os.PathLike],
    scope_col: str = "doc_id",
    order_col: str = "row_idx",
    row_elements: Optional[Sequence[str]] = None,
    lexical: bool = True,
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
    graph, notes = _load(source, base_dir)
    root = graph.docs[0].root
    gated = _version_gate(root, version)
    if gated is not None:
        return gated
    reg = schema_components(graph)
    for node, original in reg.originals.items():
        if original is None:
            name = _local(node.get("base") or node.get("ref"))
            raise XsdCompileError(
                f"xs:redefine of {name!r}: self-referential derivation but "
                "the original definition was not found in the redefined "
                "document"
            )
    # every reference, also in components no table uses, before any phase
    for doc in graph.docs:
        for code, reason in reference_problems(reg, doc):
            if code != "unknown-builtin":
                raise XsdCompileError(f"{doc.where}: {code}: {reason}")
    ctx = _Ctx(root=root, reg=reg, scope_col=scope_col, order_col=order_col,
               lexical=lexical, restrictions=notes)
    _detect_tables(ctx)
    _flatten_tables(ctx)
    _overlays(ctx, version)
    _nested_tables(ctx)
    _identities(ctx)
    return _assemble(ctx, row_elements)


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
