"""Schema-document meta-validation: is the ``.xsd`` itself a valid schema?

The reference reports schema-construction errors through the same error
channel as instance errors (``XMLSchema(..., validation='lax')`` collects
them; the testfiles manifest asserts exact ``--errors=N`` counts for
invalid schema DOCUMENTS — e.g. ``features/models/illegal-occurs.xsd
--errors=2``).  This module is the engine's twin for that channel: a
driver-side, namespace-aware checker over the XSD DOM that reports one
:class:`SchemaError` per violation.  Schema documents are small driver-side
artifacts — none of this touches the distributed data path.

Implemented check families (each cites the reference machinery it mirrors):

* **version gating** — XSD 1.1-only elements (``xs:alternative``,
  ``xs:assert``, ``xs:openContent`` …) and attributes (``defaultAttributes``,
  ``defaultAttributesApply``, ``notNamespace`` …) are errors under 1.0
  (validators/schemas.py XSD_VERSION handling);
* **illegal attributes / children** — per-element allowed sets from the
  schema-for-schemas (xsdbase.py:117-146 ``_parse`` attribute validation;
  features/models/illegal-attributes.xsd, illegal-declarations.xsd,
  issues/issue_009);
* **number sanity** — malformed or inverted occurrence bounds
  (particles.py:77-108; illegal-occurs.xsd) and non-integer length/digit
  facet values;
* **circular model groups** — group reference cycles
  (groups.py circularity checks; circular_model.xsd, recursive-groups.xsd);
* **Unique Particle Attribution** — overlapping element particles
  (substitution-group aware) in all/choice, and ambiguous adjacency in
  sequences, wildcards included (models.py ``check_model``;
  invalid_models1.xsd, invalid_models2.xsd);
* **namespace-aware reference resolution** — every QName reference must
  resolve in its own document's namespace context, chameleon includes adopt
  the including document's targetNamespace, a foreign-namespace reference
  requires a matching ``xs:import``, a global is declared once per
  namespace (loaders.py:84-167; default_ns_invalid.xsd, import-case1/2,
  include-case4/6/7).  The document graph, its global components and the
  reference walk come from ``xsd_compile.load_schema_graph``,
  ``schema_components`` and ``reference_problems``, which the compiler
  reads too;
* **derivation checks** — enumeration restrictions must narrow the base's
  enumeration (issue #202), ``xs:list`` items must be atomic (list_types
  .xsd), complexContent extension of a mixed base must stay mixed
  (complex-extensions.xsd), a 1.0 choice restriction must keep base order
  (issue_203), a sequence restriction cannot drop a required base particle
  (invalid-restrictions2.xsd).

Checks are deliberately CONSERVATIVE: a construct outside the implemented
families is never guessed at — the validator reports nothing rather than a
false positive (regression-tested against every zero-error reference
schema in tests/test_xsd_meta.py).
"""

from __future__ import annotations

import os
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field
from typing import Optional, Union

from sissaschool_xmlschema_spark.xsd_compile import (
    _VALUE_FACETS,
    XSD_NS,
    Components,
    SchemaDoc,
    XsdCompileError,
    _MODEL_GROUPS,
    _count,
    _derivations,
    _effective_mixed,
    _ns_admits,
    _xs,
    load_schema_graph,
    reference_problems,
    schema_components,
)

def _localtag(elem: ET.Element) -> str:
    return elem.tag.split("}")[-1]


@dataclass(frozen=True)
class SchemaError:
    """One schema-document violation (the reference's parse-error rows)."""

    location: str  # document + component hint
    code: str  # stable check id, e.g. 'upa-violation'
    reason: str


@dataclass
class _Ctx:
    version: str
    docs: list = field(default_factory=list)
    errors: list = field(default_factory=list)
    reg: Optional[Components] = None

    def err(self, where: str, code: str, reason: str) -> None:
        self.errors.append(SchemaError(where, code, reason))


def _load(ctx: _Ctx, source, base_dir: Optional[str]) -> None:
    """The schema graph, its global components and its documents' errors:
    one that is not a schema, an included one (also redefined or
    overridden) whose targetNamespace differs from its includer's
    (loaders.py include rules), a global declared twice in one namespace.
    Unreachable locations are hints, not errors."""
    graph = load_schema_graph(source, base_dir)
    ctx.docs = graph.docs
    for path, code, detail in graph.failures:
        where = os.path.basename(path) if path else "<string>"
        ctx.err(where, code, detail if code == "not-well-formed"
                else f"root element is not xs:schema in {where}")
    for doc in ctx.docs:
        if doc.via is None or _localtag(doc.via) == "import":
            continue
        adopted = doc.parent.effective_tns
        if doc.tns is not None and doc.tns != (adopted or None):
            ctx.err(
                doc.where, "include-namespace-mismatch",
                f"xs:{_localtag(doc.via)} of a document with a different "
                f"targetNamespace {doc.tns!r} (including document: "
                f"{adopted!r}) — loaders.py include rules",
            )
    ctx.reg = schema_components(graph)
    for doc, kind, name in ctx.reg.duplicates:
        ctx.err(
            doc.where, "duplicate-declaration",
            f"global xs:{kind} {name!r} already declared in the "
            "assembled schema (loaders.py: a name registers once "
            "per namespace)",
        )


# ---------------------------------------------------------------------------
# per-element legality tables (schema-for-schemas subset)
# ---------------------------------------------------------------------------

_COMMON = {"id"}
_ALLOWED_ATTRS = {
    "schema": _COMMON | {
        "attributeFormDefault", "blockDefault", "elementFormDefault",
        "finalDefault", "targetNamespace", "version",
    },
    "annotation": _COMMON,
    "documentation": {"source"},
    "appinfo": {"source"},
    "element": _COMMON | {
        "name", "ref", "type", "substitutionGroup", "default", "fixed",
        "form", "maxOccurs", "minOccurs", "nillable", "abstract", "block",
        "final",
    },
    "attribute": _COMMON | {
        "name", "ref", "type", "use", "default", "fixed", "form",
    },
    "complexType": _COMMON | {"name", "abstract", "mixed", "block", "final"},
    "simpleType": _COMMON | {"name", "final"},
    "restriction": _COMMON | {"base"},
    "extension": _COMMON | {"base"},
    "sequence": _COMMON | {"maxOccurs", "minOccurs"},
    "choice": _COMMON | {"maxOccurs", "minOccurs"},
    "all": _COMMON | {"maxOccurs", "minOccurs"},
    "group": _COMMON | {"name", "ref", "maxOccurs", "minOccurs"},
    "attributeGroup": _COMMON | {"name", "ref"},
    "anyAttribute": _COMMON | {"namespace", "processContents"},
    "any": _COMMON | {
        "namespace", "processContents", "maxOccurs", "minOccurs",
    },
    "include": _COMMON | {"schemaLocation"},
    "import": _COMMON | {"schemaLocation", "namespace"},
    "redefine": _COMMON | {"schemaLocation"},
    "override": _COMMON | {"schemaLocation"},
    "list": _COMMON | {"itemType"},
    "union": _COMMON | {"memberTypes"},
    "simpleContent": _COMMON,
    "complexContent": _COMMON | {"mixed"},
    "unique": _COMMON | {"name"},
    "key": _COMMON | {"name"},
    "keyref": _COMMON | {"name", "refer"},
    "selector": _COMMON | {"xpath"},
    "field": _COMMON | {"xpath"},
    "notation": _COMMON | {"name", "public", "system"},
    "alternative": _COMMON | {"test", "type"},
    "assert": _COMMON | {"test"},
    "assertion": _COMMON | {"test"},
    "openContent": _COMMON | {"mode"},
    "defaultOpenContent": _COMMON | {"mode", "appliesToEmpty"},
}
_FACETS = (
    "length", "minLength", "maxLength", "pattern", "enumeration",
    "whiteSpace", "maxInclusive", "maxExclusive", "minInclusive",
    "minExclusive", "totalDigits", "fractionDigits", "explicitTimezone",
)
for _f in _FACETS:
    _ALLOWED_ATTRS[_f] = _COMMON | {"value", "fixed"}

# attributes legal only under XSD 1.1 (schemas.py XSD_VERSION gating)
_XSD11_ATTRS = {
    "schema": {"defaultAttributes", "xpathDefaultNamespace"},
    "complexType": {"defaultAttributesApply"},
    "element": {"targetNamespace"},
    "attribute": {"targetNamespace", "inheritable"},
    "any": {"notNamespace", "notQName"},
    "anyAttribute": {"notNamespace", "notQName"},
    "unique": {"ref"},
    "key": {"ref"},
    "keyref": {"ref"},
    "selector": {"xpathDefaultNamespace"},
    "field": {"xpathDefaultNamespace"},
}
# elements legal only under XSD 1.1
_XSD11_ELEMENTS = {
    "alternative", "assert", "assertion", "openContent",
    "defaultOpenContent", "override", "explicitTimezone",
}

_SCHEMA_CHILDREN = {
    "include", "import", "redefine", "override", "annotation",
    "defaultOpenContent", "simpleType", "complexType", "group",
    "attributeGroup", "element", "attribute", "notation",
}
_COMPLEXTYPE_CHILDREN = {
    "annotation", "openContent", "group", "all", "choice", "sequence",
    "attribute", "attributeGroup", "anyAttribute", "assert",
    "simpleContent", "complexContent",
}

# ---------------------------------------------------------------------------
# individual checks
# ---------------------------------------------------------------------------


def _walk(doc: SchemaDoc):
    """(element, parents) for every descendant, skipping annotations."""
    stack = [(doc.root, [])]
    while stack:
        el, parents = stack.pop()
        yield el, parents
        if _localtag(el) == "annotation":
            continue
        for child in el:
            stack.append((child, parents + [el]))


def _check_syntax(ctx: _Ctx, doc: SchemaDoc) -> None:
    """Attribute/child legality + version gating (xsdbase.py:117-146)."""
    for el, parents in _walk(doc):
        if el.tag.startswith("{") and not el.tag.startswith(_xs("")):
            continue  # foreign-namespace element (legal inside appinfo etc.)
        tag = _localtag(el)
        if tag in _XSD11_ELEMENTS and ctx.version == "1.0":
            ctx.err(
                doc.where, "xsd11-only",
                f"xs:{tag} is an XSD 1.1 construct, illegal under 1.0",
            )
            continue
        allowed = _ALLOWED_ATTRS.get(tag)
        if allowed is not None:
            v11 = _XSD11_ATTRS.get(tag, set())
            for aname in el.attrib:
                if aname.startswith("{"):
                    continue  # qualified foreign attributes are open
                if aname in v11:
                    if ctx.version == "1.0":
                        ctx.err(
                            doc.where, "xsd11-only",
                            f"attribute {aname!r} on xs:{tag} is an XSD "
                            "1.1 construct, illegal under 1.0",
                        )
                    continue
                if aname not in allowed:
                    ctx.err(
                        doc.where, "illegal-attribute",
                        f"attribute {aname!r} not allowed on xs:{tag}",
                    )
    # children of xs:schema
    for child in doc.root:
        if not child.tag.startswith(_xs("")):
            continue
        tag = _localtag(child)
        if tag not in _SCHEMA_CHILDREN:
            ctx.err(
                doc.where, "unexpected-declaration",
                f"xs:{tag} is not allowed as a child of xs:schema",
            )
    # children of complexType: simple/complexContent excludes siblings;
    # element-only models exclude direct xs:element children (issue_009)
    for el, parents in _walk(doc):
        if el.tag != _xs("complexType"):
            continue
        kids = [c for c in el if c.tag.startswith(_xs(""))]
        has_content = any(
            _localtag(c) in ("simpleContent", "complexContent")
            for c in kids
        )
        for c in kids:
            tag = _localtag(c)
            if has_content:
                if tag not in ("annotation", "simpleContent",
                               "complexContent"):
                    ctx.err(
                        doc.where, "unexpected-declaration",
                        f"xs:{tag} not allowed next to simpleContent/"
                        "complexContent in xs:complexType "
                        f"{el.get('name') or '(anonymous)'}",
                    )
            elif tag not in _COMPLEXTYPE_CHILDREN:
                ctx.err(
                    doc.where, "unexpected-declaration",
                    f"xs:{tag} not allowed as a direct child of "
                    f"xs:complexType {el.get('name') or '(anonymous)'}",
                )


def _bounds(el: ET.Element) -> Optional[tuple]:
    """``(minOccurs, maxOccurs)`` of a particle (maxOccurs None =
    unbounded); None when either is malformed (:func:`_check_numbers`
    reports that)."""
    try:
        return _count(el, "minOccurs", "1"), _count(el, "maxOccurs", "1")
    except XsdCompileError:
        return None


def _check_numbers(ctx: _Ctx, doc: SchemaDoc) -> None:
    """Malformed occurrence bounds, minOccurs > maxOccurs
    (particles.py:77-108) and non-integer length/digit facet values."""
    for el, parents in _walk(doc):
        if not el.tag.startswith(_xs("")):
            continue
        if _localtag(el) in _VALUE_FACETS:
            try:
                _count(el, "value")
            except XsdCompileError as err:
                ctx.err(doc.where, "illegal-facet-value", str(err))
        mn, mx = el.get("minOccurs"), el.get("maxOccurs")
        if mn is None and mx is None:
            continue
        bounds = _bounds(el)
        if bounds is None:
            ctx.err(doc.where, "illegal-occurs",
                    f"non-numeric occurs bounds ({mn}, {mx})")
        elif mn is not None and mx is not None and bounds[1] is not None \
                and bounds[0] > bounds[1]:
            ctx.err(
                doc.where, "illegal-occurs",
                f"minOccurs {mn} > maxOccurs {mx} on xs:"
                f"{_localtag(el)} "
                f"{el.get('name') or el.get('ref') or ''}".strip(),
            )


def _particle_group_refs(node: ET.Element):
    """Local names of the xs:group references among ``node``'s model-group
    particles.  An element declaration's content is not followed: a group
    reached again below an element is recursion through that element, not
    a circular group."""
    for sub in node:
        if sub.tag == _xs("group") and sub.get("ref"):
            yield sub.get("ref").rpartition(":")[-1]
        elif sub.tag in _MODEL_GROUPS:
            yield from _particle_group_refs(sub)


def _check_group_cycles(ctx: _Ctx) -> None:
    """Named-group reference cycles among model-group particles
    (groups.py circularity; circular_model.xsd, recursive-groups.xsd): one
    error per cycle."""
    graph: dict = {}
    homes: dict = {}
    for doc in ctx.docs:
        for g in doc.root.findall(_xs("group")):
            name = g.get("name")
            if not name:
                continue
            graph[name] = set(_particle_group_refs(g))
            homes[name] = doc.where
    # one error per distinct cycle (set of participating groups)
    seen_cycles: set = set()
    for start in graph:
        stack = [(start, (start,))]
        while stack:
            node, path = stack.pop()
            for nxt in graph.get(node, ()):
                if nxt == start:
                    cyc = frozenset(path)
                    if cyc not in seen_cycles:
                        seen_cycles.add(cyc)
                        ctx.err(
                            homes[start], "circular-group",
                            "circular xs:group reference: "
                            + " -> ".join(path + (start,)),
                        )
                elif nxt in graph and nxt not in path:
                    stack.append((nxt, path + (nxt,)))


# --- UPA ---------------------------------------------------------------


def _name(el: ET.Element) -> str:
    """Local name an element particle declares or refers to."""
    return el.get("name") or (el.get("ref") or "").rpartition(":")[-1]


def _abstract(ctx: _Ctx, uri: Optional[str], local: str) -> bool:
    decl = ctx.reg.lookup(("element",), uri, local)
    return decl is not None and decl.get("abstract") == "true"


def _repeats(el: ET.Element) -> bool:
    """A particle that can occur more often than its minimum."""
    bounds = _bounds(el)
    return bounds is not None and (bounds[1] is None
                                   or bounds[1] > bounds[0])


def _particle_names(ctx: _Ctx, doc: SchemaDoc, el: ET.Element):
    """Name set {(uri, local)} of one element particle, substitution
    members included, abstract heads excluded (models.py distinguishable
    particles)."""
    ref = el.get("ref")
    if ref:
        uri = doc.uri_of(el, ref)
        local = ref.rpartition(":")[-1]
    else:
        local = el.get("name") or ""
        form = el.get("form") or doc.root.get("elementFormDefault",
                                              "unqualified")
        uri = doc.effective_tns if form == "qualified" else ""
    names = set()
    if not _abstract(ctx, uri, local):
        names.add((uri, local))
    stack = [(uri, local)]
    seen = set(stack)
    while stack:
        head = stack.pop()
        for member in ctx.reg.members.get(head, ()):
            if member not in seen:
                seen.add(member)
                names.add(member)
                stack.append(member)
    return names


def _check_upa(ctx: _Ctx, doc: SchemaDoc) -> None:
    """Unique Particle Attribution over direct element/wildcard particles
    of each model group (models.py check_model; invalid_models1/2.xsd):
    all/choice — any overlapping pair; sequence — an adjacent pair where
    the first can repeat beyond its minimum."""
    tns = doc.effective_tns
    for el, parents in _walk(doc):
        if el.tag not in (_xs("sequence"), _xs("choice"), _xs("all")):
            continue
        particles = []
        for c in el:
            if c.tag == _xs("element"):
                particles.append(("elem", c, _particle_names(ctx, doc, c)))
            elif c.tag == _xs("any"):
                particles.append(
                    ("wild", c, c.get("namespace", "##any"))
                )
            elif c.tag in (_xs("sequence"), _xs("choice"), _xs("all"),
                           _xs("group")):
                particles.append(("compound", c, None))

        def overlap(p1, p2):
            k1, _e1, s1 = p1
            k2, _e2, s2 = p2
            if "compound" in (k1, k2):
                return False  # conservative: no first-set analysis
            if k1 == "elem" and k2 == "elem":
                return bool(s1 & s2)
            if k1 == "wild" and k2 == "wild":
                return False  # no reference case; stay conservative
            wild_ns = s1 if k1 == "wild" else s2
            names = s2 if k1 == "wild" else s1
            # an unbound prefix (None) overlaps ##any alone
            return any(
                _ns_admits(wild_ns, u, tns) if u is not None
                else wild_ns == "##any"
                for u, _n in names
            )

        tag = _localtag(el)
        if tag in ("choice", "all"):
            for i in range(len(particles)):
                for j in range(i + 1, len(particles)):
                    if overlap(particles[i], particles[j]):
                        ctx.err(
                            doc.where, "upa-violation",
                            f"ambiguous particles in xs:{tag} "
                            "(Unique Particle Attribution)",
                        )
        else:  # sequence: ambiguity needs a repeatable prefix particle
            for i in range(len(particles) - 1):
                if _repeats(particles[i][1]) and overlap(particles[i],
                                                     particles[i + 1]):
                    ctx.err(
                        doc.where, "upa-violation",
                        "ambiguous adjacent particles in xs:sequence "
                        "(Unique Particle Attribution)",
                    )


# --- derivation checks ----------------------------------------------------


def _resolve_type_chain(ctx: _Ctx, el: ET.Element, qname: str,
                        limit: int = 20) -> list:
    """The global simpleTypes a restriction chain passes, starting at
    the one ``qname`` names at ``el``."""
    chain = []
    cur, cur_q = el, qname
    while cur_q and limit:
        limit -= 1
        if ctx.reg.uri(cur, cur_q) == XSD_NS:
            break
        st = ctx.reg.resolve(("simpleType",), cur, cur_q)
        if st is None:
            break
        chain.append(st)
        r = st.find(_xs("restriction"))
        if r is None:
            break
        cur, cur_q = r, r.get("base")
    return chain


def _check_derivations(ctx: _Ctx, doc: SchemaDoc) -> None:
    for el, parents in _walk(doc):
        if el.tag == _xs("list"):
            item = el.get("itemType")
            if item:
                chain = _resolve_type_chain(ctx, el, item)
                if chain and chain[0].find(_xs("list")) is not None:
                    ctx.err(
                        doc.where, "list-of-list",
                        f"xs:list itemType {item!r} is itself a list type "
                        "(items must be atomic or atomic unions)",
                    )
        elif el.tag == _xs("restriction") and any(
            p.tag == _xs("simpleType") for p in parents[-1:]
        ):
            # enumeration narrowing (issue #202): every derived value must
            # be in the NEAREST base enumeration set
            derived = [
                e.get("value") for e in el.findall(_xs("enumeration"))
            ]
            if not derived:
                continue
            base = el.get("base")
            if not base:
                continue
            for st in _resolve_type_chain(ctx, el, base):
                r = st.find(_xs("restriction"))
                if r is None:
                    break
                base_enum = {
                    e.get("value") for e in r.findall(_xs("enumeration"))
                }
                if base_enum:
                    for v in derived:
                        if v not in base_enum:
                            ctx.err(
                                doc.where, "enumeration-not-in-base",
                                f"enumeration value {v!r} is not valid "
                                "for the base type's enumeration",
                            )
                    break
        elif el.tag == _xs("complexContent"):
            ct = parents[-1] if parents else None
            if ct is None or ct.tag != _xs("complexType"):
                continue
            _check_complex_content(ctx, doc, ct, el)


def _model_group_of(ct_or_deriv: ET.Element):
    for tag in ("sequence", "choice", "all"):
        g = ct_or_deriv.find(_xs(tag))
        if g is not None:
            return g
    # a derived base: the derivation node's OWN group (its additions) —
    # issue_265's FullStudentInfo declares studienliste inside its
    # complexContent extension
    derivs = _derivations(ct_or_deriv.find(_xs("complexContent")))
    return _model_group_of(derivs[0]) if derivs else None


def _check_complex_content(ctx: _Ctx, doc: SchemaDoc, ct: ET.Element,
                           cc: ET.Element) -> None:
    """complexContent derivation legality (complex_types.py derivation
    checks): mixed-content mismatch on extension (complex-extensions.xsd),
    1.0 base-order violation for choice restrictions (issue_203), dropped
    required particles in sequence restrictions (invalid-restrictions2)."""
    for deriv in _derivations(cc):
        deriv_tag = _localtag(deriv)
        base_q = deriv.get("base")
        if not base_q:
            continue
        base_ct = ctx.reg.resolve(("complexType",), deriv, base_q)
        if base_ct is None:
            continue  # unresolved base is the reference checker's job
        base_group = _model_group_of(base_ct)
        deriv_group = _model_group_of(deriv)
        if deriv_tag == "extension":
            if (
                _effective_mixed(base_ct)
                and base_group is not None
                and deriv_group is not None
                and not _effective_mixed(ct)
            ):
                ctx.err(
                    doc.where, "mixed-content-mismatch",
                    f"complexContent extension of mixed base {base_q!r} "
                    "adds element content but is not declared mixed "
                    "(content types must agree)",
                )
            continue
        # restriction checks need both groups
        if base_group is None or deriv_group is None:
            continue
        base_names = [
            _name(c) for c in base_group if c.tag == _xs("element")
        ]
        deriv_names = [
            _name(c) for c in deriv_group if c.tag == _xs("element")
        ]
        if (
            ctx.version == "1.0"
            and _localtag(base_group) == "choice"
            and _localtag(deriv_group) == "choice"
            and all(n in base_names for n in deriv_names)
        ):
            # 1.0 requires restriction items in base order (issue_203)
            it = iter(base_names)
            if not all(n in it for n in deriv_names):
                ctx.err(
                    doc.where, "restriction-order",
                    f"restriction of {base_q!r}: choice items not in the "
                    "base type's order (XSD 1.0 derivation rule)",
                )
        if _localtag(base_group) == "sequence":
            # a required base particle cannot vanish from the restriction;
            # a substitution MEMBER standing in for the head satisfies it
            # but is itself version-gated (invalid-restrictions1: W3C bug
            # 4147 — illegal under 1.0 unless the head is abstract, legal
            # under 1.1 unless the member particle can repeat)
            deriv_particles: dict = {}
            for c in deriv_group.iter(_xs("element")):
                deriv_particles.setdefault(_name(c), c)
            for c in base_group:
                if c.tag != _xs("element"):
                    continue
                bounds = _bounds(c)
                if bounds is None or bounds[0] < 1:
                    continue
                ref = c.get("ref")
                nm = _name(c)
                if nm in deriv_particles:
                    continue
                huri = (
                    doc.uri_of(c, ref) if ref else doc.effective_tns
                )
                members = {
                    m_local
                    for m_uri, m_local in ctx.reg.members.get((huri, nm), ())
                }
                standing = sorted(members & set(deriv_particles))
                if standing:
                    if _abstract(ctx, huri, nm):
                        continue  # head can't appear: no ambiguity
                    p = deriv_particles[standing[0]]
                    if ctx.version == "1.0" or _repeats(p):
                        ctx.err(
                            doc.where, "restriction-substituted-head",
                            f"restriction of {base_q!r} replaces head "
                            f"particle {nm!r} with substitution member "
                            f"{standing[0]!r} (illegal under XSD "
                            "1.0; ambiguous when repeatable under 1.1)",
                        )
                    continue
                ctx.err(
                    doc.where, "restriction-drops-required",
                    f"restriction of {base_q!r} drops required "
                    f"particle {nm!r} (occurrence violation / "
                    "not-emptiable particle)",
                )


def _check_default_attributes(ctx: _Ctx, doc: SchemaDoc) -> None:
    """1.1 defaultAttributes must resolve to an attributeGroup
    (default_attributes-missing_group.xsd)."""
    if ctx.version == "1.0":
        return
    da = doc.root.get("defaultAttributes")
    if not da:
        return
    if ctx.reg.resolve(("attributeGroup",), doc.root, da) is None:
        ctx.err(
            doc.where, "unresolved-reference",
            f"defaultAttributes={da!r} does not resolve to a global "
            "attributeGroup",
        )


# ---------------------------------------------------------------------------
# entry points
# ---------------------------------------------------------------------------


def validate_schema_document(
    source: Union[str, os.PathLike],
    version: str = "1.0",
    base_dir: Optional[str] = None,
) -> tuple:
    """All schema-document errors for ``source`` (path or literal XSD).

    The engine's twin of ``XMLSchema(source, validation='lax').all_errors``
    for the implemented check families; ``version`` selects the 1.0/1.1
    legality rules the reference switches on ``--version``."""
    ctx = _Ctx(version=version)
    _load(ctx, source, base_dir)
    for doc in ctx.docs:
        _check_syntax(ctx, doc)
        _check_numbers(ctx, doc)
        _check_upa(ctx, doc)
        for code, reason in reference_problems(ctx.reg, doc):
            ctx.err(doc.where, code, reason)
        _check_derivations(ctx, doc)
        _check_default_attributes(ctx, doc)
    _check_group_cycles(ctx)
    return tuple(ctx.errors)


def count_schema_errors(source, version: str = "1.0",
                        base_dir: Optional[str] = None) -> int:
    """The testfiles ``--errors=N`` number for one schema document."""
    return len(validate_schema_document(source, version, base_dir))
