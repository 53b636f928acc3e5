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
* **occurrence sanity** — ``minOccurs > maxOccurs``
  (particles.py:77-108; illegal-occurs.xsd);
* **circular model groups** — group reference cycles
  (groups.py circularity checks; circular_model.xsd, recursive-groups.xsd);
* **Unique Particle Attribution** — overlapping element particles
  (substitution-group aware) in all/choice, and ambiguous adjacency in
  sequences, wildcards included (models.py ``check_model``;
  invalid_models1.xsd, invalid_models2.xsd);
* **namespace-aware reference resolution** — every QName reference must
  resolve in its own document's namespace context, chameleon includes adopt
  the including document's targetNamespace, a foreign-namespace reference
  requires a matching ``xs:import`` (loaders.py:84-167;
  default_ns_invalid.xsd, import-case1/2, include-case4/6/7);
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

from sissaschool_xmlschema_spark.functions.lexical import XSD_LEXICAL
from sissaschool_xmlschema_spark.xml_text import read_xml_text

XSD_NS = "http://www.w3.org/2001/XMLSchema"
VC_NS = "http://www.w3.org/2007/XMLSchema-versioning"
XML_NS = "http://www.w3.org/XML/1998/namespace"
XSI_NS = "http://www.w3.org/2001/XMLSchema-instance"


def _xs(tag: str) -> str:
    return f"{{{XSD_NS}}}{tag}"


def _localtag(elem: ET.Element) -> str:
    return elem.tag.split("}")[-1]


@dataclass(frozen=True)
class SchemaError:
    """One schema-document violation (the reference's parse-error rows)."""

    location: str  # document + component hint
    code: str  # stable check id, e.g. 'upa-violation'
    reason: str


# ---------------------------------------------------------------------------
# namespace-aware parsing and the document graph
# ---------------------------------------------------------------------------


def _parse_with_ns(text: str):
    """Parse keeping a per-element prefix→URI map (ElementTree drops xmlns
    declarations from ``attrib``; references must resolve in the nsmap in
    scope at their declaring element)."""
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
            cur = dict(ns_stack[-1])
            for p, u in pending:
                cur[p] = u
            pending = []
            ns_stack.append(cur)
            nsmaps[id(obj)] = cur
            if root is None:
                root = obj
        else:
            ns_stack.pop()
    parser.close()
    return root, nsmaps


@dataclass
class _Doc:
    root: ET.Element
    nsmaps: dict
    where: str  # path or '<string>'
    tns: Optional[str]  # declared targetNamespace (None = absent)
    effective_tns: str  # adopted tns for chameleon includes
    imports: set = field(default_factory=set)  # imported namespace URIs

    def uri_of(self, elem: ET.Element, qname: str) -> Optional[str]:
        """Namespace URI of one QName reference at ``elem`` ('' = no
        namespace, None = unresolvable prefix).  In a chameleon-included
        document, no-namespace references are remapped to the adopted
        targetNamespace (loaders.py chameleon inclusion)."""
        nsmap = self.nsmaps.get(id(elem), {})
        prefix, _, _local = qname.rpartition(":")
        if prefix:
            return nsmap.get(prefix)
        uri = nsmap.get("", "")
        if uri == "" and self.tns is None and self.effective_tns:
            return self.effective_tns  # chameleon adoption
        return uri


_GLOBAL_KINDS = {
    "simpleType": "type",
    "complexType": "type",
    "element": "element",
    "attribute": "attribute",
    "group": "group",
    "attributeGroup": "attributeGroup",
    "notation": "notation",
}


@dataclass
class _Ctx:
    version: str
    docs: list = field(default_factory=list)
    errors: list = field(default_factory=list)
    # (kind, uri, name) -> defining element
    registry: dict = field(default_factory=dict)
    # substitution heads: (uri, local) -> [(uri, local) members]
    subst: dict = field(default_factory=dict)

    def err(self, where: str, code: str, reason: str) -> None:
        self.errors.append(SchemaError(where, code, reason))


def _load_graph(ctx: _Ctx, source, base_dir: Optional[str]) -> None:
    visited: set = set()

    def load(src, directory, adopted_tns, via, via_where):
        if isinstance(src, str) and src.lstrip().startswith("<"):
            text, where, here = src, "<string>", directory
        else:
            path = os.path.abspath(os.fspath(src))
            if path in visited:
                return
            visited.add(path)
            text = read_xml_text(path)
            where, here = os.path.basename(path), os.path.dirname(path)
        try:
            root, nsmaps = _parse_with_ns(text)
        except ET.ParseError as e:
            ctx.err(where, "not-well-formed", str(e))
            return
        if root is None or root.tag != _xs("schema"):
            ctx.err(where, "not-a-schema",
                    f"root element is not xs:schema in {where}")
            return
        tns = root.get("targetNamespace")
        effective = tns if tns is not None else (
            adopted_tns if via in ("include", "redefine", "override")
            else ""
        ) or ""
        doc = _Doc(root=root, nsmaps=nsmaps, where=where, tns=tns,
                   effective_tns=effective)
        ctx.docs.append(doc)
        if via in ("include", "redefine", "override") and tns is not None \
                and tns != (adopted_tns or None):
            ctx.err(
                where, "include-namespace-mismatch",
                f"xs:{via} of a document with a different targetNamespace "
                f"{tns!r} (including document: {adopted_tns!r}) — "
                "loaders.py include rules",
            )
        for node in root:
            tag = _localtag(node)
            if tag not in ("include", "import", "redefine", "override"):
                continue
            if tag == "import":
                doc.imports.add(node.get("namespace") or "")
            loc = node.get("schemaLocation")
            if not loc or here is None:
                continue
            target = os.path.join(here, loc)
            if not os.path.exists(target):
                continue  # unreachable locations are hints, not errors
            load(target, os.path.dirname(target),
                 doc.effective_tns if tag != "import" else None,
                 tag, where)

    load(source, base_dir, None, "root", "<root>")


def _build_registry(ctx: _Ctx) -> None:
    for doc in ctx.docs:
        for child in doc.root:
            tag = _localtag(child)
            kind = _GLOBAL_KINDS.get(tag)
            name = child.get("name")
            if kind is None or name is None:
                continue
            key = (tag, doc.effective_tns, name)
            if key in ctx.registry:
                ctx.err(
                    doc.where, "duplicate-declaration",
                    f"global xs:{tag} {name!r} already declared in the "
                    "assembled schema (loaders.py: a name registers once "
                    "per namespace)",
                )
                continue
            ctx.registry[key] = (doc, child)
            if tag == "element":
                head = child.get("substitutionGroup")
                if head:
                    huri = doc.uri_of(child, head)
                    hlocal = head.rpartition(":")[-1]
                    ctx.subst.setdefault((huri, hlocal), []).append(
                        (doc.effective_tns, name)
                    )


def _lookup(ctx: _Ctx, tags, uri: Optional[str], local: str):
    for t in tags:
        hit = ctx.registry.get((t, uri or "", local))
        if hit is not None:
            return hit
    return None


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

_BUILTIN_EXTRA = {
    "string", "boolean", "hexBinary", "base64Binary", "anySimpleType",
    "anyAtomicType", "anyType", "normalizedString", "token", "anyURI",
}


def _is_builtin_name(local: str) -> bool:
    return local in XSD_LEXICAL or local in _BUILTIN_EXTRA


# ---------------------------------------------------------------------------
# individual checks
# ---------------------------------------------------------------------------


def _in_annotation(parents: list) -> bool:
    return any(_localtag(p) == "annotation" for p in parents)


def _walk(doc: _Doc):
    """(element, parents) for every descendant, skipping annotations."""
    stack = [(doc.root, [])]
    while stack:
        el, parents = stack.pop()
        yield el, parents
        if _localtag(el) == "annotation":
            continue
        for child in el:
            stack.append((child, parents + [el]))


def _check_syntax(ctx: _Ctx, doc: _Doc) -> None:
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


def _check_occurs(ctx: _Ctx, doc: _Doc) -> None:
    """minOccurs > maxOccurs (particles.py:77-108)."""
    for el, parents in _walk(doc):
        if not el.tag.startswith(_xs("")):
            continue
        mn, mx = el.get("minOccurs"), el.get("maxOccurs")
        if mn is None or mx in (None, "unbounded"):
            continue
        try:
            if int(mn) > int(mx):
                ctx.err(
                    doc.where, "illegal-occurs",
                    f"minOccurs {mn} > maxOccurs {mx} on xs:"
                    f"{_localtag(el)} "
                    f"{el.get('name') or el.get('ref') or ''}".strip(),
                )
        except ValueError:
            ctx.err(doc.where, "illegal-occurs",
                    f"non-numeric occurs bounds ({mn}, {mx})")


def _check_group_cycles(ctx: _Ctx) -> None:
    """Named-group reference cycles (groups.py circularity;
    circular_model.xsd, recursive-groups.xsd): one error per cycle."""
    graph: dict = {}
    homes: dict = {}
    for doc in ctx.docs:
        for g in doc.root.findall(_xs("group")):
            name = g.get("name")
            if not name:
                continue
            refs = set()
            for el in g.iter(_xs("group")):
                r = el.get("ref")
                if r:
                    refs.add(r.rpartition(":")[-1])
            graph[name] = refs
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


def _ns_admits(ns_set: str, uri: Optional[str], target_ns: str) -> bool:
    if ns_set == "##any":
        return True
    if ns_set == "##other":
        return uri not in ("", None) and uri != target_ns
    if uri is None:
        return False
    for tok in ns_set.split():
        want = (
            target_ns if tok == "##targetNamespace"
            else "" if tok == "##local" else tok
        )
        if uri == want:
            return True
    return False


def _particle_names(ctx: _Ctx, doc: _Doc, el: ET.Element):
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
    decl = _lookup(ctx, ("element",), uri, local)
    abstract = (
        decl is not None and decl[1].get("abstract") == "true"
    )
    if not abstract:
        names.add((uri, local))
    stack = [(uri, local)]
    seen = set(stack)
    while stack:
        head = stack.pop()
        for member in ctx.subst.get(head, ()):
            if member not in seen:
                seen.add(member)
                names.add(member)
                stack.append(member)
    return names


def _check_upa(ctx: _Ctx, doc: _Doc) -> None:
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
            return any(_ns_admits(wild_ns, u, tns) for u, _n in names)

        def repeats(p):
            _k, e, _s = p
            mn = int(e.get("minOccurs", "1"))
            mx = e.get("maxOccurs", "1")
            return mx == "unbounded" or int(mx) > mn

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
                if repeats(particles[i]) and overlap(particles[i],
                                                     particles[i + 1]):
                    ctx.err(
                        doc.where, "upa-violation",
                        "ambiguous adjacent particles in xs:sequence "
                        "(Unique Particle Attribution)",
                    )


# --- reference resolution ------------------------------------------------

_REF_ATTRS = {
    # attr -> registry tags to search
    "type": ("simpleType", "complexType"),
    "base": ("simpleType", "complexType"),
    "itemType": ("simpleType",),
    "ref": None,  # kind depends on the referencing element
    "substitutionGroup": ("element",),
}
_REF_KIND_BY_TAG = {
    "element": ("element",),
    "attribute": ("attribute",),
    "group": ("group",),
    "attributeGroup": ("attributeGroup",),
}


def _check_references(ctx: _Ctx, doc: _Doc) -> None:
    """Namespace-aware QName resolution (loaders.py:118-167): the
    referenced component must exist under the resolved namespace, and a
    foreign namespace must be imported by THIS document (import-case2)."""
    allowed_ns = {doc.effective_tns, "", XSD_NS, XML_NS, XSI_NS}
    allowed_ns |= doc.imports
    for el, parents in _walk(doc):
        if not el.tag.startswith(_xs("")) or _in_annotation(parents):
            continue
        tag = _localtag(el)
        qnames: list = []
        for attr, tags in _REF_ATTRS.items():
            v = el.get(attr)
            if v is None:
                continue
            if attr == "ref":
                tags = _REF_KIND_BY_TAG.get(tag)
                if tags is None:
                    continue
            qnames.append((attr, v, tags))
        for m in (el.get("memberTypes") or "").split():
            qnames.append(("memberTypes", m, ("simpleType",)))
        for attr, qname, tags in qnames:
            uri = doc.uri_of(el, qname)
            local = qname.rpartition(":")[-1]
            if uri == XSD_NS:
                if not _is_builtin_name(local) and local not in (
                    "ID", "IDREF", "IDREFS", "ENTITY", "ENTITIES",
                    "NOTATION", "NMTOKEN", "NMTOKENS", "Name", "NCName",
                    "QName", "language",
                ):
                    ctx.err(
                        doc.where, "unknown-builtin",
                        f"unknown builtin type xs:{local} "
                        f"({attr} of xs:{tag})",
                    )
                continue
            if uri is not None and uri not in allowed_ns:
                ctx.err(
                    doc.where, "missing-import",
                    f"{attr}={qname!r} references namespace {uri!r} "
                    f"which {doc.where} does not import "
                    "(loaders.py import rules)",
                )
                continue
            # same-document inline definitions satisfy a reference only
            # for GLOBAL components; the registry holds exactly those
            if _lookup(ctx, tags, uri, local) is None:
                ctx.err(
                    doc.where, "unresolved-reference",
                    f"{attr}={qname!r} on xs:{tag} does not resolve to a "
                    f"global {'/'.join(tags)} in namespace {uri!r}",
                )


# --- derivation checks ----------------------------------------------------


def _resolve_type_chain(ctx: _Ctx, doc: _Doc, el: ET.Element,
                        qname: str, limit: int = 20):
    """Follow simpleType restriction chains by base QName."""
    chain = []
    cur_doc, cur = doc, el
    cur_q = qname
    while cur_q and limit:
        limit -= 1
        uri = cur_doc.uri_of(cur, cur_q)
        if uri == XSD_NS:
            break
        hit = _lookup(ctx, ("simpleType",), uri,
                      cur_q.rpartition(":")[-1])
        if hit is None:
            break
        cur_doc, st = hit
        chain.append((cur_doc, st))
        r = st.find(_xs("restriction"))
        if r is None:
            break
        cur, cur_q = r, r.get("base")
    return chain


def _check_derivations(ctx: _Ctx, doc: _Doc) -> None:
    for el, parents in _walk(doc):
        if el.tag == _xs("list"):
            item = el.get("itemType")
            if item:
                chain = _resolve_type_chain(ctx, doc, el, item)
                if chain and chain[0][1].find(_xs("list")) is not None:
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
            for cdoc, st in _resolve_type_chain(ctx, doc, el, base):
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


def _effective_mixed(ct: ET.Element) -> bool:
    cc = ct.find(_xs("complexContent"))
    if cc is not None and cc.get("mixed") is not None:
        return cc.get("mixed") == "true"
    return ct.get("mixed") == "true"


def _model_group_of(ct_or_deriv: ET.Element):
    for tag in ("sequence", "choice", "all"):
        g = ct_or_deriv.find(_xs(tag))
        if g is not None:
            return g
    # a derived base: the derivation node's OWN group (its additions) —
    # issue_265's FullStudentInfo declares studienliste inside its
    # complexContent extension
    cc = ct_or_deriv.find(_xs("complexContent"))
    if cc is not None:
        for dt in ("extension", "restriction"):
            d = cc.find(_xs(dt))
            if d is not None:
                return _model_group_of(d)
    return None


def _check_complex_content(ctx: _Ctx, doc: _Doc, ct: ET.Element,
                           cc: ET.Element) -> None:
    """complexContent derivation legality (complex_types.py derivation
    checks): mixed-content mismatch on extension (complex-extensions.xsd),
    1.0 base-order violation for choice restrictions (issue_203), dropped
    required particles in sequence restrictions (invalid-restrictions2)."""
    for deriv_tag in ("extension", "restriction"):
        deriv = cc.find(_xs(deriv_tag))
        if deriv is None:
            continue
        base_q = deriv.get("base")
        if not base_q:
            continue
        uri = doc.uri_of(deriv, base_q)
        hit = _lookup(ctx, ("complexType",), uri,
                      base_q.rpartition(":")[-1])
        if hit is None:
            continue  # unresolved base is the reference checker's job
        bdoc, base_ct = hit
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
            (c.get("name") or (c.get("ref") or "").rpartition(":")[-1])
            for c in base_group if c.tag == _xs("element")
        ]
        deriv_names = [
            (c.get("name") or (c.get("ref") or "").rpartition(":")[-1])
            for c in deriv_group if c.tag == _xs("element")
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
                nm = (
                    c.get("name")
                    or (c.get("ref") or "").rpartition(":")[-1]
                )
                deriv_particles.setdefault(nm, c)
            for c in base_group:
                if c.tag != _xs("element"):
                    continue
                if int(c.get("minOccurs", "1")) < 1:
                    continue
                ref = c.get("ref")
                nm = (
                    c.get("name") or (ref or "").rpartition(":")[-1]
                )
                if nm in deriv_particles:
                    continue
                huri = (
                    doc.uri_of(c, ref) if ref else doc.effective_tns
                )
                members = {
                    m_local
                    for m_uri, m_local in ctx.subst.get((huri, nm), ())
                }
                standing = sorted(members & set(deriv_particles))
                if standing:
                    decl = _lookup(ctx, ("element",), huri, nm)
                    head_abstract = (
                        decl is not None
                        and decl[1].get("abstract") == "true"
                    )
                    if head_abstract:
                        continue  # head can't appear: no ambiguity
                    p = deriv_particles[standing[0]]
                    mn = int(p.get("minOccurs", "1"))
                    mx = p.get("maxOccurs", "1")
                    repeats = mx == "unbounded" or int(mx) > mn
                    if ctx.version == "1.0" or repeats:
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


def _check_default_attributes(ctx: _Ctx, doc: _Doc) -> None:
    """1.1 defaultAttributes must resolve to an attributeGroup
    (default_attributes-missing_group.xsd)."""
    if ctx.version == "1.0":
        return
    da = doc.root.get("defaultAttributes")
    if not da:
        return
    uri = doc.uri_of(doc.root, da)
    if _lookup(ctx, ("attributeGroup",), uri,
               da.rpartition(":")[-1]) is None:
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
    _load_graph(ctx, source, base_dir)
    _build_registry(ctx)
    for doc in ctx.docs:
        _check_syntax(ctx, doc)
        _check_occurs(ctx, doc)
        _check_upa(ctx, doc)
        _check_references(ctx, doc)
        _check_derivations(ctx, doc)
        _check_default_attributes(ctx, doc)
    _check_group_cycles(ctx)
    return tuple(ctx.errors)


def count_schema_errors(source, version: str = "1.0",
                        base_dir: Optional[str] = None) -> int:
    """The testfiles ``--errors=N`` number for one schema document."""
    return len(validate_schema_document(source, version, base_dir))
