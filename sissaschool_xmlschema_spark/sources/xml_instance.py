"""Validate raw XML instance documents against a compiled XSD.

The reference validates XML trees directly (``XMLSchema(...).validate(
'doc.xml')``, schemas.py:1583; the testfiles factory asserts exact error
counts per instance, testing/_factory.py:11-42).  The engine's analogue for
the flat-table subset: read the instance with Spark's native XML source,
flatten each row element into its table (nested single-occurrence children
walk ``CompiledXsd.column_paths``), run the ordinary distributed validation
per table plus the schema's cross-table keyrefs, and add the STRUCTURAL
checks only a tree sees:

* character data inside element-only content (``cvc-complex-type.2.3``;
  the reference's children-validation error on text in a model group) —
  Spark XML surfaces stray text as the ``_VALUE`` field;
* undeclared attributes / elements (``cvc-complex-type.3.2.2``) — schema
  INFERENCE lists every field present in the data, so anything outside the
  compiled columns, their prefixes, and ``CompiledXsd.skipped_paths``
  (schema-declared subtrees the flat subset doesn't model) is genuinely
  undeclared;
* repeated occurrences of a child the schema declares single
  (``cvc-complex-type.2.4``) — inference yields an array where the compiled
  path expects a scalar/struct.

Inference is what makes unknown-field detection possible (a fixed schema
cannot see fields it doesn't name), at the cost of one extra pass over the
instance — this is the audit/discovery mode.  The reader is rooted at the
row element's PARENT container (``CompiledXsd.parent_of``), so one
DataFrame row = one container element; production corpora with enormous
containers should land in parquet via ``rowTag=<row element>`` streaming
(sources/xml_io.py) and validate tabularly.  Tables that share a container
share its read: each ``(rowTag, preserve_space)`` is inferred once per
document, and the namespace sniffs run once per document (``_Document``).
The compiled plans of the schema's tables and overlays, its cross-table
keyrefs and the model-error collapse are built on the first document and
kept in ``CompiledXsd.programs`` for every later one.

Beyond the flat subset, the reader resolves (r5): wildcard markers
(``xs:any``/``xs:anyAttribute``/``xs:openContent`` gate the undeclared
flags), ``mixed="true"`` char data, ``xsi:type`` overlays
(elements.py:657-682), XSD 1.1 conditional type alternatives
(``xs:alternative test="@attr='v'"`` arm overlays, elements.py:1345-1365),
``nillable``/``xsi:nil`` (a nilled element satisfies Required,
elements.py:711-728), substitution members standing in for their head
(elements.py:611-621), NESTED repeated tables (per-parent-row composite
scope through the unchanged identities/occurs machinery), recursive
content models (cycle-cut one-level-deep validation), document-value
tables with whiteSpace=preserve, and ``vc:minVersion`` version gating.

Reference parity pinned by tests/test_xml_instance.py +
tests/test_wildcards_mixed.py: **every XML instance in the reference's
testfiles list validates with exact parity — 57 of 57** (19 ``--errors=N``
counts + 38 valid instances clean,
/root/reference/tests/test_cases/testfiles); with the schema-document
meta-validator (xsd_meta.py) all 49 ``--errors=N`` cases (instances +
schema documents) reproduce exact counts.  The last two instance counts
(model1, issue_029-2) are closed by ``_CollapseProgram``: element
content-model reports (occurs bounds, element-backed Required) collapse
to one per container element instance, matching the reference
ModelVisitor's stop-after-first-error granularity.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sissaschool_xmlschema_spark.operators.identity import keyref_program
from sissaschool_xmlschema_spark.plans.compiler import CompiledPlan, compile_plan
from sissaschool_xmlschema_spark.plans.runner import validate
from sissaschool_xmlschema_spark.xml_text import declared_encoding
from sissaschool_xmlschema_spark.xsd_compile import CompiledXsd, compile_xsd


def sniff_prefix(path: str, local_root: str) -> str:
    """Namespace prefix of ``local_root`` in the document ('vh:' or '').

    Driver-side peek — instance prefixes are arbitrary (the same schema
    validates ``vh:cars`` and unprefixed documents), and Spark XML matches
    rowTag literally.  Streams the file in 64 KiB chunks until the first
    occurrence of the element start tag is found (a long comment/DOCTYPE
    prolog must not defeat the sniff — a fixed-size head read silently
    falls back to no prefix and the rowTag never matches).
    """
    pat = re.compile(
        rf"<(?:([A-Za-z_][\w.-]*):)?{re.escape(local_root)}[\s>/]"
    )
    tail = ""
    enc = declared_encoding(path)
    with open(path, "rb") as f:
        while True:
            chunk = f.read(65536)
            if not chunk:
                return ""
            head = tail + chunk.decode(enc, "replace")
            m = pat.search(head)
            if m:
                return f"{m.group(1)}:" if m.group(1) else ""
            # keep enough overlap that a tag split across the chunk
            # boundary still matches on the next iteration
            tail = head[-(len(local_root) + 64):]


def sniff_nsmap(path: str) -> dict:
    """prefix → namespace-URI map from the document head (first 64 KiB).

    Driver-side peek for wildcard namespace-set checks: inferred field
    names carry prefixes, the compiled :class:`Wildcard` carries URIs.
    Documents declaring namespaces deeper than the head are out of the
    sniff's reach — their wildcard checks fall back to prefix heuristics
    (an unmapped prefix counts as a foreign namespace)."""
    with open(path, "rb") as f:
        head = f.read(65536).decode(declared_encoding(path), "replace")
    nsmap: dict = {}
    for m in re.finditer(
        r"""xmlns(?::([A-Za-z_][\w.-]*))?\s*=\s*("([^"]*)"|'([^']*)')""",
        head,
    ):
        nsmap.setdefault(m.group(1) or "", m.group(3) or m.group(4) or "")
    return nsmap


def _sniff_root_local(path: str) -> str:
    """Local name of the document's root element (driver-side head peek,
    prolog/comments/DOCTYPE skipped)."""
    with open(path, "rb") as f:
        head = f.read(65536).decode(declared_encoding(path), "replace")
    head = re.sub(r"<\?.*?\?>", "", head, flags=re.S)
    head = re.sub(r"<!--.*?-->", "", head, flags=re.S)
    head = re.sub(r"<!DOCTYPE[^>]*>", "", head, flags=re.S)
    m = re.search(r"<([A-Za-z_][\w.:-]*)", head)
    return m.group(1).rpartition(":")[-1] if m else "?"


def _local_of(field_name: str) -> tuple:
    """(step, is_attr, prefix) for one inferred field name: attributes
    carry a leading '_', namespace prefixes matter only to wildcards."""
    is_attr = field_name.startswith("_")
    name = field_name[1:] if is_attr else field_name
    prefix, _, local = name.rpartition(":")
    return local, is_attr, prefix


def _is_xsi_machinery(field_name: str, nsmap: dict) -> bool:
    """True for an attribute field in the XSI namespace under ANY bound
    prefix (issue_314 binds it to ``b:``): xsi:type/nil/schemaLocation are
    instance machinery, never undeclared content."""
    local, is_attr, pfx = _local_of(field_name)
    if not is_attr or not pfx:
        return False
    return pfx == "xsi" or nsmap.get(pfx) == _XSI_URI


def _ns_admits(ns_set: str, uri, target_ns: str) -> bool:
    """One wildcard namespace-set test (wildcards.py:95-164).

    ``uri`` is the instance node's namespace URI ('' = no namespace,
    None = unresolvable prefix, treated as a foreign namespace)."""
    if ns_set == "##any":
        return True
    if ns_set == "##other":
        # any namespace other than target, and not absent
        return uri != "" and uri != target_ns
    admitted = ns_set.split()
    if uri is None:
        return False
    for tok in admitted:
        want = (
            target_ns if tok == "##targetNamespace"
            else "" if tok == "##local" else tok
        )
        if uri == want:
            return True
    return False


def _elem_required_paths(compiled) -> list:
    """Full violation paths (``table/column``) of element-backed Required
    facets — the 'missing required child element' class the reference's
    ModelVisitor folds into one content-not-complete error per container
    (groups.py model validation; testfiles issue_029-2).  Attribute-backed
    Required columns ('@' step in column_paths) are excluded: the reference
    reports missing required attributes individually (cvc-complex-type.4).
    """
    from sissaschool_xmlschema_spark.spec import Required

    out = []
    for tname, spec in compiled.specs.items():
        paths = compiled.column_paths.get(tname, {})
        for col in spec.columns:
            p = paths.get(col.name)
            if p is None or any(seg.startswith("@") for seg in p):
                continue
            if any(isinstance(f, Required) for f in col.facets):
                out.append(f"{tname}/{col.name}")
    return out


def _model_ranks(compiled, elem_req) -> dict:
    """Content-model violation path -> compile-time particle position inside
    its container: an element-backed Required column's position in its row
    element's content model, a row table's position among its container's
    children (bare ``table`` paths of the occurs rows and the
    ``container/table`` path of an absent row element)."""
    ranks: dict = {}
    for tname, pos in getattr(compiled, "particle_rank", {}).items():
        ranks[tname] = pos
        parent = compiled.parent_of.get(tname)
        if parent is not None and parent != tname:
            ranks[f"{parent}/{tname}"] = pos
    for tname, spec in compiled.specs.items():
        for i, col in enumerate(spec.columns):
            if f"{tname}/{col.name}" in elem_req:
                ranks[f"{tname}/{col.name}"] = i
    return ranks


@dataclass
class _CollapseProgram:
    """Reference error granularity for element content models: after the
    first content-model error inside one container element instance the
    reference's ModelVisitor stops reporting (one ``content is not
    complete`` / unexpected-child error per container — testfiles
    ``features/models/model1.xml --errors=1``, ``issue_029-2.xml
    --errors=1``).  :meth:`bind` collapses the flat engine's per-particle
    reports (``occurs:*`` bounds, element-backed ``:Required``) to ONE
    violation per (document, container element, row instance) — the first
    in schema model order; attribute, value, identity, assertion and
    structural violations pass through untouched."""

    is_model: Column
    other: Column
    row_number: Column
    first: Column

    def bind(self, out: DataFrame) -> DataFrame:
        kept = (
            out.filter(self.is_model)
            .withColumn("_rn", self.row_number)
            .filter(self.first)
            .drop("_rn")
        )
        return out.filter(self.other).unionByName(kept)


def _collapse_program(compiled) -> _CollapseProgram:
    """The Columns of :class:`_CollapseProgram` for one schema."""
    from pyspark.sql import Window

    elem_req = _elem_required_paths(compiled)
    is_model = F.col("constraint_id").startswith("occurs:")
    if elem_req:
        is_model = is_model | (
            F.col("constraint_id").endswith(":Required")
            & F.col("path").isin(elem_req)
        )
    # container element of the violation: strip the leaf step from
    # 'container/child' paths; bare table-name paths (identity-machinery
    # occurs rows) resolve through the compile-time parent_of map
    parent_map = compiled.parent_of or {}
    if parent_map:
        mapping = F.create_map(
            *[F.lit(x) for kv in parent_map.items() for x in kv]
        )
        bare = F.coalesce(mapping[F.col("path")], F.col("path"))
    else:
        bare = F.col("path")
    container = F.when(
        F.col("path").contains("/"),
        F.regexp_replace(F.col("path"), "/[^/]*$", ""),
    ).otherwise(bare)
    # the first error in schema model order; paths without a rank (and
    # ties) fall back to path order
    ranks = _model_ranks(compiled, set(elem_req))
    rank = (
        F.create_map(*[F.lit(x) for kv in ranks.items() for x in kv])[
            F.col("path")
        ] if ranks else F.lit(None)
    )
    w = Window.partitionBy(
        "conv_id", container, F.coalesce("turn_idx", F.lit(-1))
    ).orderBy(rank.asc_nulls_last(), "path", "constraint_id")
    return _CollapseProgram(
        is_model=is_model,
        other=~is_model,
        row_number=F.row_number().over(w),
        first=F.col("_rn") == 1,
    )


def _viol(name, parent, cid, value, reason):
    return [
        F.lit(None).cast("long").alias("turn_idx"),
        F.lit(f"{parent}/{name}").alias("path"),
        F.lit(cid).alias("constraint_id"),
        value.cast("string").alias("offending_value"),
        F.lit(reason).alias("reason"),
    ]


class _TableReader:
    """Walks one row element's inferred struct against the compiled paths."""

    def __init__(self, name, spec, paths, skipped, parent, doc,
                 wildcards=(), mixed=frozenset(), target_ns="",
                 nsmap=None, globals_=frozenset()):
        self.name, self.spec, self.parent, self.doc = name, spec, parent, doc
        self.paths = {tuple(p): col for col, p in paths.items()}
        self.prefixes = set()
        for p in list(self.paths) + [tuple(s) for s in skipped]:
            for i in range(1, len(p)):
                self.prefixes.add(p[:i])
        self.skipped = {tuple(s) for s in skipped}
        self.wildcards = tuple(wildcards)
        self.mixed = frozenset(mixed)
        self.target_ns = target_ns
        self.nsmap = nsmap or {}
        self.globals = frozenset(globals_)
        self.extract: dict = {}
        self.struct_viols: list = []  # (filter_col, select_cols)

    def _flag(self, col, kind, local, reason_tail):
        self.struct_viols.append((
            col.isNotNull(),
            _viol(self.name, self.parent, f"structure:{kind}", col,
                  f"{kind.replace('-', ' ')} '{local}' on '{self.name}' "
                  f"({reason_tail})"),
        ))

    def _wildcard_admits(self, path, local, is_attr, prefix) -> bool:
        """True when a compiled wildcard at ``path`` suppresses the
        undeclared-content flag for this node (wildcards.py:95-99):
        skip/lax admit anything in the namespace set; strict additionally
        requires a matching global declaration (whose content the flat
        subset then accepts — the per-element strict validation the
        reference does is out of tabular reach and documented as such)."""
        if is_attr and not prefix:
            uri = ""  # unprefixed attributes are in no namespace
        elif prefix:
            uri = self.nsmap.get(prefix)  # None = unresolvable, foreign
        else:
            uri = self.nsmap.get("", "")
        kind = "attribute" if is_attr else "element"
        for w in self.wildcards:
            if tuple(w.path) != path or w.kind != kind:
                continue
            if not _ns_admits(w.ns, uri, self.target_ns):
                continue
            if w.process in ("skip", "lax"):
                return True
            if local in self.globals:  # strict: declaration required
                return True
        return False

    def walk(self, stype: T.StructType, base: str, path: tuple) -> None:
        for sf in stype.fields:
            if sf.name.startswith("_xmlns") or sf.name.startswith("_xsi:") \
                    or _is_xsi_machinery(sf.name, self.nsmap):
                continue  # namespace/schema-location machinery, not data
            col = F.col(f"{base}`{sf.name}`")
            if sf.name == "_VALUE":
                if path in self.paths:
                    # the element's own text IS a declared column (a
                    # simpleContent row element's 'value')
                    self.extract[self.paths[path]] = col.cast("string")
                    continue
                if path in self.mixed:
                    continue  # mixed="true": char data is legitimate
                txt = F.trim(col.cast("string"))
                self.struct_viols.append((
                    txt.isNotNull() & (txt != ""),
                    _viol(self.name, self.parent, "structure:char-data",
                          txt,
                          "character data not allowed in element-only "
                          "content (cvc-complex-type.2.3)"),
                ))
                continue
            local, is_attr, pfx = _local_of(sf.name)
            step = ("@" + local) if is_attr else local
            key = path + (step,)
            if key in self.skipped:
                continue  # schema-declared, outside the flat subset
            if key in self.paths:
                out = self.paths[key]
                dt = sf.dataType
                if isinstance(dt, T.ArrayType):
                    # schema says single, instance repeats it
                    self._flag(col, "repeated-element", local,
                               "cvc-complex-type.2.4")
                    col, dt = F.element_at(col, 1), dt.elementType
                if isinstance(dt, T.StructType):
                    # simple-content element carrying attributes: text is
                    # the nested _VALUE; declared attributes (simpleContent
                    # extension columns) extract, the rest are undeclared
                    names = dt.fieldNames()
                    for inner in names:
                        if inner == "_VALUE" or inner.startswith("_xmlns") \
                                or inner.startswith("_xsi:") \
                                or _is_xsi_machinery(inner, self.nsmap):
                            # xsi:nil on a nillable declaration extracts to
                            # its compiled __nil column (issue_243); other
                            # xsi machinery stays skipped
                            nkey = key + ("@xsi:nil",)
                            if inner.endswith(":nil") and nkey in self.paths:
                                self.extract[self.paths[nkey]] = (
                                    col.getField(inner).cast("string")
                                )
                            continue
                        il, iattr, ipfx = _local_of(inner)
                        ikey = key + (("@" + il) if iattr else il,)
                        if ikey in self.paths:
                            self.extract[self.paths[ikey]] = (
                                col.getField(inner).cast("string")
                            )
                        elif not self._wildcard_admits(key, il, iattr,
                                                       ipfx):
                            self._flag(
                                col.getField(inner),
                                "undeclared-attribute" if iattr
                                else "undeclared-element",
                                il, "cvc-complex-type.3.2.2",
                            )
                    col = (col.getField("_VALUE") if "_VALUE" in names
                           else F.lit(None))
                self.extract[out] = col.cast("string")
            elif not is_attr and key in self.prefixes:
                dt = sf.dataType
                if isinstance(dt, T.ArrayType):
                    self._flag(col, "repeated-element", local,
                               "cvc-complex-type.2.4")
                elif isinstance(dt, T.StructType):
                    self.walk(dt, f"{base}`{sf.name}`.", key)
            elif not self._wildcard_admits(path, local, is_attr, pfx):
                self._flag(
                    col,
                    "undeclared-attribute" if is_attr
                    else "undeclared-element",
                    local, "cvc-complex-type.3.2.2",
                )


def _read_container(
    spark: SparkSession, path: str, row_tag: str,
    preserve_space: bool = False,
) -> DataFrame:
    return (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .option("charset", declared_encoding(path))
        # keep stray character data visible instead of silently dropping
        # it; preserve_space keeps surrounding whitespace too (document
        # value of a whiteSpace=preserve simple type — issue_223)
        .option("ignoreSurroundingSpaces",
                "false" if preserve_space else "true")
        # structure-only inference: every leaf stays a string so the
        # LEXICAL form survives (typed inference would read '2.0' into a
        # double column and rewrite sibling '1' as '1.0', hiding the
        # xs:int lexical violation the facet pass must see)
        .option("inferSchema", "false")
        .load(path)
    )


_XSI_URI = "http://www.w3.org/2001/XMLSchema-instance"


class _Document:
    """One instance document as one validate/decode call reads it: each
    ``(rowTag, preserve_space)`` container is read (one schema-inference
    job) and each namespace sniff runs once, however many tables share
    them."""

    def __init__(self, spark: SparkSession, path: str,
                 prefix: Optional[str]) -> None:
        self.spark, self.path, self.prefix = spark, path, prefix
        self.label = os.path.basename(str(path))
        self.containers: dict = {}  # (rowTag, preserve_space) -> DataFrame
        self.prefixes: dict = {}  # container local name -> sniffed prefix
        self._nsmap: Optional[dict] = None

    def container(self, local: str, preserve_space: bool = False) -> DataFrame:
        pfx = self.prefix
        if pfx is None:
            if local not in self.prefixes:
                self.prefixes[local] = sniff_prefix(self.path, local)
            pfx = self.prefixes[local]
        key = (f"{pfx}{local}", preserve_space)
        if key not in self.containers:
            self.containers[key] = _read_container(
                self.spark, self.path, *key
            )
        return self.containers[key]

    @property
    def nsmap(self) -> dict:
        if self._nsmap is None:
            self._nsmap = sniff_nsmap(self.path)
        return self._nsmap


def _program(spark: SparkSession, compiled: CompiledXsd, key, build):
    """``build()`` once per schema: compiled plans and other Columns the
    reader binds to every document are kept in ``compiled.programs``.
    Columns live in the JVM of the SparkContext that built them, so a new
    context builds them again."""
    sc = spark.sparkContext
    hit = compiled.programs.get(key)
    if hit is None or hit[0] is not sc:
        hit = compiled.programs[key] = (sc, build())
    return hit[1]


def _plan(src: _Document, compiled: CompiledXsd, key, spec) -> CompiledPlan:
    return _program(src.spark, compiled, key, lambda: compile_plan(spec))


def _field_by_local(dtype: T.StructType, step: str):
    for sf in dtype.fields:
        if sf.name.startswith("_"):
            continue
        if _local_of(sf.name)[0] == step:
            return sf
    return None


def _xsi_type_field(dtype: T.StructType, nsmap: dict):
    """The inferred field carrying xsi:type, if any ('_xsi:type' under the
    conventional prefix; any prefix bound to the XSI namespace counts)."""
    for sf in dtype.fields:
        local, is_attr, pfx = _local_of(sf.name)
        if is_attr and local == "type" and (
            pfx == "xsi" or nsmap.get(pfx) == _XSI_URI
        ):
            return sf.name
    return None


def _xsi_local(col):
    return F.element_at(F.split(col.cast("string"), ":"), -1)


def _flatten_nested(src: _Document, compiled, name):
    """One NESTED table's (flat DataFrame | None, [violation parts]):
    repeated elements below a row element, exploded level by level with
    the composite ``doc#parentIndex...`` landing in the ordinary scope
    column so identities/occurs run unchanged (xsd_compile.NestedTable).
    Levels gated on an xsi:type only see parent rows carrying it
    (elements.py:657-682)."""
    spec = compiled.specs[name]
    nested = compiled.nested_tables
    doc, nsmap = src.label, src.nsmap

    # parent chain from the TOP row element down to this table
    chain = [name]
    while nested[chain[0]].parent_table in nested:
        chain.insert(0, nested[chain[0]].parent_table)
    top = nested[chain[0]].parent_table

    parent = compiled.parent_of.get(name, top)
    container = src.container(parent)
    fields = {f.name: f for f in container.schema.fields}

    # level 0: the top row element's rows with their ordinal
    if top in getattr(compiled, "doc_rows", frozenset()):
        keep = [fn for fn in fields if not fn.startswith("_")]
        rows = container.select(
            F.lit(0).alias("_p0"),
            F.struct(*[F.col(f"`{fn}`") for fn in keep]).alias("_row"),
        )
    else:
        row_field = next(
            (fn for fn in fields
             if fn != "_VALUE" and not fn.startswith("_xmlns")
             and not fn.startswith("_xsi:")
             and _local_of(fn)[0] == top), None,
        )
        if row_field is None:
            return None, []  # no parent rows: nothing to validate here
        dtype = fields[row_field].dataType
        if isinstance(dtype, T.ArrayType):
            rows = container.select(
                F.posexplode(F.col(f"`{row_field}`")).alias("_p0", "_row")
            )
        else:
            rows = container.select(
                F.lit(0).alias("_p0"), F.col(f"`{row_field}`").alias("_row")
            )

    pos_cols = ["_p0"]
    for li, tbl in enumerate(chain):
        nt = nested[tbl]
        rtype = rows.schema["_row"].dataType
        if not isinstance(rtype, T.StructType):
            return None, []
        if nt.xsi_type:
            xf = _xsi_type_field(rtype, nsmap)
            if xf is None:
                return None, []
            rows = rows.filter(
                _xsi_local(F.col(f"_row.`{xf}`")) == nt.xsi_type
            )
        # navigate the single-occurrence intermediate steps
        cur, cur_type = "_row", rtype
        ok = True
        for step in nt.rel_path[:-1]:
            sf = _field_by_local(cur_type, step)
            if sf is None or not isinstance(sf.dataType, T.StructType):
                ok = False
                break
            cur, cur_type = f"{cur}.`{sf.name}`", sf.dataType
        if not ok:
            return None, []
        sf = _field_by_local(cur_type, nt.rel_path[-1])
        if sf is None:
            return None, []  # absent everywhere (occurs limitation)
        pcol = f"_p{li + 1}"
        if isinstance(sf.dataType, T.ArrayType):
            rows = rows.select(
                *pos_cols,
                F.posexplode(F.col(f"{cur}.`{sf.name}`")).alias(
                    pcol, "_row"
                ),
            )
        else:
            rows = rows.select(
                *pos_cols,
                F.lit(0).alias(pcol),
                F.col(f"{cur}.`{sf.name}`").alias("_row"),
            )
        pos_cols.append(pcol)

    # composite scope: doc + every ancestor ordinal (NOT this level's)
    scope_val = F.concat_ws(
        "#", F.lit(doc), *[F.col(c).cast("string") for c in pos_cols[:-1]]
    )
    order_val = F.col(pos_cols[-1]).cast("long")

    parts: list = []
    rtype = rows.schema["_row"].dataType
    if not isinstance(rtype, T.StructType):
        # nested SIMPLE value table: the row IS the element text
        flat = rows.select(
            F.col("_row").cast("string").alias("value"),
            scope_val.alias(spec.scope_col),
            order_val.alias(spec.order_col),
        )
        return flat, parts

    paths = compiled.column_paths.get(name, {})
    if set(paths) == {"value"} and tuple(paths.get("value", ())) == ():
        # simple value inferred as struct (attributes present)
        val = (
            F.col("_row.`_VALUE`")
            if "_VALUE" in rtype.fieldNames() else F.lit(None)
        )
        flat = rows.select(
            val.cast("string").alias("value"),
            scope_val.alias(spec.scope_col),
            order_val.alias(spec.order_col),
        )
        return flat, parts

    # xsi:type overlays on the nested table's own rows (issue_314:
    # <item b:type="Concrete..."/> below a document row) — same pattern
    # as _flatten_one's row-element overlays, with the composite
    # scope/order of this nesting level
    overlays_n = getattr(compiled, "xsi_overlays", {}).get(name, {})
    if overlays_n:
        xf = _xsi_type_field(rtype, nsmap)
        if xf is not None:
            xcol = F.col(f"_row.`{xf}`")
            xsi = _xsi_local(xcol)
            declared = getattr(compiled, "declared_types", {}).get(name)
            known = set(overlays_n) | ({declared} if declared else set())
            for tname, ov in overlays_n.items():
                odf = rows.filter(xsi == tname)
                ordr = _TableReader(
                    name, ov["spec"], ov["column_paths"], ov["skipped"],
                    parent, doc,
                    wildcards=ov["wildcards"], mixed=ov["mixed"],
                    target_ns=getattr(compiled, "target_namespace", ""),
                    nsmap=nsmap,
                    globals_=getattr(compiled, "global_elements",
                                     frozenset()),
                )
                ordr.walk(rtype, "_row.", ())
                for cond, sel in ordr.struct_viols:
                    parts.append(
                        odf.filter(cond).select(
                            F.lit(doc).alias("conv_id"), *sel
                        )
                    )
                flat_o = odf.select(*[
                    (ordr.extract[c.name] if c.name in ordr.extract
                     else F.lit(None).cast("string")).alias(c.name)
                    for c in ov["spec"].columns
                ], scope_val.alias(spec.scope_col),
                    order_val.alias(spec.order_col))
                plan_o = _plan(src, compiled, ("xsi", name, tname),
                               ov["spec"])
                parts.append(validate(flat_o, plan_o).violations)
            parts.append(
                rows.filter(
                    xcol.isNotNull() & ~xsi.isin(list(known))
                ).select(
                    F.lit(doc).alias("conv_id"),
                    *_viol(name, parent, "structure:unknown-xsi-type",
                           xcol,
                           f"xsi:type on '{name}' does not resolve to a "
                           "compiled type (elements.py:657-682)"),
                )
            )
            rows = rows.filter(
                xcol.isNull() | ~xsi.isin(list(overlays_n))
            )

    rdr = _TableReader(
        name, spec, paths,
        compiled.skipped_paths.get(name, ()),
        parent, doc,
        wildcards=getattr(compiled, "wildcards", {}).get(name, ()),
        mixed=getattr(compiled, "mixed_paths", {}).get(name, frozenset()),
        target_ns=getattr(compiled, "target_namespace", ""),
        nsmap=nsmap,
        globals_=getattr(compiled, "global_elements", frozenset()),
    )
    rdr.walk(rtype, "_row.", ())
    for cond, sel in rdr.struct_viols:
        parts.append(
            rows.filter(cond).select(F.lit(doc).alias("conv_id"), *sel)
        )
    flat = rows.select(
        *[
            (rdr.extract[c.name] if c.name in rdr.extract
             else F.lit(None).cast("string")).alias(c.name)
            for c in spec.columns
        ],
        scope_val.alias(spec.scope_col),
        order_val.alias(spec.order_col),
    )
    return flat, parts


def _member_plan(head: "S.TableSpec", member: "S.TableSpec"):
    """Compiled plan of a substitution member's OWN constraints (columns,
    identities and assertions its head does not declare); ``None`` when it
    adds none."""
    from sissaschool_xmlschema_spark import spec as S

    head_cols = {c.name for c in head.columns}
    head_ids = {i.name for i in head.identities}
    spec_extra = S.TableSpec(
        name=member.name,
        scope_col=head.scope_col,
        order_col=head.order_col,
        columns=tuple(c for c in member.columns if c.name not in head_cols),
        identities=tuple(
            i for i in member.identities if i.name not in head_ids
        ),
        row_assertions=member.row_assertions,
    )
    if (spec_extra.columns or spec_extra.identities
            or spec_extra.row_assertions):
        return compile_plan(spec_extra)
    return None


def _flatten_one(src: _Document, compiled, name):
    """One table's (flat DataFrame | None, [structural violation parts])."""
    if name in getattr(compiled, "nested_tables", {}):
        return _flatten_nested(src, compiled, name)
    doc = src.label
    spec = compiled.specs[name]
    parent = compiled.parent_of.get(name, name)
    container = src.container(
        parent,
        preserve_space=name in getattr(compiled, "preserve_space",
                                       frozenset()),
    )
    fields = {f.name: f for f in container.schema.fields}
    parts: list = []
    member_flats: list = []  # substitution members standing in for `name`

    # a document-value table's own text IS the declared 'value' column —
    # everything else treats container _VALUE as stray char data
    has_own_text = () in {
        tuple(p) for p in compiled.column_paths.get(name, {}).values()
    }

    # container-level stray character data (legitimate when the container's
    # type is mixed="true" — complex_types.py:35)
    if "_VALUE" in fields and not has_own_text and parent not in getattr(
        compiled, "mixed_containers", frozenset()
    ):
        txt = F.trim(F.col("`_VALUE`").cast("string"))
        parts.append(
            container.filter(txt.isNotNull() & (txt != "")).select(
                F.lit(doc).alias("conv_id"),
                *_viol(name, parent, "structure:char-data", txt,
                       "character data not allowed in element-only "
                       f"content of '{parent}' (cvc-complex-type.2.3)"),
            )
        )

    if name in getattr(compiled, "doc_rows", frozenset()):
        # document-singleton table: the container element IS the row; its
        # repeated children live in their own tables (suppressed via the
        # compiler's skipped paths); _VALUE was checked container-level
        keep = [
            fn for fn in fields
            if (fn != "_VALUE" or has_own_text)
            and not fn.startswith("_xmlns") and not fn.startswith("_xsi:")
        ]
        rows = container.select(
            F.struct(*[F.col(f"`{fn}`") for fn in keep]).alias("_row")
        )
    else:
        # substitution members standing in for the head (elements.py:
        # 611-621): validated against the member's own type, merged into
        # the head's table for occurrence/identity checks
        members = getattr(compiled, "subst_overlays", {}).get(name, {})
        if members:
            nsmap_m = src.nsmap
            for mname, mo in members.items():
                mfield = next(
                    (fn for fn in fields
                     if fn != "_VALUE" and not fn.startswith("_xmlns")
                     and not fn.startswith("_xsi:")
                     and _local_of(fn)[0] == mname), None,
                )
                if mfield is None:
                    continue
                mdtype = fields[mfield].dataType
                melem = (
                    F.explode(F.col(f"`{mfield}`"))
                    if isinstance(mdtype, T.ArrayType)
                    else F.col(f"`{mfield}`")
                )
                mrows = container.select(melem.alias("_row"))
                mrtype = mrows.schema["_row"].dataType
                if not isinstance(mrtype, T.StructType):
                    continue
                mrdr = _TableReader(
                    mname, mo["spec"], mo["column_paths"], mo["skipped"],
                    parent, doc,
                    wildcards=mo["wildcards"], mixed=mo["mixed"],
                    target_ns=getattr(compiled, "target_namespace", ""),
                    nsmap=nsmap_m,
                    globals_=getattr(compiled, "global_elements",
                                     frozenset()),
                )
                mrdr.walk(mrtype, "_row.", ())
                for cond, sel in mrdr.struct_viols:
                    parts.append(
                        mrows.filter(cond).select(
                            F.lit(doc).alias("conv_id"), *sel
                        )
                    )
                flat_m = (
                    mrows.select(*[
                        (mrdr.extract[c.name] if c.name in mrdr.extract
                         else F.lit(None).cast("string")).alias(c.name)
                        for c in mo["spec"].columns
                    ])
                    .withColumn(spec.scope_col, F.lit(doc))
                    .withColumn(spec.order_col,
                                F.monotonically_increasing_id())
                )
                # member-ONLY constraints validate here; base-type facets
                # and shared identities run on the merged head table (no
                # double counting)
                plan_m = _program(
                    src.spark, compiled, ("subst", name, mname),
                    lambda: _member_plan(spec, mo["spec"]),
                )
                if plan_m is not None:
                    parts.append(validate(flat_m, plan_m).violations)
                member_flats.append(flat_m)

        # locals may be qualified (elementFormDefault="qualified", vh:car)
        # or not (collection's bare <object>): match by local name
        row_field = next(
            (fn for fn in fields
             if fn != "_VALUE" and not fn.startswith("_xmlns")
             and not fn.startswith("_xsi:") and _local_of(fn)[0] == name),
            None,
        )
        if row_field is None and member_flats:
            # the head never appears itself; the table is its members
            flat = member_flats[0].select(
                *[
                    (F.col(c.name)
                     if c.name in member_flats[0].columns
                     else F.lit(None).cast("string")).alias(c.name)
                    for c in spec.columns
                ],
                F.col(spec.scope_col), F.col(spec.order_col),
            )
            for fm in member_flats[1:]:
                flat = flat.unionByName(fm.select(
                    *[
                        (F.col(c.name) if c.name in fm.columns
                         else F.lit(None).cast("string")).alias(c.name)
                        for c in spec.columns
                    ],
                    F.col(spec.scope_col), F.col(spec.order_col),
                ))
            return flat, parts
        if row_field is None:
            # no row elements anywhere in the document: a minOccurs>0 bound
            # is still violated once per container occurrence
            # (cvc-complex-type.2.4.b content-not-complete)
            from sissaschool_xmlschema_spark import spec as S

            for occ in spec.model:
                if isinstance(occ, S.Occurs) and occ.min_occurs > 0:
                    parts.append(
                        container.select(
                            F.lit(doc).alias("conv_id"),
                            *_viol(name, parent, f"occurs:{occ.name}",
                                   F.lit("0"),
                                   f"element '{name}' occurs 0 times, "
                                   f"minOccurs is {occ.min_occurs} "
                                   "(cvc-complex-type.2.4.b)"),
                        )
                    )
            return None, parts

        dtype = fields[row_field].dataType
        elem = (
            F.explode(F.col(f"`{row_field}`"))
            if isinstance(dtype, T.ArrayType) else F.col(f"`{row_field}`")
        )
        rows = container.select(elem.alias("_row"))

    if name in getattr(compiled, "simple_rows", frozenset()):
        # repeated SIMPLE child (menù shape): the row IS the element text;
        # an element carrying attributes infers as a struct whose text is
        # _VALUE and whose attributes are undeclared by construction
        val = F.col("_row")
        rtype = rows.schema["_row"].dataType
        if isinstance(rtype, T.StructType):
            for sf in rtype.fields:
                if sf.name == "_VALUE" or sf.name.startswith("_xmlns") \
                        or sf.name.startswith("_xsi:"):
                    continue  # xsi:nil/type machinery, same as _TableReader
                local, _, _pfx = _local_of(sf.name)
                parts.append(
                    rows.filter(
                        F.col(f"_row.`{sf.name}`").isNotNull()
                    ).select(
                        F.lit(doc).alias("conv_id"),
                        *_viol(name, parent,
                               "structure:undeclared-attribute",
                               F.col(f"_row.`{sf.name}`"),
                               f"undeclared attribute '{local}' on "
                               f"'{name}' (cvc-complex-type.3.2.2)"),
                    )
                )
            val = (
                F.col("_row.`_VALUE`")
                if "_VALUE" in rtype.fieldNames() else F.lit(None)
            )
        spec = compiled.specs[name]
        flat = (
            rows.select(val.cast("string").alias("value"))
            .withColumn(spec.scope_col, F.lit(doc))
            .withColumn(spec.order_col, F.monotonically_increasing_id())
        )
        return flat, parts

    # xsi:type overlays (elements.py:657-682): rows carrying a derived
    # type's xsi:type validate against THAT type's overlay column-set;
    # unknown xsi:type values are flagged and fall back to the base
    overlays = getattr(compiled, "xsi_overlays", {}).get(name, {})
    rtype0 = rows.schema["_row"].dataType
    nsmap0 = src.nsmap
    if overlays and isinstance(rtype0, T.StructType):
        xf = _xsi_type_field(rtype0, nsmap0)
        if xf is not None:
            xcol = F.col(f"_row.`{xf}`")
            xsi = _xsi_local(xcol)
            declared = getattr(compiled, "declared_types", {}).get(name)
            known = set(overlays) | ({declared} if declared else set())
            for tname, ov in overlays.items():
                odf = rows.filter(xsi == tname)
                ordr = _TableReader(
                    name, ov["spec"], ov["column_paths"], ov["skipped"],
                    parent, doc,
                    wildcards=ov["wildcards"], mixed=ov["mixed"],
                    target_ns=getattr(compiled, "target_namespace", ""),
                    nsmap=nsmap0,
                    globals_=getattr(compiled, "global_elements",
                                     frozenset()),
                )
                ordr.walk(rtype0, "_row.", ())
                for cond, sel in ordr.struct_viols:
                    parts.append(
                        odf.filter(cond).select(
                            F.lit(doc).alias("conv_id"), *sel
                        )
                    )
                flat_o = (
                    odf.select(*[
                        (ordr.extract[c.name] if c.name in ordr.extract
                         else F.lit(None).cast("string")).alias(c.name)
                        for c in ov["spec"].columns
                    ])
                    .withColumn(spec.scope_col, F.lit(doc))
                    .withColumn(spec.order_col,
                                F.monotonically_increasing_id())
                )
                plan_o = _plan(src, compiled, ("xsi", name, tname),
                               ov["spec"])
                parts.append(validate(flat_o, plan_o).violations)
            parts.append(
                rows.filter(
                    xcol.isNotNull() & ~xsi.isin(list(known))
                ).select(
                    F.lit(doc).alias("conv_id"),
                    *_viol(name, parent, "structure:unknown-xsi-type",
                           xcol,
                           f"xsi:type on '{name}' does not resolve to a "
                           "compiled type (elements.py:657-682)"),
                )
            )
            rows = rows.filter(
                xcol.isNull() | ~xsi.isin(list(overlays))
            )

    # XSD 1.1 conditional type alternatives (elements.py:1345-1365,
    # XsdAlternative:1450-1476): rows whose @attr='v' test matches validate
    # against that arm's type overlay — first matching arm wins; rows
    # matching no arm keep the declared type below
    alts = getattr(compiled, "alt_overlays", {}).get(name, ())
    rtype_alt = rows.schema["_row"].dataType
    if alts and isinstance(rtype_alt, T.StructType):
        remaining = rows
        for ai, arm in enumerate(alts):
            if arm["attr"] is not None:
                fname = f"_{arm['attr']}"
                if fname not in rtype_alt.fieldNames():
                    continue  # attribute nowhere in the document: no match
                tcol = F.col(f"_row.`{fname}`").cast("string")
                cond = tcol.isNotNull() & (tcol == arm["value"])
            else:
                cond = F.lit(True)  # unconditional (default) arm
            adf = remaining.filter(cond)
            remaining = remaining.filter(~cond)
            ardr = _TableReader(
                name, arm["spec"], arm["column_paths"], arm["skipped"],
                parent, doc,
                wildcards=arm["wildcards"], mixed=arm["mixed"],
                target_ns=getattr(compiled, "target_namespace", ""),
                nsmap=nsmap0,
                globals_=getattr(compiled, "global_elements",
                                 frozenset()),
            )
            ardr.walk(rtype_alt, "_row.", ())
            for vcond, sel in ardr.struct_viols:
                parts.append(
                    adf.filter(vcond).select(
                        F.lit(doc).alias("conv_id"), *sel
                    )
                )
            flat_a = (
                adf.select(*[
                    (ardr.extract[c.name] if c.name in ardr.extract
                     else F.lit(None).cast("string")).alias(c.name)
                    for c in arm["spec"].columns
                ])
                .withColumn(spec.scope_col, F.lit(doc))
                .withColumn(spec.order_col,
                            F.monotonically_increasing_id())
            )
            plan_a = _plan(src, compiled, ("alt", name, ai), arm["spec"])
            parts.append(validate(flat_a, plan_a).violations)
        rows = remaining

    rdr = _TableReader(
        name, spec,
        compiled.column_paths.get(name, {}),
        compiled.skipped_paths.get(name, ()),
        parent, doc,
        wildcards=getattr(compiled, "wildcards", {}).get(name, ()),
        mixed=getattr(compiled, "mixed_paths", {}).get(name, frozenset()),
        target_ns=getattr(compiled, "target_namespace", ""),
        nsmap=nsmap0,
        globals_=getattr(compiled, "global_elements", frozenset()),
    )
    rtype_row = rows.schema["_row"].dataType
    if isinstance(rtype_row, T.StructType):
        rdr.walk(rtype_row, "_row.", ())
    else:
        # structureless rows (empty elements / bare text): nothing to walk;
        # the element's own text maps to a ()-path column when one exists
        own = next(
            (col for col, p in compiled.column_paths.get(name, {}).items()
             if tuple(p) == ()), None,
        )
        if own is not None:
            rdr.extract[own] = F.col("_row").cast("string")

    for cond, sel in rdr.struct_viols:
        parts.append(
            rows.filter(cond).select(F.lit(doc).alias("conv_id"), *sel)
        )

    flat = rows.select(*[
        (rdr.extract[c.name] if c.name in rdr.extract
         else F.lit(None).cast("string")).alias(c.name)
        for c in spec.columns
    ])
    flat = (
        flat.withColumn(spec.scope_col, F.lit(doc))
        # stable row id (partition-prefixed, NOT 0..n-1): enough for the
        # Occurs counts compile_xsd emits; schemas with ordered model
        # checks should land in parquet with a real order key
        .withColumn(spec.order_col, F.monotonically_increasing_id())
    )
    # substitution members merge into the head table (shared columns) so
    # occurrence bounds and identities see head + member rows together
    for fm in member_flats:
        flat = flat.unionByName(fm.select(
            *[
                (F.col(c.name) if c.name in fm.columns
                 else F.lit(None).cast("string")).alias(c.name)
                for c in spec.columns
            ],
            F.col(spec.scope_col), F.col(spec.order_col),
        ))
    return flat, parts


def _external_keyref_program(compiled, ext) -> tuple:
    """``(keyref program, last-occurrence Columns or None)`` of one
    cross-table keyref.  A key declared ON a single element propagates
    upward last-sibling-override (collection3bis): only the final
    occurrence per document scope is a visible key, picked by
    ``(row_number over scope by order desc, == 1)``."""
    last = None
    if getattr(ext, "last_wins", False):
        from pyspark.sql import Window

        spec_k = compiled.specs[ext.key_table]
        w = Window.partitionBy(spec_k.scope_col).orderBy(
            F.col(spec_k.order_col).desc()
        )
        last = (F.row_number().over(w), F.col("_rn") == 1)
    return keyref_program(ext.keyref, ext.table, cross=True), last


def xml_instance_tables(
    spark: SparkSession,
    xml_path: str,
    xsd_source,
    prefix: Optional[str] = None,
    base_dir: Optional[str] = None,
) -> dict:
    """Decode an instance to its flat tables: ``{row element: DataFrame}``.

    The engine's ``schema.decode`` / ``to_dict`` analogue (documents.py:
    230-376): same reader and path-walk as :func:`validate_xml_instance`,
    returning the flattened string-typed tables (run ``plans/decode.decode``
    on them for value-space typing) instead of violations.
    """
    compiled: CompiledXsd = (
        xsd_source if isinstance(xsd_source, CompiledXsd)
        else compile_xsd(xsd_source, base_dir=base_dir)
    )
    src = _Document(spark, xml_path, prefix)
    out: dict = {}
    for name in sorted(compiled.specs):
        flat, _parts = _flatten_one(src, compiled, name)
        if flat is not None:
            out[name] = flat
    return out


def land_xml_to_parquet(
    spark: SparkSession,
    xml_path: str,
    xsd_source,
    out_dir: str,
    prefix: Optional[str] = None,
    base_dir: Optional[str] = None,
) -> dict:
    """Land an instance's flat tables as parquet: ``{row element: path}``.

    The production recipe for multi-GB instances (module docstring): decode
    once with the XML reader, land each row-element table columnar, then
    validate TABULARLY — ``validate(spark.read.parquet(p), compiled.specs
    [name])`` — so every later pass is a scan-parallel parquet read with
    pushdown instead of re-parsing XML.  Cross-table keyrefs run against
    the landed key table (broadcast/hash join, identities.py:317-334)."""
    compiled: CompiledXsd = (
        xsd_source if isinstance(xsd_source, CompiledXsd)
        else compile_xsd(xsd_source, base_dir=base_dir)
    )
    paths: dict = {}
    for name, df in xml_instance_tables(
        spark, xml_path, compiled, prefix=prefix
    ).items():
        p = os.path.join(out_dir, name)
        df.write.mode("overwrite").parquet(p)
        paths[name] = p
    return paths


def validate_xml_instance(
    spark: SparkSession,
    xml_path: str,
    xsd_source,
    table: Optional[str] = None,
    prefix: Optional[str] = None,
    base_dir: Optional[str] = None,
    version: str = "1.0",
) -> DataFrame:
    """All violations for one instance document in the canonical violation
    schema (``conv_id`` = document label, ``path`` = element location).

    ``table`` restricts to one row element; default validates every table
    the schema defines plus the schema's cross-table keyrefs.  ``prefix``
    overrides namespace-prefix sniffing.  ``version`` selects the XSD
    processor version for schema compilation (vc:minVersion gating).
    """
    compiled: CompiledXsd = (
        xsd_source if isinstance(xsd_source, CompiledXsd)
        else compile_xsd(xsd_source, base_dir=base_dir, version=version)
    )
    if not compiled.specs:
        # an INAPPLICABLE schema (vc:minVersion gating, issue_349): no
        # declaration exists for the document root — one violation
        root_local = _sniff_root_local(xml_path)
        return spark.createDataFrame(
            [(os.path.basename(str(xml_path)), None, root_local,
              "structure:no-declaration", root_local,
              f"no declaration available for document root "
              f"'{root_local}' (schema inapplicable: "
              f"{'; '.join(compiled.restrictions) or 'empty schema'})")],
            "conv_id string, turn_idx bigint, path string, "
            "constraint_id string, offending_value string, reason string",
        )
    tables = [table] if table else sorted(compiled.specs)
    src = _Document(spark, xml_path, prefix)
    parts: list = []
    flats: dict = {}
    for name in tables:
        flat, table_parts = _flatten_one(src, compiled, name)
        parts.extend(table_parts)
        if flat is None:
            continue
        flats[name] = flat
        plan = _plan(src, compiled, ("table", name), compiled.specs[name])
        parts.append(validate(flat, plan).violations)

    # cross-table keyrefs (identities.py:317-334 refer_path analogue)
    for i, ext in enumerate(compiled.external_keyrefs):
        if ext.table in flats and ext.key_table in flats:
            prog, last = _program(
                spark, compiled, ("keyref", i),
                lambda: _external_keyref_program(compiled, ext),
            )
            keys_df = flats[ext.key_table]
            if last is not None:
                keys_df = (
                    keys_df.withColumn("_rn", last[0])
                    .filter(last[1])
                    .drop("_rn")
                )
            parts.append(prog.bind(flats[ext.table], keys_df))

    if not parts:
        # a VALID document whose only row element is optional and absent:
        # zero violations in the canonical schema (mirrors decode's
        # empty-fields branch)
        return spark.createDataFrame(
            [],
            "conv_id string, turn_idx bigint, path string, "
            "constraint_id string, offending_value string, reason string",
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    collapse = _program(
        spark, compiled, "collapse", lambda: _collapse_program(compiled)
    )
    return collapse.bind(out)


def count_errors(
    spark: SparkSession, xml_path: str, xsd_source, **kwargs
) -> int:
    """The ``--errors=N`` number for one instance (testfiles factory)."""
    return validate_xml_instance(spark, xml_path, xsd_source, **kwargs).count()
